"""Pin the physical-plan lint mechanism (``tools/gate_plans.py lint``).

The full 551-gate audit runs via ``python tools/gate_plans.py lint
<sf_dir>`` (same budget class as check_oracle, not a pytest default);
these tests pin the CLASSIFIER so the audit's acceptance rules can't
silently rot:

- an unbounded BroadcastNestedLoopJoin / CartesianProduct (FileScan on
  both sides, no bounding node) is flagged;
- the idiomatic 1-row scalar-attach cross join (IdentityBroadcastMode
  over a grouping-keyless aggregate) is accepted;
- blockrank's inter-block ``_blk`` prefix join is accepted (<=32 rows
  per side by construction);
- limits / LocalTableScan / scalar subqueries bound a side;
- row-at-a-time BatchEvalPython is flagged, Arrow paths are not, and
  BatchEvalPythonUDTF is classified separately.

Plus one LIVE check: a handful of representative gates (the scalar
attach, a blockrank consumer, an allowlisted UDTF) audit clean against
the real planner, so a Spark upgrade that changes node names breaks
loudly here rather than silently in the tool.
"""

from __future__ import annotations

from tools.gate_plans import ALLOW, _indent, audit_plan, lint


def _plan(*lines: str) -> str:
    return "\n".join(lines)


class TestClassifier:
    def test_unbounded_bnlj_flagged(self):
        plan = _plan(
            "BroadcastNestedLoopJoin BuildRight, Cross",
            ":- FileScan parquet [a#1]",
            "+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]",
            "   +- FileScan parquet [b#2]",
        )
        assert audit_plan(plan) == {"BroadcastNestedLoopJoin": 1}

    def test_unbounded_cartesian_flagged(self):
        plan = _plan(
            "CartesianProduct (a#1 < b#2)",
            ":- FileScan parquet [a#1]",
            "+- FileScan parquet [b#2]",
        )
        assert audit_plan(plan) == {"CartesianProduct": 1}

    def test_scalar_attach_accepted(self):
        plan = _plan(
            "BroadcastNestedLoopJoin BuildRight, Cross",
            ":- FileScan parquet [a#1]",
            "+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]",
            "   +- HashAggregate(keys=[], functions=[min(x#3)])",
            "      +- Exchange SinglePartition",
            "         +- FileScan parquet [x#3]",
        )
        assert audit_plan(plan) == {}

    def test_blockrank_blk_join_accepted(self):
        plan = _plan(
            "BroadcastNestedLoopJoin BuildRight, LeftOuter, (_blk_b#4 < _blk#5)",
            ":- HashAggregate(keys=[_blk#5], functions=[])",
            ":  +- FileScan parquet [v#6]",
            "+- BroadcastExchange IdentityBroadcastMode, [plan_id=2]",
            "   +- HashAggregate(keys=[_blk_b#4], functions=[sum(cnt#7L)])",
            "      +- FileScan parquet [cnt#7L]",
        )
        assert audit_plan(plan) == {}

    def test_limit_bounds_a_side(self):
        plan = _plan(
            "BroadcastNestedLoopJoin BuildRight, Cross",
            ":- FileScan parquet [a#1]",
            "+- BroadcastExchange IdentityBroadcastMode, [plan_id=3]",
            "   +- GlobalLimit 10",
            "      +- FileScan parquet [b#2]",
        )
        assert audit_plan(plan) == {}

    def test_local_table_scan_bounds_a_side(self):
        plan = _plan(
            "CartesianProduct",
            ":- FileScan parquet [a#1]",
            "+- LocalTableScan [q#2]",
        )
        assert audit_plan(plan) == {}

    def test_row_udf_flagged_arrow_not(self):
        assert audit_plan("BatchEvalPython [f(x#1)]") == {"BatchEvalPython": 1}
        assert audit_plan("ArrowEvalPython [f(x#1)]") == {}
        assert audit_plan("MapInPandas f(x#1)") == {}
        assert audit_plan("BatchEvalPythonUDTF tok(x#1)") == {
            "BatchEvalPythonUDTF": 1
        }

    def test_nested_join_audited_independently(self):
        # an accepted outer join must not mask an unbounded inner one
        plan = _plan(
            "BroadcastNestedLoopJoin BuildRight, Cross",
            ":- BroadcastNestedLoopJoin BuildRight, Cross",
            ":  :- FileScan parquet [a#1]",
            ":  +- BroadcastExchange IdentityBroadcastMode, [plan_id=4]",
            ":     +- FileScan parquet [b#2]",
            "+- BroadcastExchange IdentityBroadcastMode, [plan_id=5]",
            "   +- HashAggregate(keys=[], functions=[count(1)])",
            "      +- FileScan parquet [c#3]",
        )
        assert audit_plan(plan) == {"BroadcastNestedLoopJoin": 1}


def test_allowlist_entries_reference_registered_gates():
    from python_tool_setup_spark.queries import all_queries

    names = set(all_queries())
    for (_, gate), reason in ALLOW.items():
        assert gate in names, f"allowlist references unknown gate {gate}"
        assert len(reason) > 10, f"allowlist entry for {gate} needs a reason"


def test_live_representative_gates_audit_clean(spark, sf_dir):
    """Real planner smoke: these shapes must stay clean/classified."""
    report, fails = lint(
        sf_dir,
        ["q71_mix_weights", "q306_token_waterfill", "q57_udtf",
         "q01_pricing_summary"],
    )
    assert fails == [], fails
    # the UDTF gate is present but allowlisted
    assert "BatchEvalPythonUDTF_allowed" in report.get("q57_udtf", {})


def test_indent_strips_codegen_stage_prefix():
    """ADVICE r8 (low): '*(3) ' vs '*(12) ' at the same tree depth must
    measure the same indent — the stage-id digit count is not depth —
    and a codegen-prefixed line must measure equal to a plain sibling
    at the same tree position."""
    assert _indent(":  +- *(3) HashAggregate") == _indent(
        ":  +- *(12) HashAggregate"
    )
    assert _indent("   +- *(7) Sort") == _indent("   +- Exchange")
    # deeper stays deeper
    assert _indent("   :  +- *(2) Filter") > _indent("   +- *(2) Filter")

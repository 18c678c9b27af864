"""Plan tools over the gate registry, one subcommand each.

- ``capture``: write ``.explain("formatted")`` for each gate into a
  directory (one ``<gate>.txt`` per gate) plus ``_summary.json`` of
  plan-shape stats (Exchange count, join strategies, Python-eval
  nodes, scan count).
- ``triage``: rank a captured plan directory by fan-out. Per gate it
  counts Exchange / BroadcastExchange nodes and per-SOURCE scan
  multiplicity (how many times one parquet file is instantiated in
  the plan), joins the quiet-machine floor seconds from
  ``tools/bench_floors.json``, and flags every gate at or above the
  triage threshold (>=8 Exchanges or any single source scanned >=3x).
- ``lint``: audit each gate's (initial, pre-AQE) executed plan for
  joins that would not survive a 100x scale-up and for row-at-a-time
  Python UDFs (rules below). Exit code 1 on any unexplained hit.
- ``profile``: split each gate's cost into DataFrame construction
  (Python + analysis) and physical planning; with named gates, also
  time three executions into a noop sink.

Lint rules:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an all-pairs
  compare is only acceptable when one side is PROVABLY bounded by a
  constant independent of data size. The lint walks each join node's
  subtree and accepts it when the broadcast/either side derives from:
    * a grouping-keyless aggregate ``HashAggregate(keys=[]`` /
      ``SortAggregate(key=[]`` — exactly one row (the idiomatic Spark
      "attach a global scalar" cross-join; O(n), not O(n*m));
    * a ``(Global|Local)Limit`` / ``TakeOrderedAndProject`` — bounded
      by the literal k;
    * a ``LocalTableScan`` / ``Scan OneRowRelation`` — driver-side
      literal constants (query batches, calendar dims);
    * a ``(Reused)Subquery`` — scalar subquery result.
  Anything else (a FileScan reaching the broadcast side with no
  bounding node above it) is a lint FAILURE unless allowlisted with a
  reason.
- ``BatchEvalPython`` (row-at-a-time Python UDF) — forbidden; the
  Arrow paths (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /
  BatchEvalPythonUDTF*) are exempt. ``BatchEvalPythonUDTF`` is the
  API-surface Python UDTF node: Spark's default UDTF evaluation is
  batch-pickled (the Arrow variant is conf-gated and changes type
  coercion); the three UDTF gates are allowlisted with that reason.

Every lint hit must either be fixed or carry an allowlist entry WITH A
REASON below; tests/test_plan_lint.py pins the classifier, so new
gates are auto-audited by re-running ``lint``.

Usage:
  python tools/gate_plans.py capture <out_dir> <sf_dir> [gate ...]
  python tools/gate_plans.py triage <plan_dir> [--json out.json]
  python tools/gate_plans.py lint <sf_dir> [gate ...] [--json out.json]
  python tools/gate_plans.py profile <sf_dir> [gate ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (pattern, gate) -> reason. A gate listed here may contain the node;
# every OTHER occurrence is a lint failure.
ALLOW: dict[tuple[str, str], str] = {
    ("BatchEvalPythonUDTF", "q57_udtf"):
        "Python UDTF API-surface gate; Spark's default UDTF eval node "
        "(Arrow variant is conf-gated and alters type coercion)",
    ("BatchEvalPythonUDTF", "q202_udtf_analyze"):
        "UDTF analyze() API-surface gate; same default-eval node",
    ("BatchEvalPythonUDTF", "q248_udtf_table_argument"):
        "UDTF TABLE-argument API-surface gate; same default-eval node",
}

_QUERY_BATCH = (
    "broadcast QUERY BATCH bounded by a pushed key-range filter "
    "(vec_id/doc_id < k, k<=20 by construction) x corpus — O(k*n); "
    "the corpus-scale paths are the LSH/IVF gates (q36/q41/q42)"
)
_CALENDAR = (
    "build side keyed on a CALENDAR domain (days/months of the time "
    "span, not data volume) — a date-dim broadcast; output is "
    "n_periods x n_offsets"
)
for _gate in ("q37_cosine_topk", "q102_filtered_search",
              "q104_hybrid_retrieval", "q154_ann_recall_at_10",
              "q185_ivf_incremental_update", "q260_knn_label_consistency",
              "q262_hard_negative_mining", "q42_ivf_ann"):
    ALLOW[("BroadcastNestedLoopJoin", _gate)] = _QUERY_BATCH
for _gate in ("q274_rolling_distinct_users", "q387_lead_lag_correlation",
              "q441_watermark_sweep_advisor", "q454_ljung_box_whiteness",
              "q479_ewma_control_chart", "q498_sliding_wau",
              "q519_seasonal_decomposition", "q527_rolling_correlation",
              "q534_runs_test"):
    ALLOW[("BroadcastNestedLoopJoin", _gate)] = _CALENDAR
ALLOW.update({
    ("BroadcastNestedLoopJoin", "q111_bloom_join"):
        "cross join against the 1-row aggregated bloom bitmask (cached "
        "build relation); condition-only membership probe",
    ("BroadcastNestedLoopJoin", "q324_ratio_metric_delta"):
        "per-arm scalar moment aggregates (2 experiment arms) cross join",
    ("BroadcastNestedLoopJoin", "q355_quantile_normalization"):
        "rank-range join against the global VALUE HISTOGRAM (distinct "
        "n_chars values + prefix bounds) — bounded by the value domain, "
        "orders smaller than row count",
    ("BroadcastNestedLoopJoin", "q446_tail_treatment_moments"):
        "build side grouped on the global row count n (single group -> "
        "1 row of percentile bounds)",
    ("BroadcastNestedLoopJoin", "q478_zone_map_clustering_depth"):
        "zone-map block overlap join: both sides are <=64 block "
        "summaries by construction (FLOOR(bef*64/n))",
    ("BroadcastNestedLoopJoin", "q507_group_sequential_obf"):
        "build side is the literal look-boundary grid (<=5 interim "
        "analysis dates)",
    ("BroadcastNestedLoopJoin", "q516_rank_biased_overlap"):
        "build side is the top-50 rank-filtered overlap list (r<=50)",
    ("BroadcastNestedLoopJoin", "q522_kendall_tau_b"):
        "both sides keyed on the (discount, quantity) VALUE LATTICE — "
        "TPC-H fixed domains (11 x 50), <=550 rows per side at any SF",
    ("CartesianProduct", "q424_simpson_reversal_detector"):
        "all-pairs over per-priority aggregates — o_orderpriority has 5 "
        "values, <=10 ordered pairs at any SF",
})

# Nodes that bound a subtree's cardinality by a data-size-independent
# constant: global aggregates (1 row), limits (k rows), driver-side
# literal relations, scalar subqueries.
_BOUNDED = re.compile(
    r"HashAggregate\(keys=\[\]"
    r"|SortAggregate\(key=\[\]"
    r"|ObjectHashAggregate\(keys=\[\]"
    r"|HashAggregate\(keys=\[\d"  # literal constant grouping key -> 1 row
    r"|GlobalLimit|LocalLimit|TakeOrderedAndProject"
    r"|LocalTableScan|Scan OneRowRelation"
    # Driver-materialized relation (spark.createDataFrame over a python
    # list / pandas frame — the only source of ExistingRDD in this
    # package; there are no RDD hot paths): inherently bounded by
    # driver memory at build time, e.g. IVF centroid tables, literal
    # offset spines, look-boundary grids.
    r"|Scan ExistingRDD"
    r"|ReusedSubquery|Subquery "
)
_SCAN = re.compile(r"FileScan|BatchScan")
_RANGE = re.compile(r"Range \((-?\d+), (-?\d+)")
_RANGE_BOUND = 100_000  # a literal Range below this is a constant spine

# Operator nodes counted in capture's _summary.json.
_NODES = [
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "Window",
    "Sort",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Scan parquet",
]


def count_nodes(text: str, node: str) -> int:
    """Operator-tree occurrences of ``node`` in a formatted plan, like
    "+- Exchange (3)" / "+- SortMergeJoin Inner (7)" / "Scan parquet  (1)"
    — the node name may be followed by qualifiers before the id."""
    return len(
        re.findall(rf"^[\s+:*-]*{re.escape(node)}[^(\n]*\(\d+\)", text, re.M)
    )


def plan_stats(text: str) -> dict[str, int]:
    return {n: c for n in _NODES if (c := count_nodes(text, n))}


def gate_stats(text: str) -> dict:
    scans: dict[str, int] = {}
    for m in re.finditer(r"Location: \w+ \[file:([^\]]+)\]", text):
        src = os.path.basename(m.group(1))
        scans[src] = scans.get(src, 0) + 1
    return {
        "exchange": count_nodes(text, "Exchange"),
        "bexchange": count_nodes(text, "BroadcastExchange"),
        "reused_exchange": count_nodes(text, "ReusedExchange"),
        "scans": scans,
        "max_src_scans": max(scans.values(), default=0),
        "total_scans": sum(scans.values()),
    }


def _indent(line: str) -> int:
    """Tree depth of a plan line (count of leading tree-drawing chars).

    The WholeStageCodegen prefix ``*(N) `` is stripped FIRST: its digit
    count varies with the codegen stage id, so ``*(3) `` vs ``*(12) ``
    at the same tree depth would otherwise measure one char apart and
    skew subtree/branch splitting (ADVICE r8)."""
    line = re.sub(r"^([\s:+\-]*)\*\(\d+\) ", r"\1", line)
    m = re.match(r"[\s:+\-*()0-9]*", line)
    return len(m.group(0)) if m else 0


def _subtree(lines: list[str], i: int) -> list[str]:
    """Lines of the subtree rooted at lines[i] (by indentation)."""
    d = _indent(lines[i])
    out = [lines[i]]
    for ln in lines[i + 1:]:
        if not ln.strip() or _indent(ln) <= d:
            break
        out.append(ln)
    return out


def _join_is_bounded(lines: list[str], i: int) -> bool:
    """True if the join at lines[i] has a provably bounded side.

    Walk the join's subtree; a side is bounded when a _BOUNDED node
    appears above (shallower than or at the first occurrence of) any
    scan in that side. We approximate sides by scanning the subtree in
    order: for each branch start (':-' = left, last '+-' = right), we
    check whether a bounding node precedes the first unbounded scan.
    """
    # blockrank's inter-block prefix join: both sides are per-block
    # aggregates over the reserved ``_blk`` column, whose domain is
    # capped at ``n_blocks`` (default 32) by construction
    # (operators/blockrank.py:421,455-464) — <=32 rows per side at any
    # data size.
    if "_blk" in lines[i]:
        return True
    sub = _subtree(lines, i)[1:]
    if not sub:
        return False
    # Split into the two child branches by indentation of branch roots.
    roots = [j for j, ln in enumerate(sub)
             if _indent(ln) == min(_indent(x) for x in sub if x.strip())]
    if len(roots) < 2:
        branches = [sub]
    else:
        branches = [sub[roots[0]:roots[1]], sub[roots[1]:]]
    def _line_kind(ln: str) -> str | None:
        if _BOUNDED.search(ln):
            return "bounded"
        m = _RANGE.search(ln)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
            return "bounded" if hi - lo <= _RANGE_BOUND else "scan"
        if _SCAN.search(ln):
            return "scan"
        return None

    for br in branches:
        kind = next((k for ln in br if (k := _line_kind(ln))), None)
        if kind == "bounded":
            return True  # this side's cardinality is a constant
    return False


def audit_plan(plan: str) -> dict[str, int]:
    """Return {pattern: count} of UNBOUNDED occurrences in a plan string."""
    lines = plan.splitlines()
    hits: dict[str, int] = {}
    for i, ln in enumerate(lines):
        for pat in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if pat in ln and not _join_is_bounded(lines, i):
                hits[pat] = hits.get(pat, 0) + 1
        if "BatchEvalPythonUDTF" in ln:
            hits["BatchEvalPythonUDTF"] = hits.get("BatchEvalPythonUDTF", 0) + 1
        elif "BatchEvalPython" in ln:
            hits["BatchEvalPython"] = hits.get("BatchEvalPython", 0) + 1
    return hits


def walk_gates(
    app: str, only: list[str] | None, visit: Callable
) -> dict[str, object]:
    """Call ``visit(spark, query)`` for each named gate (default: every
    registered gate, sorted) and return {gate: result}; a gate that
    raises maps to its exception. Each gate's cache is cleared before
    the next one is built."""
    from python_tool_setup_spark.queries import all_queries
    from python_tool_setup_spark.session import get_spark

    spark = get_spark(app)
    queries = all_queries()
    out: dict[str, object] = {}
    for name in only or sorted(queries):
        try:
            out[name] = visit(spark, queries[name])
        except Exception as exc:  # noqa: BLE001
            out[name] = exc
        finally:
            spark.catalog.clearCache()
    return out


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def capture(out_dir: str, sf_dir: str, only: list[str] | None) -> None:
    os.makedirs(out_dir, exist_ok=True)

    def visit(spark, q):
        text = _explain(spark, q.spark_fn(spark, sf_dir))
        with open(os.path.join(out_dir, f"{q.name}.txt"), "w") as fh:
            fh.write(text)
        return plan_stats(text)

    summary = {
        name: {"error": str(res)[:200]} if isinstance(res, Exception) else res
        for name, res in walk_gates("capture-plans", only, visit).items()
    }
    with open(os.path.join(out_dir, "_summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(f"captured {len(summary)} plans -> {out_dir}")


def triage(plan_dir: str, out_json: str | None) -> None:
    floors = {}
    fp = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_floors.json"
    )
    try:
        with open(fp) as fh:
            floors = json.load(fh).get("gates", {})
    except (OSError, ValueError):
        pass
    rows = {}
    for fn in sorted(os.listdir(plan_dir)):
        if not fn.endswith(".txt"):
            continue
        name = fn[:-4]
        with open(os.path.join(plan_dir, fn)) as fh:
            st = gate_stats(fh.read())
        st["floor"] = floors.get(name, 0.0)
        st["triage"] = st["exchange"] >= 8 or st["max_src_scans"] >= 3
        rows[name] = st
    flagged = {n: s for n, s in rows.items() if s["triage"]}
    order = sorted(
        flagged,
        key=lambda n: (
            -flagged[n]["floor"],
            -flagged[n]["exchange"],
            -flagged[n]["max_src_scans"],
        ),
    )
    print(f"{len(rows)} gates, {len(flagged)} flagged for triage")
    print(f"{'gate':42s} {'floor':>6s} {'Ex':>3s} {'BEx':>4s} {'reuse':>5s} {'maxScan':>7s}")
    for n in order:
        s = flagged[n]
        print(
            f"{n:42s} {s['floor']:6.2f} {s['exchange']:3d} "
            f"{s['bexchange']:4d} {s['reused_exchange']:5d} {s['max_src_scans']:7d}"
        )
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(rows, fh, indent=1, sort_keys=True)


def lint(sf_dir: str, only: list[str] | None = None):
    """Audit each gate's executed plan; return (report, fails)."""

    def visit(spark, q):
        df = q.spark_fn(spark, sf_dir)
        return audit_plan(df._jdf.queryExecution().executedPlan().toString())

    report: dict[str, dict] = {}
    fails: list[str] = []
    for name, hits in walk_gates("plan-lint", only, visit).items():
        row: dict = {}
        if isinstance(hits, Exception):
            row["error"] = f"{type(hits).__name__}: {hits}"
            hits = {}
        for pat, n in hits.items():
            row[pat] = n
            if (pat, name) in ALLOW:
                row[f"{pat}_allowed"] = ALLOW[(pat, name)]
            else:
                fails.append(f"{name}: {pat} x{n}")
        if row:
            report[name] = row
    return report, fails


def profile(sf_dir: str, only: list[str] | None) -> None:
    def warm(spark, q):
        q.spark_fn(spark, sf_dir).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()

    def visit(spark, q):
        t0 = time.time()
        df = q.spark_fn(spark, sf_dir)
        t_build = time.time() - t0
        # full analysis + optimization + physical planning, no execution
        t0 = time.time()
        _explain(spark, df)
        t_plan = time.time() - t0
        t_execs = []
        for _ in range(3 if only else 0):
            t0 = time.time()
            q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t_execs.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        return {
            "gate": q.name,
            "build_s": round(t_build, 3),
            "plan_s": round(t_plan, 3),
            "exec_s": t_execs,
        }

    walk_gates("profile-gates", ["q01_pricing_summary"], warm)
    rows = []
    for name, res in walk_gates("profile-gates", only, visit).items():
        if isinstance(res, Exception):
            print(f"{name}: FAILED {res}")
        else:
            rows.append(res)
    rows.sort(key=lambda r: -(r["build_s"] + r["plan_s"]))
    for r in rows[: 40 if not only else len(rows)]:
        print(json.dumps(r))
    print(
        json.dumps(
            {
                "n": len(rows),
                "total_build_s": round(sum(r["build_s"] for r in rows), 1),
                "total_plan_s": round(sum(r["plan_s"] for r in rows), 1),
            }
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser(description="Plan tools over the gate registry.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("capture", help="write each gate's formatted plan + _summary.json")
    p.add_argument("out_dir")
    p.add_argument("sf_dir")
    p.add_argument("gates", nargs="*")
    p = sub.add_parser("triage", help="rank a captured plan corpus by fan-out")
    p.add_argument("plan_dir", help="directory of <gate>.txt plans")
    p.add_argument("--json", dest="out_json", help="also write per-gate stats here")
    p = sub.add_parser("lint", help="audit plans for unbounded joins and row UDFs")
    p.add_argument("sf_dir")
    p.add_argument("gates", nargs="*")
    p.add_argument("--json", dest="out_json", help="also write the report here")
    p = sub.add_parser("profile", help="time construction and planning per gate")
    p.add_argument("sf_dir")
    p.add_argument("gates", nargs="*")
    args = ap.parse_args()

    if args.cmd == "capture":
        capture(args.out_dir, args.sf_dir, args.gates)
    elif args.cmd == "triage":
        triage(args.plan_dir, args.out_json)
    elif args.cmd == "profile":
        profile(args.sf_dir, args.gates)
    else:
        report, fails = lint(args.sf_dir, args.gates)
        if args.out_json:
            with open(args.out_json, "w") as fh:
                json.dump({"report": report, "fails": fails}, fh, indent=1)
        print(json.dumps(report, indent=1))
        print(f"\n{len(report)} gates with flagged nodes; {len(fails)} UNEXPLAINED")
        for f in fails:
            print("FAIL", f)
        sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()

"""Gate workloads: registered queries built and executed with a noop write.

Each gate list is frozen here by full name. The registry order
(``all_queries()``) rotates between releases, so it is never used to pick
gates; a name missing from the registry stops the run.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

from spans import Spans

# Overhead-bound: sf0.1 gates from the every-22nd-name probe sample of the
# sorted registry. Four of the five pin intermediates eagerly during
# construction, so construction jobs and per-job cost dominate and the data
# path does little. Gates run in this order, once per pass. An odd count
# keeps the median op inside one gate's cluster of latencies.
GATES_SF01 = (
    "q01_pricing_summary",
    "q99_text_source",
    "q112_heavy_hitters",
    "q194_snapshot_metadata",
    "q454_ljung_box_whiteness",
)

# Data-bound: sf1 gates whose time goes to scans, aggregation, per-row
# compute and the pandas/Arrow path rather than to construction.
GATES_SF1 = (
    "q01_pricing_summary",
    "q40_simhash_neardup",
    "q234_pandas_api",
)

# Fixture generation takes ~3 s at sf0.1 and ~25 s (362 MB) at sf1, so the
# seed picks one of a few fixture variants per scale, each generated once per
# checkout: fixture seed 42 + seed % variants (seed 0 reproduces the sf0.1
# test data).
FIXTURE_VARIANTS = {0.1: 4, 1.0: 2}


def registry(names):
    """Map each frozen name to its registered Query; fail on a missing one."""
    from python_tool_setup_spark.queries import all_queries

    queries = all_queries()
    missing = [n for n in names if n not in queries]
    if missing:
        raise SystemExit(f"gates missing from the registry: {missing}")
    # the oracle's row count is each gate's fixed unit of delivered work
    unchecked = [n for n in names if queries[n].oracle is None]
    if unchecked:
        raise SystemExit(f"gates without a DuckDB oracle: {unchecked}")
    return {n: queries[n] for n in names}


def ensure_fixtures(root: str, cache: str, sf: float, seed: int) -> tuple[str, float]:
    """Generate the fixture tables for ``sf`` and ``seed`` once per checkout.

    The cache is keyed on the generator's source too, so a changed
    generator regenerates. Returns ``(sf_dir, seconds spent generating)``;
    0 when cached.
    """
    generator = os.path.join(root, "tools", "make_fixtures.py")
    with open(generator, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    seed_dir = os.path.join(cache, "fixtures", f"sf{sf:g}", f"seed{seed}-{digest}")
    sf_dir = os.path.join(seed_dir, f"sf{sf:g}")
    done = os.path.join(seed_dir, "complete")
    spent = 0.0
    if not os.path.exists(done):
        t0 = time.perf_counter()
        subprocess.run(
            [
                sys.executable,
                generator,
                seed_dir,
                "--sf",
                f"{sf:g}",
                "--seed",
                str(seed),
            ],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        open(done, "w").close()
        spent = time.perf_counter() - t0
    return sf_dir, spent


class GateWorkload:
    """One op = build one gate and execute it with a ``noop`` write."""

    top_spans = ("queries.build", "spark.exec")

    def __init__(self, name: str, sf: float, gates, pass_s: float):
        self.name = name
        self.sf = sf
        self.gates = tuple(gates)
        self.pass_s = pass_s  # one warm pass on a 4-core box, for sizing
        self.failed_gates: dict[str, str] = {}
        self.check_s: dict[str, float] = {}
        self.rows: dict[str, int] = {}

    def fixture_seed(self, seed: int) -> int:
        return 42 + seed % FIXTURE_VARIANTS[self.sf]

    def make_inputs(self, root: str, cache: str, seed: int, passes: int) -> dict:
        self.queries = registry(self.gates)
        self.sf_dir, gen_s = ensure_fixtures(
            root, cache, self.sf, self.fixture_seed(seed)
        )
        return {"fixture_seed": self.fixture_seed(seed), "gen_s": gen_s}

    def prepare(self, spark) -> None:
        """Nothing beyond the session: each gate reads its own tables."""

    def warm(self, spark) -> None:
        """One untimed pass over every gate, by the same code as the timed ops.

        A gate that raises here raises again when timed, and counts there.
        """
        for gate in self.gates:
            try:
                self.run_op(spark, f"warm.{gate}", gate, Spans(), False)
            except Exception as exc:  # noqa: BLE001 — a failing gate is a result
                print(f"warm-up of {gate} raised {type(exc).__name__}: {exc}", file=sys.stderr)

    def ops(self, passes: int) -> list[str]:
        """The frozen list, in order, once per pass."""
        return list(self.gates) * passes

    def run_op(self, spark, group: str, gate: str, spans, trace: bool) -> bool:
        from python_tool_setup_spark.operators.blockrank import release_pins

        sc = spark.sparkContext
        sc.setJobGroup(f"{group}.build", gate)
        with spans.span("queries.build"):
            df = self.queries[gate].spark_fn(spark, self.sf_dir)
        if trace:
            with spans.span("trace.catalyst"):
                _record_analysis(df, spans)
        sc.setJobGroup(f"{group}.exec", gate)
        try:
            with spans.span("spark.exec"):
                df.write.format("noop").mode("overwrite").save()
        finally:
            release_pins()
        return True

    def after_op(self, spark, i: int, spans) -> None:
        """No per-op layer counters beyond the job groups."""

    def check(self, spark, ops) -> set[int]:
        """Check every gate against its DuckDB oracle, after the timed pass.

        Records each gate's oracle row count. Returns the indices of the ops
        whose gate failed its check.
        """
        from python_tool_setup_spark.operators.blockrank import release_pins
        from python_tool_setup_spark.testing import compare_query, oracle_connection

        sc = spark.sparkContext
        con = oracle_connection(self.sf_dir)
        try:
            for name in self.gates:
                query = self.queries[name]
                sc.setJobGroup(f"check.{name}", name)
                t0 = time.perf_counter()
                try:
                    reason = compare_query(spark, con, query, self.sf_dir)
                    self.rows[name] = len(con.execute(query.oracle).fetchall())
                except Exception as exc:  # noqa: BLE001 — a failing gate is a result
                    reason = f"raised {type(exc).__name__}: {exc}"[:300]
                finally:
                    release_pins()
                self.check_s[name] = round(time.perf_counter() - t0, 3)
                if reason is not None:
                    self.failed_gates[name] = reason
        finally:
            con.close()
        return {i for i, gate in enumerate(ops) if gate in self.failed_gates}

    def op_rows(self, op) -> int:
        """Rows the gate delivers: its oracle's row count on this fixture
        (0 when the check raised)."""
        return self.rows.get(op, 0)

    def layer_metrics(self) -> dict[str, float]:
        return {}


def _record_analysis(df, spans) -> None:
    """Add the eager analysis time of ``df``'s own plan to ``spans``.

    Reads the tracker only, so nothing is optimized or planned here; the
    later phases come from the query executions that run (``phases.py``).
    """
    phases = df._jdf.queryExecution().tracker().phases()
    if phases.contains("analysis"):
        spans.add("catalyst.analysis", phases.apply("analysis").durationMs() / 1000.0)

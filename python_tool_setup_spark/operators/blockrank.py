"""Ordered-prefix aggregates and ranks with ZERO unpartitioned windows.

``ROW_NUMBER() OVER (ORDER BY ...)`` / ``SUM(x) OVER (ORDER BY ...)``
without a PARTITION BY funnels every row through one task
(``WindowExec: No Partition Defined``).  At 100 TB that single task is
the job.  This module provides the same semantics as a three-step
distributed decomposition:

1. assign every row a BLOCK id that respects the sort order;
2. aggregate per block (tiny: ``n_blocks`` rows), then compute each
   block's *prior-blocks* aggregate with a triangular broadcast
   self-join — no window at all on the metadata table;
3. join the prior-block offsets back (broadcast) and finish with a
   window PARTITIONED by block, so no task ever materializes more than
   one block.

Block assignment — the correctness-critical part. The id must be
IDENTICAL for the per-block-totals pass, the per-row pass, and any
re-execution of the output lineage (self-joins, AQE re-plans). Two
strategies:

- **Deterministic width buckets** (default when the leading sort
  column is numeric / date / timestamp / boolean): ``_blk`` is a pure
  expression of the row — ``floor((proxy - min) * n / span)`` against
  a broadcast min/max aggregate — so NOTHING about physical execution
  can change it. Blocks are equal-width in the value domain, not
  equal-count; a skewed leading key degrades balance but never
  correctness (every current caller's leading key is near-uniform or
  histogram-bounded; the pinned range layout below keys its
  partitioner on the FULL sort tuple and therefore splits a hot value
  by the tiebreakers — both properties are pinned by planted-skew
  tests in tests/test_blockrank.py). NULL leading keys go to the
  first block under ``asc`` (Spark sorts NULLS FIRST ascending) and
  the last block under ``desc`` (NULLS LAST); NaN float/double keys
  go to the opposite end (Spark sorts NaN greater than any value).
- **Pinned range layout** (leading sort column is a string or an
  opaque expression): ``repartitionByRange`` + ``spark_partition_id``
  gives equal-count blocks, but the range boundaries are re-sampled
  per physical execution and exchange reuse is NOT guaranteed to
  unify the passes (measured: intermittent wrong prefixes at sf0.01
  under AQE) — so this path always pins ONE materialization via an
  eager ``localCheckpoint`` (RDD-backed, so storage is released by
  the ContextCleaner when the output is garbage-collected — a plain
  ``persist`` would sit in the CacheManager forever unless somebody
  remembered to unpersist, which across a 500-gate sweep nobody
  does).

LINEAGE CONTRACT (``cache_input``): the decomposition executes its
input lineage up to three times (bounds aggregate, per-block totals,
final join-back). For a bare pruned scan that is cheaper than caching;
for anything with a join/aggregate/window upstream — and especially
for CHAINED prefix calls — re-execution multiplies upstream work
~3x per link (the q323 RFM incident: three chained calls -> ~4^3
recompute explosion, 62 s for a 5 s query). So by default
(``cache_input=None``) the input is pinned with an eager
``localCheckpoint`` whenever its analyzed plan is anything beyond
scan/filter/project OR contains a nondeterministic expression
(rand/uuid/monotonically_increasing_id/shuffle/... — a Project over
rand() is node-trivial but re-executes to DIFFERENT rows; limit
without total order and sample are non-trivial NODES and pin that
way), closing the corrupt-prefix risk of re-executed nondeterminism.
An already-persisted input is never re-pinned (checked for both the
default and ``cache_input=True``). Pass ``cache_input=False`` only
when the caller has already materialized the input some other way or
accepts trivial-scan re-reads; ``True`` forces pinning a trivial scan.

Every pin is an eager ``localCheckpoint`` (see :func:`pin`). Each
:func:`prefix_agg` call logs its input-pin decision and the reason at
DEBUG level.

Exactness: sums here are over integers (the repo's engine-exact
posture quantizes before summing), so regrouping the addition is
bit-identical to the single-partition plan; min/max are order-free.

The reference has no distributed-ranking surface at all (its whole
computational content is an ETL framework, framework.py:1-351); this
is the Spark-native scale path for the rank/cumsum family the query
gates need.

Reserved column names: ``_blk``, ``_p_<alias>``, ``_brk_mn``,
``_brk_mx`` (the bound columns are renamed away from anything a
caller plausibly owns).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["prefix_agg", "prefix_rank"]

_KINDS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.BooleanType,
)

_FLOAT_TYPES = (T.FloatType, T.DoubleType)

_log = logging.getLogger(__name__)

# Analyzed-plan node names whose re-execution is cheap AND
# deterministic: a pruned scan plus row-local transforms. Anything
# else (joins, aggregates, windows, generators, python maps, limits,
# samples, set ops...) is either expensive to run three times or not
# guaranteed to reproduce the same rows — both get pinned.
_TRIVIAL_NODES = (
    "Project",
    "Filter",
    "Relation",
    "Range",
    "LogicalRDD",
    "LocalRelation",
    "SubqueryAlias",
    "View",
    "Repartition",
    "RepartitionByExpression",
)

# Expression text that marks a plan NON-reproducible across the width
# path's three executions (bounds, totals, join-back) even when every
# NODE is a trivial Project/Filter: re-executed nondeterminism can
# yield different rows/values per pass and silently corrupt prefixes.
# current_timestamp()/now() are consistent WITHIN one query but the
# bounds aggregate is a SEPARATE execution from the main plan, so they
# count too. A false positive (e.g. the token inside a string literal)
# only costs one pin, never correctness.
_NONDETERMINISTIC_TOKENS = (
    "rand(",
    "randn(",
    "random(",
    "uuid()",
    "shuffle(",
    "monotonically_increasing_id()",
    "current_timestamp()",
    "current_date(",
    "now()",
    "input_file_name()",
)


def _sort_exprs(order: list[tuple]) -> list[Column]:
    out = []
    for col, direction in order:
        c = F.col(col) if isinstance(col, str) else col
        out.append(c.desc() if direction == "desc" else c.asc())
    return out


def _src(kind: str, col) -> Column:
    if kind == "count":
        return F.lit(1)
    return F.col(col) if isinstance(col, str) else col


def _proxy(df: DataFrame, order: list[tuple]):
    """A numeric, sort-monotone proxy of the leading order column, or
    None when one can't be derived deterministically."""
    col0, _ = order[0]
    if not isinstance(col0, str):
        return None
    try:
        dtype = df.schema[col0].dataType
    except KeyError:
        return None
    if isinstance(dtype, _NUMERIC_TYPES):
        return F.col(col0).cast("double")
    if isinstance(dtype, T.DateType):
        return F.datediff(F.col(col0), F.lit("1970-01-01")).cast(
            "double"
        )
    if isinstance(dtype, T.TimestampType):
        return F.unix_timestamp(F.col(col0)).cast("double")
    return None


def _leading_is_float(df: DataFrame, order: list[tuple]) -> bool:
    col0, _ = order[0]
    if not isinstance(col0, str):
        return False
    try:
        return isinstance(df.schema[col0].dataType, _FLOAT_TYPES)
    except KeyError:
        return False


def _is_persisted(df: DataFrame) -> bool:
    try:
        lvl = df.storageLevel
        return bool(lvl.useMemory or lvl.useDisk)
    except Exception:
        return False


def _plan_text(df: DataFrame) -> str | None:
    try:
        return df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None


def _pin_reason(df: DataFrame) -> str | None:
    """Why the width path must pin ``df``, or None when every node of
    the analyzed plan is a deterministic, cheap-to-re-execute
    scan/filter/project shape AND no expression in the plan is
    nondeterministic (a Project over rand()/uuid()/... is node-trivial
    but NOT re-execution-safe). On any doubt (unparseable plan, unknown
    node) returns a reason so the caller pins — wrong answer in that
    direction only costs one materialization, never correctness."""
    plan = _plan_text(df)
    if plan is None:
        return "uninspectable plan"
    lowered = plan.lower()
    if any(tok in lowered for tok in _NONDETERMINISTIC_TOKENS):
        return "nondeterministic plan"
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:")
        if not stripped:
            continue
        node = stripped.split(" ", 1)[0].split("[", 1)[0]
        if not node:
            continue
        if not any(node == t or node.startswith(t) for t in _TRIVIAL_NODES):
            return f"non-trivial plan: {node}"
    return None


def pin(df: DataFrame) -> DataFrame:
    """Materialize ONCE and truncate lineage with an eager
    ``localCheckpoint``. Its storage is RDD-backed, so the
    ContextCleaner drops it when the result is garbage-collected
    (``Dataset.persist`` would sit in the CacheManager until an
    explicit unpersist). A local checkpoint lives only on its executors
    and is NOT recomputable: executor loss or dynamic-allocation
    decommission fails the job (a documented Spark restriction)."""
    return df.localCheckpoint(eager=True)


def release_pins() -> int:
    """Release nothing and return 0. Pins are local checkpoints, which
    the ContextCleaner reclaims, so no pin is ever tracked; the
    function stays because ``perfbench/gates.py`` still calls it."""
    return 0


def _range_blocked(df: DataFrame, sort: list, n_blocks: int) -> DataFrame:
    """Pinned range layout: equal-count blocks from the sampled range
    exchange, pinned because the sampling is NOT stable across
    physical executions (and exchange reuse has been observed to miss
    intermittently under AQE, silently corrupting the prefixes).

    Skew note: the range partitioner keys on the FULL sort tuple, so a
    hot LEADING value (one key owning most rows) is still split across
    blocks by the tiebreaker columns (guide §2.5; planted-skew property
    tests in tests/test_blockrank.py)."""
    return pin(
        df.repartitionByRange(n_blocks, *sort).withColumn(
            "_blk", F.spark_partition_id()
        )
    )


def prefix_agg(
    df: DataFrame,
    order: list[tuple],
    aggs: dict[str, tuple],
    n_blocks: int = 32,
    cache_input: bool | None = None,
) -> DataFrame:
    """Attach EXCLUSIVE ordered-prefix aggregates to every row.

    ``order``: [(column_or_name, "asc"|"desc"), ...] — must be a total
    order over the rows (unique per row), otherwise tie rows split
    nondeterministically between "before" and "not before".
    ``aggs``: {out_alias: (kind, column_or_name_or_None)} with kind in
    {"sum", "count", "min", "max"} ("count" ignores the column).

    Each alias becomes the aggregate over the rows STRICTLY BEFORE the
    row in the order: sum/count give 0 on an empty prefix, min/max give
    NULL (matching ``rowsBetween(unboundedPreceding, -1)``).

    ``cache_input``: lineage contract — see the module docstring.
    None (default) pins non-trivial inputs once via eager
    localCheckpoint; True always pins; False never does (caller
    asserts the input is already persisted or a cheap scan).

    ``_blk``, ``_p_<alias>``, ``_brk_mn``, ``_brk_mx`` are reserved
    column names.
    """
    sort = _sort_exprs(order)
    proxy = _proxy(df, order)
    # The width path reads the input three times (bounds, totals,
    # join-back) — pin it once. The pinned-range path reads it exactly
    # ONCE into the checkpointed blocked layout, so pinning there would
    # be a pure second materialization.
    if proxy is None:
        decision, reason = "range layout", "leading key has no numeric proxy"
    elif _is_persisted(df):
        decision, reason = "skipped", "input already persisted"
    elif cache_input is False:
        decision, reason = "skipped", "cache_input=False"
    elif cache_input is True:
        decision, reason = "pinned", "cache_input=True"
    else:
        reason = _pin_reason(df)
        decision = "pinned" if reason else "skipped"
        reason = reason or "trivial scan"
    _log.debug("prefix_agg: %s (%s)", decision, reason)
    if decision == "pinned":
        df = pin(df)
    if proxy is not None:
        # Deterministic width buckets: _blk is a pure expression of
        # the row against a broadcast min/max — immune to exchange
        # re-sampling, AQE re-plans, and output-lineage re-execution.
        _, direction = order[0]
        # NaN would poison min/max (Spark's max treats NaN as the
        # largest double) and the bucket arithmetic; bounds are over
        # finite values only, NaN rows get an explicit end block.
        finite = (
            F.nanvl(proxy, F.lit(None).cast("double"))
            if _leading_is_float(df, order)
            else proxy
        )
        bounds = df.agg(
            F.min(finite).alias("_brk_mn"),
            F.max(finite).alias("_brk_mx"),
        )
        pos = (
            (F.col("_brk_mx") - proxy)
            if direction == "desc"
            else (proxy - F.col("_brk_mn"))
        )
        span = F.col("_brk_mx") - F.col("_brk_mn")
        core = F.when(
            span.isNull() | (span <= 0), F.lit(0)
        ).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(n_blocks - 1),
                    F.floor(pos * n_blocks / span),
                ),
            )
        )
        # Spark sort order: NULL first asc / last desc; NaN greater
        # than every value (last asc / first desc). Matching end
        # blocks keep the within-block window ordering global.
        null_blk = 0 if direction != "desc" else n_blocks - 1
        nan_blk = n_blocks - 1 if direction != "desc" else 0
        blk = F.when(proxy.isNull(), F.lit(null_blk))
        if _leading_is_float(df, order):
            blk = blk.when(F.isnan(proxy), F.lit(nan_blk))
        blk = blk.otherwise(core)
        blocked = (
            df.crossJoin(F.broadcast(bounds))
            .withColumn("_blk", blk.cast("int"))
            .drop("_brk_mn", "_brk_mx")
            .repartition(n_blocks, "_blk")
        )
    else:
        blocked = _range_blocked(df, sort, n_blocks)
    totals = blocked.groupBy("_blk").agg(
        *[_KINDS[k](_src(k, c)).alias(f"_t_{a}") for a, (k, c) in aggs.items()]
    )
    rhs = totals.select(
        F.col("_blk").alias("_blk_b"),
        *[F.col(f"_t_{a}").alias(f"_b_{a}") for a in aggs],
    )
    prior = (
        totals.select("_blk")
        .join(F.broadcast(rhs), F.col("_blk_b") < F.col("_blk"), "left")
        .groupBy("_blk")
        .agg(
            *[
                _KINDS[k](F.col(f"_b_{a}")).alias(f"_p_{a}")
                for a, (k, _) in aggs.items()
            ]
        )
    )
    w = Window.partitionBy("_blk").orderBy(*sort).rowsBetween(
        Window.unboundedPreceding, -1
    )
    out = blocked.join(F.broadcast(prior), "_blk")
    for a, (k, c) in aggs.items():
        run = _KINDS[k](_src(k, c)).over(w)
        if k in ("sum", "count"):
            expr = F.coalesce(F.col(f"_p_{a}"), F.lit(0)) + F.coalesce(
                run, F.lit(0)
            )
        elif k == "min":
            expr = F.least(F.col(f"_p_{a}"), run)
        else:
            expr = F.greatest(F.col(f"_p_{a}"), run)
        out = out.withColumn(a, expr)
    return out.drop("_blk", *[f"_p_{a}" for a in aggs])


def prefix_rank(
    df: DataFrame,
    order: list[tuple],
    alias: str = "rk",
    n_blocks: int = 32,
    cache_input: bool | None = None,
) -> DataFrame:
    """1-based ``ROW_NUMBER() OVER (ORDER BY ...)`` equivalent under a
    total order, with no unpartitioned window anywhere in the plan.
    See :func:`prefix_agg` for the block-assignment determinism and
    input-lineage (``cache_input``) contracts."""
    out = prefix_agg(
        df, order, {alias: ("count", None)}, n_blocks, cache_input=cache_input
    )
    return out.withColumn(alias, (F.col(alias) + 1).cast("long"))

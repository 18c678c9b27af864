"""Query registry: every operator from SURVEY.md §2 that is "done" has a
named entry here — a Spark callable ``(spark, sf_dir) -> DataFrame`` and
(when SQL-expressible) a DuckDB oracle string over the same tables.

The driver contract (/root/repo/__spark_entry__.py) consumes this via
``queries()`` / ``oracle_sql()``. Column names are aliased identically
on both sides; floating aggregates are rounded identically on both
sides; output timestamps are formatted to strings so engine timezone
representations can't diverge.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def _released(fn: Callable[[SparkSession, str], DataFrame]):
    """Release persist-mode blockrank pins from the PREVIOUS gate at
    entry to the next one (deferred release).

    Under ``spark.python_tool_setup.blockrank.pin=persist`` every pin
    lands in the CacheManager and stays there until an explicit
    ``release_pins()``; a chained caller that forgets leaks cache
    across a long sweep (r8 ADVICE). The r8 fix released in a finally
    at gate RETURN — but that fires before the returned DataFrame is
    ever materialized, so under persist mode every gate paid the eager
    pin cost and then recomputed the pinned subplan (up to ~4^k for k
    chained prefix links — the q323 incident class) at action time
    (r9 ADVICE). Deferring the release to the NEXT registry call keeps
    gate N's pins cached through gate N's materialization, which
    harnesses perform between registry calls, while still bounding the
    CacheManager to one gate's pins across a 551-gate sweep. Harnesses
    wanting eager cleanup after their own action call ``release_pins()``
    directly (bench.py does, per gate). Value-safe either way by the
    pin contract: persist-tracked pins are always DETERMINISTIC plans
    (nondeterministic pins upgrade to a reliable checkpoint or
    localCheckpoint inside ``blockrank.pin``), so a post-release read
    recomputes the same rows. Under the default localCheckpoint mode
    both the deferred release and the bound are no-ops (nothing is
    tracked; the ContextCleaner reclaims checkpoints on GC).
    """
    import functools

    from python_tool_setup_spark.operators.blockrank import release_pins

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_pins()  # previous gate's pins — materialized by now
        return fn(spark, sf_dir)

    return run


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(
            name=name, spark_fn=_released(fn), oracle=oracle, doc=doc
        )
        return fn

    return wrap


# The named (non-batch) gate modules, in registration order; every
# ``batchN`` module follows them, discovered from the package and
# imported in ascending N. Registration order is the order of
# ``_REGISTRY``, so a new ``batchN.py`` registers without edits here.
_NAMED_MODULES = (
    "relational", "llm", "streaming", "ingestion", "extras", "udfs",
    "maintenance", "pipeline", "versioned", "quality", "cleaning",
    "analytics", "corpus",
)


def _import_gate_modules() -> None:
    batches = sorted(
        (int(m.name[5:]), m.name)
        for m in pkgutil.iter_modules(__path__)
        if m.name.startswith("batch") and m.name[5:].isdigit()
    )
    for mod in (*_NAMED_MODULES, *(name for _, name in batches)):
        importlib.import_module(f"{__name__}.{mod}")


def all_queries() -> dict[str, Query]:
    """Every registered gate, in sample-rotation order.

    The official CORRECTNESS sample takes the FIRST 50 entries, so the
    order surfaces whatever still lacks an official green row:
      1. gates whose LATEST official row is a fail,
      2. gates never sampled in any recorded ``CORRECTNESS_r*.json``,
      3. already-green gates,
    each tier in registration order. Every query stays registered and
    locally oracle-verified regardless of position.
    """
    _import_gate_modules()
    sampled_ever: set[str] = set()
    latest_row: dict[str, dict] = {}
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        sampled_ever.update(rows.keys())
        for name, row in rows.items():
            if isinstance(row, dict):
                latest_row[name] = row  # later (sorted) rounds win

    def _is_green(row: dict) -> bool:
        return bool(
            row.get("rows_match")
            and row.get("schema_match", True)
            and (row.get("hash_match") is not False)
            and not row.get("err")
        )

    stale_fail = {
        k: v
        for k, v in _REGISTRY.items()
        if k in latest_row and not _is_green(latest_row[k])
    }
    fresh = {k: v for k, v in _REGISTRY.items() if k not in sampled_ever}
    green = {
        k: v
        for k, v in _REGISTRY.items()
        if k in sampled_ever and k not in stale_fail
    }
    return {**stale_fail, **fresh, **green}

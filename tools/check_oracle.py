"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given sf dir, compares row count, sorted-column-name schema, and an
order-insensitive value comparison. Usage:

    python tools/check_oracle.py [--vanilla] <sf_dir> [query_name ...]

``--vanilla`` runs on a bare SparkSession (the driver's own session
shape, on the master ``session.resolve_master`` picks: SPARK_MASTER,
else ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``) — use it FIRST
when reproducing a driver red.

The comparison semantics live in ``python_tool_setup_spark.testing``
(shared with tests/test_oracle_parity.py): both engines fetched via
pandas, values stringified VERBATIM — no float re-formatting — so a
DECIMAL final column diverges here exactly as it does on the driver
(the class the r1-r6 mimic masked and the r5/r6 driver caught on
q521/q533). Decimal/interval final columns are flagged as contract
violations even when values happen to compare equal.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_tool_setup_spark.queries import all_queries
from python_tool_setup_spark.session import get_spark, resolve_master
from python_tool_setup_spark.testing import compare_query, oracle_connection


def main() -> int:
    ap = argparse.ArgumentParser(description="Spark vs DuckDB-oracle parity.")
    ap.add_argument("sf_dir")
    ap.add_argument("gates", nargs="*")
    ap.add_argument("--vanilla", action="store_true",
                    help="bare SparkSession, no engine configs")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    only = set(args.gates)
    if args.vanilla:
        # the driver's own session shape: no engine configs at all —
        # reproduce driver-side divergences with THIS first (the
        # engine session can mask session-conf-dependent behavior)
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master(resolve_master()).getOrCreate()
    else:
        spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)

    failures = []
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            mismatch = compare_query(spark, con, q, sf_dir)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: error: {exc}")
            failures.append(name)
            continue
        finally:
            # gates that persist()/cache() without unpersisting must
            # not keep their CacheManager entries for the whole sweep
            spark.catalog.clearCache()
        if mismatch is not None:
            print(f"FAIL {name}: {mismatch}")
            failures.append(name)
            continue
        tag = "rows-only" if q.oracle is None else "match"
        print(f"ok   {name}: {tag} ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

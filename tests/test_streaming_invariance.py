"""Micro-batch-chopping invariance for the stream-stream FULL OUTER
join (round-4 verdict item #8).

q253's contract — every view/purchase pair within the time band is
emitted exactly once, unmatched rows are emitted with NULLs once their
watermark window closes — must not depend on how the file source is
chopped into micro-batches. q138 proves this for streaming
aggregation; this proves it for the hardest join mode by re-draining
the identical input under several maxFilesPerTrigger rate limits
(5 files -> 5 batches / 2 batches / one batch) and asserting
result-set equality.
"""

from __future__ import annotations

import pytest

from python_tool_setup_spark.queries.batch30 import full_outer_stream_join_drain

from conftest import SF_DIR


def _result_set(df):
    # outer-join rows carry NULLs; compare as a multiset
    rows = [(r["user_id"], r["view_id"], r["purchase_id"]) for r in df.collect()]
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


@pytest.mark.parametrize("chopping", [1, 3])
def test_full_outer_join_chopping_invariance(spark, chopping):
    baseline = _result_set(full_outer_stream_join_drain(spark, SF_DIR))
    assert baseline, "fixture shard produced no joined rows"
    chopped = _result_set(
        full_outer_stream_join_drain(spark, SF_DIR, max_files_per_trigger=chopping)
    )
    assert chopped == baseline

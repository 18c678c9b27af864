"""Relational operator building blocks.

Thin, scale-conscious wrappers over the DataFrame API for the operator
rows in SURVEY.md §2.2 that need more than a one-liner: deterministic
dedup, top-k, as-of/range joins, merge-upsert rewrite.
"""

from python_tool_setup_spark.operators.relational import (
    dedup_by_keys,
    semi_join,
    anti_join,
    top_k,
)
from python_tool_setup_spark.operators.asof import asof_join
from python_tool_setup_spark.operators.merge import merge_upsert
from python_tool_setup_spark.operators.skew import (
    salted_join,
    create_bucketed_table,
    bucketed_join,
)

__all__ = [
    "dedup_by_keys",
    "semi_join",
    "anti_join",
    "top_k",
    "asof_join",
    "merge_upsert",
    "salted_join",
    "create_bucketed_table",
    "bucketed_join",
]

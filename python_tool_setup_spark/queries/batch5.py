"""Engine-surface gates, batch 5 (q130-q133): quality filter cascade
with reason codes, join-strategy hints (same answer under three
physical plans, shapes asserted), null-safe join semantics, and MERGE
schema evolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, cents_sql
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark.staging import staging_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- q130
@register(
    "q130_filter_cascade",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ),
    st AS (
        SELECT doc_id, lang,
               len(tk) AS n_tok,
               len(list_distinct(tk)) AS n_uniq,
               list_sum(list_transform(tk, t -> length(t))) AS sum_len
        FROM toks
    )
    SELECT doc_id,
           CASE
               WHEN n_tok < 10 THEN 'too_short'
               WHEN lang = 'zh' THEN 'excluded_lang'
               WHEN n_uniq / n_tok < 0.3 THEN 'too_repetitive'
               WHEN sum_len / n_tok < 3.0
                    OR sum_len / n_tok > 12.0 THEN 'bad_word_length'
               ELSE 'keep'
           END AS verdict
    FROM st
    """,
    doc="Quality filter cascade with reason codes — the keep/drop "
    "decision every corpus pipeline ends with: ordered rules "
    "(min length, language allowlist, distinct-token ratio, mean "
    "word length) evaluated as ONE scan-stage CASE chain; the verdict "
    "is the first failing rule, so drop reasons are attributable and "
    "countable. No shuffle, no UDF — pure fused projection at any "
    "scale.",
)
def q130_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    st = d.select(
        "doc_id",
        "lang",
        F.size(tk).alias("n_tok"),
        F.size(F.array_distinct(tk)).alias("n_uniq"),
        F.aggregate(
            tk, F.lit(0), lambda acc, t: acc + F.length(t)
        ).alias("sum_len"),
    )
    return st.select(
        "doc_id",
        F.when(F.col("n_tok") < 10, "too_short")
        .when(F.col("lang") == "zh", "excluded_lang")
        .when(F.col("n_uniq") / F.col("n_tok") < 0.3, "too_repetitive")
        .when(
            (F.col("sum_len") / F.col("n_tok") < 3.0)
            | (F.col("sum_len") / F.col("n_tok") > 12.0),
            "bad_word_length",
        )
        .otherwise("keep")
        .alias("verdict"),
    )


# ---------------------------------------------------------------- q131
_HINT_AGG_SQL = f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM({cents_sql("o.o_totalprice")})
                      AS DOUBLE) / 100, 2) AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
"""


@register(
    "q131_join_strategy_hints",
    f"""
    WITH agg AS ({_HINT_AGG_SQL})
    SELECT s.strategy, agg.n_name, agg.n_orders, agg.total_price
    FROM agg
    CROSS JOIN (VALUES ('broadcast'), ('shuffle_hash'), ('merge'))
        s(strategy)
    """,
    doc="Join-strategy hint surface: the identical orders⋈customer⋈ "
    "nation aggregate executed three times under BROADCAST, "
    "SHUFFLE_HASH, and MERGE hints; the query asserts each executed "
    "plan actually contains the hinted operator (BroadcastHashJoin / "
    "ShuffledHashJoin / SortMergeJoin) and the gate proves all three "
    "physical strategies return byte-identical results — the control "
    "knob used when AQE's default pick is wrong at scale.",
)
def q131_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def agg_with(hint: str, expected: str) -> DataFrame:
        ch = c.hint(hint)
        nh = n.hint(hint)
        out = (
            o.join(ch, o.o_custkey == ch.c_custkey)
            .join(nh, F.col("c_nationkey") == nh.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total_price"),
            )
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert expected in plan, f"hint {hint}: {expected} not in plan"
        return out.select(F.lit(hint).alias("strategy"), "n_name", "n_orders", "total_price")

    return (
        agg_with("broadcast", "BroadcastHashJoin")
        .unionByName(agg_with("shuffle_hash", "ShuffledHashJoin"))
        .unionByName(agg_with("merge", "SortMergeJoin"))
    )


# ---------------------------------------------------------------- q132
@register(
    "q132_nullsafe_join",
    """
    WITH k AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderkey % 100 END AS grp
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT a.grp,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM k a JOIN k b ON a.grp IS NOT DISTINCT FROM b.grp
    GROUP BY a.grp
    """,
    doc="Null-safe equality join (Spark's <=> / SQL IS NOT DISTINCT "
    "FROM): null group keys MATCH each other instead of vanishing — "
    "the semantics entity-resolution joins need when the blocking key "
    "is optional. Grouped pair counts prove the null bucket joins to "
    "itself in both engines.",
)
def q132_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            F.when(F.col("o_orderkey") % 7 == 0, None)
            .otherwise(F.col("o_orderkey") % 100)
            .alias("grp")
        )
    )
    a = k.alias("a")
    b = k.alias("b")
    return (
        a.join(b, F.col("a.grp").eqNullSafe(F.col("b.grp")))
        .groupBy(F.col("a.grp").alias("grp"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------- q133
@register(
    "q133_merge_schema_evolution",
    """
    WITH target AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey < 100
    ),
    source AS (
        SELECT c_custkey, c_name || '_v2' AS c_name,
               CASE WHEN c_custkey % 3 = 0 THEN 'gold' ELSE 'silver' END
                   AS loyalty_tier
        FROM customer WHERE c_custkey >= 50 AND c_custkey < 150
    )
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(s.c_name, t.c_name) AS c_name,
           s.loyalty_tier
    FROM target t FULL OUTER JOIN source s USING (c_custkey)
    """,
    doc="MERGE with schema evolution (Delta autoMerge behavior): the "
    "source adds a loyalty_tier column the target never had; the "
    "target widens (null for untouched rows), matched rows take the "
    "source row wholesale, new keys append. The oracle's full-outer "
    "join states the exact post-merge relation.",
)
def q133_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer")
    target = cust.filter(F.col("c_custkey") < 100).select("c_custkey", "c_name")
    source = (
        cust.filter((F.col("c_custkey") >= 50) & (F.col("c_custkey") < 150))
        .select(
            "c_custkey",
            F.concat(F.col("c_name"), F.lit("_v2")).alias("c_name"),
            F.when(F.col("c_custkey") % 3 == 0, "gold")
            .otherwise("silver")
            .alias("loyalty_tier"),
        )
    )
    return merge_upsert(
        target, source, keys=["c_custkey"], evolve_schema=True
    )


# ---------------------------------------------------------------- q134
@register(
    "q134_observe_metrics",
    """
    WITH agg AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS revenue
        FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS scanned_rows,
               ROUND(SUM(l_quantity), 2) AS scanned_qty
        FROM lineitem
    )
    SELECT agg.l_returnflag, agg.n, agg.revenue,
           m.scanned_rows, m.scanned_qty
    FROM agg CROSS JOIN m
    """,
    doc="Inline pipeline observability (df.observe / CollectMetrics): "
    "row-count and quantity-sum metrics are collected DURING the one "
    "aggregation scan — no second pass over the data, which is the "
    "whole point at 100 TB — and surfaced next to the query result. "
    "The oracle recomputes both the aggregate and the metrics, "
    "proving the observed values are exact, not sampled.",
)
def q134_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("scanned_rows"),
        F.sum("l_quantity").alias("scanned_qty"),
    )
    agg = observed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100, 2).alias("revenue"),
    )
    rows = agg.collect()  # one action: fills the result AND the metrics
    m = obs.get
    out = [
        (r["l_returnflag"], r["n"], r["revenue"],
         int(m["scanned_rows"]), round(float(m["scanned_qty"]), 2))
        for r in rows
    ]
    return spark.createDataFrame(
        out,
        "l_returnflag string, n long, revenue double, "
        "scanned_rows long, scanned_qty double",
    )


# ---------------------------------------------------------------- q135
_Q135_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


@register(
    "q135_containment_neardup",
    f"""
    WITH corpus AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 500000, source,
               array_to_string(({_Q135_TOKS})[1:25], ' ')
        FROM documents
        WHERE doc_id % 13 = 0 AND len({_Q135_TOKS}) >= 30
    ),
    shingled AS (
        SELECT doc_id, source,
               LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, GREATEST(LEN(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, source, {_Q135_TOKS} AS toks FROM corpus)
    )
    SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source,
               ROUND(1000000 * (CAST(LEN(LIST_INTERSECT(a.sh, b.sh))
                     AS DOUBLE)
                     / LEAST(LEN(a.sh), LEN(b.sh)))) / 1000000.0
                   AS containment
        FROM shingled a JOIN shingled b
          ON a.source = b.source AND a.doc_id < b.doc_id
    ) WHERE containment >= 0.9
    """,
    doc="Containment near-dup (|∩|/min — catches near-SUBSET "
    "duplication): every 13th document is re-planted as a 25-token "
    "'quote' of itself; containment flags each quote against its "
    "original at ~1.0 where resemblance Jaccard would score it far "
    "below any dedup threshold. Same inverted-index candidate "
    "generation as q39 — only pairs sharing a shingle materialize.",
)
def q135_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.dedup import ngram_jaccard_pairs
    from python_tool_setup_spark.llm.text import tokenize

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = tokenize(F.col("text"))
    quotes = (
        d.filter((F.col("doc_id") % 13 == 0) & (F.size(toks) >= 30))
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            "source",
            F.array_join(F.slice(toks, 1, 25), " ").alias("text"),
        )
    )
    corpus = d.unionByName(quotes)
    return ngram_jaccard_pairs(
        corpus,
        "doc_id",
        "text",
        block_cols=["source"],
        shingle_size=3,
        threshold=0.9,
        metric="containment",
    )


# ---------------------------------------------------------------- q136
_Q136_SORTED = (
    "array_to_string(list_sort(list_filter("
    "string_split_regex(lower(text), '\\s+'), t -> t <> '')), ' ')"
)


@register(
    "q136_token_sort_match",
    f"""
    WITH corpus AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 600000, source,
               array_to_string(list_reverse(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   t -> t <> '')), ' ')
        FROM documents WHERE doc_id % 19 = 0
    ),
    norm AS (
        SELECT doc_id, source, {_Q136_SORTED} AS skey FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(0 AS BIGINT) AS edit_dist
    FROM norm a JOIN norm b
      ON a.source = b.source AND a.skey = b.skey AND a.doc_id < b.doc_id
    """,
    doc="Token-sort fuzzy matching (the fuzzywuzzy token_sort_ratio "
    "shape): every 19th document is re-planted with its word order "
    "REVERSED — invisible to exact/edit-distance dedup, but the "
    "sorted-token canonical key collapses the permutation and the "
    "pair surfaces at distance 0. Normalization is scan-stage array "
    "ops; pairing is a hash join on the canonical key, never "
    "all-pairs.",
)
def q136_token_sort_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.text import tokenize

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = tokenize(F.col("text"))
    shuffled = d.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        "source",
        F.array_join(F.reverse(toks), " ").alias("text"),
    )
    corpus = d.unionByName(shuffled)
    norm = corpus.select(
        "doc_id",
        "source",
        F.array_join(F.array_sort(tokenize(F.col("text"))), " ").alias("skey"),
    )
    a = norm.alias("a")
    b = norm.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.skey") == F.col("b.skey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.lit(0).cast("bigint").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------- q137
_FED: dict[str, str] = {}


@register(
    "q137_federated_formats",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_regionkey) AS BIGINT) AS s
    FROM nation
    GROUP BY n_name
    """,
    doc="Federated multi-format union: the nation table is split into "
    "three disjoint slices persisted as parquet, csv, and json; the "
    "query unions the three scans (each with its own reader + schema) "
    "and aggregates — byte-identical to aggregating the original. "
    "The S13 format surface exercised as ONE relation, the way a "
    "migration-in-progress lake actually looks.",
)
def q137_federated_formats(spark: SparkSession, sf_dir: str) -> DataFrame:

    from python_tool_setup_spark.sources.files import read_batch

    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    base = _FED.get(sf_dir)
    if base is None:
        base = staging_dir("fed_")
        n.filter(F.col("n_nationkey") % 3 == 0).write.parquet(base + "/p")
        n.filter(F.col("n_nationkey") % 3 == 1).write.option(
            "header", "true"
        ).csv(base + "/c")
        n.filter(F.col("n_nationkey") % 3 == 2).write.json(base + "/j")
        _FED[sf_dir] = base
    schema = "n_nationkey long, n_name string, n_regionkey long"
    parts = [
        read_batch(spark, base + "/p", fmt="parquet"),
        read_batch(
            spark,
            base + "/c",
            fmt="csv",
            schema=schema,
            options={"header": "true"},
        ),
        read_batch(spark, base + "/j", fmt="json", schema=schema),
    ]
    fed = parts[0]
    for p in parts[1:]:
        fed = fed.unionByName(p.select(*fed.columns))
    return fed.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_regionkey").cast("bigint").alias("s"),
    )

"""Pin the HUGEINT->DOUBLE cast mechanism and its two-limb repair.

Multi-seed catch #6 (seed 2468, q505): DuckDB's native HUGEINT /
DECIMAL(38)->DOUBLE cast is not correctly rounded above 2^53, while
Spark's Decimal->double (BigDecimal.doubleValue) is — so an oracle
final whose double math consumes a >2^53 exact-integer moment can sit
1 ulp away from Spark's, and a downstream ROUND boundary turns that
into a value mismatch. queries/exactcast.py documents the two-limb
conversion both engines evaluate bit-identically AND correctly
rounded for |x| < 2^101.

These tests pin:
1. the DuckDB defect on the reproducing value (if a DuckDB upgrade
   fixes the native cast, the pin flips and the workaround can be
   retired);
2. the two-limb recipe's correct rounding on randomized >2^53
   integers (both sign, both engines' dialect semantics);
3. the anti-reversion census: no oracle may cast a HUGEINT-defined
   column to DOUBLE natively — every such name must go through the
   two-limb text (or stay in integer/comparison contexts);
4. the exact-cents helpers: ``cents`` / ``cents_sql`` build exactly the
   inline expression, and no Spark-side site writes the rule out
   outside exactcast.py.
"""

from __future__ import annotations

import ast
import pathlib
import random
import re

import duckdb
import pytest
from pyspark.sql import functions as F

import python_tool_setup_spark
from python_tool_setup_spark.queries import all_queries
from python_tool_setup_spark.queries.exactcast import (
    K,
    cents,
    cents_sql,
    dd_duck,
    dd_spark,
)
from tools.knife_edge_audit import _balanced

# the value from the seed-2468 q505 dataset whose native cast is 1 ulp
# low (0x1.404f9d4823216p+65 instead of ...217p+65)
REPRO = 46161679096899359540


def test_duckdb_native_cast_misrounds_repro_value():
    con = duckdb.connect()
    native = con.execute(
        f"SELECT CAST(CAST({REPRO} AS HUGEINT) AS DOUBLE)"
    ).fetchone()[0]
    # float(int) in Python is correctly rounded (round-half-even)
    assert native != float(REPRO), (
        "DuckDB's native HUGEINT->DOUBLE cast now rounds correctly — "
        "the exactcast workaround can be retired"
    )


def test_two_limb_matches_correct_rounding_on_repro():
    con = duckdb.connect()
    two = con.execute(f"SELECT {dd_duck(f'CAST({REPRO} AS HUGEINT)')}"
                      ).fetchone()[0]
    assert two == float(REPRO)
    assert two.hex() == "0x1.404f9d4823217p+65"


def test_two_limb_correctly_rounds_random_hugeints():
    con = duckdb.connect()
    rng = random.Random(20260816)
    vals = [
        rng.getrandbits(rng.randint(54, 100))
        * (1 if rng.random() < 0.5 else -1)
        for _ in range(500)
    ]
    con.execute("CREATE TABLE t(v HUGEINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(str(v),) for v in vals])
    rows = con.execute(f"SELECT v, {dd_duck('v')} FROM t").fetchall()
    for v, limb in rows:
        assert limb == float(int(v)), f"{v}: {limb.hex()}"


def test_two_limb_spark_dialect_matches(spark):
    vals = [REPRO, -REPRO, 2**53 + 1, 12345, -7, 0,
            98765432109876543210987654321]
    exprs = ", ".join(
        dd_spark(f"CAST('{v}' AS DECIMAL(38,0))") for v in vals
    )
    row = spark.sql(f"SELECT {exprs}").collect()[0]
    for v, got in zip(vals, row):
        assert got == float(v), f"{v}: {got.hex()}"


def test_below_2_53_two_limb_is_exact_cast():
    con = duckdb.connect()
    for v in (0, 1, -1, 2**52, -(2**53) + 1, 999999999999):
        got = con.execute(
            f"SELECT {dd_duck(f'CAST({v} AS HUGEINT)')}"
        ).fetchone()[0]
        assert got == float(v) and float(v) == v


# ---------------------------------------------------------------- census
def _hugeint_names(sql: str) -> set[str]:
    """Names whose defining expression contains AS HUGEINT — except
    names produced BY the two-limb conversion (those are already
    correctly-rounded doubles; the HUGEINT token in their defining
    lines belongs to the converted operand)."""
    names: set[str] = set()
    for m in re.finditer(r"SUM\([^;]*?AS HUGEINT[^;]*?\)\s+AS\s+(\w+)", sql):
        names.add(m.group(1))
    for line in sql.splitlines():
        if "HUGEINT" in line:
            m = re.search(r"AS\s+(\w+)\s*,?\s*$", line.strip())
            if m:
                names.add(m.group(1))
    converted = {
        m.group(1)
        for m in re.finditer(
            rf"% {K} AS DOUBLE\)\)\s+AS\s+(\w+)", sql
        )
    }
    return names - converted


def test_no_native_double_cast_of_hugeint_columns():
    """Anti-reversion: a HUGEINT-defined column must never reach
    double context through DuckDB's native conversion — neither the
    explicit ``CAST(name AS DOUBLE)`` (the q505 shape) nor implicit
    coercion via bare ``/`` division or multiplication against a
    double (the q543 ``CAST(n AS DOUBLE) * sab`` blind spot). Integer
    contexts (``name // k``, ``name % k`` — the two-limb text itself —
    plus +, -, comparisons, and integer-typed finals) are exact and
    stay allowed."""
    offenders: list[str] = []
    for gname, q in all_queries().items():
        sql = q.oracle
        if not sql or "HUGEINT" not in sql:
            continue
        for col in _hugeint_names(sql):
            if re.search(rf"CAST\(\s*{col}\s+AS DOUBLE\)", sql):
                offenders.append(f"{gname}:{col}:explicit-cast")
            # bare '/' (DuckDB divides integers as DOUBLE) — '//' and
            # '/ 1000000' style on the two-limb OUTPUT are fine; we
            # only flag the raw name as an operand of single '/'
            if re.search(rf"\b{col}\s*/(?!/)", sql) or re.search(
                rf"(?<!/)/\s*{col}\b", sql
            ):
                offenders.append(f"{gname}:{col}:implicit-div")
            # double-cast operand multiplied by the raw hugeint name
            if re.search(
                rf"AS DOUBLE\)\s*\*\s*{col}\b", sql
            ) or re.search(rf"\b{col}\s*\*\s*CAST\([^)]+AS DOUBLE\)", sql):
                offenders.append(f"{gname}:{col}:implicit-mul")
    assert offenders == [], offenders


def test_census_regex_still_detects_the_banned_shape():
    """The census must keep flagging the exact pre-fix q505 shape."""
    sql = """
    s AS (SELECT SUM(CAST(x AS HUGEINT) * x) AS qs FROM t)
    SELECT CAST(ROUND(CAST(qs AS DOUBLE) / n) AS BIGINT) FROM s
    """
    assert _hugeint_names(sql) == {"qs"}
    assert re.search(r"CAST\(\s*qs\s+AS DOUBLE\)", sql)


def test_exactcast_constant_is_2_pow_48():
    assert K == 2**48


def test_duckdb_scaled_decimal_to_double_is_not_correctly_rounded():
    """Sibling mechanism pin: DuckDB converts SCALED decimals to
    double via int->double-then-divide (two roundings), so ~30% of
    DECIMAL(38,2) values differ by 1 ulp from the correctly-rounded
    rational (what Spark's BigDecimal.doubleValue produces). The
    engine convention therefore keeps money/micro quantities in
    INTEGER units (scale-0) end-to-end; q180 compares decimals as
    VARCHAR. This pin documents why."""
    from fractions import Fraction

    con = duckdb.connect()
    rng = random.Random(20260816)
    bad = 0
    for _ in range(200):
        v = rng.getrandbits(rng.randint(54, 62))
        got = con.execute(
            f"SELECT CAST(CAST('{v}.25' AS DECIMAL(38,2)) AS DOUBLE)"
        ).fetchone()[0]
        if got != float(Fraction(v * 100 + 25, 100)):
            bad += 1
    assert bad > 0, (
        "DuckDB's scaled-DECIMAL->DOUBLE cast now rounds correctly — "
        "the integer-units convention is no longer load-bearing here"
    )


def test_no_scaled_decimal_to_double_in_oracles():
    """Anti-class lint: no oracle may cast to a SCALED decimal except
    q180, which compares exact decimal strings (VARCHAR finals)."""
    offenders = []
    for gname, q in all_queries().items():
        sql = q.oracle or ""
        if re.search(r"DECIMAL\(\d+,\s*[1-9]\d*\)", sql):
            if gname != "q180_decimal_exact_agg":
                offenders.append(gname)
    assert offenders == [], offenders


# ------------------------------------------- implicit-HUGEINT census
# DuckDB implicitly widens SUM(BIGINT) to HUGEINT, so a natively-cast
# linear sum reaches DOUBLE through the same non-correctly-rounded
# native path the explicit census above bans — it just can't MIS-round
# until |sum| >= 2^53 (ADVICE r8). Every waived site below is a linear
# sum of per-row integer terms bounded by ~5*10^7 (cents of a single
# order / micro-scaled similarity / small squared quantities), and the
# oracle comparison only ever runs at sf<=0.1 (~6*10^5 lineitems), so
# |sum| <= 3*10^13 — a ~300x margin under 2^53; at sf1 the margin is
# still ~30x. The snapshot pins the full site set: a NEW site (new
# gate or new column) fails the census until either the same bound
# argument holds and the snapshot is extended, or the site converts to
# the two-limb exact cast (queries/exactcast.py), which is mandatory
# for product sums (cents*quantity and larger — the r8 conversion
# class).

_WAIVED_LINEAR_SUM_SITES = {
    # Sites below this comment were surfaced by the r9-advice detector
    # rewrite (balanced-paren bodies + OVER support); each is either
    # the same bounded linear class (cents / quantities / lengths,
    # per-row term <= ~5*10^7, so |sum| <= 3*10^13 at sf0.1) or a
    # textual false positive noted inline. q298's p_* PRODUCT sums,
    # surfaced by the same rewrite, were NOT waived — they pass 2^53
    # and were converted to the two-limb exactcast (queries/batch47.py).
    'q105_outlier_zscore': ['sc'],          # linear cents
    'q117_pagerank': ['dang'],              # false positive: SUM over a
                                            # DOUBLE rank column (r is
                                            # ROUND(1.0/n,...)); no
                                            # HUGEINT widening occurs
    'q215_top_supplier': ['rev_c'],         # linear cents
    'q298_correlation_matrix':              # linear cents moments (the
        ['i_disc', 'i_price', 'i_qty', 'i_tax'],  # product moments use
                                            # the two-limb exactcast)
    'q412_neyman_allocation': ['s'],        # linear cents
    'q416_price_dispersion_topk': ['s'],    # linear cents (unit price)
    'q468_dictionary_encoding_advisor':
        ['plain'],                          # sum of value lengths:
                                            # <= ~200 chars * rows,
                                            # ~1.2*10^9 even at sf1
    'q510_price_elasticity': ['qty'],       # linear quantities (<=50/row)
    'q56_grouped_map': ['sc'],              # linear cents
    # ('sj' for q546_intraclass_correlation is merged into its
    # pre-existing entry below)
    'q107_skew_report': ['total'],
    'q261_psi_corpus_drift': ['p', 'q'],
    'q293_welch_ttest': ['na', 'nb', 'sxa', 'sxb', 'sxxa', 'sxxb'],
    'q294_mutual_information': ['n', 'nx', 'ny'],
    'q297_top_bigram_repetition': ['total'],
    'q299_benford_audit': ['total'],
    'q305_cohens_kappa': ['a1', 'agree', 'b1', 'total'],
    'q308_calibration_ece': ['n_pos', 'sum_p_micro'],
    'q309_average_precision': ['cum_pos'],
    'q315_cuped_adjustment': ['na', 'nb', 'sx', 'sxa', 'sxb', 'sy', 'sya', 'syb'],
    'q319_grouped_trend': ['sx', 'sy'],
    'q320_decile_lift': ['n_pos'],
    'q321_kaplan_meier': ['n_at_risk'],
    'q324_ratio_metric_delta': ['sx', 'sy'],
    'q326_burstiness': ['sg'],
    'q327_char_entropy': ['t'],
    'q335_mix_shift_decomposition': ['n1', 'n2', 'u1', 'u2'],
    'q349_effective_diversity': ['t'],
    'q351_cramers_v': ['n', 'nx', 'ny'],
    'q353_grouped_map': ['cum_pos'],
    'q354_fleiss_kappa': ['pi_numer', 's1'],
    'q358_woe_iv': ['bd', 'g'],
    'q359_gini_split': ['n', 'nl', 'pl'],
    'q379_label_shift_estimate': ['fp', 'neg', 'np', 'ny', 'pos', 'tp'],
    'q383_sampling_error_audit': ['s', 't'],
    'q395_revenue_concentration': ['total'],
    'q403_wilson_interval_flags': ['r'],
    'q406_hierarchical_shares': ['cents', 'r_cents'],
    'q409_neardup_pr_curve': ['pos', 'pred_pos', 'tp'],
    'q410_chisq_goodness_of_fit': ['nd'],
    'q417_geometric_fit_order_sizes': ['tot'],
    'q422_consistent_hash_rebalance': ['moved'],
    'q426_ab_power_mde': ['s'],
    'q427_horvitz_thompson_audit': ['true_total'],
    'q443_slo_burn_rate': ['e'],
    'q444_readability_scores': ['sents', 'sylls', 'words'],
    'q448_overdispersion_index': ['s'],
    'q452_storage_showback': ['bytes_est'],
    'q457_nzv_feature_screen': ['n'],
    'q476_benjamini_hochberg_fdr': ['q_j', 's_j'],
    'q477_benford_first_digit': ['n'],
    'q478_zone_map_clustering_depth': ['n'],
    'q479_ewma_control_chart': ['wsum', 'wtot'],
    'q490_cusum_changepoint': ['s'],
    'q492_kaplan_meier_survival': ['d', 'log_cum', 'n_risk'],
    'q494_hill_tail_index': ['sum_nano'],
    'q501_brier_decomposition': ['n', 'o', 'o_k'],
    'q502_kish_effective_sample_size': ['s'],
    'q503_capture_recapture_universe': ['n1', 'n2'],
    'q504_good_turing_unseen_mass': ['total_tokens'],
    'q515_mutual_information': ['mi_s', 'n', 'nx', 'ny'],
    'q516_rank_biased_overlap': ['acc'],
    'q520_chisq_cell_residuals': ['n', 'nx', 'ny'],
    'q526_qini_curve': ['cnc', 'cnt', 'cpc', 'cpt'],
    'q527_rolling_correlation': ['sa', 'sb'],
    'q531_binary_segmentation': ['sl'],
    'q532_wilcoxon_signed_rank': ['tplus2'],
    'q533_mann_whitney_u': ['n', 'n1', 'n2'],
    'q534_runs_test': ['n1', 'n2', 'runs'],
    'q536_kruskal_wallis': ['n'],
    'q538_cochran_armitage_trend': ['n', 'r'],
    'q539_p_chart': ['n', 'r'],
    'q541_chao1_richness': ['f1'],
    'q544_covariate_balance_smd': ['nc', 'nt', 'sc', 'st'],
    'q545_split_half_reliability': ['sa', 'sb'],
    'q546_intraclass_correlation': ['n', 'sj', 'st'],
    'q547_cronbach_alpha': ['s1', 's2', 's3', 's4', 'st'],
    'q548_bland_altman': ['sd'],
    'q69_shard_packing': ['prefix'],
}


# Alias names that are really type keywords captured from surrounding
# CAST(... AS <type>) text, never result columns.
_TYPE_WORDS = frozenset({
    "DOUBLE", "HUGEINT", "BIGINT", "INTEGER", "DECIMAL", "VARCHAR",
    "DATE", "TIMESTAMP",
})


def _implicit_sum_names(sql: str) -> set[str]:
    """Columns defined by SUM over integer terms (DuckDB result type
    HUGEINT) without an explicit HUGEINT/DOUBLE cast in the summand.

    ADVICE r9 rewrite: the original non-greedy regex could swallow
    sibling expressions into the SUM body ('SUM(a) + SUM(b) AS x'
    matched with body 'a) + SUM(b'), so one double-typed token
    anywhere in the combined body exempted the whole site — the hole
    that hid q298's >2^53 product sums. Bodies are now extracted with
    balanced parens, an optional OVER (...) window clause is skipped,
    the alias is taken only when reachable without crossing another
    call, and double-typed detection is token-level (a scientific or
    decimal LITERAL, not any 'e0'/digit-dot-digit substring, which a
    column name like 'type0' can produce)."""
    names: set[str] = set()
    for m in re.finditer(r"SUM\s*\(", sql):
        try:
            end = _balanced(sql, m.end() - 1)
        except ValueError:
            continue
        body = sql[m.end() : end - 1]
        over = re.match(r"\s*OVER\s*\(", sql[end:])
        if over:  # window sum: SUM(x) OVER (...) AS name
            try:
                end = _balanced(sql, end + over.end() - 1)
            except ValueError:
                continue
        # alias reachable without crossing another call's open paren
        # (closing wrappers like COALESCE(SUM(x), 0) AS n still match)
        alias = re.match(r"[^;(]*?\bAS\s+(\w+)", sql[end:])
        if not alias or alias.group(1).upper() in _TYPE_WORDS:
            continue
        if (
            "AS DOUBLE" in body
            or re.search(r"\b\d+(\.\d+)?[eE][+-]?\d+", body)
            or re.search(r"\b\d+\.\d+", body)
        ):
            continue  # double-typed sum: no HUGEINT widening
        if "HUGEINT" in body:
            continue  # explicit: covered by the census above
        names.add(alias.group(1))
    return names


def test_implicit_hugeint_sum_census_is_pinned():
    """Anti-reversion for the implicit class: every SUM(BIGINT)-defined
    column that reaches double context must appear in the pinned
    magnitude-waived snapshot (see block comment for the <2^53 bound
    argument); anything new must be re-derived or converted."""
    found: dict[str, list[str]] = {}
    for gname, q in all_queries().items():
        sql = q.oracle
        if not sql:
            continue
        cols = []
        for col in _implicit_sum_names(sql):
            reaches_double = (
                re.search(rf"CAST\(\s*{col}\s+AS DOUBLE\)", sql)
                or re.search(rf"\b{col}\s*/(?!/)", sql)
                or re.search(rf"(?<!/)/\s*{col}\b", sql)
                or re.search(rf"AS DOUBLE\)\s*\*\s*{col}\b", sql)
                or re.search(rf"\b{col}\s*\*\s*CAST\([^)]+AS DOUBLE\)", sql)
            )
            if reaches_double:
                cols.append(col)
        if cols:
            found[gname] = sorted(set(cols))
    new = {
        g: [c for c in cols if c not in _WAIVED_LINEAR_SUM_SITES.get(g, [])]
        for g, cols in found.items()
    }
    new = {g: c for g, c in new.items() if c}
    assert new == {}, (
        "unwaived implicit-HUGEINT sum reaches double context "
        f"(convert via exactcast or extend the bounded waiver): {new}"
    )
    gone = {
        g: [c for c in cols if c not in found.get(g, [])]
        for g, cols in _WAIVED_LINEAR_SUM_SITES.items()
    }
    gone = {g: c for g, c in gone.items() if c}
    assert gone == {}, f"stale waiver entries (prune the snapshot): {gone}"


# ----------------------------------------------------------- exact cents
def test_cents_is_the_inline_expression(spark):
    x, d, t = F.col("x"), F.col("d"), F.col("t")
    pairs = [
        (cents(x), F.round(100 * x).cast("long")),
        (cents(x, 1 - d), F.round(100 * x * (1 - d)).cast("long")),
        (
            cents(x, 1 - d, 1 + t),
            F.round(100 * x * (1 - d) * (1 + t)).cast("long"),
        ),
        (cents(x * 1.1), F.round(100 * (x * 1.1)).cast("long")),
        (cents(x, 1.1), F.round(100 * x * 1.1).cast("long")),
    ]
    for got, want in pairs:
        assert str(got) == str(want)
    # merging factors is a different double, so a different tree
    assert str(cents(x * (1 - d))) != str(cents(x, 1 - d))


def test_cents_sql_is_the_inline_text():
    assert cents_sql("x") == "CAST(ROUND(100 * x) AS BIGINT)"
    assert (
        cents_sql("x", "(1 - d)")
        == "CAST(ROUND(100 * x * (1 - d)) AS BIGINT)"
    )
    assert (
        cents_sql("x", "(1 - d)", "(1 + t)")
        == "CAST(ROUND(100 * x * (1 - d) * (1 + t)) AS BIGINT)"
    )
    assert cents_sql("x", "1.1") == "CAST(ROUND(100 * x * 1.1) AS BIGINT)"


def test_cents_and_cents_sql_agree(spark):
    # half-cent ties and values whose 100 * x lands just off a tie
    df = spark.createDataFrame(
        [(0.005, 0.05), (1.115, 0.1), (2.675, 0.0), (-0.125, 0.07),
         (104949.5, 0.03), (None, 0.0)],
        "x double, d double",
    )
    got = df.select(
        cents(F.col("x"), 1 - F.col("d")).alias("a"),
        F.expr(cents_sql("x", "(1 - d)")).alias("b"),
    ).collect()
    assert [r["a"] for r in got] == [r["b"] for r in got]


def _is_cents_product(node: ast.AST) -> bool:
    """``100 * f1 * f2 ...``: a left-nested product headed by 100."""
    while isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult):
        node = node.left
        if isinstance(node, ast.Constant) and node.value == 100:
            return True
    return False


def _oracle_nodes(tree: ast.AST) -> set[int]:
    """ids of every node inside the oracle argument of ``register(...)``."""
    out: set[int] = set()
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "register"
        ):
            args = n.args[1:2] + [k.value for k in n.keywords if k.arg == "oracle"]
            for a in args:
                out.update(id(m) for m in ast.walk(a))
    return out


def test_no_exact_cents_site_outside_exactcast():
    """Every Spark-side exact-cents site goes through ``cents`` /
    ``cents_sql``: no ``F.round(100 * ...).cast(...)`` and no
    ``CAST(ROUND(100 *`` text outside exactcast.py, except the DuckDB
    oracles (the reference the gates are checked against)."""
    root = pathlib.Path(python_tool_setup_spark.__file__).parent
    py_sites, sql_sites = [], []
    for path in sorted(root.rglob("*.py")):
        if path.name == "exactcast.py":
            continue
        tree = ast.parse(path.read_text())
        oracle = _oracle_nodes(tree)
        rel = path.relative_to(root)
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "cast"
                and isinstance(n.func.value, ast.Call)
                and isinstance(n.func.value.func, ast.Attribute)
                and n.func.value.func.attr == "round"
                and n.func.value.args
                and _is_cents_product(n.func.value.args[0])
            ):
                py_sites.append(f"{rel}:{n.lineno}")
            if (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "CAST(ROUND(100 *" in n.value
                and id(n) not in oracle
            ):
                sql_sites.append(f"{rel}:{n.lineno}")
    assert py_sites == [], py_sites
    assert sql_sites == [], sql_sites

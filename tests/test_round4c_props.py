"""Round-4 batch-44 properties: the grid radius join vs planted
geometry and brute force; Welch t vs a pure-Python reference."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from conftest import SF_DIR


def _hav_m(lat1, lon1, lat2, lon2):
    rad = math.pi / 180.0
    s1 = math.sin(((lat2 - lat1) * rad) / 2)
    s2 = math.sin(((lon2 - lon1) * rad) / 2)
    a = s1 * s1 + math.cos(lat1 * rad) * math.cos(lat2 * rad) * (s2 * s2)
    return 2 * 6371000.0 * math.asin(math.sqrt(a))


def test_radius_join_planted_neighbors(spark):
    """Planted clusters: pairs inside R all found (including across a
    cell boundary), far pairs absent, each pair reported once."""
    from python_tool_setup_spark.operators.geo import radius_join_mm
    from python_tool_setup_spark.staging import local_rows_df

    # ~0.009 deg ~= 1 km of latitude; R=1500 m. Points 1/2 are
    # ~1.0 km apart straddling ~0.0136-deg cell rows; 3 is isolated;
    # 4/5 are ~111 m apart in one cell.
    pts = [
        (1, 46.000, 8.000),
        (2, 46.009, 8.000),
        (3, 46.500, 8.500),
        (4, 45.200, 7.300),
        (5, 45.201, 7.300),
    ]
    df = local_rows_df(
        spark, pts, "id bigint, lat double, lon double"
    )
    got = {
        (r["id1"], r["id2"]): r["dist_mm"]
        for r in radius_join_mm(df, 1500.0, min_cos_lat=0.68).collect()
    }
    assert set(got) == {(1, 2), (4, 5)}
    for (i, j), mm in got.items():
        a = pts[i - 1]
        b = pts[j - 1]
        ref = _hav_m(a[1], a[2], b[1], b[2])
        assert abs(mm - round(ref * 1000)) <= 1


def test_radius_join_matches_brute_force(spark):
    """On real derived points the grid join equals all-pairs + filter."""
    from python_tool_setup_spark.queries.batch44 import q292_geo_radius_join

    got = {
        (r["id1"], r["id2"]): r["dist_mm"]
        for r in q292_geo_radius_join(spark, SF_DIR).collect()
    }
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    from python_tool_setup_spark.queries.batch44 import _hash_coord

    pts = c.select(
        F.col("c_custkey").alias("id"),
        (F.lit(45.0) + _hash_coord("lat", F.col("c_custkey"))).alias("lat"),
        (F.lit(7.0) + _hash_coord("lon", F.col("c_custkey"))).alias("lon"),
    ).collect()
    brute = {}
    for i, a in enumerate(pts):
        for b in pts[i + 1 :]:
            mm = round(_hav_m(a["lat"], a["lon"], b["lat"], b["lon"]) * 1000)
            if mm <= 2000000:
                k = (min(a["id"], b["id"]), max(a["id"], b["id"]))
                brute[k] = mm
    assert set(got) == set(brute)
    for k, mm in got.items():
        assert abs(mm - brute[k]) <= 1  # <=1 ulp trig wobble in the last mm


def test_welch_t_matches_python_reference(spark):
    from python_tool_setup_spark.queries.batch44 import q293_welch_ttest

    row = q293_welch_ttest(spark, SF_DIR).collect()[0]
    xs = [
        (r["o_orderkey"], round(r["o_totalprice"] * 100))
        for r in spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    ]
    a = [x for k, x in xs if k % 2 == 0]
    b = [x for k, x in xs if k % 2 == 1]
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))

    def mv(v):
        n = len(v)
        m = sum(v) / n
        var = (sum(x * x for x in v) - sum(v) ** 2 / n) / (n - 1)
        return m, var

    ma, va = mv(a)
    mb, vb = mv(b)
    sa, sb = va / len(a), vb / len(b)
    t = (ma - mb) / math.sqrt(sa + sb)
    df = (sa + sb) ** 2 / (sa * sa / (len(a) - 1) + sb * sb / (len(b) - 1))
    assert abs(row["t_micro"] - round(t * 1e6)) <= 2
    assert abs(row["df_micro"] - round(df * 1e6)) <= 2
    assert abs(row["mean_diff_microcents"] - round((ma - mb) * 1e6)) <= 2


def test_mutual_information_identities(spark):
    from python_tool_setup_spark.queries.batch45 import q294_mutual_information

    r = q294_mutual_information(spark, SF_DIR).collect()[0]
    mi, hx, hy, hj = r["mi_nano"], r["h_x_nano"], r["h_y_nano"], r["h_joint_nano"]
    tol = r["n_cells"] + 10  # per-term rounding, <=0.5 nano each
    assert mi >= -tol
    assert mi <= min(hx, hy) + tol
    assert abs((hx + hy - mi) - hj) <= 3 * tol  # H(X,Y) = H(X)+H(Y)-I
    assert 0 < hx and 0 < hy


def test_rrf_fusion_rank_semantics(spark):
    from python_tool_setup_spark.queries.batch45 import q295_rrf_fusion

    rows = q295_rrf_fusion(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    scores = [r["rrf_nano"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["r_a"] is not None or r["r_b"] is not None
        expect = 0.0
        if r["r_a"] is not None:
            expect += 1.0 / (60 + r["r_a"])
        if r["r_b"] is not None:
            expect += 1.0 / (60 + r["r_b"])
        assert abs(r["rrf_nano"] - round(expect * 1e9)) <= 1


def test_basket_pairs_support_and_lift(spark):
    from python_tool_setup_spark.queries.batch46 import q296_basket_pairs

    rows = q296_basket_pairs(spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    baskets: dict = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    n_orders = len(baskets)
    from collections import Counter

    pair_c: Counter = Counter()
    item_c: Counter = Counter()
    for items in baskets.values():
        s = sorted(items)
        item_c.update(s)
        for i, x in enumerate(s):
            for y in s[i + 1 :]:
                pair_c[(x, y)] += 1
    expect = {k: v for k, v in pair_c.items() if v >= 3}
    got = {(r["x"], r["y"]): r for r in rows}
    assert set(got) == set(expect)
    for (x, y), r in got.items():
        assert r["sxy"] == expect[(x, y)]
        assert r["nx"] == item_c[x] and r["ny"] == item_c[y]
        lift = r["sxy"] * n_orders / (r["nx"] * r["ny"])
        assert abs(r["lift_micro"] - round(lift * 1e6)) <= 1


def test_top_bigram_repetition_reference(spark):
    from python_tool_setup_spark.queries.batch46 import (
        q297_top_bigram_repetition,
    )
    from collections import Counter

    rows = {r["doc_id"]: r for r in q297_top_bigram_repetition(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    assert set(rows) == {d["doc_id"] for d in docs if len(d["text"].split(" ")) >= 2}
    for d in docs[:50]:
        words = d["text"].split(" ")
        if len(words) < 2:
            continue
        c = Counter(" ".join(p) for p in zip(words, words[1:]))
        top_bg, top_n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        r = rows[d["doc_id"]]
        assert (r["top_bigram"], r["top_n"]) == (top_bg, top_n)
        assert r["n_bigrams"] == len(words) - 1
        assert r["flagged"] == (top_n / (len(words) - 1) > 0.05)


def test_correlation_matrix_vs_numpy(spark):
    import numpy as np

    from python_tool_setup_spark.queries.batch47 import q298_correlation_matrix

    got = {
        (r["col_x"], r["col_y"]): r["corr_micro"]
        for r in q298_correlation_matrix(spark, SF_DIR).collect()
    }
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").toPandas()
    cols = {
        "qty": np.round(li["l_quantity"] * 100),
        "price": np.round(li["l_extendedprice"] * 100),
        "disc": np.round(li["l_discount"] * 100),
        "tax": np.round(li["l_tax"] * 100),
    }
    assert len(got) == 6
    for (a, b), micro in got.items():
        ref = np.corrcoef(cols[a], cols[b])[0, 1]
        assert abs(micro / 1e6 - ref) < 1e-4
        assert -1_000_001 <= micro <= 1_000_001


def test_benford_audit_reference(spark):
    import math
    from collections import Counter

    from python_tool_setup_spark.queries.batch47 import q299_benford_audit

    rows = q299_benford_audit(spark, SF_DIR).collect()
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    c = Counter(str(round(r["o_totalprice"] * 100))[0] for r in o if r["o_totalprice"] > 0)
    total = sum(c.values())
    assert {r["digit"] for r in rows} == {int(d) for d in c}
    chi_total = rows[0]["chi2_total_micro"]
    acc = 0
    for r in rows:
        assert r["n_obs"] == c[str(r["digit"])]
        p = math.log10(1 + 1 / r["digit"])
        assert abs(r["p_benford_nano"] - round(p * 1e9)) <= 1
        term = (r["n_obs"] - total * p) ** 2 / (total * p)
        assert abs(r["chi2_term_micro"] - round(term * 1e6)) <= 1
        acc += r["chi2_term_micro"]
        assert r["chi2_total_micro"] == chi_total
    assert chi_total == acc


def test_distinct_n_diversity_reference(spark):
    from python_tool_setup_spark.queries.batch48 import q300_distinct_n_diversity

    rows = {r["source"]: r for r in q300_distinct_n_diversity(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    by_src: dict = {}
    for d in docs:
        by_src.setdefault(d["source"], []).append(d["text"].split(" "))
    for src, texts in by_src.items():
        unis = [w for t in texts for w in t]
        bis = [" ".join(p) for t in texts for p in zip(t, t[1:])]
        r = rows[src]
        assert (r["n1_total"], r["n1_distinct"]) == (len(unis), len(set(unis)))
        assert (r["n2_total"], r["n2_distinct"]) == (len(bis), len(set(bis)))


def test_zipf_fit_vs_numpy(spark):
    import numpy as np

    from python_tool_setup_spark.queries.batch48 import q301_zipf_fit

    r = q301_zipf_fit(spark, SF_DIR).collect()[0]
    from collections import Counter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    c = Counter(w for d in docs for w in d["text"].split(" "))
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[: r["n_ranks"]]
    x = np.log(np.arange(1, len(top) + 1))
    y = np.log(np.array([n for _, n in top], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(r["slope_micro"] / 1e6 - slope) < 1e-3
    assert abs(r["intercept_micro"] / 1e6 - intercept) < 1e-3
    corr = np.corrcoef(x, y)[0, 1]
    assert abs(r["r2_micro"] / 1e6 - corr * corr) < 1e-3
    assert r["slope_micro"] < 0  # frequency falls with rank


def test_exact_auc_vs_reference(spark):
    from python_tool_setup_spark.queries.batch49 import q302_exact_auc

    r = q302_exact_auc(spark, SF_DIR).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    pos = sorted(d["n_chars"] for d in docs if "data" in d["text"])
    neg = sorted(d["n_chars"] for d in docs if "data" not in d["text"])
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    # brute-force pair counting: wins + half-ties
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(r["auc_micro"] - round(auc * 1e6)) <= 1
    assert abs(r["gini_micro"] - (2 * auc - 1) * 1e6) <= 2


def test_key_skew_gini_vs_reference(spark):
    from python_tool_setup_spark.queries.batch49 import q303_key_skew_gini

    r = q303_key_skew_gini(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    from collections import Counter

    sizes = sorted(Counter(e["user_id"] for e in ev).values())
    n = len(sizes)
    total = sum(sizes)
    gini = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(sizes)) / (n * total)
    assert (r["n_keys"], r["n_events"], r["max_size"]) == (n, total, max(sizes))
    assert abs(r["gini_micro"] - round(gini * 1e6)) <= 1
    assert abs(r["max_share_micro"] - round(max(sizes) / total * 1e6)) <= 1


def test_item_item_cf_reference(spark):
    from collections import Counter

    from python_tool_setup_spark.queries.batch50 import q304_item_item_cf

    rows = q304_item_item_cf(spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    baskets: dict = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    pair_c: Counter = Counter()
    item_c: Counter = Counter()
    for items in baskets.values():
        s = sorted(items)
        item_c.update(s)
        for i, x in enumerate(s):
            for y in s[i + 1 :]:
                pair_c[(x, y)] += 1
    import math

    nbrs: dict = {}
    for (x, y), sxy in pair_c.items():
        if sxy < 2:
            continue
        for it, nb in ((x, y), (y, x)):
            cos = round(sxy / math.sqrt(item_c[it] * item_c[nb]) * 1e6)
            nbrs.setdefault(it, []).append((-cos, nb, sxy))
    expect = {}
    for it, lst in nbrs.items():
        for rk, (negcos, nb, sxy) in enumerate(sorted(lst)[:3], 1):
            expect[(it, rk)] = (nb, sxy, -negcos)
    got = {(r["item"], r["rk"]): (r["neighbor"], r["co_count"], r["cos_micro"]) for r in rows}
    assert set(got) == set(expect)
    for k, (nb, sxy, cos) in got.items():
        enb, esxy, ecos = expect[k]
        assert (nb, sxy) == (enb, esxy)
        assert abs(cos - ecos) <= 1


def test_cohens_kappa_reference(spark):
    from python_tool_setup_spark.queries.batch50 import q305_cohens_kappa

    r = q305_cohens_kappa(spark, SF_DIR).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    pairs = [(1 if d["lang"] == "en" else 0, 1 if "the" in d["text"] else 0) for d in docs]
    t = len(pairs)
    ag = sum(1 for a, b in pairs if a == b)
    a1 = sum(a for a, _ in pairs)
    b1 = sum(b for _, b in pairs)
    po = ag / t
    pe = (a1 * b1 + (t - a1) * (t - b1)) / (t * t)
    kappa = (po - pe) / (1 - pe)
    assert (r["n_docs"], r["n_agree"]) == (t, ag)
    assert abs(r["kappa_micro"] - round(kappa * 1e6)) <= 1
    assert -1_000_000 <= r["kappa_micro"] <= 1_000_000


def test_token_waterfill_invariants(spark):
    from python_tool_setup_spark.queries.batch51 import _BUDGET, q306_token_waterfill

    rows = q306_token_waterfill(spark, SF_DIR).collect()
    total = sum(r["tokens"] for r in rows)
    alloc = sum(r["allocated"] for r in rows)
    assert alloc == min(_BUDGET, total)
    capped = [r for r in rows if r["capped"]]
    uncapped = [r for r in rows if not r["capped"]]
    for r in uncapped:
        assert r["allocated"] == r["tokens"]
    for r in capped:
        assert r["allocated"] < r["tokens"]
    if capped:
        # equal-share property: capped allocations differ by at most 1
        vals = sorted(r["allocated"] for r in capped)
        assert vals[-1] - vals[0] <= 1
        # no uncapped source is larger than a capped one's allocation
        assert all(
            u["tokens"] <= vals[0] + 1 for u in uncapped
        )


def test_weighted_sample_wor_reference(spark):
    import hashlib
    import math

    from python_tool_setup_spark.queries.batch51 import q307_weighted_sample_wor

    rows = q307_weighted_sample_wor(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    keyed = []
    for d in docs:
        if d["n_chars"] <= 0:
            continue
        h = int(hashlib.md5(f"aes|{d['doc_id']}".encode()).hexdigest()[:15], 16)
        u = ((h % 1000000) + 1.0) / 1000001.0
        keyed.append(
            (round(math.log(u) / d["n_chars"] * 1e9), d["doc_id"], d["n_chars"])
        )
    keyed.sort(key=lambda t: (-t[0], t[1]))
    expect = keyed[:50]
    assert len(rows) == min(50, len(keyed))
    for rk, (r, (lnk, did, w)) in enumerate(zip(rows, expect), 1):
        assert r["doc_id"] == did
        assert r["w"] == w
        assert abs(r["lnkey_nano"] - lnk) <= 1
        assert r["rk"] == rk


def test_calibration_ece_reference(spark):
    import math

    from python_tool_setup_spark.queries.batch52 import q308_calibration_ece

    rows = q308_calibration_ece(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    bins: dict = {}
    for d in docs:
        p = 1.0 / (1.0 + math.exp(-(d["n_chars"] - 250.0) / 50.0))
        pm = round(p * 1e6)
        b = min(9, pm // 100000)
        n, np_, sp = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, np_ + (1 if "data" in d["text"] else 0), sp + pm)
    total = sum(n for n, _, _ in bins.values())
    numer = sum(abs(np_ * 10**6 - sp) for _, np_, sp in bins.values())
    ece = round(numer / total)
    assert {r["bin"] for r in rows} == set(bins)
    for r in rows:
        n, np_, sp = bins[r["bin"]]
        assert (r["n"], r["n_pos"]) == (n, np_)
        assert abs(r["conf_micro"] - round(sp / n)) <= 1
        assert abs(r["acc_micro"] - round(np_ * 1e6 / n)) <= 1
        assert abs(r["ece_micro"] - ece) <= 1


def test_average_precision_reference(spark):
    from python_tool_setup_spark.queries.batch52 import q309_average_precision

    r = q309_average_precision(spark, SF_DIR).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    order = sorted(docs, key=lambda d: (-d["n_chars"], d["doc_id"]))
    cum = 0
    terms = []
    for k, d in enumerate(order, 1):
        if "data" in d["text"]:
            cum += 1
            terms.append(round(cum / k * 1e9))
    assert (r["n_docs"], r["n_pos"]) == (len(order), len(terms))
    assert r["sum_term_nano"] == sum(terms)
    assert abs(r["ap_micro"] - round(sum(terms) / (len(terms) * 1000.0))) <= 1
    # AP of a positively-correlated ranker beats the base rate
    base = len(terms) / len(order)
    assert r["ap_micro"] / 1e6 >= base * 0.5


def test_ndcg_reference(spark):
    import math

    from python_tool_setup_spark.queries.batch53 import q310_ndcg_at_k

    r = q310_ndcg_at_k(spark, SF_DIR).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    gains = {
        d["doc_id"]: 2 ** min(3, d["text"].count("data")) - 1 for d in docs
    }
    by_len = sorted(docs, key=lambda d: (-d["n_chars"], d["doc_id"]))[:20]
    dcg = sum(
        round(gains[d["doc_id"]] / math.log2(k + 1) * 1e9)
        for k, d in enumerate(by_len, 1)
    )
    ideal = sorted(docs, key=lambda d: (-gains[d["doc_id"]], d["doc_id"]))[:20]
    idcg = sum(
        round(gains[d["doc_id"]] / math.log2(k + 1) * 1e9)
        for k, d in enumerate(ideal, 1)
    )
    assert abs(r["dcg_nano"] - dcg) <= 20
    assert abs(r["idcg_nano"] - idcg) <= 20
    assert abs(r["ndcg_micro"] - round(dcg / idcg * 1e6)) <= 2
    assert 0 < r["ndcg_micro"] <= 1_000_000


def test_multiclass_f1_reference(spark):
    import hashlib

    from python_tool_setup_spark.queries.batch53 import q311_multiclass_f1

    rows = {r["class"]: r for r in q311_multiclass_f1(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    pairs = []
    for d in docs:
        h = int(hashlib.md5(f"noise|{d['doc_id']}".encode()).hexdigest()[:15], 16)
        pred = "en" if h % 4 == 0 else d["lang"]
        pairs.append((d["lang"], pred))
    classes = {a for a, _ in pairs}
    assert set(rows) == classes
    f1s = []
    for c in classes:
        tp = sum(1 for a, p in pairs if a == c and p == c)
        fp = sum(1 for a, p in pairs if p == c and a != c)
        fn = sum(1 for a, p in pairs if a == c and p != c)
        r = rows[c]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
        f1 = round(2 * tp / (2 * tp + fp + fn) * 1e6)
        assert abs(r["f1_micro_units"] - f1) <= 1
        f1s.append(r["f1_micro_units"])
    any_r = next(iter(rows.values()))
    assert abs(any_r["macro_f1_micro"] - round(sum(f1s) / len(f1s))) <= 1
    acc = sum(1 for a, p in pairs if a == p) / len(pairs)
    assert abs(any_r["micro_f1_micro"] - round(acc * 1e6)) <= 1


def test_source_vocab_jaccard_reference(spark):
    from python_tool_setup_spark.queries.batch53 import q312_source_vocab_jaccard

    rows = q312_source_vocab_jaccard(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    vocab: dict = {}
    for d in docs:
        vocab.setdefault(d["source"], set()).update(d["text"].split(" "))
    got = {(r["s1"], r["s2"]): r for r in rows}
    srcs = sorted(vocab)
    expect_pairs = {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
        if vocab[a] & vocab[b]
    }
    assert set(got) == expect_pairs
    for (a, b), r in got.items():
        inter = len(vocab[a] & vocab[b])
        union = len(vocab[a] | vocab[b])
        assert (r["n_inter"], r["n1"], r["n2"]) == (
            inter,
            len(vocab[a]),
            len(vocab[b]),
        )
        assert abs(r["jaccard_micro"] - round(inter / union * 1e6)) <= 1


def test_state_store_reader_matches_batch(spark):
    from pyspark.sql import functions as F

    from python_tool_setup_spark.queries.batch54 import (
        q313_state_store_reader,
        q314_state_metadata,
    )

    got = {
        r["event_type"]: (r["total_cents"], r["n"])
        for r in q313_state_store_reader(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    expect = {
        r["event_type"]: (r["tc"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("tc"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == expect
    md = q314_state_metadata(spark, SF_DIR).collect()
    assert len(md) == 1
    assert md[0]["operator_name"] == "stateStoreSave"
    assert md[0]["num_partitions"] == 4


def test_cuped_reference(spark):
    import datetime

    from python_tool_setup_spark.queries.batch55 import q315_cuped_adjustment

    r = q315_cuped_adjustment(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    mid = datetime.datetime(2024, 1, 16)
    users: dict = {}
    for e in ev:
        x, y = users.get(e["user_id"], (0, 0))
        if e["ts"] < mid:
            x += 1
        else:
            y += 1
        users[e["user_id"]] = (x, y)
    xs = [x for x, _ in users.values()]
    ys = [y for _, y in users.values()]
    n = len(users)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in users.values())
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = [(x, y) for u, (x, y) in users.items() if u % 2 == 0]
    b = [(x, y) for u, (x, y) in users.items() if u % 2 == 1]
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert abs(r["theta_micro"] - round(theta * 1e6)) <= 1
    adj = lambda grp: sum(y for _, y in grp) / len(grp) - theta * (
        sum(x for x, _ in grp) / len(grp) - sx / n
    )
    assert abs(r["adj_diff_micro"] - round((adj(a) - adj(b)) * 1e6)) <= 2
    corr2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert abs(r["var_ratio_micro"] - round((1 - corr2) * 1e6)) <= 2
    # variance reduction means the ratio is strictly below 1
    assert r["var_ratio_micro"] < 1_000_000


def test_weighted_median_reference(spark):
    from python_tool_setup_spark.queries.batch55 import q316_weighted_median

    rows = {r["l_returnflag"]: r for r in q316_weighted_median(spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    groups: dict = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(
            (round(r["l_extendedprice"] * 100), int(r["l_quantity"]))
        )
    for g, pairs in groups.items():
        pairs.sort()
        tw = sum(w for _, w in pairs)
        cum = 0
        med = None
        for v, w in pairs:
            cum += w
            if 2 * cum >= tw:
                med = v
                break
        assert rows[g]["wmedian_cents"] == med
        assert rows[g]["total_weight"] == tw


def test_k_anonymity_reference(spark):
    from collections import Counter

    from python_tool_setup_spark.queries.batch56 import q317_k_anonymity_audit

    r = q317_k_anonymity_audit(spark, SF_DIR).collect()[0]
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
    classes: dict = {}
    for row in c:
        k = (row["c_nationkey"], row["c_mktsegment"])
        n, sens = classes.get(k, (0, set()))
        sens.add("neg" if row["c_acctbal"] < 0 else "pos")
        classes[k] = (n + 1, sens)
    sizes = [n for n, _ in classes.values()]
    ldivs = [len(s) for _, s in classes.values()]
    assert r["n_classes"] == len(classes)
    assert r["k_anonymity"] == min(sizes)
    assert r["classes_below_k"] == sum(1 for n in sizes if n < 5)
    assert r["rows_at_risk"] == sum(n for n in sizes if n < 5)
    assert r["l_diversity"] == min(ldivs)
    assert r["homogeneous_classes"] == sum(1 for l in ldivs if l < 2)


def test_dp_noisy_counts_mechanism(spark):
    import hashlib
    import math

    from python_tool_setup_spark.queries.batch56 import q318_dp_noisy_counts

    rows = q318_dp_noisy_counts(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        h = int(
            hashlib.md5(f"dp|{r['c_mktsegment']}".encode()).hexdigest()[:15], 16
        )
        u = ((h % 1000000) + 0.5) / 1000000.0
        noise = 2.0 * math.log(2.0 * u) if u < 0.5 else -(2.0 * math.log(2.0 - 2.0 * u))
        assert abs(r["noise_micro"] - round(noise * 1e6)) <= 1
        assert r["released_count"] == round(r["true_count"] + noise)


def test_grouped_trend_vs_numpy(spark):
    import numpy as np

    from python_tool_setup_spark.queries.batch57 import q319_grouped_trend

    rows = {r["event_type"]: r for r in q319_grouped_trend(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    import datetime
    from collections import Counter

    daily: dict = {}
    for e in ev:
        x = (e["ts"].date() - datetime.date(2024, 1, 1)).days
        daily.setdefault(e["event_type"], Counter())[x] += 1
    for et, c in daily.items():
        xs = np.array(sorted(c))
        ys = np.array([c[x] for x in xs], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        r = rows[et]
        assert r["n_days"] == len(xs)
        assert abs(r["slope_micro"] / 1e6 - slope) < 1e-3
        assert abs(r["intercept_micro"] / 1e6 - intercept) < 1e-3


def test_decile_lift_reference(spark):
    from python_tool_setup_spark.queries.batch57 import q320_decile_lift

    rows = q320_decile_lift(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    order = sorted(docs, key=lambda d: (-d["n_chars"], d["doc_id"]))
    n = len(order)
    from collections import Counter

    cnt: Counter = Counter()
    pos: Counter = Counter()
    for k, d in enumerate(order, 1):
        dec = (10 * (k - 1)) // n
        cnt[dec] += 1
        pos[dec] += 1 if "data" in d["text"] else 0
    base = sum(pos.values()) / n
    cum = 0
    for r in rows:
        dec = r["decile"]
        assert (r["n"], r["n_pos"]) == (cnt[dec], pos[dec])
        rate = pos[dec] / cnt[dec]
        assert abs(r["rate_micro"] - round(rate * 1e6)) <= 1
        assert abs(r["lift_micro"] - round(rate / base * 1e6)) <= 1
        cum += pos[dec]
        assert r["cum_pos"] == cum


def test_kaplan_meier_reference(spark):
    import datetime

    from python_tool_setup_spark.queries.batch58 import q321_kaplan_meier

    rows = q321_kaplan_meier(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    H = datetime.date(2024, 1, 5)
    entry: dict = {}
    fp: dict = {}
    for e in ev:
        d = e["ts"].date()
        u = e["user_id"]
        entry[u] = min(entry.get(u, d), d)
        if e["event_type"] == "purchase":
            fp[u] = min(fp.get(u, d), d)
    subjects = []
    for u, en in entry.items():
        if en > H:
            continue
        f = fp.get(u)
        if f is not None and f <= H:
            subjects.append(((f - en).days, 1))
        else:
            subjects.append(((H - en).days, 0))
    n = len(subjects)
    from collections import Counter

    totals = Counter(t for t, _ in subjects)
    events = Counter(t for t, c in subjects if c == 1)
    surv = 1.0
    expect = []
    at_risk = n
    for t in sorted(totals):
        d = events.get(t, 0)
        if d > 0:
            surv *= (at_risk - d) / at_risk
            expect.append((t, d, at_risk, surv))
        at_risk -= totals[t]
    assert len(rows) == len(expect)
    for r, (t, d, nr, s) in zip(rows, expect):
        assert (r["day"], r["n_events"], r["n_at_risk"]) == (t, d, nr)
        assert abs(r["survival_micro"] - round(s * 1e6)) <= 2
    # survival is monotone non-increasing
    sv = [r["survival_micro"] for r in rows]
    assert sv == sorted(sv, reverse=True)


def test_skipgram_pmi_reference(spark):
    import math
    from collections import Counter

    from python_tool_setup_spark.queries.batch58 import q322_skipgram_pmi

    rows = q322_skipgram_pmi(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    pair_c: Counter = Counter()
    uni: Counter = Counter()
    for d in docs:
        ws = d["text"].split(" ")
        uni.update(ws)
        for i, a in enumerate(ws):
            for j in (i + 1, i + 2):
                if j < len(ws) and ws[j] != a:
                    pair_c[(min(a, ws[j]), max(a, ws[j]))] += 1
    tp = sum(pair_c.values())
    top = sorted(pair_c.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert len(rows) == 50
    for r, ((x, y), nxy) in zip(rows, top):
        assert (r["x"], r["y"], r["n_pair"]) == (x, y, nxy)
        assert (r["n_x"], r["n_y"]) == (uni[x], uni[y])
        pmi = math.log(nxy * tp / (uni[x] * uni[y]))
        assert abs(r["pmi_micro"] - round(pmi * 1e6)) <= 1


def test_rfm_segmentation_reference(spark):
    import datetime

    from python_tool_setup_spark.queries.batch59 import q323_rfm_segmentation

    rows = q323_rfm_segmentation(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    users: dict = {}
    for e in ev:
        last, n, m = users.get(e["user_id"], (datetime.date(1970, 1, 1), 0, 0))
        users[e["user_id"]] = (
            max(last, e["ts"].date()),
            n + 1,
            m + round(e["value"] * 100),
        )
    horizon = datetime.date(2024, 1, 30)
    per = {
        u: ((horizon - last).days, n, m) for u, (last, n, m) in users.items()
    }
    N = len(per)

    def scores(key_idx, descending):
        order = sorted(
            per.items(),
            key=lambda kv: (
                -kv[1][key_idx] if descending else kv[1][key_idx],
                kv[0],
            ),
        )
        return {u: (5 * i) // N for i, (u, _) in enumerate(order)}

    r = scores(0, False)
    f = scores(1, True)
    m = scores(2, True)
    from collections import Counter

    seg_n: Counter = Counter()
    seg_m: Counter = Counter()
    for u, (_, _, mon) in per.items():
        k = (r[u], f[u], m[u])
        seg_n[k] += 1
        seg_m[k] += mon
    got = {(x["r_score"], x["f_score"], x["m_score"]): x for x in rows}
    assert set(got) == set(seg_n)
    for k, x in got.items():
        assert (x["n_users"], x["segment_monetary"]) == (seg_n[k], seg_m[k])


def test_ratio_metric_delta_reference(spark):
    import math

    from python_tool_setup_spark.queries.batch59 import q324_ratio_metric_delta

    row = q324_ratio_metric_delta(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    users: dict = {}
    for e in ev:
        x, y = users.get(e["user_id"], (0, 0))
        users[e["user_id"]] = (x + 1, y + round(e["value"] * 100))

    def arm_stats(keep):
        pts = [v for u, v in users.items() if keep(u)]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        r = sy / sx
        var = (
            (syy - sy * sy / n)
            + r * r * (sxx - sx * sx / n)
            - 2 * r * (sxy - sx * sy / n)
        ) / ((n - 1) * (sx / n) ** 2 * n)
        return n, r, var

    na, ra, va = arm_stats(lambda u: u % 2 == 0)
    nb, rb, vb = arm_stats(lambda u: u % 2 == 1)
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert abs(row["ratio_a_micro"] - round(ra * 1e6)) <= 1
    assert abs(row["ratio_b_micro"] - round(rb * 1e6)) <= 1
    z = (ra - rb) / math.sqrt(va + vb)
    assert abs(row["z_micro"] - round(z * 1e6)) <= 2


def test_hill_estimator_reference(spark):
    import math
    from collections import Counter

    from python_tool_setup_spark.queries.batch60 import q325_hill_estimator

    r = q325_hill_estimator(spark, SF_DIR).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    c = Counter(w for d in docs for w in d["text"].split(" "))
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:101]
    ns = [n for _, n in top]
    x_min = min(ns)
    terms = [round(math.log(n / x_min) * 1e9) for n in ns if n > x_min]
    assert (r["k_used"], r["x_min"]) == (len(terms), x_min)
    assert r["sum_ln_nano"] == sum(terms)
    alpha = 1.0 + len(terms) / (sum(terms) / 1e9)
    assert abs(r["alpha_micro"] - round(alpha * 1e6)) <= 1
    assert r["alpha_micro"] > 1_000_000  # a tail index must exceed 1


def test_burstiness_reference(spark):
    import math

    from python_tool_setup_spark.queries.batch60 import q326_burstiness

    rows = {r["user_id"]: r for r in q326_burstiness(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    per: dict = {}
    for e in ev:
        per.setdefault(e["user_id"], []).append(
            (e["ts"], e["event_id"])
        )
    for u, items in per.items():
        items.sort()
        gaps = [
            int(b[0].timestamp()) - int(a[0].timestamp())
            for a, b in zip(items, items[1:])
        ]
        if len(gaps) < 20:
            assert u not in rows
            continue
        k = len(gaps)
        mu = sum(gaps) / k
        var = (sum(g * g for g in gaps) - sum(gaps) ** 2 / k) / (k - 1)
        sigma = math.sqrt(var)
        b = (sigma - mu) / (sigma + mu)
        r = rows[u]
        assert r["n_gaps"] == k
        assert abs(r["mean_gap_milli_s"] - round(mu * 1000)) <= 1
        assert abs(r["burstiness_micro"] - round(b * 1e6)) <= 1
        assert -1_000_000 <= r["burstiness_micro"] <= 1_000_000


def test_char_entropy_reference(spark):
    import math
    from collections import Counter

    from python_tool_setup_spark.queries.batch61 import q327_char_entropy

    rows = {r["doc_id"]: r for r in q327_char_entropy(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    for d in docs[:40]:
        c = Counter(d["text"])
        t = sum(c.values())
        ent = sum(round(-(n / t) * math.log(n / t) * 1e9) for n in c.values())
        r = rows[d["doc_id"]]
        assert r["n_chars_counted"] == t
        assert abs(r["entropy_nano"] - ent) <= len(c)
        assert r["flagged_low_entropy"] == (r["entropy_nano"] < 2500000000)


def test_longest_streak_reference(spark):
    from python_tool_setup_spark.queries.batch61 import q328_longest_streak

    rows = {r["user_id"]: r for r in q328_longest_streak(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    per: dict = {}
    for e in ev:
        per.setdefault(e["user_id"], set()).add(e["ts"].date())
    import datetime

    for u, days in per.items():
        ds = sorted(days)
        best_len, best_start = 1, ds[0]
        cur_len, cur_start = 1, ds[0]
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                cur_len += 1
            else:
                cur_len, cur_start = 1, b
            if cur_len > best_len:
                best_len, best_start = cur_len, cur_start
        r = rows[u]
        assert r["longest_streak_days"] == best_len
        assert r["streak_start"] == best_start


def test_reconciliation_audit_counts(spark):
    from python_tool_setup_spark.queries.batch62 import q329_reconciliation_audit

    r = q329_reconciliation_audit(spark, SF_DIR).collect()[0]
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    li_sum: dict = {}
    for x in li:
        li_sum[x["l_orderkey"]] = li_sum.get(x["l_orderkey"], 0) + round(
            x["l_extendedprice"] * 100
        )
    okeys = {x["o_orderkey"]: round(x["o_totalprice"] * 100) for x in o}
    assert r["orders_without_lines"] == sum(1 for k in okeys if k not in li_sum)
    assert r["orphan_line_orders"] == sum(1 for k in li_sum if k not in okeys)
    both = [k for k in okeys if k in li_sum]
    assert r["totals_matched"] == sum(1 for k in both if okeys[k] == li_sum[k])
    assert r["totals_mismatched"] == sum(1 for k in both if okeys[k] != li_sum[k])
    assert r["abs_drift_cents"] == sum(abs(okeys[k] - li_sum[k]) for k in both)


def test_cohort_ltv_curve_reference(spark):
    from python_tool_setup_spark.queries.batch62 import q330_cohort_ltv_curve

    rows = q330_cohort_ltv_curve(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    import datetime

    entry: dict = {}
    for e in ev:
        d = e["ts"].date()
        entry[e["user_id"]] = min(entry.get(e["user_id"], d), d)
    jan1 = datetime.date(2024, 1, 1)
    from collections import Counter

    sizes = Counter((c - jan1).days // 7 for c in entry.values())
    weekly: Counter = Counter()
    for e in ev:
        if e["event_type"] != "purchase":
            continue
        c = entry[e["user_id"]]
        cw = (c - jan1).days // 7
        aw = (e["ts"].date() - c).days // 7
        weekly[(cw, aw)] += round(e["value"] * 100)
    cum: dict = {}
    by_cohort: dict = {}
    for (cw, aw), cents in sorted(weekly.items()):
        by_cohort.setdefault(cw, []).append((aw, cents))
    for cw, lst in by_cohort.items():
        acc = 0
        for aw, cents in lst:
            acc += cents
            cum[(cw, aw)] = acc
    got = {(r["cohort_week"], r["age_week"]): r for r in rows}
    assert set(got) == set(cum)
    for k, r in got.items():
        assert r["cum_cents"] == cum[k]
        assert r["cohort_users"] == sizes[k[0]]
        assert r["ltv_cents_per_user"] == round(cum[k] / sizes[k[0]])


def test_windowed_funnel_reference(spark):
    from python_tool_setup_spark.queries.batch63 import q331_windowed_funnel

    r = q331_windowed_funnel(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    per: dict = {}
    for e in ev:
        per.setdefault(e["user_id"], []).append((e["ts"], e["event_type"]))
    n_users = len(per)
    sv = sc = sp = 0
    for u, items in per.items():
        views = [t for t, et in items if et == "view"]
        if not views:
            continue
        sv += 1
        v = min(views)
        clicks = [
            t
            for t, et in items
            if et == "click" and t > v and (t - v).total_seconds() <= 1800
        ]
        if not clicks:
            continue
        sc += 1
        c = min(clicks)
        buys = [
            t
            for t, et in items
            if et == "purchase" and t > c and (t - c).total_seconds() <= 1800
        ]
        if buys:
            sp += 1
    assert (r["n_users"], r["step_view"], r["step_click_30m"], r["step_purchase_30m"]) == (
        n_users,
        sv,
        sc,
        sp,
    )
    assert r["step_view"] >= r["step_click_30m"] >= r["step_purchase_30m"]


def test_join_cardinality_estimate_sane(spark):
    from python_tool_setup_spark.queries.batch63 import (
        q332_join_cardinality_estimate,
    )

    r = q332_join_cardinality_estimate(spark, SF_DIR).collect()[0]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    assert r["exact_rows"] == li  # every line has its order
    assert r["estimated_rows"] % 16 == 0
    # universe sampling keeps variance low on uniform keys
    assert r["rel_err_micro"] <= 500_000


def test_ppjoin_equals_bruteforce(spark):
    from python_tool_setup_spark.queries.batch64 import (
        _shingles,
        q333_ppjoin_similarity,
    )

    got = {
        (r["d1"], r["d2"]): (r["n_inter"], r["jaccard_micro"])
        for r in q333_ppjoin_similarity(spark, SF_DIR).collect()
    }
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = _shingles(d.selectExpr("doc_id", "text")).collect()
    sets: dict = {}
    for r in toks:
        sets.setdefault(r["doc_id"], set()).add(r["sh"])
    ids = sorted(sets)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            union = len(sets[a] | sets[b])
            if 5 * inter >= 3 * union:
                brute[(a, b)] = (inter, round(inter / union * 1e6))
    assert got == brute  # prefix filter lost nothing, added nothing


def test_contribution_shares_sum_to_one(spark):
    from python_tool_setup_spark.queries.batch65 import q334_contribution_analysis

    rows = q334_contribution_analysis(spark, SF_DIR).collect()
    assert rows
    total_delta = sum(r["delta_cents"] for r in rows)
    assert total_delta == sum(r["rev2_cents"] - r["rev1_cents"] for r in rows)
    share_sum = sum(r["share_of_change_micro"] for r in rows)
    assert abs(share_sum - 1_000_000) <= len(rows)  # rounding only
    ranks = sorted(r["impact_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


def test_mix_shift_identity(spark):
    from pyspark.sql import functions as F

    from python_tool_setup_spark.queries.batch65 import (
        q335_mix_shift_decomposition,
    )

    rows = q335_mix_shift_decomposition(spark, SF_DIR).collect()
    assert rows
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    p1 = o.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    p2 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )

    def rate(df):
        n = df.count()
        u = df.filter(F.col("o_orderpriority") == "1-URGENT").count()
        return u / n

    overall_delta = rate(p2) - rate(p1)
    decomposed = sum(
        r["within_effect_micro"] + r["mix_effect_micro"] for r in rows
    )
    # the decomposition identity: effects sum to the overall rate delta
    assert abs(decomposed - overall_delta * 1e6) <= 2 * len(rows)


def test_rolling_backtest_reference(spark):
    import datetime
    from collections import Counter

    from python_tool_setup_spark.queries.batch66 import q336_rolling_backtest

    rows = {r["horizon"]: r for r in q336_rolling_backtest(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    jan1 = datetime.date(2024, 1, 1)
    daily: Counter = Counter()
    for e in ev:
        daily[(e["event_type"], (e["ts"].date() - jan1).days)] += 1
    for h in (1, 2, 3):
        errs = []
        for origin in range(14, 26):
            t = origin + h
            for et in {k[0] for k in daily}:
                if (et, t) in daily and (et, t - 7) in daily:
                    errs.append(abs(daily[(et, t)] - daily[(et, t - 7)]))
        r = rows[h]
        assert r["n_evals"] == len(errs)
        assert r["sum_abs_err"] == sum(errs)
        assert abs(r["mae_micro"] - round(sum(errs) / len(errs) * 1e6)) <= 1


def test_freshness_sla_reference(spark):
    import datetime

    from python_tool_setup_spark.queries.batch66 import q337_freshness_sla

    rows = {r["event_type"]: r for r in q337_freshness_sla(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    as_of = datetime.datetime(2024, 1, 31)
    per: dict = {}
    for e in ev:
        mx, n24, n = per.get(e["event_type"], (None, 0, 0))
        mx = e["ts"] if mx is None or e["ts"] > mx else mx
        if e["ts"] >= as_of - datetime.timedelta(hours=24):
            n24 += 1
        per[e["event_type"]] = (mx, n24, n + 1)
    for et, (mx, n24, n) in per.items():
        r = rows[et]
        lag = (int(as_of.timestamp()) - int(mx.timestamp())) // 60
        assert r["lag_minutes"] == lag
        assert (r["rows_last_24h"], r["rows_total"]) == (n24, n)
        assert r["sla_breached"] == (lag > 2880)


def test_centroid_cosine_vs_numpy(spark):
    import numpy as np

    from python_tool_setup_spark.queries.batch67 import (
        q338_centroid_cosine_matrix,
        q339_cluster_compactness,
    )

    got = {
        (r["l1"], r["l2"]): r["cos_micro"]
        for r in q338_centroid_cosine_matrix(spark, SF_DIR).collect()
    }
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    by_label: dict = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(
            np.round(np.array(r["embedding"], dtype=np.float64) * 1e6)
        )
    sums = {l: np.sum(vs, axis=0) for l, vs in by_label.items()}
    labels = sorted(sums)
    assert len(got) == len(labels) * (len(labels) - 1) // 2
    for i, a in enumerate(labels):
        for b in labels[i + 1 :]:
            cos = float(
                sums[a] @ sums[b]
                / (np.linalg.norm(sums[a]) * np.linalg.norm(sums[b]))
            )
            assert abs(got[(a, b)] - round(cos * 1e6)) <= 1
    comp = {r["label"]: r for r in q339_cluster_compactness(spark, SF_DIR).collect()}
    for l, vs in by_label.items():
        n = len(vs)
        c = sums[l] / n
        avg_sq = float(np.mean([np.sum((v - c) ** 2) for v in vs])) / 1e12
        r = comp[l]
        assert r["n_vectors"] == n
        assert abs(r["avg_sq_dist_micro"] - round(avg_sq * 1e6)) <= 2
        norm = float(np.linalg.norm(c)) / 1e6
        assert abs(r["centroid_norm_micro"] - round(norm * 1e6)) <= 2


def test_mann_kendall_reference(spark):
    import datetime
    import math
    from collections import Counter

    from python_tool_setup_spark.queries.batch68 import q340_mann_kendall

    rows = {r["event_type"]: r for r in q340_mann_kendall(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    jan1 = datetime.date(2024, 1, 1)
    daily: dict = {}
    for e in ev:
        daily.setdefault(e["event_type"], Counter())[
            (e["ts"].date() - jan1).days
        ] += 1
    for et, c in daily.items():
        xs = [c[d] for d in sorted(c)]
        n = len(xs)
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        tc = Counter(xs)
        tie = sum(t * (t - 1) * (2 * t + 5) for t in tc.values())
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        z = ((s - 1) if s > 0 else (s + 1) if s < 0 else 0) / math.sqrt(var)
        r = rows[et]
        assert (r["n_days"], r["s_stat"]) == (n, s)
        assert abs(r["z_micro"] - round(z * 1e6)) <= 1


def test_theil_sen_reference(spark):
    import datetime
    from collections import Counter

    from python_tool_setup_spark.queries.batch68 import q341_theil_sen

    rows = {r["event_type"]: r for r in q341_theil_sen(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    jan1 = datetime.date(2024, 1, 1)
    daily: dict = {}
    for e in ev:
        daily.setdefault(e["event_type"], Counter())[
            (e["ts"].date() - jan1).days
        ] += 1
    for et, c in daily.items():
        ds = sorted(c)
        slopes = sorted(
            round((c[ds[j]] - c[ds[i]]) / (ds[j] - ds[i]) * 1e6)
            for i in range(len(ds))
            for j in range(i + 1, len(ds))
        )
        n = len(slopes)
        lower_median = slopes[(n + 1) // 2 - 1]
        r = rows[et]
        assert r["n_slopes"] == n
        assert r["theil_sen_slope_micro"] == lower_median


def test_mantel_haenszel_reference(spark):
    from python_tool_setup_spark.queries.batch69 import q342_mantel_haenszel

    r = q342_mantel_haenszel(spark, SF_DIR).collect()[0]
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    c = {
        x["c_custkey"]: x["c_mktsegment"]
        for x in spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
    }
    cells: dict = {}
    for x in o:
        seg = c[x["o_custkey"]]
        e = 1 if x["o_orderkey"] % 2 == 0 else 0
        y = 1 if x["o_orderpriority"] == "1-URGENT" else 0
        a, b, cc, d = cells.get(seg, (0, 0, 0, 0))
        if e and y:
            a += 1
        elif e:
            b += 1
        elif y:
            cc += 1
        else:
            d += 1
        cells[seg] = (a, b, cc, d)
    assert r["n_strata"] == len(cells)
    ta = sum(v[0] for v in cells.values())
    tb = sum(v[1] for v in cells.values())
    tc = sum(v[2] for v in cells.values())
    td = sum(v[3] for v in cells.values())
    crude = (ta * td) / (tb * tc)
    assert abs(r["crude_or_micro"] - round(crude * 1e6)) <= 1
    num = sum(round(a * d / (a + b + cc + d) * 1e9) for a, b, cc, d in cells.values())
    den = sum(round(b * cc / (a + b + cc + d) * 1e9) for a, b, cc, d in cells.values())
    assert abs(r["mh_or_micro"] - round(num / den * 1e6)) <= 1


def test_shapley_attribution_efficiency(spark):
    from python_tool_setup_spark.queries.batch69 import (
        _CHANNELS,
        q343_shapley_attribution,
    )

    rows = {r["channel"]: r for r in q343_shapley_attribution(spark, SF_DIR).collect()}
    assert set(rows) == set(_CHANNELS)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    fp: dict = {}
    for e in ev:
        if e["event_type"] == "purchase":
            fp[e["user_id"]] = min(fp.get(e["user_id"], e["ts"]), e["ts"])
    touch: dict = {}
    users = set()
    for e in ev:
        users.add(e["user_id"])
        if e["event_type"] == "purchase":
            continue
        if e["user_id"] not in fp or e["ts"] < fp[e["user_id"]]:
            touch.setdefault(e["user_id"], set()).add(e["event_type"])
    from collections import Counter

    n_set: Counter = Counter()
    conv_set: Counter = Counter()
    for u in users:
        key = ",".join(sorted(touch.get(u, set())))
        n_set[key] += 1
        conv_set[key] += 1 if u in fp else 0
    v = {k: round(conv_set[k] / n_set[k] * 1e9) for k in n_set}
    full = ",".join(sorted(_CHANNELS))
    # efficiency: 24 * (v(full) - v(empty)) == sum of phi24
    phi24_sum = sum(r["phi24_nano"] for r in rows.values())
    assert phi24_sum == 24 * (v.get(full, 0) - v.get("", 0))


def test_largest_remainder_sums_to_budget(spark):
    from python_tool_setup_spark.queries.batch70 import (
        _BUDGET,
        q344_largest_remainder,
    )

    rows = q344_largest_remainder(spark, SF_DIR).collect()
    total_docs = sum(r["n_docs"] for r in rows)
    assert sum(r["allocated"] for r in rows) == _BUDGET
    for r in rows:
        # quota property: allocation within 1 of the exact proportion
        exact = _BUDGET * r["n_docs"] / total_docs
        assert exact - 1 < r["allocated"] < exact + 1
        assert r["floor_quota"] == (_BUDGET * r["n_docs"]) // total_docs


def test_date_spine_gaps_reference(spark):
    import datetime

    from python_tool_setup_spark.queries.batch70 import q345_date_spine_gaps

    r = q345_date_spine_gaps(spark, SF_DIR).collect()[0]
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    days = set()
    n_orders = 0
    for x in o:
        d = x["o_orderdate"].date()
        if datetime.date(1995, 1, 1) <= d <= datetime.date(1995, 12, 31):
            days.add(d)
            n_orders += 1
    spine = [
        datetime.date(1995, 1, 1) + datetime.timedelta(days=i) for i in range(365)
    ]
    gaps = [d for d in spine if d not in days]
    assert r["n_days"] == 365
    assert r["n_gap_days"] == len(gaps)
    assert r["n_orders"] == n_orders
    # gap brackets are ISO strings since r7 (nullable DATE finals
    # render None on Spark's pandas fetch but NaT on DuckDB's —
    # the driver-hash divergence class)
    if gaps:
        assert (r["first_gap_day"], r["last_gap_day"]) == (
            gaps[0].isoformat(),
            gaps[-1].isoformat(),
        )
    else:
        assert r["first_gap_day"] is None and r["last_gap_day"] is None


def test_evalmetrics_single_input_evaluation(spark):
    """r10 optimization pin: every evalmetrics operator materializes
    its input ONCE (blockrank.pin) instead of re-instantiating the
    caller's plan per consumer. A Range source makes the property
    checkable from the plan text: with the pin the Range node is
    fully replaced by the checkpoint scan; without it the fan-out
    re-instantiates Range (2-3 copies)."""
    from pyspark.sql import functions as F

    from python_tool_setup_spark.operators.evalmetrics import (
        average_precision,
        calibration_ece,
        ndcg_at_k,
    )

    src = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 37 % 101).alias("s"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
        (F.col("id") % 7).cast("int").alias("gain"),
        (F.col("id") * 4999 % 1000001).cast("long").alias("p_micro"),
    )
    for out in (
        average_precision(src, "s", "doc_id", "y"),
        ndcg_at_k(src, "s", "doc_id", "gain", 10),
        calibration_ece(src, "p_micro", "y", n_bins=10),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Range (" not in plan, plan[:2000]

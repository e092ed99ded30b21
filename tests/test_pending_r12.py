"""Round-12 queries (temporal anomaly & structure family): each one
passes the driver-strength oracle comparison, plus python model pins
per statistic."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from cdc_2025_spark.queries import ORACLES, QUERIES, pending_r12
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
    n for n, f in QUERIES.items() if f.__module__ == pending_r12.__name__
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
    """Every pending_r12 query is registered and oracle-backed."""
    assert len(NAMES) == 20
    assert all(n in ORACLES for n in NAMES)


def test_statistics_are_nontrivial(spark):
    """Each diagnostic must be non-degenerate at test scale: the EWMA
    audit sees full 30-day series; the STL decomposition has positive
    MAD and bounded seasonal strength; binseg yields three genuine
    splits ordered root-first with positive gain; label propagation
    converges to at least one multi-member community covering all 25
    nations; the JL audit's 780 ratios straddle 1; the runs test has
    both up and down days."""
    rows = {
        r["event_type"]: r
        for r in pending_r12.events_ewma_anomaly(spark, SF_DIR).collect()
    }
    assert len(rows) == 5
    assert all(r["n_days"] >= 28 for r in rows.values())
    assert all(r["series_sd"] > 0 for r in rows.values())

    stl = {
        r["event_type"]: r
        for r in pending_r12.events_stl_residual_outliers(
            spark, SF_DIR
        ).collect()
    }
    assert len(stl) == 5
    assert all(0 <= r["seasonal_strength"] <= 1 for r in stl.values())
    assert all(r["resid_mad"] >= 0 for r in stl.values())

    bs = pending_r12.events_binseg_changepoints(spark, SF_DIR).collect()
    # a degenerate side (single-day segment after the root split) has
    # no level-2 split of its own — 2 or 3 rows are both legal
    assert 2 <= len(bs) <= 3
    levels = sorted((r["level"], r["segment"]) for r in bs)
    assert (1, "all") in levels
    assert all(lv == 1 or seg in ("left", "right") for lv, seg in levels)
    assert all(r["gain"] >= 0 for r in bs)
    root = next(r for r in bs if r["level"] == 1)
    for r in bs:
        if r["segment"] == "left":
            assert r["split_day"] <= root["split_day"]
        elif r["segment"] == "right":
            assert r["split_day"] > root["split_day"]

    lp = pending_r12.graph_label_propagation_communities(
        spark, SF_DIR
    ).collect()
    assert len(lp) == 25
    assert max(r["community_size"] for r in lp) >= 2

    jl = pending_r12.embed_jl_distortion_audit(spark, SF_DIR).collect()[0]
    assert jl["n_pairs"] == (
        pending_r12.JL_SAMPLE_IDS * (pending_r12.JL_SAMPLE_IDS - 1) // 2
    )
    assert jl["min_ratio"] < 1 < jl["max_ratio"]
    assert 0.5 < jl["avg_ratio"] < 1.5

    rt = pending_r12.stats_runs_test_daily_revenue(
        spark, SF_DIR
    ).collect()[0]
    assert rt["n_up"] > 0 and rt["n_down"] > 0
    assert rt["n_runs"] >= 2
    assert math.isfinite(rt["z_score"])


def test_ewma_matches_python_model(spark):
    """The closed-form window evaluation must equal the plain
    recursive EWMA to float precision, per event type."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    ev = read_table(spark, SF_DIR, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("x"))
        .orderBy("event_type", "day")
        .collect()
    )
    series = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append(r["x"])
    got = {
        r["event_type"]: r["final_ewma"]
        for r in pending_r12.events_ewma_anomaly(spark, SF_DIR).collect()
    }
    a = pending_r12.EWMA_ALPHA
    for et, xs in series.items():
        e = xs[0]
        for v in xs[1:]:
            e = a * v + (1 - a) * e
        assert got[et] == pytest.approx(round(e, 4), abs=2e-4), et


def test_binseg_beats_exhaustive_python(spark):
    """The root split must equal the exhaustive python argmax of the
    SSE gain over all split points (ties -> earliest day)."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    ev = read_table(spark, SF_DIR, "events")
    daily = sorted(
        (r["day"], r["c"])
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    cs = [c for _, c in daily]
    n = len(cs)
    sn = sum(cs)
    best = None
    sk = 0
    for k in range(1, n):
        sk += cs[k - 1]
        gain = sk * sk / k + (sn - sk) ** 2 / (n - k) - sn * sn / n
        key = (round(gain, 6), -k)
        if best is None or key > best[0]:
            best = (key, daily[k - 1][0], gain)
    root = next(
        r
        for r in pending_r12.events_binseg_changepoints(
            spark, SF_DIR
        ).collect()
        if r["level"] == 1
    )
    assert root["split_day"] == best[1]
    assert root["gain"] == pytest.approx(round(best[2], 4), abs=1e-6)


def test_label_propagation_matches_python_model(spark):
    """Engine labels equal a plain-python synchronous weighted LP
    over the same symmetrized edges (min-label tie-break)."""
    from pyspark.sql import functions as F  # noqa: F401

    from cdc_2025_spark.queries.graph import trade_edges

    e = trade_edges(spark, SF_DIR).collect()
    w = {}
    for r in e:
        if r["src"] == r["dst"]:
            continue
        w[(r["src"], r["dst"])] = w.get((r["src"], r["dst"]), 0) + r["w"]
        w[(r["dst"], r["src"])] = w.get((r["dst"], r["src"]), 0) + r["w"]
    nodes = sorted({a for a, _ in w})
    label = {v: v for v in nodes}
    for _ in range(pending_r12.LP_ITERS):
        nxt = {}
        for v in nodes:
            votes = {}
            for (a, b), wt in w.items():
                if a == v:
                    votes[label[b]] = votes.get(label[b], 0) + wt
            nxt[v] = min(
                votes, key=lambda l: (-votes[l], l)  # noqa: E741
            )
        label = nxt
    got = {
        r["n_name"]: r["community"]
        for r in pending_r12.graph_label_propagation_communities(
            spark, SF_DIR
        ).collect()
    }
    assert got == label


def test_runs_test_matches_python_model(spark):
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    orders = read_table(spark, SF_DIR, "orders")
    daily = sorted(
        (r["day"], r["rev"])
        for r in orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
        .collect()
    )
    sgns = []
    for (pd_, pv), (_, cv) in zip(daily, daily[1:]):
        if cv > pv:
            sgns.append(1)
        elif cv < pv:
            sgns.append(-1)
    n_runs = sum(
        1 for i, s in enumerate(sgns) if i == 0 or sgns[i - 1] != s
    )
    got = pending_r12.stats_runs_test_daily_revenue(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_runs"] == n_runs
    assert got["n_up"] == sum(1 for s in sgns if s == 1)
    assert got["n_down"] == sum(1 for s in sgns if s == -1)


def test_seasonal_naive_and_bootstrap_nontrivial(spark):
    """The backtest evaluates most of the month per type (23 of 30
    days have a 7-back ancestor) with finite errors; the bootstrap CI
    is a proper interval containing the plain corpus mean with a
    positive standard error."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    bt = {
        r["event_type"]: r
        for r in pending_r12.forecast_seasonal_naive_backtest(
            spark, SF_DIR
        ).collect()
    }
    assert len(bt) == 5
    for r in bt.values():
        assert r["n_eval"] >= 20
        assert r["mae"] >= 0 and 0 <= r["smape"] <= 2.0

    ci = pending_r12.stats_bootstrap_ci_mean(spark, SF_DIR).collect()[0]
    mean = (
        read_table(spark, SF_DIR, "events")
        .filter(F.col("value").isNotNull())
        .agg(F.avg("value"))
        .first()[0]
    )
    assert ci["n_replicates"] == pending_r12.BOOT_B
    assert ci["ci_lo"] < mean < ci["ci_hi"]
    assert ci["boot_se"] > 0
    assert ci["ci_lo"] <= ci["boot_mean"] <= ci["ci_hi"]


def test_bootstrap_matches_python_model(spark):
    """Replicate means equal a plain-python recompute of the SAME
    md5-derived Poisson(1) weights — the determinism that makes a
    distributed bootstrap auditable."""
    import hashlib

    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    rows = (
        read_table(spark, SF_DIR, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
        .collect()
    )
    want = {}
    for b in range(pending_r12.BOOT_B):
        num = den = 0.0
        for r in rows:
            h = hashlib.md5(
                f"boot:{r['event_id']}:{b}".encode()
            ).hexdigest()
            u = int(h[:8], 16) / 4294967296.0
            w = sum(1 for c in pending_r12._POIS1_CDF if u > c)
            num += w * r["value"]
            den += w
        want[b] = round(num / den, 4)
    # recompute the replicate frame (the query's inner aggregate)
    ev = read_table(spark, SF_DIR, "events").filter(
        F.col("value").isNotNull()
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    w = sum((u > F.lit(c)).cast("int") for c in pending_r12._POIS1_CDF)
    got = {
        r["b"]: r["m"]
        for r in ev.join(
            F.broadcast(
                spark.range(pending_r12.BOOT_B).select(
                    F.col("id").cast("int").alias("b")
                )
            ),
            how="cross",
        )
        .select("b", "value", w.alias("w"))
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("value")) / F.sum("w"), 4
            ).alias("m")
        )
        .collect()
    }
    assert got == pytest.approx(want, abs=2e-4)


# ---------------------------------------------------------------------------
# Round-12 second wave: survival / inequality / association /
# k-core / FDR / isotonic / burstiness model + sanity pins
# ---------------------------------------------------------------------------


def test_km_matches_python_model(spark):
    """Engine KM table equals a plain-python product-limit replay
    over the same (duration, event) observations."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    o = read_table(spark, SF_DIR, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    rows = sorted(
        (r["o_custkey"], r["day"]) for r in o.collect()
    )
    gmax = max(d for _, d in rows)
    by_cust = {}
    for c, d in rows:
        by_cust.setdefault(c, []).append(d)
    obs = []
    for days in by_cust.values():
        days.sort()
        for a, b in zip(days, days[1:]):
            obs.append(((b - a).days, 1))
        obs.append(((gmax - days[-1]).days, 0))
    from collections import Counter

    d_at = Counter(t for t, e in obs if e == 1)
    c_at = Counter(t for t, e in obs if e == 0)
    at_risk = len(obs)
    surv, want = 1.0, {}
    for t in sorted(set(t for t, _ in obs)):
        d, c = d_at.get(t, 0), c_at.get(t, 0)
        if d:
            surv *= 1.0 - d / at_risk
            want[t] = (at_risk, d, c, round(surv, 4))
        at_risk -= d + c
    got = {
        r["duration_days"]: (
            r["n_risk"],
            r["n_events"],
            r["n_censored"],
            r["survival"],
        )
        for r in pending_r12.survival_km_reorder(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][:3] == want[t][:3], (t, got[t], want[t])
        assert got[t][3] == pytest.approx(want[t][3], abs=1e-4)


def test_km_survival_is_monotone_decreasing(spark):
    rows = (
        pending_r12.survival_km_reorder(spark, SF_DIR)
        .orderBy("duration_days")
        .collect()
    )
    assert rows, "KM table is empty"
    sv = [r["survival"] for r in rows]
    assert all(a >= b for a, b in zip(sv, sv[1:]))
    assert all(0.0 <= s <= 1.0 for s in sv)
    assert sv[0] < 1.0  # at least one event at the first time


def test_kcore_matches_python_peeling(spark):
    """h-index iteration fixed point == classical peeling coreness."""
    from cdc_2025_spark.queries.graph import trade_edges

    e = trade_edges(spark, SF_DIR).collect()
    adj = {}
    for r in e:
        if r["src"] == r["dst"]:
            continue
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    deg = {v: len(ns) for v, ns in adj.items()}
    core = dict(deg)
    remaining = set(adj)
    k = 0
    while remaining:
        k_v = min(remaining, key=lambda v: (core_deg(v, adj, remaining)))
        k = max(k, core_deg(k_v, adj, remaining))
        core[k_v] = k
        remaining.discard(k_v)
    got = {
        r["n_name"]: (r["coreness"], r["degree"])
        for r in pending_r12.graph_kcore_trade_network(
            spark, SF_DIR
        ).collect()
    }
    assert {v: c for v, (c, _) in got.items()} == core
    assert {v: d for v, (_, d) in got.items()} == deg


def core_deg(v, adj, remaining):
    return sum(1 for u in adj[v] if u in remaining)


def test_isotonic_equals_sequential_pav(spark):
    """The minimax lattice form equals the classic sequential
    pool-adjacent-violators loop on the same bin table."""
    rows = (
        pending_r12.eval_isotonic_calibration(spark, SF_DIR)
        .orderBy("bin")
        .collect()
    )
    assert rows, "no bins"
    # rebuild (n, s) from n and raw_rate: s = round(raw*n) exactly
    blocks = [
        [r["n"], round(r["raw_rate"] * r["n"]), r["bin"], r["bin"]]
        for r in rows
    ]
    stack = []
    for b in blocks:
        stack.append(list(b))
        while len(stack) >= 2 and (
            stack[-2][1] * stack[-1][0] > stack[-1][1] * stack[-2][0]
        ):
            n2, s2, _, hi = stack.pop()
            n1, s1, lo, _ = stack.pop()
            stack.append([n1 + n2, s1 + s2, lo, hi])
    want = {}
    for n, s, lo, hi in stack:
        for b in range(lo, hi + 1):
            want[b] = round(s / n, 6)
    got = {r["bin"]: r["iso_rate"] for r in rows}
    assert set(got) >= set(want)
    for b, v in want.items():
        if b in got:
            assert got[b] == pytest.approx(v, abs=1e-6), (b, got[b], v)
    # and it is monotone non-decreasing in bin order
    iso = [r["iso_rate"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:]))


def test_bh_fdr_stepup_property(spark):
    """The rejected set is exactly ranks 1..k for the largest k with
    p_(k) <= k q / m (step-up, not step-down)."""
    rows = (
        pending_r12.stats_bh_fdr_trend_screen(spark, SF_DIR)
        .orderBy("bh_rank")
        .collect()
    )
    assert rows
    m = len(rows)
    ks = [
        r["bh_rank"]
        for r in rows
        if r["p_value"] <= round(r["bh_rank"] * pending_r12.BH_Q / m, 6)
    ]
    k = max(ks) if ks else 0
    for r in rows:
        assert r["rejected"] == (1 if r["bh_rank"] <= k else 0)
    # p-values are sorted by rank
    ps = [r["p_value"] for r in rows]
    assert ps == sorted(ps)


def test_gini_chi2_fano_sanity(spark):
    gini = pending_r12.stats_gini_customer_spend(spark, SF_DIR).collect()
    assert gini
    for r in gini:
        if r["gini"] is not None:
            assert -1e-9 <= r["gini"] <= 1.0
            assert 0.0 <= r["top_decile_share"] <= 1.0
    chi = pending_r12.stats_chi2_type_dow(spark, SF_DIR).collect()[0]
    assert chi["chi2"] >= 0.0
    assert chi["dof"] == (chi["n_types"] - 1) * (chi["n_dows"] - 1)
    assert 0.0 <= chi["cramers_v"] <= 1.0
    assert chi["mi_nats"] >= -1e-9
    fano = pending_r12.stats_fano_burstiness(spark, SF_DIR).collect()
    assert fano
    for r in fano:
        assert r["fano_daily"] is not None and r["fano_daily"] >= 0.0
        if r["burstiness"] is not None:
            assert -1.0 - 1e-9 <= r["burstiness"] <= 1.0 + 1e-9


def test_theil_decomposition_identity(spark):
    """between + within contributions sum EXACTLY to the global Theil
    computed directly from the customer spends (additive
    decomposability — the property the query exists to expose), and
    every within-group Theil is >= 0."""
    import math

    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    rows = pending_r12.stats_theil_decomposition(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["theil_within_group"] >= -1e-9
    got_total = sum(r["between_contrib"] for r in rows) + sum(
        r["within_contrib"] for r in rows
    )
    spend = (
        read_table(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("x"))
        .join(
            read_table(spark, SF_DIR, "customer").select(
                F.col("c_custkey").alias("o_custkey")
            ),
            "o_custkey",
        )
        .collect()
    )
    xs = [r["x"] for r in spend if r["x"] and r["x"] > 0]
    mu = sum(xs) / len(xs)
    want = sum((x / mu) * math.log(x / mu) for x in xs) / len(xs)
    assert got_total == pytest.approx(want, abs=5e-5)


def test_spearman_matches_numpy_model(spark):
    """Engine rho per segment equals a numpy midrank replay (ranks
    via argsort with tie-group mean), and sits in [-1, 1]."""
    import numpy as np

    from cdc_2025_spark.io import read_table

    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    segs = {}
    for r in li:
        segs.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], r["l_quantity"])
        )

    def midranks(vals):
        import collections

        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        by_val = collections.defaultdict(list)
        for pos, i in enumerate(order, start=1):
            by_val[vals[i]].append((pos, i))
        for grp in by_val.values():
            mean_rank = sum(p for p, _ in grp) / len(grp)
            for _, i in grp:
                ranks[i] = mean_rank
        return np.asarray(ranks)

    got = {
        r["l_returnflag"]: r["spearman_rho"]
        for r in pending_r12.stats_spearman_price_quantity(
            spark, SF_DIR
        ).collect()
    }
    for flag, pairs in segs.items():
        rx = midranks([p for p, _ in pairs])
        ry = midranks([q for _, q in pairs])
        want = float(np.corrcoef(rx, ry)[0, 1])
        assert got[flag] == pytest.approx(round(want, 4), abs=2e-4)
        assert -1.0 <= got[flag] <= 1.0


def test_kruskal_wallis_matches_textbook_form(spark):
    """The engine computes H via the centered-sum form; this replay
    uses the TEXTBOOK form H = 12/(N(N+1)) sum R_g^2/n_g - 3(N+1)
    (different algebra, same value) with midranks from a python sort
    — a genuine cross-check, not a mirror."""
    import collections

    from cdc_2025_spark.io import read_table

    o = read_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = read_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_totalprice")
        .collect()
    )
    vals = [r["o_totalprice"] for r in rows]
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    rank = [0.0] * len(vals)
    by_val = collections.defaultdict(list)
    for pos, i in enumerate(order, start=1):
        by_val[vals[i]].append((pos, i))
    tie_sum = 0
    for grp in by_val.values():
        mean_rank = sum(p for p, _ in grp) / len(grp)
        t = len(grp)
        tie_sum += t * t * t - t
        for _, i in grp:
            rank[i] = mean_rank
    rsum = collections.defaultdict(float)
    ng = collections.defaultdict(int)
    for r, row in zip(rank, rows):
        rsum[row["c_mktsegment"]] += r
        ng[row["c_mktsegment"]] += 1
    n = len(rows)
    h = 12.0 / (n * (n + 1)) * sum(
        rsum[g] ** 2 / ng[g] for g in rsum
    ) - 3 * (n + 1)
    h /= 1.0 - tie_sum / (n**3 - n)
    got = pending_r12.stats_kruskal_wallis_segments(
        spark, SF_DIR
    ).collect()[0]
    assert got["n_orders"] == n
    assert got["n_groups"] == len(ng)
    assert got["h_stat"] == pytest.approx(round(h, 4), abs=2e-3)
    assert 0.0 <= got["p_value"] <= 1.0


def test_conformal_qhat_matches_python_rank_rule(spark):
    """q_hat per type equals the ceil((n+1)*0.9)-th smallest
    calibration residual computed from a python replay of the same
    count series; coverage in [0, 1]; types whose conformal rank
    exceeds n_cal stay VISIBLE with q_hat NULL and coverage 1.0
    (the infinite-interval convention — data-starved types must not
    vanish from a calibration audit)."""
    import math
    from collections import defaultdict

    from pyspark.sql import functions as F

    from cdc_2025_spark.io import read_table

    ev = read_table(spark, SF_DIR, "events").filter(
        F.col("event_type").isNotNull()
    )
    daily = {
        (r["event_type"], r["day"]): r["x"]
        for r in ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(F.count("*").alias("x"))
        .collect()
    }
    import datetime

    monday = datetime.date(1970, 1, 5)
    cal, test = defaultdict(list), defaultdict(list)
    for (t, d), x in daily.items():
        prev = daily.get((t, d - datetime.timedelta(days=7)))
        if prev is None:
            continue
        r = abs(x - prev)
        if (d - monday).days % 2 == 0:
            cal[t].append(r)
        else:
            test[t].append(r)
    want = {}
    for t, rs in cal.items():
        rs.sort()
        k = math.ceil((len(rs) + 1) * 0.9)
        if not test.get(t):
            continue
        if k <= len(rs):
            q = rs[k - 1]
            cov = sum(1 for r in test[t] if r <= q) / len(test[t])
        else:
            # infinite-interval convention: rank beyond n_cal ->
            # q_hat NULL, every test point covered
            q, cov = None, 1.0
        want[t] = (len(rs), len(test[t]), q, cov)
    got = {
        r["event_type"]: (
            r["n_cal"], r["n_test"], r["q_hat"], r["coverage"]
        )
        for r in pending_r12.forecast_conformal_interval_audit(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for t, (n_cal, n_test, q, cov) in want.items():
        assert got[t][:3] == (n_cal, n_test, q), t
        # approx, not python round(): round() is half-even while the
        # engines round HALF_UP — exact equality would flip on a
        # coverage landing exactly on a 4dp half-boundary
        assert got[t][3] == pytest.approx(cov, abs=1e-4), t
        assert 0.0 <= got[t][3] <= 1.0


def test_conformal_small_sample_types_stay_visible(spark, tmp_path):
    """A type whose conformal rank exceeds n_cal (k > n_cal) must
    appear in the audit with q_hat NULL and coverage 1.0 — the
    split-conformal infinite-interval convention — in BOTH the
    engine and the DuckDB oracle (they must agree on the row)."""
    import datetime

    import pandas as pd

    monday = datetime.date(1970, 1, 5)
    rows = []

    def add(day, etype, n):
        for i in range(n):
            rows.append(
                {
                    "event_type": etype,
                    "ts": datetime.datetime(
                        day.year, day.month, day.day, 12, 0, i
                    ),
                }
            )

    # type 'tiny': counts on D and D+1, residuals on D+7 (parity 0,
    # calibration -> n_cal = 1) and D+8 (parity 1, test); with
    # alpha=0.1, k = ceil(2 * 0.9) = 2 > 1 -> q_hat NULL
    d0 = monday + datetime.timedelta(days=1)
    add(d0, "tiny", 3)
    add(d0 + datetime.timedelta(days=1), "tiny", 5)
    add(d0 + datetime.timedelta(days=7), "tiny", 4)
    add(d0 + datetime.timedelta(days=8), "tiny", 2)
    # type 'big': a 41-day run -> ~17 calibration residuals, so the
    # conformal rank exists and the normal branch coexists
    for j in range(41):
        add(d0 + datetime.timedelta(days=j), "big", 1 + (j * 3) % 5)
    pdf = pd.DataFrame(rows)
    path = tmp_path / "events.parquet"
    pdf.to_parquet(path)

    got = {
        r["event_type"]: r
        for r in pending_r12.forecast_conformal_interval_audit(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {"tiny", "big"}
    assert got["tiny"]["n_cal"] == 1
    assert got["tiny"]["q_hat"] is None
    assert got["tiny"]["coverage"] == 1.0
    assert got["big"]["q_hat"] is not None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{path}'"
    )
    res = con.execute(pending_r12.CONFORMAL_ORACLE)
    cols = [d[0] for d in res.description]
    oracle = {row[cols.index("event_type")]: row for row in res.fetchall()}
    con.close()
    assert set(oracle) == {"tiny", "big"}
    trow = oracle["tiny"]
    assert trow[cols.index("q_hat")] is None
    assert float(trow[cols.index("coverage")]) == 1.0
    for t in ("tiny", "big"):
        srow, orow = got[t], oracle[t]
        for c in ("n_cal", "n_test", "q_hat"):
            assert srow[c] == orow[cols.index(c)], (t, c)
        assert float(srow["coverage"]) == pytest.approx(
            float(orow[cols.index("coverage")]), abs=1e-4
        ), t


def test_chi2_degenerate_single_type_yields_null_v(spark, tmp_path):
    """A single-event-type corpus has dof 0: Cramér's V must be NULL
    in BOTH engines (an unguarded division yields Infinity in one
    and NULL in the other — exactly the hash-flip the NULLIF guard
    prevents)."""
    import datetime

    import pandas as pd

    rows = [
        {
            "event_type": "only",
            "ts": datetime.datetime(2024, 1, 1 + d, 12, 0, i),
        }
        for d in range(7)
        for i in range(3 + d)
    ]
    path = tmp_path / "events.parquet"
    pd.DataFrame(rows).to_parquet(path)

    got = pending_r12.stats_chi2_type_dow(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0]["n_types"] == 1
    assert got[0]["dof"] == 0
    assert got[0]["cramers_v"] is None

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    res = con.execute(pending_r12.CHI2_ORACLE)
    cols = [d[0] for d in res.description]
    orow = res.fetchall()[0]
    con.close()
    assert orow[cols.index("dof")] == 0
    assert orow[cols.index("cramers_v")] is None


def test_spearman_grouped_equals_exact_window_form(spark):
    """The registered value-grouped Spearman (bounded windows over
    distinct-value frames + weighted corr) must equal the per-row
    rank-window textbook form — same n, same rho to float noise —
    at both test scales."""
    for sf_dir in ("/root/testdata/sf0.001", SF_DIR):
        fast = {
            r["l_returnflag"]: r
            for r in pending_r12.stats_spearman_price_quantity(
                spark, sf_dir
            ).collect()
        }
        exact = {
            r["l_returnflag"]: r
            for r in pending_r12._spearman_exact_window_form(
                spark, sf_dir
            ).collect()
        }
        assert set(fast) == set(exact) and len(fast) >= 2
        for flag in fast:
            assert fast[flag]["n"] == exact[flag]["n"], flag
            assert fast[flag]["spearman_rho"] == pytest.approx(
                exact[flag]["spearman_rho"], abs=2e-4
            ), flag

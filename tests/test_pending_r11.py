"""Round-11 queries (drift & corpus-law diagnostics): each one
passes the driver-strength oracle comparison, plus python model pins
per statistic."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from cdc_2025_spark.queries import ORACLES, QUERIES, pending_r11
from cdc_2025_spark.queries.driver_model import (
    check_registered,
    compare_frames,
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
    n for n, f in QUERIES.items() if f.__module__ == pending_r11.__name__
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
    """Every pending_r11 query is registered and oracle-backed."""
    assert len(NAMES) == 12
    assert all(n in ORACLES for n in NAMES)


def test_statistics_are_nontrivial(spark):
    """The fixtures must make each diagnostic non-degenerate at test
    scale: both KS samples populated with D strictly inside (0, 1);
    every PSI bin populated on the reference side; the CUSUM series
    longer than a week; the Zipf fit negatively sloped with
    meaningful fit quality; the Heaps curve strictly increasing in
    both coordinates."""
    ks = pending_r11.stats_ks_drift_segments(spark, SF_DIR).first()
    assert ks["n_a"] > 0 and ks["n_b"] > 0
    assert 0.0 < ks["ks_d"] < 1.0
    assert 0.0 <= ks["p_value"] <= 1.0

    psi = pending_r11.stats_psi_value_drift(spark, SF_DIR).collect()
    assert len(psi) == pending_r11.PSI_N_BINS
    assert all(r["n_ref"] > 0 for r in psi)
    total_psi = sum(r["psi_contrib"] for r in psi)
    assert total_psi >= 0.0  # PSI is a sum of nonnegative-ish terms

    cu = pending_r11.events_cusum_changepoint(spark, SF_DIR).first()
    assert cu["n_days"] > 7 and cu["max_abs_s"] >= 0.0

    # the synthetic corpus draws from a small near-uniform vocabulary
    # (31 distinct terms at sf0.001), so the Zipf fit is SHALLOW by
    # construction — assert the computation's invariants (negative
    # slope, r2 in range), not natural-text magnitudes
    z = pending_r11.text_zipf_fit(spark, SF_DIR).first()
    assert z["n_ranks"] > 10
    assert z["slope"] < 0.0
    assert 0.0 <= z["r2"] <= 1.0

    h = pending_r11.text_heaps_vocab_growth(spark, SF_DIR).collect()
    h = sorted(h, key=lambda r: r["checkpoint"])
    assert len(h) >= 2
    assert all(
        a["cum_tokens"] < b["cum_tokens"] and a["vocab"] <= b["vocab"]
        for a, b in zip(h, h[1:])
    )

    cal = pending_r11.eval_calibration_bins(spark, SF_DIR).collect()
    assert len(cal) == pending_r11.CALIB_N_BINS
    assert all(r["n"] > 0 for r in cal)
    assert all(r["ece_contrib"] >= 0.0 for r in cal)
    # mean score inside each fixed-width bin must sit inside the bin
    for r in cal:
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0
        assert lo <= r["mean_score"] < hi, r

    sq = pending_r11.embed_sq8_quantization_error(spark, SF_DIR).collect()
    assert len(sq) >= 2  # multiple labels present
    for r in sq:
        # int8 on 64-dim unit-ish vectors: geometry nearly intact
        assert r["avg_cos"] > 0.999, r
        assert r["min_cos"] > 0.99, r
        assert 0.0 < r["max_abs_err"] < 0.05, r


def test_js_divergence_invariants(spark):
    """JS divergence: every source pair present exactly once
    (|S|*(|S|-1)/2 rows), values inside [0, ln 2], and the synthetic
    same-generator sources sit well below the disjoint-vocabulary
    ceiling."""
    import math

    rows = pending_r11.text_js_divergence_sources(spark, SF_DIR).collect()
    srcs = {r["src_a"] for r in rows} | {r["src_b"] for r in rows}
    assert len(rows) == len(srcs) * (len(srcs) - 1) // 2
    assert len({(r["src_a"], r["src_b"]) for r in rows}) == len(rows)
    ln2 = math.log(2.0)
    for r in rows:
        assert 0.0 <= r["js_divergence"] <= ln2 + 1e-9, r
        assert r["n_shared_terms"] > 0, r  # same generator vocabulary
    assert max(r["js_divergence"] for r in rows) < 0.9 * ln2


# ---------------------------------------------------------------------------
# Independent python models for the late-session additions: the DuckDB
# oracles mirror the same formulas, so a shared formula-level mistake
# would pass parity — these recompute each statistic from raw rows.
# ---------------------------------------------------------------------------


def _daily_counts(spark):
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .count()
        .collect()
    )
    counts = {r["d"]: r["count"] for r in rows}
    d0, d1 = min(counts), max(counts)
    n = (d1 - d0).days + 1
    import datetime

    return [
        float(counts.get(d0 + datetime.timedelta(days=i), 0))
        for i in range(n)
    ]


def test_acf_matches_python_model(spark):
    y = _daily_counts(spark)
    n = len(y)
    mu = sum(y) / n
    dy = [v - mu for v in y]
    ss = sum(d * d for d in dy)
    got = {
        r["lag"]: (r["n_days"], r["acf"])
        for r in pending_r11.events_acf_daily(spark, SF_DIR).collect()
    }
    assert set(got) == set(range(1, pending_r11.ACF_MAX_LAG + 1))
    for k in range(1, pending_r11.ACF_MAX_LAG + 1):
        want = (
            sum(dy[t] * dy[t + k] for t in range(n - k)) / ss
            if n - k >= 1
            else None
        )
        n_days, acf = got[k]
        assert n_days == n
        if want is None:
            assert acf is None
        else:
            assert acf is not None and abs(acf - want) <= 1e-6, (k, acf, want)


def test_mann_kendall_matches_python_model(spark):
    y = _daily_counts(spark)
    n = len(y)
    s = sum(
        (y[j] > y[i]) - (y[j] < y[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = Counter(y)
    tie_corr = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var_s = (n * (n - 1) * (2 * n + 5) - tie_corr) / 18.0
    slopes = sorted(
        (y[j] - y[i]) / (j - i)
        for i in range(n)
        for j in range(i + 1, n)
    )
    sen = slopes[(len(slopes) - 1) // 2]  # disc lower median
    z = ((s - 1) if s > 0 else (s + 1) if s < 0 else 0.0) / math.sqrt(
        var_s
    )
    az = abs(z)
    tt = 1.0 / (1.0 + 0.2316419 * az)
    q = (math.exp(-0.5 * az * az) / 2.5066282746310002) * (
        0.319381530 * tt
        - 0.356563782 * tt**2
        + 1.781477937 * tt**3
        - 1.821255978 * tt**4
        + 1.330274429 * tt**5
    )
    p = min(2.0 * q, 1.0)
    r = pending_r11.events_trend_mann_kendall(spark, SF_DIR).first()
    assert r["n_days"] == n and r["s_stat"] == s
    assert abs(r["var_s"] - var_s) <= 1e-6
    assert abs(r["z_stat"] - z) <= 1e-6
    assert abs(r["p_value"] - p) <= 1e-6
    assert abs(r["sen_slope"] - sen) <= 1e-6


def test_benford_matches_python_model(spark):
    vals = [
        r["o_totalprice"]
        for r in spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
        if r["o_totalprice"] and r["o_totalprice"] > 0
    ]
    from collections import Counter

    digits = Counter(
        int(v / 10 ** math.floor(math.log10(v))) for v in vals
    )
    n = sum(digits.values())
    rows = pending_r11.stats_benford_first_digit(spark, SF_DIR).collect()
    assert sum(r["n_obs"] for r in rows) == n
    for r in rows:
        d = r["digit"]
        assert 1 <= d <= 9
        assert r["n_obs"] == digits[d]
        exp = math.log10(1.0 + 1.0 / d)
        assert abs(r["obs_share"] - digits[d] / n) <= 1e-6
        assert abs(r["exp_share"] - exp) <= 1e-6
        chi = (digits[d] - n * exp) ** 2 / (n * exp)
        assert abs(r["chi2_part"] - chi) <= 1e-5


def test_hhi_matches_python_model(spark):
    from collections import defaultdict

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    sup = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in spark.read.parquet(f"{SF_DIR}/supplier.parquet").collect()
    }
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{SF_DIR}/nation.parquet").collect()
    }
    rev = defaultdict(float)
    for r in li:
        rev[r["l_suppkey"]] += r["l_extendedprice"] * (
            1 - r["l_discount"]
        )
    by_nation = defaultdict(list)
    for sk, v in rev.items():
        if sk in sup:
            by_nation[nat[sup[sk]]].append(v)
    rows = pending_r11.stats_hhi_supplier_concentration(
        spark, SF_DIR
    ).collect()
    assert {r["n_name"] for r in rows} == set(by_nation)
    for r in rows:
        revs = by_nation[r["n_name"]]
        tot = sum(revs)
        shares = [v / tot for v in revs]
        assert r["n_suppliers"] == len(revs)
        assert abs(r["hhi"] - 10000.0 * sum(s * s for s in shares)) <= 1e-2
        assert abs(r["cr1"] - max(shares)) <= 1e-6


def test_sq8_constant_dimension_degenerate_range(spark, tmp_path):
    """A constant embedding dimension makes the affine scale 0/0; the
    quantizer's degenerate case must dequantize to the constant
    itself (zero error) in BOTH engines — never NaN leaking into the
    cosine/MAE aggregates where the engines' NULL/NaN propagation
    differs. Parity pinned on a corpus whose dim 0 is constant."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [
        [0.5, 0.1 * i, -0.2 * i, 0.3] for i in range(1, 7)
    ]  # dim 0 constant, dim 3 constant too
    tbl = pa.table(
        {
            "vec_id": pa.array(range(6), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 2 for i in range(6)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    sdf = pending_r11.embed_sq8_quantization_error(
        spark, str(tmp_path)
    )
    spark_rows = [tuple(r) for r in sdf.collect()]
    assert spark_rows, "no output rows"
    flat = [v for row in spark_rows for v in row]
    assert not any(
        isinstance(v, float) and math.isnan(v) for v in flat
    ), f"NaN leaked: {spark_rows}"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet'"
    )
    rel = con.sql(pending_r11.SQ8_ORACLE)
    failure = compare_frames(
        sdf.columns,
        spark_rows,
        list(rel.columns),
        [str(t) for t in rel.types],
        rel.fetchall(),
    )
    con.close()
    assert failure is None, failure
    # the constant dims must contribute ZERO error: max_abs_err is
    # bounded by the non-constant dims' quantization step, and every
    # cosine stays finite and near 1 on this tiny well-scaled corpus
    by_col = dict(zip(sdf.columns, zip(*spark_rows)))
    assert all(c > 0.99 for c in by_col["min_cos"])

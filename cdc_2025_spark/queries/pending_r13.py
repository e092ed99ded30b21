"""Round-13 queries: the EVALUATION DEPTH & ROBUST
STATISTICS family — the layer a data-curation pipeline needs once
round 10's AUC/sweep and round 12's isotonic/conformal rungs exist:
average precision with the exact tie-group convention (the
class-imbalance-honest complement to ROC AUC), the Murphy
decomposition of the Brier score (reliability / resolution /
uncertainty — WHY a forecaster is miscalibrated, not just whether),
cumulative gains & lift deciles with pro-rata tie splitting (the
triage-economics view every classifier deployment reads first),
Theil-Sen robust slope (median-of-pairwise-slopes, the
outlier-immune complement to round 12's Mann-Kendall direction
test), partial correlation (association with a confounder held
fixed), Welch's unequal-variance t-test (the two-sample companion
to Kruskal-Wallis), winsorized + trimmed means (robust location per
segment), one-way ANOVA F with the Brown-Forsythe robust-variance
companion, a daily-counts periodogram (explicit DFT power at
candidate periods — detects the weekly cycle round 12's STL assumes),
and Brown's double-exponential-smoothing backtest (the
level-plus-trend forecaster the seasonal-naive floor challenges).

The second wave adds the GRAPH STRUCTURE & CORPUS HYGIENE rung:
local clustering coefficients, common-neighbor / Jaccard /
Adamic-Adar link prediction, degree assortativity (all on the
bounded supplier->customer trade graph the pagerank/k-core family
uses), the Nelson-Aalen cumulative hazard beside round 12's
Kaplan-Meier curve, an entropy l-diversity audit one level above
round 10's k-anonymity, per-source Simpson lexical diversity
(integer-exact sufficient statistics), and sentence-length profiles
through an engine-portable splitter.

Each query registers through ``@query``; tests/test_pending_r13.py
runs each one against its oracle with the driver's comparison.

The r13 close also added ``versioned_diff_audit`` — the lakehouse
layer's driver surface (cdc_2025_spark/versioned.py through
diff_versions, oracle-recomputed churn classes).

Pre-registration sf0.1 wall times (min-of-2, idle local[32], for
the round-13 bench.py HEADLINE additions): average precision 0.16 s,
Brier decomposition 0.22 s, gains/lift deciles 0.25 s, Theil-Sen
0.33 s, partial corr 0.12 s, Welch t 0.23 s, winsorized/trimmed
0.31 s, ANOVA/Brown-Forsythe 0.32 s, periodogram 0.27 s, Brown DES
backtest 0.42 s, local clustering 0.70 s, link prediction 0.75 s,
assortativity 0.69 s, Nelson-Aalen 0.43 s, l-diversity 0.14 s,
Simpson diversity 0.21 s, sentence stats 0.15 s, effect sizes
0.26 s, PPS systematic 0.41 s, MCC/kappa 0.20 s — 6.6 s combined;
every frame past the first collapse is bounded (score moduli, day
calendars, 25-node graph, 5-segment moments, bucket totals).

Engine-parity rules inherited from the registry docstring: integer
frames exact; disc percentiles over 4dp-rounded values for medians;
float aggregates rounded 4-6dp AFTER the final aggregate; the
A&S 26.2.17 normal-tail polynomial for p-values (6dp-rounded before
any threshold comparison); DuckDB SUM(int) cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.io import read_table
from cdc_2025_spark.queries.pending_r10 import SCORE_MOD
from cdc_2025_spark.queries.registry import query

# ---------------------------------------------------------------------------
# Average precision (tie-group step convention) for the quality score
# ---------------------------------------------------------------------------


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval family's shared deterministic score/label frame
    (pending_r10._scored_docs twin, re-declared to keep this module
    importable standalone)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    ).select(
        (
            (F.col("n_chars") % SCORE_MOD) / F.lit(float(SCORE_MOD))
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )


AP_ORACLE = f"""
WITH s AS (
  SELECT (n_chars % {SCORE_MOD}) / {SCORE_MOD}.0 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
g AS (
  SELECT score, SUM(label) AS np, SUM(1 - label) AS nn
  FROM s GROUP BY score
),
cum AS (
  SELECT np,
         SUM(np) OVER (ORDER BY score DESC
                       ROWS UNBOUNDED PRECEDING) AS tp,
         SUM(np + nn) OVER (ORDER BY score DESC
                            ROWS UNBOUNDED PRECEDING) AS n_cut
  FROM g
)
SELECT CAST(MAX(n_cut) AS BIGINT) AS n_docs,
       CAST(SUM(np) AS BIGINT) AS n_pos,
       ROUND(SUM(np * (tp * 1.0 / n_cut)) / SUM(np), 6)
         AS average_precision
FROM cum
"""


@query("eval_average_precision", oracle=AP_ORACLE)
def eval_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average precision of the deterministic quality score against
    the is-English label, with the exact TIE-GROUP step convention:
    scores collapse to the distinct-score frame, thresholds sweep
    descending, and each group contributes (delta recall) x
    (precision at the group's cumulative cut) — the
    sum((R_k - R_{k-1}) * P_k) step estimator (what sklearn's
    average_precision_score computes), never the trapezoid the PR
    literature warns against (Davis & Goadrich ICML'06). AP is the
    class-imbalance-honest companion to ROC AUC: a 99:1 corpus can
    hold AUC 0.95 with useless precision, and AP is where that
    shows.

    Determinism: counts are integers; cumulative windows run over
    the bounded distinct-score frame; AP rounds 6dp after the final
    fold.

    Scale shape: ONE grouped count collapses the corpus to the
    distinct-score frame (SCORE_MOD values max); windows and the
    final sum run there; output is one row."""
    s = _scored_docs(spark, sf_dir)
    g = s.groupBy("score").agg(
        F.sum("label").cast("long").alias("np"),
        F.sum(1 - F.col("label")).cast("long").alias("nn"),
    )
    w = (
        Window.orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "np",
        F.sum("np").over(w).alias("tp"),
        (F.sum("np").over(w) + F.sum("nn").over(w)).alias("n_cut"),
    )
    tot = cum.agg(
        F.max("n_cut").cast("long").alias("n_docs"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum(
            F.col("np")
            * (F.col("tp") / F.col("n_cut"))
        ).alias("ap_num"),
    )
    return tot.select(
        "n_docs",
        "n_pos",
        F.round(F.col("ap_num") / F.col("n_pos"), 6).alias(
            "average_precision"
        ),
    )


# ---------------------------------------------------------------------------
# Murphy decomposition of the Brier score (10 fixed probability bins)
# ---------------------------------------------------------------------------

BRIER_BINS = 10


BRIER_ORACLE = f"""
WITH s AS (
  SELECT (n_chars % {SCORE_MOD}) / {SCORE_MOD}.0 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
b AS (
  SELECT LEAST(FLOOR(score * {BRIER_BINS}), {BRIER_BINS - 1}) AS bin,
         COUNT(*) AS n, SUM(score) AS sp,
         SUM(score * score) AS spp, SUM(label) AS so,
         SUM(score * label) AS spo
  FROM s GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(so) AS BIGINT) AS n_pos,
         SUM(sp) AS tsp, SUM(spp) AS tspp, SUM(spo) AS tspo,
         SUM((sp / n - so * 1.0 / n) * (sp / n - so * 1.0 / n) * n)
           AS rel_num,
         SUM((so * 1.0 / n) * (so * 1.0 / n) * n) AS res_sq,
         SUM(spp - sp * sp / n) AS wbv_num,
         SUM(spo - sp * so / n) AS wbc_num
  FROM b
)
SELECT n_docs, n_pos,
       ROUND((tspp - 2 * tspo + n_pos) / n_docs, 6) AS brier,
       ROUND(rel_num / n_docs, 6) AS reliability,
       ROUND(res_sq / n_docs
             - (n_pos * 1.0 / n_docs) * (n_pos * 1.0 / n_docs), 6)
         AS resolution,
       ROUND((n_pos * 1.0 / n_docs)
             * (1 - n_pos * 1.0 / n_docs), 6) AS uncertainty,
       ROUND(wbv_num / n_docs, 6) AS within_bin_var,
       ROUND(wbc_num / n_docs, 6) AS within_bin_cov
FROM tot
"""


@query("eval_brier_decomposition", oracle=BRIER_ORACLE)
def eval_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition over
    BRIER_BINS fixed probability bins: brier = reliability -
    resolution + uncertainty + within_bin_var - 2 * within_bin_cov.
    Reliability (calibration error mass) and resolution (how much
    the forecast separates outcomes) say WHY a probability
    forecaster scores what it scores — round 11's calibration bins
    show the curve, this is its scalar accounting. The two
    within-bin terms make the identity EXACT for the raw (unbinned)
    Brier score instead of pretending binning is free: classical
    Murphy assumes the forecast is CONSTANT inside a bin, and with
    continuous scores the residual is exactly the within-bin
    forecast variance minus twice the within-bin forecast-outcome
    covariance (expand (p - o) around the bin means; the cross
    terms with the bin-mean gap vanish, the p-o covariance does
    not).

    Determinism: one grouped pass collects per-bin integer counts
    and rational sums; every output term rounds 6dp after the final
    fold; the identity is asserted in tests at float tolerance.

    Scale shape: ONE groupBy to BRIER_BINS rows; output one row."""
    s = _scored_docs(spark, sf_dir)
    b = s.groupBy(
        F.least(
            F.floor(F.col("score") * BRIER_BINS),
            F.lit(BRIER_BINS - 1),
        ).alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("score").alias("sp"),
        F.sum(F.col("score") * F.col("score")).alias("spp"),
        F.sum("label").cast("long").alias("so"),
        F.sum(F.col("score") * F.col("label")).alias("spo"),
    )
    tot = b.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("so").cast("long").alias("n_pos"),
        F.sum("sp").alias("tsp"),
        F.sum("spp").alias("tspp"),
        F.sum("spo").alias("tspo"),
        # reliability: sum_k n_k (pbar_k - obar_k)^2
        F.sum(
            (F.col("sp") / F.col("n") - F.col("so") / F.col("n"))
            * (F.col("sp") / F.col("n") - F.col("so") / F.col("n"))
            * F.col("n")
        ).alias("rel_num"),
        # resolution pieces: sum_k n_k obar_k^2 (obar folds in below)
        F.sum(
            (F.col("so") / F.col("n"))
            * (F.col("so") / F.col("n"))
            * F.col("n")
        ).alias("res_sq"),
        # within-bin variance of the forecast around its bin mean:
        # sum_k (spp_k - sp_k^2/n_k)
        F.sum(
            F.col("spp") - F.col("sp") * F.col("sp") / F.col("n")
        ).alias("wbv_num"),
        # within-bin forecast-outcome covariance mass:
        # sum_k (spo_k - sp_k*so_k/n_k)
        F.sum(
            F.col("spo") - F.col("sp") * F.col("so") / F.col("n")
        ).alias("wbc_num"),
    )
    n = F.col("n_docs").cast("double")
    obar = F.col("n_pos") / n
    # raw brier = (1/N) sum (p - o)^2 = (tspp - 2 tspo + n_pos)/N
    # (o is 0/1 so o^2 sums to n_pos)
    brier = (
        F.col("tspp") - 2 * F.col("tspo") + F.col("n_pos")
    ) / n
    rel = F.col("rel_num") / n
    res = F.col("res_sq") / n - obar * obar
    unc = obar * (1 - obar)
    wbv = F.col("wbv_num") / n
    wbc = F.col("wbc_num") / n
    return tot.select(
        "n_docs",
        "n_pos",
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(wbv, 6).alias("within_bin_var"),
        F.round(wbc, 6).alias("within_bin_cov"),
    )


# ---------------------------------------------------------------------------
# Cumulative gains & lift deciles (pro-rata tie splitting)
# ---------------------------------------------------------------------------

GAINS_DECILES = 10


GAINS_ORACLE = f"""
WITH s AS (
  SELECT (n_chars % {SCORE_MOD}) / {SCORE_MOD}.0 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
g AS (
  SELECT score, COUNT(*) AS cnt, SUM(label) AS np
  FROM s GROUP BY score
),
cum AS (
  SELECT cnt, np,
         SUM(cnt) OVER (ORDER BY score DESC
                        ROWS UNBOUNDED PRECEDING) - cnt AS cum_start
  FROM g
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM(np) AS BIGINT) AS n_pos
  FROM cum
),
fr AS (
  SELECT i / {GAINS_DECILES}.0 AS frac
  FROM generate_series(1, {GAINS_DECILES}) t(i)
)
SELECT ROUND(frac, 2) AS frac,
       ROUND(SUM(GREATEST(0.0, LEAST(1.0,
               (frac * n_docs - cum_start) / cnt)) * np)
             / MAX(n_pos), 6) AS gains,
       ROUND(SUM(GREATEST(0.0, LEAST(1.0,
               (frac * n_docs - cum_start) / cnt)) * np)
             / MAX(n_pos) / frac, 6) AS lift
FROM cum CROSS JOIN tot CROSS JOIN fr
GROUP BY frac
ORDER BY frac
"""


@query("eval_lift_gains_deciles", oracle=GAINS_ORACLE)
def eval_lift_gains_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative gains and lift at the 10 deciles of the
    score-descending ranking: gains(f) = share of all positives
    captured in the top f fraction, lift(f) = gains(f) / f. A tie
    group that STRADDLES a decile boundary contributes pro-rata
    (positives assumed uniform inside the tie group) — the only
    convention that is a pure function of the score distribution
    rather than of an arbitrary within-tie order, hence
    engine-portable.

    Determinism: the boundary arithmetic runs on the bounded
    distinct-score frame crossed with the 10 fixed fractions;
    rational pro-rata shares; gains/lift round 6dp at the end.

    Scale shape: ONE grouped count to the distinct-score frame; a
    broadcast 10-row fraction frame joins it (bounded x 10);
    output is 10 rows."""
    s = _scored_docs(spark, sf_dir)
    g = s.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("label").cast("long").alias("np"),
    )
    w = (
        Window.orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "cnt",
        "np",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_start"),
    )
    totals = cum.agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum("np").cast("long").alias("n_pos"),
    )
    fracs = spark.range(1, GAINS_DECILES + 1).select(
        (F.col("id") / F.lit(float(GAINS_DECILES))).alias("frac")
    )
    joined = cum.crossJoin(F.broadcast(totals)).crossJoin(
        F.broadcast(fracs)
    )
    c = F.col("frac") * F.col("n_docs")
    # group share inside the top-c cut: 0 below, pro-rata at the
    # boundary, full above
    share = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            (c - F.col("cum_start")) / F.col("cnt"),
        ),
    )
    out = joined.groupBy("frac").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("n_pos").alias("n_pos"),
        F.sum(share * F.col("np")).alias("captured"),
    )
    return out.select(
        F.round("frac", 2).alias("frac"),
        F.round(F.col("captured") / F.col("n_pos"), 6).alias("gains"),
        F.round(
            F.col("captured") / F.col("n_pos") / F.col("frac"), 6
        ).alias("lift"),
    ).orderBy("frac")

# ---------------------------------------------------------------------------
# Theil-Sen robust slope of daily revenue (median of pairwise slopes)
# ---------------------------------------------------------------------------


THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 4) AS y
  FROM orders GROUP BY 1
),
t AS (
  SELECT (day - (SELECT MIN(day) FROM daily)) * 1.0 AS t,
         CAST(y AS DOUBLE) AS y
  FROM daily
),
slopes AS (
  SELECT (b.y - a.y) / (b.t - a.t) AS slope
  FROM t a JOIN t b ON a.t < b.t
),
med AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         quantile_disc(slope, 0.5) AS ts
  FROM slopes
),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         (AVG(t * y) - AVG(t) * AVG(y))
           / (AVG(t * t) - AVG(t) * AVG(t)) AS ols_slope
  FROM t
)
SELECT n_days, n_pairs,
       ROUND(ts, 6) AS theil_sen_slope,
       ROUND(ols_slope, 6) AS ols_slope
FROM med CROSS JOIN ols
"""


@query("stats_theil_sen_daily_revenue", oracle=THEIL_SEN_ORACLE)
def stats_theil_sen_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-Sen estimator (Theil 1950; Sen JASA 1968) of the daily
    order-revenue trend: the MEDIAN of all pairwise slopes
    (y_j - y_i)/(t_j - t_i), i < j — up to ~29% contamination does
    not move it, where OLS follows a single spike. The robust-SLOPE
    companion to round 12's Mann-Kendall direction test (Sen's
    original pairing), reported beside the OLS slope so the gap
    itself is the outlier diagnostic.

    Determinism: slopes are exact rationals of integer day indices
    and 4dp-rounded daily sums; the median is percentile_disc over
    the slope frame (engine-agreeing, no interpolation); outputs
    round 6dp.

    Scale shape: the corpus collapses in ONE daily groupBy (bounded
    calendar frame); the i<j pair join and the disc-median run over
    days^2/2 pairs (~theta(90^2) here — bounded by the calendar,
    never the corpus); output is one row."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
    )
    span = daily.agg(F.min("day").alias("d0"))
    t = daily.crossJoin(F.broadcast(span)).select(
        F.datediff("day", "d0").cast("double").alias("t"),
        F.col("y").cast("double").alias("y"),
    )
    a = t.select(F.col("t").alias("ti"), F.col("y").alias("yi"))
    b = t.select(F.col("t").alias("tj"), F.col("y").alias("yj"))
    slopes = (
        a.join(b, F.col("ti") < F.col("tj"))
        .select(
            (
                (F.col("yj") - F.col("yi"))
                / (F.col("tj") - F.col("ti"))
            ).alias("slope")
        )
    )
    med = slopes.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)"
        ).alias("theil_sen_slope"),
    )
    ols = t.agg(
        F.count("*").cast("long").alias("n_days"),
        (
            (F.avg(F.col("t") * F.col("y")) - F.avg("t") * F.avg("y"))
            / (F.avg(F.col("t") * F.col("t")) - F.avg("t") * F.avg("t"))
        ).alias("ols_slope"),
    )
    return med.crossJoin(F.broadcast(ols)).select(
        "n_days",
        "n_pairs",
        F.round("theil_sen_slope", 6).alias("theil_sen_slope"),
        F.round("ols_slope", 6).alias("ols_slope"),
    )


# ---------------------------------------------------------------------------
# Partial correlation: price ~ quantity controlling for discount
# ---------------------------------------------------------------------------


PARTIAL_CORR_ORACLE = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CORR(l_extendedprice, l_quantity) AS rxy,
         CORR(l_extendedprice, l_discount) AS rxz,
         CORR(l_quantity, l_discount) AS ryz
  FROM lineitem
)
SELECT n,
       ROUND(rxy, 6) AS r_price_qty,
       ROUND(rxz, 6) AS r_price_discount,
       ROUND(ryz, 6) AS r_qty_discount,
       ROUND((rxy - rxz * ryz)
             / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
         AS partial_r
FROM agg
"""


@query("stats_partial_corr_price_qty", oracle=PARTIAL_CORR_ORACLE)
def stats_partial_corr_price_qty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partial correlation of l_extendedprice and l_quantity with
    l_discount held fixed — the first-order partial from the three
    pairwise Pearson correlations: r_xy.z = (r_xy - r_xz * r_yz) /
    sqrt((1 - r_xz^2)(1 - r_yz^2)). The confounder-audit primitive:
    a raw correlation a pricing dashboard shows may be carried
    entirely by a third column, and the partial is the one-line
    check. Reported beside the raw r_xy so the attenuation is
    visible.

    Determinism: three corr aggregates in ONE pass; closed-form
    combination; outputs round 6dp after the fold.

    Scale shape: one scan, one aggregate row — no shuffle beyond
    the partial-aggregate tree; output is one row."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").alias("y"),
        F.col("l_discount").alias("z"),
    )
    agg = li.agg(
        F.count("*").cast("long").alias("n"),
        F.corr("x", "y").alias("rxy"),
        F.corr("x", "z").alias("rxz"),
        F.corr("y", "z").alias("ryz"),
    )
    partial = (
        F.col("rxy") - F.col("rxz") * F.col("ryz")
    ) / F.sqrt(
        (1 - F.col("rxz") * F.col("rxz"))
        * (1 - F.col("ryz") * F.col("ryz"))
    )
    return agg.select(
        "n",
        F.round("rxy", 6).alias("r_price_qty"),
        F.round("rxz", 6).alias("r_price_discount"),
        F.round("ryz", 6).alias("r_qty_discount"),
        F.round(partial, 6).alias("partial_r"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test between two event types' values
# ---------------------------------------------------------------------------

WELCH_TYPE_A = "click"
WELCH_TYPE_B = "purchase"


WELCH_ORACLE = f"""
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = '{WELCH_TYPE_A}' THEN 1
                  ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN event_type = '{WELCH_TYPE_B}' THEN 1
                  ELSE 0 END) AS BIGINT) AS nb,
    SUM(CASE WHEN event_type = '{WELCH_TYPE_A}' THEN value
             ELSE 0 END) AS sa,
    SUM(CASE WHEN event_type = '{WELCH_TYPE_B}' THEN value
             ELSE 0 END) AS sb,
    SUM(CASE WHEN event_type = '{WELCH_TYPE_A}' THEN value * value
             ELSE 0 END) AS ssa,
    SUM(CASE WHEN event_type = '{WELCH_TYPE_B}' THEN value * value
             ELSE 0 END) AS ssb
  FROM events
  WHERE value IS NOT NULL
    AND event_type IN ('{WELCH_TYPE_A}', '{WELCH_TYPE_B}')
),
c AS (
  SELECT na, nb,
         sa / na AS ma, sb / nb AS mb,
         (ssa - sa * sa / na) / (na - 1) AS va,
         (ssb - sb * sb / nb) / (nb - 1) AS vb
  FROM agg
),
s AS (
  SELECT na, nb, ma, mb, va, vb,
         (ma - mb) / SQRT(va / na + vb / nb) AS tstat,
         (va / na + vb / nb) * (va / na + vb / nb)
           / ((va / na) * (va / na) / (na - 1)
              + (vb / nb) * (vb / nb) / (nb - 1)) AS dfw
  FROM c
)
SELECT na AS n_a, nb AS n_b,
       ROUND(ma - mb, 6) AS mean_diff,
       ROUND(tstat, 6) AS t_stat,
       ROUND(dfw, 2) AS df_welch,
       ROUND(LEAST(2.0 * (EXP(-0.5 * ABS(tstat) * ABS(tstat))
                          / 2.5066282746310002)
         * (0.319381530 * (1.0 / (1.0 + 0.2316419 * ABS(tstat)))
            - 0.356563782 * POW(1.0 / (1.0 + 0.2316419 * ABS(tstat)), 2)
            + 1.781477937 * POW(1.0 / (1.0 + 0.2316419 * ABS(tstat)), 3)
            - 1.821255978 * POW(1.0 / (1.0 + 0.2316419 * ABS(tstat)), 4)
            + 1.330274429 * POW(1.0 / (1.0 + 0.2316419 * ABS(tstat)), 5)),
         1.0), 6) AS p_value
FROM s
"""


@query("stats_welch_ttest_types", oracle=WELCH_ORACLE)
def stats_welch_ttest_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Welch's t-test (Welch 1947) for a difference in mean event
    VALUE between two event types, with the Welch-Satterthwaite
    effective degrees of freedom and a normal-approximation two-sided
    p (A&S 26.2.17 — honest at these df, where t and normal tails
    agree to ~1e-4; the shared polynomial keeps the engines
    bit-comparable after 6dp rounding). The unequal-variance form is
    the DEFAULT two-sample test — pooling variances is the bug.

    Determinism: two conditional one-pass moment aggregates; the
    statistic folds in closed form; z/p round 6dp.

    Scale shape: one scan, one aggregate row."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin(WELCH_TYPE_A, WELCH_TYPE_B)
    )
    isa = (F.col("event_type") == WELCH_TYPE_A).cast("int")
    agg = ev.agg(
        F.sum(isa).cast("long").alias("na"),
        F.sum(1 - isa).cast("long").alias("nb"),
        F.sum(isa * F.col("value")).alias("sa"),
        F.sum((1 - isa) * F.col("value")).alias("sb"),
        F.sum(isa * F.col("value") * F.col("value")).alias("ssa"),
        F.sum((1 - isa) * F.col("value") * F.col("value")).alias(
            "ssb"
        ),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma, mb = F.col("sa") / na, F.col("sb") / nb
    va = (F.col("ssa") - F.col("sa") * F.col("sa") / na) / (na - 1)
    vb = (F.col("ssb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)
    se2 = va / na + vb / nb
    tstat = (ma - mb) / F.sqrt(se2)
    dfw = se2 * se2 / (
        (va / na) * (va / na) / (na - 1)
        + (vb / nb) * (vb / nb) / (nb - 1)
    )
    az = F.abs(tstat)
    t_ = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    phi = F.exp(F.lit(-0.5) * az * az) / F.lit(2.5066282746310002)
    poly = (
        F.lit(0.319381530) * t_
        + F.lit(-0.356563782) * F.pow(t_, F.lit(2.0))
        + F.lit(1.781477937) * F.pow(t_, F.lit(3.0))
        + F.lit(-1.821255978) * F.pow(t_, F.lit(4.0))
        + F.lit(1.330274429) * F.pow(t_, F.lit(5.0))
    )
    p = F.least(F.lit(2.0) * phi * poly, F.lit(1.0))
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(ma - mb, 6).alias("mean_diff"),
        F.round(tstat, 6).alias("t_stat"),
        F.round(dfw, 2).alias("df_welch"),
        F.round(p, 6).alias("p_value"),
    )

# ---------------------------------------------------------------------------
# Winsorized + trimmed means of order value per market segment
# ---------------------------------------------------------------------------

TRIM_P = 0.10


WINSOR_ORACLE = f"""
WITH o AS (
  SELECT c_mktsegment, ROUND(o_totalprice, 4) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
),
cuts AS (
  SELECT c_mktsegment,
         quantile_disc(v, {TRIM_P}) AS lo,
         quantile_disc(v, {1 - TRIM_P}) AS hi
  FROM o GROUP BY c_mktsegment
)
SELECT o.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(AVG(v), 4) AS raw_mean,
       ROUND(AVG(LEAST(GREATEST(v, lo), hi)), 4) AS winsorized_mean,
       ROUND(AVG(CASE WHEN v BETWEEN lo AND hi THEN v END), 4)
         AS trimmed_mean,
       CAST(SUM(CASE WHEN v BETWEEN lo AND hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM o JOIN cuts USING (c_mktsegment)
GROUP BY o.c_mktsegment
ORDER BY o.c_mktsegment
"""


@query("stats_winsorized_trimmed_spend", oracle=WINSOR_ORACLE)
def stats_winsorized_trimmed_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust location per market segment: the 10% WINSORIZED mean
    (clamp order values at the within-segment p10/p90, then average)
    and the 10% TRIMMED mean (drop beyond them) beside the raw mean.
    Heavy-tailed spend distributions make the raw mean a hostage of
    a few whale orders; the robust pair is what a segment comparison
    should rank on, and raw-vs-robust displacement is itself the
    tail-weight diagnostic.

    Determinism: cut points are percentile_disc over 4dp-rounded
    values (exact engine agreement — actual data values, no
    interpolation arithmetic); clamp/drop decisions compare those
    exact values; means round 4dp after aggregation.

    Scale shape: one grouped disc-percentile pass builds the 5-row
    cut table, which BROADCASTS back onto the scan for one
    conditional-aggregate pass; output is one row per segment."""
    o = read_table(spark, sf_dir, "orders").join(
        read_table(spark, sf_dir, "customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        "c_mktsegment",
        F.round(F.col("o_totalprice"), 4).alias("v"),
    )
    cuts = o.groupBy("c_mktsegment").agg(
        F.expr(
            f"percentile_disc({TRIM_P}) WITHIN GROUP (ORDER BY v)"
        ).alias("lo"),
        F.expr(
            f"percentile_disc({1 - TRIM_P}) WITHIN GROUP (ORDER BY v)"
        ).alias("hi"),
    )
    j = o.join(F.broadcast(cuts), "c_mktsegment")
    wins = F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    inside = (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.avg("v"), 4).alias("raw_mean"),
            F.round(F.avg(wins), 4).alias("winsorized_mean"),
            F.round(
                F.avg(F.when(inside, F.col("v"))), 4
            ).alias("trimmed_mean"),
            F.sum(inside.cast("long")).cast("long").alias("n_kept"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F + Brown-Forsythe robust companion across segments
# ---------------------------------------------------------------------------


ANOVA_ORACLE = """
WITH o AS (
  SELECT c_mktsegment, ROUND(o_totalprice, 4) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
),
med AS (
  SELECT c_mktsegment, quantile_disc(v, 0.5) AS gmed
  FROM o GROUP BY c_mktsegment
),
g AS (
  SELECT o.c_mktsegment, COUNT(*) AS n, SUM(v) AS sv,
         SUM(v * v) AS svv,
         SUM(ABS(v - gmed)) AS sz,
         SUM(ABS(v - gmed) * ABS(v - gmed)) AS szz
  FROM o JOIN med USING (c_mktsegment)
  GROUP BY o.c_mktsegment
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(sv) AS tsv, SUM(svv) AS tsvv,
         SUM(sz) AS tsz, SUM(szz) AS tszz,
         SUM(sv * sv / n) AS bg_v,
         SUM(sz * sz / n) AS bg_z
  FROM g
)
SELECT n_total, k,
       ROUND(((bg_v - tsv * tsv / n_total) / (k - 1))
             / ((tsvv - bg_v) / (n_total - k)), 6) AS anova_f,
       ROUND(((bg_z - tsz * tsz / n_total) / (k - 1))
             / ((tszz - bg_z) / (n_total - k)), 6)
         AS brown_forsythe_f
FROM tot
"""


@query("stats_anova_brownforsythe_segments", oracle=ANOVA_ORACLE)
def stats_anova_brownforsythe_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-way ANOVA F across the five market segments' order values
    PLUS the Brown-Forsythe statistic (the Levene test with the
    group MEDIAN center — one-way ANOVA on absolute deviations from
    the group median, Brown & Forsythe JASA 1974): the F test
    assumes equal variances, and Brown-Forsythe is the
    heavy-tail-robust check of exactly that assumption. Reporting
    the pair is the honest protocol — an F verdict without a
    variance-homogeneity check is a coin flip on skewed spend data.

    Determinism: group medians are percentile_disc over 4dp-rounded
    values; both statistics fold from grouped integer counts and
    rational sums; outputs round 6dp.

    Scale shape: one disc-percentile groupBy for medians (bounded
    cut table broadcasts back), one conditional-aggregate pass for
    BOTH statistics' sufficient statistics; output is one row."""
    o = read_table(spark, sf_dir, "orders").join(
        read_table(spark, sf_dir, "customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        "c_mktsegment",
        F.round(F.col("o_totalprice"), 4).alias("v"),
    )
    med = o.groupBy("c_mktsegment").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY v)"
        ).alias("gmed")
    )
    j = o.join(F.broadcast(med), "c_mktsegment")
    z = F.abs(F.col("v") - F.col("gmed"))
    g = j.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(z).alias("sz"),
        F.sum(z * z).alias("szz"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k"),
        F.sum("sv").alias("tsv"),
        F.sum("svv").alias("tsvv"),
        F.sum("sz").alias("tsz"),
        F.sum("szz").alias("tszz"),
        F.sum(F.col("sv") * F.col("sv") / F.col("n")).alias("bg_v"),
        F.sum(F.col("sz") * F.col("sz") / F.col("n")).alias("bg_z"),
    )
    n, k = F.col("n_total").cast("double"), F.col("k").cast("double")
    ssb_v = F.col("bg_v") - F.col("tsv") * F.col("tsv") / n
    ssw_v = F.col("tsvv") - F.col("bg_v")
    f_v = (ssb_v / (k - 1)) / (ssw_v / (n - k))
    ssb_z = F.col("bg_z") - F.col("tsz") * F.col("tsz") / n
    ssw_z = F.col("tszz") - F.col("bg_z")
    f_z = (ssb_z / (k - 1)) / (ssw_z / (n - k))
    return tot.select(
        "n_total",
        "k",
        F.round(f_v, 6).alias("anova_f"),
        F.round(f_z, 6).alias("brown_forsythe_f"),
    )


# ---------------------------------------------------------------------------
# Periodogram of daily event counts (explicit DFT power, periods 2-14)
# ---------------------------------------------------------------------------

PERIODOGRAM_MAX_P = 14


PERIODOGRAM_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS c
  FROM events GROUP BY 1
),
t AS (
  SELECT (day - (SELECT MIN(day) FROM daily)) * 1.0 AS t, c
  FROM daily
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days, AVG(c) AS mu,
         VAR_POP(c) AS sigma2
  FROM t
),
periods AS (
  SELECT i * 1.0 AS p FROM generate_series(2, {PERIODOGRAM_MAX_P}) g(i)
)
SELECT CAST(p AS INTEGER) AS period_days,
       MAX(n_days) AS n_days,
       ROUND((SUM((c - mu) * COS(2 * PI() * t / p))
              * SUM((c - mu) * COS(2 * PI() * t / p))
              + SUM((c - mu) * SIN(2 * PI() * t / p))
              * SUM((c - mu) * SIN(2 * PI() * t / p)))
             / (MAX(n_days) * MAX(n_days) * MAX(sigma2)), 6)
         AS norm_power
FROM t CROSS JOIN stats CROSS JOIN periods
GROUP BY p
ORDER BY period_days
"""


@query("events_periodogram_daily", oracle=PERIODOGRAM_ORACLE)
def events_periodogram_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Periodogram of the daily event-count series at candidate
    periods 2..PERIODOGRAM_MAX_P days: power(p) proportional to
    (sum c_t cos(2 pi t / p))^2 + (sum c_t sin(2 pi t / p))^2 over
    the MEAN-CENTERED series, normalized by n * variance so the
    weekly cycle reads as a dimensionless share. This is the
    detector for the seasonality round 12's STL and seasonal-naive
    queries ASSUME at period 7 — the audit that the assumption holds
    (and that 7 dominates its harmonics and neighbors).

    Determinism: the day frame is bounded; cos/sin of exact rational
    angles agree across libm implementations to well below the 6dp
    output rounding; power rounds after the fold.

    Scale shape: one daily groupBy collapses the corpus; the
    day-frame x 13-period cross join is bounded (days x 13); output
    is one row per period."""
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    span = daily.agg(F.min("day").alias("d0"))
    t = daily.crossJoin(F.broadcast(span)).select(
        F.datediff("day", "d0").cast("double").alias("t"), "c"
    )
    stats = t.agg(
        F.count("*").cast("long").alias("n_days"),
        F.avg("c").alias("mu"),
        F.var_pop("c").alias("sigma2"),
    )
    periods = spark.range(2, PERIODOGRAM_MAX_P + 1).select(
        F.col("id").cast("double").alias("p")
    )
    ang = F.lit(2.0 * 3.141592653589793) * F.col("t") / F.col("p")
    xc = (F.col("c") - F.col("mu")) * F.cos(ang)
    xs = (F.col("c") - F.col("mu")) * F.sin(ang)
    out = (
        t.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(periods))
        .groupBy("p")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("sigma2").alias("sigma2"),
            F.sum(xc).alias("sc"),
            F.sum(xs).alias("ss"),
        )
    )
    power = (
        F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")
    ) / (F.col("n_days") * F.col("n_days") * F.col("sigma2"))
    return out.select(
        F.col("p").cast("int").alias("period_days"),
        F.col("n_days").cast("long").alias("n_days"),
        F.round(power, 6).alias("norm_power"),
    ).orderBy("period_days")

# ---------------------------------------------------------------------------
# Brown's double-exponential-smoothing 1-step backtest vs naive floor
# ---------------------------------------------------------------------------

DES_ALPHA = 0.3
DES_BURN_IN = 7


DES_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
t AS (
  SELECT CAST(day - (SELECT MIN(day) FROM daily) AS BIGINT) AS t, x
  FROM daily
),
sm AS (
  SELECT a.t AS ti, MAX(a.x) AS x,
         SUM(CASE WHEN b.t = 0 THEN POW({1 - DES_ALPHA}, a.t)
                  ELSE {DES_ALPHA} * POW({1 - DES_ALPHA}, a.t - b.t)
             END * b.x) AS s1,
         SUM(CASE WHEN b.t = 0
                  THEN ({DES_ALPHA} * a.t + 1)
                       * POW({1 - DES_ALPHA}, a.t)
                  ELSE {DES_ALPHA} * {DES_ALPHA} * (a.t - b.t + 1)
                       * POW({1 - DES_ALPHA}, a.t - b.t)
             END * b.x) AS s2
  FROM t a JOIN t b ON b.t <= a.t
  GROUP BY a.t
),
fc AS (
  SELECT ti, x,
         2 * s1 - s2 + ({DES_ALPHA} / {1 - DES_ALPHA}) * (s1 - s2)
           AS f_next
  FROM sm
),
bt AS (
  SELECT f.ti, n.x AS x_next, f.f_next, f.x AS x_prev
  FROM fc f
  JOIN fc n ON n.ti = f.ti + 1
  WHERE f.ti >= {DES_BURN_IN}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
       ROUND(AVG(ABS(x_next - f_next)), 6) AS mae_des,
       ROUND(SQRT(AVG((x_next - f_next) * (x_next - f_next))), 6)
         AS rmse_des,
       ROUND(AVG(ABS(x_next - x_prev)), 6) AS mae_naive
FROM bt
"""


@query("forecast_des_brown_backtest", oracle=DES_ORACLE)
def forecast_des_brown_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown's double exponential smoothing (level + trend from two
    cascaded EWMAs: a_t = 2*S1_t - S2_t, b_t = alpha/(1-alpha) *
    (S1_t - S2_t), forecast x_{t+1} = a_t + b_t) backtested 1-step-
    ahead against the naive x_{t+1} = x_t floor on the daily
    event-count series. The trend-aware rung between round 12's
    seasonal-naive floor and a real forecaster: if DES cannot beat
    naive, no trend model earns its keep on this series.

    Both smoothing passes are evaluated in CLOSED FORM as one
    bounded pair join over the day frame — S1_t = sum_j c1(t,j) x_j
    and S2_t = sum_j c2(t,j) x_j with c1 = alpha*(1-alpha)^(t-j)
    (j >= 1) / (1-alpha)^t (j = 0), c2 = alpha^2*(t-j+1)*
    (1-alpha)^(t-j) (j >= 1) / (alpha*t + 1)*(1-alpha)^t (j = 0),
    the exact unrolled recursion under the S1_0 = S2_0 = x_0 init —
    no beta^(-t) rescaling anywhere, so no overflow regime at any
    series length (the r12 EWMA's closed form is month-bounded for
    exactly that reason); equality with the plain recursion is
    pinned in tests.

    Determinism: weights are exact pow() of rational bases on
    integer exponents; errors average after 4dp-rounding of nothing
    (integer counts); MAE/RMSE round 6dp at the end.

    Scale shape: the corpus collapses in ONE daily groupBy; the
    t x j pair join is days^2 (bounded by the calendar, never the
    corpus); output is one row."""
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    span = daily.agg(F.min("day").alias("d0"))
    t = daily.crossJoin(F.broadcast(span)).select(
        F.datediff("day", "d0").cast("long").alias("t"), "x"
    )
    a = t.select(F.col("t").alias("ti"), F.col("x").alias("xi"))
    b = t.select(F.col("t").alias("tj"), F.col("x").alias("xj"))
    al = F.lit(DES_ALPHA)
    om = F.lit(1.0 - DES_ALPHA)
    d = (F.col("ti") - F.col("tj")).cast("double")
    c1 = F.when(
        F.col("tj") == 0, F.pow(om, F.col("ti").cast("double"))
    ).otherwise(al * F.pow(om, d))
    c2 = F.when(
        F.col("tj") == 0,
        (al * F.col("ti") + 1) * F.pow(om, F.col("ti").cast("double")),
    ).otherwise(al * al * (d + 1) * F.pow(om, d))
    sm = (
        a.join(b, F.col("tj") <= F.col("ti"))
        .groupBy("ti")
        .agg(
            F.max("xi").alias("x"),
            F.sum(c1 * F.col("xj")).alias("s1"),
            F.sum(c2 * F.col("xj")).alias("s2"),
        )
    )
    fc = sm.select(
        "ti",
        "x",
        (
            2 * F.col("s1")
            - F.col("s2")
            + (al / om) * (F.col("s1") - F.col("s2"))
        ).alias("f_next"),
    )
    nxt = fc.select(
        (F.col("ti") - 1).alias("ti"), F.col("x").alias("x_next")
    )
    # the naive floor's forecast for t+1 is x_t — the row's own x
    bt = fc.join(nxt, "ti").filter(F.col("ti") >= DES_BURN_IN)
    return bt.agg(
        F.count("*").cast("long").alias("n_forecasts"),
        F.round(
            F.avg(F.abs(F.col("x_next") - F.col("f_next"))), 6
        ).alias("mae_des"),
        F.round(
            F.sqrt(
                F.avg(
                    (F.col("x_next") - F.col("f_next"))
                    * (F.col("x_next") - F.col("f_next"))
                )
            ),
            6,
        ).alias("rmse_des"),
        F.round(
            F.avg(F.abs(F.col("x_next") - F.col("x"))), 6
        ).alias("mae_naive"),
    )

# ---------------------------------------------------------------------------
# Graph structure: shared undirected trade-graph oracle CTE
# ---------------------------------------------------------------------------

_UND_EDGES_SQL = """
edges0 AS MATERIALIZED (
  SELECT cn.src, sn.dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN (SELECT c_custkey, n_name AS src
        FROM customer JOIN nation ON c_nationkey = n_nationkey) cn
    ON o.o_custkey = cn.c_custkey
  JOIN (SELECT s_suppkey, n_name AS dst
        FROM supplier JOIN nation ON s_nationkey = n_nationkey) sn
    ON l.l_suppkey = sn.s_suppkey
  GROUP BY 1, 2
),
und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges0
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges0
  ) WHERE src <> dst
)"""


def _und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected simple trade graph (src, dst), both directions,
    no self-loops — the k-core query's construction, shared by the
    three structure queries below."""
    from cdc_2025_spark.queries.graph import trade_edges

    e = trade_edges(spark, sf_dir)
    return (
        e.select("src", "dst")
        .unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


_BACKBONE_SQL = """
wedges0 AS MATERIALIZED (
  SELECT cn.src, sn.dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN (SELECT c_custkey, n_name AS src
        FROM customer JOIN nation ON c_nationkey = n_nationkey) cn
    ON o.o_custkey = cn.c_custkey
  JOIN (SELECT s_suppkey, n_name AS dst
        FROM supplier JOIN nation ON s_nationkey = n_nationkey) sn
    ON l.l_suppkey = sn.s_suppkey
  GROUP BY 1, 2
),
thr AS (SELECT quantile_disc(w, 0.75) AS t FROM wedges0),
strong AS (SELECT src, dst FROM wedges0, thr WHERE w >= t),
und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM strong
    UNION ALL
    SELECT dst AS src, src AS dst FROM strong
  ) WHERE src <> dst
)"""


def _backbone_und_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weight-thresholded undirected trade BACKBONE: keep directed
    nation pairs whose lineitem count reaches the disc-75th
    percentile of pair weights, then undirect/simple. Link
    prediction needs NON-edges to score, and the full 25-nation
    trade graph saturates to COMPLETE above sf0.001 (every nation
    pair trades at least once) — on the backbone the non-edge
    candidate set is non-trivial at every SF, and the disc
    percentile of integer-valued counts is the verified
    engine-parity threshold construction (no interpolation)."""
    from cdc_2025_spark.queries.graph import trade_edges

    e = trade_edges(spark, sf_dir)
    thr = e.agg(
        F.expr(
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY w)"
        ).alias("t")
    )
    strong = (
        e.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("src", "dst")
    )
    return (
        strong.unionByName(
            strong.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


CLUSTERING_ORACLE = f"""
WITH {_UND_EDGES_SQL},
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM und GROUP BY src
),
tri AS (
  SELECT a.v AS node, CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM (SELECT src AS v, dst AS na FROM und) a
  JOIN (SELECT src AS v, dst AS nb FROM und) b USING (v)
  JOIN und e ON e.src = a.na AND e.dst = b.nb
  WHERE a.na < b.nb
  GROUP BY a.v
)
SELECT d.node, d.degree,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN d.degree >= 2
            THEN ROUND(2.0 * COALESCE(t.n_tri, 0)
                       / (d.degree * (d.degree - 1)), 6)
       END AS clustering
FROM deg d LEFT JOIN tri t ON d.node = t.node
ORDER BY d.node
"""


@query("graph_local_clustering", oracle=CLUSTERING_ORACLE)
def graph_local_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per nation in the undirected
    trade graph: C_v = 2 * tri(v) / (deg(v) * (deg(v) - 1)) —
    how close each node's neighborhood is to a clique. The per-node
    refinement of graph_triangle_stats' global census: a dense core
    shows C ~ 1 hubs, bridge nations show low C at high degree (the
    structurally-interesting combination a flow analysis looks for).

    Determinism: triangle counts and degrees are integer-exact
    (each triangle at v counted once per ORDERED neighbor pair via
    the dst_a < dst_b wedge join); C rounds 6dp.

    Scale shape: edges build once (the star join); the wedge join
    and closure check run on the bounded V=25 edge frame — at web
    scale the same plan is the standard wedge-check with the edge
    list sorted by src (degree-bounded fanout); output is one row
    per node."""
    und = _und_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    a = und.select(F.col("src").alias("v"), F.col("dst").alias("na"))
    b = und.select(F.col("src").alias("v"), F.col("dst").alias("nb"))
    wedges = a.join(b, "v").filter(F.col("na") < F.col("nb"))
    closed = wedges.join(
        und.select(
            F.col("src").alias("na"), F.col("dst").alias("nb")
        ),
        ["na", "nb"],
    )
    tri = closed.groupBy(F.col("v").alias("node")).agg(
        F.count("*").cast("long").alias("n_tri")
    )
    out = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.coalesce("n_tri", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        ).alias("clustering"),
    )
    return out.orderBy("node")


LINKPRED_ORACLE = f"""
WITH {_BACKBONE_SQL},
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM und GROUP BY src
),
cand AS (
  SELECT a.u, b.v, d.degree
  FROM (SELECT dst AS u, src AS w FROM und) a
  JOIN (SELECT src AS w, dst AS v FROM und) b USING (w)
  JOIN deg d ON d.node = a.w
  WHERE a.u < b.v
),
scores AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         SUM(1.0 / LN(degree)) AS aa_raw
  FROM cand GROUP BY u, v
),
non_edges AS (
  SELECT s.* FROM scores s
  ANTI JOIN und e ON e.src = s.u AND e.dst = s.v
)
SELECT n.u AS src, n.v AS dst, n.common_neighbors,
       ROUND(n.common_neighbors * 1.0
             / (du.degree + dv.degree - n.common_neighbors), 6)
         AS jaccard,
       ROUND(n.aa_raw, 6) AS adamic_adar
FROM non_edges n
JOIN deg du ON du.node = n.u
JOIN deg dv ON dv.node = n.v
ORDER BY src, dst
"""


@query("graph_link_prediction_scores", oracle=LINKPRED_ORACLE)
def graph_link_prediction_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction over the NON-edges of the undirected trade
    graph: common-neighbor count, Jaccard coefficient, and
    Adamic-Adar (sum of 1/ln(deg) over shared neighbors —
    Adamic & Adar 2003, the inverse-frequency idea: a shared
    low-degree neighbor is stronger evidence than a shared hub).
    Emits every candidate pair with cn >= 1 that is NOT already an
    edge — the "which trade links should exist next" screen.

    Determinism: counts/degrees are integers; ln(degree) is exact
    libm on integers (well inside 6dp agreement); pairs order by
    (src, dst).

    Runs on the weight-thresholded trade BACKBONE
    (:func:`_backbone_und_edges`): the full nation graph is complete
    above sf0.001, leaving nothing to predict — the disc-75th-
    percentile sparsification is the standard backbone-extraction
    step a link-prediction screen runs first.

    Scale shape: the wedge join produces candidate pairs keyed by
    shared neighbors (degree-bounded fanout, the triangle query's
    shape); the existing-edge anti-join and degree joins are
    id-pair-sized; output is bounded by the candidate set."""
    und = _backbone_und_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    a = und.select(F.col("dst").alias("u"), F.col("src").alias("w"))
    b = und.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    # paths u - w - v with u < v: w is a common neighbor
    cand = (
        a.join(b, "w")
        .filter(F.col("u") < F.col("v"))
        .join(deg.select(F.col("node").alias("w"), "degree"), "w")
    )
    scores = cand.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("common_neighbors"),
        F.sum(1.0 / F.log("degree")).alias("aa_raw"),
    )
    non_edges = scores.join(
        und.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    out = non_edges.join(du, "u").join(dv, "v").select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        "common_neighbors",
        F.round(
            F.col("common_neighbors")
            / (
                F.col("du") + F.col("dv") - F.col("common_neighbors")
            ),
            6,
        ).alias("jaccard"),
        F.round("aa_raw", 6).alias("adamic_adar"),
    )
    return out.orderBy("src", "dst")


ASSORT_ORACLE = f"""
WITH {_UND_EDGES_SQL},
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM und GROUP BY src
)
,
e AS (
  SELECT ds.degree AS x, dd.degree AS y
  FROM und u
  JOIN deg ds ON ds.node = u.src
  JOIN deg dd ON dd.node = u.dst
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS DOUBLE)) AS sx, SUM(CAST(y AS DOUBLE)) AS sy,
         SUM(CAST(x * y AS DOUBLE)) AS sxy,
         SUM(CAST(x * x AS DOUBLE)) AS sxx,
         SUM(CAST(y * y AS DOUBLE)) AS syy
  FROM e
)
SELECT n AS n_directed_edges,
       ROUND((n * sxy - sx * sy)
             / NULLIF(SQRT((n * sxx - sx * sx)
                           * (n * syy - sy * sy)), 0.0), 6)
         AS assortativity
FROM agg
"""


@query("graph_degree_assortativity", oracle=ASSORT_ORACLE)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the undirected trade graph (Newman
    PRL 2002): the Pearson correlation of (deg(src), deg(dst)) over
    the directed edge list (each undirected edge counted in both
    directions — the standard convention, making the two marginals
    identical). Negative r = hub-periphery structure (hubs trade
    with small nations), positive = core-core assortment; the
    single-number summary of the trade network's mixing pattern.

    Determinism: degrees are integers; r folds from explicit moment
    sums with a NULLIF-guarded denominator — a REGULAR graph (all
    degrees equal, e.g. the complete trade graph larger corpora
    produce) has zero degree variance, where Spark's ANSI corr
    throws DIVIDE_BY_ZERO and DuckDB's CORR returns NULL; the
    explicit form yields NULL identically in both engines (the
    mixing pattern of a regular graph is genuinely undefined).
    r rounds 6dp.

    Scale shape: degree table joins onto the edge frame twice by
    key (broadcast at this V; hash join at web scale); one
    aggregate row out."""
    und = _und_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    e = (
        und.join(
            deg.select(
                F.col("node").alias("src"), F.col("degree").alias("ds")
            ),
            "src",
        )
        .join(
            deg.select(
                F.col("node").alias("dst"), F.col("degree").alias("dd")
            ),
            "dst",
        )
    )
    agg = e.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("ds").cast("double")).alias("sx"),
        F.sum(F.col("dd").cast("double")).alias("sy"),
        F.sum((F.col("ds") * F.col("dd")).cast("double")).alias("sxy"),
        F.sum((F.col("ds") * F.col("ds")).cast("double")).alias("sxx"),
        F.sum((F.col("dd") * F.col("dd")).cast("double")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        F.col("n").alias("n_directed_edges"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias(
            "assortativity"
        ),
    )

# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard over customer reorder delays
# ---------------------------------------------------------------------------


NELSON_AALEN_ORACLE = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day FROM orders
),
base AS (
  SELECT o_custkey, day,
         LEAD(day) OVER (PARTITION BY o_custkey ORDER BY day) AS nxt
  FROM o
),
obs AS (
  SELECT CAST(nxt - day AS BIGINT) AS dur, 1 AS event
  FROM base WHERE nxt IS NOT NULL
  UNION ALL
  SELECT CAST((SELECT MAX(day) FROM o) - day AS BIGINT) AS dur,
         0 AS event
  FROM base WHERE nxt IS NULL
),
g AS (
  SELECT dur, CAST(SUM(event) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS tot
  FROM obs GROUP BY dur
),
risked AS (
  SELECT dur, d,
         SUM(tot) OVER () - SUM(tot) OVER (ORDER BY dur
             ROWS UNBOUNDED PRECEDING) + tot AS n_risk
  FROM g
),
na AS (
  SELECT dur, d, n_risk,
         SUM(d * 1.0 / n_risk)
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cum_hazard
  FROM risked
)
SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
       d AS n_events,
       ROUND(d * 1.0 / n_risk, 6) AS hazard_increment,
       ROUND(cum_hazard, 6) AS cum_hazard,
       ROUND(EXP(-cum_hazard), 6) AS survival_fh
FROM na
WHERE d > 0
ORDER BY duration_days
"""


@query("survival_nelson_aalen_reorder", oracle=NELSON_AALEN_ORACLE)
def survival_nelson_aalen_reorder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    1978) over the SAME reorder-delay observation table round 12's
    Kaplan-Meier query builds (consecutive-order delays as events,
    last-order-to-corpus-end as right-censored): H(t) =
    sum_{s <= t} d_s / n_risk_s, with the Fleming-Harrington
    survival transform S_FH(t) = exp(-H(t)) — the better-behaved
    small-risk-set estimator (KM's product hits 0 the moment any
    factor does; exp(-H) never does), and the hazard INCREMENTS are
    the directly interpretable per-day reorder intensity a
    replenishment model consumes.

    Determinism: d and n_risk are integer frames; H is a cumulative
    sum of exact rationals over the duration-ordered bounded frame
    (fixed summation order); outputs round 6dp.

    Scale shape: identical to the KM query — one custkey window, one
    duration groupBy, bounded duration frame downstream."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    w_cust = Window.partitionBy("o_custkey").orderBy("day")
    base = o.withColumn("nxt", F.lead("day").over(w_cust))
    events = base.filter(F.col("nxt").isNotNull()).select(
        F.datediff("nxt", "day").alias("dur"),
        F.lit(1).alias("event"),
    )
    gmax = o.agg(F.max("day").alias("gmax"))
    censored = (
        base.filter(F.col("nxt").isNull())
        .crossJoin(F.broadcast(gmax))
        .select(
            F.datediff("gmax", "day").alias("dur"),
            F.lit(0).alias("event"),
        )
    )
    obs = events.unionByName(censored)
    g = obs.groupBy("dur").agg(
        F.sum("event").cast("long").alias("d"),
        F.count("*").cast("long").alias("tot"),
    )
    w_all = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_total = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    na = g.withColumn(
        "n_risk",
        F.sum("tot").over(n_total)
        - F.sum("tot").over(w_all)
        + F.col("tot"),
    ).withColumn(
        "cum_hazard",
        F.sum(F.col("d") / F.col("n_risk")).over(w_all),
    )
    return (
        na.filter(F.col("d") > 0)
        .select(
            F.col("dur").alias("duration_days"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.round(F.col("d") / F.col("n_risk"), 6).alias(
                "hazard_increment"
            ),
            F.round("cum_hazard", 6).alias("cum_hazard"),
            F.round(F.exp(-F.col("cum_hazard")), 6).alias(
                "survival_fh"
            ),
        )
        .orderBy("duration_days")
    )


# ---------------------------------------------------------------------------
# Entropy l-diversity audit (the rung above k-anonymity)
# ---------------------------------------------------------------------------

LDIV_L = 2
LDIV_LN_L = 0.6931471805599453  # ln(2), the entropy bar


LDIV_ORACLE = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(value / 100) AS INTEGER) AS sens
  FROM events WHERE value IS NOT NULL
),
cell AS (
  SELECT event_type, day, sens, COUNT(*) AS c
  FROM ev GROUP BY 1, 2, 3
),
withp AS (
  SELECT event_type, day,
         c * 1.0 / SUM(c) OVER (PARTITION BY event_type, day) AS p
  FROM cell
),
per_group AS (
  SELECT event_type, day,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         -SUM(p * LN(p)) AS entropy
  FROM withp
  GROUP BY event_type, day
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_distinct < {LDIV_L} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fail_distinct,
       CAST(SUM(CASE WHEN entropy < {LDIV_LN_L}
                THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fail_entropy,
       CAST(MIN(n_distinct) AS BIGINT) AS min_distinct,
       ROUND(MIN(entropy), 6) AS min_entropy
FROM per_group
"""


@query("privacy_ldiversity_audit", oracle=LDIV_ORACLE)
def privacy_ldiversity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. ICDE 2006) of the
    events release with QI = (event_type, day) and SENSITIVE
    attribute = floor(value/100): k-anonymity bounds group SIZE, but
    a size-k group whose sensitive values are all equal still leaks
    — l-diversity requires each group to hold at least l
    well-represented sensitive values. One audit row: group counts,
    how many groups fail DISTINCT l-diversity (< l distinct
    sensitive values), how many fail the stricter ENTROPY form
    (entropy < ln(l)), and the worst group's distinct count and
    entropy.

    Determinism: distinct counts are integers; entropies are
    -sum(p ln p) over integer-rational p with 6dp rounding applied
    only to the REPORTED minima, never the fail/pass comparisons
    (those compare against ln(2) = 0.693147..., far from any
    accumulated noise at these group sizes).

    Scale shape: ONE (QI, sensitive) grouped count (map-side
    partials), one QI-grouped entropy fold over it, one audit
    aggregate; output is one row."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") / 100).cast("int").alias("sens"),
    ).filter(F.col("sens").isNotNull())
    cell = ev.groupBy("event_type", "day", "sens").agg(
        F.count("*").alias("c")
    )
    w_g = Window.partitionBy("event_type", "day")
    p = F.col("c") / F.sum("c").over(w_g)
    per_group = (
        cell.withColumn("p", p)
        .groupBy("event_type", "day")
        .agg(
            F.count("*").cast("long").alias("n_distinct"),
            (-F.sum(F.col("p") * F.log("p"))).alias("entropy"),
        )
    )
    return per_group.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(
            (F.col("n_distinct") < LDIV_L).cast("long")
        ).cast("long").alias("n_fail_distinct"),
        F.sum(
            (F.col("entropy") < LDIV_LN_L).cast("long")
        ).cast("long").alias("n_fail_entropy"),
        F.min("n_distinct").cast("long").alias("min_distinct"),
        F.round(F.min("entropy"), 6).alias("min_entropy"),
    )

# ---------------------------------------------------------------------------
# Simpson lexical diversity per source (integer-exact)
# ---------------------------------------------------------------------------


SIMPSON_ORACLE = """
WITH toks AS (
  SELECT source,
         UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
  WHERE source IS NOT NULL AND text IS NOT NULL
),
tf AS (
  SELECT source, tok, COUNT(*) AS n
  FROM toks WHERE tok <> ''
  GROUP BY source, tok
),
agg AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(n * (n - 1)) AS BIGINT) AS same_pairs
  FROM tf GROUP BY source
)
SELECT source, n_tokens, n_types,
       ROUND(same_pairs * 1.0 / (n_tokens * (n_tokens - 1.0)), 6)
         AS simpson_l,
       ROUND(1 - same_pairs * 1.0 / (n_tokens * (n_tokens - 1.0)), 6)
         AS gini_simpson,
       ROUND((n_tokens * (n_tokens - 1.0)) / same_pairs, 4)
         AS inv_simpson
FROM agg
ORDER BY source
"""


@query("text_simpson_diversity_sources", oracle=SIMPSON_ORACLE)
def text_simpson_diversity_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson diversity of the term distribution per SOURCE: the
    unbiased Simpson index L = sum n_t(n_t - 1) / (N(N - 1)) (the
    probability two tokens drawn WITHOUT replacement are the same
    type), its Gini-Simpson complement 1 - L, and the
    inverse-Simpson effective vocabulary 1/L — the "how many equally
    common terms would look like this" number. The
    concentration-side complement to the registered per-doc entropy
    and Zipf diagnostics: entropy weights the tail, Simpson weights
    the head, and corpora that drift differ in which moves first.

    Determinism: n_t and N are integer-exact sufficient statistics
    (no floats until the final three ratios, rounded 6dp) — the
    hash-stable alternative to entropy when engines must agree.

    Scale shape: ONE (source, token) grouped count with map-side
    partials, one source-grouped fold; output is one row per
    source."""
    from cdc_2025_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    toks = docs.select(
        "source",
        F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("n")
    )
    agg = tf.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias(
            "same_pairs"
        ),
    )
    nn = F.col("n_tokens").cast("double")
    l_ = F.col("same_pairs") / (nn * (nn - 1))
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(l_, 6).alias("simpson_l"),
        F.round(1 - l_, 6).alias("gini_simpson"),
        F.round(1 / l_, 4).alias("inv_simpson"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Sentence-length profile per source (engine-portable splitter)
# ---------------------------------------------------------------------------


SENTENCE_ORACLE = """
WITH sent AS (
  SELECT doc_id, source, trim(s) AS seg
  FROM (
    SELECT doc_id, source, UNNEST(string_split(text, '.')) AS s
    FROM documents
    WHERE source IS NOT NULL AND text IS NOT NULL
  )
  WHERE trim(s) <> ''
),
lens AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(seg, '\\s+')) AS BIGINT)
           AS n_tok
  FROM sent
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       ROUND(COUNT(*) * 1.0 / COUNT(DISTINCT doc_id), 4)
         AS sentences_per_doc,
       ROUND(AVG(n_tok), 4) AS mean_tokens,
       CAST(quantile_disc(n_tok, 0.5) AS BIGINT) AS p50_tokens,
       CAST(quantile_disc(n_tok, 0.9) AS BIGINT) AS p90_tokens
FROM lens
GROUP BY source
ORDER BY source
"""


@query("text_sentence_stats_sources", oracle=SENTENCE_ORACLE)
def text_sentence_stats_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sentence-length profile per source: split on '.' (the
    deliberately minimal engine-portable splitter — regex sentence
    segmenters differ across dialects, and the POINT is corpus
    drift, not linguistics), keep non-blank segments, and report
    sentences/doc and the token-length distribution (mean + disc
    p50/p90) of sentences. Short-sentence corpora are boilerplate/
    listing-heavy; a drifting p90 flags template injection — the
    Gopher-style length rule one level below documents.

    Determinism: segment and token counts are integers; disc
    percentiles over integers agree exactly; the mean rounds 4dp.

    Scale shape: explode(split) keeps the narrow plan (no shuffle
    until the source groupBy of integer lengths); output is one row
    per source."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    sent = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), r"\.")).alias("seg"),
    ).select(
        "doc_id", "source", F.trim(F.col("seg")).alias("seg")
    ).filter(F.col("seg") != "")
    lens = sent.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("seg"), r"\s+")).cast("long").alias(
            "n_tok"
        ),
    )
    return (
        lens.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_sentences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.round(
                F.count("*")
                / F.countDistinct("doc_id").cast("double"),
                4,
            ).alias("sentences_per_doc"),
            F.round(F.avg("n_tok"), 4).alias("mean_tokens"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok)"
            ).cast("long").alias("p50_tokens"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY n_tok)"
            ).cast("long").alias("p90_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Pairwise effect sizes (Cohen's d / Hedges' g) between segments
# ---------------------------------------------------------------------------


EFFECT_ORACLE = """
WITH o AS (
  SELECT c_mktsegment, o_totalprice AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
),
g AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         AVG(v) AS m, VAR_SAMP(v) AS s2
  FROM o GROUP BY c_mktsegment
)
SELECT a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
       a.n + b.n AS n_total,
       ROUND((a.m - b.m) / SQRT(((a.n - 1) * a.s2 + (b.n - 1) * b.s2)
             / (a.n + b.n - 2)), 6) AS cohens_d,
       ROUND((a.m - b.m) / SQRT(((a.n - 1) * a.s2 + (b.n - 1) * b.s2)
             / (a.n + b.n - 2))
             * (1 - 3.0 / (4 * (a.n + b.n - 2) - 1)), 6) AS hedges_g
FROM g a JOIN g b ON a.c_mktsegment < b.c_mktsegment
ORDER BY seg_a, seg_b
"""


@query("stats_effect_sizes_segments", oracle=EFFECT_ORACLE)
def stats_effect_sizes_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's d and Hedges' g for every ordered pair of market
    segments on order value — the EFFECT-SIZE layer the test family
    (Welch, ANOVA, Kruskal-Wallis) deliberately lacks: at corpus
    scale every difference is "significant", and d is what says
    whether it is LARGE. Hedges' g applies the small-sample
    correction factor (1 - 3/(4*df - 1)); at these n it barely moves
    d, which is itself the visible sanity check.

    Determinism: per-segment moments fold in one grouped pass; the
    5x5 pair frame is bounded; d/g round 6dp.

    Scale shape: ONE grouped moment pass over the corpus; the pair
    join runs on the 5-row moment table; output is one row per
    ordered pair (a < b)."""
    o = read_table(spark, sf_dir, "orders").join(
        read_table(spark, sf_dir, "customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("c_mktsegment", F.col("o_totalprice").alias("v"))
    g = o.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("v").alias("m"),
        F.var_samp("v").alias("s2"),
    )
    a = g.select(
        F.col("c_mktsegment").alias("seg_a"),
        F.col("n").alias("na"),
        F.col("m").alias("ma"),
        F.col("s2").alias("va"),
    )
    b = g.select(
        F.col("c_mktsegment").alias("seg_b"),
        F.col("n").alias("nb"),
        F.col("m").alias("mb"),
        F.col("s2").alias("vb"),
    )
    p = a.join(b, F.col("seg_a") < F.col("seg_b"))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    pooled = F.sqrt(
        ((na - 1) * F.col("va") + (nb - 1) * F.col("vb"))
        / (na + nb - 2)
    )
    d = (F.col("ma") - F.col("mb")) / pooled
    corr = 1 - 3 / (4 * (na + nb - 2) - 1)
    return p.select(
        "seg_a",
        "seg_b",
        (F.col("na") + F.col("nb")).cast("long").alias("n_total"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * corr, 6).alias("hedges_g"),
    ).orderBy("seg_a", "seg_b")


# ---------------------------------------------------------------------------
# PPS systematic sampling (probability proportional to size)
# ---------------------------------------------------------------------------

PPS_K = 200
PPS_BUCKETS = 256


PPS_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
),
tot AS (SELECT SUM(w) AS t FROM docs),
lined AS (
  SELECT doc_id, w,
         SUM(w) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - w AS lo,
         SUM(w) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS hi
  FROM docs
),
ks AS (SELECT i AS k FROM generate_series(0, {PPS_K - 1}) g(i))
SELECT CAST(k AS BIGINT) AS slot, doc_id, w AS n_chars
FROM lined CROSS JOIN tot CROSS JOIN ks
WHERE (2 * k + 1) * t >= 2 * {PPS_K} * lo
  AND (2 * k + 1) * t <  2 * {PPS_K} * hi
ORDER BY slot
"""


@query("sample_pps_systematic_docs", oracle=PPS_ORACLE)
def sample_pps_systematic_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sample of PPS_K
    documents weighted by n_chars (Madow 1949): lay the docs on a
    doc_id-ordered line where each occupies an interval equal to its
    weight, then select the doc containing position (i + 0.5) * T/K
    for i = 0..K-1 — deterministic (no RNG), every doc's inclusion
    probability proportional to its size, and big docs can never be
    missed (the property Poisson/bernoulli size-sampling lacks). The
    curation rationale: token-weighted corpus quotas should sample
    documents proportional to the tokens they contribute.

    The cumulative weight line is built with the Spearman query's
    TWO-LEVEL form: doc_id range-buckets -> within-bucket cumulative
    windows (partitions hold ~n/PPS_BUCKETS docs) + bucket-offset
    windows over the bounded bucket frame — NO corpus-sized
    single-partition cumsum. Selection is then a broadcast join of
    the K target positions against interval containment.

    Determinism: weights and cumulative sums are integer-exact;
    positions are exact rationals compared against integer interval
    ends (T odd makes every 2*pos_numerator odd, never equal to an
    even 2*boundary — ties impossible by parity, but the >=/< pair
    is still the documented convention).

    Scale shape: one groupBy-free scan with two bounded windows and
    a K-row broadcast; output is K rows (doc_id, weight, position
    index)."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    ).select("doc_id", F.col("n_chars").cast("long").alias("w"))
    rng = docs.agg(
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
        F.sum("w").alias("t"),
    )
    nb = F.lit(PPS_BUCKETS)
    b = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.floor(
                (F.col("doc_id") - F.col("mn"))
                / ((F.col("mx") - F.col("mn") + 1) / nb)
            ),
            nb - 1,
        ),
    ).otherwise(F.lit(0))
    bucketed = docs.crossJoin(F.broadcast(rng)).select(
        "doc_id", "w", "t", b.cast("long").alias("b")
    )
    w_in = (
        Window.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_in = F.coalesce(F.sum("w").over(w_in), F.lit(0))
    w_off = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("b")
        .agg(F.sum("w").alias("bw"))
        .select(
            "b",
            F.coalesce(F.sum("bw").over(w_off), F.lit(0)).alias(
                "boff"
            ),
        )
    )
    lined = (
        bucketed.withColumn("cum_in", cum_in)
        .join(F.broadcast(offsets), "b")
        .select(
            "doc_id",
            "w",
            "t",
            (F.col("boff") + F.col("cum_in")).alias("lo"),
            (F.col("boff") + F.col("cum_in") + F.col("w")).alias(
                "hi"
            ),
        )
    )
    ks = spark.range(PPS_K).select(F.col("id").alias("k"))
    # position_k = (k + 0.5) * T / K; compare 2*pos*K vs 2*bound*K
    # in exact integer arithmetic: (2k + 1) * T vs 2 * K * bound
    sel = lined.crossJoin(F.broadcast(ks)).filter(
        ((2 * F.col("k") + 1) * F.col("t") >= 2 * PPS_K * F.col("lo"))
        & ((2 * F.col("k") + 1) * F.col("t") < 2 * PPS_K * F.col("hi"))
    )
    return sel.select(
        F.col("k").cast("long").alias("slot"),
        "doc_id",
        F.col("w").alias("n_chars"),
    ).orderBy("slot")


# ---------------------------------------------------------------------------
# MCC + Cohen's kappa at the median-score decision threshold
# ---------------------------------------------------------------------------


MCC_ORACLE = f"""
WITH s AS (
  SELECT (n_chars % {SCORE_MOD}) / {SCORE_MOD}.0 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
thr AS (SELECT quantile_disc(score, 0.5) AS thr FROM s),
c AS (
  SELECT
    CAST(SUM(CASE WHEN score >= thr AND label = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN score >= thr AND label = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN score < thr AND label = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN score < thr AND label = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS tn
  FROM s CROSS JOIN thr
)
SELECT tp, fp, fn, tn,
       ROUND((tp * tn - fp * fn * 1.0)
             / NULLIF(SQRT((tp + fp * 1.0) * (tp + fn) * (tn + fp)
                           * (tn + fn)), 0.0), 6) AS mcc,
       ROUND(((tp + tn * 1.0) / (tp + fp + fn + tn)
              - ((tp + fp * 1.0) * (tp + fn)
                 + (fn + tn * 1.0) * (fp + tn))
                / ((tp + fp + fn + tn * 1.0)
                   * (tp + fp + fn + tn)))
             / NULLIF(1 - ((tp + fp * 1.0) * (tp + fn)
                           + (fn + tn * 1.0) * (fp + tn))
                      / ((tp + fp + fn + tn * 1.0)
                         * (tp + fp + fn + tn)), 0.0), 6) AS kappa
FROM c
"""


@query("eval_mcc_kappa", oracle=MCC_ORACLE)
def eval_mcc_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient and Cohen's kappa for the
    quality score thresholded at its median (predict positive when
    score >= disc-median) against the is-English label — the two
    chance-corrected single-number summaries accuracy is not: MCC is
    the phi coefficient of the confusion matrix (balanced even at
    99:1 skew), kappa subtracts marginal-agreement chance. Completes
    the eval rung beside AUC (ranking), AP (imbalance), Brier
    (probability) with the HARD-DECISION view.

    Determinism: the threshold is percentile_disc (an actual score
    value); confusion counts are integers; both statistics fold in
    closed form, rounded 6dp.

    Scale shape: one disc-percentile aggregate (broadcast scalar),
    one conditional-count pass; output is one row."""
    s = _scored_docs(spark, sf_dir)
    thr = s.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY score)"
        ).alias("thr")
    )
    j = s.crossJoin(F.broadcast(thr))
    pred = (F.col("score") >= F.col("thr")).cast("long")
    y = F.col("label").cast("long")
    c = j.agg(
        F.sum(pred * y).cast("long").alias("tp"),
        F.sum(pred * (1 - y)).cast("long").alias("fp"),
        F.sum((1 - pred) * y).cast("long").alias("fn"),
        F.sum((1 - pred) * (1 - y)).cast("long").alias("tn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn, tn = F.col("fn").cast("double"), F.col("tn").cast("double")
    n = tp + fp + fn + tn
    mcc = (tp * tn - fp * fn) / F.nullif(
        F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
        F.lit(0.0),
    )
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    kappa = (po - pe) / F.nullif(1 - pe, F.lit(0.0))
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(mcc, 6).alias("mcc"),
        F.round(kappa, 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Versioned-table semantic diff: the lakehouse layer's driver surface
# ---------------------------------------------------------------------------

# Session-level memo for scratch versioned tables (the trade_edges /
# _MEDIA_CACHE posture): repeated driver/bench invocations of the
# versioned audit queries reuse ONE committed table per (session,
# sf_dir, kind) instead of accumulating tmpdir copies in /tmp
# (ADVICE r13); every created dir is also atexit-registered so no
# copy outlives the process.
from weakref import WeakKeyDictionary as _WeakKeyDictionary  # noqa: E402

_VERSIONED_TABLE_CACHE: _WeakKeyDictionary = _WeakKeyDictionary()


def memo_versioned_table(spark, sf_dir, kind, builder):
    """Return the path of a committed scratch versioned table, built
    at most once per (session, sf_dir, kind) by ``builder(path)``."""
    import atexit
    import shutil
    import tempfile

    per_session = _VERSIONED_TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, kind)
    path = per_session.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"cdc2025_{kind}_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        builder(path)
        per_session[key] = path
    return path


VERSIONED_DIFF_ORACLE = """
SELECT 'added' AS change,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(-c_custkey) AS BIGINT) AS key_sum
FROM customer WHERE c_custkey % 11 = 0 AND c_custkey <> 0
UNION ALL
SELECT 'changed',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(c_custkey) AS BIGINT)
FROM customer WHERE c_custkey % 7 <> 0 AND c_custkey % 5 = 0
UNION ALL
SELECT 'removed',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(c_custkey) AS BIGINT)
FROM customer WHERE c_custkey % 7 = 0
ORDER BY change
"""


@query("versioned_diff_audit", oracle=VERSIONED_DIFF_ORACLE)
def versioned_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface for the versioned parquet table layer
    (cdc_2025_spark/versioned.py): commit the customer dim as
    snapshot v1, commit a DETERMINISTICALLY mutated copy as v2
    (keys divisible by 7 removed; keys divisible by 5 but not 7 get
    acctbal + 100; NONZERO keys divisible by 11 re-enter negated as
    new rows — the testdata's custkeys start at 0, and -0 == 0 would
    collide the "added" row back onto a removed key), then read the
    churn back through ``diff_versions`` — the
    added/removed/changed audit a rollback decision consults. The
    oracle recomputes the expected churn classes straight from the
    base table, so a hash-green row verifies the whole chain:
    write_versioned's manifest CAS, time-travel reads of both
    snapshots, and the null-safe full-outer diff classification.

    The table lives in a session-memoized tmpdir (snapshots are a
    few hundred KB at driver SFs; built once per session, removed at
    exit) — the returned frame reads the committed snapshots lazily,
    exactly as a production audit would.

    Determinism: the mutation is pure modular arithmetic on the
    unique key; counts and key sums are integer-exact; acctbal
    round-trips parquet doubles bit-identically, so 'changed' rows
    are exactly the +100 mutations.

    Scale shape: snapshots are distributed parquet writes;
    diff_versions is one null-safe full-outer join on the key (the
    only shuffle) with struct comparison engine-side; output is
    bounded by the churn classes, not the table."""
    from cdc_2025_spark.versioned import diff_versions, write_versioned

    key = F.col("c_custkey")
    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").alias("bal")
    )
    mutated = (
        base.filter(key % 7 != 0)
        .withColumn(
            "bal",
            F.when(key % 5 == 0, F.col("bal") + 100.0).otherwise(
                F.col("bal")
            ),
        )
        .unionByName(
            base.filter((key % 11 == 0) & (key != 0)).select(
                (-key).alias("c_custkey"),
                "c_mktsegment",
                F.lit(0.0).alias("bal"),
            )
        )
    )
    def _build(path: str) -> None:
        write_versioned(base, path)
        write_versioned(mutated, path, mode="overwrite")

    table = memo_versioned_table(
        spark, sf_dir, "versioned_diff", _build
    )
    churn = diff_versions(spark, table, 1, 2, ["c_custkey"])
    return (
        churn.groupBy("change")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("c_custkey").cast("long").alias("key_sum"),
        )
        .orderBy("change")
    )

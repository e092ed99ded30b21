"""Round-12 queries: the TEMPORAL ANOMALY & STRUCTURE
family — the monitoring layer that sits one level above round 11's
drift statistics: smoothed-deviation anomaly flags (EWMA), robust
seasonal decomposition outliers (the STL idea in its windowed
integer-deterministic form), recursive changepoint segmentation
(binary segmentation over the CUSUM family's single-split form),
community structure of the trade graph (weighted label propagation),
the Johnson-Lindenstrauss projection-distortion audit the embedding
family's compression rung calls for, the Wald-Wolfowitz runs
test for residual randomness, the seasonal-naive forecast backtest
(the floor every forecaster must beat), and a deterministic POISSON
bootstrap CI for the mean (the distributed bootstrap — per-row
md5-derived Poisson(1) weights, no resample shuffle).

The second wave adds the SURVIVAL / INEQUALITY / ASSOCIATION /
CALIBRATION rung: Kaplan-Meier product-limit curves over customer
reorder delays (administrative right-censoring), per-nation Gini +
Lorenz top-decile spend shares, the chi-square / Cramér's V /
mutual-information categorical-association triple, k-core
decomposition via the Lü et al. h-index iteration (integer-exact,
unrolled-CTE oracle), a Benjamini-Hochberg FDR screen over per-type
Mann-Kendall trend tests (the correction layer above round 11's
single-series test), isotonic (PAV) calibration computed through its
minimax characterization on a bounded bin frame, and Goh-Barabási
burstiness / Fano-factor arrival diagnostics, the Theil T
decomposition (between- vs within-nation spend inequality — the
additively-decomposable complement to Gini), Spearman rank
correlation with exact tie midranks per segment, the
Kruskal-Wallis k-sample rank test (tie-corrected H, Wilson-Hilferty
chi-square tail through the shared A&S polynomial), incremental
view maintenance (functions/ivm.py delta propagation checked
against the SEMANTIC recompute oracle — incremental == rescan, the
IVM correctness property itself), and a split-conformal
prediction-interval calibration audit (integer-exact count
residuals, rank-rule conformal quantile, held-out coverage — the
uncertainty-quantification rung). Twenty queries, every one with a
full DuckDB oracle.

Each query registers through ``@query``; tests/test_pending_r12.py
runs each one against its oracle with the driver's comparison.

Pre-registration sf0.1 wall times (min-of-2, idle local[32], for the
round-12 bench.py HEADLINE additions): EWMA 0.47 s, STL outliers
1.09 s, binseg 0.81 s, label propagation 1.93 s (4 unrolled rounds
over the 25-node trade graph — the star join dominates, the rounds
are broadcast joins), JL audit 0.62 s, runs test 0.35 s, seasonal-naive backtest 0.68 s, Poisson bootstrap (B=100) 0.40 s.
Second wave (same protocol): Kaplan-Meier 1.14 s, Gini 1.07 s,
chi-square triple 0.61 s, k-core 2.55 s (8 unrolled h-index rounds,
driver-round latency like label propagation), BH-FDR screen 0.80 s,
isotonic 0.48 s, Fano/burstiness 0.80 s, Theil decomposition
0.73 s (flat at 10x), Spearman 1.95 s (2.5x at 10x: exact
midranks need a per-segment rank sort — one window partition per
returnflag; the web-scale variant groups by distinct value and
joins midranks back, trading the single-partition sort for a
shuffle join, semantics unchanged), Kruskal-Wallis 1.30 s (flat —
same rank-window price at this corpus, 1 row out), IVM delta
refresh 1.47 s (base state + one O(|delta|) groupBy + bounded-state
merge; the refresh leg alone is delta-sized at any corpus),
conformal audit 0.64 s (flat — one grouped collapse + bounded
calendar frame).

Engine-parity rules inherited from the registry docstring: integer
frames exact; disc percentiles over 4dp-rounded values for medians;
float aggregates rounded 4-6dp AFTER the final aggregate; boolean
flags compared on 4dp-rounded operands so summation-order noise
cannot flip them; md5-hash determinism via the shared
``conv(substr(md5(..),1,8),16,10)`` <-> ``('0x'||substr(md5(..),1,8))``
pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.io import read_table
from cdc_2025_spark.functions.ranks import bucketed_midranks
from cdc_2025_spark.queries.pending_r10 import SCORE_MOD
from cdc_2025_spark.queries.registry import query

# ---------------------------------------------------------------------------
# EWMA anomaly flags over per-type daily means
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3
EWMA_K = 2.5


EWMA_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, AVG(value) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         FIRST_VALUE(x) OVER (PARTITION BY event_type ORDER BY day) AS x1,
         STDDEV_SAMP(x) OVER (PARTITION BY event_type) AS sd
  FROM daily
),
ew AS (
  SELECT event_type, day, x, i, x1, sd,
         {EWMA_ALPHA} * POW({1.0 - EWMA_ALPHA}, i)
           * SUM(CASE WHEN i >= 2
                      THEN x * POW({1.0 - EWMA_ALPHA}, -i)
                      ELSE 0 END)
             OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         + POW({1.0 - EWMA_ALPHA}, i - 1) * x1 AS ewma
  FROM idx
),
fl AS (
  SELECT event_type, sd, ewma,
         CASE WHEN i >= 2 AND
                   ROUND(ABS(x - LAG(ewma) OVER
                     (PARTITION BY event_type ORDER BY day)), 4)
                   > ROUND({EWMA_K} * sd, 4)
              THEN 1 ELSE 0 END AS is_anom,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY day DESC) AS rn_desc
  FROM ew
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(is_anom) AS BIGINT) AS n_anomalies,
       ROUND(MAX(CASE WHEN rn_desc = 1 THEN ewma END), 4) AS final_ewma,
       ROUND(MAX(sd), 4) AS series_sd
FROM fl
GROUP BY event_type
"""


@query("events_ewma_anomaly", oracle=EWMA_ORACLE)
def events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EWMA anomaly audit over the daily mean value
    series: ewma_t = alpha*x_t + (1-alpha)*ewma_{t-1} (ewma_1 = x_1,
    the standard recursive init), a day is anomalous when its value
    deviates from YESTERDAY's smoothed level by more than K sample
    standard deviations of the full series (the EWMA control chart's
    one-sided-lag form — the forecast never sees the point it
    judges).

    The recurrence is evaluated in CLOSED FORM so both engines
    compute it as one ordered cumulative window, no iteration:
    with beta = 1-alpha and day index i (1-based),
    ewma_t = alpha * beta^t * sum_{i=2..t}(x_i * beta^-i)
             + beta^(t-1) * x_1.
    beta^-i stays < 5e4 over a 31-day month — no overflow regime.

    Scale shape: the corpus collapses to (event_type, day) daily
    means in one grouped aggregate (map-side partials); everything
    after runs on the ~31-row-per-type calendar frame — the bounded
    whole-frame window the r11 drift family documents."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(F.avg("value").alias("x"))
    )
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type")
    beta = 1.0 - EWMA_ALPHA
    d = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(w_ord).alias("i"),
        F.first("x").over(w_ord).alias("x1"),
        F.stddev_samp("x").over(w_all).alias("sd"),
    )
    d = d.withColumn(
        "s",
        F.sum(
            F.when(F.col("i") >= 2, F.col("x") * F.pow(F.lit(beta), -F.col("i")))
            .otherwise(F.lit(0.0))
        ).over(
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        "ewma",
        F.lit(EWMA_ALPHA) * F.pow(F.lit(beta), F.col("i")) * F.col("s")
        + F.pow(F.lit(beta), F.col("i") - 1) * F.col("x1"),
    )
    flagged = d.select(
        "event_type",
        "sd",
        F.col("ewma"),
        # deviation vs the PREVIOUS day's smoothed level; day 1 has
        # no forecast and is never flagged
        F.when(
            F.col("i") >= 2,
            (
                F.round(
                    F.abs(F.col("x") - F.lag("ewma").over(w_ord)), 4
                )
                > F.round(F.lit(EWMA_K) * F.col("sd"), 4)
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("is_anom"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(F.col("day").desc())
        )
        .alias("rn_desc"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("is_anom").cast("long").alias("n_anomalies"),
            F.round(
                F.max(F.when(F.col("rn_desc") == 1, F.col("ewma"))), 4
            ).alias("final_ewma"),
            F.round(F.max("sd"), 4).alias("series_sd"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# STL-lite: seasonal (day-of-week) + trend (centered MA) + MAD outliers
# ---------------------------------------------------------------------------

STL_MAD_K = 3.0
STL_MAD_CONSISTENCY = 1.4826  # normal-consistency constant


STL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value), 4) AS x,
         dayofweek(CAST(ts AS DATE)) + 1 AS dow
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
seas AS (
  SELECT event_type, dow, quantile_disc(x, 0.5) AS s
  FROM daily GROUP BY 1, 2
),
d AS (
  SELECT daily.event_type, day, x, daily.dow, x - s AS deseas
  FROM daily JOIN seas
    ON daily.event_type = seas.event_type AND daily.dow = seas.dow
),
t AS (
  SELECT *,
         AVG(deseas) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend
  FROM d
),
r AS (
  SELECT *, ROUND(deseas - trend, 4) AS resid FROM t
),
med AS (
  SELECT event_type, quantile_disc(resid, 0.5) AS med_r
  FROM r GROUP BY 1
),
ad AS (
  SELECT r.*, ROUND(ABS(resid - med_r), 4) AS absdev
  FROM r JOIN med ON r.event_type = med.event_type
),
md AS (
  SELECT event_type, quantile_disc(absdev, 0.5) AS mad
  FROM ad GROUP BY 1
),
fl AS (
  SELECT ad.*, md.mad,
         CASE WHEN md.mad > 0 AND
                   absdev > ROUND({STL_MAD_K * STL_MAD_CONSISTENCY}
                                  * md.mad, 4)
              THEN 1 ELSE 0 END AS is_out
  FROM ad JOIN md ON ad.event_type = md.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers,
       ROUND(MAX(mad), 4) AS resid_mad,
       ROUND(GREATEST(0.0,
             1.0 - VAR_SAMP(resid) / VAR_SAMP(deseas)), 4)
         AS seasonal_strength
FROM fl
GROUP BY event_type
"""


@query("events_stl_residual_outliers", oracle=STL_ORACLE)
def events_stl_residual_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust seasonal-trend decomposition audit per event type (the
    STL idea restated in windowed deterministic form): seasonal
    component = day-of-week disc-median of the 4dp-rounded daily
    means (disc medians are the verified engine-parity construction);
    trend = centered 7-day moving average of the deseasonalized
    series (partial windows at the edges average what exists — same
    rule both engines); residual outliers by the MAD rule
    (|r - med(r)| > K * 1.4826 * MAD, disc medians again); seasonal
    strength = max(0, 1 - var(residual)/var(deseasonalized))
    (Hyndman's FPP definition against the detrended-only series).

    Scale shape: one grouped collapse to the (type, day) calendar
    frame; the seasonal medians are a 7-rows-per-type aggregate
    broadcast back by join; all windows run on the bounded calendar
    frame."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.avg("value"), 4).alias("x"))
        .withColumn("dow", F.dayofweek("day"))
    )
    seas = daily.groupBy("event_type", "dow").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY x)"
        ).alias("s")
    )
    d = daily.join(F.broadcast(seas), ["event_type", "dow"]).withColumn(
        "deseas", F.col("x") - F.col("s")
    )
    w_ma = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    d = d.withColumn("trend", F.avg("deseas").over(w_ma)).withColumn(
        "resid", F.round(F.col("deseas") - F.col("trend"), 4)
    )
    med = d.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY resid)"
        ).alias("med_r")
    )
    d2 = d.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.round(F.abs(F.col("resid") - F.col("med_r")), 4)
    )
    mad = d2.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY absdev)"
        ).alias("mad")
    )
    d3 = d2.join(F.broadcast(mad), "event_type").withColumn(
        "is_out",
        (
            (F.col("mad") > 0)
            & (
                F.col("absdev")
                > F.round(
                    F.lit(STL_MAD_K * STL_MAD_CONSISTENCY) * F.col("mad"),
                    4,
                )
            )
        ).cast("long"),
    )
    return (
        d3.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("is_out").cast("long").alias("n_outliers"),
            F.round(F.max("mad"), 4).alias("resid_mad"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.var_samp("resid") / F.var_samp("deseas"),
                ),
                4,
            ).alias("seasonal_strength"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Depth-2 binary segmentation over the daily event-count series
# ---------------------------------------------------------------------------


BINSEG_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
g1 AS (
  SELECT day,
         ROW_NUMBER() OVER (ORDER BY day) AS k,
         SUM(c) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
         COUNT(*) OVER () AS n,
         SUM(c) OVER () AS sn
  FROM daily
),
g1g AS (
  SELECT *,
         CASE WHEN k < n THEN
           sk * sk * 1.0 / k
           + (sn - sk) * (sn - sk) * 1.0 / (n - k)
           - sn * sn * 1.0 / n END AS gain
  FROM g1
),
b1 AS (
  SELECT day AS split_day, ROUND(gain, 4) AS gain,
         ROUND(sk * 1.0 / k, 4) AS mean_left,
         ROUND((sn - sk) * 1.0 / (n - k), 4) AS mean_right,
         CAST(1 AS BIGINT) AS level, 'all' AS segment
  FROM g1g WHERE gain IS NOT NULL
  ORDER BY ROUND(gain, 6) DESC, day LIMIT 1
),
sides AS (
  SELECT d.day, d.c,
         CASE WHEN d.day <= b1.split_day THEN 'left'
              ELSE 'right' END AS segment
  FROM daily d CROSS JOIN b1
),
g2 AS (
  SELECT segment, day,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY day) AS k,
         SUM(c) OVER (PARTITION BY segment ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
         COUNT(*) OVER (PARTITION BY segment) AS n,
         SUM(c) OVER (PARTITION BY segment) AS sn
  FROM sides
),
g2g AS (
  SELECT *,
         CASE WHEN k < n THEN
           sk * sk * 1.0 / k
           + (sn - sk) * (sn - sk) * 1.0 / (n - k)
           - sn * sn * 1.0 / n END AS gain
  FROM g2
),
b2 AS (
  SELECT CAST(2 AS BIGINT) AS level, segment, day AS split_day,
         ROUND(gain, 4) AS gain,
         ROUND(sk * 1.0 / k, 4) AS mean_left,
         ROUND((sn - sk) * 1.0 / (n - k), 4) AS mean_right
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY segment
               ORDER BY ROUND(gain, 6) DESC, day) AS rn
    FROM g2g WHERE gain IS NOT NULL
  ) WHERE rn = 1
)
SELECT level, segment, split_day, gain, mean_left, mean_right FROM b1
UNION ALL
SELECT level, segment, split_day, gain, mean_left, mean_right FROM b2
"""


@query("events_binseg_changepoints", oracle=BINSEG_ORACLE)
def events_binseg_changepoints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Depth-2 binary segmentation (Scott & Knott / the classic
    changepoint recursion) over the GLOBAL daily event-count series:
    the best split minimizes within-segment SSE — equivalently
    maximizes gain(k) = S_k^2/k + (S_n-S_k)^2/(n-k) - S_n^2/n on
    prefix sums — then each side is split again the same way. The
    single-split complement of events_cusum_changepoint (which finds
    ONE global-mean shift); depth 2 yields up to 3 changepoints.

    Integer-exact determinism: the input is a COUNT series, prefix
    sums are exact BIGINTs, and the gain arithmetic applies identical
    float expressions to identical exact integers in both engines —
    ties break by the earlier day. Splits with a degenerate side
    (fewer than 2 days) are excluded by construction (k in [1, n-1]
    within each segment).

    Scale shape: one grouped count to the calendar frame; both
    recursion levels are windows over that bounded frame (the r11
    CUSUM posture), never the corpus."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("c")
    )

    def gains(df: DataFrame, part_cols: list[str]) -> DataFrame:
        part = (
            Window.partitionBy(*part_cols)
            if part_cols
            else Window.partitionBy()
        )
        w_ord = part.orderBy("day")
        w_cum = w_ord.rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = part.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return (
            df.withColumn("k", F.row_number().over(w_ord))
            .withColumn("sk", F.sum("c").over(w_cum))
            .withColumn("n", F.count("*").over(w_all))
            .withColumn("sn", F.sum("c").over(w_all))
            .withColumn(
                "gain",
                F.when(
                    F.col("k") < F.col("n"),
                    F.col("sk") * F.col("sk") / F.col("k")
                    + (F.col("sn") - F.col("sk"))
                    * (F.col("sn") - F.col("sk"))
                    / (F.col("n") - F.col("k"))
                    - F.col("sn") * F.col("sn") / F.col("n"),
                ),
            )
        )

    g1 = gains(daily, [])
    w_pick = Window.orderBy(
        F.round(F.col("gain"), 6).desc(), F.col("day")
    )
    b1 = (
        g1.filter(F.col("gain").isNotNull())
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").alias("split_day"),
            F.round("gain", 4).alias("gain"),
            F.round(F.col("sk") / F.col("k"), 4).alias("mean_left"),
            F.round(
                (F.col("sn") - F.col("sk")) / (F.col("n") - F.col("k")),
                4,
            ).alias("mean_right"),
        )
        .withColumn("level", F.lit(1).cast("long"))
        .withColumn("segment", F.lit("all"))
    )
    sides = daily.join(
        F.broadcast(b1.select("split_day")), how="cross"
    ).withColumn(
        "segment",
        F.when(F.col("day") <= F.col("split_day"), F.lit("left"))
        .otherwise(F.lit("right")),
    ).drop("split_day")
    g2 = gains(sides, ["segment"])
    w_pick2 = Window.partitionBy("segment").orderBy(
        F.round(F.col("gain"), 6).desc(), F.col("day")
    )
    b2 = (
        g2.filter(F.col("gain").isNotNull())
        .withColumn("rn", F.row_number().over(w_pick2))
        .filter(F.col("rn") == 1)
        .select(
            "segment",
            F.col("day").alias("split_day"),
            F.round("gain", 4).alias("gain"),
            F.round(F.col("sk") / F.col("k"), 4).alias("mean_left"),
            F.round(
                (F.col("sn") - F.col("sk")) / (F.col("n") - F.col("k")),
                4,
            ).alias("mean_right"),
        )
        .withColumn("level", F.lit(2).cast("long"))
    )
    return b1.select(
        "level", "segment", "split_day", "gain", "mean_left", "mean_right"
    ).unionByName(
        b2.select(
            "level",
            "segment",
            "split_day",
            "gain",
            "mean_left",
            "mean_right",
        )
    ).orderBy("level", "segment")


# ---------------------------------------------------------------------------
# Weighted label propagation communities over the trade graph
# ---------------------------------------------------------------------------

LP_ITERS = 4


def _lp_oracle() -> str:
    it = """
edges0 AS MATERIALIZED (
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
und AS MATERIALIZED (
  SELECT src, dst, SUM(w) AS w FROM (
    SELECT src, dst, w FROM edges0
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM edges0
  ) WHERE src <> dst GROUP BY 1, 2
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und)"""
    for k in range(1, LP_ITERS + 1):
        it += f""",
l{k} AS MATERIALIZED (
  SELECT node, nl AS label FROM (
    SELECT u.src AS node, p.label AS nl, SUM(u.w) AS vw,
           ROW_NUMBER() OVER (PARTITION BY u.src
                              ORDER BY SUM(u.w) DESC, p.label) AS rn
    FROM und u JOIN l{k - 1} p ON u.dst = p.node
    GROUP BY u.src, p.label
  ) WHERE rn = 1
)"""
    return f"""
WITH {it},
sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
  FROM l{LP_ITERS} GROUP BY label
)
SELECT l.node AS n_name, l.label AS community, s.community_size
FROM l{LP_ITERS} l JOIN sizes s ON l.label = s.label
"""


@query("graph_label_propagation_communities", oracle=_lp_oracle())
def graph_label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection on the UNDIRECTED trade network via
    synchronous weighted label propagation (Raghavan et al. 2007 in
    its deterministic synchronous form): labels start as the node's
    own name; each of the LP_ITERS rounds every node adopts the label
    with the greatest incident edge weight among its neighbors
    (ties -> lexicographically smallest label). Deterministic end to
    end — weights are exact integer counts and the argmax tie-break
    is total.

    Oracle: the iteration count is a constant of the query, so the
    oracle unrolls the rounds into chained CTEs applying the exact
    update rule (the graph_pagerank posture).

    Scale shape: edges build once (the trade_edges star join),
    symmetrize into an adjacency frame; each round is ONE join of
    the V-sized label table against the edge frame + one
    destination-keyed weighted argmax — label tables broadcast at
    this V, swap to key-shuffled joins at web scale (semantics
    unchanged)."""
    from cdc_2025_spark.queries.graph import trade_edges

    e = trade_edges(spark, sf_dir)
    und = (
        e.select("src", "dst", "w")
        .unionByName(
            e.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "w",
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=False)
    )
    labels = und.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(LP_ITERS):
        votes = (
            und.join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("dst"),
                        F.col("label").alias("nl"),
                    )
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), F.col("nl"))
            .agg(F.sum("w").alias("vw"))
        )
        w_pick = Window.partitionBy("node").orderBy(
            F.col("vw").desc(), F.col("nl")
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select("node", F.col("nl").alias("label"))
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return (
        labels.join(F.broadcast(sizes), "label")
        .select(
            F.col("node").alias("n_name"),
            F.col("label").alias("community"),
            "community_size",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# ---------------------------------------------------------------------------

JL_D_OUT = 16
JL_SAMPLE_IDS = 40  # vec_id < 40: fixed bounded sample, both SFs


JL_ORACLE = f"""
WITH x AS (
  SELECT vec_id, CAST(dim - 1 AS INTEGER) AS j,
         CAST(embedding[dim] AS DOUBLE) AS xj
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(dim)
  WHERE vec_id < {JL_SAMPLE_IDS}
),
ks AS (SELECT CAST(UNNEST(range({JL_D_OUT})) AS INTEGER) AS k),
proj AS (
  SELECT vec_id, k,
         SUM(xj * CASE WHEN CAST(('0x' || substr(md5(
                  'jl:' || CAST(j AS VARCHAR) || ':'
                        || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 2 = 0 THEN 1.0 ELSE -1.0 END)
           / SQRT({JL_D_OUT}) AS yk
  FROM x CROSS JOIN ks
  GROUP BY vec_id, k
),
d_orig AS (
  SELECT xa.vec_id AS a, xb.vec_id AS b,
         SUM((xa.xj - xb.xj) * (xa.xj - xb.xj)) AS d2
  FROM x xa JOIN x xb ON xa.j = xb.j AND xa.vec_id < xb.vec_id
  GROUP BY 1, 2
),
d_proj AS (
  SELECT ya.vec_id AS a, yb.vec_id AS b,
         SUM((ya.yk - yb.yk) * (ya.yk - yb.yk)) AS p2
  FROM proj ya JOIN proj yb
    ON ya.k = yb.k AND ya.vec_id < yb.vec_id
  GROUP BY 1, 2
),
ratios AS (
  SELECT p2 / d2 AS ratio
  FROM d_orig JOIN d_proj USING (a, b)
  WHERE d2 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(ratio), 4) AS avg_ratio,
       ROUND(MIN(ratio), 4) AS min_ratio,
       ROUND(MAX(ratio), 4) AS max_ratio,
       ROUND(STDDEV_SAMP(ratio), 4) AS sd_ratio
FROM ratios
"""


@query("embed_jl_distortion_audit", oracle=JL_ORACLE)
def embed_jl_distortion_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit of a dense sign random
    projection (Achlioptas 2003: entries +-1/sqrt(d_out), here
    derived from md5 of the (dim, out-dim) pair so both engines build
    the IDENTICAL matrix): project the fixed 40-vector sample to
    JL_D_OUT dims and report the distribution of pairwise
    squared-distance ratios ||Px - Py||^2 / ||x - y||^2 — the check
    run before committing to a projection as a cheap pre-filter
    (ratios concentrated near 1 = the pre-filter preserves
    neighborhoods).

    Scale shape: the audit SAMPLE is fixed-size by contract (the
    N_QUERY_VECS posture) — 780 pairs regardless of corpus; the
    projection itself is the scalable op (one explode + grouped sum,
    linear in rows x d_out) and is what this audit green-lights."""
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < JL_SAMPLE_IDS
    )
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "j", "xj"
        ),
    )
    # sign(j, k) = +-1 from md5 — identical construction both engines
    proj = x.join(
        F.broadcast(
            spark.range(JL_D_OUT).select(F.col("id").cast("int").alias("k"))
        ),
        how="cross",
    ).select(
        "vec_id",
        "k",
        (
            F.col("xj")
            * F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("jl:"),
                                F.col("j").cast("string"),
                                F.lit(":"),
                                F.col("k").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
        ).alias("term"),
    )
    y = proj.groupBy("vec_id", "k").agg(
        (F.sum("term") / F.lit(float(JL_D_OUT) ** 0.5)).alias("yk")
    )
    # pairwise squared distances, original and projected
    xa = x.select(F.col("vec_id").alias("a"), "j", F.col("xj").alias("xa"))
    xb = x.select(F.col("vec_id").alias("b"), "j", F.col("xj").alias("xb"))
    d_orig = (
        xa.join(xb, "j")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            ).alias("d2")
        )
    )
    ya = y.select(F.col("vec_id").alias("a"), "k", F.col("yk").alias("ya"))
    yb = y.select(F.col("vec_id").alias("b"), "k", F.col("yk").alias("yb"))
    d_proj = (
        ya.join(yb, "k")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(
                (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ).alias("p2")
        )
    )
    ratios = (
        d_orig.join(d_proj, ["a", "b"])
        .filter(F.col("d2") > 0)
        .select((F.col("p2") / F.col("d2")).alias("ratio"))
    )
    return ratios.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("ratio"), 4).alias("avg_ratio"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
        F.round(F.stddev_samp("ratio"), 4).alias("sd_ratio"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily revenue changes
# ---------------------------------------------------------------------------


RUNS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 4) AS rev
  FROM orders GROUP BY 1
),
signs AS (
  SELECT day,
         CASE WHEN rev > prev THEN 1
              WHEN rev < prev THEN -1 END AS sgn
  FROM (SELECT day, rev,
               LAG(rev) OVER (ORDER BY day) AS prev FROM daily)
  WHERE prev IS NOT NULL
    AND rev <> prev
),
runs AS (
  SELECT sgn,
         CASE WHEN LAG(sgn) OVER (ORDER BY day) IS DISTINCT FROM sgn
              THEN 1 ELSE 0 END AS new_run
  FROM signs
),
agg AS (
  SELECT CAST(SUM(new_run) AS BIGINT) AS n_runs,
         CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_up,
         CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_down
  FROM runs
)
SELECT n_runs, n_up, n_down,
       ROUND(1.0 + 2.0 * n_up * n_down / (n_up + n_down), 4)
         AS expected_runs,
       ROUND((n_runs - (1.0 + 2.0 * n_up * n_down / (n_up + n_down)))
             / SQRT(2.0 * n_up * n_down
                    * (2.0 * n_up * n_down - (n_up + n_down))
                    / ((n_up + n_down) * (n_up + n_down)
                       * (n_up + n_down - 1))), 4) AS z_score
FROM agg
"""


@query("stats_runs_test_daily_revenue", oracle=RUNS_ORACLE)
def stats_runs_test_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily order
    revenue's direction-of-change sequence: day-over-day deltas
    collapse to +/- signs (exact zeros drop, the standard treatment),
    R = number of sign runs, compared against the null expectation
    E[R] = 1 + 2 n1 n2 / n with variance
    2 n1 n2 (2 n1 n2 - n) / (n^2 (n-1)) — the residual-randomness
    check run after a forecast or decomposition claims to have
    captured the structure.

    Integer-exact core: signs, run starts, R, n1, n2 are all integer
    frames; only the final z-score is float (rounded 4dp).

    Scale shape: one grouped sum to the calendar frame; signs and
    run boundaries are one ordered window over that bounded frame;
    the test statistic is a single aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
    w_ord = Window.orderBy("day")
    signs = (
        daily.withColumn("prev", F.lag("rev").over(w_ord))
        .filter(F.col("prev").isNotNull())
        .withColumn(
            "sgn",
            F.when(F.col("rev") > F.col("prev"), F.lit(1))
            .when(F.col("rev") < F.col("prev"), F.lit(-1)),
        )
        .filter(F.col("sgn").isNotNull())
    )
    runs = signs.withColumn(
        "new_run",
        (
            F.coalesce(
                F.lag("sgn").over(Window.orderBy("day")) != F.col("sgn"),
                F.lit(True),
            )
        ).cast("long"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("long").alias("n_runs"),
        F.sum((F.col("sgn") == 1).cast("long")).alias("n_up"),
        F.sum((F.col("sgn") == -1).cast("long")).alias("n_down"),
    )
    n1, n2 = F.col("n_up"), F.col("n_down")
    n = n1 + n2
    e_r = F.lit(1.0) + 2.0 * n1 * n2 / n
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1))
    )
    return agg.select(
        "n_runs",
        "n_up",
        "n_down",
        F.round(e_r, 4).alias("expected_runs"),
        F.round(
            (F.col("n_runs") - e_r) / F.sqrt(var_r), 4
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (the forecasting family's floor)
# ---------------------------------------------------------------------------


SEASONAL_NAIVE_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value), 4) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
j AS (
  SELECT c.event_type, c.x, a.x AS f
  FROM daily c
  JOIN daily a ON a.event_type = c.event_type
             AND c.day = a.day + 7
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(AVG(ABS(x - f)), 4) AS mae,
       ROUND(AVG(COALESCE(2.0 * ABS(x - f)
                          / NULLIF(ABS(x) + ABS(f), 0.0), 0.0)), 4)
         AS smape,
       ROUND(AVG(x - f), 4) AS bias
FROM j
GROUP BY event_type
"""


@query("forecast_seasonal_naive_backtest", oracle=SEASONAL_NAIVE_ORACLE)
def forecast_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (f_d = x_{d-7}, the
    floor every forecasting pipeline must beat before shipping
    anything fancier) over the per-type daily mean series: MAE,
    sMAPE, and signed bias per event type, evaluated on every day
    with a calendar ancestor exactly 7 days back (a DATE-keyed
    self-join, never lag(7) rows — row offsets silently shift on
    calendar gaps).

    Scale shape: one grouped collapse to the (type, day) frame; the
    ancestor join and the error aggregates run on that bounded
    calendar frame."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.avg("value"), 4).alias("x"))
    )
    anc = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("x").alias("f"),
    )
    j = daily.join(anc, ["event_type", "day"])
    ae = F.abs(F.col("x") - F.col("f"))
    denom = F.abs(F.col("x")) + F.abs(F.col("f"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.round(F.avg(ae), 4).alias("mae"),
            # standard sMAPE; |x|+|f| = 0 days contribute 0 error by
            # convention (both engines via the same NULLIF->0 rule)
            F.round(
                F.avg(
                    F.coalesce(
                        F.lit(2.0) * ae / F.nullif(denom, F.lit(0.0)),
                        F.lit(0.0),
                    )
                ),
                4,
            ).alias("smape"),
            F.round(F.avg(F.col("x") - F.col("f")), 4).alias("bias"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap CI for the mean — THE distributed bootstrap
# ---------------------------------------------------------------------------

BOOT_B = 100
# Poisson(1) CDF ladder (literal to 10dp so both engines compare the
# identical constants): w = #{k : u > cdf_k}, capped at 7
_POIS1_CDF = [
    0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
    0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508,
]


def _bootstrap_oracle() -> str:
    ladder = " + ".join(
        f"CASE WHEN u > {c} THEN 1 ELSE 0 END" for c in _POIS1_CDF
    )
    return f"""
WITH reps AS (
  SELECT b,
         ROUND(SUM(w * value) / SUM(w), 4) AS m
  FROM (
    SELECT b.b, e.value,
           ({ladder}) AS w
    FROM (SELECT event_id, value FROM events
          WHERE value IS NOT NULL) e
    CROSS JOIN (SELECT CAST(UNNEST(range({BOOT_B})) AS INTEGER) AS b) b,
    LATERAL (SELECT CAST(('0x' || substr(md5(
               'boot:' || CAST(e.event_id AS VARCHAR) || ':'
                       || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT)
             / 4294967296.0 AS u) h
  )
  GROUP BY b
)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicates,
       ROUND(AVG(m), 4) AS boot_mean,
       ROUND(quantile_disc(m, 0.025), 4) AS ci_lo,
       ROUND(quantile_disc(m, 0.975), 4) AS ci_hi,
       ROUND(STDDEV_SAMP(m), 4) AS boot_se
FROM reps
"""


@query("stats_bootstrap_ci_mean", oracle=_bootstrap_oracle())
def stats_bootstrap_ci_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """95% bootstrap confidence interval for the mean event value via
    the POISSON bootstrap (Chamandy et al., 'Estimating Uncertainty
    for Massive Data Streams', Google 2012; Kleiner et al.'s BLB is
    the subsampled cousin): classical resampling draws n indices WITH
    replacement per resample — a corpus-sized shuffle per replicate —
    but for large n the multinomial factorizes into independent
    Poisson(1) weights per (row, replicate), so every row computes
    its B weights LOCALLY from a deterministic md5 hash and the whole
    bootstrap is one explode + one grouped weighted mean. The CI is
    the 2.5%/97.5% disc percentiles of the B replicate means (4dp-
    rounded first — the engine-parity construction).

    Scale shape: O(n x B) map-side rows, no resample shuffle, one
    aggregate to the B-row replicate frame; at 100 TB the explode
    stays inside the scan stage and B bounds everything downstream."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    b = F.col("b")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        b.cast("string"),
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
    w = sum((u > F.lit(c)).cast("int") for c in _POIS1_CDF)
    rep = (
        ev.select("event_id", "value")
        .join(
            F.broadcast(
                spark.range(BOOT_B).select(F.col("id").cast("int").alias("b"))
            ),
            how="cross",
        )
        .select(b.alias("b"), F.col("value"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("value")) / F.sum("w"), 4
            ).alias("m")
        )
    )
    return rep.agg(
        F.lit(BOOT_B).cast("long").alias("n_replicates"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.expr(
            "round(percentile_disc(0.025) WITHIN GROUP (ORDER BY m), 4)"
        ).alias("ci_lo"),
        F.expr(
            "round(percentile_disc(0.975) WITHIN GROUP (ORDER BY m), 4)"
        ).alias("ci_hi"),
        F.round(F.stddev_samp("m"), 4).alias("boot_se"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve of customer reorder delays
# ---------------------------------------------------------------------------


KM_ORACLE = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day FROM orders
),
base AS (
  SELECT day,
         LEAD(day) OVER (PARTITION BY o_custkey ORDER BY day) AS nxt
  FROM o
),
obs AS (
  SELECT nxt - day AS dur, 1 AS event FROM base WHERE nxt IS NOT NULL
  UNION ALL
  SELECT (SELECT MAX(day) FROM o) - day AS dur, 0 AS event
  FROM base WHERE nxt IS NULL
),
g AS (
  SELECT dur,
         CAST(SUM(event) AS BIGINT) AS d,
         CAST(SUM(1 - event) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS tot
  FROM obs GROUP BY dur
),
km AS (
  SELECT dur, d, c,
         SUM(tot) OVER () - SUM(tot) OVER (ORDER BY dur
           ROWS UNBOUNDED PRECEDING) + tot AS n_risk
  FROM g
),
kf AS (
  SELECT dur, d, c, n_risk,
         1.0 - d / CAST(n_risk AS DOUBLE) AS factor
  FROM km
),
surv AS (
  SELECT dur, d, c, n_risk,
         MAX(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS dead,
         SUM(CASE WHEN factor > 0.0 THEN LN(factor) END)
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS lnsum
  FROM kf
)
SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
       d AS n_events, c AS n_censored,
       CASE WHEN dead = 1 THEN 0.0
            ELSE ROUND(EXP(lnsum), 4) END AS survival
FROM surv
WHERE d > 0
ORDER BY duration_days
"""


@query("survival_km_reorder", oracle=KM_ORACLE)
def survival_km_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator (Kaplan & Meier 1958)
    over customer reorder delays: every consecutive order pair
    contributes an EVENT observation (days until the next order);
    every customer's last order contributes a RIGHT-CENSORED
    observation (days from it to the corpus's last order date — the
    administrative-censoring convention). At each event duration t:
    n_risk = observations with duration >= t, S(t) multiplies by
    (1 - d_t / n_risk); censored-only durations leave S unchanged
    but still shrink the risk set, exactly the classical table.
    The time-to-reorder curve is the churn/retention primitive a
    subscription or replenishment dashboard runs daily.

    Determinism: durations are integer day counts; d, c, n_risk are
    integer frames; S(t) = exp(cumulative sum of ln factors) over the
    duration-ordered bounded frame (a fixed summation order, so both
    engines add the same doubles in the same sequence), rounded 4dp
    (the registry's round-aggregates precision — at sf0.01 the
    nearest survival value to a 4dp half-boundary is orders of
    magnitude beyond any cross-engine exp/ln ulp drift, closing the
    r12 driver-red rounding-boundary hypothesis);
    a zero factor (everyone at risk dies) forces S = 0 downstream via
    a cumulative min guard instead of ln(0).

    Scale shape: ONE custkey-partitioned window derives the delays
    (the corpus shuffles once, on o_custkey); the global max date is
    a broadcast scalar; everything after the duration groupBy lives
    on the bounded distinct-duration frame."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    # tie order among same-day orders cannot change the delay
    # multiset (consecutive diffs of a sorted multiset), so day alone
    # is a deterministic ordering for value purposes
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
        F.sum(1 - F.col("event")).cast("long").alias("c"),
        F.count("*").cast("long").alias("tot"),
    )
    w_all = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_total = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    km = (
        g.withColumn(
            "n_risk",
            F.sum("tot").over(n_total)
            - F.sum("tot").over(w_all)
            + F.col("tot"),
        )
        .withColumn(
            "factor",
            F.lit(1.0) - F.col("d") / F.col("n_risk"),
        )
        .withColumn(
            "dead",
            F.max((F.col("factor") <= 0.0).cast("int")).over(w_all),
        )
        .withColumn(
            "survival",
            F.when(F.col("dead") == 1, F.lit(0.0)).otherwise(
                F.round(
                    F.exp(
                        F.sum(
                            F.when(
                                F.col("factor") > 0.0,
                                F.log("factor"),
                            )
                        ).over(w_all)
                    ),
                    4,
                )
            ),
        )
    )
    return (
        km.filter(F.col("d") > 0)
        .select(
            F.col("dur").alias("duration_days"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            "survival",
        )
        .orderBy("duration_days")
    )


# ---------------------------------------------------------------------------
# Gini / Lorenz inequality audit of customer spend per nation
# ---------------------------------------------------------------------------


GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS sp
  FROM orders GROUP BY o_custkey
),
per_cust AS (
  SELECT n.n_name, c.c_custkey, COALESCE(s.sp, 0.0) AS x
  FROM customer c
  LEFT JOIN spend s ON c.c_custkey = s.o_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
  SELECT n_name, c_custkey, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY n_name
              ORDER BY x, c_custkey) AS BIGINT) AS i,
         CAST(ROW_NUMBER() OVER (PARTITION BY n_name
              ORDER BY x DESC, c_custkey DESC) AS BIGINT) AS j,
         COUNT(*) OVER (PARTITION BY n_name) AS n
  FROM per_cust
),
per_nat AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         ROUND(SUM(x), 4) AS total_spend,
         SUM(i * x) AS ix,
         CAST(SUM(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero
  FROM ranked GROUP BY n_name
),
top AS (
  SELECT n_name, SUM(x) AS top_sum
  FROM ranked WHERE j <= n // 10
  GROUP BY n_name
)
SELECT p.n_name, p.n_customers, p.total_spend,
       CASE WHEN p.total_spend > 0 THEN
         ROUND(2.0 * p.ix / (p.n_customers * p.total_spend)
               - (p.n_customers + 1.0) / p.n_customers, 6)
       END AS gini,
       CASE WHEN p.total_spend > 0 THEN
         ROUND(COALESCE(t.top_sum, 0.0) / p.total_spend, 6)
       END AS top_decile_share,
       ROUND(CAST(p.n_zero AS DOUBLE) / p.n_customers, 6)
         AS zero_spend_share
FROM per_nat p LEFT JOIN top t ON p.n_name = t.n_name
"""


@query("stats_gini_customer_spend", oracle=GINI_ORACLE)
def stats_gini_customer_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-nation inequality audit of customer lifetime spend: the
    Gini coefficient via the exact rank identity
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted
    spend (tie order cannot change the sum — equal values commute),
    plus the top-decile spend share (the k = floor(n/10) biggest
    spenders' fraction) and the zero-spend customer share. The
    data-mixture analogue is contributor concentration: a source
    where 1% of users produce 90% of tokens needs different dedup
    and sampling treatment than a uniform one.

    Determinism: spend is 4dp-rounded BEFORE ranking (the registry's
    disc-percentile rule) so both engines sort identical doubles;
    customers with no orders enter at spend 0 via a left join.

    Scale shape: one custkey-grouped collapse of orders, a broadcast
    customer/nation dim join, ONE nation-partitioned window rank; all
    aggregates are nation-keyed (bounded output)."""
    spend = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("sp"))
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per_cust = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            F.coalesce("sp", F.lit(0.0)).alias("x"),
        )
    )
    w_rank = Window.partitionBy("n_name").orderBy("x", "c_custkey")
    ranked = per_cust.withColumn(
        "i", F.row_number().over(w_rank).cast("long")
    )
    per_nat = ranked.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(F.sum("x"), 4).alias("total_spend"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
        F.sum((F.col("x") == 0.0).cast("long")).alias("n_zero"),
    )
    # top-decile share needs the per-nation n before selecting rows,
    # so it reruns as a conditional sum against the rank from the
    # other end (rank desc <= floor(n/10))
    w_desc = Window.partitionBy("n_name").orderBy(
        F.col("x").desc(), F.col("c_custkey").desc()
    )
    top = (
        ranked.withColumn("j", F.row_number().over(w_desc))
        .withColumn(
            "n", F.count("*").over(Window.partitionBy("n_name"))
        )
        .filter(F.col("j") <= F.floor(F.col("n") / 10))
        .groupBy("n_name")
        .agg(F.sum("x").alias("top_sum"))
    )
    n, tot = F.col("n_customers"), F.col("total_spend")
    gini = (
        F.lit(2.0) * F.col("ix") / (n * tot)
        - (n + F.lit(1.0)) / n
    )
    return (
        per_nat.join(top, "n_name", "left")
        .select(
            "n_name",
            "n_customers",
            "total_spend",
            F.when(tot > 0, F.round(gini, 6)).alias("gini"),
            F.when(
                tot > 0,
                F.round(
                    F.coalesce("top_sum", F.lit(0.0)) / tot, 6
                ),
            ).alias("top_decile_share"),
            F.round(
                F.col("n_zero") / n.cast("double"), 6
            ).alias("zero_spend_share"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Chi-square independence + Cramér's V + mutual information
# ---------------------------------------------------------------------------


CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type,
         ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS dow,
         CAST(COUNT(*) AS DOUBLE) AS o
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2
),
enriched AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY event_type) AS rt,
         SUM(o) OVER (PARTITION BY dow) AS ct,
         SUM(o) OVER () AS n,
         event_type, dow
  FROM cells
),
agg AS (
  SELECT MAX(n) AS n_d,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_dows,
         SUM((o - rt * ct / n) * (o - rt * ct / n) / (rt * ct / n)
             - rt * ct / n) AS chi2_obs,
         SUM((o / n) * LN(o * n / (rt * ct))) AS mi
  FROM enriched
)
SELECT CAST(n_d AS BIGINT) AS n_events, n_types, n_dows,
       ROUND(chi2_obs + n_d, 4) AS chi2,
       (n_types - 1) * (n_dows - 1) AS dof,
       ROUND(SQRT((chi2_obs + n_d)
                  / NULLIF(n_d * LEAST(n_types - 1, n_dows - 1),
                           0)), 6)
         AS cramers_v,
       ROUND(mi, 6) AS mi_nats
FROM agg
"""


@query("stats_chi2_type_dow", oracle=CHI2_ORACLE)
def stats_chi2_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week, with Cramér's V effect size and the plug-in mutual
    information (nats) — the categorical-association triple a feature
    audit runs before trusting a crosstab. Day-of-week is computed as
    days-since-a-known-Monday mod 7, the engine-neutral form (Spark's
    dayofweek() and DuckDB's disagree on the origin).

    Zero cells are never materialized: over ALL r*c cells
    chi2 = sum((o-e)^2/e) = sum_observed((o-e)^2/e - e) + N, because
    the expected masses of a full contingency table sum to N.

    Determinism: counts and marginals are integer frames; the three
    statistics are single-pass sums over the bounded observed-cell
    frame, rounded after aggregation.

    Scale shape: the corpus collapses in ONE (type, dow) groupBy;
    marginals are windows over the bounded cell frame; output is one
    row."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    cells = ev.groupBy(
        "event_type",
        F.pmod(
            F.datediff(F.to_date("ts"), F.lit("1970-01-05")), F.lit(7)
        ).alias("dow"),
    ).agg(F.count("*").cast("double").alias("o"))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    enriched = (
        cells.withColumn("rt", F.sum("o").over(w_r))
        .withColumn("ct", F.sum("o").over(w_c))
        .withColumn("n", F.sum("o").over(w_all))
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    o, nn = F.col("o"), F.col("n")
    agg = enriched.agg(
        F.max("n").alias("n_d"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("dow").cast("long").alias("n_dows"),
        F.sum((o - e) * (o - e) / e - e).alias("chi2_obs"),
        F.sum((o / nn) * F.log(o * nn / (F.col("rt") * F.col("ct"))))
        .alias("mi"),
    )
    r1 = F.col("n_types") - 1
    c1 = F.col("n_dows") - 1
    chi2 = F.col("chi2_obs") + F.col("n_d")
    return agg.select(
        F.col("n_d").cast("long").alias("n_events"),
        "n_types",
        "n_dows",
        F.round(chi2, 4).alias("chi2"),
        (r1 * c1).cast("long").alias("dof"),
        # NULLIF guard: a single-type (or single-dow) table has
        # min(r-1, c-1) = 0 — Cramér's V is undefined, and an
        # unguarded division yields Infinity/NULL differently
        # across engines; NULL identically instead
        F.round(
            F.sqrt(
                chi2
                / F.nullif(
                    F.col("n_d") * F.least(r1, c1), F.lit(0.0)
                )
            ),
            6,
        ).alias("cramers_v"),
        F.round("mi", 6).alias("mi_nats"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition of the trade network (h-index iteration)
# ---------------------------------------------------------------------------

KCORE_ITERS = 8


def _kcore_oracle() -> str:
    it = """
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
),
c0 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS val
       FROM und GROUP BY src)"""
    for k in range(1, KCORE_ITERS + 1):
        it += f""",
c{k} AS MATERIALIZED (
  SELECT node, CAST(MAX(LEAST(rk, nv)) AS BIGINT) AS val FROM (
    SELECT u.src AS node, p.val AS nv,
           CAST(ROW_NUMBER() OVER (PARTITION BY u.src
                ORDER BY p.val DESC, u.dst) AS BIGINT) AS rk
    FROM und u JOIN c{k - 1} p ON u.dst = p.node
  ) GROUP BY node
)"""
    return f"""
WITH {it}
SELECT c.node AS n_name, c.val AS coreness, d.val AS degree
FROM c{KCORE_ITERS} c JOIN c0 d ON c.node = d.node
"""


@query("graph_kcore_trade_network", oracle=_kcore_oracle())
def graph_kcore_trade_network(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coreness of every nation in the undirected trade network via
    the h-index iteration (Lü, Zhou, Zhang & Stanley, Nature Comm.
    2016): start at c_v = degree, each round set c_v to the h-index
    of its neighbors' current values (the largest h such that at
    least h neighbors hold value >= h); the fixed point is exactly
    the k-core number from the classical peeling algorithm. Like the
    pagerank and label-propagation queries the round count is a
    constant of the query (KCORE_ITERS = 8 — the iteration is
    monotone non-increasing and converges in <= graph diameter-ish
    rounds; 8 is far past convergence for this graph), so the oracle
    unrolls the identical update rule into chained CTEs.

    Everything is integer-exact: degrees, h-indices, and the
    rank-min-max h formula h = max(least(rank_desc, value)) never
    touch a float.

    Scale shape: edges build once (the trade_edges star join) and
    symmetrize; each round is one join of the V-sized value table
    against the edge frame + a per-node window over neighbor values.
    Value tables broadcast at this V; at web scale the join keys on
    dst and the window partitions by src — semantics unchanged."""
    from cdc_2025_spark.queries.graph import trade_edges

    e = trade_edges(spark, sf_dir)
    und = (
        e.select("src", "dst")
        .unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("val")
    )
    degree = cur.select("node", F.col("val").alias("degree"))
    for _ in range(KCORE_ITERS):
        w_nb = Window.partitionBy("src").orderBy(
            F.col("nv").desc(), F.col("dst")
        )
        cur = (
            und.join(
                F.broadcast(
                    cur.select(
                        F.col("node").alias("dst"),
                        F.col("val").alias("nv"),
                    )
                ),
                "dst",
            )
            .withColumn("rk", F.row_number().over(w_nb).cast("long"))
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.max(F.least(F.col("rk"), F.col("nv"))).alias("val")
            )
        )
    return (
        cur.join(F.broadcast(degree), "node")
        .select(
            F.col("node").alias("n_name"),
            F.col("val").alias("coreness"),
            "degree",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR screen over per-type Mann-Kendall trends
# ---------------------------------------------------------------------------

BH_Q = 0.10


BH_ORACLE = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day FROM events
  WHERE event_type IS NOT NULL
),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
spine AS (
  SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))
              AS DATE) AS day
  FROM span
),
series AS (
  SELECT ty.event_type,
         CAST(sp.day - (SELECT d0 FROM span) AS DOUBLE) AS t,
         CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
  FROM (SELECT DISTINCT event_type FROM ev) ty
  CROSS JOIN spine sp
  LEFT JOIN (SELECT event_type, day, COUNT(*) AS cnt
             FROM ev GROUP BY 1, 2) c
    ON c.event_type = ty.event_type AND c.day = sp.day
),
pair_stats AS (
  SELECT a.event_type,
         CAST(SUM(SIGN(b.y - a.y)) AS BIGINT) AS s_stat
  FROM series a JOIN series b
    ON a.event_type = b.event_type AND a.t < b.t
  GROUP BY a.event_type
),
ties AS (
  SELECT event_type,
         SUM(tc * (tc - 1) * (2 * tc + 5)) AS tie_corr,
         CAST(SUM(tc) AS BIGINT) AS n_days
  FROM (SELECT event_type, COUNT(*) AS tc
        FROM series GROUP BY event_type, y)
  GROUP BY event_type
),
stats AS (
  SELECT p.event_type, t.n_days, p.s_stat,
         (t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie_corr)
           / 18.0 AS var_s
  FROM pair_stats p JOIN ties t ON p.event_type = t.event_type
),
zc AS (
  SELECT *,
         CASE WHEN var_s > 0 THEN
           (CASE WHEN s_stat > 0 THEN s_stat - 1
                 WHEN s_stat < 0 THEN s_stat + 1
                 ELSE 0.0 END) / SQRT(var_s)
         ELSE 0.0 END AS z
  FROM stats
),
qc AS (
  SELECT *, ABS(z) AS az,
         1.0 / (1.0 + 0.2316419 * ABS(z)) AS tt
  FROM zc
),
scored AS (
  SELECT event_type, n_days, s_stat, ROUND(z, 6) AS z_stat,
         ROUND(LEAST(
           2.0 * (EXP(-0.5 * az * az) / 2.5066282746310002)
               * (0.319381530 * tt
                  - 0.356563782 * POW(tt, 2.0)
                  + 1.781477937 * POW(tt, 3.0)
                  - 1.821255978 * POW(tt, 4.0)
                  + 1.330274429 * POW(tt, 5.0)),
           1.0), 6) AS p_value
  FROM qc
),
ranked AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value, event_type)
              AS BIGINT) AS bh_rank,
         COUNT(*) OVER () AS m
  FROM scored
),
crit AS (
  SELECT *,
         ROUND(bh_rank * {BH_Q} / m, 6) AS bh_critical
  FROM ranked
),
kk AS (
  SELECT *,
         MAX(CASE WHEN p_value <= bh_critical THEN bh_rank END)
           OVER () AS k
  FROM crit
)
SELECT event_type, n_days, s_stat, z_stat, p_value, bh_rank,
       bh_critical,
       CAST(COALESCE(bh_rank <= k, FALSE) AS INTEGER) AS rejected
FROM kk
"""


@query("stats_bh_fdr_trend_screen", oracle=BH_ORACLE)
def stats_bh_fdr_trend_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiple-testing-honest trend screen: a Mann-Kendall test per
    EVENT TYPE over its zero-filled daily count series (same S /
    tie-corrected variance / A&S 26.2.17 normal tail as the global
    events_trend_mann_kendall), then Benjamini-Hochberg (1995)
    step-up control at q = 0.10 — reject H_1..H_k where k is the
    largest rank with p_(k) <= k*q/m. Running m per-segment monitors
    without FDR control is how dashboards cry wolf; this is the
    correction layer above round 11's single-series trend test.

    Determinism: every p-value is 6dp-rounded BEFORE the step-up
    comparison in both engines (libm exp() may differ in the last
    ulp between the JVM and DuckDB; the BH decision must not hang on
    it); ranks tie-break on event_type; a zero-variance series
    (constant counts) gets p = 1 by convention instead of 0/0.

    Scale shape: ONE (type, day) groupBy collapses the corpus; the
    calendar spine is a broadcast scalar range; the i<j pair join,
    tie groups, and the BH window all live on bounded frames (days x
    types); output is one row per type."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type", F.to_date("ts").alias("day"))
    )
    span = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "d0", F.explode(F.sequence("d0", "d1")).alias("day")
    ).select("day", F.datediff("day", "d0").alias("t"))
    counts = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("cnt")
    )
    types = ev.select("event_type").distinct()
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.col("t").cast("double").alias("t"),
            F.coalesce("cnt", F.lit(0)).cast("double").alias("y"),
        )
    )
    a = series.select(
        F.col("event_type").alias("et"),
        F.col("t").alias("ti"),
        F.col("y").alias("yi"),
    )
    b = series.select(
        F.col("event_type").alias("et"),
        F.col("t").alias("tj"),
        F.col("y").alias("yj"),
    )
    pair_stats = (
        a.join(b, ["et"])
        .filter(F.col("ti") < F.col("tj"))
        .groupBy(F.col("et").alias("event_type"))
        .agg(
            F.sum(F.signum(F.col("yj") - F.col("yi")))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        series.groupBy("event_type", "y")
        .agg(F.count("*").alias("tc"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
            ).alias("tie_corr"),
            F.sum("tc").cast("long").alias("n_days"),
        )
    )
    stats = pair_stats.join(ties, "event_type").withColumn(
        "var_s",
        (
            F.col("n_days")
            * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - F.col("tie_corr")
        )
        / F.lit(18.0),
    )
    z = F.when(
        F.col("var_s") > 0,
        (
            F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
            .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
            .otherwise(F.lit(0.0))
        )
        / F.sqrt("var_s"),
    ).otherwise(F.lit(0.0))
    az = F.abs(z)
    t_ = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    phi = F.exp(F.lit(-0.5) * az * az) / F.lit(2.5066282746310002)
    poly = (
        F.lit(0.319381530) * t_
        + F.lit(-0.356563782) * F.pow(t_, F.lit(2.0))
        + F.lit(1.781477937) * F.pow(t_, F.lit(3.0))
        + F.lit(-1.821255978) * F.pow(t_, F.lit(4.0))
        + F.lit(1.330274429) * F.pow(t_, F.lit(5.0))
    )
    p = F.round(F.least(F.lit(2.0) * phi * poly, F.lit(1.0)), 6)
    scored = stats.select(
        "event_type",
        "n_days",
        "s_stat",
        F.round(z, 6).alias("z_stat"),
        p.alias("p_value"),
    )
    w_rank = Window.orderBy("p_value", "event_type")
    w_all = Window.partitionBy()
    ranked = (
        scored.withColumn(
            "bh_rank", F.row_number().over(w_rank).cast("long")
        )
        .withColumn("m", F.count("*").over(w_all))
        .withColumn(
            "bh_critical",
            F.round(F.col("bh_rank") * F.lit(BH_Q) / F.col("m"), 6),
        )
        .withColumn(
            "k",
            F.max(
                F.when(
                    F.col("p_value") <= F.col("bh_critical"),
                    F.col("bh_rank"),
                )
            ).over(w_all),
        )
    )
    return ranked.select(
        "event_type",
        "n_days",
        "s_stat",
        "z_stat",
        "p_value",
        "bh_rank",
        "bh_critical",
        F.coalesce(
            (F.col("bh_rank") <= F.col("k")).cast("int"), F.lit(0)
        ).alias("rejected"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Isotonic calibration (PAV) of the quality score, bounded-bin minimax
# ---------------------------------------------------------------------------

ISO_BINS = 10


ISO_ORACLE = f"""
WITH scored AS (
  SELECT (n_chars % {SCORE_MOD}) / {SCORE_MOD}.0 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
bins AS (
  SELECT CAST(LEAST(FLOOR(score * {ISO_BINS}), {ISO_BINS - 1})
              AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(label) AS BIGINT) AS s
  FROM scored GROUP BY 1
),
pooled AS (
  SELECT j.bin AS j, k.bin AS k,
         SUM(m.s) / CAST(SUM(m.n) AS DOUBLE) AS rate
  FROM bins j
  JOIN bins k ON j.bin <= k.bin
  JOIN bins m ON m.bin >= j.bin AND m.bin <= k.bin
  GROUP BY 1, 2
),
minstep AS (
  SELECT b.bin AS b, p.j, MIN(p.rate) AS mr
  FROM pooled p JOIN bins b ON p.j <= b.bin AND p.k >= b.bin
  GROUP BY 1, 2
),
iso AS (
  SELECT b, MAX(mr) AS iso FROM minstep GROUP BY b
)
SELECT bins.bin, bins.n,
       ROUND(bins.s / CAST(bins.n AS DOUBLE), 6) AS raw_rate,
       ROUND(iso.iso, 6) AS iso_rate,
       ROUND(ABS(bins.s / CAST(bins.n AS DOUBLE) - iso.iso), 6)
         AS gap
FROM bins JOIN iso ON bins.bin = iso.b
"""


@query("eval_isotonic_calibration", oracle=ISO_ORACLE)
def eval_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic regression of the is-English rate on the quality
    score (the same deterministic score/label pair as eval_quality_auc
    / threshold_sweep) over ISO_BINS equal-width score bins, via the
    minimax characterization of the pool-adjacent-violators fit:
    iso_b = max_{j<=b} min_{k>=b} weightedmean(rate over bins j..k)
    (Ayer et al. 1955; Robertson-Wright-Dykstra 1988 Thm 1.4.4).
    PAV itself is a sequential pooling loop, but on a BOUNDED bin
    frame the minimax form is three self-joins — fully declarative,
    fully SQL-expressible, and exactly equal to PAV's output. This is
    the recalibration step a quality-classifier pipeline runs before
    thresholding scores into keep/drop decisions.

    Determinism: bin ids, counts, and label sums are integers;
    pooled rates are single integer divisions (bit-identical across
    engines), so the min/max lattice never compares noisy floats;
    rounding happens only at output.

    Scale shape: ONE groupBy collapses the corpus to <= ISO_BINS
    rows; the (j,k,b) lattice joins are O(B^3) on that bounded frame;
    output is <= B rows."""
    from cdc_2025_spark.queries.pending_r10 import _scored_docs

    scored = _scored_docs(spark, sf_dir).dropna(
        subset=["score", "label"]
    )
    bins = (
        scored.groupBy(
            F.least(
                F.floor(F.col("score") * ISO_BINS),
                F.lit(ISO_BINS - 1),
            )
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("label").cast("long").alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    jf = bins.select(F.col("bin").alias("j"))
    kf = bins.select(F.col("bin").alias("k"))
    mf = bins.select(
        F.col("bin").alias("m"), F.col("n").alias("mn"),
        F.col("s").alias("ms"),
    )
    pooled = (
        jf.crossJoin(kf)
        .filter(F.col("j") <= F.col("k"))
        .join(
            mf,
            (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            (F.sum("ms") / F.sum("mn")).alias("rate")
        )
    )
    bf = bins.select(F.col("bin").alias("b"))
    minstep = (
        pooled.join(
            bf,
            (F.col("j") <= F.col("b")) & (F.col("k") >= F.col("b")),
        )
        .groupBy("b", "j")
        .agg(F.min("rate").alias("mr"))
    )
    iso = minstep.groupBy("b").agg(F.max("mr").alias("iso"))
    return (
        bins.join(iso, bins.bin == iso.b)
        .select(
            "bin",
            "n",
            F.round(F.col("s") / F.col("n"), 6).alias("raw_rate"),
            F.round("iso", 6).alias("iso_rate"),
            F.round(
                F.abs(F.col("s") / F.col("n") - F.col("iso")), 6
            ).alias("gap"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Fano factor / burstiness / memory of event arrivals per type
# ---------------------------------------------------------------------------


FANO_ORACLE = """
WITH ev AS (
  SELECT event_type, ts, event_id, CAST(ts AS DATE) AS day
  FROM events
  WHERE event_type IS NOT NULL
),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
spine AS (
  SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))
              AS DATE) AS day
  FROM span
),
fano AS (
  SELECT z.event_type,
         CAST(SUM(y) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         ROUND(VAR_SAMP(y) / AVG(y), 4) AS fano_daily
  FROM (
    SELECT ty.event_type, sp.day,
           CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
    FROM (SELECT DISTINCT event_type FROM ev) ty
    CROSS JOIN spine sp
    LEFT JOIN (SELECT event_type, day, COUNT(*) AS cnt
               FROM ev GROUP BY 1, 2) c
      ON c.event_type = ty.event_type AND c.day = sp.day
  ) z
  GROUP BY z.event_type
),
deltas AS (
  SELECT event_type,
         sec - prev_sec AS delta,
         LAG(sec - prev_sec) OVER (
           PARTITION BY event_type, day
           ORDER BY ts, event_id) AS prev_delta
  FROM (
    SELECT event_type, day, ts, event_id,
           epoch_us(ts) / 1000000.0 AS sec,
           LAG(epoch_us(ts) / 1000000.0) OVER (
             PARTITION BY event_type, day
             ORDER BY ts, event_id) AS prev_sec
    FROM ev
  )
  WHERE prev_sec IS NOT NULL
),
burst AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_deltas,
         ROUND((STDDEV_SAMP(delta) - AVG(delta))
               / NULLIF(STDDEV_SAMP(delta) + AVG(delta), 0.0), 4)
           AS burstiness,
         ROUND(COVAR_SAMP(prev_delta, delta)
               / NULLIF(
                   STDDEV_SAMP(CASE WHEN prev_delta IS NOT NULL
                                    THEN prev_delta END)
                   * STDDEV_SAMP(CASE WHEN prev_delta IS NOT NULL
                                      THEN delta END), 0.0), 4)
           AS memory_coeff
  FROM deltas
  GROUP BY event_type
)
SELECT f.event_type, f.n_events, f.n_days, f.fano_daily,
       b.n_deltas, b.burstiness, b.memory_coeff
FROM fano f LEFT JOIN burst b ON f.event_type = b.event_type
"""


@query("stats_fano_burstiness", oracle=FANO_ORACLE)
def stats_fano_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrival-process shape audit per event type: the daily-count
    Fano factor (var/mean over the ZERO-FILLED global calendar —
    1 = Poisson, >1 overdispersed/bursty, <1 regular), the Goh &
    Barabási (2008) burstiness B = (sigma - mu)/(sigma + mu) of
    WITHIN-DAY inter-arrival times, and their memory coefficient
    (correlation of consecutive within-day inter-arrivals, computed
    as covar/(sd*sd) with NULLIF guards so a degenerate series is
    NULL in both engines rather than NaN-vs-NULL). The
    traffic-characterization trio capacity planning and anomaly
    baselines start from.

    Inter-arrivals are deliberately DAY-BOUNDED: a per-type total
    order is an unbounded single partition at corpus scale, while
    (type, day) partitions stay bounded forever; the price is
    dropping one cross-midnight gap per day, documented here.

    Determinism: deltas are integer microseconds (unix_micros)
    scaled by 1e6 — exact in both engines; ordering ties break on
    event_id; final float aggregates round 4dp.

    Scale shape: one (type, day) groupBy for the Fano spine, one
    (type, day)-partitioned window for deltas; the corpus shuffles
    once on (type, day); outputs are one row per type."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "event_type",
            "ts",
            "event_id",
            F.to_date("ts").alias("day"),
        )
    )
    span = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    counts = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("cnt")
    )
    types = ev.select("event_type").distinct()
    fano = (
        types.crossJoin(F.broadcast(spine))
        .join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.coalesce("cnt", F.lit(0)).cast("double").alias("y"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("y").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_days"),
            F.round(
                F.var_samp("y") / F.avg("y"), 4
            ).alias("fano_daily"),
        )
    )
    w_day = Window.partitionBy("event_type", "day").orderBy(
        "ts", "event_id"
    )
    # parquet timestamps read back TIMESTAMP_NTZ (Spark 4 inference);
    # ntz->ltz->double is epoch seconds (micros / 1e6, the exact
    # arithmetic the oracle mirrors) and the shift cancels in diffs
    sec = F.col("ts").cast("timestamp_ltz").cast("double")
    deltas = (
        ev.withColumn("prev_sec", F.lag(sec).over(w_day))
        .filter(F.col("prev_sec").isNotNull())
        .withColumn("delta", sec - F.col("prev_sec"))
        .withColumn("prev_delta", F.lag("delta").over(w_day))
    )
    mu, sd = F.avg("delta"), F.stddev_samp("delta")
    burst = deltas.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_deltas"),
        F.round(
            (sd - mu) / F.nullif(sd + mu, F.lit(0.0)), 4
        ).alias("burstiness"),
        F.round(
            F.covar_samp("prev_delta", "delta")
            / F.nullif(
                F.stddev_samp(
                    F.when(
                        F.col("prev_delta").isNotNull(),
                        F.col("prev_delta"),
                    )
                )
                * F.stddev_samp(
                    F.when(
                        F.col("prev_delta").isNotNull(),
                        F.col("delta"),
                    )
                ),
                F.lit(0.0),
            ),
            4,
        ).alias("memory_coeff"),
    )
    return (
        fano.join(burst, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "n_days",
            "fano_daily",
            "n_deltas",
            "burstiness",
            "memory_coeff",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Theil index decomposition: between- vs within-nation spend inequality
# ---------------------------------------------------------------------------


THEIL_ORACLE = """
WITH spend AS (
  SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS x
  FROM orders GROUP BY o_custkey
),
per_cust AS (
  SELECT n.n_name, COALESCE(s.x, 0.0) AS x
  FROM customer c
  LEFT JOIN spend s ON c.c_custkey = s.o_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
gtot AS (
  SELECT SUM(x) AS gsum, COUNT(*) AS gn FROM per_cust WHERE x > 0
),
per_nat AS (
  SELECT n_name, COUNT(*) AS ng, SUM(x) AS sg,
         SUM(x * LN(x)) AS xlx
  FROM per_cust WHERE x > 0 GROUP BY n_name
),
zero AS (
  SELECT n_name,
         CAST(SUM(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero
  FROM per_cust GROUP BY n_name
)
SELECT p.n_name,
       CAST(p.ng AS BIGINT) AS n_customers,
       z.n_zero AS n_zero_excluded,
       ROUND(p.sg / g.gsum, 6) AS spend_share,
       ROUND(p.sg / p.ng, 4) AS mean_spend,
       ROUND(p.xlx / p.sg - LN(p.sg / p.ng), 6)
         AS theil_within_group,
       ROUND((p.sg / g.gsum)
             * LN((p.sg / p.ng) / (g.gsum / g.gn)), 6)
         AS between_contrib,
       ROUND((p.sg / g.gsum)
             * (p.xlx / p.sg - LN(p.sg / p.ng)), 6)
         AS within_contrib
FROM per_nat p CROSS JOIN gtot g
JOIN zero z ON p.n_name = z.n_name
"""


@query("stats_theil_decomposition", oracle=THEIL_ORACLE)
def stats_theil_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil T index of customer spend decomposed EXACTLY into
    between-group and within-group parts across nations
    (T = sum_g s_g ln(mu_g/mu) + sum_g s_g T_g with s_g the group's
    spend share — Theil 1967; the additive decomposability Gini
    lacks, and why mixture dashboards report Theil next to it: it
    answers 'is the inequality BETWEEN sources or INSIDE them?').
    One row per nation: its spend share, mean, within-group Theil,
    and its additive contributions to the between and within parts;
    the global decomposition is the column sums. Zero-spend
    customers are excluded (ln requires x > 0), with the exclusion
    counted per nation.

    Determinism: spend is 4dp-rounded before the logs (the Gini
    query's rule); each nation's terms are single aggregates over
    its own rows rounded 6dp at output.

    Scale shape: one custkey collapse, broadcast dims, ONE
    nation-level aggregate; the global mean is a broadcast scalar.
    Output is 25 rows."""
    spend = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("x"))
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per_cust = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name", F.coalesce("x", F.lit(0.0)).alias("x"))
    )
    pos = per_cust.filter(F.col("x") > 0)
    glob = pos.agg(
        F.sum("x").alias("gsum"), F.count("*").alias("gn")
    )
    mu = F.col("gsum") / F.col("gn")
    per_nat = (
        pos.groupBy("n_name")
        .agg(
            F.count("*").alias("ng"),
            F.sum("x").alias("sg"),
            # sum of x ln x within the group, the T_g building block
            F.sum(F.col("x") * F.log("x")).alias("xlx"),
        )
        .crossJoin(F.broadcast(glob))
    )
    zero = per_cust.groupBy("n_name").agg(
        F.sum((F.col("x") == 0.0).cast("long")).alias("n_zero")
    )
    mu_g = F.col("sg") / F.col("ng")
    share = F.col("sg") / F.col("gsum")
    # T_g = (1/ng) sum (x/mu_g) ln(x/mu_g)
    #     = xlx/sg - ln(mu_g)           (algebraic collapse: exact)
    t_g = F.col("xlx") / F.col("sg") - F.log(mu_g)
    return (
        per_nat.join(F.broadcast(zero), "n_name")
        .select(
            "n_name",
            F.col("ng").cast("long").alias("n_customers"),
            F.col("n_zero").alias("n_zero_excluded"),
            F.round(share, 6).alias("spend_share"),
            F.round(mu_g, 4).alias("mean_spend"),
            F.round(t_g, 6).alias("theil_within_group"),
            F.round(share * F.log(mu_g / mu), 6).alias(
                "between_contrib"
            ),
            F.round(share * t_g, 6).alias("within_contrib"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation with exact tie midranks, per segment
# ---------------------------------------------------------------------------

# range buckets per marginal for the two-level distributed rank —
# within-bucket window partitions hold ~|distinct|/SPEARMAN_BUCKETS
# values; raise with corpus size (a knob, not a correctness input:
# any bucketing yields the same exact midranks)
SPEARMAN_BUCKETS = 1024


SPEARMAN_ORACLE = """
WITH ranked AS (
  SELECT l_returnflag,
         RANK() OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice)
           + (COUNT(*) OVER (PARTITION BY l_returnflag,
                             l_extendedprice) - 1) / 2.0 AS rx,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + (COUNT(*) OVER (PARTITION BY l_returnflag,
                             l_quantity) - 1) / 2.0 AS ry
  FROM lineitem
)
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CORR(rx, ry), 4) AS spearman_rho
FROM ranked
GROUP BY l_returnflag
"""


@query("stats_spearman_price_quantity", oracle=SPEARMAN_ORACLE)
def stats_spearman_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between l_extendedprice and
    l_quantity per l_returnflag segment — the monotone-association
    twin of the registered Pearson query, robust to the price scale.
    Ties get exact MIDRANKS (mean rank of the tie group:
    cum_smaller + (tie_count + 1)/2 — quantity is integer-valued, so
    tie groups are large and the midrank correction is not
    optional), then rho = Pearson corr of the two rank columns.

    BUCKETED-RANK form (the 100 TB path): the corpus collapses in
    ONE (segment, px, qty) groupBy with map-side partials; exact
    midranks come from a TWO-LEVEL cumulative count — value-grouped
    marginals are range-bucketed (fixed-width on the per-segment
    min/max, SPEARMAN_BUCKETS cells), the within-bucket cumulative
    runs in a (segment, bucket) window whose partitions hold
    ~|distinct|/buckets values, and the cross-bucket offset is a
    window over the bounded bucket-total frame. NO corpus-sized
    single-partition sort anywhere: a per-row rank window (or a
    value-grouped window on a nearly-unique column like
    l_extendedprice) sorts a whole segment inside one task — the
    2.5x-at-10x ceiling SCALE.md documented. rho is the
    count-weighted Pearson corr over the contingency frame,
    algebraically identical to the per-row corr. Equality against
    the per-row window form is pinned by tests/test_pending_r12.py
    (``_spearman_exact_window_form`` is the twin kept for that pin).

    Determinism: bucket assignment only GROUPS values (floor of a
    monotone map — equal values share a bucket, order is preserved),
    so ranks are exact rationals from integer cumulative counts
    regardless of bucket geometry; the final corr is one float
    aggregate rounded 4dp.

    Scale shape: one corpus-wide (segment, px, qty) groupBy shuffle;
    per-marginal, one distinct-value shuffle + bounded windows; two
    distributed joins back onto the contingency frame; output is one
    row per flag. Skew note: buckets are equal-WIDTH, so a marginal
    whose distinct values pile into one bucket re-creates a big
    window partition — acceptable for price-like columns; swap the
    bucket map for approx-quantile edges if a column needs it."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("px"),
        F.col("l_quantity").alias("qty"),
    )
    # the contingency collapse is THE corpus pass — materialized so
    # the two marginal-rank subtrees and the final join read its
    # blocks instead of re-scanning (the ranks-helper lesson)
    cells = (
        li.groupBy("l_returnflag", "px", "qty")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )

    # r16: ONE probe job for BOTH marginals. Each bucketed_midranks
    # call otherwise collects its own edges='auto' probe — two
    # sequential driver round trips over the same checkpointed cells
    # frame; probe_edges_modes unions the tagged probe aggregates
    # into a single collected job (identical min/max literals,
    # identical mode decision — functions/ranks.py).
    from cdc_2025_spark.functions.ranks import probe_edges_modes

    marg_px = cells.groupBy("l_returnflag", "px").agg(
        F.sum("cnt").alias("c")
    )
    marg_qty = cells.groupBy("l_returnflag", "qty").agg(
        F.sum("cnt").alias("c")
    )
    probes = probe_edges_modes(
        [
            (marg_px, "px", ("l_returnflag",)),
            (marg_qty, "qty", ("l_returnflag",)),
        ]
    )

    def marginal_ranks(marg, col: str, out: str, probe) -> DataFrame:
        return bucketed_midranks(
            marg,
            col,
            "c",
            out,
            group_cols=("l_returnflag",),
            n_buckets=SPEARMAN_BUCKETS,
            probe=probe,
        )

    joined = cells.join(
        marginal_ranks(marg_px, "px", "rx", probes[0]),
        ["l_returnflag", "px"],
    ).join(
        marginal_ranks(marg_qty, "qty", "ry", probes[1]),
        ["l_returnflag", "qty"],
    )
    cnt, rx, ry = F.col("cnt"), F.col("rx"), F.col("ry")
    agg = joined.groupBy("l_returnflag").agg(
        F.sum(cnt).alias("n"),
        F.sum(cnt * rx).alias("sx"),
        F.sum(cnt * ry).alias("sy"),
        F.sum(cnt * rx * ry).alias("sxy"),
        F.sum(cnt * rx * rx).alias("sxx"),
        F.sum(cnt * ry * ry).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # NULLIF on the denominator: a zero-variance segment (all-equal
    # px or qty) must yield NULL like F.corr and DuckDB's CORR do —
    # an unguarded division would emit NaN and diverge from the
    # oracle (same class as the chi-squared Cramer's V dof guard)
    rho = (n * sxy - sx * sy) / F.nullif(
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)
    )
    return agg.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(rho, 4).alias("spearman_rho"),
    ).orderBy("l_returnflag")


def _spearman_exact_window_form(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-row rank-window Spearman — the textbook form the grouped
    path above must equal exactly (midrank identity: RANK() +
    (ties - 1)/2 == cum_smaller + (ties + 1)/2). Kept as the
    equality pin's reference; NOT the registered path (each segment
    sorts inside one window task — corpus-sized at scale)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("px"),
        F.col("l_quantity").alias("qty"),
    )
    seg = Window.partitionBy("l_returnflag")
    rx = (
        F.rank().over(seg.orderBy("px"))
        + (F.count("*").over(seg.partitionBy("l_returnflag", "px")) - 1)
        / 2.0
    )
    ry = (
        F.rank().over(seg.orderBy("qty"))
        + (
            F.count("*").over(seg.partitionBy("l_returnflag", "qty"))
            - 1
        )
        / 2.0
    )
    ranked = li.select(
        "l_returnflag", rx.alias("rx"), ry.alias("ry")
    )
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.corr("rx", "ry"), 4).alias("spearman_rho"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis k-sample rank test across market segments
# ---------------------------------------------------------------------------


KW_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment, o.o_totalprice AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
  SELECT c_mktsegment, v,
         RANK() OVER (ORDER BY v)
           + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS r
  FROM j
),
groups AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS ng,
         AVG(r) AS rbar
  FROM ranked GROUP BY c_mktsegment
),
ties AS (
  SELECT SUM(t * t * t - t) AS tie_sum
  FROM (SELECT COUNT(*) AS t FROM ranked GROUP BY v)
),
groups2 AS (
  SELECT ng, rbar,
         SUM(ng) OVER () AS n,
         COUNT(*) OVER () AS k
  FROM groups
),
hstat AS (
  SELECT MAX(n) AS n, MAX(k) AS k,
         SUM(ng * POW(rbar - (n + 1) / 2.0, 2.0)) AS ssq
  FROM groups2
),
hs AS (
  SELECT h.n, h.k,
         (12.0 / (h.n * (h.n + 1)) * h.ssq)
           / (1.0 - t.tie_sum / (CAST(h.n AS DOUBLE) * h.n * h.n
                                 - h.n)) AS h_corr,
         1.0 - t.tie_sum / (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)
           AS corr
  FROM hstat h CROSS JOIN ties t
),
zc AS (
  SELECT *,
         (POW(h_corr / (k - 1.0), 1.0 / 3.0)
          - (1.0 - 2.0 / (9.0 * (k - 1.0))))
           / SQRT(2.0 / (9.0 * (k - 1.0))) AS z
  FROM hs
),
qc AS (
  SELECT *, ABS(z) AS az,
         1.0 / (1.0 + 0.2316419 * ABS(z)) AS tt
  FROM zc
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(k AS BIGINT) AS n_groups,
       ROUND(h_corr, 4) AS h_stat,
       CAST(k - 1 AS BIGINT) AS dof,
       ROUND(corr, 6) AS tie_correction,
       ROUND(CASE WHEN z >= 0
             THEN (EXP(-0.5 * az * az) / 2.5066282746310002)
                  * (0.319381530 * tt
                     - 0.356563782 * POW(tt, 2.0)
                     + 1.781477937 * POW(tt, 3.0)
                     - 1.821255978 * POW(tt, 4.0)
                     + 1.330274429 * POW(tt, 5.0))
             ELSE 1.0 - (EXP(-0.5 * az * az) / 2.5066282746310002)
                  * (0.319381530 * tt
                     - 0.356563782 * POW(tt, 2.0)
                     + 1.781477937 * POW(tt, 3.0)
                     - 1.821255978 * POW(tt, 4.0)
                     + 1.330274429 * POW(tt, 5.0)) END, 6)
         AS p_value
FROM qc
"""


@query("stats_kruskal_wallis_segments", oracle=KW_ORACLE)
def stats_kruskal_wallis_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis H test (1952): do the five market segments draw
    order values from the same distribution? Global midranks (the
    Spearman query's exact tie construction), per-group mean ranks,
    H = 12/(N(N+1)) * sum n_g (rbar_g - (N+1)/2)^2, divided by the
    tie correction 1 - sum(t^3 - t)/(N^3 - N), with the p-value from
    the Wilson-Hilferty cube-root normal approximation of the
    chi-square tail evaluated through the same A&S 26.2.17
    polynomial the Mann-Kendall family uses — every transcendental
    is the identical literal formula in both engines. The
    nonparametric ANOVA a segmentation claim should survive before
    anyone fits means.

    Determinism: midranks are exact rationals (RANK + ties/2); H is
    one float aggregate over the 5-row group frame; p is 6dp-rounded.

    Scale shape: one (segment, v) contingency groupBy; GLOBAL exact
    midranks via the shared two-level bucketed form
    (functions/ranks.py — no unpartitioned corpus-sized rank
    window); one 5-row group collapse, one final row."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").alias("v")
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = o.join(cust, o.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "v"
    )
    # value-grouped two-level midranks (functions/ranks.py): ONE
    # (segment, v) contingency groupBy, GLOBAL ranks from bounded
    # bucket windows, rank mass joined back on v — no unpartitioned
    # corpus-sized rank window (the exact-Spearman rewrite's shape)
    cells = (
        j.groupBy("c_mktsegment", "v")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    marg = cells.groupBy("v").agg(F.sum("cnt").alias("c"))
    ranks = bucketed_midranks(marg, "v", "c", "r")
    groups = (
        cells.join(ranks, "v")
        .groupBy("c_mktsegment")
        .agg(
            F.sum("cnt").cast("long").alias("ng"),
            (
                F.sum(F.col("cnt") * F.col("r")) / F.sum("cnt")
            ).alias("rbar"),
        )
    )
    ties = marg.agg(
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_sum")
    )
    n_tot = Window.partitionBy()
    hstat = (
        groups.withColumn("n", F.sum("ng").over(n_tot))
        .withColumn("k", F.count("*").over(n_tot))
        .agg(
            F.max("n").alias("n"),
            F.max("k").alias("k"),
            F.sum(
                F.col("ng")
                * F.pow(
                    F.col("rbar") - (F.col("n") + 1) / 2.0, F.lit(2.0)
                )
            ).alias("ssq"),
        )
        .crossJoin(F.broadcast(ties))
    )
    # n^3 in DOUBLE (the oracle casts too): long arithmetic would
    # overflow int64 past ~2.1M joined rows and crash under ANSI
    n, k = F.col("n").cast("double"), F.col("k")
    h_raw = F.lit(12.0) / (n * (n + 1)) * F.col("ssq")
    corr = F.lit(1.0) - F.col("tie_sum") / (n * n * n - n)
    h = h_raw / corr
    dof = (k - 1).cast("double")
    # Wilson-Hilferty: chi2_k tail at x ~ normal tail at
    # ((x/k)^(1/3) - (1 - 2/(9k))) / sqrt(2/(9k))
    z = (
        F.pow(h / dof, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (9.0 * dof))
    ) / F.sqrt(F.lit(2.0) / (9.0 * dof))
    az = F.abs(z)
    t_ = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    phi = F.exp(F.lit(-0.5) * az * az) / F.lit(2.5066282746310002)
    poly = (
        F.lit(0.319381530) * t_
        + F.lit(-0.356563782) * F.pow(t_, F.lit(2.0))
        + F.lit(1.781477937) * F.pow(t_, F.lit(3.0))
        + F.lit(-1.821255978) * F.pow(t_, F.lit(4.0))
        + F.lit(1.330274429) * F.pow(t_, F.lit(5.0))
    )
    q = phi * poly  # upper tail at |z|
    p = F.when(z >= 0, q).otherwise(F.lit(1.0) - q)
    return hstat.select(
        n.cast("long").alias("n_orders"),
        k.cast("long").alias("n_groups"),
        F.round(h, 4).alias("h_stat"),
        (k - 1).cast("long").alias("dof"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(p, 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance: delta-refreshed event stats
# ---------------------------------------------------------------------------


IVM_ORACLE = """
WITH surviving AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND event_id % 5 <> 0
  UNION ALL
  SELECT event_type, value + 1 AS value FROM events
  WHERE value IS NOT NULL AND event_id % 10 = 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS total,
       ROUND(AVG(value), 4) AS mean,
       ROUND(STDDEV_SAMP(value), 4) AS stddev
FROM surviving
GROUP BY event_type
"""


@query("ivm_incremental_event_stats", oracle=IVM_ORACLE)
def ivm_incremental_event_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped dashboard view refreshed by DELTA PROPAGATION instead
    of a rescan (functions/ivm.py — Gupta-Mumick-Subrahmanian
    SIGMOD'93): base the per-type (n, sum, sumsq) state over all
    events, then apply one CDC batch — DELETE every row whose
    event_id % 5 == 0, INSERT a replacement at value + 1 for those
    with event_id % 10 == 0 — through the abelian-group retraction
    algebra, and read out count/total/mean/stddev. The ORACLE is the
    SEMANTIC definition, not the algebra: a direct aggregate over
    (surviving rows) UNION ALL (replacement rows) — so this checks
    that incremental maintenance EQUALS recompute, the IVM
    correctness property itself.

    Determinism: counts integer-exact; sums/moments are rounded 4dp
    after the final readout (retraction reorders float additions).

    Scale shape: the base state is one grouped pass (the one-time
    baselining); the refresh is ONE groupBy over the delta + ONE
    bounded-state outer merge — at 100 TB the per-batch cost is
    O(|delta|), never the corpus."""
    from cdc_2025_spark.functions.ivm import (
        agg_state,
        apply_delta,
        readout,
    )

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = agg_state(ev, ["event_type"], "value")
    deletes = ev.filter(F.col("event_id") % 5 == 0).select(
        F.lit("D").alias("op"),
        "event_type",
        F.col("value").alias("old_value"),
        F.lit(None).cast("double").alias("new_value"),
    )
    inserts = ev.filter(F.col("event_id") % 10 == 0).select(
        F.lit("I").alias("op"),
        "event_type",
        F.lit(None).cast("double").alias("old_value"),
        (F.col("value") + 1).alias("new_value"),
    )
    state = apply_delta(
        base, deletes.unionByName(inserts), ["event_type"]
    )
    out = readout(state, ["event_type"])
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("total", 4).alias("total"),
        F.round("mean", 4).alias("mean"),
        F.round("stddev_samp", 4).alias("stddev"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Split-conformal prediction-interval calibration audit
# ---------------------------------------------------------------------------

CONFORMAL_ALPHA = 0.1


CONFORMAL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events
  WHERE event_type IS NOT NULL
  GROUP BY 1, 2
),
resid AS (
  SELECT c.event_type, c.day, ABS(c.x - a.x) AS r,
         ((c.day - DATE '1970-01-05') % 2 + 2) % 2 AS half
  FROM daily c
  JOIN daily a ON a.event_type = c.event_type
             AND c.day = a.day + 7
),
ranked AS (
  SELECT event_type, r,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY r, day) AS BIGINT) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_cal
  FROM resid WHERE half = 0
),
qhat AS (
  SELECT event_type,
         CAST(MAX(n_cal) AS BIGINT) AS n_cal,
         MAX(CASE WHEN rk = CEIL((n_cal + 1)
                                 * {1.0 - CONFORMAL_ALPHA})
                  THEN r END) AS q_hat
  FROM ranked
  GROUP BY event_type
)
SELECT t.event_type,
       CAST(MAX(q.n_cal) AS BIGINT) AS n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(MAX(q.q_hat) AS BIGINT) AS q_hat,
       ROUND(AVG(CASE WHEN q.q_hat IS NULL THEN 1.0
                      WHEN t.r <= q.q_hat
                      THEN 1.0 ELSE 0.0 END), 4) AS coverage
FROM (SELECT event_type, r FROM resid WHERE half = 1) t
JOIN qhat q ON t.event_type = q.event_type
GROUP BY t.event_type
"""


@query("forecast_conformal_interval_audit", oracle=CONFORMAL_ORACLE)
def forecast_conformal_interval_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals for the seasonal-naive
    VOLUME forecaster (Vovk et al.; Lei et al. JASA 2018 in its
    split form): per event type, absolute residuals |x - f| of the
    7-day-ancestor daily-COUNT forecast split by CALENDAR-DAY PARITY
    into a calibration half and a test half; q_hat is the
    calibration residual at rank ceil((n_cal + 1)(1 - alpha)) — the
    finite-sample-valid conformal quantile, taken by INTEGER RANK,
    never an interpolated percentile — and the audit reports the
    empirical coverage of [f - q_hat, f + q_hat] on the held-out
    half. Conformal theory guarantees >= 1 - alpha coverage ON
    EXCHANGEABLE data; the gap between that and observed coverage is
    exactly what this query surfaces (time series are not
    exchangeable — the audit is the honesty check every 'calibrated
    uncertainty' claim owes).

    Small-sample convention: when the conformal rank k exceeds n_cal
    (too few calibration residuals for the 1-alpha level) the split-
    conformal interval is (-inf, +inf) — the type stays IN the audit
    with q_hat NULL and coverage 1.0, rather than silently vanishing.
    The most data-starved types are exactly the ones a calibration
    audit must keep visible.

    Determinism: the count series makes every residual an exact
    integer (a mean-based series puts single order statistics on
    ROUND half-boundaries where the engines disagree — measured, not
    hypothetical), the conformal rank is integer, ties break on the
    calendar day; only coverage rounds.

    Scale shape: the (type, day) collapse and DATE-keyed ancestor
    join of the backtest query; the rank window runs per type over
    the bounded calendar frame; output is one row per type."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    anc = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("x").alias("f"),
    )
    resid = (
        daily.join(anc, ["event_type", "day"])
        .select(
            "event_type",
            "day",
            F.abs(F.col("x") - F.col("f")).alias("r"),
            F.pmod(
                F.datediff(F.col("day"), F.lit("1970-01-05")),
                F.lit(2),
            ).alias("half"),
        )
    )
    cal = resid.filter(F.col("half") == 0)
    test = resid.filter(F.col("half") == 1)
    w_rank = Window.partitionBy("event_type").orderBy("r", "day")
    ranked = cal.withColumn(
        "rk", F.row_number().over(w_rank).cast("long")
    ).withColumn(
        "n_cal",
        F.count("*").over(Window.partitionBy("event_type")),
    )
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CONFORMAL_ALPHA))
    # one row per type with a calibration half: q_hat is NULL when
    # the conformal rank exceeds n_cal (k > n_cal -> no rk matches),
    # i.e. the interval is infinite — the type must stay visible
    qhat = ranked.groupBy("event_type").agg(
        F.max("n_cal").cast("long").alias("n_cal"),
        F.max(F.when(F.col("rk") == k, F.col("r"))).alias("q_hat"),
    )
    cov = (
        test.join(qhat, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            F.max("q_hat").cast("long").alias("q_hat"),
            F.round(
                F.avg(
                    F.when(F.col("q_hat").isNull(), F.lit(1.0))
                    .otherwise(
                        (F.col("r") <= F.col("q_hat")).cast("double")
                    )
                ),
                4,
            ).alias("coverage"),
        )
    )
    return cov.orderBy("event_type")

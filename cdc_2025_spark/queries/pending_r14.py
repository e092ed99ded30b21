"""Round-14 queries: the RANKING-METRIC & DIAGNOSTIC
DEPTH family — the layer above round 13's eval/robust-stats rung:
NDCG@k (graded ranking quality, the retrieval companion to average
precision), ECE/MCE scalars over the calibration bins, the KS
separation statistic between the score distributions of the two
classes (the classifier-discrimination twin of the drift KS, and a
second consumer of the shared bucketed-cumsum kernel), Mann-Whitney
U with tie-corrected normal approximation (the two-sample member of
the rank family, on the shared bucketed-midrank kernel), Kendall's
tau-b between daily order count and revenue (the pairwise-concordance
complement to Spearman), an OLS daily-trend line with R^2 and the
slope t-test (the parametric baseline Theil-Sen robustifies),
Jarque-Bera normality (the moment test whose chi2(2) tail is exactly
exp(-x/2) — no approximation), the Grubbs extreme-studentized
deviate with its Bonferroni normal bound, the Ljung-Box portmanteau
over daily-count autocorrelations (the formal test behind round 11's
ACF), and a pooled two-proportion z-test between user cohorts.

The second wave adds SAMPLING DESIGN & CORPUS AUDIT: Neyman optimal
allocation per stratum (the variance-minimizing sample design next
to the registered proportional/stratified samplers), t-closeness
(ordered-EMD distance of each quasi-identifier group's sensitive
distribution from the global — the rung above round 13's
l-diversity), Yule's K lexical richness per source (frequency-
spectrum statistic, integer-exact sufficient sums), the top
JS-divergence-driving terms between two sources (the WHY companion
to round 11's pairwise JS matrix), the conditional entropy of the
event-type Markov chain (how predictable the next action is given
the current one), the rich-club coefficient curve of the trade
graph, Cronbach's alpha over the leading embedding dimensions
(internal-consistency audit of a feature block), the Hurst
exponent by classical rescaled-range analysis over daily order
counts (the long-memory diagnostic beside the ACF/Ljung-Box views),
a deterministic class-balanced downsample audit (md5-ranked
within-class selection to the minority count — the WITHIN-label
companion to the across-source mixture samplers), and the
versioned-table DATA-SKIPPING audit (three banded snapshot commits,
a predicated read whose manifest stats prune two of the three dirs
before any scan, the answer oracle-recomputed from the base table —
the r13 lakehouse rung driver-verified like the diff audit before
it).

Each query registers through ``@query``; tests/test_pending_r14.py
runs each one against its oracle with the driver's comparison.

Pre-registration sf0.1 wall times (min-of-2, warm idle local[32],
for the round-14 bench.py HEADLINE additions): NDCG 0.45 s, ECE/MCE
0.29 s, KS separation 1.10 s, Mann-Whitney 0.80 s, Kendall tau
0.40 s, OLS trend 0.41 s, Jarque-Bera 0.21 s, Grubbs 0.39 s,
Ljung-Box 0.56 s, two-proportion z 0.18 s, Neyman 0.17 s,
t-closeness 0.65 s, Yule K 0.20 s, JS shift terms 0.48 s,
conditional entropy 0.38 s, rich club 1.03 s, Cronbach alpha
0.34 s, Hurst R/S 0.84 s, balanced downsample 0.21 s, versioned
skipping audit 0.78 s — 9.87 s combined. 10x spot checks (SCALE.md
r13 staged section): Hurst 1.29 -> 1.20 s on the value-perturbed
orders replica (calendar-bounded daily frame), Kendall 0.43 ->
0.58 s, KS separation 0.92 -> 0.79 s and Yule K 0.20 -> 0.24 s on
the 10x documents replica (score-mod / vocab-bounded frames) —
every post-collapse frame is bounded by construction.

Engine-parity rules inherited from the registry docstring: integer
frames exact; float aggregates rounded 4-6dp AFTER the final
aggregate; the A&S 26.2.17 normal-tail polynomial for p-values;
Wilson-Hilferty for chi-square tails at df > 2 (df = 2 is exact:
exp(-x/2)); DuckDB SUM(int) cast to BIGINT; every argmax picks its
row by comparing doubles both engines computed with the identical
operation sequence (bit-equal IEEE results), with an integer or
lexical tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.io import read_table
from cdc_2025_spark.queries.pending_r10 import SCORE_MOD
from cdc_2025_spark.queries.pending_r13 import _UND_EDGES_SQL
from cdc_2025_spark.queries.registry import query

# ---------------------------------------------------------------------------
# shared: the deterministic score/label frame + the A&S normal tail
# ---------------------------------------------------------------------------


def _scored_docs_with_id(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, score, label): the eval family's deterministic
    score/label frame (pending_r10._scored_docs twin) keeping doc_id
    for total-order tiebreaks."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    ).select(
        "doc_id",
        (
            (F.col("n_chars") % SCORE_MOD) / F.lit(float(SCORE_MOD))
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )


def _normal_two_sided(az) -> F.Column:
    """2 * Q(|z|) via A&S 26.2.17 (|error| < 7.5e-8), clamped to
    [0, 1] — the module's standard p-value tail, mirrored verbatim
    in every oracle."""
    t_ = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    phi = F.exp(F.lit(-0.5) * az * az) / F.lit(2.5066282746310002)
    poly = (
        F.lit(0.319381530) * t_
        + F.lit(-0.356563782) * F.pow(t_, F.lit(2.0))
        + F.lit(1.781477937) * F.pow(t_, F.lit(3.0))
        + F.lit(-1.821255978) * F.pow(t_, F.lit(4.0))
        + F.lit(1.330274429) * F.pow(t_, F.lit(5.0))
    )
    return F.least(F.lit(2.0) * phi * poly, F.lit(1.0))


# the same polynomial as SQL, parameterized on a column named z_abs
# and a CTE that must provide it (tt is defined inline)
def _ans_sql(zcol: str) -> str:
    tt = f"(1.0 / (1.0 + 0.2316419 * {zcol}))"
    return (
        f"LEAST(1.0, 2.0 * (EXP(-0.5 * {zcol} * {zcol})"
        f" / 2.5066282746310002) * ("
        f"0.319381530 * {tt}"
        f" - 0.356563782 * POW({tt}, 2)"
        f" + 1.781477937 * POW({tt}, 3)"
        f" - 1.821255978 * POW({tt}, 4)"
        f" + 1.330274429 * POW({tt}, 5)))"
    )


_SCORED_SQL = f"""
scored AS (
  SELECT doc_id,
         (n_chars % {SCORE_MOD}) * 1.0 / {SCORE_MOD} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
)"""


# ---------------------------------------------------------------------------
# NDCG@k of the quality score against the is-English label
# ---------------------------------------------------------------------------

NDCG_K = 100


NDCG_ORACLE = f"""
WITH {_SCORED_SQL},
topk AS (
  SELECT label,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM scored
  QUALIFY rn <= {NDCG_K}
),
np AS (SELECT CAST(SUM(label) AS BIGINT) AS n_pos FROM scored),
d AS (SELECT SUM(label / log2(rn + 1.0)) AS dcg FROM topk),
ideal AS (
  SELECT n_pos, SUM(1.0 / log2(i + 1.0)) AS idcg
  FROM np, unnest(generate_series(1, LEAST(n_pos, {NDCG_K}))) AS r(i)
  GROUP BY n_pos
)
SELECT CAST({NDCG_K} AS INTEGER) AS k, n_pos,
       ROUND(dcg, 6) AS dcg, ROUND(idcg, 6) AS idcg,
       ROUND(dcg / idcg, 6) AS ndcg
FROM d, ideal
"""


@query("eval_ndcg_at_k", oracle=NDCG_ORACLE)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k (Jarvelin & Kekalainen TOIS 2002) of the deterministic
    quality score against the is-English label: DCG over the top-k
    by (score DESC, doc_id ASC) with the 1/log2(i+1) discount,
    normalized by the ideal DCG of min(k, n_pos) perfect hits. The
    retrieval-grade companion to average precision: AP integrates
    the whole ranking, NDCG@k grades the head a user actually sees.

    Determinism: the unique doc_id tiebreak makes the top-k a total
    order; gains are 0/1 integers; discounts are fixed literals of
    the rank.

    Scale shape: the top-k is a TakeOrderedAndProject (k rows cross
    the wire, never the corpus); the positive count is one aggregate;
    the IDCG folds over an exploded 1-row sequence of at most k
    terms; windows only ever see the k-row frame."""
    scored = _scored_docs_with_id(spark, sf_dir)
    topk = scored.orderBy(
        F.col("score").desc(), "doc_id"
    ).limit(NDCG_K)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    dcg = (
        topk.withColumn("rn", F.row_number().over(w))
        .agg(
            F.sum(
                F.col("label") / F.log2(F.col("rn") + F.lit(1.0))
            ).alias("dcg")
        )
    )
    npos = scored.agg(
        F.sum("label").cast("long").alias("n_pos")
    )
    idcg = npos.select(
        "n_pos",
        F.explode(
            F.sequence(
                F.lit(1), F.least(F.col("n_pos"), F.lit(NDCG_K))
            )
        ).alias("i"),
    ).groupBy("n_pos").agg(
        F.sum(
            F.lit(1.0) / F.log2(F.col("i") + F.lit(1.0))
        ).alias("idcg")
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(NDCG_K).cast("int").alias("k"),
            "n_pos",
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# ECE / MCE calibration scalars
# ---------------------------------------------------------------------------

ECE_BINS = 10


ECE_ORACLE = f"""
WITH {_SCORED_SQL},
bins AS (
  SELECT LEAST(FLOOR(score * {ECE_BINS}), {ECE_BINS} - 1) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(label) AS BIGINT) AS n_pos,
         SUM(score) AS s_conf
  FROM scored GROUP BY 1
)
SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_bins_used,
       ROUND(SUM(n * ABS(n_pos * 1.0 / n - s_conf / n))
             / SUM(n), 6) AS ece,
       ROUND(MAX(ABS(n_pos * 1.0 / n - s_conf / n)), 6) AS mce
FROM bins
"""


@query("eval_ece_mce", oracle=ECE_ORACLE)
def eval_ece_mce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and Maximum Calibration Error (Naeini et al. AAAI
    2015) of the quality score against the is-English label over
    equal-width confidence bins: ECE = sum_b (n_b/N) |acc_b -
    conf_b|, MCE = max_b — the one-number summaries of round 11's
    eval_calibration_bins table (the table says WHERE calibration
    breaks, these say HOW MUCH, which is what a model gate
    thresholds on).

    Determinism: bin assignment is floor(score * B) capped at B-1
    (exact rational scores); accuracies and confidences are
    integer-rational; the fold runs over <= B rows.

    Scale shape: ONE grouped aggregate to the B-row bin frame,
    one fold; output is one row."""
    scored = _scored_docs_with_id(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * ECE_BINS), F.lit(ECE_BINS - 1)
    )
    bins = scored.groupBy(b.alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
        F.sum("score").alias("s_conf"),
    )
    tot = bins.agg(
        F.sum("n").alias("n_total"),
        F.count("*").cast("long").alias("n_bins_used"),
        F.sum(
            F.col("n")
            * F.abs(
                F.col("n_pos") / F.col("n")
                - F.col("s_conf") / F.col("n")
            )
        ).alias("wsum"),
        F.max(
            F.abs(
                F.col("n_pos") / F.col("n")
                - F.col("s_conf") / F.col("n")
            )
        ).alias("mce"),
    )
    return tot.select(
        F.col("n_total").cast("long").alias("n_total"),
        "n_bins_used",
        F.round(F.col("wsum") / F.col("n_total"), 6).alias("ece"),
        F.round("mce", 6).alias("mce"),
    )


# ---------------------------------------------------------------------------
# KS separation between the two classes' score distributions
# ---------------------------------------------------------------------------


KS_SEP_ORACLE = f"""
WITH {_SCORED_SQL},
per_v AS (
  SELECT score AS v, SUM(label) AS ca, SUM(1 - label) AS cb
  FROM scored GROUP BY score
),
ecdf AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_v
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_pos,
         CAST(SUM(cb) AS BIGINT) AS n_neg
  FROM per_v
),
diffs AS (
  SELECT v,
         ABS(cum_a * 1.0 / n_pos - cum_b * 1.0 / n_neg) AS diff
  FROM ecdf, tot
),
dm AS (SELECT MAX(diff) AS d FROM diffs)
SELECT n_pos, n_neg,
       ROUND(d, 6) AS ks_separation,
       ROUND((SELECT MIN(v) FROM diffs, dm WHERE diff = d), 6)
         AS best_threshold
FROM tot, dm
"""


@query("eval_score_ks_separation", oracle=KS_SEP_ORACLE)
def eval_score_ks_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample KS statistic between the score distributions of
    the positive and negative classes — the classifier-separation
    measure credit-risk scorecards report as "KS" (the best single
    threshold's achievable TPR-FPR gap, attained where the two
    ECDFs diverge most). The drift-KS twin pointed at labels instead
    of time, and the second consumer of the shared two-level
    bucketed-cumsum kernel (functions/ranks.py).

    Determinism: per-score class counts are integers; both ECDF
    cumulatives come from one kernel pass; the argmax threshold
    compares doubles both engines computed with the identical
    operation sequence and tie-breaks on the smaller score.

    Scale shape: ONE grouped count collapses the corpus to the
    distinct-score frame (localCheckpoint-ed, <= SCORE_MOD rows);
    cumulatives are two-level bucketed (no unpartitioned window);
    totals and the argmax are aggregates on the bounded frame."""
    from cdc_2025_spark.functions.ranks import bucketed_cumsums

    scored = _scored_docs_with_id(spark, sf_dir)
    per_v = (
        scored.groupBy(F.col("score").alias("v"))
        .agg(
            F.sum("label").alias("ca"),
            F.sum(1 - F.col("label")).alias("cb"),
        )
        .localCheckpoint(eager=False)
    )
    cums = bucketed_cumsums(per_v, "v", ("ca", "cb"))
    totals = per_v.agg(
        F.sum("ca").alias("n_pos"), F.sum("cb").alias("n_neg")
    )
    ecdf = cums.crossJoin(F.broadcast(totals)).select(
        "v",
        "n_pos",
        "n_neg",
        F.abs(
            F.col("cum_ca") / F.col("n_pos")
            - F.col("cum_cb") / F.col("n_neg")
        ).alias("diff"),
    )
    dmax = ecdf.agg(F.max("diff").alias("d"))
    best = (
        ecdf.crossJoin(F.broadcast(dmax))
        .filter(F.col("diff") == F.col("d"))
        .agg(
            F.max("n_pos").cast("long").alias("n_pos"),
            F.max("n_neg").cast("long").alias("n_neg"),
            F.max("d").alias("d"),
            F.min("v").alias("thr"),
        )
    )
    return best.select(
        "n_pos",
        "n_neg",
        F.round("d", 6).alias("ks_separation"),
        F.round("thr", 6).alias("best_threshold"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U between two event-type value samples
# ---------------------------------------------------------------------------

MW_TYPE_A = "click"
MW_TYPE_B = "view"


MW_ORACLE = f"""
WITH ev AS (
  SELECT ROUND(value, 4) AS v,
         CASE WHEN event_type = '{MW_TYPE_A}' THEN 1 ELSE 0 END
           AS is_a
  FROM events
  WHERE value IS NOT NULL
    AND event_type IN ('{MW_TYPE_A}', '{MW_TYPE_B}')
),
marg AS (
  SELECT v, SUM(is_a) AS ca, SUM(1 - is_a) AS cb,
         COUNT(*) AS tot
  FROM ev GROUP BY v
),
ranked AS (
  SELECT ca, cb, tot,
         COALESCE(SUM(tot) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (tot + 1) / 2.0 AS r
  FROM marg
),
agg AS (
  SELECT CAST(SUM(ca) AS DOUBLE) AS na,
         CAST(SUM(cb) AS DOUBLE) AS nb,
         SUM(ca * r) AS ra,
         CAST(SUM(tot * tot * tot - tot) AS DOUBLE) AS ties
  FROM ranked
),
stat AS (
  SELECT na, nb, ra - na * (na + 1) / 2.0 AS u,
         (ra - na * (na + 1) / 2.0 - na * nb / 2.0)
           / SQRT(na * nb / 12.0
                  * ((na + nb + 1)
                     - ties / ((na + nb) * (na + nb - 1)))) AS z
  FROM agg
),
zz AS (SELECT na, nb, u, z, ABS(z) AS za FROM stat)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(u, 4) AS u_stat, ROUND(z, 6) AS z_score,
       ROUND({_ans_sql('za')}, 6) AS p_value
FROM zz
"""


@query("stats_mann_whitney_u", oracle=MW_ORACLE)
def stats_mann_whitney_u(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Whitney U (Mann & Whitney 1947) between the value
    distributions of two event types: U from the midrank sum over
    the pooled sample, z through the tie-corrected normal
    approximation sigma^2 = (n_a n_b / 12) * ((n + 1) -
    sum(t^3 - t)/(n(n-1))), two-sided p via A&S 26.2.17. The
    two-sample member of the rank family (Kruskal-Wallis' k = 2
    specialization, kept exact on ties), and a consumer of the
    shared two-level bucketed midrank kernel — no unpartitioned
    rank window at any corpus size.

    Determinism: per-value counts and tie terms are integers;
    midranks are exact rationals from the kernel; the final
    arithmetic is one bounded-frame fold rounded 4-6dp.

    Scale shape: ONE grouped count collapses the pooled corpus to
    the distinct-value frame (localCheckpoint-ed); ranks are
    two-level bucketed; the rest is one aggregate on that frame."""
    from cdc_2025_spark.functions.ranks import bucketed_midranks

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin(MW_TYPE_A, MW_TYPE_B)
        )
        .select(
            F.round("value", 4).alias("v"),
            (F.col("event_type") == MW_TYPE_A)
            .cast("long")
            .alias("is_a"),
        )
    )
    marg = (
        ev.groupBy("v")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(1 - F.col("is_a")).alias("cb"),
            F.count("*").alias("tot"),
        )
        .localCheckpoint(eager=False)
    )
    # carry_cols replaces the old re-join of marg onto the ranks
    # (one distinct-value exchange join removed per action — r16)
    ranked = bucketed_midranks(
        marg, "v", "tot", "r", carry_cols=("ca", "cb", "tot")
    )
    agg = ranked.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
        F.sum(F.col("ca") * F.col("r")).alias("ra"),
        F.sum(
            F.col("tot") * F.col("tot") * F.col("tot") - F.col("tot")
        ).cast("double").alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u = F.col("ra") - na * (na + 1) / 2.0
    mu = na * nb / 2.0
    sigma2 = (
        na * nb / 12.0 * ((n + 1) - F.col("ties") / (n * (n - 1)))
    )
    z = (u - mu) / F.sqrt(sigma2)
    az = F.abs(z)
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u, 4).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
        F.round(_normal_two_sided(az), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between daily order count and daily revenue
# ---------------------------------------------------------------------------


KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x,
         ROUND(SUM(o_totalprice), 4) AS y
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT SIGN(b.x - a.x) AS sx, SIGN(b.y - a.y) AS sy
  FROM daily a JOIN daily b ON a.day < b.day
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS discordant,
         CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS ty
  FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       concordant, discordant,
       ROUND((concordant - discordant)
             / SQRT((n0 - tx) * 1.0 * (n0 - ty)), 6) AS tau_b
FROM agg
"""


@query("stats_kendall_tau_daily", oracle=KENDALL_ORACLE)
def stats_kendall_tau_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's tau-b (Kendall 1938; tau-b tie correction) between
    daily order COUNT and daily order REVENUE: concordant/discordant
    over all day pairs, denominator sqrt((n0 - t_x)(n0 - t_y)) with
    the tied-pair counts — the pairwise-concordance complement to
    the registered Spearman (rank linearity) and Mann-Kendall
    (trend-vs-time): this is association between two SERIES on the
    same calendar.

    Determinism: counts are integers; revenue is 4dp-rounded BEFORE
    pairing so tie classification agrees across engines; the pair
    fold is integer counting.

    Scale shape: the corpus collapses to the bounded daily frame
    (one groupBy); the day-pair comparison is a self-join of that
    bounded frame (|days|^2/2 pairs — calendar-bounded, documented;
    the exact-tau merge-sort O(n log n) alternative only matters
    when the joint frame stops being calendar-bounded); output is
    one row."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.round(F.sum("o_totalprice"), 4).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    a = daily.select(
        F.col("day").alias("d1"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    b = daily.select(
        F.col("day").alias("d2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    sx = F.signum(F.col("x2").cast("double") - F.col("x1"))
    sy = F.signum(F.col("y2") - F.col("y1"))
    agg = pairs.agg(
        F.count("*").cast("long").alias("n0"),
        F.sum((sx * sy > 0).cast("long")).alias("concordant"),
        F.sum((sx * sy < 0).cast("long")).alias("discordant"),
        F.sum((sx == 0).cast("long")).alias("tx"),
        F.sum((sy == 0).cast("long")).alias("ty"),
    )
    tau = (
        (F.col("concordant") - F.col("discordant"))
        / F.sqrt(
            (F.col("n0") - F.col("tx")).cast("double")
            * (F.col("n0") - F.col("ty"))
        )
    )
    n_days = daily.agg(F.count("*").cast("long").alias("n_days"))
    return agg.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("concordant").cast("long").alias("concordant"),
        F.col("discordant").cast("long").alias("discordant"),
        F.round(tau, 6).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# OLS daily revenue trend: slope, R^2, slope t-test
# ---------------------------------------------------------------------------


OLS_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 4) AS y
  FROM orders GROUP BY 1
),
pts AS (
  SELECT CAST(day - (SELECT MIN(day) FROM daily) AS DOUBLE) AS t, y
  FROM daily
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(t) AS st, SUM(y) AS sy,
         SUM(t * t) AS stt, SUM(t * y) AS sty, SUM(y * y) AS syy
  FROM pts
),
c AS (
  SELECT n,
         stt - st * st / n AS sxx,
         sty - st * sy / n AS sxy,
         syy - sy * sy / n AS syy_c,
         st, sy
  FROM m
),
fit AS (
  SELECT n, sxy / sxx AS slope,
         sy / n - (sxy / sxx) * st / n AS intercept,
         sxy * sxy / (sxx * syy_c) AS r2,
         (sxy / sxx)
           / SQRT((syy_c - sxy * sxy / sxx) / (n - 2) / sxx) AS t_stat
  FROM c
),
zz AS (SELECT *, ABS(t_stat) AS za FROM fit)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(slope, 4) AS slope,
       ROUND(intercept, 4) AS intercept,
       ROUND(r2, 6) AS r2,
       ROUND(t_stat, 6) AS t_stat,
       ROUND({_ans_sql('za')}, 6) AS p_value
FROM zz
"""


@query("stats_ols_daily_trend", oracle=OLS_ORACLE)
def stats_ols_daily_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OLS line of daily revenue on the day index: slope, intercept,
    R^2, the slope's t statistic and its two-sided normal-tail p —
    the parametric trend baseline the registered Theil-Sen
    robustifies and Mann-Kendall tests nonparametrically (all three
    on the same daily frame; disagreement between them IS the
    outlier diagnostic).

    Determinism: the day index is an integer datediff from the min
    day; all sums fold from the bounded daily frame; closed-form
    moment arithmetic is identical in both engines.

    Scale shape: one corpus groupBy to the daily frame; the min-day
    scalar broadcasts; one moment aggregate; output is one row."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
        .localCheckpoint(eager=False)
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").cast("double").alias("t"), "y"
    )
    m = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    stt, sty, syy = F.col("stt"), F.col("sty"), F.col("syy")
    sxx = stt - st * st / n
    sxy = sty - st * sy / n
    syy_c = syy - sy * sy / n
    slope = sxy / sxx
    intercept = sy / n - slope * st / n
    r2 = sxy * sxy / (sxx * syy_c)
    se = F.sqrt((syy_c - sxy * sxy / sxx) / (n - 2) / sxx)
    t_stat = slope / se
    az = F.abs(t_stat)
    return m.select(
        n.cast("long").alias("n_days"),
        F.round(slope, 4).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(_normal_two_sided(az), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality of order values
# ---------------------------------------------------------------------------


JB_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(o_totalprice) AS s1,
         SUM(o_totalprice * o_totalprice) AS s2,
         SUM(o_totalprice * o_totalprice * o_totalprice) AS s3,
         SUM(o_totalprice * o_totalprice * o_totalprice
             * o_totalprice) AS s4
  FROM orders
),
c AS (
  SELECT n, s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * s2 / n
           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * s3 / n
           + 6 * (s1 / n) * (s1 / n) * s2 / n
           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM m
),
s AS (
  SELECT n, m3 / POW(m2, 1.5) AS skew,
         m4 / (m2 * m2) - 3.0 AS exk
  FROM c
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(skew, 6) AS skewness,
       ROUND(exk, 6) AS excess_kurtosis,
       ROUND(n / 6.0 * (skew * skew + exk * exk / 4.0), 4)
         AS jb_stat,
       ROUND(EXP(-(n / 6.0 * (skew * skew + exk * exk / 4.0))
                 / 2.0), 6) AS p_value
FROM s
"""


@query("stats_jarque_bera_normality", oracle=JB_ORACLE)
def stats_jarque_bera_normality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera 1980) of the
    o_totalprice distribution: JB = n/6 (S^2 + K^2/4) from the
    moment-sum skewness and excess kurtosis, with the EXACT chi2(2)
    tail p = exp(-JB/2) — no approximation polynomial at df = 2.
    The formal companion to round 8's ANALYZE moments: ANALYZE
    reports the shape, this tests it (order values are nothing like
    normal, and the test should say so with p = 0).

    Determinism: raw power sums fold in one aggregate; the central-
    moment algebra is the same closed form in both engines; the
    exponential tail is exact.

    Scale shape: ONE moment aggregate over the corpus (map-side
    partials); output is one row."""
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x")
    )
    m = o.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(
            F.col("x") * F.col("x") * F.col("x") * F.col("x")
        ).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * F.col("s2") / n + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * F.col("s3") / n
        + 6 * mu * mu * F.col("s2") / n
        - 3 * mu * mu * mu * mu
    )
    skew = m3 / F.pow(m2, F.lit(1.5))
    exk = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + exk * exk / 4.0)
    return m.select(
        n.cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.round(F.exp(-jb / 2.0), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Grubbs extreme studentized deviate on daily revenue
# ---------------------------------------------------------------------------


GRUBBS_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 4) AS y
  FROM orders GROUP BY 1
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(y) AS sy,
         SUM(y * y) AS syy
  FROM daily
),
dev AS (
  SELECT day, n,
         ABS(y - sy / n)
           / SQRT((syy - sy * sy / n) / (n - 1)) AS g
  FROM daily, m
),
gm AS (SELECT MAX(g) AS gmax FROM dev),
best AS (
  SELECT MAX(n) AS n, MIN(day) AS day, MAX(gmax) AS g
  FROM dev, gm WHERE g = gmax
),
zz AS (SELECT n, day, g, g AS za FROM best)
SELECT CAST(n AS BIGINT) AS n_days, day,
       ROUND(g, 6) AS grubbs_g,
       ROUND(LEAST(n * {_ans_sql('za')}, 1.0), 6) AS bonferroni_p
FROM zz
"""


@query("stats_grubbs_extreme_outlier", oracle=GRUBBS_ORACLE)
def stats_grubbs_extreme_outlier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grubbs' extreme studentized deviate (Grubbs 1950) over daily
    revenue: G = max |y - mean| / sd, the flagged day, and the
    Bonferroni NORMAL bound p <= n * 2 Q(G) (documented as the
    bound, not the exact t-based Grubbs p — at daily-frame sizes the
    normal bound is within a few percent and needs no t quantile).
    The single-point outlier screen beside the registered EWMA
    (drift) and binseg (level shifts): those find runs, this ranks
    the one worst day.

    Determinism: mean/sd fold from the bounded daily frame; the
    argmax compares identically-computed doubles with a min-day
    tiebreak.

    Scale shape: one corpus groupBy to the daily frame; one moment
    aggregate broadcasts; the argmax is a bounded-frame filter;
    output is one row."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
        .localCheckpoint(eager=False)
    )
    m = daily.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n",
        (
            F.abs(F.col("y") - F.col("sy") / F.col("n"))
            / F.sqrt(
                (
                    F.col("syy")
                    - F.col("sy") * F.col("sy") / F.col("n")
                )
                / (F.col("n") - 1)
            )
        ).alias("g"),
    )
    gmax = dev.agg(F.max("g").alias("gm"))
    best = (
        dev.crossJoin(F.broadcast(gmax))
        .filter(F.col("g") == F.col("gm"))
        .agg(
            F.max("n").alias("n"),
            F.min("day").alias("day"),
            F.max("gm").alias("g"),
        )
    )
    az = F.col("g")
    return best.select(
        F.col("n").cast("long").alias("n_days"),
        "day",
        F.round("g", 6).alias("grubbs_g"),
        F.round(
            F.least(F.col("n") * _normal_two_sided(az), F.lit(1.0)),
            6,
        ).alias("bonferroni_p"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau over daily event counts
# ---------------------------------------------------------------------------

LJUNG_LAGS = 7


LJUNG_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, x FROM daily
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(x) AS mu FROM idx
),
cent AS (SELECT i, x - mu AS e FROM idx, m),
den AS (SELECT SUM(e * e) AS ss FROM cent),
cross_k AS (
  SELECT k.k, SUM(a.e * b.e) AS num
  FROM unnest(generate_series(1, {LJUNG_LAGS})) AS k(k)
  JOIN cent a ON TRUE
  JOIN cent b ON b.i = a.i + k.k
  GROUP BY k.k
),
q AS (
  SELECT n, n * (n + 2)
           * SUM((num / ss) * (num / ss) / (n - k)) AS q
  FROM cross_k, den, m
  GROUP BY n
),
wh AS (
  SELECT n, q,
         (POW(q / {LJUNG_LAGS}.0, 1.0 / 3.0)
          - (1.0 - 2.0 / (9.0 * {LJUNG_LAGS}.0)))
           / SQRT(2.0 / (9.0 * {LJUNG_LAGS}.0)) AS z
  FROM q
),
zz AS (SELECT n, q, z, ABS(z) AS za FROM wh)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST({LJUNG_LAGS} AS INTEGER) AS n_lags,
       ROUND(q, 4) AS q_stat,
       ROUND(CASE WHEN z > 0 THEN {_ans_sql('za')} / 2.0
                  ELSE 1.0 - {_ans_sql('za')} / 2.0 END, 6)
         AS p_value
FROM zz
"""


@query("stats_ljung_box_daily", oracle=LJUNG_ORACLE)
def stats_ljung_box_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ljung-Box portmanteau (Ljung & Box 1978) over the daily event
    count series at lags 1..7: Q = n(n+2) sum_k rho_k^2/(n-k), p via
    the Wilson-Hilferty chi2(7) tail through the A&S normal
    polynomial — the FORMAL whiteness test behind round 11's
    events_acf_daily (the ACF table shows the correlogram, this says
    whether the week structure is statistically real). rho_k uses
    the standard fixed-denominator estimator (sum of lag-k cross
    products over the total sum of squares).

    Determinism: the series indexes by row_number over the
    day-ordered bounded daily frame (gaps collapse, both engines
    identically); cross products fold from an equi-join on index
    offset; the chi2 tail mirrors the registered Kruskal-Wallis
    convention.

    Scale shape: one corpus groupBy to the daily frame; the index
    window and lag joins run on that bounded frame (documented —
    the calendar bounds it at any corpus size); output is one
    row."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("double").alias("x"))
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w).alias("i"), "x"
    ).localCheckpoint(eager=False)
    m = idx.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("x").alias("mu"),
    )
    cent = idx.crossJoin(F.broadcast(m)).select(
        "i", (F.col("x") - F.col("mu")).alias("e"), "n"
    )
    denom = cent.agg(
        F.max("n").alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("ss"),
    )
    lags = spark.range(1, LJUNG_LAGS + 1).select(
        F.col("id").alias("k")
    )
    a = cent.select("i", F.col("e").alias("e1"))
    b = cent.select(F.col("i").alias("j"), F.col("e").alias("e2"))
    cross = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("j") == F.col("i") + F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("e1") * F.col("e2")).alias("num"))
    )
    q = (
        cross.crossJoin(F.broadcast(denom))
        .select(
            "k",
            (
                F.col("num")
                / F.col("ss")
                * F.col("num")
                / F.col("ss")
                / (F.col("n") - F.col("k"))
            ).alias("term"),
            "n",
        )
        .agg(
            F.max("n").alias("n"),
            F.sum("term").alias("tsum"),
        )
        .select(
            "n",
            (
                F.col("n") * (F.col("n") + 2) * F.col("tsum")
            ).alias("q"),
        )
    )
    dof = F.lit(float(LJUNG_LAGS))
    z = (
        F.pow(F.col("q") / dof, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (9.0 * dof))
    ) / F.sqrt(F.lit(2.0) / (9.0 * dof))
    az = F.abs(z)
    tail = _normal_two_sided(az) / 2.0
    p = F.when(z > 0, tail).otherwise(1.0 - tail)
    return q.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(LJUNG_LAGS).cast("int").alias("n_lags"),
        F.round("q", 4).alias("q_stat"),
        F.round(p, 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Pooled two-proportion z-test between user cohorts
# ---------------------------------------------------------------------------

PROP_EVENT = "error"


PROP_ORACLE = f"""
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
         AS DOUBLE) AS n1,
    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
         AS DOUBLE) AS n2,
    CAST(SUM(CASE WHEN user_id % 2 = 0
                   AND event_type = '{PROP_EVENT}'
              THEN 1 ELSE 0 END) AS DOUBLE) AS h1,
    CAST(SUM(CASE WHEN user_id % 2 <> 0
                   AND event_type = '{PROP_EVENT}'
              THEN 1 ELSE 0 END) AS DOUBLE) AS h2
  FROM events
),
s AS (
  SELECT n1, n2, h1 / n1 AS p1, h2 / n2 AS p2,
         (h1 + h2) / (n1 + n2) AS pp
  FROM agg
),
zz AS (
  SELECT n1, n2, p1, p2,
         (p1 - p2)
           / SQRT(pp * (1 - pp) * (1 / n1 + 1 / n2)) AS z
  FROM s
),
za AS (SELECT *, ABS(z) AS zab FROM zz)
SELECT CAST(n1 AS BIGINT) AS n_even, CAST(n2 AS BIGINT) AS n_odd,
       ROUND(p1, 6) AS rate_even, ROUND(p2, 6) AS rate_odd,
       ROUND(z, 6) AS z_score,
       ROUND({_ans_sql('zab')}, 6) AS p_value
FROM za
"""


@query("stats_two_proportion_ztest", oracle=PROP_ORACLE)
def stats_two_proportion_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pooled two-proportion z-test of the error-event rate between
    the even and odd user cohorts (the deterministic A/B split the
    sampling family uses): z = (p1 - p2) / sqrt(p(1-p)(1/n1 + 1/n2))
    with the pooled p, two-sided p via A&S 26.2.17 — the categorical
    companion to the registered Welch t (means) and Mann-Whitney
    (distributions).

    Determinism: cohort assignment is integer parity; counts are
    integers; one closed-form fold.

    Scale shape: ONE grouped aggregate (map-side partials) to a
    2-row cohort frame folded to one row."""
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).cast("int").alias("cohort_a"),
        (F.col("event_type") == PROP_EVENT).cast("long").alias("hit"),
    )
    agg = ev.agg(
        F.sum(F.col("cohort_a")).cast("double").alias("n1"),
        F.sum(1 - F.col("cohort_a")).cast("double").alias("n2"),
        F.sum(F.col("hit") * F.col("cohort_a")).cast("double").alias("h1"),
        F.sum(F.col("hit") * (1 - F.col("cohort_a")))
        .cast("double")
        .alias("h2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    p1, p2 = F.col("h1") / n1, F.col("h2") / n2
    pp = (F.col("h1") + F.col("h2")) / (n1 + n2)
    z = (p1 - p2) / F.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    az = F.abs(z)
    return agg.select(
        n1.cast("long").alias("n_even"),
        n2.cast("long").alias("n_odd"),
        F.round(p1, 6).alias("rate_even"),
        F.round(p2, 6).alias("rate_odd"),
        F.round(z, 6).alias("z_score"),
        F.round(_normal_two_sided(az), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Neyman optimal allocation across customer segments
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000


NEYMAN_ORACLE = f"""
WITH m AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS DOUBLE) AS nh,
         SUM(c_acctbal) AS sy,
         SUM(c_acctbal * c_acctbal) AS syy
  FROM customer GROUP BY 1
),
s AS (
  SELECT c_mktsegment, nh,
         SQRT((syy - sy * sy / nh) / (nh - 1)) AS sh
  FROM m
),
t AS (
  SELECT *, SUM(nh * sh) OVER () AS den, SUM(nh) OVER () AS ntot
  FROM s
)
SELECT c_mktsegment AS segment,
       CAST(nh AS BIGINT) AS n_stratum,
       ROUND(sh, 6) AS stddev_bal,
       CAST(ROUND({NEYMAN_BUDGET}.0 * nh * sh / den)
            AS BIGINT) AS neyman_n,
       CAST(ROUND({NEYMAN_BUDGET}.0 * nh / ntot)
            AS BIGINT) AS proportional_n
FROM t
"""


@query("sample_neyman_allocation", oracle=NEYMAN_ORACLE)
def sample_neyman_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934) of a fixed sample
    budget across customer segments: n_h proportional to N_h * S_h
    (stratum size times stddev of account balance) — the variance-
    minimizing stratified design, reported beside the proportional
    allocation the registered stratified sampler implements so the
    design DELTA is visible (high-variance strata get oversampled).

    Determinism: moments fold per stratum; the allocation rounds a
    double both engines computed identically (half-up on positive
    values agrees across engines away from exact .5 boundaries,
    which N_h S_h ratios never hit).

    Scale shape: ONE grouped moment aggregate to the |segments|-row
    frame; the denominator is a window over that bounded frame;
    output is |segments| rows."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment", F.col("c_acctbal").alias("y")
    )
    m = c.groupBy("c_mktsegment").agg(
        F.count("*").cast("double").alias("nh"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    sh = F.sqrt(
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("nh"))
        / (F.col("nh") - 1)
    )
    w_all = Window.partitionBy()
    scored = m.select(
        "c_mktsegment",
        F.col("nh"),
        sh.alias("sh"),
    ).select(
        "c_mktsegment",
        "nh",
        "sh",
        F.sum(F.col("nh") * F.col("sh")).over(w_all).alias("den"),
        F.sum("nh").over(w_all).alias("ntot"),
    )
    return scored.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("nh").cast("long").alias("n_stratum"),
        F.round("sh", 6).alias("stddev_bal"),
        F.round(
            F.lit(float(NEYMAN_BUDGET))
            * F.col("nh")
            * F.col("sh")
            / F.col("den"),
            0,
        )
        .cast("long")
        .alias("neyman_n"),
        F.round(
            F.lit(float(NEYMAN_BUDGET)) * F.col("nh") / F.col("ntot"),
            0,
        )
        .cast("long")
        .alias("proportional_n"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (ordered EMD) above the l-diversity rung
# ---------------------------------------------------------------------------

TCLOSE_T = 0.2


TCLOSE_ORACLE = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(value / 100) AS INTEGER) AS sens
  FROM events WHERE value IS NOT NULL
),
cell AS (
  SELECT event_type, day, sens, COUNT(*) AS c
  FROM ev GROUP BY 1, 2, 3
),
groups AS (
  SELECT event_type, day, SUM(c) AS gn FROM cell GROUP BY 1, 2
),
gall AS (SELECT sens, SUM(c) AS gc FROM cell GROUP BY 1),
gtot AS (
  SELECT SUM(gc) AS nt, CAST(COUNT(*) AS BIGINT) AS m FROM gall
),
gdist AS (SELECT sens, gc * 1.0 / nt AS p, m FROM gall, gtot),
dense AS (
  SELECT g.event_type, g.day, d.sens, d.m,
         COALESCE(c.c, 0) * 1.0 / g.gn - d.p AS diff
  FROM groups g CROSS JOIN gdist d
  LEFT JOIN cell c ON c.event_type = g.event_type
    AND c.day = g.day AND c.sens = d.sens
),
cums AS (
  SELECT event_type, day, m,
         SUM(diff) OVER (PARTITION BY event_type, day ORDER BY sens
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM dense
),
per_group AS (
  SELECT event_type, day, SUM(ABS(cum)) / (MAX(m) - 1) AS t,
         MAX(m) AS m
  FROM cums GROUP BY 1, 2
),
tm AS (SELECT MAX(t) AS tmax FROM per_group),
worst AS (
  SELECT event_type AS worst_event_type, day AS worst_day, t
  FROM per_group, tm WHERE t = tmax
  ORDER BY event_type, day LIMIT 1
),
audit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(MAX(m) AS BIGINT) AS m_sens_values,
         CAST(SUM(CASE WHEN t > {TCLOSE_T} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_violations
  FROM per_group
)
SELECT n_groups, m_sens_values, n_violations,
       worst_event_type, worst_day, ROUND(t, 6) AS worst_t
FROM audit, worst
"""


@query("privacy_t_closeness_audit", oracle=TCLOSE_ORACLE)
def privacy_t_closeness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian ICDE 2007) of
    the events release with QI = (event_type, day) and ORDERED
    sensitive attribute floor(value/100): l-diversity counts
    distinct sensitive values, t-closeness bounds how far each
    group's sensitive DISTRIBUTION sits from the global one — the
    ordered-attribute distance is the normalized 1D earth-mover
    t = (1/(m-1)) * sum_i |cum_i(q - p)| over the m-value grid. One
    audit row: group count, grid size, the worst group's t and
    identity, and how many groups violate t > {TCLOSE_T}.

    Determinism: the dense group x sensitive-value grid is built by
    construction (missing cells are exact zeros); cumulatives fold
    identically in both engines; the worst-group argmax compares
    identically-computed doubles with a lexical (event_type, day)
    tiebreak.

    Scale shape: one (QI, sens) grouped count; the dense grid is
    |groups| x m (bounded — sens values are value/100 buckets);
    cumulative windows partition per group over m rows; output is
    one row."""
    ev = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") / 100).cast("int").alias("sens"),
        )
        .filter(F.col("sens").isNotNull())
    )
    cell = ev.groupBy("event_type", "day", "sens").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=False)
    groups = cell.groupBy("event_type", "day").agg(
        F.sum("c").alias("gn")
    )
    glob = cell.groupBy("sens").agg(F.sum("c").alias("gc"))
    gtot = glob.agg(
        F.sum("gc").alias("nt"),
        F.count("*").cast("long").alias("m"),
    )
    gdist = glob.crossJoin(F.broadcast(gtot)).select(
        "sens", (F.col("gc") / F.col("nt")).alias("p"), "m"
    )
    grid = groups.crossJoin(F.broadcast(gdist))
    dense = grid.join(
        cell, ["event_type", "day", "sens"], "left"
    ).select(
        "event_type",
        "day",
        "sens",
        "m",
        (
            F.coalesce(F.col("c"), F.lit(0)) / F.col("gn")
            - F.col("p")
        ).alias("diff"),
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("sens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_group = (
        dense.withColumn("cum", F.sum("diff").over(w))
        .groupBy("event_type", "day")
        .agg(
            (F.sum(F.abs(F.col("cum"))) / (F.max("m") - 1)).alias(
                "t"
            ),
            F.max("m").alias("m"),
        )
    )
    tmax = per_group.agg(F.max("t").alias("tm"))
    worst = (
        per_group.crossJoin(F.broadcast(tmax))
        .filter(F.col("t") == F.col("tm"))
        .agg(
            F.min(F.struct("event_type", "day")).alias("wg"),
            F.max("tm").alias("tm"),
        )
        .select(
            F.col("wg.event_type").alias("worst_event_type"),
            F.col("wg.day").alias("worst_day"),
            F.col("tm"),
        )
    )
    audit = per_group.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.max("m").cast("long").alias("m_sens_values"),
        F.sum((F.col("t") > TCLOSE_T).cast("long"))
        .cast("long")
        .alias("n_violations"),
    )
    return audit.crossJoin(F.broadcast(worst)).select(
        "n_groups",
        "m_sens_values",
        "n_violations",
        "worst_event_type",
        "worst_day",
        F.round("tm", 6).alias("worst_t"),
    )


# ---------------------------------------------------------------------------
# Yule's K lexical richness per source
# ---------------------------------------------------------------------------


YULE_ORACLE = """
WITH toks AS (
  SELECT source, tok
  FROM (SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS tok
        FROM documents)
  WHERE tok <> ''
),
tf AS (
  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(10000.0 * (SUM(c * c) - SUM(c))
             / (SUM(c) * SUM(c)), 4) AS yule_k
FROM tf GROUP BY source
"""


@query("text_yule_k_richness", oracle=YULE_ORACLE)
def text_yule_k_richness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Yule's characteristic K per source (Yule 1944): K = 1e4 *
    (sum_types c^2 - N) / N^2 — the length-robust repeated-use
    statistic of the frequency spectrum (higher K = smaller
    effective vocabulary / more repetition). The closed-form member
    of the lexical-diversity family next to round 13's Simpson
    index (K is Simpson's repeat-probability scaled and de-biased),
    and a corpus-mixture fingerprint: template-generated sources
    show K far above naturally-written ones.

    Determinism: all three sufficient statistics (N, types, sum c^2)
    are exact integers; one rational per source, rounded 4dp.

    Scale shape: one (source, token) grouped count (map-side
    partials, vocab-bounded), one grouped fold to |sources| rows."""
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    return tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.lit(10000.0)
            * (F.sum(F.col("c") * F.col("c")) - F.sum("c"))
            / (F.sum("c") * F.sum("c")),
            4,
        ).alias("yule_k"),
    )


# ---------------------------------------------------------------------------
# Top JS-divergence-driving terms between two sources
# ---------------------------------------------------------------------------

JS_SHIFT_A = "src0"
JS_SHIFT_B = "src1"
JS_SHIFT_TOPK = 20


JS_SHIFT_ORACLE = f"""
WITH toks AS (
  SELECT source, tok
  FROM (SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS tok
        FROM documents
        WHERE source IN ('{JS_SHIFT_A}', '{JS_SHIFT_B}'))
  WHERE tok <> ''
),
tf AS (
  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
),
tot AS (SELECT source, SUM(c) AS n FROM tf GROUP BY 1),
probs AS (
  SELECT tf.source, tok, c * 1.0 / n AS p
  FROM tf JOIN tot ON tf.source = tot.source
),
j AS (
  SELECT COALESCE(a.tok, b.tok) AS term,
         COALESCE(a.p, 0.0) AS pa, COALESCE(b.p, 0.0) AS pb
  FROM (SELECT tok, p FROM probs WHERE source = '{JS_SHIFT_A}') a
  FULL OUTER JOIN
       (SELECT tok, p FROM probs WHERE source = '{JS_SHIFT_B}') b
    ON a.tok = b.tok
),
scored AS (
  SELECT term, pa, pb,
         0.5 * (CASE WHEN pa > 0
                     THEN pa * LN(2.0 * pa / (pa + pb))
                     ELSE 0.0 END
                + CASE WHEN pb > 0
                       THEN pb * LN(2.0 * pb / (pa + pb))
                       ELSE 0.0 END) AS raw
  FROM j
)
SELECT term, ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
       ROUND(raw, 8) AS js_contrib
FROM scored
ORDER BY raw DESC, term
LIMIT {JS_SHIFT_TOPK}
"""


@query("text_js_shift_terms", oracle=JS_SHIFT_ORACLE)
def text_js_shift_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The top-{JS_SHIFT_TOPK} terms by contribution to the
    Jensen-Shannon divergence between two sources' unigram
    distributions — the WHY companion to round 11's pairwise JS
    matrix (the matrix says sources drifted; this names the terms
    that drove it). Per-term contribution 0.5*(p*ln(2p/(p+q)) +
    q*ln(2q/(p+q))) with the exact one-sided limits (a term
    exclusive to one side contributes 0.5*p*ln2), summing to the
    matrix's divergence over the full vocabulary.

    Determinism: probabilities are integer rationals; contributions
    are computed with the identical operation sequence in both
    engines, so the descending top-k agrees bit-for-bit, with the
    term string as tiebreak.

    Scale shape: two grouped term counts (vocab-bounded), one
    full-outer term join of the two probability frames, one ordered
    top-k (TakeOrderedAndProject)."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(JS_SHIFT_A, JS_SHIFT_B)
    )
    tf = (
        docs.select(
            "source",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = tf.groupBy("source").agg(F.sum("c").alias("n"))
    probs = tf.join(F.broadcast(tot), "source").select(
        "source", "tok", (F.col("c") / F.col("n")).alias("p")
    )
    a = probs.filter(F.col("source") == JS_SHIFT_A).select(
        "tok", F.col("p").alias("pa")
    )
    b = probs.filter(F.col("source") == JS_SHIFT_B).select(
        "tok", F.col("p").alias("pb")
    )
    j = a.join(b, "tok", "full_outer").select(
        "tok",
        F.coalesce("pa", F.lit(0.0)).alias("pa"),
        F.coalesce("pb", F.lit(0.0)).alias("pb"),
    )
    pa, pb = F.col("pa"), F.col("pb")
    contrib = 0.5 * (
        F.when(pa > 0, pa * F.log(2.0 * pa / (pa + pb))).otherwise(
            F.lit(0.0)
        )
        + F.when(pb > 0, pb * F.log(2.0 * pb / (pa + pb))).otherwise(
            F.lit(0.0)
        )
    )
    return (
        j.select(
            F.col("tok").alias("term"),
            F.round(pa, 6).alias("p_a"),
            F.round(pb, 6).alias("p_b"),
            contrib.alias("_raw"),
        )
        .orderBy(F.col("_raw").desc(), "term")
        .limit(JS_SHIFT_TOPK)
        .select(
            "term",
            "p_a",
            "p_b",
            F.round("_raw", 8).alias("js_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# Conditional entropy of the event-type Markov chain
# ---------------------------------------------------------------------------


COND_ENTROPY_ORACLE = """
WITH seq AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
tr AS (
  SELECT cur, nxt, COUNT(*) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
),
scored AS (
  SELECT c,
         SUM(c) OVER (PARTITION BY cur) AS c_cur,
         SUM(c) OVER (PARTITION BY nxt) AS c_nxt,
         SUM(c) OVER () AS n
  FROM tr
)
SELECT CAST(MAX(n) AS BIGINT) AS n_transitions,
       ROUND(-SUM(c * 1.0 / n * log2(c_nxt * 1.0 / n)), 6)
         AS h_next,
       ROUND(-SUM(c * 1.0 / n * log2(c * 1.0 / c_cur)), 6)
         AS h_next_given_cur,
       ROUND(-SUM(c * 1.0 / n * log2(c_nxt * 1.0 / n))
             - (-SUM(c * 1.0 / n * log2(c * 1.0 / c_cur))), 6)
         AS info_gain
FROM scored
"""


@query("events_conditional_entropy", oracle=COND_ENTROPY_ORACLE)
def events_conditional_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conditional entropy H(next | current) of the event-type
    Markov chain, beside the marginal next-event entropy H(next)
    and their difference (the information the current state carries
    about the next — the mutual information of consecutive states).
    The single-number predictability summary of the registered
    events_markov_transitions matrix: H(next|cur) near H(next)
    means the chain is memoryless; near 0 means sessions are
    near-deterministic.

    Determinism: transitions order by (ts, event_id) per user (the
    markov query's pinned convention); all entropies fold from the
    |types|^2 integer count frame with log2 arithmetic identical in
    both engines.

    Scale shape: ONE user_id shuffle for the lead window, one
    grouped count to |types|^2 rows, windows and folds on that
    bounded frame; output is one row."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("c"))
    )
    w_cur = Window.partitionBy("cur")
    w_nxt = Window.partitionBy("nxt")
    w_all = Window.partitionBy()
    scored = tr.select(
        "c",
        F.sum("c").over(w_cur).alias("c_cur"),
        F.sum("c").over(w_nxt).alias("c_nxt"),
        F.sum("c").over(w_all).alias("n"),
    )
    h_cond = -F.sum(
        F.col("c")
        / F.col("n")
        * F.log2(F.col("c") / F.col("c_cur"))
    )
    # marginal H(next): each (cur,nxt) cell contributes c/n *
    # log2(c_nxt/n) exactly once per cell; grouping by nxt first
    # would double-count the window frame, so fold cell-wise
    h_next = -F.sum(
        F.col("c") / F.col("n") * F.log2(F.col("c_nxt") / F.col("n"))
    )
    return scored.agg(
        F.max("n").cast("long").alias("n_transitions"),
        F.round(h_next, 6).alias("h_next"),
        F.round(h_cond, 6).alias("h_next_given_cur"),
        F.round(h_next - h_cond, 6).alias("info_gain"),
    )


# ---------------------------------------------------------------------------
# Rich-club coefficient curve of the trade graph
# ---------------------------------------------------------------------------

RICH_CLUB_ORACLE = f"""
WITH {_UND_EDGES_SQL},
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM und GROUP BY src
),
ks AS (
  SELECT CAST(k AS INTEGER) AS k
  FROM (SELECT MAX(degree) AS md FROM deg),
       unnest(generate_series(0, md - 1)) AS r(k)
),
nk AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM ks JOIN deg ON degree > k GROUP BY k
),
e2 AS (
  SELECT du.degree AS ds, dv.degree AS dd
  FROM und e
  JOIN deg du ON du.node = e.src
  JOIN deg dv ON dv.node = e.dst
),
ek AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS dir_e
  FROM ks JOIN e2 ON ds > k AND dd > k GROUP BY k
)
SELECT nk.k, nk.n_nodes,
       CAST(COALESCE(ek.dir_e, 0) / 2 AS BIGINT) AS n_club_edges,
       ROUND(COALESCE(ek.dir_e, 0) * 1.0
             / (nk.n_nodes * (nk.n_nodes - 1)), 6) AS phi
FROM nk LEFT JOIN ek ON nk.k = ek.k
WHERE nk.n_nodes >= 2
"""


@query("graph_rich_club_coefficients", oracle=RICH_CLUB_ORACLE)
def graph_rich_club_coefficients(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rich-club coefficient curve (Zhou & Mondragon 2004) of the
    undirected trade graph: phi(k) = 2 E_k / (N_k (N_k - 1)) over
    the subgraph of nodes with degree > k, for every k from 0 to
    max degree - 1 with at least two qualifying nodes — do
    high-degree trade hubs preferentially trade with EACH OTHER?
    The mixing-structure companion to round 13's assortativity
    scalar (r says whether, phi(k) says from which degree tier on).

    Determinism: degrees, club sizes and club edge counts are
    integers; one rational per k.

    Scale shape: the degree frame is |V|-bounded; the k grid
    explodes from one max-degree scalar; club membership and edge
    counting are joins of the bounded degree/edge frames against
    the bounded grid; output is <= max-degree rows."""
    from cdc_2025_spark.queries.pending_r13 import _und_edges

    und = _und_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    ks = deg.agg(F.max("degree").alias("md")).select(
        F.explode(
            F.sequence(F.lit(0), (F.col("md") - 1).cast("int"))
        ).alias("k")
    )
    nk = (
        ks.join(deg, deg.degree > ks.k)
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    e2 = (
        und.join(
            deg.select(
                F.col("node").alias("src"),
                F.col("degree").alias("ds"),
            ),
            "src",
        )
        .join(
            deg.select(
                F.col("node").alias("dst"),
                F.col("degree").alias("dd"),
            ),
            "dst",
        )
        .select("ds", "dd")
    )
    ek = (
        ks.join(
            e2, (e2.ds > ks.k) & (e2.dd > ks.k)
        )
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("dir_e"))
    )
    out = (
        nk.join(ek, "k", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            F.col("k").cast("int").alias("k"),
            "n_nodes",
            (F.coalesce(F.col("dir_e"), F.lit(0)) / 2)
            .cast("long")
            .alias("n_club_edges"),
            F.round(
                F.coalesce(F.col("dir_e"), F.lit(0))
                / (
                    F.col("n_nodes").cast("double")
                    * (F.col("n_nodes") - 1)
                ),
                6,
            ).alias("phi"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Cronbach's alpha over the leading embedding dimensions
# ---------------------------------------------------------------------------

ALPHA_K = 8


def _cronbach_oracle() -> str:
    cols = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}"
        for i in range(1, ALPHA_K + 1)
    )
    tot = " + ".join(f"x{i}" for i in range(1, ALPHA_K + 1))
    sums = ", ".join(
        f"SUM(x{i}) AS s{i}, SUM(x{i} * x{i}) AS ss{i}"
        for i in range(1, ALPHA_K + 1)
    )
    item_var = " + ".join(
        f"(ss{i} - s{i} * s{i} / n) / (n - 1)"
        for i in range(1, ALPHA_K + 1)
    )
    return f"""
WITH rows0 AS (SELECT {cols} FROM embeddings),
rows1 AS (SELECT *, {tot} AS tot FROM rows0),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, {sums},
         SUM(tot) AS st, SUM(tot * tot) AS stt
  FROM rows1
),
v AS (
  SELECT n, {item_var} AS item_var,
         (stt - st * st / n) / (n - 1) AS tot_var
  FROM m
)
SELECT CAST({ALPHA_K} AS INTEGER) AS k_items,
       CAST(n AS BIGINT) AS n_rows,
       ROUND(item_var, 6) AS item_var_sum,
       ROUND(tot_var, 6) AS total_var,
       ROUND({ALPHA_K}.0 / ({ALPHA_K} - 1)
             * (1.0 - item_var / tot_var), 6) AS cronbach_alpha
FROM v
"""


CRONBACH_ORACLE = _cronbach_oracle()


@query("stats_cronbach_alpha_embeddings", oracle=CRONBACH_ORACLE)
def stats_cronbach_alpha_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cronbach's alpha (Cronbach 1951) over the first {ALPHA_K}
    embedding dimensions treated as items of one scale: alpha =
    k/(k-1) * (1 - sum_i var_i / var_total), var_total the variance
    of the per-row item sum — the internal-consistency audit of a
    feature block (near-0 alpha = independent dimensions, exactly
    what a well-trained embedding should show; high alpha = the
    block is redundant and a PCA/JL projection is overdue — the
    audit that motivates round 8's PCA and round 12's JL queries).

    Determinism: per-item and total moment sums fold in ONE
    aggregate; the item-variance sum is an explicit fixed-order
    chain in both engines; floats round 6dp after the fold.

    Scale shape: one moment aggregate over the corpus (map-side
    partials, 2k+2 sums); output is one row."""
    emb = read_table(spark, sf_dir, "embeddings")
    items = [
        F.element_at("embedding", i).cast("double").alias(f"x{i}")
        for i in range(1, ALPHA_K + 1)
    ]
    rows = emb.select(*items).withColumn(
        "tot", sum(F.col(f"x{i}") for i in range(1, ALPHA_K + 1))
    )
    aggs = [F.count("*").cast("double").alias("n")]
    for i in range(1, ALPHA_K + 1):
        aggs.append(F.sum(f"x{i}").alias(f"s{i}"))
        aggs.append(
            F.sum(F.col(f"x{i}") * F.col(f"x{i}")).alias(f"ss{i}")
        )
    aggs.append(F.sum("tot").alias("st"))
    aggs.append(F.sum(F.col("tot") * F.col("tot")).alias("stt"))
    m = rows.agg(*aggs)
    n = F.col("n")

    def var(s, ss):
        return (F.col(ss) - F.col(s) * F.col(s) / n) / (n - 1)

    item_var = var("s1", "ss1")
    for i in range(2, ALPHA_K + 1):
        item_var = item_var + var(f"s{i}", f"ss{i}")
    tot_var = var("st", "stt")
    alpha = (
        F.lit(float(ALPHA_K) / (ALPHA_K - 1))
        * (F.lit(1.0) - item_var / tot_var)
    )
    return m.select(
        F.lit(ALPHA_K).cast("int").alias("k_items"),
        n.cast("long").alias("n_rows"),
        F.round(item_var, 6).alias("item_var_sum"),
        F.round(tot_var, 6).alias("total_var"),
        F.round(alpha, 6).alias("cronbach_alpha"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range analysis of daily order counts
# ---------------------------------------------------------------------------

HURST_WINDOWS = (16, 32, 64, 128)


HURST_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM orders GROUP BY 1
),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS i, x FROM daily
),
blocked AS (
  SELECT n.n, CAST(FLOOR(i / n.n) AS BIGINT) AS b, i, x
  FROM idx, unnest([{", ".join(str(n) for n in HURST_WINDOWS)}])
    AS n(n)
),
counts AS (
  SELECT n, b, COUNT(*) AS cnt, AVG(x) AS m
  FROM blocked GROUP BY 1, 2
),
dev AS (
  SELECT bl.n, bl.b, bl.x, c.m,
         SUM(bl.x - c.m) OVER (PARTITION BY bl.n, bl.b ORDER BY bl.i
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM blocked bl JOIN counts c ON bl.n = c.n AND bl.b = c.b
  WHERE c.cnt = bl.n
),
per_block AS (
  SELECT n, b,
         (MAX(cum) - MIN(cum))
           / NULLIF(SQRT(AVG((x - m) * (x - m))), 0.0)
           AS rs
  FROM dev GROUP BY 1, 2
),
per_size AS (
  SELECT n, CAST(COUNT(rs) AS BIGINT) AS n_blocks,
         AVG(rs) AS avg_rs
  FROM per_block GROUP BY 1
),
pts AS (
  SELECT n, n_blocks, avg_rs,
         LN(CAST(n AS DOUBLE)) AS lx, LN(avg_rs) AS ly
  FROM per_size
),
fit AS (
  SELECT n, n_blocks, avg_rs,
         (COUNT(*) OVER () * SUM(lx * ly) OVER ()
          - SUM(lx) OVER () * SUM(ly) OVER ())
         / (COUNT(*) OVER () * SUM(lx * lx) OVER ()
            - SUM(lx) OVER () * SUM(lx) OVER ()) AS h
  FROM pts
)
SELECT CAST(n AS INTEGER) AS window_n, n_blocks,
       ROUND(avg_rs, 6) AS avg_rs, ROUND(h, 6) AS hurst
FROM fit
ORDER BY window_n
"""


@query("stats_hurst_rs_daily", oracle=HURST_ORACLE)
def stats_hurst_rs_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hurst exponent by classical rescaled-range analysis (Hurst
    1951; Mandelbrot & Wallis 1969) over the daily order-count
    series: for each window size n, the series cuts into FULL
    n-day blocks, each block contributes R/S = (max cumulative
    deviation - min cumulative deviation) / population std, and H
    is the OLS slope of ln(mean R/S) on ln(n). H ~ 0.5 = memoryless,
    > 0.5 = persistent (trends compound), < 0.5 = mean-reverting —
    the long-memory diagnostic beside the registered ACF (linear,
    short-lag) and Ljung-Box (whiteness) views.

    Determinism: counts are integers; block assignment is integer
    floor over the row_number index; cumulative windows run inside
    <= 128-row block partitions; zero-variance blocks drop via a
    NULLIF (both engines skip NULL in AVG); the final slope folds
    from 4 (ln n, ln mean R/S) points.

    Scale shape: one corpus groupBy to the calendar-bounded daily
    frame; the index window and block cumulatives run there
    (documented bounded); output is one row per window size."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").cast("double").alias("x"))
        .localCheckpoint(eager=False)
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("i"),
        "x",
    ).localCheckpoint(eager=False)
    sizes = spark.createDataFrame(
        [(n,) for n in HURST_WINDOWS], "n int"
    )
    blocked = idx.crossJoin(F.broadcast(sizes)).select(
        "n", (F.col("i") / F.col("n")).cast("long").alias("b"),
        "i", "x",
    )
    counts = blocked.groupBy("n", "b").agg(
        F.count("*").alias("cnt"), F.avg("x").alias("m")
    )
    full = blocked.join(counts, ["n", "b"]).filter(
        F.col("cnt") == F.col("n")
    )
    w_blk = (
        Window.partitionBy("n", "b")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = full.withColumn(
        "cum", F.sum(F.col("x") - F.col("m")).over(w_blk)
    )
    per_block = dev.groupBy("n", "b").agg(
        (
            (F.max("cum") - F.min("cum"))
            / F.nullif(
                F.sqrt(
                    F.avg(
                        (F.col("x") - F.col("m"))
                        * (F.col("x") - F.col("m"))
                    )
                ),
                F.lit(0.0),
            )
        ).alias("rs")
    )
    per_size = per_block.groupBy("n").agg(
        F.count("rs").cast("long").alias("n_blocks"),
        F.avg("rs").alias("avg_rs"),
    )
    pts = per_size.select(
        "n",
        "n_blocks",
        "avg_rs",
        F.log(F.col("n").cast("double")).alias("lx"),
        F.log("avg_rs").alias("ly"),
    )
    w_all = Window.partitionBy()
    fit = pts.select(
        "n",
        "n_blocks",
        "avg_rs",
        (
            (
                F.count("*").over(w_all)
                * F.sum(F.col("lx") * F.col("ly")).over(w_all)
                - F.sum("lx").over(w_all) * F.sum("ly").over(w_all)
            )
            / (
                F.count("*").over(w_all)
                * F.sum(F.col("lx") * F.col("lx")).over(w_all)
                - F.sum("lx").over(w_all) * F.sum("lx").over(w_all)
            )
        ).alias("h"),
    )
    return fit.select(
        F.col("n").alias("window_n"),
        "n_blocks",
        F.round("avg_rs", 6).alias("avg_rs"),
        F.round("h", 6).alias("hurst"),
    ).orderBy("window_n")


# ---------------------------------------------------------------------------
# Deterministic class-balanced downsample of documents by language
# ---------------------------------------------------------------------------


BALANCED_ORACLE = """
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM documents
),
nm AS (
  SELECT MIN(c) AS n_min
  FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN rn <= n_min THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after,
       CAST(SUM(CASE WHEN rn <= n_min THEN doc_id END)
            AS BIGINT) AS kept_key_sum
FROM ranked, nm
GROUP BY lang
ORDER BY lang
"""


@query("sample_balanced_downsample", oracle=BALANCED_ORACLE)
def sample_balanced_downsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Class-balanced downsample audit: every language class keeps
    exactly the MINORITY class's count of documents, selected by a
    deterministic md5(doc_id) rank within the class — the standard
    imbalance fix before training a classifier on the corpus (the
    registered temperature/mixture samplers reweight ACROSS sources;
    this equalizes WITHIN a label). One row per class: size before,
    size after (= the global minimum), and the integer-exact key sum
    of the kept rows, which pins the exact selected SET, not just
    its size.

    Determinism: md5 of the decimal doc_id string is identical in
    both engines; the doc_id tiebreak makes the within-class order
    total.

    Scale shape: one grouped count for class sizes (broadcast), one
    class-partitioned rank window (classes bound the partitions),
    map-side keep decision; output is |classes| rows."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    n_min = docs.groupBy("lang").count().agg(
        F.min("count").alias("n_min")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn(
        "rn", F.row_number().over(w)
    ).crossJoin(F.broadcast(n_min))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_before"),
            F.sum(
                (F.col("rn") <= F.col("n_min")).cast("long")
            ).cast("long").alias("n_after"),
            F.sum(
                F.when(
                    F.col("rn") <= F.col("n_min"), F.col("doc_id")
                )
            ).cast("long").alias("kept_key_sum"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Versioned-table data-skipping audit
# ---------------------------------------------------------------------------

SKIP_LO, SKIP_HI = 2200.0, 2800.0


VERSIONED_SKIP_ORACLE = f"""
SELECT CAST(3 AS BIGINT) AS n_dirs,
       CAST(2 AS BIGINT) AS n_dirs_pruned,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer
WHERE c_acctbal >= {SKIP_LO} AND c_acctbal < {SKIP_HI}
"""


@query("versioned_skipping_audit", oracle=VERSIONED_SKIP_ORACLE)
def versioned_skipping_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver surface for MANIFEST-LEVEL DATA SKIPPING
    (cdc_2025_spark/versioned.py): commit the customer dim as THREE
    append snapshots split by disjoint acctbal bands (the
    time-partitioned-ingest shape stats pruning exists for), then
    run a banded read through ``read_versioned(predicates=...)`` —
    one audit row reporting how many committed dirs the manifest
    stats PRUNED before any scan was planned, plus the returned
    rows' integer-exact count/key-sum, which the oracle recomputes
    straight from the base table. A hash-green row verifies the
    footer-harvested min/max stats, the conjunctive pruning rule,
    AND that skipping never changes the answer.

    Determinism: band assignment is a pure comparison on the stored
    doubles; counts and key sums are integers; the pruning count is
    a manifest fact (exactly one of the three bands intersects the
    predicate range by construction).

    Scale shape: three distributed snapshot writes; the predicated
    read plans a scan over ONLY the surviving dirs; the audit
    aggregate is one row. The table is session-memoized (built once
    per (session, sf_dir), removed at process exit) so repeated
    driver/bench runs do not accumulate /tmp copies."""
    from cdc_2025_spark.queries.pending_r13 import memo_versioned_table
    from cdc_2025_spark.versioned import (
        _dir_may_match,
        history,
        read_versioned,
        write_versioned,
    )

    bal = F.col("c_acctbal")
    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    bands = [
        bal < SKIP_LO,
        (bal >= SKIP_LO) & (bal < SKIP_HI),
        bal >= SKIP_HI,
    ]

    def _build(path: str) -> None:
        for i, cond in enumerate(bands):
            write_versioned(
                base.filter(cond),
                path,
                mode="append" if i else "overwrite",
            )

    table = memo_versioned_table(
        spark, sf_dir, "versioned_skip", _build
    )
    preds = [
        ("c_acctbal", ">=", SKIP_LO),
        ("c_acctbal", "<", SKIP_HI),
    ]
    m = history(table)[-1]
    stats = m["dir_stats"]
    pruned = sum(
        0 if _dir_may_match(stats.get(d, {}), preds) else 1
        for d in m["data_dirs"]
    )
    got = read_versioned(spark, table, predicates=preds)
    return got.agg(
        F.lit(len(m["data_dirs"])).cast("long").alias("n_dirs"),
        F.lit(pruned).cast("long").alias("n_dirs_pruned"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
    )

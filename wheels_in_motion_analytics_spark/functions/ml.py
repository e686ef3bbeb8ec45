"""Distributed ML-training primitives: histogram-based decision-stump
split finding, the feature-hashing trick, and smoothed target encoding —
the feature-engineering / tree-boosting inner loops a training-data
pipeline runs at corpus scale (the reference stops at BI aggregates,
README.md serving layer; these extend the same star schema toward model
training).

Scale shapes:

* Decision stump = the LightGBM/XGBoost *histogram* algorithm: one
  map-side-combinable 256-bin aggregate over the fact scan, then the
  split argmax unfolds from the tiny bin relation — the exact pattern a
  1000-executor GBDT trainer uses (never a sort, never per-candidate
  rescans).
* Feature hashing: stateless md5 bucketing (explode → groupBy), the
  standard trick for unbounded vocabularies — no vocabulary build, no
  dictionary broadcast, collisions bounded by design.
* Target encoding: per-category aggregate + one 1-row global relation
  broadcast back — two map-side-combinable aggs, no fact-side window.

Float discipline: NOTHING float is hashed. Gini gains and encodings are
emitted as exact scaled integers (micro/ppm) via half-up integer division
in DECIMAL(38,0)/HUGEINT (NOTES.md round-5 rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.functions.similarity import hash_hex
from wheels_in_motion_analytics_spark.functions.text import tokens
from wheels_in_motion_analytics_spark.registry import REGISTRY, register
from wheels_in_motion_analytics_spark.tables import table

# ---------------------------------------------------------------------------
# Decision stump: best binary split by weighted Gini over histogram bins
# ---------------------------------------------------------------------------

STUMP_BINS = 256


@register(
    "decision_stump_best_split",
    category="ml",
    doc="Histogram-based decision-stump training (the GBDT split-finding "
    f"inner loop): label = order status 'F', feature = total price cents "
    f"binned into {STUMP_BINS} equal-width integer bins. ONE map-side-"
    "combinable histogram aggregate over the fact scan; the best split "
    "then unfolds from the ≤256-row bin relation via exact-integer "
    "weighted-Gini scores (score_micro = 1e6-scaled purity, half-up "
    "integer division in DECIMAL(38,0) — no float is hashed, ties break "
    "on the lower bin). This is the plan shape a distributed tree "
    "trainer ships: histogram partials merge associatively, split "
    "selection is O(bins), and the fact table is scanned exactly once.",
    oracle=f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
mm AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM src),
hist AS (
  SELECT CAST(((cents - lo) * {STUMP_BINS}) // (hi - lo + 1) AS BIGINT) AS bin,
         COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS p
  FROM src CROSS JOIN mm
  GROUP BY 1
),
cum AS (
  SELECT bin,
         CAST(SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS nl,
         CAST(SUM(p) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS pl,
         CAST(SUM(n) OVER () AS HUGEINT) AS nt,
         CAST(SUM(p) OVER () AS HUGEINT) AS pt
  FROM hist
),
scored AS (
  SELECT bin, nl, pl, nt - nl AS nr, pt - pl AS pr,
         ((pl*pl + (nl-pl)*(nl-pl)) * (nt-nl)
          + ((pt-pl)*(pt-pl) + ((nt-nl)-(pt-pl))*((nt-nl)-(pt-pl))) * nl)
           * 1000000 // (nl * (nt - nl)) AS score
  FROM cum WHERE nl > 0 AND nt - nl > 0
),
best AS (
  SELECT * FROM scored ORDER BY score DESC, bin ASC LIMIT 1
)
SELECT CAST(bin AS BIGINT) AS split_bin,
       CAST(lo + ((bin + 1) * (hi - lo + 1)) // {STUMP_BINS} AS BIGINT)
         AS threshold_cents,
       CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
       CAST(nr AS BIGINT) AS n_right, CAST(pr AS BIGINT) AS pos_right,
       CAST(score AS BIGINT) AS score_micro
FROM best CROSS JOIN mm
""",
)
def decision_stump_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    return stump_best_split(src)


def stump_best_split(src: DataFrame, bins: int = STUMP_BINS) -> DataFrame:
    """Reusable histogram-stump core over a (cents, pos) relation — the
    registry query applies it to orders; property tests drive it with
    arbitrary integer data."""
    mm = src.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    # 1-row relation broadcast onto the scan: bin id is pure arithmetic.
    hist = (
        src.crossJoin(F.broadcast(mm))
        .groupBy(
            F.expr(f"(cents - lo) * {bins} DIV (hi - lo + 1)").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p"))
    )
    # ≤256 rows from here on — the unpartitioned windows are bounded by the
    # bin count, never by data size (the same exemption the calendar-grain
    # timeseries ops document).
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bin",
        F.sum("n").over(w).cast("decimal(38,0)").alias("nl"),
        F.sum("p").over(w).cast("decimal(38,0)").alias("pl"),
        F.sum("n").over(wall).cast("decimal(38,0)").alias("nt"),
        F.sum("p").over(wall).cast("decimal(38,0)").alias("pt"),
    )
    scored = cum.where((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0)).select(
        "bin",
        "nl",
        "pl",
        (F.col("nt") - F.col("nl")).alias("nr"),
        (F.col("pt") - F.col("pl")).alias("pr"),
        F.expr(
            "((pl*pl + (nl-pl)*(nl-pl)) * (nt-nl)"
            " + ((pt-pl)*(pt-pl) + ((nt-nl)-(pt-pl))*((nt-nl)-(pt-pl))) * nl)"
            " * 1000000 DIV (nl * (nt - nl))"
        ).alias("score"),
    )
    best = scored.withColumn(
        "__rn",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("bin"))),
    ).where(F.col("__rn") == 1)
    return best.crossJoin(F.broadcast(mm)).select(
        F.col("bin").cast("bigint").alias("split_bin"),
        F.expr(f"lo + ((bin + 1) * (hi - lo + 1)) DIV {bins}")
        .cast("bigint")
        .alias("threshold_cents"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("pl").cast("bigint").alias("pos_left"),
        F.col("nr").cast("bigint").alias("n_right"),
        F.col("pr").cast("bigint").alias("pos_right"),
        F.col("score").cast("bigint").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

HASH_DIM = 64


@register(
    "feature_hashing_trick",
    category="ml",
    doc=f"Feature hashing: document tokens hashed into {HASH_DIM} signed "
    "buckets (md5-derived bucket + sign bit — Weinberger et al.'s hashing "
    "trick), aggregated per language. No vocabulary build, no dictionary "
    "broadcast — the featurizer is stateless, so it parallelizes over any "
    "corpus size with one explode + one map-side-combinable groupBy. "
    "md5 keeps the bucketing engine-portable (NOTES.md hash rule).",
    oracle=f"""
WITH tok AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
),
h AS (
  SELECT lang,
         ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv
  FROM tok
)
SELECT lang,
       CAST(hv % {HASH_DIM} AS BIGINT) AS bucket,
       CAST(SUM(CASE WHEN (hv // {HASH_DIM}) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
         AS feat_val,
       COUNT(*) AS n_tokens
FROM h
GROUP BY 1, 2
""",
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "lang", tokens(F.col("text")).alias("ws")
    )
    tok = docs.select("lang", F.explode("ws").alias("t"))
    h = tok.select("lang", hash_hex(F.col("t"), 15).alias("hv"))
    return h.groupBy(
        "lang", (F.col("hv") % HASH_DIM).cast("bigint").alias("bucket")
    ).agg(
        # sign bit via integer DIV — float division loses exactness past
        # 2^53 and hv is a 60-bit integer
        F.sum(
            F.when(F.expr(f"(hv DIV {HASH_DIM}) % 2") == 0, 1).otherwise(-1)
        )
        .cast("bigint")
        .alias("feat_val"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Smoothed target encoding
# ---------------------------------------------------------------------------

TE_SMOOTHING_M = 20


@register(
    "target_encoding_smoothed",
    category="ml",
    doc="Smoothed target encoding of part brand against the return-flag "
    f"target: enc = (s + m·G)/(n + m) with m={TE_SMOOTHING_M} and G the "
    "global positive rate — the standard leakage-damped categorical "
    "encoder. Per-brand counts come from one broadcast-dim join + one "
    "map-side-combinable agg; the global rate is a 1-row broadcast. The "
    "encoding is emitted as exact ppm via half-up DECIMAL(38,0) integer "
    "division (enc·1e6 = (2e6·(s·Gn + m·Gs) + Gn·(n+m)) DIV (2·Gn·(n+m))) "
    "— no float quotient is hashed.",
    oracle=f"""
WITH lab AS (
  SELECT p.p_brand AS brand,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
per AS (
  SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(pos) AS HUGEINT) AS s
  FROM lab GROUP BY brand
),
g AS (SELECT CAST(SUM(n) AS HUGEINT) AS gn, CAST(SUM(s) AS HUGEINT) AS gs FROM per)
SELECT brand,
       CAST(n AS BIGINT) AS n_rows,
       CAST(s AS BIGINT) AS n_pos,
       CAST((2000000 * (s * gn + {TE_SMOOTHING_M} * gs) + gn * (n + {TE_SMOOTHING_M}))
            // (2 * gn * (n + {TE_SMOOTHING_M})) AS BIGINT) AS enc_ppm
FROM per CROSS JOIN g
""",
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = (
        table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            (F.col("l_returnflag") == "R").cast("int").alias("pos"),
        )
    )
    per = lab.groupBy("brand").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("pos").cast("decimal(38,0)").alias("s"),
    )
    g = per.agg(
        F.sum("n").cast("decimal(38,0)").alias("gn"),
        F.sum("s").cast("decimal(38,0)").alias("gs"),
    )
    m = TE_SMOOTHING_M
    return per.crossJoin(F.broadcast(g)).select(
        "brand",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("s").cast("bigint").alias("n_pos"),
        F.expr(
            f"(2000000 * (s * gn + {m} * gs) + gn * (n + {m}))"
            f" DIV (2 * gn * (n + {m}))"
        )
        .cast("bigint")
        .alias("enc_ppm"),
    )


# ---------------------------------------------------------------------------
# Model-evaluation suite: AUC, calibration bins, threshold confusion metrics
# ---------------------------------------------------------------------------


@register(
    "auc_rank_ppm",
    category="ml",
    doc="Exact ROC AUC of the 'price predicts finished status' scorer via "
    "the rank statistic (AUC = (R1 - n1(n1+1)/2) / (n1·n0), tie-corrected "
    "average ranks): scores aggregate to a distinct-value relation and "
    "cumulative counts come from the two-phase exact prefix sum — the "
    "Mann-Whitney machinery pointed at model evaluation, no per-row rank "
    "assignment, no single-task sort. Doubled ranks keep everything "
    "integer; auc_ppm is half-up DECIMAL(38,0) division. At 100 TB the "
    "distinct-score relation is the only shuffled data.",
    oracle="""
WITH s AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g
  FROM orders
),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tot, CAST(SUM(g) AS BIGINT) AS n1v
  FROM s GROUP BY v
),
cum AS (
  SELECT n_tot, n1v,
         CAST(COALESCE(SUM(n_tot) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM vals
),
agg AS (
  SELECT CAST(SUM(n1v) AS HUGEINT) AS n1,
         CAST(SUM(n_tot) AS HUGEINT) AS n,
         CAST(SUM(n1v * (2 * cum_before + n_tot + 1)) AS HUGEINT) AS r1_x2
  FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n_pos,
       CAST(n - n1 AS BIGINT) AS n_neg,
       CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u_x2,
       CAST((2000000 * (r1_x2 - n1 * (n1 + 1)) + 2 * n1 * (n - n1))
            // (4 * n1 * (n - n1)) AS BIGINT) AS auc_ppm
FROM agg
""",
)
def auc_rank_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_prefix_sums,
    )

    s = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
        (F.col("o_orderstatus") == "F").cast("int").alias("g"),
    )
    vals = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("g").alias("n1v")
    )
    cum = global_prefix_sums(vals, ["v"], ["n_tot"]).select(
        "n_tot",
        "n1v",
        (F.col("n_tot_cum") - F.col("n_tot")).alias("cum_before"),
    )
    agg = cum.agg(
        F.sum("n1v").cast("decimal(38,0)").alias("n1"),
        F.sum("n_tot").cast("decimal(38,0)").alias("n"),
        F.sum(
            F.col("n1v") * (2 * F.col("cum_before") + F.col("n_tot") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_x2"),
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        (F.col("n") - F.col("n1")).cast("bigint").alias("n_neg"),
        F.expr("r1_x2 - n1 * (n1 + 1)").cast("bigint").alias("u_x2"),
        F.expr(
            "(2000000 * (r1_x2 - n1 * (n1 + 1)) + 2 * n1 * (n - n1))"
            " DIV (4 * n1 * (n - n1))"
        )
        .cast("bigint")
        .alias("auc_ppm"),
    )


CALIB_BINS = 10


@register(
    "calibration_reliability_bins",
    category="ml",
    doc=f"Calibration / reliability diagram: scores ({CALIB_BINS} "
    "equal-width integer bins over price cents) vs the observed positive "
    "rate per bin — the diagnostic behind Platt scaling / isotonic "
    "recalibration. One 1-row min-max broadcast + one map-side-combinable "
    "groupBy; rates are exact half-up ppm integers.",
    oracle=f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
mm AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM src)
SELECT CAST((cents - lo) * {CALIB_BINS} // (hi - lo + 1) AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST((CAST(2000000 AS HUGEINT) * SUM(pos) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS pos_rate_ppm
FROM src CROSS JOIN mm
GROUP BY 1
""",
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    mm = src.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    return (
        src.crossJoin(F.broadcast(mm))
        .groupBy(
            F.expr(f"(cents - lo) * {CALIB_BINS} DIV (hi - lo + 1)").alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.expr(
                "(CAST(2000000 AS DECIMAL(38,0)) * sum(pos) + count(*))"
                " DIV (2 * count(*))"
            )
            .cast("bigint")
            .alias("pos_rate_ppm"),
        )
    )


@register(
    "classification_threshold_metrics",
    category="ml",
    doc="Confusion matrix + precision/recall/F1 at the decision threshold "
    "'price above the global mean': the threshold comparison is the "
    "exact cross-multiplication cents·n > Σcents (no division, no float "
    "mean), the four cells land in ONE map-side-combinable aggregate "
    "after a 1-row broadcast, and the metrics are half-up ppm integers "
    "(F1 = 2tp/(2tp+fp+fn) directly from counts).",
    oracle="""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
g AS (SELECT CAST(SUM(cents) AS HUGEINT) AS s, CAST(COUNT(*) AS HUGEINT) AS n FROM src),
cells AS (
  SELECT CAST(COUNT(*) FILTER (WHERE cents * n > s AND pos = 1) AS HUGEINT) AS tp,
         CAST(COUNT(*) FILTER (WHERE cents * n > s AND pos = 0) AS HUGEINT) AS fp,
         CAST(COUNT(*) FILTER (WHERE cents * n <= s AND pos = 1) AS HUGEINT) AS fn,
         CAST(COUNT(*) FILTER (WHERE cents * n <= s AND pos = 0) AS HUGEINT) AS tn
  FROM src CROSS JOIN g
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CAST((2000000 * tp + (tp + fp)) // (2 * (tp + fp)) AS BIGINT)
         AS precision_ppm,
       CAST((2000000 * tp + (tp + fn)) // (2 * (tp + fn)) AS BIGINT)
         AS recall_ppm,
       CAST((2000000 * 2 * tp + (2 * tp + fp + fn)) // (2 * (2 * tp + fp + fn))
            AS BIGINT) AS f1_ppm
FROM cells
""",
)
def classification_threshold_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    g = src.agg(
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    pred = F.col("cents").cast("decimal(38,0)") * F.col("n") > F.col("s")
    cells = (
        src.crossJoin(F.broadcast(g))
        .agg(
            F.count(F.when(pred & (F.col("pos") == 1), 1))
            .cast("decimal(38,0)")
            .alias("tp"),
            F.count(F.when(pred & (F.col("pos") == 0), 1))
            .cast("decimal(38,0)")
            .alias("fp"),
            F.count(F.when(~pred & (F.col("pos") == 1), 1))
            .cast("decimal(38,0)")
            .alias("fn"),
            F.count(F.when(~pred & (F.col("pos") == 0), 1))
            .cast("decimal(38,0)")
            .alias("tn"),
        )
    )
    return cells.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        F.expr("(2000000 * tp + (tp + fp)) DIV (2 * (tp + fp))")
        .cast("bigint")
        .alias("precision_ppm"),
        F.expr("(2000000 * tp + (tp + fn)) DIV (2 * (tp + fn))")
        .cast("bigint")
        .alias("recall_ppm"),
        F.expr(
            "(2000000 * 2 * tp + (2 * tp + fp + fn))"
            " DIV (2 * (2 * tp + fp + fn))"
        )
        .cast("bigint")
        .alias("f1_ppm"),
    )


# ---------------------------------------------------------------------------
# Logistic regression: one exact Newton step from the zero initializer
# ---------------------------------------------------------------------------


@register(
    "logreg_newton_step",
    category="ml",
    doc="Distributed GLM training as ONE aggregate: the first Newton/IRLS "
    "step of logistic regression from the zero initializer has the closed "
    "form beta = 2*(X'X)^-1 * X'z with z = 2y-1 (at beta=0 every p_i = "
    "1/2, so the Hessian is X'X/4 and the gradient is X'(y-1/2)) — every "
    "moment is an exact DECIMAL(38,0) integer from one map-side-"
    "combinable pass over the fact scan, the 3x3 Cramer solve happens on "
    "the 1-row moment relation, and the coefficients are emitted as exact "
    "sign-corrected half-up ppm (X'X is positive-definite, so det > 0). "
    "Feature scale keeps det*1e6 inside DECIMAL(38,0) to ~1e13 rows. "
    "Target: lineitem return flag on (quantity, discount pct).",
    oracle="""
WITH m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s2,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s11,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s12,
         CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s22,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END) AS HUGEINT) AS t0,
         CAST(SUM(CAST(l_quantity AS BIGINT) * (CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END)) AS HUGEINT) AS t1,
         CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * (CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END)) AS HUGEINT) AS t2
  FROM lineitem
),
solved AS (
  SELECT n,
         (n * (s11 * s22 - s12 * s12)
          - s1 * (s1 * s22 - s12 * s2)
          + s2 * (s1 * s12 - s11 * s2)) AS det,
         (t0 * (s11 * s22 - s12 * s12)
          - s1 * (t1 * s22 - s12 * t2)
          + s2 * (t1 * s12 - s11 * t2)) AS d0,
         (n * (t1 * s22 - s12 * t2)
          - t0 * (s1 * s22 - s12 * s2)
          + s2 * (s1 * t2 - t1 * s2)) AS d1,
         (n * (s11 * t2 - t1 * s12)
          - s1 * (s1 * t2 - t1 * s2)
          + t0 * (s1 * s12 - s11 * s2)) AS d2
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST((CASE WHEN d0 < 0 THEN -1 ELSE 1 END)
            * ((2000000 * 2 * abs(d0) + det) // (2 * det)) AS BIGINT) AS beta0_ppm,
       CAST((CASE WHEN d1 < 0 THEN -1 ELSE 1 END)
            * ((2000000 * 2 * abs(d1) + det) // (2 * det)) AS BIGINT) AS beta1_ppm,
       CAST((CASE WHEN d2 < 0 THEN -1 ELSE 1 END)
            * ((2000000 * 2 * abs(d2) + det) // (2 * det)) AS BIGINT) AS beta2_ppm
FROM solved
""",
)
def logreg_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("bigint")
    x2 = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
    z = F.when(F.col("l_returnflag") == "R", 1).otherwise(-1)

    def dmoment(expr):
        return F.sum(expr.cast("decimal(38,0)")).cast("decimal(38,0)")

    m = li.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        dmoment(x1).alias("s1"),
        dmoment(x2).alias("s2"),
        dmoment(x1 * x1).alias("s11"),
        dmoment(x1 * x2).alias("s12"),
        dmoment(x2 * x2).alias("s22"),
        dmoment(z).alias("t0"),
        dmoment(x1 * z).alias("t1"),
        dmoment(x2 * z).alias("t2"),
    )
    solved = m.select(
        "n",
        F.expr(
            "n * (s11 * s22 - s12 * s12)"
            " - s1 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s12 - s11 * s2)"
        ).alias("det"),
        F.expr(
            "t0 * (s11 * s22 - s12 * s12)"
            " - s1 * (t1 * s22 - s12 * t2)"
            " + s2 * (t1 * s12 - s11 * t2)"
        ).alias("d0"),
        F.expr(
            "n * (t1 * s22 - s12 * t2)"
            " - t0 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * t2 - t1 * s2)"
        ).alias("d1"),
        F.expr(
            "n * (s11 * t2 - t1 * s12)"
            " - s1 * (s1 * t2 - t1 * s2)"
            " + t0 * (s1 * s12 - s11 * s2)"
        ).alias("d2"),
    )

    def ppm(d: str) -> F.Column:
        return (
            F.expr(
                f"(CASE WHEN {d} < 0 THEN -1 ELSE 1 END)"
                f" * ((2000000 * 2 * abs({d}) + det) DIV (2 * det))"
            )
            .cast("bigint")
        )

    return solved.select(
        F.col("n").cast("bigint").alias("n_rows"),
        ppm("d0").alias("beta0_ppm"),
        ppm("d1").alias("beta1_ppm"),
        ppm("d2").alias("beta2_ppm"),
    )


# ---------------------------------------------------------------------------
# Naive Bayes token model (Laplace-smoothed multinomial trainer)
# ---------------------------------------------------------------------------

NB_PROBE_TOKENS = ("hash", "join", "vector", "stream")


@register(
    "naive_bayes_token_model",
    category="ml",
    doc="Multinomial Naive Bayes trainer over (language -> token) with "
    "Laplace smoothing: class priors and per-token log-likelihoods "
    "ln((count+1)/(class_tokens+V)) for a fixed probe vocabulary, V = the "
    "exact global distinct-token count. All counts come from two "
    "map-side-combinable aggregates; each ln is rounded in isolation "
    "(9dp — the psi/entropy discipline) so hashed values are cross-"
    "engine exact. The training pass of the classic text classifier, "
    "shaped to scale: no per-document state, no vocabulary broadcast.",
    oracle=f"""
WITH toks AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
),
v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab FROM toks),
cls AS (
  SELECT lang, COUNT(*) AS class_tokens FROM toks GROUP BY lang
),
docs AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
dt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM docs),
cnt AS (
  SELECT lang, t AS token, COUNT(*) AS cnt
  FROM toks WHERE t IN ({", ".join(repr(t) for t in NB_PROBE_TOKENS)})
  GROUP BY 1, 2
),
grid AS (
  SELECT c.lang, p.token, COALESCE(cnt.cnt, 0) AS cnt, c.class_tokens
  FROM cls c
  CROSS JOIN (SELECT unnest(ARRAY[{", ".join(repr(t) for t in NB_PROBE_TOKENS)}]) AS token) p
  LEFT JOIN cnt ON cnt.lang = c.lang AND cnt.token = p.token
)
SELECT g.lang, g.token,
       CAST(g.cnt AS BIGINT) AS cnt,
       CAST(g.class_tokens AS BIGINT) AS class_tokens,
       round(ln(CAST(g.cnt + 1 AS DOUBLE) / (g.class_tokens + v.vocab)), 9)
         AS token_ll,
       round(ln(CAST(d.n_docs AS DOUBLE) / dt.n_total), 9) AS prior_ll
FROM grid g
JOIN docs d ON d.lang = g.lang
CROSS JOIN v CROSS JOIN dt
""",
)
def naive_bayes_token_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens(F.col("text"))).alias("t")
    )
    v = toks.agg(F.countDistinct("t").cast("bigint").alias("vocab"))
    cls = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("class_tokens"))
    docs = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    dt = docs.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    cnt = (
        toks.where(F.col("t").isin(*NB_PROBE_TOKENS))
        .groupBy("lang", F.col("t").alias("token"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe = toks.sparkSession.createDataFrame(
        [(t,) for t in NB_PROBE_TOKENS], "token string"
    )
    grid = (
        cls.crossJoin(F.broadcast(probe))
        .join(cnt, ["lang", "token"], "left")
        .select(
            "lang",
            "token",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt"),
            "class_tokens",
        )
    )
    return (
        grid.join(F.broadcast(docs), "lang")
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(dt))
        .select(
            "lang",
            "token",
            "cnt",
            F.col("class_tokens").cast("bigint").alias("class_tokens"),
            F.round(
                F.log(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("class_tokens") + F.col("vocab"))
                ),
                9,
            ).alias("token_ll"),
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("n_total")), 9
            ).alias("prior_ll"),
        )
    )


# ---------------------------------------------------------------------------
# Precision/recall curve from one histogram pass
# ---------------------------------------------------------------------------

PR_BINS = 10


@register(
    "pr_curve_points",
    category="ml",
    doc=f"Precision/recall curve at the {PR_BINS - 1} interior histogram-"
    "bin thresholds ('predict positive when the score bin ≥ t'): ONE "
    f"{PR_BINS}-bin map-side-combinable aggregate over the fact scan, "
    "then every curve point unfolds from suffix sums of the tiny bin "
    "relation — the whole PR sweep costs exactly one pass regardless of "
    "corpus size (the same histogram trick as the decision stump). "
    "Precision/recall are exact half-up ppm.",
    oracle=f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
mm AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM src),
hist AS (
  SELECT CAST((cents - lo) * {PR_BINS} // (hi - lo + 1) AS BIGINT) AS bin,
         CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(pos) AS HUGEINT) AS p
  FROM src CROSS JOIN mm GROUP BY 1
),
tot AS (SELECT SUM(n) AS nt, SUM(p) AS pt FROM hist),
pts AS (
  SELECT t.t AS threshold_bin,
         CAST(SUM(h.p) AS HUGEINT) AS tp,
         CAST(SUM(h.n - h.p) AS HUGEINT) AS fp
  FROM (SELECT unnest(range(1, {PR_BINS})) AS t) t
  JOIN hist h ON h.bin >= t.t
  GROUP BY t.t
)
SELECT CAST(threshold_bin AS BIGINT) AS threshold_bin,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST((2000000 * tp + (tp + fp)) // (2 * (tp + fp)) AS BIGINT)
         AS precision_ppm,
       CAST((2000000 * tp + pt) // (2 * pt) AS BIGINT) AS recall_ppm
FROM pts CROSS JOIN tot
WHERE tp + fp > 0
""",
)
def pr_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    mm = src.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    hist = (
        src.crossJoin(F.broadcast(mm))
        .groupBy(
            F.expr(f"(cents - lo) * {PR_BINS} DIV (hi - lo + 1)").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("pos").cast("decimal(38,0)").alias("p"),
        )
    )
    tot = hist.agg(
        F.sum("n").cast("decimal(38,0)").alias("nt"),
        F.sum("p").cast("decimal(38,0)").alias("pt"),
    )
    thresholds = spark.range(1, PR_BINS).select(
        F.col("id").alias("threshold_bin")
    )
    pts = (
        F.broadcast(thresholds)
        .join(hist, F.col("bin") >= F.col("threshold_bin"))
        .groupBy("threshold_bin")
        .agg(
            F.sum("p").cast("decimal(38,0)").alias("tp"),
            F.sum(F.col("n") - F.col("p")).cast("decimal(38,0)").alias("fp"),
        )
        .where(F.expr("tp + fp > 0"))
    )
    return pts.crossJoin(F.broadcast(tot)).select(
        F.col("threshold_bin").cast("bigint").alias("threshold_bin"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.expr("(2000000 * tp + (tp + fp)) DIV (2 * (tp + fp))")
        .cast("bigint")
        .alias("precision_ppm"),
        F.expr("(2000000 * tp + pt) DIV (2 * pt)")
        .cast("bigint")
        .alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# Chi-square feature selection
# ---------------------------------------------------------------------------

CHI2_MIN_DF = 20
CHI2_TOPK = 25


@register(
    "chi2_feature_selection",
    category="ml",
    doc="Chi-square feature selection of document tokens against the "
    "binary class 'lang = en' (document-level presence contingency "
    "tables): chi2 = N·(ad-bc)²/((a+b)(c+d)(a+c)(b+d)) from exact "
    f"integer counts, emitted as half-up micro units; tokens at df ≥ "
    f"{CHI2_MIN_DF}, top {CHI2_TOPK} by (chi2 DESC, token). One distinct "
    "explode + one groupBy builds every table; the ranking heap runs on "
    "the (bounded) qualifying-vocab relation. The feature-selection pass "
    "in front of the Naive Bayes trainer. DECIMAL(38,0) holds the "
    "worst-case N^5 micro numerator to ~3e6 docs; past that, rescale "
    "counts to a per-mille grid before scoring.",
    oracle=f"""
WITH d AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(y) AS HUGEINT) AS npos FROM d),
pres AS (
  SELECT t AS token, CAST(COUNT(*) AS HUGEINT) AS df, CAST(SUM(y) AS HUGEINT) AS a
  FROM (SELECT DISTINCT doc_id, y, unnest(ws) AS t FROM d)
  GROUP BY t HAVING COUNT(*) >= {CHI2_MIN_DF}
),
cells AS (
  SELECT token, df, a,
         df - a AS b, npos - a AS c, n - npos - (df - a) AS dd, n
  FROM pres CROSS JOIN tot
),
scored AS (
  SELECT token, CAST(df AS BIGINT) AS df,
         CAST((2 * n * (a * dd - b * c) * (a * dd - b * c) * 1000000
               + ((a + b) * (c + dd) * (a + c) * (b + dd)))
              // (2 * ((a + b) * (c + dd) * (a + c) * (b + dd))) AS BIGINT)
           AS chi2_micro
  FROM cells
  WHERE (a + b) * (c + dd) * (a + c) * (b + dd) > 0
)
SELECT token, df, chi2_micro
FROM scored
ORDER BY chi2_micro DESC, token
LIMIT {CHI2_TOPK}
""",
)
def chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("y"),
        tokens(F.col("text")).alias("ws"),
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("npos"),
    )
    pres = (
        d.select("doc_id", "y", F.explode("ws").alias("token"))
        .distinct()
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("df"),
            F.sum("y").cast("decimal(38,0)").alias("a"),
        )
        .where(F.col("df") >= CHI2_MIN_DF)
    )
    cells = pres.crossJoin(F.broadcast(tot)).select(
        "token",
        "df",
        "a",
        (F.col("df") - F.col("a")).alias("b"),
        (F.col("npos") - F.col("a")).alias("c"),
        (F.col("n") - F.col("npos") - (F.col("df") - F.col("a"))).alias("dd"),
        "n",
    )
    scored = cells.where(
        F.expr("(a + b) * (c + dd) * (a + c) * (b + dd) > 0")
    ).select(
        "token",
        F.col("df").cast("bigint").alias("df"),
        F.expr(
            "(2 * n * (a * dd - b * c) * (a * dd - b * c) * 1000000"
            " + ((a + b) * (c + dd) * (a + c) * (b + dd)))"
            " DIV (2 * ((a + b) * (c + dd) * (a + c) * (b + dd)))"
        )
        .cast("bigint")
        .alias("chi2_micro"),
    )
    return scored.orderBy(F.desc("chi2_micro"), "token").limit(CHI2_TOPK)


# ---------------------------------------------------------------------------
# Group-aware k-fold assignment
# ---------------------------------------------------------------------------

KFOLD_K = 5


@register(
    "group_kfold_assignment",
    category="ml",
    doc=f"Group-aware {KFOLD_K}-fold cross-validation assignment: every "
    "order lands in the fold of its CUSTOMER (md5(custkey) % k), so no "
    "customer's rows ever straddle a train/validation boundary — the "
    "leakage rule GroupKFold enforces. Pure map-side arithmetic (no "
    "shuffle for the assignment itself); the audit aggregates fold "
    "sizes, distinct customers and revenue per fold.",
    oracle=f"""
SELECT CAST(('0x' || substr(md5('fold:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
            % {KFOLD_K} AS BIGINT) AS fold,
       COUNT(*) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
GROUP BY 1
""",
)
def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    fold = (
        hash_hex(
            F.concat(F.lit("fold:"), F.col("o_custkey").cast("string")), 15
        )
        % KFOLD_K
    ).cast("bigint")
    return (
        table(spark, sf_dir, "orders")
        .groupBy(fold.alias("fold"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Cohen's kappa: heuristic classifier vs gold labels
# ---------------------------------------------------------------------------


def _cin(lang: str) -> str:
    from wheels_in_motion_analytics_spark.functions.text import LANG_MARKERS

    inlist = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(toks, t -> t IN ({inlist})))"


@register(
    "cohens_kappa_langid",
    category="ml",
    doc="Inter-rater agreement between the marker-voting language-ID "
    "heuristic (lang_id_heuristic's exact predictor) and the gold lang "
    "column — Cohen's kappa corrects raw accuracy for chance agreement: "
    "kappa = (N·Σdiag − Σ row_i·col_i) / (N² − Σ row_i·col_i), computed "
    "entirely from the k² confusion cells of ONE groupBy and emitted as "
    "sign-corrected half-up ppm. The label-quality audit an annotation "
    "pipeline runs before trusting a weak labeler.",
    oracle=f"""
WITH t AS (
  SELECT lang AS gold,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
p AS (
  SELECT gold,
         CASE WHEN {_cin("en")} = 0 AND {_cin("es")} = 0 AND {_cin("fr")} = 0 THEN 'und'
              WHEN {_cin("en")} >= {_cin("es")} AND {_cin("en")} >= {_cin("fr")} THEN 'en'
              WHEN {_cin("es")} >= {_cin("fr")} THEN 'es'
              ELSE 'fr' END AS pred
  FROM t
),
cells AS (SELECT pred, gold, CAST(COUNT(*) AS HUGEINT) AS c FROM p GROUP BY 1, 2),
tot AS (
  SELECT CAST(SUM(c) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN pred = gold THEN c ELSE 0 END) AS HUGEINT) AS diag
  FROM cells
),
marg AS (
  SELECT CAST(SUM(pr.rc * gc.cc) AS HUGEINT) AS chance
  FROM (SELECT pred AS lbl, SUM(c) AS rc FROM cells GROUP BY pred) pr
  JOIN (SELECT gold AS lbl, SUM(c) AS cc FROM cells GROUP BY gold) gc
    ON pr.lbl = gc.lbl
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(diag AS BIGINT) AS n_agree,
       CAST((2000000 * diag + n) // (2 * n) AS BIGINT) AS accuracy_ppm,
       CAST((CASE WHEN n * diag - chance < 0 THEN -1 ELSE 1 END)
            * ((2000000 * abs(n * diag - chance) + (n * n - chance))
               // (2 * (n * n - chance))) AS BIGINT) AS kappa_ppm
FROM tot CROSS JOIN marg
""",
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import (
        LANG_MARKERS,
        count_in_set,
    )

    # materialize the token array AND the three marker counts as columns
    # before the argmax expression — inline token arrays in filter lambdas
    # re-evaluate per element (NOTES decision #5), and the when-chain
    # references each count several times
    staged = (
        table(spark, sf_dir, "documents")
        .select(F.col("lang").alias("gold"), tokens(F.col("text")).alias("toks"))
        .select(
            "gold",
            count_in_set(F.col("toks"), LANG_MARKERS["en"]).alias("c_en"),
            count_in_set(F.col("toks"), LANG_MARKERS["es"]).alias("c_es"),
            count_in_set(F.col("toks"), LANG_MARKERS["fr"]).alias("c_fr"),
        )
    )
    c_en, c_es, c_fr = F.col("c_en"), F.col("c_es"), F.col("c_fr")
    pred = (
        F.when((c_en == 0) & (c_es == 0) & (c_fr == 0), "und")
        .when((c_en >= c_es) & (c_en >= c_fr), "en")
        .when(c_es >= c_fr, "es")
        .otherwise("fr")
    )
    cells = (
        staged.select(pred.alias("pred"), "gold")
        .groupBy("pred", "gold")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
        .localCheckpoint()  # k² cells feed totals AND both marginals
    )
    tot = cells.agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.sum(F.when(F.col("pred") == F.col("gold"), F.col("c")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("diag"),
    )
    pr = cells.groupBy(F.col("pred").alias("lbl")).agg(F.sum("c").alias("rc"))
    gc = cells.groupBy(F.col("gold").alias("lbl")).agg(F.sum("c").alias("cc"))
    marg = (
        pr.join(gc, "lbl")
        .agg(
            F.sum(F.col("rc") * F.col("cc"))
            .cast("decimal(38,0)")
            .alias("chance")
        )
    )
    return tot.crossJoin(F.broadcast(marg)).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("diag").cast("bigint").alias("n_agree"),
        F.expr("(2000000 * diag + n) DIV (2 * n)")
        .cast("bigint")
        .alias("accuracy_ppm"),
        F.expr(
            "(CASE WHEN n * diag - chance < 0 THEN -1 ELSE 1 END)"
            " * ((2000000 * abs(n * diag - chance) + (n * n - chance))"
            " DIV (2 * (n * n - chance)))"
        )
        .cast("bigint")
        .alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# Fairness audit — selection rates + four-fifths (disparate impact) rule
# ---------------------------------------------------------------------------

FAIR_MIN_CHARS = 500  # the audited selector: "long-document" gate


@register(
    "fairness_selection_rate_audit",
    category="ml",
    doc=f"Group-fairness audit of a documented selector (keep documents "
    f"with n_chars >= {FAIR_MIN_CHARS}) across language groups: per-group "
    "selection rate, signed parity gap vs the overall rate, disparate-"
    "impact ratio vs the highest-rate group, and the EEOC four-fifths-rule "
    "verdict — the pre-training data-mix fairness numbers. ONE groupBy "
    "scan + a broadcast 1-row totals/max join. Every metric is an exact "
    "cross-multiplied half-up integer (rate_ppm from raw counts; the DI "
    "ratio avoids dividing two rounded rates: ratio = sel_g * n_max * 1e6 "
    "/ (n_g * sel_max) on raw counts) — no float quotient is hashed.",
    oracle=f"""
WITH g AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_chars >= {FAIR_MIN_CHARS} THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
  FROM documents GROUP BY lang
),
t AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot, CAST(SUM(n_sel) AS BIGINT) AS sel_tot
  FROM g
),
mx AS (
  SELECT n_docs AS n_max, n_sel AS sel_max FROM g
  ORDER BY CAST(n_sel AS HUGEINT) * 1000000 // n_docs DESC, lang ASC LIMIT 1
)
SELECT lang, n_docs, n_sel,
       CAST((2 * CAST(n_sel AS HUGEINT) * 1000000 + n_docs) // (2 * CAST(n_docs AS HUGEINT)) AS BIGINT) AS rate_ppm,
       CAST((2 * CAST(n_sel AS HUGEINT) * 1000000 + n_docs) // (2 * CAST(n_docs AS HUGEINT))
            - (2 * CAST(sel_tot AS HUGEINT) * 1000000 + n_tot) // (2 * CAST(n_tot AS HUGEINT)) AS BIGINT) AS parity_gap_ppm,
       CAST(CASE WHEN sel_max = 0 THEN NULL
            ELSE (2 * CAST(n_sel AS HUGEINT) * n_max * 1000000 + CAST(n_docs AS HUGEINT) * sel_max)
                 // (2 * CAST(n_docs AS HUGEINT) * sel_max) END AS BIGINT) AS di_ratio_ppm,
       CASE WHEN sel_max = 0 THEN NULL
            ELSE (2 * CAST(n_sel AS HUGEINT) * n_max * 1000000 + CAST(n_docs AS HUGEINT) * sel_max)
                 // (2 * CAST(n_docs AS HUGEINT) * sel_max) >= 800000 END AS passes_four_fifths
FROM g CROSS JOIN t CROSS JOIN mx
""",
)
def fairness_selection_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    g = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((c("n_chars") >= FAIR_MIN_CHARS).cast("bigint"))
            .cast("bigint")
            .alias("n_sel"),
        )
        .localCheckpoint()  # totals + max-rate group + output rows share it
    )
    t = g.agg(
        F.sum("n_docs").cast("bigint").alias("n_tot"),
        F.sum("n_sel").cast("bigint").alias("sel_tot"),
    )
    # highest-rate group by cross-multiplied comparison (no float ranking):
    # floor(sel*1e6/n) ranks identically to the oracle's HUGEINT division
    mx = (
        g.select(
            c("n_docs").alias("n_max"),
            c("n_sel").alias("sel_max"),
            F.expr("CAST(n_sel * 1000000 DIV n_docs AS BIGINT)").alias("__r"),
            "lang",
        )
        .orderBy(F.desc("__r"), F.asc("lang"))
        .limit(1)
        .drop("__r", "lang")
    )
    rate = "CAST((2 * {s} * 1000000 + {n}) DIV (2 * {n}) AS BIGINT)"
    di = (
        "CASE WHEN sel_max = 0 THEN CAST(NULL AS BIGINT) ELSE "
        "CAST((2 * CAST(n_sel AS DECIMAL(38,0)) * n_max * 1000000"
        " + CAST(n_docs AS DECIMAL(38,0)) * sel_max)"
        " DIV (2 * CAST(n_docs AS DECIMAL(38,0)) * sel_max) AS BIGINT) END"
    )
    return (
        g.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "n_docs",
            "n_sel",
            F.expr(rate.format(s="n_sel", n="n_docs")).alias("rate_ppm"),
            (
                F.expr(rate.format(s="n_sel", n="n_docs"))
                - F.expr(rate.format(s="sel_tot", n="n_tot"))
            ).cast("bigint").alias("parity_gap_ppm"),
            F.expr(di).alias("di_ratio_ppm"),
            (F.expr(di) >= 800000).alias("passes_four_fifths"),
        )
    )


# ---------------------------------------------------------------------------
# Two-round gradient-boosted stumps (squared loss) — the GBDT training loop
# ---------------------------------------------------------------------------


def _gbdt_oracle() -> str:
    return """
WITH src AS (
  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * 1000 AS y_milli,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
  FROM lineitem
),
f0 AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         (2 * CAST(SUM(y_milli) AS HUGEINT) + COUNT(*)) // (2 * CAST(COUNT(*) AS HUGEINT)) AS f0_milli
  FROM src
),
r1 AS (SELECT q, d, y_milli - f0_milli AS r FROM src CROSS JOIN f0),
h1 AS (
  SELECT q, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(r) AS HUGEINT) AS s
  FROM r1 GROUP BY q
),
c1 AS (
  SELECT q,
         SUM(n) OVER w AS nl, SUM(s) OVER w AS sl,
         SUM(n) OVER () AS nt, SUM(s) OVER () AS st
  FROM h1 WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s1 AS (
  SELECT q AS split, nl, sl, nt - nl AS nr, st - sl AS sr,
         (sl*sl*(nt-nl) + (st-sl)*(st-sl)*nl) // (nl*(nt-nl)*nt) AS score
  FROM c1 WHERE nl > 0 AND nt - nl > 0
),
b1 AS MATERIALIZED (SELECT * FROM s1 ORDER BY score DESC, split ASC LIMIT 1),
g1 AS MATERIALIZED (
  SELECT split,
         CASE WHEN sl < 0 THEN -((2*(-sl) + nl) // (2*nl)) ELSE (2*sl + nl) // (2*nl) END AS gl,
         CASE WHEN sr < 0 THEN -((2*(-sr) + nr) // (2*nr)) ELSE (2*sr + nr) // (2*nr) END AS gr,
         nl, nr, score
  FROM b1
),
r2 AS (
  SELECT d, r - CASE WHEN q <= g1.split THEN g1.gl ELSE g1.gr END AS r
  FROM r1 CROSS JOIN g1
),
h2 AS (
  SELECT d, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(r) AS HUGEINT) AS s
  FROM r2 GROUP BY d
),
c2 AS (
  SELECT d,
         SUM(n) OVER w AS nl, SUM(s) OVER w AS sl,
         SUM(n) OVER () AS nt, SUM(s) OVER () AS st
  FROM h2 WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s2 AS (
  SELECT d AS split, nl, sl, nt - nl AS nr, st - sl AS sr,
         (sl*sl*(nt-nl) + (st-sl)*(st-sl)*nl) // (nl*(nt-nl)*nt) AS score
  FROM c2 WHERE nl > 0 AND nt - nl > 0
),
b2 AS MATERIALIZED (SELECT * FROM s2 ORDER BY score DESC, split ASC LIMIT 1),
g2 AS (
  SELECT split,
         CASE WHEN sl < 0 THEN -((2*(-sl) + nl) // (2*nl)) ELSE (2*sl + nl) // (2*nl) END AS gl,
         CASE WHEN sr < 0 THEN -((2*(-sr) + nr) // (2*nr)) ELSE (2*sr + nr) // (2*nr) END AS gr,
         nl, nr, score
  FROM b2
)
SELECT CAST(1 AS BIGINT) AS round, 'quantity' AS feature,
       CAST(split AS BIGINT) AS split_at,
       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       CAST(gl AS BIGINT) AS leaf_left_milli, CAST(gr AS BIGINT) AS leaf_right_milli,
       CAST(score AS BIGINT) AS score_per_row
FROM g1
UNION ALL
SELECT CAST(2 AS BIGINT) AS round, 'discount' AS feature,
       CAST(split AS BIGINT) AS split_at,
       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       CAST(gl AS BIGINT) AS leaf_left_milli, CAST(gr AS BIGINT) AS leaf_right_milli,
       CAST(score AS BIGINT) AS score_per_row
FROM g2
"""


@register(
    "gbdt_two_round_regression",
    category="ml",
    doc="Two boosting rounds of regression stumps under squared loss — the "
    "LightGBM training LOOP (decision_stump_best_split is the single-split "
    "primitive): F0 = global mean, round 1 splits on quantity by exact "
    "variance-reduction argmax over residuals, leaf values = mean residual "
    "(half-up milli-cents), residuals UPDATE, round 2 splits the boosted "
    "residuals on discount. SCALE SHAPE: each round is ONE map-side-"
    "combinable (n, Σr) aggregate over a BOUNDED feature domain (~50 "
    "quantity / 11 discount values) + a bounded-relation argmax — the "
    "identical shape LightGBM distributes; residual update is a broadcast "
    "1-row join, never a shuffle. EXACTNESS: all residuals on the integer "
    "milli-cents grid; split score = (SL²·nR + SR²·nL) DIV (nL·nR) in "
    "DECIMAL(38,0) normalized per row (DIV nt — same constant for every "
    "split, so the argmax is unchanged and the emitted gain is scale-"
    "invariant BIGINT), argmax tiebreak on split value; leaf means are "
    "signed half-up integer divisions. Fits ~sf30 before the score "
    "product leaves DECIMAL(38,0).",
    oracle=None,  # assembled below
)
def gbdt_two_round_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    src = table(spark, sf_dir, "lineitem").select(
        (F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint") * 1000).alias(
            "y_milli"
        ),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("d"),
    )
    f0 = src.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.expr(
            "CAST((2 * CAST(SUM(y_milli) AS DECIMAL(38,0)) + COUNT(*))"
            " DIV (2 * COUNT(*)) AS DECIMAL(38,0))"
        ).alias("f0_milli"),
    )
    r1 = (
        src.crossJoin(F.broadcast(f0))
        .select("q", "d", (c("y_milli") - c("f0_milli")).cast("decimal(38,0)").alias("r"))
        # two histogram passes (round 1 on q, round 2 on d) read this
        .localCheckpoint()
    )

    def best_split(rel: DataFrame, feat: str) -> DataFrame:
        h = rel.groupBy(feat).agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("r").cast("decimal(38,0)").alias("s"),
        )
        # bounded feature domain (≤~50 rows) — unpartitioned windows are
        # bin-bounded, the stump exemption
        w = Window.orderBy(feat).rowsBetween(Window.unboundedPreceding, 0)
        wall = Window.orderBy(feat).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = h.select(
            c(feat).alias("split"),
            F.sum("n").over(w).cast("decimal(38,0)").alias("nl"),
            F.sum("s").over(w).cast("decimal(38,0)").alias("sl"),
            F.sum("n").over(wall).cast("decimal(38,0)").alias("nt"),
            F.sum("s").over(wall).cast("decimal(38,0)").alias("st"),
        )
        scored = cum.where((c("nl") > 0) & (c("nt") - c("nl") > 0)).select(
            "split",
            "nl",
            "sl",
            (c("nt") - c("nl")).alias("nr"),
            (c("st") - c("sl")).alias("sr"),
            # per-row gain: normalizing by nt keeps the argmax ordering
            # (same constant for every split) AND the value scale-INVARIANT
            # (~(avg residual)^2, never row-count-scaled) — Spark's DIV
            # returns BIGINT and silently wraps past 2^63, so the quotient
            # itself must fit a long at any SF (found the hard way: the
            # unnormalized score overflowed at sf0.01)
            F.expr(
                "CAST((sl*sl*(nt-nl) + (st-sl)*(st-sl)*nl)"
                " DIV (nl*(nt-nl)*nt) AS DECIMAL(38,0))"
            ).alias("score"),
        )
        gamma = (
            "CASE WHEN {s} < 0 THEN -CAST((2*(-{s}) + {n}) DIV (2*{n}) AS DECIMAL(38,0))"
            " ELSE CAST((2*{s} + {n}) DIV (2*{n}) AS DECIMAL(38,0)) END"
        )
        return (
            scored.orderBy(F.desc("score"), F.asc("split"))
            .limit(1)
            .select(
                "split",
                "nl",
                "nr",
                F.expr(gamma.format(s="sl", n="nl")).alias("gl"),
                F.expr(gamma.format(s="sr", n="nr")).alias("gr"),
                "score",
            )
        )

    b1 = best_split(r1, "q").localCheckpoint()  # residual update + output reuse it
    r2 = r1.crossJoin(F.broadcast(b1.select(
        c("split").alias("t1"), c("gl").alias("g1l"), c("gr").alias("g1r")
    ))).select(
        "d",
        (
            c("r")
            - F.when(c("q") <= c("t1"), c("g1l")).otherwise(c("g1r"))
        ).cast("decimal(38,0)").alias("r"),
    )
    b2 = best_split(r2, "d")

    def emit(b: DataFrame, rnd: int, feat: str) -> DataFrame:
        return b.select(
            F.lit(rnd).cast("bigint").alias("round"),
            F.lit(feat).alias("feature"),
            c("split").cast("bigint").alias("split_at"),
            c("nl").cast("bigint").alias("n_left"),
            c("nr").cast("bigint").alias("n_right"),
            c("gl").cast("bigint").alias("leaf_left_milli"),
            c("gr").cast("bigint").alias("leaf_right_milli"),
            c("score").cast("bigint").alias("score_per_row"),
        )

    return emit(b1, 1, "quantity").unionByName(emit(b2, 2, "discount"))


REGISTRY["gbdt_two_round_regression"].oracle = _gbdt_oracle()


# ---------------------------------------------------------------------------
# Split conformal prediction — distribution-free interval calibration
# ---------------------------------------------------------------------------

CONF_ALPHA_PCT = 10  # target 90% coverage


@register(
    "conformal_interval_calibration",
    category="ml",
    doc="Split conformal prediction: a deterministic md5 half of orders "
    "calibrates (model = per-priority mean price trained on the "
    "calibration half only), the nonconformity quantile q = the "
    f"ceil((n+1)*{100 - CONF_ALPHA_PCT}/100)-th smallest |residual| — an "
    "EXACT order statistic selected by distributed radix selection "
    "(operators/windows.py:select_ranks, radix histogram narrowing, "
    "never a global sort) — and the held-out half audits empirical "
    "coverage of ŷ±q. The distribution-free uncertainty method modern "
    "eval stacks use. All integers: cents grid, floor group means, "
    "half-up coverage ppm, audited coverage verdict (≥88% at the 90% "
    "target — the finite-sample guarantee keeps slack).",
    oracle=f"""
WITH o AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         ('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 AS is_cal
  FROM orders
),
model AS (
  SELECT prio, CAST(SUM(cents) AS HUGEINT) // COUNT(*) AS yhat
  FROM o WHERE is_cal GROUP BY prio
),
resid AS (
  SELECT o.k, o.is_cal, abs(o.cents - CAST(m.yhat AS BIGINT)) AS r
  FROM o JOIN model m USING (prio)
),
cal AS (SELECT r FROM resid WHERE is_cal),
nq AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
         least(CAST(ceil((COUNT(*) + 1) * {100 - CONF_ALPHA_PCT} / 100.0) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)) AS q_idx
  FROM cal
),
q AS (
  SELECT n_cal, q_idx,
         (SELECT r FROM cal ORDER BY r LIMIT 1 OFFSET (SELECT q_idx - 1 FROM nq)) AS q_cents
  FROM nq
),
cov AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN resid.r <= q.q_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM resid CROSS JOIN q WHERE NOT is_cal
)
SELECT q.n_cal, q.q_idx, CAST(q.q_cents AS BIGINT) AS q_cents,
       cov.n_test, cov.n_covered,
       CAST((2 * CAST(n_covered AS HUGEINT) * 1000000 + n_test)
            // (2 * CAST(n_test AS HUGEINT)) AS BIGINT) AS coverage_ppm,
       (2 * CAST(n_covered AS HUGEINT) * 1000000 + n_test)
            // (2 * CAST(n_test AS HUGEINT)) >= 880000 AS coverage_ok
FROM q CROSS JOIN cov
""",
)
def conformal_interval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex
    from wheels_in_motion_analytics_spark.operators.windows import select_ranks

    c = F.col
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (
            hash_hex(F.concat(F.lit("cal:"), F.col("o_orderkey").cast("string"))) % 2
            == 0
        ).alias("is_cal"),
    )
    model = (
        o.where("is_cal")
        .groupBy("prio")
        .agg(
            F.expr("CAST(CAST(SUM(cents) AS DECIMAL(38,0)) DIV COUNT(*) AS BIGINT)").alias(
                "yhat"
            )
        )
    )
    resid = (
        o.join(F.broadcast(model), "prio")
        .select("k", "is_cal", F.abs(c("cents") - c("yhat")).alias("r"))
        # selection (multi-pass) + the coverage agg both read this
        .localCheckpoint()
    )
    cal = resid.where("is_cal")
    keep = 100 - CONF_ALPHA_PCT

    def q_rank(n: int) -> int:
        return min(-(-(n + 1) * keep // 100), n)  # ceil, capped at n

    vals, n_cal = select_ranks(cal, "r", lambda n: [q_rank(n)])[None]
    [(q_idx, q_cents)] = vals.items()
    cov = resid.where(~c("is_cal")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum((c("r") <= q_cents).cast("bigint")).cast("bigint").alias("n_covered"),
    )
    ppm = "CAST((2 * CAST(n_covered AS DECIMAL(38,0)) * 1000000 + n_test) DIV (2 * n_test) AS BIGINT)"
    return cov.select(
        F.lit(n_cal).cast("bigint").alias("n_cal"),
        F.lit(q_idx).cast("bigint").alias("q_idx"),
        F.lit(q_cents).cast("bigint").alias("q_cents"),
        "n_test",
        "n_covered",
        F.expr(ppm).alias("coverage_ppm"),
        (F.expr(ppm) >= 880000).alias("coverage_ok"),
    )


# ---------------------------------------------------------------------------
# Feature-store training-set assembly — leakage-free point-in-time features
# ---------------------------------------------------------------------------


@register(
    "feature_store_training_set",
    category="ml",
    doc="Leakage-free training-set assembly (the feature-store join): for "
    "every order (the label event), customer features AS OF strictly "
    "BEFORE the order — lifetime prior order count, prior total spend, "
    "prior 90-day spend, days since previous order — computed with "
    "PRECEDING-only frames (rowsBetween(-inf,-1) / a 90-day RANGE frame "
    "ending 1 day back), so no feature can see its own label row or any "
    "later one (the leakage class point-in-time joins exist to prevent). "
    "SCALE SHAPE: ONE customer-key Exchange serves all four frames (the "
    "rolling_features_customer posture); same-day earlier orders are "
    "excluded by the day-grain range bound on BOTH engines identically. "
    "Label and money stay on the exact cents grid. Emits a bounded audit "
    "slice (customers ending in 7, first 3 orders each) rather than the "
    "full fact join.",
    oracle="""
WITH o AS (
  SELECT o_orderkey AS k, o_custkey AS cust, CAST(o_orderdate AS DATE) AS d,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_custkey % 10 = 7
),
f AS (
  SELECT k, cust, d, cents,
         CAST(COUNT(*) OVER w_prior AS BIGINT) AS prior_orders,
         CAST(COALESCE(SUM(cents) OVER w_prior, 0) AS BIGINT) AS prior_spend_cents,
         CAST(COALESCE(SUM(cents) OVER (
             PARTITION BY cust ORDER BY d
             RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND INTERVAL 1 DAY PRECEDING
         ), 0) AS BIGINT) AS spend_90d_cents,
         CAST(d - lag(d) OVER (PARTITION BY cust ORDER BY d, k) AS BIGINT)
           AS days_since_prev,
         row_number() OVER (PARTITION BY cust ORDER BY d, k) AS rn
  FROM o
  WINDOW w_prior AS (PARTITION BY cust ORDER BY d, k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT k AS order_key, cust, d AS label_date, cents AS label_cents,
       prior_orders, prior_spend_cents, spend_90d_cents, days_since_prev
FROM f WHERE rn <= 3
""",
)
def feature_store_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 10 == 7)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").alias("cust"),
            F.col("o_orderdate").cast("date").alias("d"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    w_prior = Window.partitionBy("cust").orderBy("d", "k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # day-grain RANGE frame ending one day back — the same-day exclusion is
    # part of the point-in-time contract (same-day events may not be
    # available at serving time)
    w_90d = (
        Window.partitionBy("cust")
        .orderBy(F.datediff(c("d"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-90, -1)
    )
    w_seq = Window.partitionBy("cust").orderBy("d", "k")
    f = o.select(
        "k",
        "cust",
        "d",
        "cents",
        F.count(F.lit(1)).over(w_prior).cast("bigint").alias("prior_orders"),
        F.coalesce(F.sum("cents").over(w_prior), F.lit(0))
        .cast("bigint")
        .alias("prior_spend_cents"),
        F.coalesce(F.sum("cents").over(w_90d), F.lit(0))
        .cast("bigint")
        .alias("spend_90d_cents"),
        F.datediff(c("d"), F.lag("d").over(w_seq)).cast("bigint").alias(
            "days_since_prev"
        ),
        F.row_number().over(w_seq).alias("rn"),
    )
    return f.where(c("rn") <= 3).select(
        c("k").alias("order_key"),
        "cust",
        c("d").alias("label_date"),
        c("cents").alias("label_cents"),
        "prior_orders",
        "prior_spend_cents",
        "spend_90d_cents",
        "days_since_prev",
    )


# ---------------------------------------------------------------------------
# Pinball (quantile) loss evaluation — the quantile-forecast scorer
# ---------------------------------------------------------------------------


@register(
    "pinball_loss_quantile_eval",
    category="ml",
    doc="Pinball-loss evaluation of quantile predictions: per-priority "
    "Q25/Q75 price quantiles are fitted on a deterministic md5 calibration "
    "half (type-1 quantiles — value at rank ceil(q*n) — picked from the "
    "DISTINCT-value cumulative relation, the mann-whitney trick: the "
    "per-group window runs over ~distinct prices, never rows), then "
    "scored on the held-out half with the pinball loss in exact 4-scaled "
    "integer cents (q=1/4: loss4 = 1*(y-yhat) above, 3*(yhat-y) below; "
    "q=3/4 mirrored). The standard quantile-regression / probabilistic-"
    "forecast metric. Emits per (priority, quantile): the fitted yhat, "
    "test count, total and half-up mean milli-loss — all integers.",
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         ('0x' || substr(md5('pin:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 AS is_cal
  FROM orders
),
dv AS (
  SELECT prio, cents, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM o WHERE is_cal GROUP BY prio, cents
),
cum AS (
  SELECT prio, cents,
         CAST(SUM(cnt) OVER (PARTITION BY prio ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
         CAST(SUM(cnt) OVER (PARTITION BY prio) AS BIGINT) AS n
  FROM dv
),
q AS (
  SELECT prio, 25 AS q_pct, MIN(CASE WHEN c >= (n + 3) // 4 THEN cents END) AS yhat
  FROM cum GROUP BY prio
  UNION ALL
  SELECT prio, 75 AS q_pct, MIN(CASE WHEN c >= (3 * n + 3) // 4 THEN cents END) AS yhat
  FROM cum GROUP BY prio
),
sc AS (
  SELECT q.prio, q.q_pct, q.yhat,
         CASE WHEN q.q_pct = 25 THEN
                CASE WHEN o.cents >= q.yhat THEN (o.cents - q.yhat)
                     ELSE 3 * (q.yhat - o.cents) END
              ELSE
                CASE WHEN o.cents >= q.yhat THEN 3 * (o.cents - q.yhat)
                     ELSE (q.yhat - o.cents) END
         END AS loss4
  FROM o JOIN q ON o.prio = q.prio
  WHERE NOT o.is_cal
)
SELECT prio, CAST(q_pct AS BIGINT) AS q_pct, CAST(yhat AS BIGINT) AS yhat_cents,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(loss4) AS BIGINT) AS total_loss4,
       CAST((2 * CAST(SUM(loss4) AS HUGEINT) * 1000 + COUNT(*))
            // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS mean_loss4_milli
FROM sc GROUP BY prio, q_pct, yhat
""",
)
def pinball_loss_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    c = F.col
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (
            hash_hex(F.concat(F.lit("pin:"), F.col("o_orderkey").cast("string"))) % 2
            == 0
        ).alias("is_cal"),
    ).localCheckpoint()  # quantile fit + held-out scoring share it
    dv = (
        o.where("is_cal")
        .groupBy("prio", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # per-group windows over the DISTINCT-value relation (bounded by the
    # price domain, never row count)
    wc = Window.partitionBy("prio").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("prio")
    cum = dv.select(
        "prio",
        "cents",
        F.sum("cnt").over(wc).cast("bigint").alias("c"),
        F.sum("cnt").over(wn).cast("bigint").alias("n"),
    )
    q25 = cum.groupBy("prio").agg(
        F.min(F.when(F.expr("c >= (n + 3) DIV 4"), c("cents"))).alias("yhat")
    ).withColumn("q_pct", F.lit(25))
    q75 = cum.groupBy("prio").agg(
        F.min(F.when(F.expr("c >= (3 * n + 3) DIV 4"), c("cents"))).alias("yhat")
    ).withColumn("q_pct", F.lit(75))
    q = q25.unionByName(q75)
    test = o.where(~c("is_cal"))
    sc = test.join(F.broadcast(q), "prio").select(
        "prio",
        "q_pct",
        "yhat",
        F.when(
            c("q_pct") == 25,
            F.when(c("cents") >= c("yhat"), c("cents") - c("yhat")).otherwise(
                3 * (c("yhat") - c("cents"))
            ),
        )
        .otherwise(
            F.when(c("cents") >= c("yhat"), 3 * (c("cents") - c("yhat"))).otherwise(
                c("yhat") - c("cents")
            )
        )
        .alias("loss4"),
    )
    return sc.groupBy("prio", "q_pct", "yhat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum("loss4").cast("bigint").alias("total_loss4"),
        F.expr(
            "CAST((2 * CAST(SUM(loss4) AS DECIMAL(38,0)) * 1000 + COUNT(*))"
            " DIV (2 * COUNT(*)) AS BIGINT)"
        ).alias("mean_loss4_milli"),
    ).select(
        "prio",
        c("q_pct").cast("bigint").alias("q_pct"),
        c("yhat").cast("bigint").alias("yhat_cents"),
        "n_test",
        "total_loss4",
        "mean_loss4_milli",
    )


# ---------------------------------------------------------------------------
# WoE / IV — weight-of-evidence binning and information value
# ---------------------------------------------------------------------------

WOE_BUCKETS = 10
WOE_LAPLACE = 1


@register(
    "woe_iv_feature_audit",
    category="ml",
    doc=f"Weight-of-Evidence / Information-Value audit of order price as a "
    "predictor of fulfilment (the credit-scoring feature screen): "
    f"{WOE_BUCKETS} fixed-width price bins, per-bin WoE = "
    "ln(share_good/share_bad) from exact integer counts (add-one "
    "smoothing), IV contribution = (share_good - share_bad) * WoE, total "
    "IV on every row. Same isolated-ln 6dp + DECIMAL-accumulate "
    "discipline as psi_price_drift (driver-green class). ONE conditional "
    "groupBy scan + a broadcast totals join; the predictive-power "
    "screening step before any scorecard/GBM training.",
    oracle=f"""
WITH b AS (
  SELECT least(CAST(floor(o_totalprice / 60000.0 * {WOE_BUCKETS}) AS INTEGER),
               {WOE_BUCKETS - 1}) AS bucket,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good
  FROM orders
),
counts AS (
  SELECT bucket,
         CAST(SUM(good) + {WOE_LAPLACE} AS BIGINT) AS ng,
         CAST(SUM(1 - good) + {WOE_LAPLACE} AS BIGINT) AS nb
  FROM b GROUP BY bucket
),
tot AS (SELECT SUM(ng) AS tg, SUM(nb) AS tb FROM counts),
terms AS (
  SELECT bucket, ng, nb,
         round(ln((CAST(ng AS DOUBLE) / tg) / (CAST(nb AS DOUBLE) / tb)), 6) AS woe,
         round((CAST(ng AS DOUBLE) / tg - CAST(nb AS DOUBLE) / tb)
               * round(ln((CAST(ng AS DOUBLE) / tg) / (CAST(nb AS DOUBLE) / tb)), 6),
               6) AS iv_term
  FROM counts CROSS JOIN tot
)
SELECT bucket, ng AS n_good, nb AS n_bad, woe, iv_term,
       CAST(SUM(CAST(iv_term AS DECIMAL(18,6))) OVER () AS DOUBLE) AS iv_total
FROM terms
""",
)
def woe_iv_feature_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    b = table(spark, sf_dir, "orders").select(
        F.least(
            F.floor(F.col("o_totalprice") / 60000.0 * WOE_BUCKETS).cast("int"),
            F.lit(WOE_BUCKETS - 1),
        ).alias("bucket"),
        (F.col("o_orderstatus") == "F").cast("int").alias("good"),
    )
    counts = b.groupBy("bucket").agg(
        (F.sum("good") + WOE_LAPLACE).cast("bigint").alias("ng"),
        (F.sum(1 - c("good")) + WOE_LAPLACE).cast("bigint").alias("nb"),
    )
    tot = counts.agg(F.sum("ng").alias("tg"), F.sum("nb").alias("tb"))
    pg = c("ng").cast("double") / c("tg")
    pb = c("nb").cast("double") / c("tb")
    woe = F.round(F.log(pg / pb), 6)
    iv_term = F.round((pg - pb) * woe, 6)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        c("ng").alias("n_good"),
        c("nb").alias("n_bad"),
        woe.alias("woe"),
        iv_term.alias("iv_term"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return terms.select(
        "*",
        F.sum(c("iv_term").cast("decimal(18,6)"))
        .over(wall)
        .cast("double")
        .alias("iv_total"),
    )


# ---------------------------------------------------------------------------
# Isotonic regression (PAV) — monotone recalibration of the reliability bins
# ---------------------------------------------------------------------------


@register(
    "isotonic_calibration_pav",
    category="ml",
    doc="Isotonic recalibration of the reliability diagram: the "
    "pool-adjacent-violators fit computed RELATIONALLY via the minimax "
    "identity fit_i = max_{j<=i} min_{k>=i} pooledRate(j..k) — no "
    "sequential pooling loop, so the whole fit is joins + aggregates "
    "over the BOUNDED bin relation (B=10: 55 intervals, <=1k triples, "
    "constant at any data scale; the only fact-scaled work is the same "
    "one groupBy as calibration_reliability_bins). Pooled rates are "
    "half-up ppm integers from exact prefix sums, so the minimax runs "
    "on a deterministic integer grid on any engine; the result is "
    "provably nondecreasing (max-min over nested sets) and equals PAV "
    "up to the ppm grid (property-tested against exact-fraction PAV).",
    oracle=f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
mm AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM src),
bins AS (
  SELECT CAST((cents - lo) * {CALIB_BINS} // (hi - lo + 1) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM src CROSS JOIN mm GROUP BY 1
),
pre AS (
  SELECT bin, n, n_pos,
         CAST(SUM(n) OVER (ORDER BY bin) AS HUGEINT) AS cn,
         CAST(SUM(n_pos) OVER (ORDER BY bin) AS HUGEINT) AS cp
  FROM bins
),
iv AS (
  SELECT a.bin AS j, b.bin AS k,
         CAST((2000000 * (b.cp - a.cp + a.n_pos) + (b.cn - a.cn + a.n))
              // (2 * (b.cn - a.cn + a.n)) AS BIGINT) AS rate_ppm
  FROM pre a JOIN pre b ON a.bin <= b.bin
),
mn AS (
  SELECT p.bin, iv.j, MIN(iv.rate_ppm) AS m
  FROM pre p JOIN iv ON iv.j <= p.bin AND iv.k >= p.bin
  GROUP BY p.bin, iv.j
),
fit AS (SELECT bin, CAST(MAX(m) AS BIGINT) AS iso_rate_ppm FROM mn GROUP BY bin)
SELECT b.bin, b.n, b.n_pos,
       CAST((2000000 * b.n_pos + b.n) // (2 * b.n) AS BIGINT) AS raw_rate_ppm,
       f.iso_rate_ppm
FROM bins b JOIN fit f USING (bin)
""",
)
def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    src = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    mm = src.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    bins = (
        src.crossJoin(F.broadcast(mm))
        .groupBy(
            F.expr(f"(cents - lo) * {CALIB_BINS} DIV (hi - lo + 1)").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
        .localCheckpoint()  # bounded B-row relation feeds prefix + output
    )
    # bounded-domain window (B = CALIB_BINS rows) — calendar-grain exemption
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cp"),
    )
    a = pre.select(
        c("bin").alias("j"),
        (c("cn") - c("n")).alias("cn0"),
        (c("cp") - c("n_pos")).alias("cp0"),
    )
    b = pre.select(c("bin").alias("k"), "cn", "cp")
    iv = (
        a.join(b, c("j") <= c("k"))
        .select(
            "j",
            "k",
            F.expr(
                "CAST((2000000 * CAST(cp - cp0 AS DECIMAL(38,0))"
                " + (cn - cn0)) DIV (2 * (cn - cn0)) AS BIGINT)"
            ).alias("rate_ppm"),
        )
    )
    mn = (
        pre.select("bin")
        .join(iv, (c("j") <= c("bin")) & (c("k") >= c("bin")))
        .groupBy("bin", "j")
        .agg(F.min("rate_ppm").alias("m"))
    )
    fit = mn.groupBy("bin").agg(F.max("m").cast("bigint").alias("iso_rate_ppm"))
    return bins.join(fit, "bin").select(
        "bin",
        "n",
        "n_pos",
        F.expr("CAST((2000000 * n_pos + n) DIV (2 * n) AS BIGINT)").alias(
            "raw_rate_ppm"
        ),
        "iso_rate_ppm",
    )


# ---------------------------------------------------------------------------
# Gains / lift deciles — the campaign-targeting evaluation table
# ---------------------------------------------------------------------------

LIFT_TILES = 10


@register(
    "lift_curve_deciles",
    category="ml",
    doc=f"Gains/lift table: rows scored by order total (desc), cut into "
    f"{LIFT_TILES} EXACT global deciles via the TWO-PHASE ntile "
    "(operators/windows.py — range-partitioned parallel sort, no "
    "single-task window), positives = F-status orders. Per decile: "
    "exact counts, half-up ppm positive rate, cumulative capture ppm "
    "(share of all positives caught down to this decile), and lift vs "
    "the base rate as the cross-multiplied half-up ppm "
    "(n_pos*N vs n*P — no float rates). The decile-grain cumulative "
    "window is 10 rows (bounded-domain exemption). The classic "
    "model-quality readout beside AUC/PR/NDCG.",
    oracle=f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
tiled AS (
  SELECT pos,
         ntile({LIFT_TILES}) OVER (ORDER BY cents DESC, o_orderkey) AS decile
  FROM src
),
d AS (
  SELECT decile, CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(pos) AS HUGEINT) AS n_pos
  FROM tiled GROUP BY decile
),
tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(n_pos) AS HUGEINT) AS pp FROM d),
cum AS (
  SELECT decile, n, n_pos,
         CAST(SUM(n_pos) OVER (ORDER BY decile) AS HUGEINT) AS cum_pos
  FROM d
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST((2000000 * n_pos + n) // (2 * n) AS BIGINT) AS pos_rate_ppm,
       CAST((2000000 * cum_pos + pp) // (2 * pp) AS BIGINT) AS cum_capture_ppm,
       CAST((2000000 * n_pos * nn + n * pp) // (2 * n * pp) AS BIGINT) AS lift_ppm
FROM cum CROSS JOIN tot
""",
)
def lift_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_ntile

    c = F.col
    src = table(spark, sf_dir, "orders").select(
        (-F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "neg_cents"
        ),
        "o_orderkey",
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    tiled = global_ntile(src, LIFT_TILES, ["neg_cents", "o_orderkey"], "decile")
    d = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("pos").cast("decimal(38,0)").alias("n_pos"),
    )
    tot = d.agg(
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("n_pos").cast("decimal(38,0)").alias("pp"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = d.select(
        "decile", "n", "n_pos", F.sum("n_pos").over(w).alias("cum_pos")
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        c("decile").cast("bigint").alias("decile"),
        c("n").cast("bigint").alias("n"),
        c("n_pos").cast("bigint").alias("n_pos"),
        F.expr("CAST((2000000 * n_pos + n) DIV (2 * n) AS BIGINT)").alias(
            "pos_rate_ppm"
        ),
        F.expr(
            "CAST((2000000 * cum_pos + pp) DIV (2 * pp) AS BIGINT)"
        ).alias("cum_capture_ppm"),
        F.expr(
            "CAST((2000000 * n_pos * nn + n * pp) DIV (2 * n * pp) AS BIGINT)"
        ).alias("lift_ppm"),
    )


# ---------------------------------------------------------------------------
# Quantile normalization — map one distribution onto a reference's quantiles
# ---------------------------------------------------------------------------


@register(
    "quantile_normalize_balances",
    category="ml",
    doc="Quantile normalization (the bioinformatics/feature-prep classic): "
    "supplier account balances are remapped onto the CUSTOMER balance "
    "distribution — rank r of m on the source side reads the reference "
    "value at index ((2r-1)*n) DIV (2m) + 1 (midpoint mapping, all "
    "positive integer arithmetic; a naive ceil form goes through a "
    "negative numerator whose DIV/floor semantics diverge across "
    "engines). Both rankings are EXACT global row_numbers from the "
    "two-phase range-partitioned sort (no single-task window at any "
    "scale), and the remap is one equi-join on the computed reference "
    "rank. Output preserves source ordering exactly (rank is monotone "
    "in value).",
    oracle="""
WITH s AS (
  SELECT s_suppkey AS k,
         CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT), s_suppkey) AS r
  FROM supplier
),
c AS (
  SELECT CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS ref_cents,
         row_number() OVER (ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT), c_custkey) AS rr
  FROM customer
),
mn AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM s),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c)
SELECT s.k AS s_suppkey,
       s.cents,
       CAST(s.r AS BIGINT) AS rank,
       c.ref_cents AS norm_cents
FROM s CROSS JOIN mn CROSS JOIN nn
JOIN c ON c.rr = ((2 * s.r - 1) * nn.n) // (2 * mn.m) + 1
""",
)
def quantile_normalize_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_row_number

    c = F.col
    s = table(spark, sf_dir, "supplier").select(
        c("s_suppkey").alias("k"),
        F.floor(c("s_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    ref = table(spark, sf_dir, "customer").select(
        c("c_custkey").alias("ck"),
        F.floor(c("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("ref_cents"),
    )
    sr = global_row_number(s, ["cents", "k"], "r")
    cr = global_row_number(ref, ["ref_cents", "ck"], "rr").localCheckpoint()
    m = sr.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    n = cr.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mapped = (
        sr.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(n))
        .withColumn("target", F.expr("((2 * r - 1) * n) DIV (2 * m) + 1"))
    )
    return mapped.join(cr, mapped.target == cr.rr).select(
        c("k").alias("s_suppkey"),
        "cents",
        c("r").cast("bigint").alias("rank"),
        c("ref_cents").alias("norm_cents"),
    )


# ---------------------------------------------------------------------------
# Expected calibration error — the scalar readout of the reliability diagram
# ---------------------------------------------------------------------------


@register(
    "expected_calibration_error",
    category="ml",
    doc=f"ECE + MCE over the {CALIB_BINS} reliability bins (same binning "
    "as calibration_reliability_bins): per-bin confidence = the bin "
    "midpoint on the normalized score axis (((2b+1)*1e6) DIV (2*B) — "
    "exact), accuracy = half-up ppm positive rate, ECE = "
    "sum n_b*|acc-conf| / N and MCE = max|acc-conf|, ALL integer "
    "arithmetic end to end (no float anywhere). One groupBy + one "
    "1-row aggregate; the single-number companion to the reliability "
    "diagram and the isotonic recalibration.",
    oracle=f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
mm AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM src),
bins AS (
  SELECT CAST((cents - lo) * {CALIB_BINS} // (hi - lo + 1) AS BIGINT) AS bin,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(pos) AS HUGEINT) AS n_pos
  FROM src CROSS JOIN mm GROUP BY 1
),
gaps AS (
  SELECT bin, n,
         abs((2000000 * n_pos + n) // (2 * n)
             - ((2 * bin + 1) * 1000000) // (2 * {CALIB_BINS})) AS gap
  FROM bins
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins_used,
       CAST(SUM(n) AS BIGINT) AS n_total,
       CAST(SUM(n * gap) AS BIGINT) AS ece_num,
       CAST((2 * SUM(n * gap) + SUM(n)) // (2 * SUM(n)) AS BIGINT) AS ece_ppm,
       CAST(MAX(gap) AS BIGINT) AS mce_ppm
FROM gaps
""",
)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    src = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    mm = src.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    bins = (
        src.crossJoin(F.broadcast(mm))
        .groupBy(
            F.expr(f"(cents - lo) * {CALIB_BINS} DIV (hi - lo + 1)").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("pos").cast("decimal(38,0)").alias("n_pos"),
        )
    )
    gaps = bins.select(
        "bin",
        "n",
        F.expr(
            "abs((2000000 * n_pos + n) DIV (2 * n)"
            f" - ((2 * bin + 1) * 1000000) DIV (2 * {CALIB_BINS}))"
        ).alias("gap"),
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(c("n") * c("gap")).cast("bigint").alias("ece_num"),
        F.expr(
            "CAST((2 * sum(n * gap) + sum(n)) DIV (2 * sum(n)) AS BIGINT)"
        ).alias("ece_ppm"),
        F.max("gap").cast("bigint").alias("mce_ppm"),
    )


# ---------------------------------------------------------------------------
# UCB1 — which arm would the bandit pull next?
# ---------------------------------------------------------------------------


@register(
    "bandit_ucb1_allocation",
    category="ml",
    doc="UCB1 allocation over the 5 market segments as arms: pulls = "
    "historical orders, reward = F-status. Exploit term = exact half-up "
    "ppm mean; explore bonus = sqrt(2*ln(N)/n_i) with ln(N) rounded to "
    "9dp IN ISOLATION and the rest single IEEE ops rounded at 6dp "
    "(the mann_whitney/welch green-precedent float class); the chosen "
    "arm is the argmax on the ROUNDED score with segment tiebreak — "
    "deterministic on any engine. ONE star-join aggregate; the "
    "explore/exploit readout that turns the experiment family's "
    "historical counts into a next-action decision.",
    oracle="""
WITH j AS (
  SELECT c.c_mktsegment AS seg,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS win
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
arms AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(win) AS BIGINT) AS s
  FROM j GROUP BY seg
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM arms),
scored AS (
  SELECT seg, n, s,
         CAST((CAST(2000000 AS HUGEINT) * s + n) // (2 * n) AS BIGINT)
           AS mean_ppm,
         round(CAST(s AS DOUBLE) / n
               + sqrt(2 * round(ln(CAST(nn AS DOUBLE)), 9) / n), 6)
           AS ucb_score
  FROM arms CROSS JOIN tot
)
SELECT seg AS segment, n AS pulls, s AS successes, mean_ppm, ucb_score,
       seg = (SELECT seg FROM scored ORDER BY ucb_score DESC, seg LIMIT 1)
         AS chosen
FROM scored
""",
)
def bandit_ucb1_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    j = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            c("c_mktsegment").alias("seg"),
            (c("o_orderstatus") == "F").cast("int").alias("win"),
        )
    )
    arms = j.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("win").cast("bigint").alias("s"),
    )
    tot = arms.agg(F.sum("n").cast("bigint").alias("nn"))
    scored = arms.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n",
        "s",
        F.expr(
            "CAST((CAST(2000000 AS DECIMAL(38,0)) * s + n) DIV (2 * n) AS BIGINT)"
        ).alias("mean_ppm"),
        F.round(
            c("s").cast("double") / c("n")
            + F.sqrt(2 * F.round(F.log(c("nn").cast("double")), 9) / c("n")),
            6,
        ).alias("ucb_score"),
    ).localCheckpoint()  # argmax pick + output both read it
    # deterministic argmax: max score, then min segment among ties
    top = (
        scored.orderBy(F.desc("ucb_score"), F.asc("seg"))
        .limit(1)
        .select(c("seg").alias("top_seg"))
    )
    return scored.crossJoin(F.broadcast(top)).select(
        c("seg").alias("segment"),
        c("n").alias("pulls"),
        c("s").alias("successes"),
        "mean_ppm",
        "ucb_score",
        (c("seg") == c("top_seg")).alias("chosen"),
    )

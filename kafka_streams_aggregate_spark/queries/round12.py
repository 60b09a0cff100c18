"""Round-12 registrations: the SURVEY §10 staged-operator queue
graduating to driver-verified queries.

Every query here wraps an operator that landed (with unit tests and a
pre-validated cross-engine oracle text) in round 11; oracle SQL is the
test file's registration-ready text with ``read_parquet`` refs swapped
for the driver's pre-registered view names. Spark derivations mirror
the parity tests verbatim, so the driver's hash check re-verifies
exactly what the tests pinned at sf0.001.

Reference: queue + per-operator rationale in SURVEY.md §10; the
reference repo's own surface (the Kafka Streams inventory fold at
KafkaStreamsInventoryCountApplication.java:69-85) was fully covered by
round 3 — these are absent-category build-out rows (ML evaluation,
nonparametric statistics, graph, LLM-data, spatial, data-infra
families).

Round-12 advice fixes are registered as fixed: cramer_von_mises
accumulates on DECIMAL(38,0), friedman gates count(*) ==
countDistinct == k per block, ppr_seeds counts DISTINCT seeds,
unicode_nfc_audit null-guards its kernel (operators' docstrings carry
the details).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.registry import register
from kafka_streams_aggregate_spark.sources.eventlog_source import (
    workdir,
)
from kafka_streams_aggregate_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Shared synthesized inputs (md5 hash family — cross-engine identical)
# --------------------------------------------------------------------------

# score: 16-bit md5 field; label: 1 when a SECOND md5 16-bit field is
# below the score -> P(label=1 | score) ~ score/65536 (a calibrated
# classifier by construction); pred: score >= 32768.
_SCORED_SQL = """
        SELECT source AS g, doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                   AS score,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))
                             ::BIGINT
                         < ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                             ::BIGINT
                    THEN 1 ELSE 0 END AS label
        FROM documents
"""

_RATERS_SQL = """
        SELECT source AS g,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                             ::BIGINT % 3 = 0 THEN 1 ELSE 0 END AS a,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2))
                             ::BIGINT % 3 = 0 THEN 1 ELSE 0 END AS b
        FROM documents
"""

# two samples per nation: odd/even custkey account balances (cents)
_TWO_SAMPLE_SQL = """
        SELECT CAST(c_nationkey AS BIGINT) AS g,
               CAST(c_custkey % 2 AS BIGINT) AS is_a,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
"""

_CUT_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC (the TVD cut)


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir).select(
        F.col("source").alias("g"),
        F.col("doc_id"),
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
            " AS BIGINT)"
        ).alias("score"),
        F.expr(
            "CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 5, 4),"
            " 16, 10) AS BIGINT)"
            " < CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
            " AS BIGINT) THEN 1 ELSE 0 END"
        ).alias("label"),
    )


def _two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        (F.col("c_custkey") % 2).cast("bigint").alias("is_a"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("v"),
    )


# --------------------------------------------------------------------------
# ML-eval family (operators/ml_eval.py; tests/test_ml_eval.py)
# --------------------------------------------------------------------------


@register(
    "q_confusion_mcc",
    oracle=f"""
    WITH s AS ({_SCORED_SQL}),
    p AS (
        SELECT g, label AS y,
               CASE WHEN score >= 32768 THEN 1 ELSE 0 END AS pr
        FROM s
    ),
    c AS (
        SELECT g AS group_key,
               CAST(SUM(CASE WHEN y = 1 AND pr = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN y = 0 AND pr = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN y = 1 AND pr = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN y = 0 AND pr = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn
        FROM p GROUP BY g
    )
    SELECT group_key, tp, fp, fn, tn,
           CAST((1000000 * (tp + tn)) // (tp + fp + fn + tn) AS BIGINT)
               AS accuracy_ppm,
           CASE WHEN tp + fp > 0
                THEN CAST((1000000 * tp) // (tp + fp) AS BIGINT) END
               AS precision_ppm,
           CASE WHEN tp + fn > 0
                THEN CAST((1000000 * tp) // (tp + fn) AS BIGINT) END
               AS recall_ppm,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST((1000000 * 2 * tp) // (2 * tp + fp + fn) AS BIGINT)
           END AS f1_ppm,
           CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0 AND (tn + fp) > 0
                 AND (tn + fn) > 0 THEN
                CAST(tp * tn - fp * fn AS DOUBLE)
                / (sqrt(CAST(tp + fp AS DOUBLE))
                   * sqrt(CAST(tp + fn AS DOUBLE))
                   * sqrt(CAST(tn + fp AS DOUBLE))
                   * sqrt(CAST(tn + fn AS DOUBLE))) END AS mcc
    FROM c
    """,
    doc=(
        "Confusion matrix + Matthews correlation per document source — "
        "exact int64 (tp, fp, fn, tn), accuracy/precision/recall ppm, "
        "F1 via the division-free identity 2tp/(2tp+fp+fn), MCC with "
        "the n^4-overflow-proof FOUR-sqrt left-associative denominator "
        "(each sqrt IEEE-exact, fixed op order -> bit-equal; the hand "
        "pin documents sqrt(5)^4 = 24.999999999999996). Labels/preds "
        "synthesized from the md5 hash family (calibrated by "
        "construction). One conditional-sum aggregate. "
        "tests/test_ml_eval.py."
    ),
    tags=("ml-eval", "classification", "exact-integer"),
)
def q_confusion_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import confusion_mcc

    s = _scored(spark, sf_dir).select(
        "g",
        "label",
        F.expr("CASE WHEN score >= 32768 THEN 1 ELSE 0 END").alias("pred"),
    )
    return confusion_mcc(s, "g", "label", "pred")


@register(
    "q_pr_threshold_sweep",
    oracle=f"""
    WITH s AS ({_SCORED_SQL}),
    t AS (SELECT * FROM (VALUES (16384), (32768), (49152)) v(thr)),
    c AS (
        SELECT s.g AS group_key, CAST(t.thr AS BIGINT) AS threshold,
               CAST(SUM(CASE WHEN score >= thr AND label = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN score >= thr AND label = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN score < thr AND label = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM s CROSS JOIN t GROUP BY s.g, t.thr
    )
    SELECT group_key, threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN CAST((1000000 * tp) // (tp + fp) AS BIGINT) END
               AS precision_ppm,
           CASE WHEN tp + fn > 0
                THEN CAST((1000000 * tp) // (tp + fn) AS BIGINT) END
               AS recall_ppm,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST((1000000 * 2 * tp) // (2 * tp + fp + fn) AS BIGINT)
           END AS f1_ppm
    FROM c
    """,
    doc=(
        "Precision/recall operating-point table at fixed score "
        "thresholds — ONE scan, every threshold a conditional sum in "
        "one aggregate + a stack (the q_ecdf_probe shape; no per-"
        "threshold passes, no crossJoin on the Spark side). Recall is "
        "weakly decreasing in the threshold (asserted in tests). "
        "tests/test_ml_eval.py."
    ),
    tags=("ml-eval", "classification", "threshold-sweep"),
)
def q_pr_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import (
        pr_threshold_sweep,
    )

    return pr_threshold_sweep(
        _scored(spark, sf_dir), "g", "score", "label", [16384, 32768, 49152]
    )


@register(
    "q_calibration_bins",
    oracle=f"""
    WITH s AS ({_SCORED_SQL}),
    b AS (
        SELECT g AS group_key,
               (1000000 * score) // 65536 AS sp, label AS y
        FROM s
    ),
    binned AS (
        SELECT group_key,
               least((sp * 10) // 1000000, 9) AS bin, sp, y
        FROM b
    ),
    agg AS (
        SELECT group_key, CAST(bin AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(sp) AS BIGINT) AS score_sum
        FROM binned GROUP BY group_key, bin
    )
    SELECT group_key, bin, n, n_pos,
           CAST(score_sum // n AS BIGINT) AS mean_score_ppm,
           CAST((1000000 * n_pos) // n AS BIGINT) AS pos_rate_ppm,
           CAST((1000000 * n_pos) // n - score_sum // n AS BIGINT) AS gap_ppm
    FROM agg
    """,
    doc=(
        "Calibration reliability bins — decile bins of ppm scores vs "
        "observed positive rate, exact integer (mean_score_ppm, "
        "pos_rate_ppm, signed gap_ppm); completes the rank(AUC) / "
        "fix(isotonic) / audit triangle. The md5 synthesis is "
        "calibrated by construction (top bin rate beats bottom bin, "
        "asserted in tests). tests/test_ml_eval.py."
    ),
    tags=("ml-eval", "calibration", "exact-integer"),
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import (
        calibration_bins,
    )

    s = _scored(spark, sf_dir).select(
        "g",
        F.expr("CAST((1000000 * score) div 65536 AS BIGINT)").alias("sp"),
        "label",
    )
    return calibration_bins(s, "g", "sp", "label", n_bins=10)


@register(
    "q_mcnemar",
    oracle=f"""
    WITH r AS ({_RATERS_SQL}),
    c AS (
        SELECT g AS group_key,
               CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_neither,
               CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_only_a,
               CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_only_b
        FROM r GROUP BY g
    )
    SELECT group_key, n_both, n_neither, n_only_a, n_only_b,
           CASE WHEN n_only_a + n_only_b > 0 THEN
                CAST((1000000 * (n_only_a - n_only_b)
                      * (n_only_a - n_only_b))
                     // (n_only_a + n_only_b) AS BIGINT) END AS chi2_scaled
    FROM c
    """,
    doc=(
        "McNemar paired-binary test per source — only the DISCORDANT "
        "cells matter: chi2 = (b-c)^2/(b+c), reported as exact "
        "scale*(b-c)^2 div (b+c) (NULL when b+c = 0: no disagreements, "
        "test undefined); concordant counts carried for the audit "
        "trail. Paired raters synthesized from independent md5 bytes. "
        "One conditional-sum aggregate. tests/test_ml_eval.py."
    ),
    tags=("ml-eval", "paired-test", "exact-integer"),
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import mcnemar

    r = load_table(spark, "documents", sf_dir).select(
        F.col("source").alias("g"),
        F.expr(
            "CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 2),"
            " 16, 10) AS BIGINT) % 3 = 0 THEN 1 ELSE 0 END"
        ).alias("a"),
        F.expr(
            "CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 3, 2),"
            " 16, 10) AS BIGINT) % 3 = 0 THEN 1 ELSE 0 END"
        ).alias("b"),
    )
    return mcnemar(r, "g", "a", "b")


_SS1 = (
    "(CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)"
)
_SS2 = (
    "(CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)"
)
_MDIFF = (
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
)


@register(
    "q_cohens_d",
    oracle=f"""
    WITH s AS ({_TWO_SAMPLE_SQL}),
    m AS (
        SELECT g AS group_key,
               CAST(SUM(is_a) AS BIGINT) AS n1,
               CAST(SUM(1 - is_a) AS BIGINT) AS n2,
               CAST(SUM(is_a * v) AS BIGINT) AS s1,
               CAST(SUM((1 - is_a) * v) AS BIGINT) AS s2,
               SUM(is_a * v * v) AS q1,
               SUM((1 - is_a) * v * v) AS q2
        FROM s GROUP BY g
    )
    SELECT group_key, n1, n2, s1, s2,
           CASE WHEN n1 >= 2 AND n2 >= 2 THEN
                {_MDIFF} / sqrt(({_SS1} + {_SS2})
                                / CAST(n1 + n2 - 2 AS DOUBLE)) END
               AS cohens_d,
           CASE WHEN n1 >= 2 AND n2 >= 2 THEN
                {_MDIFF} / sqrt({_SS1} / CAST(n1 * (n1 - 1) AS DOUBLE)
                                + {_SS2} / CAST(n2 * (n2 - 1) AS DOUBLE)) END
               AS t_welch
    FROM m
    """,
    doc=(
        "Cohen's d (pooled-SD standardized mean difference) + Welch's "
        "t between odd/even-custkey balance samples per nation — exact "
        "per-sample power sums with squares on DECIMAL(38,0) (the "
        "q_bootstrap_ci precedent), float tail identically spelled on "
        "both engines (fixed sequence of correctly-rounded IEEE ops, "
        "sqrt is exact) -> hex-pinned BIT-equal in tests. One "
        "aggregate, no join. tests/test_ml_eval.py."
    ),
    tags=("ml-eval", "effect-size", "bit-equal-float"),
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import cohens_d

    return cohens_d(_two_sample(spark, sf_dir), "g", "is_a", "v")


@register(
    "q_cliffs_delta",
    oracle=f"""
    WITH s AS ({_TWO_SAMPLE_SQL}),
    by_val AS (
        SELECT g, v,
               CAST(SUM(is_a) AS BIGINT) AS ca,
               CAST(SUM(1 - is_a) AS BIGINT) AS cb
        FROM s GROUP BY g, v
    ),
    ranked AS (
        SELECT g, ca, cb,
               SUM(ca + cb) OVER (PARTITION BY g ORDER BY v
                                  ROWS UNBOUNDED PRECEDING)
                   - ca - cb AS cum_prev
        FROM by_val
    ),
    agg AS (
        SELECT g AS group_key,
               CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b,
               CAST(SUM(ca * (2 * cum_prev + ca + cb + 1)) AS BIGINT) AS r1_x2
        FROM ranked GROUP BY g
    )
    SELECT group_key, n_a, n_b,
           CAST(r1_x2 - n_a * (n_a + 1) - n_a * n_b AS BIGINT) AS delta_num,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
                CAST((1000000 * (r1_x2 - n_a * (n_a + 1) - n_a * n_b))
                     // (n_a * n_b) AS BIGINT) END AS delta_ppm
    FROM agg
    """,
    doc=(
        "Cliff's delta ordinal effect size — LINEAR via the "
        "Mann-Whitney doubled-rank identity (2U1 - n_a*n_b over "
        "n_a*n_b), never the quadratic pair enumeration; doubled "
        "midranks keep everything exact int64 under ties. Same "
        "support-level rollup shape as KS/MW (group by value, one "
        "cumulative window over distinct values). "
        "tests/test_ml_eval.py incl. dominance/tie hand pins."
    ),
    tags=("ml-eval", "effect-size", "exact-integer"),
)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import cliffs_delta

    return cliffs_delta(_two_sample(spark, sf_dir), "g", "is_a", "v")


@register(
    "q_uplift_did",
    oracle=f"""
    WITH s AS (
        SELECT event_type AS g,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
                   % 2 AS t,
               CASE WHEN epoch_us(ts) >= {_CUT_US} THEN 1 ELSE 0 END AS p,
               CAST(floor(value * 100) AS BIGINT) AS v
        FROM events
    ),
    c AS (
        SELECT g AS group_key,
               CAST(SUM(CASE WHEN t=1 AND p=0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tpre,
               CAST(SUM(CASE WHEN t=1 AND p=1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tpost,
               CAST(SUM(CASE WHEN t=0 AND p=0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cpre,
               CAST(SUM(CASE WHEN t=0 AND p=1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cpost,
               CAST(SUM(CASE WHEN t=1 AND p=0 THEN v ELSE 0 END) AS BIGINT)
                   AS s_tpre,
               CAST(SUM(CASE WHEN t=1 AND p=1 THEN v ELSE 0 END) AS BIGINT)
                   AS s_tpost,
               CAST(SUM(CASE WHEN t=0 AND p=0 THEN v ELSE 0 END) AS BIGINT)
                   AS s_cpre,
               CAST(SUM(CASE WHEN t=0 AND p=1 THEN v ELSE 0 END) AS BIGINT)
                   AS s_cpost
        FROM s GROUP BY g
    )
    SELECT group_key, n_tpre, n_tpost, n_cpre, n_cpost,
           s_tpre, s_tpost, s_cpre, s_cpost,
           CASE WHEN n_tpre > 0 AND n_tpost > 0 AND n_cpre > 0
                 AND n_cpost > 0 THEN CAST(
                ((1000000 * s_tpost) // n_tpost
                 - (1000000 * s_tpre) // n_tpre)
                - ((1000000 * s_cpost) // n_cpost
                   - (1000000 * s_cpre) // n_cpre) AS BIGINT) END
               AS did_scaled
    FROM c
    """,
    doc=(
        "Difference-in-differences uplift over md5-assigned treatment "
        "x pre/post cells (cut = 2024-01-16 UTC, the TVD cut) — all "
        "four cell means as floored ppm integers, DiD = (post-pre "
        "treated) - (post-pre control), NULL when any cell is empty. "
        "One conditional-sum scan; epoch comparison via unix_micros / "
        "epoch_us on the true-TIMESTAMP events.ts (the tz-safe lane). "
        "tests/test_stats_r12.py."
    ),
    tags=("ml-eval", "causal", "exact-integer"),
)
def q_uplift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import uplift_did

    ev = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("g"),
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 2), 16, 10)"
            " AS BIGINT) % 2"
        ).alias("t"),
        F.expr(
            f"CASE WHEN unix_micros(ts) >= {_CUT_US} THEN 1 ELSE 0 END"
        ).alias("p"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v"),
    )
    return uplift_did(ev, "g", "t", "p", "v")


# --------------------------------------------------------------------------
# Nonparametric / monitoring (operators/stats.py)
# --------------------------------------------------------------------------


@register(
    "q_runs_test",
    oracle="""
    WITH s AS (
        SELECT user_id AS g,
               CASE WHEN value >= 250 THEN 1 ELSE 0 END AS b,
               ts, event_id
        FROM events
    ),
    isl AS (
        SELECT g, b,
               row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY g, b ORDER BY ts, event_id)
                   AS island
        FROM s
    ),
    per_run AS (
        SELECT g, b, island, CAST(COUNT(*) AS BIGINT) AS _len
        FROM isl GROUP BY 1, 2, 3
    ),
    agg AS (
        SELECT g AS group_key,
               CAST(COUNT(*) AS BIGINT) AS runs,
               CAST(SUM(b * _len) AS BIGINT) AS n1,
               CAST(SUM((1 - b) * _len) AS BIGINT) AS n0
        FROM per_run GROUP BY g
    )
    SELECT group_key, n1, n0, runs,
           CASE WHEN n1 > 0 AND n0 > 0 AND n1 + n0 >= 2 THEN
                (CAST(runs AS DOUBLE)
                 - (1.0 + CAST(2 * n1 * n0 AS DOUBLE)
                          / CAST(n1 + n0 AS DOUBLE)))
                / sqrt(CAST(2 * n1 * n0 AS DOUBLE)
                       * CAST(2 * n1 * n0 - (n1 + n0) AS DOUBLE)
                       / (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE)
                          * CAST(n1 + n0 - 1 AS DOUBLE))) END AS z
    FROM agg
    """,
    doc=(
        "Wald-Wolfowitz runs test per user over the above/below-"
        "median-value indicator sequence — run count via the islands "
        "formula (double row_number difference), exact (n1, n0), z "
        "against the exact null moments as an identically-spelled "
        "float tail (hex-pinned bit-equal in tests; sqrt is "
        "IEEE-exact). tests/test_stats_r12.py."
    ),
    tags=("stats", "nonparametric", "randomness"),
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import runs_test

    ev = load_table(spark, "events", sf_dir).select(
        F.col("user_id").alias("g"),
        F.expr("CASE WHEN value >= 250 THEN 1 ELSE 0 END").alias("b"),
        "ts",
        "event_id",
    )
    return runs_test(ev, "g", "b", ["ts", "event_id"])


@register(
    "q_friedman_test",
    oracle="""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY 1
    ),
    base AS (
        SELECT CAST(day // 7 AS BIGINT) AS block,
               CAST(day % 7 AS BIGINT) AS treatment, v
        FROM daily
    ),
    ks AS (SELECT COUNT(DISTINCT treatment) AS k FROM base),
    complete AS (
        SELECT block FROM base GROUP BY block
        HAVING COUNT(DISTINCT treatment) = (SELECT k FROM ks)
           AND COUNT(*) = (SELECT k FROM ks)
    ),
    scoped AS (SELECT base.* FROM base JOIN complete USING (block)),
    by_val AS (
        SELECT block, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM scoped GROUP BY 1, 2
    ),
    ranked AS (
        SELECT block, v, c,
               CAST(SUM(c) OVER (PARTITION BY block ORDER BY v
                                 ROWS UNBOUNDED PRECEDING) - c AS BIGINT)
                   AS cum_prev
        FROM by_val
    ),
    with_r2 AS (
        SELECT s.block, s.treatment,
               CAST(2 * r.cum_prev + r.c + 1 AS BIGINT) AS r2
        FROM scoped s JOIN ranked r ON r.block = s.block AND r.v = s.v
    ),
    per_treat AS (
        SELECT treatment, CAST(SUM(r2) AS BIGINT) AS r2_sum,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM with_r2 GROUP BY treatment
    ),
    g AS (
        SELECT CAST(MAX(n_blocks) AS BIGINT) AS n_blocks,
               CAST(MIN(n_blocks) AS BIGINT) AS nb_min,
               CAST(COUNT(*) AS BIGINT) AS k_treatments,
               CAST(SUM(r2_sum * r2_sum) AS BIGINT) AS sum_r2_sq
        FROM per_treat
    )
    SELECT n_blocks, k_treatments, sum_r2_sq,
           CASE WHEN nb_min = n_blocks AND n_blocks > 0 THEN
           CAST((1000000 * 3 * (sum_r2_sq - n_blocks * n_blocks
                 * k_treatments * (k_treatments + 1) * (k_treatments + 1)))
                // (n_blocks * k_treatments * (k_treatments + 1)) AS BIGINT)
           END AS chi2_ppm
    FROM g
    """,
    doc=(
        "Friedman rank chi2 — blocks = epoch weeks, treatments = epoch "
        "weekdays, value = daily revenue cents; within-block doubled "
        "midranks, chi2 exact int64 ppm-scaled. Round-12 advice fix "
        "registered: completeness gate requires count(*) == "
        "countDistinct(treatment) == k per block (one observation per "
        "cell), and the rollup NULLs chi2 if per-treatment block "
        "counts diverge instead of silently max()-ing. "
        "tests/test_stats_r12.py incl. the duplicate-cell drop pin."
    ),
    tags=("stats", "nonparametric", "blocked-ranks"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import friedman_chi2

    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .agg(
            F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )
    base = daily.select(
        F.expr("CAST(day div 7 AS BIGINT)").alias("block"),
        F.expr("CAST(day % 7 AS BIGINT)").alias("treatment"),
        "v",
    )
    return friedman_chi2(base, "block", "treatment", "v")


@register(
    "q_page_hinkley",
    oracle="""
    WITH s AS (
        SELECT user_id AS g,
               CAST(floor(value * 100) AS BIGINT) AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    cum AS (
        SELECT g, CAST(rn AS BIGINT) AS rn,
               SUM(x - 25000) OVER (PARTITION BY g ORDER BY rn
                                    ROWS UNBOUNDED PRECEDING) AS gsum
        FROM s
    ),
    ph AS (
        SELECT g, rn,
               CAST(gsum - least(0, MIN(gsum) OVER (
                   PARTITION BY g ORDER BY rn
                   ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS ph
        FROM cum
    ),
    top AS (
        SELECT g, rn, ph,
               row_number() OVER (PARTITION BY g ORDER BY ph DESC, rn)
                   AS _r
        FROM ph
    )
    SELECT g AS group_key, ph AS ph_max, rn AS at_rn,
           ph > 500000 AS alarm
    FROM top WHERE _r = 1
    """,
    doc=(
        "Page-Hinkley upward-drift detector per user, BATCH closed "
        "form — with a fixed reference delta (250.00 in cents) the PH "
        "statistic has the round-9 NON-recursive identity PH_t = g_t "
        "- min(0, running-min g): prefix sum + running min + one "
        "total-ordered argmax, all exact int64, no fold, no Python. "
        "Alarm when max PH exceeds lambda (5000.00). "
        "tests/test_stats_r12.py incl. hand trace."
    ),
    tags=("stats", "drift", "closed-form-fold"),
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import page_hinkley

    ev = load_table(spark, "events", sf_dir).select(
        F.col("user_id").alias("g"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("x"),
        "ts",
        "event_id",
    )
    return page_hinkley(
        ev, "g", "x", ["ts", "event_id"], delta=25000, lam=500000
    )


# per-nation curve: x = spend-rank decile 1..10, y = cumulative spend
# share ppm — the knee-detection registered input (view-name twin of
# tests/test_stats_r12b.py:_CURVE_SQL)
_CURVE_SQL = """
    spend AS (
        SELECT c.c_nationkey AS g,
               CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100)
                    AS BIGINT)), 0) AS BIGINT) AS v,
               c.c_custkey AS id
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey
    ),
    ranked AS (
        SELECT g, v,
               row_number() OVER (PARTITION BY g ORDER BY v DESC, id)
                   AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n,
               SUM(v) OVER (PARTITION BY g) AS total
        FROM spend
    ),
    curve AS (
        SELECT g,
               CAST((10 * (rn - 1)) // n + 1 AS BIGINT) AS x,
               CAST((1000000 * SUM(SUM(v)) OVER (
                       PARTITION BY g
                       ORDER BY (10 * (rn - 1)) // n + 1
                       ROWS UNBOUNDED PRECEDING))
                    // MAX(MAX(total)) OVER (PARTITION BY g)
                    AS BIGINT) AS y
        FROM ranked
        GROUP BY g, (10 * (rn - 1)) // n + 1, total
    )
"""


def _curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    spend = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")),
                F.lit(0).cast("bigint"),
            ).alias("v")
        )
        .select(
            F.col("c_nationkey").alias("g"),
            "v",
            F.col("c_custkey").alias("id"),
        )
    )
    wg = Window.partitionBy("g")
    ranked = spend.select(
        "g",
        "v",
        F.row_number()
        .over(Window.partitionBy("g").orderBy(F.col("v").desc(), "id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n"),
        F.sum("v").over(wg).alias("total"),
    )
    decile = ranked.groupBy(
        "g",
        F.expr("CAST((10 * (rn - 1)) div n + 1 AS BIGINT)").alias("x"),
        "total",
    ).agg(F.sum("v").alias("dv"))
    return decile.select(
        "g",
        "x",
        F.expr(
            "CAST((1000000 * sum(dv) OVER (PARTITION BY g ORDER BY x"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            " div total AS BIGINT)"
        ).alias("y"),
    ).dropDuplicates(["g", "x"])


@register(
    "q_knee_detection",
    oracle=(
        "WITH "
        + _CURVE_SQL
        + """,
    pts AS (SELECT DISTINCT g, x, y FROM curve),
    ends AS (
        SELECT g,
               MIN(struct_pack(x := x, y := y)) AS p1,
               MAX(struct_pack(x := x, y := y)) AS pn
        FROM pts GROUP BY g
    ),
    scored AS (
        SELECT pts.g, x, y,
               CAST(abs((pn.x - p1.x) * (y - p1.y)
                        - (pn.y - p1.y) * (x - p1.x)) AS BIGINT)
                   AS cross_dist
        FROM pts JOIN ends ON ends.g = pts.g
    )
    SELECT g AS group_key,
           CAST(x AS BIGINT) AS knee_x, CAST(y AS BIGINT) AS knee_y,
           cross_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY g
                ORDER BY cross_dist DESC, x) AS _r FROM scored)
    WHERE _r = 1
    """
    ),
    doc=(
        "Knee/elbow detection (the Kneedle idea in exact integer form) "
        "on the per-nation cumulative-spend-share decile curve — the "
        "knee is the point with max perpendicular distance to the "
        "endpoint chord; the distance ORDERING is carried by the exact "
        "integer cross product |(xn-x1)(y-y1) - (yn-y1)(x-x1)| (no "
        "sqrt, no division), total-ordered argmax by (dist DESC, x). "
        "DuckDB gotcha pinned: ROW() structs are unnamed — the oracle "
        "uses struct_pack(x := ..., y := ...). "
        "tests/test_stats_r12b.py."
    ),
    tags=("stats", "curve-analysis", "exact-integer"),
)
def q_knee_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import knee_detection

    return knee_detection(_curve(spark, sf_dir), "g", "x", "y")


@register(
    "q_cramer_von_mises",
    oracle=f"""
    WITH s AS ({_TWO_SAMPLE_SQL}),
    by_val AS (
        SELECT g, v,
               CAST(SUM(is_a) AS BIGINT) AS ca,
               CAST(SUM(1 - is_a) AS BIGINT) AS cb
        FROM s GROUP BY g, v
    ),
    cum AS (
        SELECT g, ca, cb,
               CAST(SUM(ca) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
               CAST(SUM(cb) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
        FROM by_val
    ),
    totals AS (
        SELECT g, CAST(SUM(ca) AS BIGINT) AS n1,
               CAST(SUM(cb) AS BIGINT) AS n2
        FROM by_val GROUP BY g
    ),
    agg AS (
        SELECT cum.g, MAX(n1) AS n1, MAX(n2) AS n2,
               CAST(SUM((ca + cb) * (n2 * c1 - n1 * c2)
                        * (n2 * c1 - n1 * c2)) AS BIGINT) AS t_num
        FROM cum JOIN totals ON totals.g = cum.g
        GROUP BY cum.g
    )
    SELECT g AS group_key, n1, n2, t_num,
           CASE WHEN n1 > 0 AND n2 > 0 THEN CAST(
                (1000000 * t_num) // (n1 * n2 * (n1 + n2) * (n1 + n2))
                AS BIGINT) END AS cvm_ppm
    FROM agg
    """,
    doc=(
        "Two-sample Cramer-von Mises per nation — the SUM-of-squared-"
        "ECDF-gaps companion to q_ks_two_sample's MAX gap; fully exact "
        "integer via the common-denominator gap n2*C1 - n1*C2 per "
        "pooled support value (tie-weighted). Round-12 advice fix "
        "registered: term products and the T_num sum ride "
        "DECIMAL(38,0) on Spark (DuckDB widens to HUGEINT natively) "
        "so cvm_ppm is cliff-free; the raw t_num audit column "
        "re-narrows to BIGINT with a loud cross-engine failure past "
        "int64. tests/test_stats_r12b.py."
    ),
    tags=("stats", "nonparametric", "two-sample"),
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        cramer_von_mises,
    )

    return cramer_von_mises(_two_sample(spark, sf_dir), "g", "is_a", "v")


@register(
    "q_energy_distance",
    oracle=f"""
    WITH s AS ({_TWO_SAMPLE_SQL}),
    pool AS (
        SELECT g,
               CAST(SUM((2 * rn - n - 1) * v) AS BIGINT) AS s_pool
        FROM (
            SELECT g, v,
                   row_number() OVER (PARTITION BY g
                       ORDER BY v, is_a) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM s)
        GROUP BY g
    ),
    within AS (
        SELECT g, is_a, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM((2 * rn - n - 1) * v) AS BIGINT) AS sw
        FROM (
            SELECT g, is_a, v,
                   row_number() OVER (PARTITION BY g, is_a
                       ORDER BY v, is_a) AS rn,
                   COUNT(*) OVER (PARTITION BY g, is_a) AS n
            FROM s)
        GROUP BY g, is_a
    ),
    wide AS (
        SELECT g,
               CAST(SUM(CASE WHEN is_a = 1 THEN n END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN is_a = 0 THEN n END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN is_a = 1 THEN sw END) AS BIGINT) AS s_xx,
               CAST(SUM(CASE WHEN is_a = 0 THEN sw END) AS BIGINT) AS s_yy
        FROM within GROUP BY g
    )
    SELECT wide.g AS group_key, n1, n2,
           CAST(s_pool - s_xx - s_yy AS BIGINT) AS s_xy,
           s_xx, s_yy,
           CASE WHEN n1 > 0 AND n2 > 0 THEN CAST(
                2 * (1000000 * ((s_pool - s_xx - s_yy) // (n1 * n2))
                     + (1000000 * ((s_pool - s_xx - s_yy) % (n1 * n2)))
                       // (n1 * n2))
                - 2 * (1000000 * (s_xx // (n1 * n1))
                       + (1000000 * (s_xx % (n1 * n1))) // (n1 * n1))
                - 2 * (1000000 * (s_yy // (n2 * n2))
                       + (1000000 * (s_yy % (n2 * n2))) // (n2 * n2))
                AS BIGINT) END AS energy_ppm
    FROM wide JOIN pool ON pool.g = wide.g
    """,
    doc=(
        "1-D two-sample energy distance (Szekely-Rizzo) per nation — "
        "all three O(n^2) pairwise |X-Y| terms collapsed to the "
        "sorted-prefix closed form sum (2i-n-1)v_i, the cross term "
        "never materialized (pooled-minus-within). ppm scaling via the "
        "exact divmod identity floor(scale*s/d) = scale*(s div d) + "
        "(scale*(s mod d)) div d to stay inside int64 at sf0.1 group "
        "sizes (a naive cross-multiplied numerator overflows — the "
        "design note to keep). E >= 0 up to three documented floors. "
        "tests/test_stats_r12b.py."
    ),
    tags=("stats", "nonparametric", "two-sample", "closed-form"),
)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        energy_distance_1d,
    )

    return energy_distance_1d(_two_sample(spark, sf_dir), "g", "is_a", "v")


# --------------------------------------------------------------------------
# Graph (operators/graph.py, stats.py; tests/test_graph_r12.py,
# test_markov_stationary.py)
# --------------------------------------------------------------------------

# support>=2 co-purchase part graph — same derivation as the
# registered q_link_prediction_ra (unscoped: 2.52s at sf0.1)
_EDGES_SQL = """
    ik AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM ik a JOIN ik b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sym AS (
        SELECT src, dst FROM edges
        UNION ALL SELECT dst, src FROM edges
    )
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    ik = li.select("l_orderkey", "l_partkey").distinct()
    a = ik.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("src")
    )
    b = ik.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("dst")
    )
    return (
        a.join(b, "_ok")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_support"))
        .where(F.col("_support") >= 2)
        .select("src", "dst")
    )


@register(
    "q_link_prediction_jaccard",
    oracle=(
        "WITH "
        + _EDGES_SQL
        + """,
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY src
    ),
    common AS (
        SELECT za.dst AS node_a, zb.dst AS node_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sym za JOIN sym zb
          ON zb.src = za.src AND za.dst < zb.dst
        GROUP BY 1, 2
    ),
    nonedges AS (
        SELECT c.* FROM common c
        LEFT JOIN edges e ON e.src = c.node_a AND e.dst = c.node_b
        WHERE e.src IS NULL
    ),
    scored AS (
        SELECT node_a, node_b, n_common,
               da.deg AS deg_a, db.deg AS deg_b,
               CAST((1000000 * n_common)
                    // (da.deg + db.deg - n_common) AS BIGINT)
                   AS jaccard_ppm
        FROM nonedges
        JOIN deg da ON da.node = node_a
        JOIN deg db ON db.node = node_b
    )
    SELECT node_a, node_b, n_common, deg_a, deg_b, jaccard_ppm,
           CAST(row_number() OVER (
               ORDER BY jaccard_ppm DESC, node_a, node_b) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 100
    """
    ),
    doc=(
        "Jaccard link prediction on the support>=2 co-purchase graph "
        "— normalized common-neighbor scorer (ppm of |N(a) cap N(b)| "
        "over the union), the same bounded wedge join as the "
        "registered RA scorer plus degree joins on the PAIR table; "
        "disagrees with RA exactly where hubs dominate (why both "
        "ship). Anti-join drops existing edges; top-k total-ordered. "
        "tests/test_graph_r12.py incl. the hand hub graph."
    ),
    tags=("graph", "link-prediction", "topk"),
)
def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        link_prediction_jaccard,
    )

    return link_prediction_jaccard(_copurchase_edges(spark, sf_dir), topk=100)


@register(
    "q_clustering_coefficient",
    oracle=(
        "WITH "
        + _EDGES_SQL
        + """,
    tris AS (
        SELECT x.src AS a, x.dst AS b, y.dst AS c
        FROM edges x JOIN edges y ON x.dst = y.src
        JOIN edges z ON z.src = x.src AND z.dst = y.dst
    ),
    tcounts AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS node FROM tris
              UNION ALL SELECT b FROM tris
              UNION ALL SELECT c FROM tris)
        GROUP BY node
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY src
    ),
    scored AS (
        SELECT d.node, d.deg, COALESCE(t.n_triangles, 0) AS n_triangles,
               CASE WHEN d.deg >= 2
                    THEN CAST((1000000 * 2 * COALESCE(t.n_triangles, 0))
                              // (d.deg * (d.deg - 1)) AS BIGINT) END
                   AS cc_ppm
        FROM deg d LEFT JOIN tcounts t ON t.node = d.node
    )
    SELECT node, deg, n_triangles, cc_ppm,
           CAST(row_number() OVER (
               ORDER BY cc_ppm DESC, deg DESC, node) AS BIGINT) AS rank
    FROM scored WHERE cc_ppm IS NOT NULL QUALIFY rank <= 100
    """
    ),
    doc=(
        "Local clustering coefficient per node on the co-purchase "
        "graph — 2T/(d(d-1)) ppm from the compact-forward triangle "
        "enumeration (ordered edges, the q_triangle_count shape) plus "
        "one degree aggregate; deg<2 nodes are undefined-NULL and "
        "excluded; top-k total-ordered by (cc, deg, node). "
        "tests/test_graph_r12.py incl. triangle+pendant hand pin."
    ),
    tags=("graph", "clustering", "topk"),
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        clustering_coefficient,
    )

    return clustering_coefficient(_copurchase_edges(spark, sf_dir), topk=100)


def _ppr_oracle(iterations: int, seed_mod: int) -> str:
    """Unrolled chained-CTE PPR oracle: one contrib/rank stage per
    iteration (AS MATERIALIZED per the bounded-iteration oracle
    rule). View-name twin of tests/test_graph_r12.py:ppr_oracle."""
    parts = [
        "WITH "
        + _EDGES_SQL
        + f""",
    dege AS MATERIALIZED (
        SELECT src, dst,
               COUNT(*) OVER (PARTITION BY src) AS deg
        FROM sym
    ),
    seeds AS MATERIALIZED (
        SELECT DISTINCT src AS nid FROM sym WHERE src % {seed_mod} = 0
    ),
    ns AS (SELECT COUNT(*) AS n FROM seeds),
    r0 AS MATERIALIZED (
        SELECT nid, CAST(1000000000000 // ns.n AS BIGINT) AS rank_fp
        FROM seeds CROSS JOIN ns
    )"""
    ]
    cur = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""c{i} AS (
        SELECT e.dst AS nid,
               CAST(SUM((85 * r.rank_fp) // (100 * e.deg)) AS BIGINT)
                   AS incoming
        FROM {cur} r JOIN dege e ON e.src = r.nid
        GROUP BY e.dst
    ),
    r{i} AS MATERIALIZED (
        SELECT * FROM (
            SELECT COALESCE(c.nid, s.nid) AS nid,
                   CAST(CASE WHEN s.nid IS NOT NULL
                        THEN (15 * (1000000000000 // ns.n)) // 100 ELSE 0 END
                        + COALESCE(c.incoming, 0) AS BIGINT) AS rank_fp
            FROM c{i} c FULL JOIN seeds s ON s.nid = c.nid
            CROSS JOIN ns
        ) WHERE rank_fp > 0
    )"""
        )
        cur = f"r{i}"
    parts.append(f"sel AS (SELECT nid AS node, rank_fp FROM {cur})")
    return ",\n    ".join(parts) + "\n    SELECT node, rank_fp FROM sel"


@register(
    "q_ppr_seeds",
    oracle=_ppr_oracle(iterations=3, seed_mod=10),
    doc=(
        "Personalized PageRank toward a seed cohort (nodes with "
        "partkey % 10 = 0) on the symmetrized co-purchase graph, 3 "
        "iterations — the exact BIGINT fixed-point discipline of "
        "q_pagerank_parts (15/85 integer splits, floor leaks "
        "identical cross-engine, cell-exact). State grows with the "
        "explored ball, not the vertex set (the 100 TB point). "
        "Round-12 advice fix registered: the teleport denominator "
        "counts DISTINCT seeds. Oracle = generated chained "
        "MATERIALIZED CTEs (bounded-iteration trick). "
        "tests/test_graph_r12.py incl. 2-cycle hand pin, duplicate-"
        "seed pin, mass upper bound."
    ),
    tags=("graph", "pagerank", "iterative", "fixed-point"),
)
def q_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import ppr_seeds

    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        sym.where(F.col("src") % 10 == 0)
        .select(F.col("src").alias("seed"))
        .dropDuplicates()
    )
    return ppr_seeds(sym, seeds, iterations=3)


_MARKOV_PAIRS_SQL = """
    ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS src, next_type AS dst,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    )
"""


def _stationary_oracle(iterations: int) -> str:
    """Generated chained-CTE power iteration (view-name twin of
    tests/test_markov_stationary.py:stationary_oracle)."""
    parts = [
        "WITH "
        + _MARKOV_PAIRS_SQL
        + """,
    p AS MATERIALIZED (
        SELECT src, dst,
               CAST((1000000 * n)
                    // SUM(n) OVER (PARTITION BY src) AS BIGINT) AS p_fp
        FROM pairs
    ),
    states AS MATERIALIZED (
        SELECT src AS state FROM p
        UNION SELECT dst FROM p
    ),
    ks AS (SELECT COUNT(*) AS k FROM states),
    pi0 AS MATERIALIZED (
        SELECT state, CAST(1000000 // ks.k AS BIGINT) AS pi_fp
        FROM states CROSS JOIN ks
    )"""
    ]
    cur = "pi0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""pi{i} AS MATERIALIZED (
        SELECT p.dst AS state,
               CAST(SUM(r.pi_fp * p.p_fp) // 1000000 AS BIGINT) AS pi_fp
        FROM {cur} r JOIN p ON p.src = r.state
        GROUP BY p.dst
    )"""
        )
        cur = f"pi{i}"
    parts.append(
        f"""fin AS (
        SELECT s.state,
               CAST(COALESCE(last.pi_fp, 0) AS BIGINT) AS pi_ppm,
               CAST(COALESCE(prev.pi_fp, 0) AS BIGINT) AS pi_prev_ppm
        FROM states s
        LEFT JOIN pi{iterations} last ON last.state = s.state
        LEFT JOIN pi{iterations - 1} prev ON prev.state = s.state
    )
    SELECT state, pi_ppm, pi_prev_ppm,
           CAST(pi_ppm - pi_prev_ppm AS BIGINT) AS delta_ppm
    FROM fin"""
    )
    return ",\n    ".join(parts)


@register(
    "q_markov_stationary",
    oracle=_stationary_oracle(iterations=6),
    doc=(
        "Stationary distribution of the user-journey Markov chain by "
        "fixed-point power iteration (6 rounds) — completes "
        "q_markov_transitions (the matrix) with its long-run read, in "
        "the PageRank integer discipline (pi' = sum(pi * p_fp) div "
        "scale; products bounded by scale^2; floor leaks identical "
        "cross-engine). The state space is the event-type vocabulary, "
        "so every iteration is MODEL-sized — the corpus-sized work is "
        "the one upstream pair count. Emits (pi_ppm, pi_prev_ppm, "
        "delta_ppm): data-computed convergence evidence (the k-truss "
        "self-reporting rule). tests/test_markov_stationary.py."
    ),
    tags=("stats", "markov", "iterative", "fixed-point"),
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        markov_stationary,
    )

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return markov_stationary(pairs, iterations=6)


# --------------------------------------------------------------------------
# LLM-data (operators/text.py, dedup.py; tests/test_llm_r12.py,
# test_text_r12.py)
# --------------------------------------------------------------------------


@register(
    "q_zipf_rank_freq",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks WHERE token <> '' GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    ranked AS (
        SELECT token, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, token)
                    AS BIGINT) AS rank
        FROM counts
    )
    SELECT rank, token, cnt,
           CAST(rank * cnt AS BIGINT) AS zipf_product,
           CAST((1000000 * cnt) // total AS BIGINT) AS share_ppm,
           total
    FROM ranked CROSS JOIN tot
    WHERE rank <= 100
    """,
    doc=(
        "Zipf rank-frequency audit — top-100 token table with exact "
        "counts, corpus-share ppm, and the LOG-FREE rank*freq product "
        "(Zipf predicts ~constant over the head; ln is the banned "
        "transcendental). The concentration twin of "
        "q_heaps_vocab_growth; total-ordered by (cnt DESC, token). "
        "tests/test_llm_r12.py."
    ),
    tags=("llm-data", "text", "topk"),
)
def q_zipf_rank_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import zipf_rank_freq

    return zipf_rank_freq(
        load_table(spark, "documents", sf_dir), "text", topk=100
    )


@register(
    "q_base64_roundtrip",
    oracle="""
    SELECT doc_id AS id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(base64(encode(text))) AS BIGINT) AS n_b64,
           md5(base64(encode(text))) AS b64_md5,
           decode(from_base64(base64(encode(text)))) = text AS roundtrip_ok
    FROM documents
    """,
    doc=(
        "Base64 round-trip audit — native RFC-4648 encode on both "
        "engines, md5 + length + round-trip flag cell-exact. GOTCHA "
        "pinned: Spark's base64 emits MIME-CHUNKED output (76-char "
        "CRLF lines) where DuckDB emits one line — the operator "
        "strips CR/LF (unbase64 accepts both). All JVM codegen, no "
        "UDF. tests/test_llm_r12.py incl. the RFC 'Man' -> 'TWFu' "
        "pin."
    ),
    tags=("llm-data", "encoding", "audit"),
)
def q_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import (
        base64_roundtrip_audit,
    )

    return base64_roundtrip_audit(
        load_table(spark, "documents", sf_dir), "doc_id", "text"
    )


def _lsh_recall_oracle(
    threshold: float = 0.5, sample_mod: int | None = None
) -> str:
    """md5-hash-family LSH recall oracle (view-name twin of
    tests/test_llm_r12.py:lsh_recall_oracle) — seeded affine minhash
    params embedded as SQL literals at registration time (the
    seeded-constants oracle trick). ``sample_mod`` mirrors the
    operator's md5-residue document sample (round-12 verdict scale
    fix)."""
    from kafka_streams_aggregate_spark.operators.dedup import (
        _MERSENNE61,
        _affine_params,
    )

    k, bands, seed = 32, 8, 42
    params = _affine_params(k, seed)
    rpb = k // bands
    mins = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE61}) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, substr(md5("
        + " || ',' || ".join(
            f"s{bi * rpb + ri}::VARCHAR" for ri in range(rpb)
        )
        + "), 1, 16) AS bkey FROM sigs"
        for bi in range(bands)
    )
    shingles = (
        "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2,"
        " 1) + 1), i -> array_to_string(list_slice(string_split(text, ' '),"
        " CAST(i AS INT), CAST(i + 2 AS INT)), ' '))"
    )
    where_sample = (
        ""
        if sample_mod is None
        else (
            "\n              WHERE ('0x' || substr(md5(CAST(doc_id"
            f" AS VARCHAR)), 1, 2))::BIGINT % {sample_mod} = 0"
        )
    )
    return f"""
    WITH idx AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({shingles}) AS shingle
              FROM documents{where_sample})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id),
    allpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM idx a JOIN idx b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b FROM allpairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE)
              >= {threshold}
    ),
    hs AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483648 AS h
        FROM idx
    ),
    sigs AS (
        SELECT doc_id,
           {mins}
        FROM hs GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                    AND a.doc_id < b.doc_id
    ),
    lsh AS (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN allpairs p ON p.id_a = c.id_a AND p.id_b = c.id_b
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        WHERE CAST(p.c AS DOUBLE) / CAST(sa.sz + sb.sz - p.c AS DOUBLE)
              >= {threshold}
    ),
    hit AS (
        SELECT l.* FROM lsh l
        JOIN truth t ON t.id_a = l.id_a AND t.id_b = l.id_b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
           CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
                CAST((1000000 * (SELECT COUNT(*) FROM hit))
                     // (SELECT COUNT(*) FROM truth) AS BIGINT) END
               AS recall_ppm
    """


@register(
    "q_lsh_recall_audit",
    oracle=_lsh_recall_oracle(threshold=0.5, sample_mod=2),
    doc=(
        "MinHash-LSH recall audit — recall of the 32-hash/8-band "
        "banding against UNCAPPED exact-Jaccard truth at threshold "
        "0.5 (lsh subset-of truth by construction since LSH "
        "candidates are exact-verified; n_hit == n_lsh is the "
        "self-check, asserted in tests). The dedup twin of "
        "q_ann_recall_audit; the md5 hash family makes the whole "
        "audit oracle-able end to end. SCALE SCOPE (round-12 verdict "
        "fix): the whole audit runs on the deterministic md5-residue "
        "HALF of the corpus (md5(doc_id) % 2 = 0, operator and "
        "oracle) — the uncapped truth join is O(sum df^2) and one "
        "1e5-doc stop-shingle would emit 1e10 pairs at real scale; "
        "recall on a hash sample of documents is an unbiased "
        "estimate of banding recall (the closeness_sampled "
        "precedent), pair yield falls ~mod^2 (sf0.1: 256 -> 66 truth "
        "pairs), join cost likewise. tests/test_llm_r12.py "
        "(full-corpus parity) + the sampled registration."
    ),
    tags=("llm-data", "dedup", "lsh", "recall-audit"),
)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import lsh_recall_audit

    return lsh_recall_audit(
        load_table(spark, "documents", sf_dir),
        "doc_id",
        "text",
        threshold=0.5,
        hash_family="md5",
        sample_mod=2,
    )


@register(
    "q_unicode_nfc_audit",
    oracle="""
    WITH aug AS (
        SELECT doc_id AS id,
               text || ' cafe' || chr(769) || ' no' || chr(776) || 'el'
                   AS t
        FROM documents
    )
    SELECT id,
           CAST(length(t) AS BIGINT) AS n_chars_raw,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc,
           t <> nfc_normalize(t) AS changed,
           md5(nfc_normalize(t)) AS nfc_md5
    FROM aug
    """,
    doc=(
        "Unicode NFC normalization audit — the canonicalization step "
        "exact dedup silently depends on (decomposed 'cafe'+U+0301 "
        "md5-differs from its precomposed twin). Spark has no NFC "
        "builtin -> Arrow-batched mapInPandas over stdlib "
        "unicodedata, hash-verified against DuckDB's native "
        "nfc_normalize + md5. Registered input plants a decomposed "
        "sequence via Python unicode literals (GOTCHA pinned: Spark "
        "chr() is ASCII-mod-256 where DuckDB's is code-point). "
        "Round-12 advice fix registered: NULL text propagates NULL "
        "outputs. tests/test_text_r12.py."
    ),
    tags=("llm-data", "unicode", "dedup-prep", "pandas-udf"),
)
def q_unicode_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import unicode_nfc_audit

    aug = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" cafe\u0301 no\u0308el")).alias("t"),
    )
    return unicode_nfc_audit(aug, "doc_id", "t")


# --------------------------------------------------------------------------
# Spatial (operators/spatial.py; tests/test_spatial_r12.py)
# --------------------------------------------------------------------------


def _md5_points_sql(with_z: bool) -> str:
    z = (
        ",\n               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),"
        " 9, 4))::BIGINT AS z"
        if with_z
        else ""
    )
    return f"""
        SELECT CAST(o_orderkey AS BIGINT) AS id,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT AS x,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 5, 4))::BIGINT AS y{z}
        FROM orders
    """


def _md5_points(spark: SparkSession, sf_dir: str, with_z: bool = False):
    cols = [
        F.col("o_orderkey").alias("id"),
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 4), 16, 10)"
            " AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 5, 4), 16, 10)"
            " AS BIGINT)"
        ).alias("y"),
    ]
    if with_z:
        cols.append(
            F.expr(
                "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 9, 4),"
                " 16, 10) AS BIGINT)"
            ).alias("z")
        )
    return load_table(spark, "orders", sf_dir).select(*cols)


def _zorder3d_oracle() -> str:
    from kafka_streams_aggregate_spark.operators.spatial import (
        morton3_expr_sql,
    )

    return (
        """
    WITH pts AS ("""
        + _md5_points_sql(with_z=True)
        + """),
    coded AS (SELECT x, y, z, {morton} AS m FROM pts)
    SELECT CAST(m // {shift} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
           CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
           CAST(MIN(z) AS BIGINT) AS z_min, CAST(MAX(z) AS BIGINT) AS z_max
    FROM coded GROUP BY 1
    """.replace(
            "{morton}", morton3_expr_sql("x", "y", "z", 16, idiv="//")
        ).replace("{shift}", str(1 << (3 * 16 - 6)))
    )


@register(
    "q_zorder3d_buckets",
    oracle=_zorder3d_oracle(),
    doc=(
        "3-D Morton (z-order) bucket statistics over synthetic "
        "(x, y, z) md5 coordinates — the spatio-temporal (x, y, time) "
        "layout lane: one generated SQL expression interleaves 16 "
        "bits per axis (3*16 = 48 <= 62, the shift-cap guard), top 6 "
        "bits = 64 octree buckets, per-bucket bbox min/max. Every "
        "bucket bbox sits inside one aligned 2^14 octree cell on all "
        "three axes (asserted in tests). All integer codegen, no "
        "UDF. tests/test_spatial_r12.py."
    ),
    tags=("spatial", "zorder", "layout"),
)
def q_zorder3d_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.spatial import (
        zorder3d_bucket_stats,
    )

    return zorder3d_bucket_stats(
        _md5_points(spark, sf_dir, with_z=True),
        "x",
        "y",
        "z",
        bits=16,
        bucket_bits=6,
    )


@register(
    "q_knn_grid",
    oracle=(
        """
    WITH pts AS ("""
        + _md5_points_sql(with_z=False)
        + """),
    q AS (SELECT * FROM pts WHERE id % 20 = 0),
    cand AS (
        SELECT q.id AS id_a, p.id AS id_b,
               CAST((q.x - p.x) * (q.x - p.x)
                    + (q.y - p.y) * (q.y - p.y) AS BIGINT) AS dist_sq
        FROM q JOIN pts p ON q.id <> p.id
        WHERE (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y)
              <= 1024 * 1024
    )
    SELECT id_a, id_b, dist_sq,
           CAST(row_number() OVER (PARTITION BY id_a
                                   ORDER BY dist_sq, id_b) AS BIGINT) AS rank
    FROM cand QUALIFY rank <= 5
    """
    ),
    doc=(
        "Bounded-radius grid kNN — per-query k=5 nearest within "
        "r=1024 over 16-bit md5 coordinates, probes id % 20 = 0. The "
        "3x3-cell candidate set (cell size = radius) is COMPLETE "
        "within r, so the grid answer is EXACT for the bounded "
        "problem (contract documented); exact int64 distances, "
        "per-query total-ordered top-k with id tiebreak. The grid "
        "bucket equi-join is the 100 TB shape (candidates per query "
        "~ 9 cells, never all points); the oracle pays the quadratic "
        "scan only at sf0.01. Radius is the measured scale knob: "
        "r=2048 admits ~4x the candidates for identical top-5 output "
        "at sf0.1 (8.9 vs 3.5s) — registered at the tight radius "
        "that still saturates k. tests/test_spatial_r12.py incl. "
        "3-4-5 hand pins (r=2048 there)."
    ),
    tags=("spatial", "knn", "grid-join", "topk"),
)
def q_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.spatial import knn_grid

    pts = _md5_points(spark, sf_dir)
    queries = pts.where(F.col("id") % 20 == 0).select("id")
    return knn_grid(pts, queries, "id", "x", "y", radius=1024, k=5)


# --------------------------------------------------------------------------
# Data infrastructure (operators/sharding.py, costing.py, text.py,
# multimodal.py)
# --------------------------------------------------------------------------

_HRW_H = "CAST(CONCAT('0x', substr(md5({e}), 1, 15)) AS BIGINT)"
_HRW_W56 = "CAST(CONCAT('0x', substr(md5({e}), 1, 14)) AS BIGINT)"


def _hrw_best_sql(key_expr: str, n: int) -> str:
    """DuckDB argmax over shards via greatest() on PACKED w*16+shard
    ordinals — mirrors the Spark construction exactly (DuckDB's
    greatest rejects structs; ties toward the higher shard id)."""
    packed = ", ".join(
        _HRW_W56.format(e=f"{key_expr} || '#{s}'") + f" * 16 + {s}"
        for s in range(n)
    )
    return f"greatest({packed}) % 16"


@register(
    "q_rendezvous_sharding",
    oracle=f"""
    WITH k AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS key FROM orders
    ),
    a AS (
        SELECT key,
               {_hrw_best_sql('key', 8)} AS shard_before,
               {_hrw_best_sql('key', 9)} AS shard_after,
               {_HRW_H.format(e='key')} % 8 AS mb,
               {_HRW_H.format(e='key')} % 9 AS ma
        FROM k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN shard_before <> shard_after
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_hrw,
           CAST(SUM(CASE WHEN mb <> ma THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved_mod,
           CAST((1000000 * SUM(CASE WHEN shard_before <> shard_after
                    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
               AS hrw_moved_ppm,
           CAST((1000000 * SUM(CASE WHEN mb <> ma THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS mod_moved_ppm
    FROM a
    """,
    doc=(
        "Rendezvous (HRW) sharding with the minimal-movement audit — "
        "highest-random-weight key->shard assignment on the md5 hash "
        "family, growing 8 -> 9 shards: HRW moves ~1/9 of keys and "
        "every mover lands on the new shard (asserted in tests); the "
        "mod-N strawman's ~8/9 churn emitted for contrast. "
        "Portability gotcha pinned: DuckDB greatest() rejects "
        "structs, so the argmax is PACKED ordinals w56*16 + shard "
        "(56-bit weight keeps the pack in signed int64; n_shards <= "
        "16 contract). All JVM codegen. tests/test_text_r12.py."
    ),
    tags=("infra", "sharding", "hash-family"),
)
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.sharding import (
        rendezvous_movement_audit,
    )

    keys = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").cast("string").alias("key")
    )
    return rendezvous_movement_audit(keys, "key", 8, 9)


@register(
    "q_newsvendor",
    oracle="""
    WITH dem AS (
        SELECT l_partkey AS product,
               CAST(datediff('day', DATE '1970-01-01',
                             CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
               CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT product, q,
               CAST(row_number() OVER (PARTITION BY product ORDER BY q, d)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY product) AS BIGINT) AS n
        FROM dem
    )
    SELECT product AS group_key,
           CAST(MAX(n) AS BIGINT) AS n_periods,
           CAST(666666 AS BIGINT) AS cr_ppm,
           CAST(MIN(CASE WHEN rn >= (666666 * n + 999999) // 1000000
                         THEN q END) AS BIGINT) AS q_star,
           CAST(MAX(q) AS BIGINT) AS q_max
    FROM ranked GROUP BY product
    """,
    doc=(
        "Newsvendor order quantity per product — critical fractile "
        "CR = (p-c)/p = 666666 ppm from config cents (price 300, "
        "cost 100), q* selected by the integer ceil-rank "
        "(CR*n + 999999) div 1e6 over the empirical per-shipdate "
        "demand distribution (the q_winsorize conditional-min shape; "
        "ceil-rank, never ceil(0.95*n) float). Completes the "
        "safety-stock / EOQ / (s,S) / newsvendor policy quartet. "
        "tests/test_stats_r12.py incl. CR=2/3 and CR=1/2 hand pins."
    ),
    tags=("costing", "inventory-policy", "quantile"),
)
def q_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.costing import (
        newsvendor_policy,
    )

    dem = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy(
            F.col("l_partkey").alias("product"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(l_quantity) AS BIGINT)"))
            .cast("bigint")
            .alias("q")
        )
    )
    return newsvendor_policy(
        dem, "product", "q", "d", price_cents=300, cost_cents=100
    )


# machine-minified JSON, keys pre-sorted ("meta" < "score" < "tags"),
# synthesized identically in both engines — to_json(variant) SORTS
# object keys, so round-trip parity needs key-sorted synthesis
_VARIANT_JSON_SPARK = (
    "concat('{\"meta\":{\"src\":\"', source, '\"},\"score\":', "
    "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT),"
    " ',\"tags\":[\"t', CAST(doc_id % 7 AS STRING), '\",\"t',"
    " CAST(doc_id % 3 AS STRING), '\"]}')"
)

_VARIANT_JSON_DUCK = (
    "'{\"meta\":{\"src\":\"' || source || '\"},\"score\":' ||"
    " (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))"
    "::BIGINT)::VARCHAR || ',\"tags\":[\"t' || (doc_id % 7)::VARCHAR ||"
    " '\",\"t' || (doc_id % 3)::VARCHAR || '\"]}'"
)

# built by concatenation — literal JSON braces break str.format
_VARIANT_ORACLE = (
    "\n    WITH j AS (\n        SELECT doc_id AS id, "
    + _VARIANT_JSON_DUCK
    + "\n               AS js\n        FROM documents\n    )\n"
    + """    SELECT id,
           CAST(js->>'$.score' AS BIGINT) AS score,
           js->>'$.meta.src' AS src,
           js->>'$.tags[0]' AS first_tag,
           CAST(json_array_length(js, '$.tags') AS BIGINT) AS n_tags,
           js AS canonical
    FROM j
"""
)


@register(
    "q_variant_shred",
    oracle=_VARIANT_ORACLE,
    doc=(
        "Semi-structured VARIANT shredding (Spark 4 engine surface) — "
        "parse machine-minified JSON ONCE into the binary VARIANT "
        "encoding (parse_json), extract typed fields with "
        "variant_get path expressions (bigint, string, array element, "
        "array length), and re-serialize canonically with "
        "to_json(variant). GOTCHA pinned: the VARIANT encoding SORTS "
        "object keys, so the synthesis writes keys pre-sorted to make "
        "the round-trip exact; the DuckDB oracle reads the same "
        "fields with native JSON paths — parity is on the VALUES, "
        "which is what shredding must preserve. All JVM-side, no "
        "UDF, no shuffle. tests/test_variant_shred.py."
    ),
    tags=("engine-surface", "variant", "semi-structured"),
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import (
        variant_shred_audit,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.expr(_VARIANT_JSON_SPARK).alias("js")
    )
    return variant_shred_audit(docs, "doc_id", "js")


@register(
    "q_zip_members",
    oracle="""
    SELECT doc_id // 8 AS shard_id,
           printf('doc_%08d.txt', doc_id) AS member_name,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           TRUE AS crc_ok
    FROM documents
    """,
    doc=(
        "ZIP stored-member shards, synthesized and read back — REAL "
        "PKZIP bytes (local headers, central directory, EOCD, true "
        "zlib CRC-32s; stdlib-zipfile-verified in tests); the reader "
        "resolves members THROUGH the central directory (the "
        "random-access loader path), recomputes CRC-32, cross-checks "
        "central vs local sizes, and fails CLOSED per shard on a "
        "broken EOCD. Content integrity = md5(text), which DuckDB "
        "computes natively — the oracle needs no ZIP decoder (the "
        "round-9 tar-shard trick). mapInPandas kernels both ways. "
        "tests/test_zip_shards.py incl. corrupt-byte/broken-EOCD "
        "fail-closed pins."
    ),
    tags=("multimodal", "formats", "shards", "pandas-udf"),
)
def q_zip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.multimodal import (
        read_zip_members,
        synthesize_zip_shards,
    )

    docs = load_table(spark, "documents", sf_dir)
    return read_zip_members(synthesize_zip_shards(docs))


# --------------------------------------------------------------------------
# Engine feature graduated to a query-backed row (r11 verdict item 7)
# --------------------------------------------------------------------------


@register(
    "q_aqe_coalesce_agg",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           TRUE AS aqe_coalesced,
           TRUE AS partitions_bounded
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc=(
        "AQE shuffle-partition coalescing, query-backed (the "
        "q_bloom_filter_join graduation precedent): a 200-partition "
        "shuffle declared over a small aggregate collapses at runtime "
        "to a handful of post-shuffle partitions (AQEShuffleRead "
        "coalesced) — the mechanism that lets ONE global "
        "spark.sql.shuffle.partitions setting serve both the 100 TB "
        "fact shuffle and the 10-row dimension rollup without "
        "per-query tuning. The query declares 200 partitions (conf "
        "set/restored around execution), materializes via eager "
        "localCheckpoint, then inspects the EXECUTED plan for the "
        "coalesced AQEShuffleRead and the materialized partition "
        "count (<= 16) and emits both as columns the oracle expects "
        "TRUE — if Spark ever stops coalescing, the driver row goes "
        "red. Same machinery as tests/test_scale_features.py:"
        "test_aqe_coalesces_small_shuffle_partitions, now "
        "driver-checked."
    ),
    tags=("scale", "aqe", "engine-surface"),
)
def q_aqe_coalesce_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        j = orders.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        jc = j.localCheckpoint(eager=True)
        plan = j._jdf.queryExecution().executedPlan().toString()
        coalesced = "AQEShuffleRead" in plan and "coalesced" in plan
        bounded = jc.rdd.getNumPartitions() <= 16
        return jc.withColumn("aqe_coalesced", F.lit(coalesced)).withColumn(
            "partitions_bounded", F.lit(bounded)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@register(
    "q_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                THEN 2 * CAST(floor(o_totalprice * 100) AS BIGINT)
                ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END)
                AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc=(
        "Dynamic partition overwrite, query-backed (the r9 engine row "
        "graduated per the bloom/AQE precedent): a priority-"
        "partitioned copy of orders is written, then ONLY the "
        "1-URGENT partition is rewritten (values doubled) under "
        "spark.sql.sources.partitionOverwriteMode=dynamic — the "
        "incremental-reprocessing primitive a 100 TB backfill depends "
        "on (static mode would DELETE the other partitions; if Spark "
        "ever regressed, every non-urgent row would vanish and the "
        "driver hash goes red — the data itself is the assertion, no "
        "plan inspection needed). Read back with partition inference, "
        "aggregated per priority; conf restored; temp dir removed "
        "after an eager localCheckpoint (the repo's write-query "
        "discipline, q_csv_source_roundtrip precedent)."
    ),
    tags=("scale", "writes", "engine-surface", "partitioning"),
)
def q_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    dynamic = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    with workdir(spark, conf=dynamic) as work:
        out = f"{work}/orders_part"
        base = load_table(spark, "orders", sf_dir).select(
            F.col("o_orderkey").alias("ok"),
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
            F.col("o_orderpriority").alias("priority"),
        )
        base.write.partitionBy("priority").parquet(out)
        (
            base.where(F.col("priority") == "1-URGENT")
            .withColumn("cents", (F.col("cents") * 2).cast("bigint"))
            .write.mode("overwrite")
            .partitionBy("priority")
            .parquet(out)
        )
        return (
            spark.read.parquet(out)
            .groupBy("priority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Same-round graduation of the round-13 staging batch (window had
# spare slots: 28 + 9 + 1 rotation + 2 tier-2 + 5 pins = 45 <= 50).
# Operators + oracle texts landed with tests this round
# (tests/test_stats_r13.py, test_stats_r13b.py, test_graph_r13.py,
# test_gzip_shards.py).
# --------------------------------------------------------------------------

# k=5 market segments per nation, balances in cents
_SEG_SQL = """
        SELECT CAST(c_nationkey AS BIGINT) AS g, c_mktsegment AS t,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
"""

_ANOVA_TAIL = """
    agg AS (
        SELECT g AS group_key,
               CAST(COUNT(*) AS BIGINT) AS k_treatments,
               CAST(SUM(n_j) AS BIGINT) AS n_total,
               CAST(SUM(s_j) AS BIGINT) AS s_total,
               SUM((n_j * q_j - CAST(s_j AS HUGEINT) * s_j) // n_j)
                   AS ssw_w,
               SUM((CAST(s_j AS HUGEINT) * s_j) // n_j) AS sqn_w
        FROM per_t GROUP BY g
    )
    SELECT group_key, k_treatments, n_total,
           CAST(ssw_w AS BIGINT) AS ssw,
           CAST(sqn_w - (CAST(s_total AS HUGEINT) * s_total) // n_total
                AS BIGINT) AS ssb,
           CASE WHEN k_treatments >= 2 AND n_total > k_treatments
                 AND ssw_w > 0 THEN
                CAST((CAST(1000000 AS HUGEINT)
                      * (sqn_w - (CAST(s_total AS HUGEINT) * s_total)
                         // n_total)
                      * (n_total - k_treatments))
                     // (ssw_w * (k_treatments - 1)) AS BIGINT) END
               AS f_ppm
    FROM agg
"""


def _seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.col("c_mktsegment").alias("t"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("v"),
    )


@register(
    "q_anova_oneway",
    oracle=(
        f"""
    WITH s AS ({_SEG_SQL}),
    per_t AS (
        SELECT g, t, CAST(COUNT(*) AS BIGINT) AS n_j,
               CAST(SUM(v) AS BIGINT) AS s_j,
               SUM(CAST(v AS HUGEINT) * v) AS q_j
        FROM s GROUP BY g, t
    ),"""
        + _ANOVA_TAIL
    ),
    doc=(
        "One-way ANOVA F per nation across the k=5 market segments — "
        "the classical parametric k-sample test completing the "
        "two-sample family (Welch t / MW / KS / CvM / energy). "
        "Exact-integer floor discipline: float sums across a variable "
        "treatment count are aggregation-order-dependent, so each "
        "treatment's SS contribution is FLOORED to an exact integer "
        "first (ssw = sum (n_j*Q_j - S_j^2) div n_j; ssb via S_j^2 "
        "div n_j), squares on DECIMAL(38,0)/HUGEINT, F as ONE wide "
        "division ppm-scaled. tests/test_stats_r13.py incl. the "
        "ssb=100/ssw=4 hand pin."
    ),
    tags=("stats", "anova", "k-sample", "exact-integer"),
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import anova_oneway

    return anova_oneway(_seg(spark, sf_dir), "g", "t", "v")


@register(
    "q_levene_bf",
    oracle=(
        f"""
    WITH s AS ({_SEG_SQL}),
    ranked AS (
        SELECT g, t, v,
               row_number() OVER (PARTITION BY g, t ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY g, t) AS n
        FROM s
    ),
    med AS (
        SELECT g, t,
               CAST(CASE WHEN MAX(n) % 2 = 1
                    THEN 2 * MAX(CASE WHEN rn * 2 = n + 1 THEN v END)
                    ELSE MAX(CASE WHEN rn * 2 = n THEN v END)
                         + MAX(CASE WHEN rn * 2 = n + 2 THEN v END) END
                    AS BIGINT) AS med2
        FROM ranked WHERE rn * 2 IN (n, n + 1, n + 2)
        GROUP BY g, t
    ),
    dev AS (
        SELECT s.g, s.t, abs(2 * s.v - m.med2) AS z2
        FROM s JOIN med m ON m.g = s.g AND m.t = s.t
    ),
    per_t AS (
        SELECT g, t, CAST(COUNT(*) AS BIGINT) AS n_j,
               CAST(SUM(z2) AS BIGINT) AS s_j,
               SUM(CAST(z2 AS HUGEINT) * z2) AS q_j
        FROM dev GROUP BY g, t
    ),"""
        + _ANOVA_TAIL
    ),
    doc=(
        "Brown-Forsythe robust variance-equality test per nation — "
        "the median-centered Levene variant (the recommended default, "
        "robust to non-normality): z = |v - median| per segment, then "
        "one-way ANOVA's F over the deviations. Medians ride the "
        "DOUBLED integer space (2*med = 2*mid odd / lo+hi even — no "
        "halving, no float), deviations |2v - med2| exact int, and "
        "the shared _anova_core floor discipline applies verbatim. "
        "tests/test_stats_r13.py incl. the tight-vs-spread hand pin."
    ),
    tags=("stats", "variance-test", "robust", "exact-integer"),
)
def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        levene_brown_forsythe,
    )

    return levene_brown_forsythe(_seg(spark, sf_dir), "g", "t", "v")


@register(
    "q_wilcoxon_signed",
    oracle="""
    WITH p AS (
        SELECT source AS g,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))::BIGINT
                   AS a,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 13, 4))::BIGINT
                   AS b
        FROM documents
    ),
    nz AS (SELECT g, a - b AS d FROM p WHERE a - b <> 0),
    by_mag AS (
        SELECT g, abs(d) AS ad,
               CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM nz GROUP BY g, abs(d)
    ),
    ranked AS (
        SELECT g, cp, c,
               CAST(SUM(c) OVER (PARTITION BY g ORDER BY ad
                    ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS cum_prev
        FROM by_mag
    ),
    agg AS (
        SELECT g AS group_key,
               CAST(SUM(c) AS BIGINT) AS n_pairs,
               CAST(SUM(cp * (2 * cum_prev + c + 1)) AS BIGINT) AS w2_plus,
               CAST(SUM(c * c * c - c) AS BIGINT) AS t_ties
        FROM ranked GROUP BY g
    )
    SELECT group_key, n_pairs, w2_plus, t_ties,
           CASE WHEN n_pairs > 0 AND
                2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) - t_ties > 0
                THEN (CAST(2 * w2_plus - n_pairs * (n_pairs + 1) AS DOUBLE)
                      / 2.0)
                     / sqrt(CAST(2 * n_pairs * (n_pairs + 1)
                                 * (2 * n_pairs + 1) - t_ties AS DOUBLE)
                            / 12.0) END AS z
    FROM agg
    """,
    doc=(
        "Wilcoxon signed-rank test per source over md5-paired scores "
        "— the nonparametric paired twin of McNemar/paired-t: d = "
        "a - b, zeros dropped, |d| midranked in the DOUBLED integer "
        "space via one support-level rollup, W2P = 2*W+ exact int64; "
        "the normal-approximation z with the standard tie correction "
        "keeps exact integer moments (VAR12 = 2n(n+1)(2n+1) - "
        "sum(c^3-c)) and a fixed-op float tail — hex-pinned bit-equal "
        "in tests. tests/test_stats_r13.py."
    ),
    tags=("stats", "nonparametric", "paired-test"),
)
def q_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    p = load_table(spark, "documents", sf_dir).select(
        F.col("source").alias("g"),
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 9, 4), 16, 10)"
            " AS BIGINT)"
        ).alias("a"),
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 13, 4), 16, 10)"
            " AS BIGINT)"
        ).alias("b"),
    )
    return wilcoxon_signed_rank(p, "g", "a", "b")


@register(
    "q_cochran_q",
    oracle="""
    WITH s AS (
        SELECT source AS g, doc_id AS i, r.t,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          1 + 2 * r.t, 2))::BIGINT % 3 = 0
                    THEN 1 ELSE 0 END AS y
        FROM documents
        CROSS JOIN (SELECT * FROM (VALUES (0), (1), (2)) v(t)) r
    ),
    rows_ AS (
        SELECT g, i, CAST(SUM(y) AS BIGINT) AS l_i
        FROM s GROUP BY g, i
    ),
    row_agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(l_i) AS BIGINT) AS n_success,
               CAST(SUM(l_i * l_i) AS BIGINT) AS l2
        FROM rows_ GROUP BY g
    ),
    cols_ AS (
        SELECT g, t, CAST(SUM(y) AS BIGINT) AS g_j
        FROM s GROUP BY g, t
    ),
    col_agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS k_treatments,
               CAST(SUM(g_j * g_j) AS BIGINT) AS g2
        FROM cols_ GROUP BY g
    )
    SELECT r.g AS group_key, k_treatments, n_items, n_success,
           CASE WHEN k_treatments * n_success - l2 > 0 THEN CAST(
                (1000000 * (k_treatments - 1)
                 * (k_treatments * g2 - n_success * n_success))
                // (k_treatments * n_success - l2) AS BIGINT) END AS q_ppm
    FROM row_agg r JOIN col_agg c ON c.g = r.g
    """,
    doc=(
        "Cochran's Q per source — do k=3 md5-synthesized binary "
        "raters mark the same documents at different rates? (The "
        "k-sample extension of McNemar.) Fully exact integer in the "
        "one-common-denominator form Q = (k-1)(k*sum G_j^2 - N^2) / "
        "(kN - sum L_i^2), ppm-scaled; complete blocks enforced with "
        "the round-12 Friedman gate (count(*) == countDistinct == k "
        "per item). tests/test_stats_r13.py incl. the Q=4 hand pin "
        "and incomplete-item drop."
    ),
    tags=("stats", "nonparametric", "rater-agreement"),
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import cochran_q

    y = (
        "CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)),"
        " {off}, 2), 16, 10) AS BIGINT) % 3 = 0 THEN 1 ELSE 0 END"
    )
    s = load_table(spark, "documents", sf_dir).selectExpr(
        "source AS g",
        "doc_id AS i",
        f"stack(3, CAST(0 AS BIGINT), {y.format(off=1)},"
        f" CAST(1 AS BIGINT), {y.format(off=3)},"
        f" CAST(2 AS BIGINT), {y.format(off=5)}) AS (t, y)",
    )
    return cochran_q(s, "g", "i", "t", "y")


@register(
    "q_changepoint_binseg",
    oracle="""
    WITH s AS (
        SELECT user_id AS g,
               CAST(floor(value * 100) AS BIGINT) AS x,
               ts, event_id
        FROM events
    ),
    staged AS (
        SELECT g,
               CAST(row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
                    AS BIGINT) AS rn,
               CAST(SUM(x) OVER (PARTITION BY g ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_l,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
               CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS s
        FROM s
    ),
    scored AS (
        SELECT g, rn, n, s, s_l, s - s_l AS s_r,
               CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE)
                   / CAST(rn AS DOUBLE)
               + CAST(s - s_l AS DOUBLE) * CAST(s - s_l AS DOUBLE)
                   / CAST(n - rn AS DOUBLE) AS j
        FROM staged WHERE rn < n
    ),
    top AS (
        SELECT *, row_number() OVER (PARTITION BY g
                   ORDER BY j DESC, rn) AS _r
        FROM scored
    )
    SELECT g AS group_key, rn AS split_at, rn AS n_left,
           n - rn AS n_right, s_l AS s_left, s_r AS s_right,
           CAST((1000000 * ((s_l * s_l) // rn + (s_r * s_r) // (n - rn)
                 - (s * s) // n)) // ((s * s) // n + 1) AS BIGINT)
               AS gain_ppm
    FROM top WHERE _r = 1
    """,
    doc=(
        "Best single change point per user (one binary-segmentation "
        "step) over the event value series — split t maximizing "
        "J(t) = S_l^2/n_l + S_r^2/n_r (== minimizing two-segment "
        "SSE). Prefix sums exact int64 in one cumulative window; J is "
        "a fixed sequence of exact-operand IEEE divides/adds (no "
        "transcendentals -> bit-equal ordering cross-engine), argmax "
        "total-ordered by (J DESC, t). gain_ppm vs the no-split "
        "objective in exact integer floor form (int64 while "
        "scale*S^2/n < 9e18 — cents-scale event series to ~1e9 rows/"
        "group). O(n) candidates per group. "
        "tests/test_stats_r13b.py incl. the level-shift hand pin."
    ),
    tags=("stats", "changepoint", "time-series"),
)
def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        changepoint_binseg,
    )

    ev = load_table(spark, "events", sf_dir).select(
        F.col("user_id").alias("g"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("x"),
        "ts",
        "event_id",
    )
    return changepoint_binseg(ev, "g", ["ts", "event_id"], "x")


@register(
    "q_seasonal_decompose",
    oracle="""
    WITH monthly AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                    AS BIGINT) AS month_idx,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    trend AS (
        SELECT g, month_idx, v,
               CAST(lag(v, 6) OVER w + 2 * SUM(v) OVER (PARTITION BY g
                        ORDER BY month_idx
                        ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
                    + lead(v, 6) OVER w AS BIGINT) AS trend2x24,
               COUNT(*) OVER (PARTITION BY g ORDER BY month_idx
                    ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS win_n,
               MAX(month_idx) OVER (PARTITION BY g ORDER BY month_idx
                    ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
               - MIN(month_idx) OVER (PARTITION BY g ORDER BY month_idx
                    ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS win_span
        FROM monthly
        WINDOW w AS (PARTITION BY g ORDER BY month_idx)
    ),
    detr AS (
        SELECT g, month_idx, v, trend2x24,
               CAST(24 * v - trend2x24 AS BIGINT) AS detr24,
               month_idx % 12 AS moy
        FROM trend
        WHERE win_n = 13 AND win_span = 12 AND trend2x24 IS NOT NULL
    ),
    seas AS (
        SELECT g, moy, CAST(SUM(detr24) // COUNT(*) AS BIGINT) AS seas24
        FROM detr GROUP BY g, moy
    )
    SELECT d.g AS group_key, d.month_idx, d.v, d.trend2x24, s.seas24,
           CAST(d.detr24 - s.seas24 AS BIGINT) AS resid24
    FROM detr d JOIN seas s ON s.g = d.g AND s.moy = d.moy
    """,
    doc=(
        "Classical additive seasonal decomposition of monthly revenue "
        "per nation, exact-integer throughout (the period-mean "
        "method): centered 12-month MA trend in the DOUBLED-x-24 "
        "space (half-weight endpoints: x_{t-6} + 2*sum + x_{t+6}), "
        "detrended = 24v - trend, seasonal = floored month-of-year "
        "mean of detrended, residual the exact remainder — the "
        "additive identity 24v = trend + seas + resid holds EXACTLY "
        "(asserted in tests). Gap safety (round-12 advice fix): the "
        "13-row trend frame must ALSO span exactly 12 month indices "
        "(max-min == 12, enforced in operator and oracle), so series "
        "with missing months drop the affected rows instead of "
        "averaging non-adjacent months. tests/test_stats_r13b.py."
    ),
    tags=("stats", "time-series", "decomposition", "exact-integer"),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        seasonal_decompose_monthly,
    )

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    monthly = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("g"),
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
            ).alias("month_idx"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )
    return seasonal_decompose_monthly(monthly, "g", "month_idx", "v")


@register(
    "q_modularity_score",
    oracle=(
        "WITH "
        + _EDGES_SQL.replace("    sym AS (", "    sym_unused AS (")
        + """,
    lab AS (SELECT p_partkey AS node, p_brand AS community FROM part),
    e AS (
        SELECT la.community AS ca, lb.community AS cb
        FROM edges
        JOIN lab la ON la.node = edges.src
        JOIN lab lb ON lb.node = edges.dst
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    intra AS (
        SELECT ca AS community, CAST(COUNT(*) AS BIGINT) AS m_intra
        FROM e WHERE ca = cb GROUP BY ca
    ),
    deg AS (
        SELECT community, CAST(COUNT(*) AS BIGINT) AS degree_sum
        FROM (SELECT ca AS community FROM e
              UNION ALL SELECT cb FROM e)
        GROUP BY community
    ),
    nn AS (
        SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM lab GROUP BY community
    ),
    per_c AS (
        SELECT nn.community, nn.n_nodes,
               CAST(COALESCE(i.m_intra, 0) AS BIGINT) AS m_intra,
               CAST(COALESCE(d.degree_sum, 0) AS BIGINT) AS degree_sum,
               m.m
        FROM nn
        LEFT JOIN deg d ON d.community = nn.community
        LEFT JOIN intra i ON i.community = nn.community
        CROSS JOIN m
    ),
    q AS (
        SELECT CAST((1000000 * SUM(4 * m * m_intra
                    - degree_sum * degree_sum))
                    // (4 * MAX(m) * MAX(m)) AS BIGINT) AS q_ppm
        FROM per_c
    )
    SELECT community, n_nodes, m_intra, degree_sum,
           CAST((1000000 * (4 * m * m_intra - degree_sum * degree_sum))
                // (4 * m * m) AS BIGINT) AS contrib_ppm,
           q.q_ppm
    FROM per_c CROSS JOIN q
    """
    ),
    doc=(
        "Newman modularity of the part-brand partition over the "
        "support>=2 co-purchase graph — the 'is this community "
        "structure better than chance?' audit for any partition "
        "(brand here: deterministic attribute communities, no "
        "clustering run needed). Every community's contribution "
        "collapses to ONE exact rational over the common denominator "
        "4m^2 (Q = sum_c (4*m*m_c - D_c^2) / 4m^2), so per-community "
        "contributions AND the global q_ppm (constant 1-row "
        "broadcast) are exact integer divisions; numerator bound "
        "4m^2, int64 to m ~ 1.5e9 edges. "
        "tests/test_graph_r13.py incl. the two-triangle-bridge pin."
    ),
    tags=("graph", "community", "audit", "exact-integer"),
)
def q_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import modularity_score

    labels = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("node"),
        F.col("p_brand").alias("community"),
    )
    return modularity_score(_copurchase_edges(spark, sf_dir), labels)


@register(
    "q_transitivity",
    oracle=(
        "WITH "
        + _EDGES_SQL.replace("    sym AS (", "    sym_unused AS (")
        + """,
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges x JOIN edges y ON x.dst = y.src
        JOIN edges z ON z.src = x.src AND z.dst = y.dst
    ),
    sym2 AS (
        SELECT src, dst FROM edges
        UNION ALL SELECT dst, src FROM edges
    ),
    wed AS (
        SELECT CAST(SUM(deg * (deg - 1)) AS BIGINT) AS n_wedges_x2
        FROM (SELECT src, COUNT(*) AS deg FROM sym2 GROUP BY src)
    ),
    me AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
    SELECT n_edges, n_triangles,
           CAST(n_wedges_x2 // 2 AS BIGINT) AS n_wedges,
           CASE WHEN n_wedges_x2 > 0 THEN CAST(
                (1000000 * 3 * n_triangles * 2) // n_wedges_x2 AS BIGINT)
           END AS transitivity_ppm
    FROM me CROSS JOIN tri CROSS JOIN wed
    """
    ),
    doc=(
        "Global transitivity (3*triangles/wedges) of the co-purchase "
        "graph — the one-row clustering audit next to the per-node "
        "coefficient: what fraction of open wedges close? Triangles "
        "via the compact-forward enumeration (src<dst edges, two "
        "ordered joins, each triangle once); wedges = sum deg(deg-1) "
        "div 2 on the symmetrized degree. Exact int64; ratio ppm "
        "bounded by 1e6 (3T <= W always). "
        "tests/test_graph_r13.py incl. the triangle+pendant 3/5 pin."
    ),
    tags=("graph", "clustering", "audit", "exact-integer"),
)
def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        transitivity_global,
    )

    return transitivity_global(_copurchase_edges(spark, sf_dir))


@register(
    "q_gzip_members",
    oracle="""
    SELECT doc_id // 8 AS shard_id,
           printf('doc_%08d.txt', doc_id) AS member_name,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           TRUE AS crc_ok
    FROM documents
    """,
    doc=(
        "Concatenated-gzip member shards, synthesized and read back — "
        "the exact container shape Common Crawl WET/WARC files use "
        "(one gzip MEMBER per record, RFC 1952 concatenation): REAL "
        "headers (FNAME flag, MTIME 0), raw-DEFLATE bodies, CRC-32 + "
        "ISIZE trailers; the reader streams member-by-member with a "
        "fresh decompressobj (unused_data hands back the tail), "
        "recomputes BOTH trailer fields from the inflated bytes, and "
        "fails CLOSED on any structural violation. Integrity rides on "
        "the INFLATED content (md5 DuckDB-native), so parity never "
        "depends on compressed-byte stability. mapInPandas kernels "
        "both ways. tests/test_gzip_shards.py incl. stdlib-gzip "
        "round-trip and corrupt-CRC/broken-magic fail-closed pins."
    ),
    tags=("multimodal", "formats", "shards", "llm-data", "pandas-udf"),
)
def q_gzip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.multimodal import (
        read_gzip_members,
        synthesize_gzip_shards,
    )

    docs = load_table(spark, "documents", sf_dir)
    return read_gzip_members(synthesize_gzip_shards(docs))

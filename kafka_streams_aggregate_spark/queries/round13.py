"""Round-13 registrations: the SURVEY §11 staged-operator queue
graduating to driver-verified queries.

Every query here wraps an operator that landed (with unit tests and a
pre-validated cross-engine oracle text) in round 12; oracle SQL is the
test file's registration-ready text with ``read_parquet`` refs swapped
for the driver's pre-registered view names. Spark derivations mirror
the parity tests verbatim, so the driver's hash check re-verifies
exactly what the tests pinned at sf0.001.

The headline slice is the five LLM-prep names — token packing,
negative sampling, split-leakage audit, training-mixture sampling,
int8 quantization recall — which complete the corpus-assembly story
(the stage between a deduplicated pool and a training run) the
LLM-data brief asks for. The rest: experimentation (CUPED,
permutation test), robust/nonparametric statistics (Kendall tau-b,
MAD scaler, trimmed mean, BH-FDR, top paths, lead-lag xcorr,
log-rank, seasonal strength), and market-basket (3-itemsets).

Round-12 advice fixes land registered: negative_sampling derives its
vocabulary via sort+limit top-k (never a vocabulary-sized global
window), seasonal_strength composes over the gap-safe decompose
(13-row frames must span exactly 12 month indices, both engines).

Reference scope note: the reference app (dturanski/
kafka-streams-aggregate, KafkaStreamsInventoryCountApplication.java:
69-85) has no batch-analytics surface — all rows here are
absent-category build-out per SURVEY §2.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.registry import register
from kafka_streams_aggregate_spark.sources.eventlog_source import (
    workdir,
)
from kafka_streams_aggregate_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# LLM training-data prep (operators/llm_prep.py; tests/test_llm_r13.py,
# tests/test_mixture_sample.py)
# --------------------------------------------------------------------------


@register(
    "q_token_packing",
    oracle="""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    staged AS (
        SELECT source, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS start_off
        FROM toks
    ),
    ch AS (
        SELECT *, CAST(start_off // 256 AS BIGINT) AS first_chunk,
               CAST((CASE WHEN n_tokens = 0 THEN start_off
                     ELSE start_off + n_tokens - 1 END) // 256 AS BIGINT)
                   AS last_chunk
        FROM staged
    )
    SELECT source, doc_id, n_tokens, start_off, first_chunk, last_chunk,
           CAST(last_chunk - first_chunk + 1 AS BIGINT)
               AS n_chunks_spanned,
           last_chunk > first_chunk AS is_split
    FROM ch
    """,
    doc=(
        "Context-window packing (concat-and-chunk, budget 256) — the "
        "standard LLM pretraining data layout: per-shard exact "
        "cumulative token offsets, first/last chunk by integer "
        "division, is_split flag; zero-token docs occupy no stream "
        "space. One window per source shard — packing is "
        "embarrassingly parallel across shards, the 100 TB shape "
        "(shard = the unit of parallelism, no global state). "
        "tests/test_llm_r13.py."
    ),
    tags=("llm-data", "corpus-assembly", "packing", "exact-integer"),
)
def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import token_packing

    return token_packing(load_table(spark, "documents", sf_dir), budget=256)


@register(
    "q_negative_sampling",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS token
        FROM documents
    ),
    vocab AS (
        SELECT token,
               CAST(row_number() OVER (ORDER BY COUNT(*) DESC, token) - 1
                    AS BIGINT) AS vidx
        FROM toks GROUP BY token
        QUALIFY vidx < 256
    ),
    pos AS (
        SELECT DISTINCT t.doc_id, t.token
        FROM toks t JOIN vocab v ON v.token = t.token
        WHERE t.doc_id % 10 = 0
    ),
    draws AS (
        SELECT doc_id, token, CAST(r.j AS BIGINT) AS j,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || token
                    || '#' || r.j::VARCHAR), 1, 15))::BIGINT % 256 AS vidx
        FROM pos CROSS JOIN (SELECT unnest(range(0, 4)) AS j) r
    ),
    named AS (
        SELECT d.doc_id, d.token, d.j, v.token AS neg_token
        FROM draws d JOIN vocab v ON v.vidx = d.vidx
    )
    SELECT n.doc_id, n.token, n.j, n.neg_token,
           p.token IS NOT NULL AS accidental
    FROM named n
    LEFT JOIN pos p ON p.doc_id = n.doc_id AND p.token = n.neg_token
    """,
    doc=(
        "Deterministic negative sampling (word2vec/SGNS data-prep "
        "shape): k=4 negatives per positive (doc, vocab-token) pair "
        "from the top-256 vocabulary via md5-family draws — no RNG "
        "state, bit-identical cross-engine, fully oracle-able. "
        "Accidental hits FLAGGED, not redrawn (the high-throughput "
        "convention). Vocabulary derived sort+limit FIRST (round-12 "
        "advice fix: the rank window sees 256 rows, never the full "
        "vocabulary), then broadcast both ways around one corpus "
        "scan. Positives scoped doc_id % 10 = 0 (the scale knob). "
        "tests/test_llm_r13.py."
    ),
    tags=("llm-data", "corpus-assembly", "sampling", "md5-family"),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        negative_sampling,
    )

    return negative_sampling(
        load_table(spark, "documents", sf_dir), k=4, vocab_top=256, doc_mod=10
    )


def _leak_oracle(threshold: float = 0.5) -> str:
    """Split-leakage oracle: md5 MinHash-LSH pairs at ``threshold`` +
    80/10/10 md5 split tagging — the seeded-constants oracle trick
    (affine minhash params embedded as SQL literals at registration
    time), same banding constants as the production LSH pipeline."""
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
        + " || ',' || ".join(f"s{bi * rpb + ri}::VARCHAR" for ri in range(rpb))
        + "), 1, 16) AS bkey FROM sigs"
        for bi in range(bands)
    )
    shingles = (
        "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2,"
        " 1) + 1), i -> array_to_string(list_slice(string_split(text, ' '),"
        " CAST(i AS INT), CAST(i + 2 AS INT)), ' '))"
    )
    split = (
        "CASE ('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 2))::BIGINT"
        " % 10 WHEN 8 THEN 'val' WHEN 9 THEN 'test' ELSE 'train' END"
    )
    return f"""
    WITH idx AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({shingles}) AS shingle
              FROM documents)
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
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id),
    pairs AS (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN idx a ON a.doc_id = c.id_a
        JOIN idx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        GROUP BY c.id_a, c.id_b, sa.sz, sb.sz
        HAVING CAST(COUNT(*) AS DOUBLE)
               / CAST(sa.sz + sb.sz - COUNT(*) AS DOUBLE) >= {threshold}
    ),
    tagged AS (
        SELECT {split.format(c='id_a')} AS sa,
               {split.format(c='id_b')} AS sb
        FROM pairs
    ),
    norm AS (
        SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi
        FROM tagged
    ),
    per_cat AS (
        SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM norm GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_pairs_total,
               CAST(COALESCE(SUM(CASE WHEN split_lo <> split_hi
                    THEN n_pairs END), 0) AS BIGINT) AS n_leaked
        FROM per_cat
    )
    SELECT split_lo, split_hi, n_pairs, n_pairs_total, n_leaked,
           CASE WHEN n_pairs_total > 0 THEN
                CAST((1000000 * n_leaked) // n_pairs_total AS BIGINT) END
               AS leak_ppm
    FROM per_cat CROSS JOIN tot
    """


@register(
    "q_split_leakage",
    oracle=_leak_oracle(threshold=0.5),
    doc=(
        "Train/val/test split-leakage audit — the eval-contamination "
        "check: md5 80/10/10 split assignment x the PRODUCTION "
        "MinHash-LSH near-dup pairs (banding -> candidates -> exact "
        "verify at threshold 0.5, md5 hash family), pairs straddling "
        "a split boundary reported per split-category with constant "
        "totals + leak ppm. Candidates from the banded equi-join only "
        "— the audit inherits the dedup pipeline's sublinear 100 TB "
        "shape. tests/test_llm_r13.py."
    ),
    tags=("llm-data", "corpus-assembly", "contamination", "lsh"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        split_leakage_audit,
    )

    return split_leakage_audit(
        load_table(spark, "documents", sf_dir), threshold=0.5
    )


_MIXTURE_TOTAL_N = 1000


@register(
    "q_mixture_sample",
    oracle=f"""
    WITH pop AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pop,
               CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT)
                   AS weight
        FROM documents GROUP BY source
    ),
    wt AS (SELECT CAST(SUM(weight) AS BIGINT) AS w FROM pop),
    staged AS (
        SELECT source, n_pop, weight,
               CAST(({_MIXTURE_TOTAL_N} * weight) // w AS BIGINT) AS base,
               CAST(({_MIXTURE_TOTAL_N} * weight) % w AS BIGINT) AS rem
        FROM pop CROSS JOIN wt
    ),
    alloc AS (
        SELECT source, n_pop, weight,
               CAST(base + CASE WHEN row_number() OVER
                        (ORDER BY rem DESC, source)
                        <= {_MIXTURE_TOTAL_N} - SUM(base) OVER ()
                    THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
        FROM staged
    ),
    ranked AS (
        SELECT source, doc_id AS id,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ),
    sampled AS (
        SELECT r.source, r.id
        FROM ranked r JOIN alloc a USING (source)
        WHERE r.rn <= a.n_alloc
    ),
    per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(id) AS BIGINT) AS id_sum,
               CAST(SUM(('0x' || substr(md5('dig#' || CAST(id AS VARCHAR)),
                    1, 7))::BIGINT) AS BIGINT) AS digest31
        FROM sampled GROUP BY source
    )
    SELECT a.source, n_pop, weight, n_alloc,
           CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(n_alloc - COALESCE(n_sampled, 0) AS BIGINT) AS shortfall,
           CAST(COALESCE(id_sum, 0) AS BIGINT) AS id_sum,
           CAST(COALESCE(digest31, 0) AS BIGINT) AS digest31
    FROM alloc a LEFT JOIN per_src p ON p.source = a.source
    """,
    doc=(
        "Training-mixture sampler — exact Hamilton (largest-"
        "remainder) apportionment of a 1000-doc budget across "
        "weighted sources (name-derived weights (idx%4)+1; sums to "
        "exactly total_n, integer-only, leftover seats by remainder "
        "DESC then source ASC), md5-rank deterministic selection "
        "within each source, SHORTFALL self-reported when a source "
        "can't fill its quota (no silent redistribution — that's a "
        "caller policy). Membership pinned by id_sum + the ANSI-safe "
        "31-bit md5 residue digest (round-9 additive-digest rule). "
        "Source-sized frames only after the per-source rank window — "
        "the allocation is a broadcast join at any scale. "
        "tests/test_mixture_sample.py."
    ),
    tags=("llm-data", "corpus-assembly", "mixture", "md5-family"),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        mixture_sample,
    )

    docs = load_table(spark, "documents", sf_dir)
    weights = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.expr(
                "CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT)"
            ).alias("weight"),
        )
    )
    return mixture_sample(docs, weights, total_n=_MIXTURE_TOTAL_N)


@register(
    "q_embed_int8_recall",
    oracle="""
    WITH sc AS (
        SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                    x -> abs(x))) AS s
        FROM embeddings
    ),
    coded AS (
        SELECT vid,
               list_transform(e, x -> CAST(floor(127 * x / s) AS BIGINT))
                   AS c8,
               list_transform(e, x -> CAST(floor(1048576 * x / s)
                   AS BIGINT)) AS cr
        FROM sc WHERE s > 0
    ),
    nrm AS (
        SELECT vid, c8, cr,
               CAST(list_sum(list_transform(c8, x -> x * x)) AS BIGINT)
                   AS n8,
               CAST(list_sum(list_transform(cr, x -> x * x)) AS BIGINT)
                   AS nr
        FROM coded
    ),
    pairs AS (
        SELECT p.vid AS pid, c.vid AS vid,
               CAST(list_dot_product(p.c8, c.c8) AS DOUBLE)
                   / (sqrt(CAST(p.n8 AS DOUBLE)) * sqrt(CAST(c.n8 AS DOUBLE)))
                   AS cos8,
               CAST(list_dot_product(p.cr, c.cr) AS DOUBLE)
                   / (sqrt(CAST(p.nr AS DOUBLE)) * sqrt(CAST(c.nr AS DOUBLE)))
                   AS cosr
        FROM nrm p JOIN nrm c ON c.vid <> p.vid
        WHERE p.vid % 50 = 0
    ),
    top8 AS (
        SELECT pid, vid FROM (
            SELECT pid, vid, row_number() OVER (PARTITION BY pid
                   ORDER BY cos8 DESC, vid) AS r FROM pairs)
        WHERE r <= 10
    ),
    topr AS (
        SELECT pid, vid FROM (
            SELECT pid, vid, row_number() OVER (PARTITION BY pid
                   ORDER BY cosr DESC, vid) AS r FROM pairs)
        WHERE r <= 10
    ),
    hits AS (
        SELECT t.pid, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM top8 t JOIN topr r ON r.pid = t.pid AND r.vid = t.vid
        GROUP BY t.pid
    ),
    base AS (
        SELECT pid, CAST(COUNT(*) AS BIGINT) AS k FROM topr GROUP BY pid
    )
    SELECT base.pid AS probe_id, k,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           CAST((1000000 * COALESCE(n_hit, 0)) // k AS BIGINT)
               AS recall_ppm
    FROM base LEFT JOIN hits ON hits.pid = base.pid
    """,
    doc=(
        "INT8 embedding-quantization recall audit — the quantize-or-"
        "not gate for a vector store: per-vector symmetric int8 codes "
        "(floor(127*x/maxabs) — ONE correctly-rounded IEEE division, "
        "bit-identical cross-engine), top-10 cosine under int8 vs the "
        "2^20 fixed-point reference ranking (float32-class error; "
        "keeps the WHOLE audit in exactly-representable space, all "
        "dots/norms < 2^53). Probe side bounded (vec_id % 50), "
        "candidate side the full table — the audit analogue of the "
        "bounded-broadcast brute-force baseline; production ANN stays "
        "with the LSH/IVF/PQ triad. tests/test_int8_recall.py."
    ),
    tags=("llm-data", "similarity", "quantization", "recall-audit"),
)
def q_embed_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.similarity import (
        int8_quant_recall,
    )

    return int8_quant_recall(
        load_table(spark, "embeddings", sf_dir), k=10, probe_mod=50
    )


# --------------------------------------------------------------------------
# Experimentation / ML-eval (operators/ml_eval.py; tests/test_ml_eval_r13.py)
# --------------------------------------------------------------------------

_CUT_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC (the TVD cut)

_CUPED_INPUT_SQL = f"""
    u AS (
        SELECT user_id % 4 AS g,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
                   % 2 AS t,
               CAST(SUM(CASE WHEN epoch_us(ts) < {_CUT_US}
                    THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN epoch_us(ts) >= {_CUT_US}
                    THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y
        FROM events
        GROUP BY user_id
    )
"""

_COVN = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_VARXN = (
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_VARYN = (
    "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_DX = (
    "(CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
)
_DY = (
    "(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
)
_THETA = f"({_COVN} / {_VARXN})"
_GUARD = f"n1 > 0 AND n0 > 0 AND {_VARXN} > 0"


@register(
    "q_cuped_adjust",
    oracle=(
        "WITH "
        + _CUPED_INPUT_SQL
        + f""",
    m AS (
        SELECT g AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS n1,
               CAST(SUM(1 - t) AS BIGINT) AS n0,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(t * x) AS BIGINT) AS sx1,
               CAST(SUM(t * y) AS BIGINT) AS sy1,
               CAST(SUM((1 - t) * x) AS BIGINT) AS sx0,
               CAST(SUM((1 - t) * y) AS BIGINT) AS sy0,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM u GROUP BY g
    )
    SELECT group_key, n, n1, n0, sx, sy,
           CASE WHEN {_GUARD} THEN {_THETA} END AS theta,
           CASE WHEN n1 > 0 AND n0 > 0 THEN {_DY} END AS diff_raw,
           CASE WHEN {_GUARD} THEN {_DY} - {_THETA} * {_DX} END
               AS diff_adj,
           CASE WHEN {_VARXN} > 0 AND {_VARYN} > 0 THEN
                ({_COVN} * {_COVN}) / ({_VARXN} * {_VARYN}) END AS rho_sq
    FROM m
    """
    ),
    doc=(
        "CUPED variance reduction (Deng et al. 2013) — pre/post spend "
        "per user (md5 arm, user_id%4 cohorts): pooled theta = "
        "cov(X,Y)/var(X) from exact DECIMAL/HUGEINT moments, adjusted "
        "arm difference, rho_sq = the variance fraction CUPED "
        "removes. Float tail is a fixed chain of exact-operand IEEE "
        "ops — hex-pinned bit-equal in tests. One groupBy over one "
        "scan; moments are map-side-combinable at any scale. "
        "tests/test_ml_eval_r13.py."
    ),
    tags=("ml-eval", "experimentation", "cuped", "exact-moments"),
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import cuped_adjust

    u = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN unix_micros(ts) < {_CUT_US}"
                " THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("x"),
            F.expr(
                f"CAST(SUM(CASE WHEN unix_micros(ts) >= {_CUT_US}"
                " THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("y"),
        )
        .select(
            (F.col("user_id") % 4).alias("g"),
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 2),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("t"),
            "x",
            "y",
        )
    )
    return cuped_adjust(u, "g", "t", "x", "y")


@register(
    "q_permutation_test",
    oracle="""
    WITH units AS (
        SELECT event_type AS g, CAST(user_id AS VARCHAR) AS u,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY event_type, user_id
    ),
    assigned AS (
        SELECT g, v, CAST(r.b AS BIGINT) AS b,
               ('0x' || substr(md5(CASE WHEN r.b = 0 THEN u
                    ELSE u || '#' || r.b::VARCHAR END), 1, 2))::BIGINT % 2
                   AS t
        FROM units CROSS JOIN (SELECT unnest(range(0, 33)) AS b) r
    ),
    per_b AS (
        SELECT g, b,
               CAST(SUM(t) AS BIGINT) AS n1,
               CAST(SUM(1 - t) AS BIGINT) AS n0,
               CAST(SUM(t * v) AS BIGINT) AS s1,
               CAST(SUM((1 - t) * v) AS BIGINT) AS s0
        FROM assigned GROUP BY g, b
    ),
    obs AS (
        SELECT g, n1 AS n1_o, n0 AS n0_o, s1 AS s1_o, s0 AS s0_o
        FROM per_b WHERE b = 0
    ),
    ex AS (
        SELECT p.g, n1_o, n0_o, s1_o, s0_o,
               CASE WHEN p.n1 > 0 AND p.n0 > 0 AND n1_o > 0 AND n0_o > 0
                    AND abs(CAST(p.s1 * p.n0 - p.s0 * p.n1 AS HUGEINT))
                        * CAST(n1_o * n0_o AS HUGEINT)
                        >= abs(CAST(s1_o * n0_o - s0_o * n1_o AS HUGEINT))
                           * CAST(p.n1 * p.n0 AS HUGEINT)
                    THEN 1 ELSE 0 END AS is_extreme
        FROM per_b p JOIN obs ON obs.g = p.g
        WHERE p.b > 0
    )
    SELECT g AS group_key,
           CAST(MAX(n1_o) AS BIGINT) AS n1,
           CAST(MAX(n0_o) AS BIGINT) AS n0,
           CAST(MAX(s1_o * n0_o - s0_o * n1_o) AS BIGINT) AS diff_num_obs,
           CAST(SUM(is_extreme) AS BIGINT) AS n_extreme,
           CAST((1000000 * (1 + SUM(is_extreme))) // 33 AS BIGINT) AS p_ppm
    FROM ex GROUP BY g
    """,
    doc=(
        "Permutation test — assumption-free A/B significance with "
        "md5-relabeled permutations (b=0 observed, b=1..32 relabels; "
        "one stacked conditional-sum aggregate over UNIT pre-totals, "
        "so the corpus is scanned once and the 33x fan-out happens "
        "on the per-unit rollup, not the raw events). Two-sided "
        "|diff_b| >= |diff_obs| cross-multiplies rational means on "
        "DECIMAL(38,0) — no float anywhere; add-one p = "
        "(1+#extreme)/(B+1) ppm. tests/test_ml_eval_r13.py."
    ),
    tags=("ml-eval", "experimentation", "permutation", "md5-family"),
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import (
        permutation_test,
    )

    ev = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("g"),
        F.col("user_id").alias("u"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v"),
    )
    return permutation_test(ev, "g", "u", "v", n_perms=32)


# --------------------------------------------------------------------------
# Robust / nonparametric statistics (operators/stats.py, ml_eval.py;
# tests/test_stats_r13c.py, test_stats_r13d.py, test_stats_r13e.py)
# --------------------------------------------------------------------------

_XY_SQL = """
    xy AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               c.c_custkey AS id,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS x,
               CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100)
                    AS BIGINT)), 0) // 5000000 AS BIGINT) AS y
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
"""


@register(
    "q_kendall_tau",
    oracle=(
        "WITH "
        + _XY_SQL
        + """,
    cells AS (
        SELECT g, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM xy GROUP BY g, x, y
    ),
    pair_mass AS (
        SELECT a.g,
               CAST(COALESCE(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
                    THEN a.c * b.c ELSE 0 END), 0) AS BIGINT)
                   AS n_concordant,
               CAST(COALESCE(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
                    THEN a.c * b.c ELSE 0 END), 0) AS BIGINT)
                   AS n_discordant
        FROM cells a JOIN cells b
          ON b.g = a.g AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
        GROUP BY a.g
    ),
    xm AS (
        SELECT g, CAST(SUM(tx * (tx - 1) // 2) AS BIGINT) AS n1t
        FROM (SELECT g, x, SUM(c) AS tx FROM cells GROUP BY g, x)
        GROUP BY g
    ),
    ym AS (
        SELECT g, CAST(SUM(ty * (ty - 1) // 2) AS BIGINT) AS n2t
        FROM (SELECT g, y, SUM(c) AS ty FROM cells GROUP BY g, y)
        GROUP BY g
    ),
    nrow AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY g),
    j AS (
        SELECT nrow.g, n,
               CAST(COALESCE(p.n_concordant, 0) AS BIGINT) AS n_concordant,
               CAST(COALESCE(p.n_discordant, 0) AS BIGINT) AS n_discordant,
               CAST(n * (n - 1) // 2 AS BIGINT) AS n0, n1t, n2t
        FROM nrow
        LEFT JOIN pair_mass p ON p.g = nrow.g
        JOIN xm ON xm.g = nrow.g
        JOIN ym ON ym.g = nrow.g
    )
    SELECT g AS group_key, n, n_concordant, n_discordant,
           CASE WHEN n0 - n1t > 0 AND n0 - n2t > 0 THEN
                CAST(n_concordant - n_discordant AS DOUBLE)
                / (sqrt(CAST(n0 - n1t AS DOUBLE))
                   * sqrt(CAST(n0 - n2t AS DOUBLE))) END AS tau_b
    FROM j
    """
    ),
    doc=(
        "Kendall tau-b (tie-corrected rank correlation) per nation "
        "over (order count, spend bucket) — EXACT and never "
        "O(n^2)-by-rows: rows collapse to the 2-D SUPPORT GRID first, "
        "concordant/discordant mass from the cell-pair join (cells^2 "
        "— the caller's bucketing knob bounds it), tie terms from the "
        "marginals alone. tau is a fixed two-sqrt IEEE chain (sqrt is "
        "IEEE-exact — safe in compared columns); the hand pin "
        "documents sqrt(3)^2 = 3 + 1 ulp. tests/test_stats_r13c.py."
    ),
    tags=("stats", "nonparametric", "correlation", "support-grid"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import kendall_tau_b

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    xy = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("g"),
            F.col("c_custkey").alias("id"),
        )
        .agg(
            F.count("o_orderkey").cast("bigint").alias("x"),
            F.expr(
                "CAST(COALESCE(SUM(CAST(floor(o_totalprice * 100)"
                " AS BIGINT)), 0) div 5000000 AS BIGINT)"
            ).alias("y"),
        )
    )
    return kendall_tau_b(xy, "g", "x", "y")


_MED_STAGE_SQL = """
    {out} AS (
        SELECT g,
               CAST(CASE WHEN MAX(n) % 2 = 1
                    THEN 2 * MAX(CASE WHEN rn * 2 = n + 1 THEN _v END)
                    ELSE MAX(CASE WHEN rn * 2 = n THEN _v END)
                         + MAX(CASE WHEN rn * 2 = n + 2 THEN _v END) END
                    AS BIGINT) AS {out}
        FROM (
            SELECT g, {col} AS _v,
                   row_number() OVER (PARTITION BY g ORDER BY {col}, id)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM {src})
        WHERE rn * 2 IN (n, n + 1, n + 2)
        GROUP BY g
    )
"""


@register(
    "q_mad_scaler",
    oracle=(
        """
    WITH base AS (
        SELECT CAST(c_nationkey AS BIGINT) AS g,
               CAST(c_custkey AS BIGINT) AS id,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ),"""
        + _MED_STAGE_SQL.format(out="med2", col="v", src="base")
        + """,
    dev AS (
        SELECT base.g, id, v, med2,
               CAST(abs(2 * v - med2) AS BIGINT) AS adev2
        FROM base JOIN med2 ON med2.g = base.g
    ),"""
        + _MED_STAGE_SQL.format(out="mad4", col="adev2", src="dev")
        + """
    SELECT dev.g AS group_key, id, v, dev.med2, mad4.mad4,
           CASE WHEN mad4 > 0 THEN
                CAST((1000000 * 2 * (2 * v - dev.med2)) // mad4 AS BIGINT)
           END AS robust_z_ppm
    FROM dev JOIN mad4 ON mad4.g = dev.g
    WHERE id % 2 = 0
    """
    ),
    doc=(
        "Median/MAD robust scaler per nation over account balances — "
        "outlier-immune standardization entirely in DOUBLED integer "
        "spaces (med2, adev2, mad4 = quarter-units): robust_z_ppm = "
        "(1e6*2*(2v-med2)) div mad4, SIGNED integer division verified "
        "identical cross-engine (both engines truncate toward zero — "
        "the round-12 parity rule). Output scoped id % 2 = 0; centers "
        "computed over the FULL group. Medians via the rn*2 IN "
        "(n, n+1, n+2) rank trick — one window + one tiny aggregate "
        "per stage, no percentile UDF. tests/test_stats_r13c.py."
    ),
    tags=("stats", "robust", "scaler", "exact-integer"),
)
def q_mad_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import mad_scaler

    base = load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.col("c_custkey").cast("bigint").alias("id"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("v"),
    )
    return mad_scaler(base, "g", "id", "v", sample_mod=2)


@register(
    "q_trimmed_mean",
    oracle="""
    WITH ranked AS (
        SELECT g, v,
               row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM (SELECT CAST(c_nationkey AS BIGINT) AS g,
                     c_custkey AS id,
                     CAST(floor(c_acctbal * 100) AS BIGINT) AS v
              FROM customer)
    ),
    kk AS (SELECT *, (n * 10 + 99) // 100 AS k FROM ranked),
    agg AS (
        SELECT g AS group_key, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN rn > k AND rn <= n - k
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rn > k AND rn <= n - k
                    THEN v ELSE 0 END) AS BIGINT) AS sum_kept
        FROM kk GROUP BY g
    )
    SELECT group_key, n, n_kept, sum_kept,
           CASE WHEN n_kept > 0 THEN
                CAST((1000000 * sum_kept) // n_kept AS BIGINT) END
               AS trimmed_mean_scaled
    FROM agg
    """,
    doc=(
        "10% trimmed mean per nation over account balances — the "
        "robust location estimate between mean and median: integer "
        "ceil-rank trims k = (n*pct+99) div 100 rows per side under "
        "the (value, id) total order (the round-6 ceil-rank rule — "
        "never ceil(0.1*n)), exact signed scaled mean. The hand pin "
        "shows a 1000x outlier changing nothing. One rank window + "
        "one aggregate. tests/test_stats_r13d.py."
    ),
    tags=("stats", "robust", "location", "exact-integer"),
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import trimmed_mean

    base = load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.col("c_custkey").alias("id"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("v"),
    )
    return trimmed_mean(base, "g", "id", "v", trim_pct=10)


_PVALS_SQL = """
        SELECT source AS g, doc_id AS id,
               CASE WHEN doc_id % 7 = 0
                    THEN ((1000000 * ('0x' || substr(md5(CAST(doc_id
                         AS VARCHAR)), 1, 4))::BIGINT) // 65536) // 100
                    ELSE (1000000 * ('0x' || substr(md5(CAST(doc_id
                         AS VARCHAR)), 1, 4))::BIGINT) // 65536 END
                   AS p_ppm
        FROM documents
"""


@register(
    "q_bh_fdr",
    oracle=f"""
    WITH pv AS ({_PVALS_SQL}),
    ranked AS (
        SELECT g, p_ppm,
               row_number() OVER (PARTITION BY g ORDER BY p_ppm, id) AS rk
        FROM pv
    ),
    m_per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS m FROM ranked GROUP BY g),
    scored AS (
        SELECT r.g, r.p_ppm, CAST(r.rk AS BIGINT) AS rk, m,
               CASE WHEN r.p_ppm * m <= 50000 * r.rk THEN r.rk END AS ok_rk
        FROM ranked r JOIN m_per ON m_per.g = r.g
    ),
    agg AS (
        SELECT g AS group_key, CAST(MAX(m) AS BIGINT) AS m,
               CAST(COALESCE(MAX(ok_rk), 0) AS BIGINT) AS k_cut
        FROM scored GROUP BY g
    ),
    cut AS (
        SELECT s.g AS group_key, CAST(s.p_ppm AS BIGINT) AS p_cut_ppm
        FROM scored s JOIN agg ON agg.group_key = s.g AND s.rk = agg.k_cut
    )
    SELECT agg.group_key, m, k_cut, cut.p_cut_ppm,
           k_cut AS n_rejected
    FROM agg LEFT JOIN cut ON cut.group_key = agg.group_key
    """,
    doc=(
        "Benjamini-Hochberg FDR cutoff per source family over ppm "
        "p-values (uniform md5 16-bit with a planted doc_id%7 signal "
        "block) — fully exact via the cross-multiplied BH inequality "
        "p_ppm*m <= alpha_ppm*rank (no division); the STEP-UP rule "
        "pinned by hand (a straggler above its own threshold is "
        "still rejected when a later rank clears). Round-12 advice "
        "fix in: the dead conditional-max aggregate is gone. One "
        "window + one aggregate + one 1-row-per-group join. "
        "tests/test_stats_r13d.py."
    ),
    tags=("stats", "ml-eval", "multiple-testing", "exact-integer"),
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import bh_fdr_cutoff

    pv = load_table(spark, "documents", sf_dir).select(
        F.col("source").alias("g"),
        F.col("doc_id").alias("id"),
        F.expr(
            "CASE WHEN doc_id % 7 = 0 THEN"
            " ((1000000 * CAST(conv(substr(md5(CAST(doc_id AS STRING)),"
            " 1, 4), 16, 10) AS BIGINT)) div 65536) div 100"
            " ELSE (1000000 * CAST(conv(substr(md5(CAST(doc_id AS STRING)),"
            " 1, 4), 16, 10) AS BIGINT)) div 65536 END"
        ).alias("p_ppm"),
    )
    return bh_fdr_cutoff(pv, "g", "id", "p_ppm", alpha_ppm=50_000)


@register(
    "q_top_paths",
    oracle="""
    WITH s AS (
        SELECT user_id AS g, event_type AS step, ts, event_id
        FROM events
    ),
    p AS (
        SELECT step AS step_1,
               lead(step, 1) OVER w AS step_2,
               lead(step, 2) OVER w AS step_3
        FROM s WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    c AS (
        SELECT step_1, step_2, step_3, CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM p WHERE step_2 IS NOT NULL AND step_3 IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT step_1, step_2, step_3, n_paths,
           CAST(row_number() OVER (ORDER BY n_paths DESC,
                step_1, step_2, step_3) AS BIGINT) AS rank
    FROM c QUALIFY rank <= 50
    """,
    doc=(
        "Top 3-step user paths (the Sankey/flow table) over the "
        "event stream — two lead() windows per user stream, one "
        "count, TakeOrderedAndProject top-50 under a total order "
        "(never a global single-partition window; the repo's top-k "
        "discipline). tests/test_stats_r13e.py."
    ),
    tags=("stats", "funnel", "paths", "top-k"),
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import top_paths3

    ev = load_table(spark, "events", sf_dir).select(
        F.col("user_id").alias("g"),
        F.col("event_type").alias("step"),
        "ts",
        "event_id",
    )
    return top_paths3(ev, "g", ["ts", "event_id"], "step", topk=50)


@register(
    "q_xcorr_leadlag",
    oracle="""
    WITH a AS (
        SELECT epoch_us(ts) // 86400000000 AS t,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    b AS (
        SELECT epoch_us(ts) // 86400000000 AS t,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT CAST(r.lag AS BIGINT) AS lag, a.v AS va, b.v AS vb
        FROM a
        CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) r
        JOIN b ON b.t = a.t + r.lag
    ),
    m AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(va) AS BIGINT) AS sa,
               CAST(SUM(vb) AS BIGINT) AS sb,
               SUM(CAST(va AS HUGEINT) * va) AS saa,
               SUM(CAST(vb AS HUGEINT) * vb) AS sbb,
               SUM(CAST(va AS HUGEINT) * vb) AS sab
        FROM lagged GROUP BY lag
    )
    SELECT lag, n,
           CASE WHEN n >= 2
                 AND (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                             - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                               - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
           END AS r
    FROM m
    """,
    doc=(
        "Lead-lag cross-correlation (daily spend vs daily event "
        "count, lags -7..7) — which series moves first: Pearson r "
        "per lag via ONE stacked lag-join over the two AGGREGATED "
        "daily series (15x fan-out on day-level rollups, never raw "
        "events), exact HUGEINT/DECIMAL moments, hex-pinned "
        "bit-equal r. The hand pin plants a +2 shift (r = 1.0 "
        "exactly) and documents that short-overlap lags inflate |r| "
        "— the argmax is the read. tests/test_stats_r13e.py."
    ),
    tags=("stats", "time-series", "correlation", "exact-moments"),
)
def q_xcorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import xcorr_leadlag

    ev = load_table(spark, "events", sf_dir)
    a = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("t")
    ).agg(
        F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("v")
    )
    b = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("t")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    return xcorr_leadlag(a, b, max_lag=7)


@register(
    "q_logrank_test",
    oracle="""
    WITH life AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST(datediff('day',
                    MIN(CAST(o.o_orderdate AS DATE)),
                    MAX(CAST(o.o_orderdate AS DATE))) AS BIGINT) AS t,
               CAST(c.c_custkey % 2 AS BIGINT) AS e,
               ('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 2))
                   ::BIGINT % 2 AS a
        FROM customer c
        JOIN orders o
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey
    ),
    by_t AS (
        SELECT g, t, CAST(COUNT(*) AS BIGINT) AS n_at,
               CAST(SUM(a) AS BIGINT) AS n1_at,
               CAST(SUM(e) AS BIGINT) AS d,
               CAST(SUM(e * a) AS BIGINT) AS d1
        FROM life GROUP BY g, t
    ),
    risk AS (
        SELECT g, t, d, d1,
               CAST(SUM(n_at) OVER (PARTITION BY g)
                    - SUM(n_at) OVER (PARTITION BY g ORDER BY t
                        ROWS UNBOUNDED PRECEDING) + n_at AS BIGINT)
                   AS n_risk,
               CAST(SUM(n1_at) OVER (PARTITION BY g)
                    - SUM(n1_at) OVER (PARTITION BY g ORDER BY t
                        ROWS UNBOUNDED PRECEDING) + n1_at AS BIGINT)
                   AS n1_risk
        FROM by_t
    ),
    terms AS (
        SELECT g, d1,
               CAST((1000000 * d * n1_risk) // n_risk AS BIGINT) AS e_fp_t,
               CAST((CAST(1000000 AS HUGEINT) * d * (n_risk - d)
                     * n1_risk * (n_risk - n1_risk))
                    // (CAST(n_risk AS HUGEINT) * n_risk * (n_risk - 1))
                    AS BIGINT) AS v_fp_t
        FROM risk WHERE d > 0 AND n_risk > 1
    ),
    agg AS (
        SELECT g AS group_key,
               CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM(e_fp_t) AS BIGINT) AS e_fp,
               CAST(SUM(v_fp_t) AS BIGINT) AS v_fp
        FROM terms GROUP BY g
    )
    SELECT group_key, o1, e_fp, v_fp,
           CASE WHEN v_fp > 0 THEN
                CAST(1000000 * o1 - e_fp AS DOUBLE)
                / sqrt(CAST(v_fp AS DOUBLE) * CAST(1000000 AS DOUBLE)) END
               AS z
    FROM agg
    """,
    doc=(
        "Two-arm log-rank test per nation (customer order-span "
        "lifetimes, md5 arm, custkey%2 event flag) — completes the "
        "KM/Nelson-Aalen survival family with the curve COMPARISON: "
        "O1/E1/V accumulated in the ANOVA floor discipline (e_fp/"
        "v_fp floored ppm per death time, V's numerator on HUGEINT/"
        "DECIMAL), one per-time rollup + one cumulative at-risk "
        "window, fixed-chain z. The z = 1.0 hand pin covers the "
        "n_risk <= 1 exclusion. tests/test_stats_r13e.py."
    ),
    tags=("stats", "survival", "logrank", "exact-integer"),
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import logrank_test

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    life = (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            )
            .cast("bigint")
            .alias("t")
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("g"),
            "t",
            (F.col("c_custkey") % 2).cast("bigint").alias("e"),
            F.expr(
                "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 2),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("a"),
        )
    )
    return logrank_test(life, "g", "t", "e", "a")


@register(
    "q_seasonal_strength",
    oracle="""
    WITH monthly AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                    AS BIGINT) AS month_idx,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c
          ON c.c_custkey = o.o_custkey
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
    ),
    dd AS (
        SELECT d.g,
               CAST(d.detr24 - s.seas24 AS BIGINT) AS r,
               CAST(d.detr24 AS BIGINT) AS sr,
               CAST(d.trend2x24 + d.detr24 - s.seas24 AS BIGINT) AS tr
        FROM detr d JOIN seas s ON s.g = d.g AND s.moy = d.moy
    ),
    m AS (
        SELECT g AS group_key, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS s_r,
               CAST(SUM(sr) AS BIGINT) AS s_sr,
               CAST(SUM(tr) AS BIGINT) AS s_tr,
               SUM(CAST(r AS HUGEINT) * r) AS q_r,
               SUM(CAST(sr AS HUGEINT) * sr) AS q_sr,
               SUM(CAST(tr AS HUGEINT) * tr) AS q_tr
        FROM dd GROUP BY g
    )
    SELECT group_key, n,
           CASE WHEN (CAST(n AS HUGEINT) * q_sr
                      - CAST(s_sr AS HUGEINT) * s_sr) > 0
                THEN greatest(CAST(0 AS BIGINT),
                     CAST(1000000
                     - (1000000 * (CAST(n AS HUGEINT) * q_r
                                   - CAST(s_r AS HUGEINT) * s_r))
                       // (CAST(n AS HUGEINT) * q_sr
                           - CAST(s_sr AS HUGEINT) * s_sr) AS BIGINT))
           END AS f_seasonal_ppm,
           CASE WHEN (CAST(n AS HUGEINT) * q_tr
                      - CAST(s_tr AS HUGEINT) * s_tr) > 0
                THEN greatest(CAST(0 AS BIGINT),
                     CAST(1000000
                     - (1000000 * (CAST(n AS HUGEINT) * q_r
                                   - CAST(s_r AS HUGEINT) * s_r))
                       // (CAST(n AS HUGEINT) * q_tr
                           - CAST(s_tr AS HUGEINT) * s_tr) AS BIGINT))
           END AS f_trend_ppm
    FROM m
    """,
    doc=(
        "Seasonal/trend strength (Hyndman's F_s/F_t, ppm-scaled) per "
        "nation over the gap-safe exact-x24 decomposition — the 'is "
        "this series worth a seasonal model?' gate: the n*Q - S^2 "
        "variance numerators computed AND subtracted on DECIMAL(38,0)"
        "/HUGEINT, ratio as one exact ppm division — no float "
        "anywhere (the first cut subtracted post-cast doubles: past "
        "2^53 the engines' wide-int->double casts disagree by an ulp "
        "and the cancellation amplified it ~300 ulps at sf0.01). "
        "Pure-sawtooth pin: F_s = 1e6 ppm exactly, F_t honestly NULL "
        "when the trend is constant. Composes over "
        "seasonal_decompose_monthly WITH the round-12 advice "
        "contiguity guard (13-row frames must span 12 month "
        "indices). tests/test_stats_r13e.py."
    ),
    tags=("stats", "time-series", "decomposition", "exact-moments"),
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        seasonal_decompose_monthly,
        seasonal_strength,
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
    return seasonal_strength(
        seasonal_decompose_monthly(monthly, "g", "month_idx", "v")
    )


# --------------------------------------------------------------------------
# Market-basket (operators/graph.py; tests/test_itemsets.py)
# --------------------------------------------------------------------------


@register(
    "q_itemset_triples",
    oracle="""
    WITH ik AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
        FROM lineitem
    ),
    triples AS (
        SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM ik a
        JOIN ik b ON b.bk = a.bk AND a.item < b.item
        JOIN ik c ON c.bk = a.bk AND b.item < c.item
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, item_c, support,
           CAST(row_number() OVER (ORDER BY support DESC,
                item_a, item_b, item_c) AS BIGINT) AS rank
    FROM triples QUALIFY rank <= 100
    """,
    doc=(
        "Frequent 3-itemsets over order baskets (one Apriori level "
        "past the co-purchase pair mining): canonical a<b<c triple "
        "enumeration via two ordered self-joins per basket (C(deg,3) "
        "bounded by basket size — TPC-H baskets cap at 7 items; hot "
        "baskets cap upstream per the bipartite max_degree pattern), "
        "exact support, total-ordered top-100 via sort+limit. "
        "min_support=2: the measured support distribution at the "
        "driver's sf0.01 correctness scale has 12 triples at s>=2 "
        "and ZERO at s>=3 — 3 would register a vacuous oracle. "
        "tests/test_itemsets.py."
    ),
    tags=("market-basket", "itemsets", "apriori", "top-k"),
)
def q_itemset_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        frequent_itemset_triples,
    )

    ik = (
        load_table(spark, "lineitem", sf_dir)
        .select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
    )
    return frequent_itemset_triples(ik, min_support=2, topk=100)


# --------------------------------------------------------------------------
# Capstone: end-to-end corpus-prep pipeline (operators/llm_prep.py;
# tests/test_corpus_pipeline.py)
# --------------------------------------------------------------------------

_STAGE_AGG_SQL = """
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(('0x' || substr(md5('dig#'
                || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT)
               AS digest31,
"""


def _corpus_pipeline_oracle(
    table_ref: str = "documents",
    min_tokens: int = 16,
    threshold: float = 0.5,
    total_n: int = 1000,
    budget: int = 256,
) -> str:
    """Staged-CTE oracle of the WHOLE corpus-prep pipeline —
    split -> quality -> exact dedup -> LSH near-dedup -> decontam ->
    Hamilton mixture -> packing stats. Banding constants embedded as
    SQL literals (the seeded-constants trick); every multiply-
    referenced stage is AS MATERIALIZED (the round-10 chained-CTE
    re-expansion rule). ``table_ref`` lets the parity test point the
    same text at a read_parquet path while the registration uses the
    driver's ``documents`` view."""
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
        + " || ',' || ".join(f"s{bi * rpb + ri}::VARCHAR" for ri in range(rpb))
        + "), 1, 16) AS bkey FROM sigs"
        for bi in range(bands)
    )
    shingles = (
        "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2,"
        " 1) + 1), i -> array_to_string(list_slice(string_split(text, ' '),"
        " CAST(i AS INT), CAST(i + 2 AS INT)), ' '))"
    )
    agg = _STAGE_AGG_SQL
    return f"""
    WITH base AS MATERIALIZED (
        SELECT source, doc_id, text,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_tokens,
               CASE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                        ::BIGINT % 10
                    WHEN 8 THEN 'val' WHEN 9 THEN 'test'
                    ELSE 'train' END AS split
        FROM {table_ref}
    ),
    d1 AS MATERIALIZED (SELECT * FROM base WHERE split = 'train'),
    d2 AS MATERIALIZED (SELECT * FROM d1 WHERE n_tokens >= {min_tokens}),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM d2 GROUP BY md5(text)),
    d3 AS MATERIALIZED (SELECT d2.* FROM d2 JOIN keep USING (doc_id)),
    ev AS MATERIALIZED (SELECT * FROM base WHERE split <> 'train'),
    lsh_in AS (
        SELECT doc_id, text FROM d3
        UNION ALL SELECT doc_id, text FROM ev
    ),
    idx AS MATERIALIZED (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({shingles}) AS shingle FROM lsh_in)
    ),
    hs AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483648 AS h
        FROM idx
    ),
    sigs AS MATERIALIZED (
        SELECT doc_id,
           {mins}
        FROM hs GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                    AND a.doc_id < b.doc_id
    ),
    sizes AS MATERIALIZED (
        SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id
    ),
    pairs AS MATERIALIZED (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN idx a ON a.doc_id = c.id_a
        JOIN idx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        GROUP BY c.id_a, c.id_b, sa.sz, sb.sz
        HAVING CAST(COUNT(*) AS DOUBLE)
               / CAST(sa.sz + sb.sz - COUNT(*) AS DOUBLE) >= {threshold}
    ),
    tt_drop AS (
        SELECT DISTINCT id_b AS doc_id FROM pairs
        WHERE id_a IN (SELECT doc_id FROM d3)
          AND id_b IN (SELECT doc_id FROM d3)
    ),
    d4 AS MATERIALIZED (
        SELECT * FROM d3
        WHERE doc_id NOT IN (SELECT doc_id FROM tt_drop)
    ),
    contam AS (
        SELECT DISTINCT doc_id FROM (
            SELECT id_a AS doc_id FROM pairs
            WHERE id_a IN (SELECT doc_id FROM d4)
              AND id_b IN (SELECT doc_id FROM ev)
            UNION ALL
            SELECT id_b AS doc_id FROM pairs
            WHERE id_b IN (SELECT doc_id FROM d4)
              AND id_a IN (SELECT doc_id FROM ev))
    ),
    d5 AS MATERIALIZED (
        SELECT * FROM d4
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    pop AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pop,
               CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT)
                   AS weight
        FROM d5 GROUP BY source
    ),
    wt AS (SELECT CAST(SUM(weight) AS BIGINT) AS w FROM pop),
    stg AS (
        SELECT source,
               CAST(({total_n} * weight) // w AS BIGINT) AS base_a,
               CAST(({total_n} * weight) % w AS BIGINT) AS rem
        FROM pop CROSS JOIN wt
    ),
    alloc AS (
        SELECT source,
               CAST(base_a + CASE WHEN row_number() OVER
                        (ORDER BY rem DESC, source)
                        <= {total_n} - SUM(base_a) OVER ()
                    THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
        FROM stg
    ),
    ranked AS (
        SELECT source, doc_id, n_tokens,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM d5
    ),
    d6 AS MATERIALIZED (
        SELECT source, doc_id, n_tokens
        FROM ranked JOIN alloc USING (source)
        WHERE rn <= n_alloc
    ),
    off AS (
        SELECT source, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS o
        FROM d6
    ),
    pk AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN
                    (CASE WHEN n_tokens = 0 THEN o
                          ELSE o + n_tokens - 1 END) // {budget}
                    > o // {budget} THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_split_docs
        FROM off
    ),
    ck AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN st = 0 THEN 0
                    ELSE (st + {budget} - 1) // {budget} END), 0) AS BIGINT)
                   AS n_chunks
        FROM (SELECT SUM(n_tokens) AS st FROM d6 GROUP BY source)
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,{agg}
           CAST(NULL AS BIGINT) AS n_chunks,
           CAST(NULL AS BIGINT) AS n_split_docs
    FROM base
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'train_split',{agg}
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM d1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'quality',{agg}
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM d2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'exact_dedup',{agg}
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM d3
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'near_dedup',{agg}
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM d4
    UNION ALL
    SELECT CAST(5 AS BIGINT), 'decontam',{agg}
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM d5
    UNION ALL
    SELECT CAST(6 AS BIGINT), 'sampled',{agg}
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM d6
    UNION ALL
    SELECT CAST(7 AS BIGINT), 'packed',{agg}
           (SELECT n_chunks FROM ck), (SELECT n_split_docs FROM pk)
    FROM d6
    """


@register(
    "q_corpus_prep_pipeline",
    oracle=_corpus_pipeline_oracle(),
    doc=(
        "End-to-end pretraining corpus-prep pipeline — the "
        "INTEGRATION capstone the per-operator rows can't verify: "
        "raw -> md5 80/10/10 split (eval FIXED from here) -> quality "
        "gate (n_tokens >= 16) -> exact dedup (min-id per md5(text)) "
        "-> MinHash-LSH near-dedup within train -> DECONTAMINATION "
        "(train docs near-dupping any val/test doc dropped — the "
        "split-leakage audit's action) -> exact Hamilton mixture "
        "(1000-doc budget, weights (idx%4)+1, md5-rank selection) -> "
        "concat-and-chunk packing stats. One funnel row per stage "
        "with n_docs, n_tokens AND a 31-bit md5 membership digest — "
        "stage ordering and survivor propagation are pinned by "
        "VALUES, not counts (dropping the right number of wrong rows "
        "fails). Stage 7 repeats stage 6's membership (packing "
        "preserves the set) plus chunk stats. "
        "tests/test_corpus_pipeline.py."
    ),
    tags=("llm-data", "corpus-assembly", "pipeline", "capstone"),
)
def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        corpus_prep_pipeline,
    )

    return corpus_prep_pipeline(
        load_table(spark, "documents", sf_dir),
        min_tokens=16,
        threshold=0.5,
        total_n=1000,
        budget=256,
    )


# --------------------------------------------------------------------------
# Engine-row graduations (round-12 verdict item 4: the two remaining
# rows with natural data-is-the-assertion shapes, per the bloom/AQE/
# dynamic-overwrite precedents; tests/test_scale_features.py).
# --------------------------------------------------------------------------


@register(
    "q_scan_split_agg",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           TRUE AS single_file_baseline,
           TRUE AS scan_was_split
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc=(
        "maxPartitionBytes scan splitting, query-backed (the "
        "bloom/AQE/dynamic-overwrite graduation precedent): orders is "
        "rewritten as ONE parquet file with 8 KiB row groups, read "
        "back as 1 input partition by default (the repo's local-"
        "testdata gotcha) and as MANY partitions under "
        "spark.sql.files.maxPartitionBytes=8k (8k so the split fires "
        "even at the sf0.001 structural-suite scale where the file "
        "is ~20 KiB) — the knob that sizes "
        "scan tasks to executor memory at 100 TB. The per-priority "
        "aggregate over the SPLIT scan must hash-match the oracle "
        "computed from the original table: a row-group-boundary bug "
        "(dropped or doubled rows at split edges) goes red on DATA, "
        "while the two self-reporting columns pin the mechanics "
        "(baseline 1 partition, split >= 2 — the sf0.01 file is only "
        "~2 split units). Conf restored; temp dir "
        "removed after an eager localCheckpoint. Same machinery as "
        "tests/test_scale_features.py:"
        "test_max_partition_bytes_splits_single_file_scan."
    ),
    tags=("scale", "scan", "engine-surface", "partitioning"),
)
def q_scan_split_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    split_bytes = "spark.sql.files.maxPartitionBytes"
    # The baseline scan runs at the 128 MiB default; the conf is
    # restored on exit whatever the split step sets it to.
    with workdir(spark, conf={split_bytes: str(128 * 1024 * 1024)}) as work:
        out = f"{work}/orders_onefile"
        base = load_table(spark, "orders", sf_dir).select(
            F.col("o_orderpriority").alias("priority"),
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        (
            base.coalesce(1)
            .write.option("parquet.block.size", 8 * 1024)
            .parquet(out)
        )
        single = spark.read.parquet(out).rdd.getNumPartitions() == 1
        spark.conf.set(split_bytes, str(8 * 1024))
        split_df = spark.read.parquet(out)
        was_split = split_df.rdd.getNumPartitions() >= 2
        return (
            split_df.groupBy("priority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .withColumn("single_file_baseline", F.lit(single))
            .withColumn("scan_was_split", F.lit(was_split))
            .localCheckpoint(eager=True)
        )


@register(
    "q_corrupt_file_tolerance",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           TRUE AS fail_closed_default,
           TRUE AS corrupt_skipped
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc=(
        "Corrupt-file tolerance, query-backed: a copy of orders gets "
        "a planted truncated 'PAR1...' file; the DEFAULT read "
        "fail-closes (correctness first — pinned as a column by "
        "catching the failure), and the explicit "
        "spark.sql.files.ignoreCorruptFiles=true opt-in skips it and "
        "keeps the rest of the scan — at 100 TB a scan WILL meet a "
        "bad object and both behaviors matter. The per-priority "
        "aggregate over the tolerant scan must hash-match the oracle "
        "from the clean table: if skipping ever dropped GOOD files "
        "(or half-read the bad one), the driver row goes red on "
        "data. Conf restored; temp dir removed after an eager "
        "localCheckpoint. Same machinery as "
        "tests/test_scale_features.py:"
        "test_ignore_corrupt_files_skips_bad_parquet."
    ),
    tags=("scale", "scan", "engine-surface", "fault-tolerance"),
)
def q_corrupt_file_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ignore = "spark.sql.files.ignoreCorruptFiles"
    # Fail-closed default first; the conf is restored on exit.
    with workdir(spark, conf={ignore: "false"}) as work:
        out = f"{work}/orders_mix"
        base = load_table(spark, "orders", sf_dir).select(
            F.col("o_orderpriority").alias("priority"),
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        base.write.parquet(out)
        with open(f"{out}/part-corrupt.parquet", "wb") as f:
            f.write(b"PAR1this-is-not-a-parquet-file")
        fail_closed = False
        try:
            spark.read.parquet(out).count()
        except Exception:
            fail_closed = True
        spark.conf.set(ignore, "true")
        return (
            spark.read.parquet(out)
            .groupBy("priority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .withColumn("fail_closed_default", F.lit(fail_closed))
            .withColumn("corrupt_skipped", F.lit(True))
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Same-round second batch (the round-12 precedent; window had spare
# slots). Operators + oracle texts landed with tests this round
# (tests/test_r13_batch2.py).
# --------------------------------------------------------------------------


@register(
    "q_boilerplate_spans",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    spans AS (
        SELECT doc_id,
               array_to_string(list_slice(t, i * 5 + 1, i * 5 + 5), ' ')
                   AS span
        FROM toks, LATERAL (SELECT unnest(range(0,
             CAST(ceil(len(t) / 5.0) AS INT))) AS i)
        WHERE len(t) > 0
    ),
    dfp AS (
        SELECT span, COUNT(DISTINCT doc_id) AS d FROM spans GROUP BY span
    ),
    boiler AS (SELECT span AS bspan FROM dfp WHERE d >= 3)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN bspan IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler_spans,
           CAST((1000000 * SUM(CASE WHEN bspan IS NOT NULL
                THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS boiler_ppm
    FROM spans LEFT JOIN boiler ON bspan = span
    GROUP BY doc_id
    """,
    doc=(
        "Cross-document boilerplate-span audit (the C4/RefinedWeb "
        "line-dedup step, re-expressed on fixed 5-token spans since "
        "the corpus has no line structure): spans occurring in >= 3 "
        "DISTINCT docs are boilerplate (headers/footers/license "
        "blurbs); per-doc instance counts + boiler_ppm. One hash "
        "aggregate over the exploded span table + one span-keyed "
        "flag join — the shingle-index shape, linear in corpus "
        "tokens. tests/test_r13_batch2.py incl. the shared-blurb "
        "hand corpus."
    ),
    tags=("llm-data", "dedup-prep", "boilerplate", "text"),
)
def q_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import boilerplate_spans

    return boilerplate_spans(
        load_table(spark, "documents", sf_dir), span_tokens=5, min_df=3
    )


@register(
    "q_source_token_tvd",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS token
        FROM documents
    ),
    cst AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM toks GROUP BY 1, 2
    ),
    ct AS (
        SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst
        GROUP BY token
    ),
    ns AS (
        SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst
        GROUP BY source
    ),
    ntot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
    grid AS (
        SELECT ns.source, ns.n_s, ct.token, ct.c_t, ntot.n,
               COALESCE(cst.c_st, 0) AS c_st
        FROM ns CROSS JOIN ct CROSS JOIN ntot
        LEFT JOIN cst ON cst.source = ns.source AND cst.token = ct.token
    )
    SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens_source,
           CAST((1000000 * SUM(abs(CAST(c_st AS HUGEINT) * n
                - CAST(c_t AS HUGEINT) * n_s)))
                // (2 * CAST(MAX(n_s) AS HUGEINT) * MAX(n)) AS BIGINT)
               AS tvd_ppm
    FROM grid GROUP BY source
    """,
    doc=(
        "Per-source unigram TVD from the corpus distribution — the "
        "mixture diagnostic next to q_mixture_sample: which sources "
        "are lexically off-distribution? True TVD over ALL corpus "
        "tokens (absent tokens contribute — skipping them "
        "understates), cross-multiplied onto the common denominator "
        "N_s*N and accumulated on DECIMAL(38,0)/HUGEINT (c_t*N_s "
        "passes int64 at corpus scale), exact ppm floor. The "
        "(sources x vocab) grid builds from two SMALL broadcastable "
        "rollups, never from corpus-sized frames. The hand pin: a "
        "source matching the pool exactly scores 0; an all-'a' "
        "source vs a 2/3-'a' pool scores 333333. "
        "tests/test_r13_batch2.py."
    ),
    tags=("llm-data", "mixture", "drift", "exact-integer"),
)
def q_source_token_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import source_token_tvd

    return source_token_tvd(load_table(spark, "documents", sf_dir))


@register(
    "q_hodges_lehmann",
    oracle="""
    WITH xy AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS x
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey
    ),
    cells AS (
        SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM xy GROUP BY g, x
    ),
    walsh AS (
        SELECT a.g, CAST(a.x + b.x AS BIGINT) AS w2,
               CAST(SUM(CASE WHEN a.x = b.x THEN a.c * (a.c + 1) // 2
                    ELSE a.c * b.c END) AS BIGINT) AS wt
        FROM cells a JOIN cells b ON b.g = a.g AND a.x <= b.x
        GROUP BY a.g, a.x + b.x
    ),
    staged AS (
        SELECT g, w2,
               CAST(SUM(wt) OVER (PARTITION BY g ORDER BY w2
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(wt) OVER (PARTITION BY g ORDER BY w2
                    ROWS UNBOUNDED PRECEDING) - wt AS BIGINT) AS cum_prev,
               CAST(SUM(wt) OVER (PARTITION BY g) AS BIGINT) AS np
        FROM walsh
    ),
    agg AS (
        SELECT g, CAST(MAX(np) AS BIGINT) AS n_pairs,
               CAST(CASE WHEN MAX(np) % 2 = 1 THEN
                    2 * MAX(CASE WHEN cum_prev * 2 < np + 1
                            AND np + 1 <= cum * 2 THEN w2 END)
                    ELSE MAX(CASE WHEN cum_prev * 2 < np
                             AND np <= cum * 2 THEN w2 END)
                       + MAX(CASE WHEN cum_prev * 2 < np + 2
                             AND np + 2 <= cum * 2 THEN w2 END) END
                    AS BIGINT) AS hl4
        FROM staged GROUP BY g
    ),
    nr AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM xy GROUP BY g)
    SELECT nr.g AS group_key, n, n_pairs, hl4
    FROM nr JOIN agg ON agg.g = nr.g
    """,
    doc=(
        "Hodges-Lehmann location estimator per nation over "
        "per-customer order counts — the median of all n(n+1)/2 "
        "pairwise (Walsh) averages, the robust companion of "
        "trimmed_mean/mad_scaler. EXACT and never O(n^2)-by-rows "
        "(the kendall support-grid discipline): cell-pair Walsh "
        "mass, values kept DOUBLED, colliding Walsh values collapsed "
        "BEFORE the cumulative window (1+4 == 2+3 — makes the "
        "running sum tie-order independent), weighted median by "
        "cumulative spans, result in quadrupled units (hl4). The "
        "hand pin: {1,2,9} -> HL 3.5 where the mean is 4.0. "
        "tests/test_r13_batch2.py."
    ),
    tags=("stats", "robust", "location", "support-grid"),
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import hodges_lehmann

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    xy = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("g"),
            F.col("c_custkey"),
        )
        .agg(F.count("o_orderkey").cast("bigint").alias("x"))
        .select("g", "x")
    )
    return hodges_lehmann(xy, "g", "x")


@register(
    "q_jonckheere_trend",
    oracle="""
    WITH base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST(year(o.o_orderdate) AS BIGINT) AS o,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) // 5000000 AS x
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
        SELECT g, o, x, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY g, o, x
    ),
    j AS (
        SELECT a.g,
               CAST(SUM(CASE WHEN a.x < b.x THEN 2 * a.c * b.c
                    WHEN a.x = b.x THEN a.c * b.c ELSE 0 END) AS BIGINT)
                   AS j2,
               CAST(SUM(a.c * b.c) AS BIGINT) AS ej2
        FROM cells a JOIN cells b ON b.g = a.g AND a.o < b.o
        GROUP BY a.g
    ),
    nr AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY g)
    SELECT nr.g AS group_key, n, j2, ej2,
           CASE WHEN ej2 > 0 THEN
                CAST((1000000 * j2) // ej2 AS BIGINT) END AS trend_ppm
    FROM nr JOIN j ON j.g = nr.g
    """,
    doc=(
        "Jonckheere-Terpstra ordered-alternative trend test per "
        "nation (order-value buckets across ordered years) — the "
        "k-sample companion of Mann-Kendall, more powerful than "
        "Kruskal-Wallis under an ordered alternative. Doubled-units "
        "exact: j2 = 2*concordant + ties over the per-(year, bucket) "
        "support-grid cell-pair join (never rows^2); ej2 = sum "
        "n_a*n_b; trend_ppm reads 1e6 = no trend, 2e6 = perfectly "
        "increasing, 0 = decreasing (all three pinned by hand). "
        "tests/test_r13_batch2.py."
    ),
    tags=("stats", "nonparametric", "trend", "support-grid"),
)
def q_jonckheere_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        jonckheere_terpstra,
    )

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    base = orders.join(cust, cust.c_custkey == orders.o_custkey).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("o"),
        F.expr(
            "CAST(floor(o_totalprice * 100) AS BIGINT) div 5000000"
        ).alias("x"),
    )
    return jonckheere_terpstra(base, "g", "o", "x")


@register(
    "q_betweenness_sampled",
    oracle="""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
    ),
    edges AS MATERIALIZED (
        SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'p' || CAST(l_partkey AS VARCHAR) AS dst
        FROM li
        UNION ALL
        SELECT 'p' || CAST(l_partkey AS VARCHAR),
               's' || CAST(l_suppkey AS VARCHAR)
        FROM li
    ),
    seeds AS (
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS seed
        FROM li WHERE l_suppkey % 50 = 0
    ),
    l1 AS MATERIALIZED (
        SELECT s.seed, e.dst AS node, CAST(COUNT(*) AS BIGINT) AS sigma
        FROM seeds s JOIN edges e ON e.src = s.seed
        WHERE e.dst <> s.seed
        GROUP BY s.seed, e.dst
    ),
    l2 AS MATERIALIZED (
        SELECT a.seed, e.dst AS node, CAST(SUM(a.sigma) AS BIGINT) AS sigma
        FROM l1 a JOIN edges e ON e.src = a.node
        LEFT JOIN l1 x ON x.seed = a.seed AND x.node = e.dst
        WHERE e.dst <> a.seed AND x.node IS NULL
        GROUP BY a.seed, e.dst
    ),
    delta1 AS (
        SELECT a.seed, a.node,
               CAST(SUM((a.sigma * 1000000) // w.sigma) AS BIGINT) AS d_fp
        FROM l1 a JOIN edges e ON e.src = a.node
        JOIN l2 w ON w.seed = a.seed AND w.node = e.dst
        GROUP BY a.seed, a.node
    ),
    bc AS (
        SELECT node, CAST(SUM(d_fp) AS BIGINT) AS betweenness_fp
        FROM delta1 GROUP BY node
    )
    SELECT node, betweenness_fp,
           CAST(row_number() OVER (ORDER BY betweenness_fp DESC, node)
                AS BIGINT) AS rank
    FROM bc QUALIFY rank <= 100
    """,
    doc=(
        "Sampled-seed betweenness centrality (hop-bounded Brandes) "
        "over the supplier-part bipartite graph — which PARTS broker "
        "supplier-supplier connectivity: forward per-seed BFS levels "
        "carrying exact shortest-path counts sigma, backward "
        "dependency accumulation as ppm-FLOORED integer terms "
        "floor(sigma_v*(1e6+delta_w) div sigma_w) — aggregation-order "
        "independent, cell-exact cross-engine (the ANOVA floor "
        "discipline applied to Brandes). Scoped radius-first per the "
        "r11 closeness lesson: hops=2, seeds = suppliers %50 (20 at "
        "sf0.1), top-100 under a total order. Hand pins: the path "
        "graph's 2e6/1e6 accumulation chain and the diamond's "
        "sigma=2 dependency SPLIT (naive BFS counting misses it). "
        "tests/test_betweenness.py."
    ),
    tags=("graph", "centrality", "brandes", "sampled"),
)
def q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        betweenness_sampled,
    )

    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_suppkey", "l_partkey")
        .dropDuplicates()
    )
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    edges = li.select(s.alias("src"), p.alias("dst")).unionAll(
        li.select(p.alias("src"), s.alias("dst"))
    )
    seeds = (
        li.where(F.col("l_suppkey") % 50 == 0)
        .select(s.alias("seed"))
        .distinct()
    )
    return betweenness_sampled(edges, seeds, hops=2, topk=100)


@register(
    "q_community_merge_step",
    oracle="""
    WITH ik AS (SELECT DISTINCT l_orderkey, l_partkey FROM
        lineitem),
    raw_edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM ik a JOIN ik b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    lab AS (SELECT p_partkey AS node, p_brand AS community FROM
        part),
    e AS MATERIALIZED (
        SELECT la.community AS ca, lb.community AS cb
        FROM raw_edges
        JOIN lab la ON la.node = raw_edges.src
        JOIN lab lb ON lb.node = raw_edges.dst
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    tot AS MATERIALIZED (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS tot
        FROM (SELECT ca AS c FROM e UNION ALL SELECT cb FROM e)
        GROUP BY c
    ),
    pairs AS (
        SELECT least(ca, cb) AS lo, greatest(ca, cb) AS hi,
               CAST(COUNT(*) AS BIGINT) AS e_ab
        FROM e WHERE ca <> cb GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
        SELECT x.c, x.partner,
               CAST(2 * m.m * x.e_ab - ta.tot * tb.tot AS BIGINT)
                   AS delta_num
        FROM (SELECT lo AS c, hi AS partner, e_ab FROM pairs
              UNION ALL SELECT hi, lo, e_ab FROM pairs) x
        JOIN tot ta ON ta.c = x.c
        JOIN tot tb ON tb.c = x.partner
        CROSS JOIN m
        WHERE 2 * m.m * x.e_ab - ta.tot * tb.tot > 0
    ),
    best AS MATERIALIZED (
        SELECT c, partner FROM (
            SELECT c, partner, row_number() OVER (PARTITION BY c
                   ORDER BY delta_num DESC, partner) AS rn
            FROM cand)
        WHERE rn = 1
    ),
    merges AS MATERIALIZED (
        SELECT a.c AS m_lo, a.partner AS m_hi
        FROM best a JOIN best b ON b.c = a.partner AND b.partner = a.c
        WHERE a.c < a.partner
    ),
    e_after AS MATERIALIZED (
        SELECT COALESCE(ra.m_lo, e.ca) AS ca,
               COALESCE(rb.m_lo, e.cb) AS cb
        FROM e
        LEFT JOIN merges ra ON ra.m_hi = e.ca
        LEFT JOIN merges rb ON rb.m_hi = e.cb
    ),
    qb AS (
        SELECT SUM(4 * CAST(m.m AS HUGEINT) * COALESCE(i.e_cc, 0)
                   - CAST(t.tot AS HUGEINT) * t.tot) AS qn
        FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS tot
              FROM (SELECT ca AS c FROM e UNION ALL SELECT cb FROM e)
              GROUP BY c) t
        LEFT JOIN (SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS e_cc
                   FROM e WHERE ca = cb GROUP BY ca) i ON i.c = t.c
        CROSS JOIN m
    ),
    qa AS (
        SELECT SUM(4 * CAST(m.m AS HUGEINT) * COALESCE(i.e_cc, 0)
                   - CAST(t.tot AS HUGEINT) * t.tot) AS qn
        FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS tot
              FROM (SELECT ca AS c FROM e_after
                    UNION ALL SELECT cb FROM e_after)
              GROUP BY c) t
        LEFT JOIN (SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS e_cc
                   FROM e_after WHERE ca = cb GROUP BY ca) i
          ON i.c = t.c
        CROSS JOIN m
    )
    SELECT (SELECT CAST(COUNT(DISTINCT community) AS BIGINT) FROM lab)
               AS n_communities,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM merges) AS n_merges,
           (SELECT CAST(COUNT(DISTINCT community) AS BIGINT) FROM lab)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM merges)
               AS n_communities_after,
           CAST((1000000 * qb.qn)
                // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT)
               AS q_before_ppm,
           CAST((1000000 * qa.qn)
                // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT)
               AS q_after_ppm
    FROM m CROSS JOIN qb CROSS JOIN qa
""",
    doc=(
        "One greedy modularity-agglomeration round (CNM step) over "
        "the brand partition of the support>=2 co-purchase graph — "
        "the refinement move next to q_label_propagation/"
        "q_modularity_score: exact cross-multiplied merge gain "
        "delta = 2m*e_ab - tot_a*tot_b per connected community pair, "
        "best partner by (delta DESC, partner ASC) row_number (the "
        "DuckDB argmax rule), and only MUTUAL best pairs with "
        "positive delta merge — mutual matching makes merges "
        "disjoint, so their dQ terms are additive and q_after_ppm "
        "PROVABLY exceeds q_before_ppm whenever any merge fires "
        "(asserted; both Q values the exact modularity rational on "
        "DECIMAL(38,0)/HUGEINT). Hand pins: the K4-singleton "
        "tie-break chain and the two-triangle-bridge no-merge case. "
        "tests/test_community_merge.py."
    ),
    tags=("graph", "community", "agglomeration", "exact-integer"),
)
def q_community_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        community_merge_step,
    )

    labels = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("node"),
        F.col("p_brand").alias("community"),
    )
    from kafka_streams_aggregate_spark.queries.round12 import (
        _copurchase_edges,
    )

    return community_merge_step(_copurchase_edges(spark, sf_dir), labels)


# --------------------------------------------------------------------------
# Same-round graduation of the SECOND staging batch (window had spare
# slots: 34 + 4 = 38 <= 50). Operators + oracle texts landed with
# tests this round (tests/test_r14_stage.py).
# --------------------------------------------------------------------------


@register(
    "q_kruskal_wallis",
    oracle="""
    WITH base AS (
        SELECT CAST(c_nationkey AS BIGINT) AS g, c_mktsegment AS t,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ),
    cells AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY g, v
    ),
    ranked AS (
        SELECT g, v, c,
               CAST(2 * (SUM(c) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT) AS r2
        FROM cells
    ),
    per_tv AS (
        SELECT g, t, v, CAST(COUNT(*) AS BIGINT) AS c_tv
        FROM base GROUP BY g, t, v
    ),
    rj AS (
        SELECT p.g, p.t, CAST(SUM(c_tv * r2) AS BIGINT) AS r2_j,
               CAST(SUM(c_tv) AS BIGINT) AS n_j
        FROM per_tv p JOIN ranked r ON r.g = p.g AND r.v = p.v
        GROUP BY p.g, p.t
    ),
    terms AS (
        SELECT g, n_j,
               (CAST(3000000 AS HUGEINT) * r2_j * r2_j) // n_j AS t_fp
        FROM rj
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_j) AS BIGINT) AS n, SUM(t_fp) AS s_fp
        FROM terms GROUP BY g
    ),
    ties AS (
        SELECT g, CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
        FROM cells GROUP BY g
    ),
    h AS (
        SELECT a.g, n, k, tie3,
               CAST(s_fp // (CAST(n AS HUGEINT) * (n + 1))
                    - 3000000 * (n + 1) AS BIGINT) AS h_ppm
        FROM agg a JOIN ties ON ties.g = a.g
    )
    SELECT g AS group_key, n, k, h_ppm,
           CASE WHEN CAST(n AS HUGEINT) * n * n - n - tie3 > 0 THEN
                CAST((CAST(h_ppm AS HUGEINT)
                      * (CAST(n AS HUGEINT) * n * n - n))
                     // (CAST(n AS HUGEINT) * n * n - n - tie3) AS BIGINT)
           END AS h_tie_ppm
    FROM h
""",
    doc=(
        "Kruskal-Wallis H per nation over market-segment account "
        "balances — the k-sample rank ANOVA between Mann-Whitney "
        "(k=2) and Friedman (blocked): doubled pooled midranks from "
        "the value support grid (r2 = 2*cum_prev + c + 1, no "
        "halves), per-treatment floor(3e6*R2_j^2/n_j) on "
        "DECIMAL(38,0)/HUGEINT (the ANOVA floor discipline), "
        "tie-corrected h_tie_ppm one more exact division (NULL when "
        "every value ties — pinned). Hand pin: {[1,2],[3,4]} -> "
        "exactly 2_400_000 ppm. tests/test_r14_stage.py."
    ),
    tags=("stats", "nonparametric", "rank-anova", "support-grid"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import kruskal_wallis

    base = load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.col("c_mktsegment").alias("t"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("v"),
    )
    return kruskal_wallis(base, "g", "t", "v")


@register(
    "q_siegel_slope",
    oracle="""
    WITH base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                    AS BIGINT) AS t,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c
          ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    sl AS (
        SELECT a.g, a.t AS ti, b.t AS tj,
               CAST(b.v - a.v AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS s
        FROM base a JOIN base b ON b.g = a.g AND b.t <> a.t
    ),
    med_i AS (
        SELECT g, ti, s AS med_i FROM (
            SELECT g, ti, s,
                   row_number() OVER (PARTITION BY g, ti
                       ORDER BY s, tj) AS rn,
                   COUNT(*) OVER (PARTITION BY g, ti) AS m
            FROM sl)
        WHERE rn = (m + 1) // 2
    ),
    pick AS (
        SELECT g, med_i AS siegel_slope FROM (
            SELECT g, med_i, ti,
                   row_number() OVER (PARTITION BY g
                       ORDER BY med_i, ti) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS m
            FROM med_i)
        WHERE rn = (m + 1) // 2
    ),
    nr AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM base GROUP BY g
    )
    SELECT nr.g AS group_key, n_points, siegel_slope
    FROM nr JOIN pick ON pick.g = nr.g
""",
    doc=(
        "Siegel repeated-median slope per nation over the monthly "
        "revenue series — the 50%-breakdown robust trend one notch "
        "past Theil-Sen (29%): per-point LOWER median of pairwise "
        "slopes, then LOWER median of medians, both exact "
        "order-statistic selections under total orders; each slope "
        "ONE IEEE divide of exact integers (bit-identical "
        "cross-engine, hex-pinned in tests). O(n^2) slope rows per "
        "group bounded by the monthly rollup (the theil_sen scoping "
        "precedent, ~85 months/group). Hand pin: line + wild outlier "
        "-> exactly 2.0. tests/test_r14_stage.py."
    ),
    tags=("stats", "robust", "trend", "order-statistic"),
)
def q_siegel_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import siegel_slope

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    monthly = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("g"),
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
            ).alias("t"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )
    return siegel_slope(monthly, "g", "t", "v")


@register(
    "q_mood_median",
    oracle="""
    WITH base AS (
        SELECT CAST(c_nationkey AS BIGINT) AS g, c_mktsegment AS t,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v,
               c_custkey AS id
        FROM customer
    ),
    staged AS (
        SELECT g, t, v,
               row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM base
    ),
    med2 AS (
        SELECT g, CAST(CASE WHEN MAX(n) % 2 = 1
                 THEN 2 * MAX(CASE WHEN rn * 2 = n + 1 THEN v END)
                 ELSE MAX(CASE WHEN rn * 2 = n THEN v END)
                      + MAX(CASE WHEN rn * 2 = n + 2 THEN v END) END
                 AS BIGINT) AS med2
        FROM staged WHERE rn * 2 IN (n, n + 1, n + 2) GROUP BY g
    ),
    cls AS (
        SELECT b.g, t,
               CASE WHEN 2 * v > med2 THEN 1 ELSE 0 END AS ab,
               CASE WHEN 2 * v < med2 THEN 1 ELSE 0 END AS be
        FROM base b JOIN med2 ON med2.g = b.g
    ),
    per_t AS (
        SELECT g, t, CAST(SUM(ab) AS BIGINT) AS a_j,
               CAST(SUM(be) AS BIGINT) AS b_j
        FROM cls GROUP BY g, t
    ),
    tot AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(a_j) AS BIGINT) AS ca,
               CAST(SUM(b_j) AS BIGINT) AS cb
        FROM per_t GROUP BY g
    ),
    wide AS (
        SELECT p.g, a_j, b_j, a_j + b_j AS rowtot, ca, cb,
               ca + cb AS np
        FROM per_t p JOIN tot ON tot.g = p.g
    ),
    chi AS (
        SELECT g,
               SUM((CAST(1000000 AS HUGEINT)
                    * (a_j * np - rowtot * ca) * (a_j * np - rowtot * ca))
                   // (CAST(np AS HUGEINT) * rowtot * ca)
                 + (CAST(1000000 AS HUGEINT)
                    * (b_j * np - rowtot * cb) * (b_j * np - rowtot * cb))
                   // (CAST(np AS HUGEINT) * rowtot * cb)) AS _chi
        FROM wide WHERE ca > 0 AND cb > 0 AND rowtot > 0
        GROUP BY g
    )
    SELECT tot.g AS group_key, k, ca AS n_above, cb AS n_below,
           CASE WHEN ca > 0 AND cb > 0 THEN CAST(_chi AS BIGINT) END
               AS chi2_ppm
    FROM tot LEFT JOIN chi ON chi.g = tot.g
""",
    doc=(
        "Mood's median test per nation across market segments — the "
        "quick k-sample location screen: strictly above/below the "
        "pooled doubled median (exact median ties dropped, "
        "documented), 2xk chi-square fully exact via "
        "(o*N - row*col)^2 div (N*row*col) per cell on "
        "DECIMAL(38,0)/HUGEINT — the perfect-separation hand pin "
        "(chi2 = exactly 4.0 for {[1,2],[9,10]}) caught an "
        "np^2-vs-np divisor slip in the first cut. "
        "tests/test_r14_stage.py."
    ),
    tags=("stats", "nonparametric", "location", "exact-integer"),
)
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import mood_median_test

    base = load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.col("c_mktsegment").alias("t"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("v"),
        F.col("c_custkey").alias("id"),
    )
    return mood_median_test(base, "g", "t", "v", "id")


@register(
    "q_chunk_mixing",
    oracle="""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_tokens,
               CASE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                        ::BIGINT % 10
                    WHEN 8 THEN 'val' WHEN 9 THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    ),
    staged AS (
        SELECT source, doc_id, n_tokens, split,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS o
        FROM toks
    ),
    spans AS (
        SELECT source, doc_id, split,
               unnest(range(o // 256, (o + n_tokens - 1) // 256 + 1))
                   AS chunk
        FROM staged WHERE n_tokens > 0
    ),
    per_chunk AS (
        SELECT source, chunk,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
        FROM spans GROUP BY 1, 2
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_doc_chunks,
           CAST(SUM(CASE WHEN n_splits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mixed_split_chunks,
           CAST((1000000 * SUM(CASE WHEN n_splits >= 2 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS mixed_ppm
    FROM per_chunk GROUP BY source
""",
    doc=(
        "Packed-chunk document-mixing audit — what concat-and-chunk "
        "packing does to attention windows: per source, chunks "
        "spanning >= 2 docs (cross-doc attention) and chunks mixing "
        ">= 2 md5 SPLITS (eval text inside a train window — the "
        "packing-level companion of q_split_leakage). Chunk ranges "
        "from the packing offsets, bounded explode "
        "(n_tokens/budget + 1 rows per doc), mixed_ppm exact. Hand "
        "pin: two 8-token docs at budget 10 -> 500_000 ppm. "
        "tests/test_r14_stage.py."
    ),
    tags=("llm-data", "corpus-assembly", "packing", "contamination"),
)
def q_chunk_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        chunk_mixing_audit,
    )

    return chunk_mixing_audit(
        load_table(spark, "documents", sf_dir), budget=256
    )


@register(
    "q_page_trend",
    oracle="""
    WITH base AS (
        SELECT CAST(n.n_regionkey AS BIGINT) AS g,
               CAST(c.c_nationkey AS BIGINT) AS blk,
               CAST(year(o.o_orderdate) AS BIGINT) AS t,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c
          ON c.c_custkey = o.o_custkey
        JOIN nation n
          ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2, 3
    ),
    k_per AS (SELECT g, CAST(COUNT(DISTINCT t) AS BIGINT) AS k
              FROM base GROUP BY g),
    blk_gate AS (
        SELECT b.g, b.blk,
               COUNT(*) = MAX(k) AND COUNT(DISTINCT t) = MAX(k) AS ok
        FROM base b JOIN k_per ON k_per.g = b.g
        GROUP BY b.g, b.blk
    ),
    gated AS (
        SELECT base.* FROM base
        JOIN blk_gate ON blk_gate.g = base.g AND blk_gate.blk = base.blk
        WHERE blk_gate.ok
    ),
    cells AS (
        SELECT g, blk, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM gated GROUP BY g, blk, v
    ),
    ranked AS (
        SELECT g, blk, v,
               CAST(2 * (SUM(c) OVER (PARTITION BY g, blk ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT) AS r2
        FROM cells
    ),
    ords AS (
        SELECT g, t, CAST(dense_rank() OVER (PARTITION BY g ORDER BY t)
                    AS BIGINT) AS ord
        FROM (SELECT DISTINCT g, t FROM gated)
    ),
    scored AS (
        SELECT x.g, CAST(COUNT(DISTINCT x.blk) AS BIGINT) AS b,
               CAST(MAX(ord) AS BIGINT) AS k,
               CAST(SUM(ord * r2) AS BIGINT) AS l2,
               CAST(SUM(ord) AS BIGINT) AS sum_ord
        FROM gated x
        JOIN ranked r ON r.g = x.g AND r.blk = x.blk AND r.v = x.v
        JOIN ords o ON o.g = x.g AND o.t = x.t
        GROUP BY x.g
    ),
    dropped AS (
        SELECT g, CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_blocks_dropped
        FROM blk_gate GROUP BY g
    )
    SELECT d.g AS group_key, b, k, l2,
           CAST(b * (k + 1) * (sum_ord // b) AS BIGINT) AS el2,
           CASE WHEN b * (k + 1) * (sum_ord // b) > 0 THEN
                CAST((1000000 * l2) // (b * (k + 1) * (sum_ord // b))
                     AS BIGINT) END AS trend_ppm,
           n_blocks_dropped
    FROM dropped d LEFT JOIN scored s ON s.g = d.g
""",
    doc=(
        "Page's trend test per region (nation blocks ranking the "
        "same ordered years of revenue) — the ordered-alternative "
        "companion of the Friedman test, as Jonckheere is to "
        "Kruskal-Wallis: doubled within-block midranks, ord = "
        "dense_rank of the treatment, l2 = sum ord*r2 exact, el2 = "
        "b*(k+1)*sum(ord) exactly (the doubled mean rank is k+1 even "
        "under ties). Friedman-style complete-block gate with "
        "dropped blocks REPORTED as a column; a group whose blocks "
        "are ALL incomplete still emits its row with NULL stats "
        "(r13-advice fix: dropped drives a left join, both engines). "
        "Hand pins: increasing (l2 28 vs el2 24), decreasing, "
        "incomplete-block drop. tests/test_r14_stage2.py."
    ),
    tags=("stats", "nonparametric", "trend", "blocked"),
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import page_trend_test

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    base = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(nation, nation.n_nationkey == cust.c_nationkey)
        .groupBy(
            F.col("n_regionkey").cast("bigint").alias("g"),
            F.col("c_nationkey").cast("bigint").alias("blk"),
            F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("t"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )
    return page_trend_test(base, "g", "blk", "t", "v")


@register(
    "q_token_budget_epochs",
    oracle="""
    WITH toks AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    pop AS (
        SELECT source, n_tokens,
               CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT)
                   AS weight
        FROM toks
    ),
    wt AS (SELECT CAST(SUM(weight) AS BIGINT) AS w FROM pop),
    d AS (
        SELECT source, n_tokens, weight,
               CAST((100000 * weight) // w AS BIGINT) AS desired_tokens
        FROM pop CROSS JOIN wt
    )
    SELECT source, n_tokens, weight, desired_tokens,
           CASE WHEN n_tokens > 0 THEN
                CAST((1000000 * desired_tokens) // n_tokens AS BIGINT) END
               AS epochs_ppm,
           CAST(least(desired_tokens,
                (n_tokens * 4000000) // 1000000) AS BIGINT)
               AS effective_tokens,
           CAST(desired_tokens - least(desired_tokens,
                (n_tokens * 4000000) // 1000000) AS BIGINT)
               AS shortfall_tokens
    FROM d
""",
    doc=(
        "Data-constrained token-budget epoch planner — the 'how many "
        "epochs of each source' mixing table (repetition beyond ~4 "
        "epochs stops helping, so the plan caps it and SURFACES the "
        "shortfall rather than silently over-repeating — the "
        "mixture_sample convention): exact integer budget shares "
        "(budget*w div W), epochs_ppm, the 4-epoch cap as an exact "
        "integer min. Budget 100k over the ~28k-token sf-scaled pool "
        "forces caps somewhere (asserted). One token rollup + one "
        "broadcast weight join; source-sized after. Hand pin: a "
        "100-token w=3 source under a 2000 budget caps at 400 "
        "effective (15x demanded epochs, shortfall 1100). "
        "tests/test_r14_stage2.py."
    ),
    tags=("llm-data", "mixture", "planning", "exact-integer"),
)
def q_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        token_budget_epochs,
    )

    docs = load_table(spark, "documents", sf_dir)
    weights = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.expr(
                "CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT)"
            ).alias("weight"),
        )
    )
    return token_budget_epochs(docs, weights, token_budget=100_000)

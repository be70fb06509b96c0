"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing — each backed by the operators modules, each with a
DuckDB oracle reproducing the same deterministic computation in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from as_etl_storage_spark.functions import word_grams, word_tokens
from as_etl_storage_spark.operators import (
    dedup,
    multimodal,
    retrieval,
    similarity,
    text,
)
from as_etl_storage_spark.queries.common import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, fn, oracle: str | None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# ---------------------------------------------------------------- dedup ----
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", ["text"])


_register(
    "dedup_exact",
    _dedup_exact,
    "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text",
)


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, "doc_id", "text", p=4, q=5)


_register(
    "dedup_minhash_lsh",
    _dedup_minhash,
    """
    WITH pos AS (SELECT doc_id, text,
                        unnest(range(1, greatest(length(text)-3, 2))) AS g
                 FROM documents),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 5) AS s FROM pos),
    pair AS (SELECT a.doc_id i, b.doc_id j, count(*) AS inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
    SELECT i AS doc_i, j AS doc_j,
           round(inter::DOUBLE / (x.n + y.n - inter), 4) AS jac
    FROM pair JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
    WHERE inter * 5 >= (x.n + y.n - inter) * 4
    """,
)


def _dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, p=3, q=5)


_register(
    "dedup_ngram_jaccard",
    _dedup_ngram,
    """
    WITH tk AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
                FROM documents),
    pos AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks)-1, 2))) AS g
            FROM tk),
    gr AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[g:g+2], ' ') AS s FROM pos),
    pair AS (SELECT a.doc_id i, b.doc_id j, count(*) AS inter
             FROM gr a JOIN gr b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sz AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY 1)
    SELECT i AS doc_i, j AS doc_j,
           round(inter::DOUBLE / (x.n + y.n - inter), 4) AS jac
    FROM pair JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
    WHERE inter * 5 >= (x.n + y.n - inter) * 3
    """,
)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=3)


_register(
    "dedup_simhash",
    _dedup_simhash,
    """
    WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
                 FROM documents),
    tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
    th AS (SELECT doc_id, c, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tc),
    bits AS (SELECT doc_id, unnest(range(0, 60)) AS b, c, h FROM th),
    sig AS (SELECT doc_id, b, sum(c * (2 * ((h >> b::INT) & 1) - 1)) AS s
            FROM bits GROUP BY 1, 2),
    sh AS (SELECT doc_id,
                  sum(CASE WHEN s > 0 THEN (1::BIGINT << b::INT) ELSE 0 END) AS simhash
           FROM sig GROUP BY 1)
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)


def _dedup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(emb, "vec_id", "embedding", 0.45)


_register(
    "dedup_embedding_cosine",
    _dedup_cosine,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
    SELECT a.vec_id AS vec_i, b.vec_id AS vec_j
    FROM n a, n b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
    """,
)


def _dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup_pairs(emb, "vec_id", "embedding", 8, 0.45)


_register(
    "dedup_semantic_blocked",
    _dedup_semantic,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
    seeds AS (SELECT vec_id AS cid, v AS cv, n2 AS n2c FROM n WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, v,
             (min(struct_pack(
                d2 := n2 - 2 * list_dot_product(v, cv) + n2c,
                cid := cid))).cid AS cid
      FROM n CROSS JOIN seeds
      GROUP BY vec_id, v, n2
    ),
    nn AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
           FROM assigned)
    SELECT a.vec_id AS vec_i, b.vec_id AS vec_j
    FROM nn a JOIN nn b ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
    """,
)


def _dedup_semantic_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup_pairs_multi(emb, "vec_id", "embedding", 8, 2, 0.45)


# the multi-seed-union recall lever, fully SQL-expressible: two disjoint
# id-ranked seed sets ([0,8) and [8,16)), union of the blocked pair sets
_register(
    "dedup_semantic_multiseed",
    _dedup_semantic_multi,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
    s0 AS (SELECT vec_id AS cid, v AS cv, n2 AS n2c FROM n WHERE vec_id < 8),
    s1 AS (SELECT vec_id AS cid, v AS cv, n2 AS n2c FROM n
           WHERE vec_id >= 8 AND vec_id < 16),
    a0 AS (
      SELECT vec_id, v,
             (min(struct_pack(
                d2 := n2 - 2 * list_dot_product(v, cv) + n2c,
                cid := cid))).cid AS cid
      FROM n CROSS JOIN s0 GROUP BY vec_id, v, n2),
    a1 AS (
      SELECT vec_id, v,
             (min(struct_pack(
                d2 := n2 - 2 * list_dot_product(v, cv) + n2c,
                cid := cid))).cid AS cid
      FROM n CROSS JOIN s1 GROUP BY vec_id, v, n2),
    n0 AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm FROM a0),
    n1 AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm FROM a1)
    SELECT DISTINCT vec_i, vec_j FROM (
      SELECT a.vec_id AS vec_i, b.vec_id AS vec_j
      FROM n0 a JOIN n0 b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
      UNION ALL
      SELECT a.vec_id AS vec_i, b.vec_id AS vec_j
      FROM n1 a JOIN n1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45)
    """,
)


def _dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-seed semantic dedup, validated in-plan (the approx-sketch
    testing pattern): the k-means-seeded blocked pair set is compared
    against the exact all-pairs set computed in the SAME plan — precision
    must be exact (every blocked pair is cosine-verified with the same
    threshold) and recall must clear a floor the deterministic pipeline
    reproduces bit-identically (jvm-fold distances + decimal-exact centroid
    updates). The oracle pins the exact all-pairs count and the booleans."""
    from as_etl_storage_spark.operators.ml import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, "vec_id", "embedding", 8, 2, impl="jvm")
    blocked = dedup.semantic_dedup_pairs_seeded(
        emb, "vec_id", "embedding", cents, 0.45
    )
    allp = dedup.embedding_cosine_pairs(emb, "vec_id", "embedding", 0.45)
    joined = allp.alias("t").join(
        blocked.alias("b"),
        (F.col("t.vec_i") == F.col("b.vec_i"))
        & (F.col("t.vec_j") == F.col("b.vec_j")),
        "full_outer",
    )
    return joined.agg(
        F.count(F.col("t.vec_i")).alias("n_true_pairs"),
        (
            F.count(F.when(F.col("t.vec_i").isNotNull() & F.col("b.vec_i").isNotNull(), 1))
            >= F.count(F.col("t.vec_i")) * F.lit(0.25)
        ).alias("recall_ok"),
        (
            F.count(F.when(F.col("t.vec_i").isNull(), 1)) == F.lit(0)
        ).alias("precision_exact"),
    )


_register(
    "dedup_semantic_kmeans",
    _dedup_semantic_kmeans,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
    SELECT count(*) AS n_true_pairs, TRUE AS recall_ok, TRUE AS precision_exact
    FROM n a, n b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
    """,
)


def _ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-centroid IVF, validated in-plan: corpus cells from k-means
    centroids (jvm impl — bit-stable, hash-reproducible), queries probe
    their top-6 of 16 cells, and the candidate set is compared against the
    exact brute-force top-5 computed in the SAME plan. Gates: recall over
    the floor the deterministic pipeline reproduces, and the candidate
    count strictly below the brute-force comparison count (the point of
    IVF). The oracle pins the exact brute-force pair count + booleans."""
    from as_etl_storage_spark.operators.ml import kmeans_centroids

    # the corpus feeds SIX consumers (brute-force both sides, kmeans
    # training collects, corpus cells, query cells, the count agg) and
    # Catalyst re-planned the parquet scan for each — the executed plan
    # read embeddings.parquet 14 times. One lazy localCheckpoint turns
    # every pass into a block read; the first kmeans collect
    # materializes it (same materialize-once discipline as ivf_topk;
    # same unreplicated-blocks trade, see operators/dedup module note)
    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint(
        eager=False
    )
    pred = "vid % 50 = 0"
    bf = similarity.cosine_topk(emb, "vec_id", "embedding", 5, pred)
    cents = kmeans_centroids(emb, "vec_id", "embedding", 16, 2, impl="jvm")
    corp_cells = similarity.ivf_probe_assign_seeded(
        emb, "vec_id", "embedding", cents, 1
    )
    q_cells = similarity.ivf_probe_assign_seeded(
        emb.where("vec_id % 50 = 0"), "vec_id", "embedding", cents, 6
    )
    cand = (
        q_cells.withColumnRenamed("vec_id", "qid")
        .join(corp_cells.withColumnRenamed("vec_id", "vid"), "centroid_id")
        .where("qid != vid")
        .select("qid", "vid")
        .distinct()
        # consumed by BOTH the recall join and the candidate count —
        # pin the bounded (qid, vid) id pairs so the quantizer join
        # runs once
        .localCheckpoint(eager=True)
    )
    hits = bf.join(
        cand,
        (bf["query_id"] == cand["qid"]) & (bf["neighbor_id"] == cand["vid"]),
        "left",
    ).agg(
        F.count("*").alias("n_bf_pairs"),
        F.count(cand["qid"]).alias("n_hit"),
    )
    counts = cand.agg(F.count("*").alias("n_cand")).crossJoin(
        emb.agg(
            F.count("*").alias("n_corpus"),
            F.count(F.when(F.expr("vec_id % 50 = 0"), 1)).alias("n_q"),
        )
    )
    return hits.crossJoin(counts).select(
        "n_bf_pairs",
        (F.col("n_hit") >= F.col("n_bf_pairs") * F.lit(0.6)).alias(
            "recall_ok"
        ),
        (F.col("n_cand") < F.col("n_q") * (F.col("n_corpus") - 1)).alias(
            "cand_lt_bruteforce"
        ),
    )


_register(
    "ann_ivf_kmeans",
    _ann_ivf_kmeans,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    scored AS (SELECT q.vec_id AS qid, n.vec_id AS vid,
                      list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
               FROM q JOIN n ON q.vec_id <> n.vec_id),
    r AS (SELECT qid, vid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM scored)
    SELECT count(*) AS n_bf_pairs, TRUE AS recall_ok,
           TRUE AS cand_lt_bruteforce
    FROM r WHERE rn <= 5
    """,
)


# ----------------------------------------------------------- similarity ----
def _ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, "vec_id", "embedding", 5, "vid % 50 = 0")


_register(
    "ann_topk_bruteforce",
    _ann_brute,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    scored AS (SELECT q.vec_id AS qid, n.vec_id AS vid,
                      list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
               FROM q JOIN n ON q.vec_id <> n.vec_id),
    r AS (SELECT qid, vid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM scored)
    SELECT qid AS query_id, vid AS neighbor_id, rn AS rank
    FROM r WHERE rn <= 5
    """,
)


def _ann_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_vectorized(
        emb, "vec_id", "embedding", 5, "vid % 50 = 0"
    )


# same oracle as the JVM-fold baseline: the BLAS matmul path is
# equality-tested against it at sf0.001 and sf0.01 (tests/test_similarity),
# so both are hash-gated against the identical DuckDB SQL
_register(
    "ann_topk_vectorized",
    _ann_vectorized,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    scored AS (SELECT q.vec_id AS qid, n.vec_id AS vid,
                      list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
               FROM q JOIN n ON q.vec_id <> n.vec_id),
    r AS (SELECT qid, vid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM scored)
    SELECT qid AS query_id, vid AS neighbor_id, rn AS rank
    FROM r WHERE rn <= 5
    """,
)


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucket_topk(emb, "vec_id", "embedding", 3, n_bits=8)


_register(
    "ann_lsh_bucket",
    _ann_lsh,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                 (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
               + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
               + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
               + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
               + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
               + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END)
               + (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END)
               + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END) AS bucket
          FROM e),
    scored AS (SELECT a.vec_id AS qid, a.bucket, b.vec_id AS vid,
                      list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
               FROM n a JOIN n b
                 ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT qid, bucket, vid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM scored)
    SELECT qid AS query_id, bucket, vid AS neighbor_id, rn AS rank
    FROM r WHERE rn <= 3
    """,
)


# ------------------------------------------------------------- text --------
def _text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs, "doc_id", "text")


_register(
    "text_langid",
    _text_langid,
    """
    WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents),
    s AS (SELECT doc_id,
                 len(list_intersect(toks, ['the','a','of','and','is'])) AS c_en,
                 len(list_intersect(toks, ['el','la','de','que','y'])) AS c_es,
                 len(list_intersect(toks, ['der','die','das','und','ist'])) AS c_de,
                 len(list_intersect(toks, ['le','les','des','et','est'])) AS c_fr
          FROM tk)
    SELECT doc_id,
           CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
                WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
                WHEN c_de >= c_fr THEN 'de'
                ELSE 'fr' END AS pred_lang,
           c_en AS score_en, c_es AS score_es, c_de AS score_de, c_fr AS score_fr
    FROM s
    """,
)


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_score(docs, "doc_id", "text")


_register(
    "text_quality",
    _text_quality,
    """
    WITH tk AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
                FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars_calc,
           round(list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                 / len(toks), 4) AS avg_token_len,
           round(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g'))::DOUBLE
                 / length(text), 4) AS punct_ratio,
           len(list_intersect(list_transform(toks, t -> lower(t)),
               ['the','a','an','of','and','or','is','to','in'])) AS stopword_hits
    FROM tk
    """,
)


def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_counts(docs, "doc_id", "text")


_register(
    "text_tokens",
    _text_tokens,
    """
    SELECT doc_id,
           len(regexp_split_to_array(text, '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS n_bpe_tokens
    FROM documents
    """,
)


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text")


_register(
    "text_fingerprint",
    _text_fingerprint,
    """
    WITH n AS (SELECT doc_id,
                      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
               FROM documents)
    SELECT doc_id, md5(norm) AS fp_md5,
           ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp64
    FROM n
    """,
)


# --------------------------------------------------------- multimodal ------
def _mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_image_meta(
        multimodal.attach_binary(docs, "doc_id", "text")
    )


_register(
    "mm_decode_meta",
    _mm_decode,
    """
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id,
           n::INT AS n_bytes,
           ((n % 64) + 1)::INT AS width,
           ((n % 48) + 1)::INT AS height,
           ((n % 8) + 1)::INT AS n_frames
    FROM m
    """,
)


def _mm_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec roundtrip: executors synthesize genuine P6 PPM images
    (header + raw RGB raster, numpy), the decoder parses the actual bytes
    back and sums the pixel channels — nothing faked anywhere in the
    Spark path. The oracle reproduces the expected statistics purely
    arithmetically (the synthesis rule is (doc_id*7 + i) % 256), so a
    parser bug on either side breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_ppm_stats(multimodal.synth_ppm(docs, "doc_id"))


_register(
    "mm_ppm_roundtrip",
    _mm_ppm,
    """
    WITH d AS (SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
               FROM documents),
    px AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d),
    v AS (SELECT doc_id, w, h, i, (doc_id * 7 + i) % 256 AS val FROM px)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(CASE WHEN i % 3 = 0 THEN val END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN i % 3 = 1 THEN val END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN i % 3 = 2 THEN val END) AS BIGINT) AS sum_b
    FROM v GROUP BY doc_id, w, h
    """,
)


def _mm_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec roundtrip (WAV/PCM): canonical RIFF headers built
    and parsed for real, exact integer PCM statistics from the decoded
    sample buffer; oracle reproduces them arithmetically."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_wav_stats(multimodal.synth_wav(docs, "doc_id"))


_register(
    "mm_wav_roundtrip",
    _mm_wav,
    """
    WITH d AS (SELECT doc_id, doc_id % 500 + 100 AS n FROM documents),
    s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
    v AS (SELECT doc_id, n,
                 (doc_id * 13 + i * 37) % 65536 - 32768 AS pcm
          FROM s)
    SELECT doc_id, 16000 AS sample_rate, CAST(n AS INT) AS n_samples,
           CAST(sum(pcm) AS BIGINT) AS sum_pcm,
           CAST(max(abs(pcm)) AS INT) AS peak
    FROM v GROUP BY doc_id, n
    """,
)


def _mm_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize: stride-2 nearest-neighbor downsample of the actually
    decoded raster; the oracle samples the same pixel positions
    arithmetically."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.resize_ppm_stats(
        multimodal.synth_ppm(docs, "doc_id"), stride=2
    )


_register(
    "mm_ppm_resize",
    _mm_ppm_resize,
    """
    WITH d AS (SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
               FROM documents),
    xs AS (SELECT doc_id, w, h, unnest(range(0, w, 2)) AS x FROM d),
    xy AS (SELECT doc_id, w, h, x, unnest(range(0, h, 2)) AS y FROM xs),
    px AS (SELECT doc_id, w, h, x, y, unnest(range(0, 3)) AS c FROM xy),
    v AS (SELECT doc_id, w, h, c,
                 (doc_id * 7 + ((y * w + x) * 3 + c)) % 256 AS val
          FROM px)
    SELECT doc_id,
           CAST((w + 1) // 2 AS INT) AS width,
           CAST((h + 1) // 2 AS INT) AS height,
           CAST(sum(CASE WHEN c = 0 THEN val END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN c = 1 THEN val END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN c = 2 THEN val END) AS BIGINT) AS sum_b
    FROM v GROUP BY doc_id, w, h
    """,
)


def _mm_vid_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling: every 2nd frame of an actually parsed
    multi-frame container, exact per-frame pixel sums; oracle reproduces
    the sampled frames arithmetically."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.sample_vid_frames(
        multimodal.synth_vid(docs, "doc_id"), every_n=2
    )


_register(
    "mm_vid_frame_sample",
    _mm_vid_frames,
    """
    WITH d AS (SELECT doc_id, doc_id % 6 + 2 AS n, doc_id % 8 + 4 AS w,
                      doc_id % 5 + 3 AS h
               FROM documents),
    fr AS (SELECT doc_id, n, w, h, unnest(range(0, n, 2)) AS f FROM d),
    px AS (SELECT doc_id, w, h, f, unnest(range(0, w * h * 3)) AS i
           FROM fr),
    v AS (SELECT doc_id, w, h, f,
                 (doc_id * 7 + f * w * h * 3 + i) % 256 AS val
          FROM px)
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(val) AS BIGINT) AS sum_px
    FROM v GROUP BY doc_id, f, w, h
    """,
)


def _mm_wav_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature windows: exact integer energy + peak per
    128-sample frame of the genuinely decoded PCM buffer."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.wav_window_features(
        multimodal.synth_wav(docs, "doc_id"), window=128
    )


_register(
    "mm_wav_windows",
    _mm_wav_windows,
    """
    WITH d AS (SELECT doc_id, doc_id % 500 + 100 AS n FROM documents),
    s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
    v AS (SELECT doc_id, i // 128 AS window_idx,
                 (doc_id * 13 + i * 37) % 65536 - 32768 AS pcm
          FROM s)
    SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
           CAST(count(*) AS INT) AS n_in_window,
           CAST(sum(pcm * pcm) AS BIGINT) AS sum_sq,
           CAST(max(abs(pcm)) AS INT) AS peak
    FROM v GROUP BY doc_id, window_idx
    """,
)


def _mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = multimodal.decode_image_meta(
        multimodal.attach_binary(docs, "doc_id", "text")
    )
    return multimodal.frame_sample(decoded, every_n=2)


_register(
    "mm_frame_sample",
    _mm_frames,
    """
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (SELECT doc_id, (n % 8) + 1 AS n_frames FROM m)
    SELECT doc_id, unnest(range(0, n_frames, 2))::INT AS frame_idx FROM f
    """,
)


# ----------------------------------------------- substring / text extras --
def _dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_dup_pairs(docs, "doc_id", "text", n=50)


_register(
    "dedup_substring",
    _dedup_substring,
    """
    WITH pos AS (SELECT doc_id, text,
                        unnest(range(1, greatest(length(text)-48, 2))) AS g
                 FROM documents),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 50) AS s FROM pos)
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS n_shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)


def _text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.pii_flags(docs, "doc_id", "text")


_register(
    "text_pii_flags",
    _text_pii,
    """
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls,
           len(regexp_extract_all(text, '\\d{3}[-.]\\d{3}[-.]\\d{4}')) AS n_phones,
           len(regexp_extract_all(text, '\\d{4,}')) AS n_digit_runs,
           (len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
            + len(regexp_extract_all(text, 'https?://[^\\s]+'))
            + len(regexp_extract_all(text, '\\d{3}[-.]\\d{3}[-.]\\d{4}'))
            + len(regexp_extract_all(text, '\\d{4,}'))) > 0 AS has_pii
    FROM documents
    """,
)


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_ratio(docs, "doc_id", "text")


_register(
    "text_repetition",
    _text_repetition,
    """
    WITH tok AS (SELECT doc_id,
                        unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                 FROM documents),
    c AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id, max(c) AS max_c, CAST(sum(c) AS BIGINT) AS n_tok,
           round(max(c)::DOUBLE / sum(c), 4) AS rep_ratio
    FROM c GROUP BY doc_id
    """,
)


def _text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.char_entropy(docs, "doc_id", "text")


_register(
    "text_entropy",
    _text_entropy,
    """
    WITH pos AS (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS g
                 FROM documents),
    ch AS (SELECT doc_id, substring(text, g::INT, 1) AS ch FROM pos),
    c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
    t AS (SELECT doc_id, ch, c, sum(c) OVER (PARTITION BY doc_id) AS total FROM c)
    SELECT doc_id,
           round(sum(-(c::DOUBLE/total) * log2(c::DOUBLE/total)), 4) AS entropy_bits
    FROM t GROUP BY doc_id
    """,
)


def _skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from as_etl_storage_spark.operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    out = salted_sum_count(
        ev,
        ["event_type"],
        F.col("value").cast("decimal(18,4)"),
        "sum_value",
        n_salts=32,
        salt_source="event_id",
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"),
    )


_register(
    "skew_salted_agg",
    _skew_salted_agg,
    """
    SELECT event_type, count(*) AS n,
           round(sum(CAST(value AS DECIMAL(18,4)))::DOUBLE, 4) AS sum_value
    FROM events GROUP BY event_type
    """,
)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, "vec_id", "embedding", 3, n_centroids=16)


_register(
    "ann_ivf_topk",
    _ann_ivf,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
    assign_scored AS (
      SELECT n.vec_id AS vid, cent.cid,
             list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn) AS cos,
             row_number() OVER (PARTITION BY n.vec_id
                                ORDER BY list_dot_product(n.v, cent.cv)
                                         / (n.nrm * cent.cn) DESC, cent.cid) AS rnk
      FROM n CROSS JOIN cent),
    assign AS (SELECT vid, cid AS centroid_id FROM assign_scored WHERE rnk = 1),
    ec AS (SELECT n.*, a.centroid_id FROM n JOIN assign a ON n.vec_id = a.vid),
    scored AS (
      SELECT a.vec_id AS qid, a.centroid_id, b.vec_id AS vid,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      FROM ec a JOIN ec b
        ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
    r AS (SELECT qid, centroid_id, vid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM scored)
    SELECT qid AS query_id, centroid_id, vid AS neighbor_id, rn AS rank
    FROM r WHERE rn <= 3
    """,
)


def _ann_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, "vec_id", "embedding", 3, n_centroids=16, nprobe=2
    )


_register(
    "ann_ivf_probe2",
    _ann_ivf_probe2,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
    assign_scored AS (
      SELECT n.vec_id AS vid, cent.cid,
             row_number() OVER (PARTITION BY n.vec_id
                                ORDER BY list_dot_product(n.v, cent.cv)
                                         / (n.nrm * cent.cn) DESC, cent.cid) AS rnk
      FROM n CROSS JOIN cent),
    assign AS (SELECT vid, cid AS centroid_id FROM assign_scored WHERE rnk = 1),
    probes AS (SELECT vid, cid AS probe_cid FROM assign_scored WHERE rnk <= 2),
    ec AS (SELECT n.*, a.centroid_id FROM n JOIN assign a ON n.vec_id = a.vid),
    scored AS (
      SELECT a.vec_id AS qid, a.centroid_id, b.vec_id AS vid,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      FROM ec a JOIN probes p ON a.vec_id = p.vid
                JOIN ec b
        ON p.probe_cid = b.centroid_id AND a.vec_id <> b.vec_id),
    r AS (SELECT qid, centroid_id, vid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM scored)
    SELECT qid AS query_id, centroid_id, vid AS neighbor_id, rn AS rank
    FROM r WHERE rn <= 3
    """,
)


# --------------------------------------------------- corpus vocabulary ----
def _vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.vocabulary(docs, "doc_id", "text", k=100)


_register(
    "text_vocab_topk",
    _vocab,
    """
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                  FROM documents)
    SELECT t, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM toks WHERE t <> ''
    GROUP BY t
    ORDER BY tf DESC, t
    LIMIT 100
    """,
)


# ------------------------------------------- distinctive term per doc -----
def _top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.top_terms(docs, "doc_id", "text")


_register(
    "text_top_terms",
    _top_terms,
    """
    WITH toks AS (
      SELECT doc_id, t, count(*) AS tf FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM documents) s
      WHERE t <> '' GROUP BY doc_id, t),
    dfreq AS (SELECT t, count(*) AS df FROM toks GROUP BY t),
    r AS (SELECT doc_id, t, tf, df,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tf DESC, df ASC, t) AS rn
          FROM toks JOIN dfreq USING (t))
    SELECT doc_id, t AS top_term, tf, df FROM r WHERE rn = 1
    """,
)


# ------------------------------------------------- incremental dedup ------
_NEW_SOURCES = ("src16", "src17", "src18", "src19")


def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source").isin(*_NEW_SOURCES)
    return dedup.incremental_dedup_pairs(
        docs.where(is_new), docs.where(~is_new), "doc_id", "text"
    )


_register(
    "dedup_incremental",
    _dedup_incremental,
    """
    WITH pos AS (SELECT doc_id, source, text,
                        unnest(range(1, greatest(length(text)-3, 2))) AS g
                 FROM documents),
    sh AS (SELECT DISTINCT doc_id, source, substring(text, g::INT, 5) AS s
           FROM pos),
    newd AS (SELECT * FROM sh
             WHERE source IN ('src16', 'src17', 'src18', 'src19')),
    corp AS (SELECT * FROM sh
             WHERE source NOT IN ('src16', 'src17', 'src18', 'src19')),
    pair AS (SELECT a.doc_id i, b.doc_id j, count(*) AS inter
             FROM newd a JOIN corp b ON a.s = b.s GROUP BY 1, 2),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
    SELECT i AS doc_i, j AS doc_j,
           round(inter::DOUBLE / (x.n + y.n - inter), 4) AS jac
    FROM pair JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
    WHERE inter * 5 >= (x.n + y.n - inter) * 4
    """,
)


# --------------------------------------- unigram-LM rarity (quality) ------
def _text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.rarity_score(docs, "doc_id", "text")


_register(
    "text_rarity",
    _text_rarity,
    """
    WITH tok AS (SELECT doc_id,
                        unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                 FROM documents),
    tok2 AS (SELECT * FROM tok WHERE t <> ''),
    freq AS (SELECT t, count(*) AS c FROM tok2 GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM freq)
    SELECT doc_id, count(*) AS n_tokens,
           round(CAST(sum(n_total // c) AS BIGINT) / count(*), 4) AS rarity
    FROM tok2 JOIN freq USING (t) CROSS JOIN tot
    GROUP BY doc_id
    """,
)


# --------------------------------- boilerplate phrase detection -----------
def _text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.boilerplate_phrases(
        docs, "doc_id", "text", "source", n=6, min_docs=2
    )


_register(
    "text_boilerplate",
    _text_boilerplate,
    """
    WITH tk AS (SELECT source, doc_id,
                       regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents),
    pos AS (SELECT source, doc_id, toks,
                   unnest(range(1, greatest(len(toks)-4, 2))) AS g
            FROM tk),
    gr AS (SELECT DISTINCT source, doc_id,
                  array_to_string(toks[g:g+5], ' ') AS gram
           FROM pos)
    SELECT source, gram, count(DISTINCT doc_id) AS n_docs
    FROM gr GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
    """,
)


# --------------------------------------- asymmetric containment dedup -----
def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, "doc_id", "text", n=8, p=4, q=5)


_register(
    "dedup_containment",
    _dedup_containment,
    """
    WITH pos AS (SELECT doc_id, text,
                        unnest(range(1, greatest(length(text)-6, 2))) AS g
                 FROM documents),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 8) AS s FROM pos),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pair AS (SELECT a.doc_id i, b.doc_id j, count(*) AS inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
             GROUP BY 1, 2)
    SELECT i AS doc_i, j AS doc_j,
           round(inter::DOUBLE / x.n, 4) AS containment
    FROM pair JOIN sz x ON x.doc_id = i
    WHERE inter * 5 >= x.n * 4
    """,
)


# ------------------------------------------ product-quantized ANN ---------
def _ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, "vec_id", "embedding", dim=64, k=10, m=4, n_codes=16, n_queries=5
    )


_register(
    "ann_pq_topk",
    _ann_pq,
    """
    WITH e AS (SELECT vec_id AS vid,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    cb AS (SELECT vid AS cid, v AS cv FROM e WHERE vid < 16),
    blocks AS (SELECT unnest(range(0, 4)) AS j),
    bd AS (SELECT e.vid, cb.cid, b.j,
                  (list_dot_product(e.v[b.j*16+1 : b.j*16+16],
                                    e.v[b.j*16+1 : b.j*16+16])
                   - 2 * list_dot_product(e.v[b.j*16+1 : b.j*16+16],
                                          cb.cv[b.j*16+1 : b.j*16+16])
                   + list_dot_product(cb.cv[b.j*16+1 : b.j*16+16],
                                      cb.cv[b.j*16+1 : b.j*16+16])) AS d
           FROM e CROSS JOIN cb CROSS JOIN blocks b),
    coded AS (SELECT vid, j, cid AS code,
                     row_number() OVER (PARTITION BY vid, j
                                        ORDER BY d, cid) AS rn
              FROM bd),
    codes AS (SELECT vid,
                     max(CASE WHEN j = 0 THEN code END) AS code0,
                     max(CASE WHEN j = 1 THEN code END) AS code1,
                     max(CASE WHEN j = 2 THEN code END) AS code2,
                     max(CASE WHEN j = 3 THEN code END) AS code3
              FROM coded WHERE rn = 1 GROUP BY vid),
    lut AS (SELECT vid AS qid, cid, j, d FROM bd WHERE vid < 5),
    scored AS (
      SELECT l0.qid, c.vid,
             ((l0.d + l1.d) + l2.d) + l3.d AS ad
      FROM codes c
      JOIN lut l0 ON l0.j = 0 AND l0.cid = c.code0
      JOIN lut l1 ON l1.j = 1 AND l1.cid = c.code1 AND l1.qid = l0.qid
      JOIN lut l2 ON l2.j = 2 AND l2.cid = c.code2 AND l2.qid = l0.qid
      JOIN lut l3 ON l3.j = 3 AND l3.cid = c.code3 AND l3.qid = l0.qid
      WHERE c.vid != l0.qid),
    r AS (SELECT qid, vid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY ad, vid) AS rank
          FROM scored)
    SELECT qid AS query_id, vid AS neighbor_id, rank
    FROM r WHERE rank <= 10
    """,
)


# ------------------------------------------------ data-mixing report ------
def _data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget per (source, lang) with corpus share — the mixing
    table a training run samples from. Integer token counts; the share is
    one division rounded, so doubles hash-match."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "lang",
        F.size(word_tokens(F.col("text"))).alias("n_tok"),
    ).where(F.col("n_tok").isNotNull())
    per = toks.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    total = per.agg(F.sum("n_tokens").alias("total"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("total"), 6).alias("share"),
    )


_register(
    "q_data_mix_report",
    _data_mix,
    """
    WITH t AS (SELECT source, lang,
                      len(regexp_split_to_array(text, '\\s+')) AS n_tok
               FROM documents WHERE text IS NOT NULL),
    per AS (SELECT source, lang, count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM t GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per)
    SELECT source, lang, n_docs, n_tokens,
           round(n_tokens / total, 6) AS share
    FROM per CROSS JOIN tot
    """,
)


# ------------------------------------------------ corpus rebalancing ------
def _rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-mix resample: every (source, lang) group downsampled to
    ~the smallest group's size, membership a pure function of doc_id
    (operators/sampling.rebalance_to_min_group)."""
    from as_etl_storage_spark.operators.sampling import rebalance_to_min_group

    docs = load_table(spark, sf_dir, "documents")
    kept = rebalance_to_min_group(docs, "doc_id", ["source", "lang"])
    return kept.select("doc_id", "source", "lang")


_register(
    "corpus_rebalance_sample",
    _rebalance,
    """
    WITH per AS (SELECT source, lang, count(*) AS n_g
                 FROM documents GROUP BY 1, 2),
    m AS (SELECT min(n_g) AS n_min FROM per)
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN per USING (source, lang) CROSS JOIN m
    WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000) * n_g < 1000000 * n_min
    """,
)


# ------------------------------------------- eval-set decontamination -----
def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: training docs sharing any 13-token
    n-gram with the held-out set (here every 20th doc id, a split that
    cuts across the fixture's duplicate clusters) are flagged — the
    standard decontamination filter before training. The eval side's gram
    index is tiny, so the probe is a broadcast semi-join; the training
    corpus is scanned once and never shuffled on the gram key."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", word_tokens(F.col("text")).alias("tk")
    )
    grams = word_grams(F.col("tk"), 13)
    train = docs.where("doc_id % 20 <> 0").select(
        F.col("doc_id"), F.explode(grams).alias("g")
    )
    eval_grams = (
        docs.where("doc_id % 20 = 0").select(F.explode(grams).alias("g")).distinct()
    )
    flagged = (
        train.join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return flagged.orderBy("doc_id")


_register(
    "dedup_decontaminate",
    _decontaminate,
    """
    WITH tk AS (SELECT doc_id,
                       regexp_split_to_array(text, '\\s+') AS toks
                FROM documents),
    pos AS (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks)-11, 2))) AS i
            FROM tk),
    gr AS (SELECT doc_id,
                  array_to_string(toks[i:i+12], ' ') AS g
           FROM pos),
    ev AS (SELECT DISTINCT g FROM gr WHERE doc_id % 20 = 0)
    SELECT DISTINCT doc_id
    FROM gr WHERE doc_id % 20 <> 0 AND g IN (SELECT g FROM ev)
    ORDER BY doc_id
    """,
)


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.pack_sequences(docs, "doc_id", "text", "source", budget=256)


_register(
    "text_pack_sequences",
    _pack_sequences,
    """
    WITH t AS (
      SELECT source, doc_id,
             len(regexp_split_to_array(text, '\\s+')) AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT source, doc_id, toks,
             CAST(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - toks AS BIGINT) AS start
      FROM t
    )
    SELECT source, start // 256 AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY source, start // 256
    """,
)


def _bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_counts(docs, "text", "source", min_count=3)


_register(
    "text_bigrams_top",
    _bigrams,
    """
    WITH tk AS (
      SELECT source, regexp_split_to_array(lower(text), '\\s+') AS l
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
      SELECT source,
             unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM tk WHERE len(l) >= 2
    )
    SELECT source, bigram, CAST(count(*) AS BIGINT) AS n
    FROM bg GROUP BY source, bigram HAVING count(*) >= 3
    """,
)


def _inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # band sized to the fixture's vocabulary (~31 terms, df 25..450 over
    # 500 docs): the old [3, 10] band matched NOTHING, so the oracle
    # compared empty-vs-empty and never validated a posting list
    docs = load_table(spark, sf_dir, "documents")
    return text.inverted_index(docs, "doc_id", "text", min_df=2, max_df=400)


_register(
    "text_inverted_index",
    _inverted_index,
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
      FROM documents
    ),
    tok2 AS (SELECT DISTINCT doc_id, t FROM tok WHERE t <> ''),
    dfr AS (SELECT t, count(*) AS df FROM tok2 GROUP BY t
            HAVING count(*) BETWEEN 2 AND 400)
    SELECT tok2.t AS term, CAST(dfr.df AS BIGINT) AS df,
           string_agg(tok2.doc_id::VARCHAR, ',' ORDER BY tok2.doc_id)
             AS postings
    FROM tok2 JOIN dfr ON tok2.t = dfr.t
    GROUP BY tok2.t, dfr.df
    """,
)


def _corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible distributed corpus shuffle: every doc gets a stable
    (shard, pos) from a seeded hash — the same permutation on any cluster
    layout or rerun, unlike orderBy(rand(seed)) whose sampling depends on
    partitioning. Ordering work is per-shard (16 independent sorts, no
    global order/SinglePartition); at 100 TB raise the shard count so each
    sort fits an executor, then write one shard per training file."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = (
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':42')), "
        "1, 15), 16, 10) AS BIGINT)"
    )
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return (
        docs.select(
            "doc_id",
            F.expr(f"pmod({h}, 16)").alias("shard"),
            F.expr(h).alias("hkey"),
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


_register(
    "corpus_shuffle_shards",
    _corpus_shuffle,
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))::BIGINT
               AS hkey
      FROM documents
    )
    SELECT doc_id, hkey % 16 AS shard,
           CAST(row_number() OVER (PARTITION BY hkey % 16
                                   ORDER BY hkey, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)


def _mm_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical multimodal dedup: group binary payloads by content
    hash — the first pass of any image/audio dedup pipeline (exact file
    dup removal before expensive perceptual hashing). The md5 runs
    executor-side over the binary column; the shuffle carries (hash, id),
    never payload bytes — the property that matters when payloads are MB
    and the corpus is 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    wb = multimodal.attach_binary(docs, "doc_id", "text")
    return (
        wb.select("doc_id", F.md5("payload").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


_register(
    "mm_binary_dedup",
    _mm_binary_dedup,
    """
    SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)


def _redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.redact_pii(docs, "doc_id", "text")


_register(
    "text_redact_pii",
    _redact,
    """
    WITH r AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\\s]+', '<URL>', 'g'),
               '\\d{3}[-.]\\d{3}[-.]\\d{4}', '<PHONE>', 'g'),
               '\\d{4,}', '<NUM>', 'g') AS clean_text
      FROM documents
    )
    SELECT doc_id, clean_text,
           (clean_text IS DISTINCT FROM text) AS redacted
    FROM r
    """,
)


def _sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats: split on [.!?]+ runs, count non-blank
    segments, average characters per sentence. Both engines keep trailing
    empty segments (java limit -1 / duck regexp_split_to_array), so the
    non-blank filter makes the counts identical; the division is guarded
    with nullif (ANSI mode turns x/0 into an error, not null)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            "size(filter(split(text, '[.!?]+'), s -> trim(s) != ''))"
        ).alias("n_sentences"),
        F.expr(
            "round(aggregate(transform(filter(split(text, '[.!?]+'), "
            "s -> trim(s) != ''), s -> length(trim(s))), 0, "
            "(a, x) -> a + x) / nullif(size(filter(split(text, '[.!?]+'), "
            "s -> trim(s) != '')), 0), 4)"
        ).alias("avg_sentence_chars"),
    )


_register(
    "text_sentence_stats",
    _sentence_stats,
    """
    WITH seg AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[.!?]+'),
                         s -> trim(s) <> '') AS sents
      FROM documents
    )
    SELECT doc_id,
           len(sents) AS n_sentences,
           round(list_sum(list_transform(sents, s -> length(trim(s))))
                 / nullif(len(sents), 0), 4) AS avg_sentence_chars
    FROM seg
    """,
)


# ------------------------------------------------- round-5 extensions ----
def _bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-targeted selection: BM25-rank the corpus against a seed
    term set (operators/text.bm25_topk)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(
        docs, "doc_id", "text", ["spark", "join", "window", "merge"], k=20
    )


_register(
    "text_bm25_topk",
    _bm25,
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
    st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    hits AS (SELECT doc_id, t, count(*) AS tf FROM tok2
             WHERE t IN ('join', 'merge', 'spark', 'window') GROUP BY 1, 2),
    dfreq AS (SELECT t, count(*) AS df FROM hits GROUP BY 1),
    contrib AS (
      SELECT h.doc_id,
             CAST(round(
               ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
               * ((h.tf * (1.2 + 1.0))
                  / (h.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))),
               6) AS DECIMAL(18,6)) AS part
      FROM hits h JOIN dfreq d USING (t) JOIN dl USING (doc_id) CROSS JOIN st
    ),
    sc AS (SELECT doc_id, CAST(sum(part) AS DECIMAL(18,6)) AS dscore
           FROM contrib GROUP BY 1),
    r AS (SELECT doc_id, dscore,
                 row_number() OVER (ORDER BY dscore DESC, doc_id) AS rank
          FROM sc)
    SELECT doc_id, CAST(dscore AS DOUBLE) AS score, rank
    FROM r WHERE rank <= 20
    """,
)


def _seg_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document segment dedup + rebuild
    (operators/dedup.segment_dedup_rebuild)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.segment_dedup_rebuild(docs, "doc_id", "text", seg_tokens=10)


_register(
    "dedup_paragraph_rebuild",
    _seg_dedup,
    """
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         t -> t <> '') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    seg AS (
      SELECT doc_id, s AS seg_idx,
             array_to_string(tk[s*10+1 : s*10+10], ' ') AS seg
      FROM (SELECT doc_id, tk,
                   unnest(range(0, CAST(ceil(len(tk)/10.0) AS INT))) AS s
            FROM tk WHERE len(tk) > 0)
    ),
    own AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                               ORDER BY seg_idx), '') AS clean_text
    FROM own GROUP BY doc_id
    """,
)


def _ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized candidate scan + exact float rerank
    (operators/similarity.int8_topk_rescore)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.int8_topk_rescore(
        emb, "vec_id", "embedding", 5, "vid % 50 = 0", mult=4
    )


_register(
    "ann_int8_rescore",
    _ann_int8,
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    q0 AS (SELECT vec_id, v,
                  list_max(list_transform(v, x -> abs(x))) AS amax
           FROM e),
    b AS (SELECT vec_id, v,
                 list_transform(v, x -> CAST(floor(x * 127.0 / amax + 0.5)
                                             AS INT)) AS qv,
                 amax / 127.0 AS scale
          FROM q0 WHERE amax > 0),
    q AS (SELECT * FROM b WHERE vec_id % 50 = 0),
    sc AS (SELECT q.vec_id AS qid, b.vec_id AS vid, q.v AS qval, b.v AS v,
                  list_dot_product(list_transform(q.qv, x -> x::DOUBLE),
                                   list_transform(b.qv, x -> x::DOUBLE))
                  * q.scale * b.scale AS approx
           FROM q JOIN b ON q.vec_id <> b.vec_id),
    cand AS (SELECT *, row_number() OVER (PARTITION BY qid
                                          ORDER BY approx DESC, vid) AS crank
             FROM sc),
    resc AS (SELECT qid, vid,
                    list_dot_product(qval, v)
                    / (sqrt(list_dot_product(qval, qval))
                       * sqrt(list_dot_product(v, v))) AS cos
             FROM cand WHERE crank <= 20),
    r AS (SELECT qid, vid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, vid) AS rank
          FROM resc)
    SELECT qid AS query_id, vid AS neighbor_id, rank FROM r WHERE rank <= 5
    """,
)


def _hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval: BM25 top-100 and cosine-ANN
    top-100 (query = embedding of item 0, the fixtures' doc_id==vec_id
    alignment) fused with reciprocal-rank fusion
    (operators/retrieval.rrf_fuse). Missing-from-ranker is surfaced as
    rank 0 (ranks are 1-based) so the columns stay non-null integers."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = text.bm25_topk(
        docs, "doc_id", "text", ["spark", "join", "window", "merge"], k=100
    ).select("doc_id", "rank")
    vec = similarity.cosine_topk(emb, "vec_id", "embedding", 100, "vid = 0").select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    fused = retrieval.rrf_fuse([lex, vec], "doc_id", k=20)
    return fused.select(
        "doc_id",
        F.coalesce("rank_0", F.lit(0)).alias("lex_rank"),
        F.coalesce("rank_1", F.lit(0)).alias("vec_rank"),
        "score",
        "fused_rank",
    )


_register(
    "hybrid_search_rrf",
    _hybrid_rrf,
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
    st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    hits AS (SELECT doc_id, t, count(*) AS tf FROM tok2
             WHERE t IN ('join', 'merge', 'spark', 'window') GROUP BY 1, 2),
    dfreq AS (SELECT t, count(*) AS df FROM hits GROUP BY 1),
    contrib AS (
      SELECT h.doc_id,
             CAST(round(
               ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
               * ((h.tf * (1.2 + 1.0))
                  / (h.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))),
               6) AS DECIMAL(18,6)) AS part
      FROM hits h JOIN dfreq d USING (t) JOIN dl USING (doc_id) CROSS JOIN st
    ),
    sc AS (SELECT doc_id, CAST(sum(part) AS DECIMAL(18,6)) AS dscore
           FROM contrib GROUP BY 1),
    lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY dscore DESC, doc_id) AS rank_0
            FROM sc QUALIFY rank_0 <= 100),
    e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id = 0),
    vsc AS (SELECT n.vec_id AS doc_id,
                   list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
            FROM q JOIN n ON n.vec_id <> q.vec_id),
    vec AS (SELECT doc_id,
                   row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_1
            FROM vsc QUALIFY rank_1 <= 100),
    f AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
                 lex.rank_0, vec.rank_1,
                 coalesce(1.0 / (60.0 + lex.rank_0), 0.0)
                 + coalesce(1.0 / (60.0 + vec.rank_1), 0.0) AS score
          FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
    SELECT doc_id,
           CAST(coalesce(rank_0, 0) AS INT) AS lex_rank,
           CAST(coalesce(rank_1, 0) AS INT) AS vec_rank,
           score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS fused_rank
    FROM f QUALIFY fused_rank <= 20
    """,
)


def _negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive-training negative sampling
    (operators/sampling.negative_samples): 4 LCG-picked corpus negatives
    per anchor (anchors = doc_id % 20 = 0)."""
    from as_etl_storage_spark.operators.sampling import negative_samples

    docs = load_table(spark, sf_dir, "documents")
    return negative_samples(docs, "doc_id", "doc_id % 20 = 0", m=4, seed=1)


_register(
    "corpus_negative_pairs",
    _negative_pairs,
    """
    WITH idx AS (SELECT doc_id,
                        row_number() OVER (ORDER BY doc_id) AS gr
                 FROM documents),
    n AS (SELECT count(*) AS n FROM documents),
    anch AS (SELECT doc_id AS anchor_id FROM documents WHERE doc_id % 20 = 0),
    slots AS (SELECT unnest(range(1, 5)) AS neg_slot),
    cand AS (SELECT a.anchor_id, s.neg_slot,
                    ((a.anchor_id % 2147483647) * 48271
                     + (s.neg_slot * 1299721 + 1)) % 2147483647 % n.n + 1
                      AS neg_gr
             FROM anch a CROSS JOIN slots s CROSS JOIN n)
    SELECT c.anchor_id, CAST(c.neg_slot AS BIGINT) AS neg_slot,
           i.doc_id AS neg_id
    FROM cand c JOIN idx i ON i.gr = c.neg_gr
    WHERE i.doc_id <> c.anchor_id
    """,
)


def budget_select_pipeline(docs: DataFrame) -> DataFrame:
    """Token-budget corpus selection over a documents frame — the SINGLE
    definition shared by the `corpus_budget_select` contract query and
    `scripts/scale_stress.py` (so the measured scale curve is always the
    shipped pipeline, never a drifted copy). Rank documents by an
    integer quality key (stopword-rate proxy, best first) and keep rows
    while the global running token total stays within 60% of the corpus
    — the "fill the training budget with the best data" step. The
    prefix sum is operators/rank.global_running_sum (boundary-literal
    buckets + per-bucket offsets), never a single-partition window; the
    budget cutoff stays IN-PLAN in exact integer arithmetic — the
    corpus token total is recovered from the prefix sum's own
    per-bucket stats as a broadcast column instead of a separate
    corpus-wide aggregate (the tokenize lineage is the expensive part —
    one fewer full pass, and zero driver collects)."""
    from as_etl_storage_spark.operators.parallelism import spread_small_scan
    from as_etl_storage_spark.operators.rank import global_running_sum

    docs = spread_small_scan(docs)
    stop_arr = "array('the','a','an','of','and','or','is','to','in')"
    staged = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.filter(word_tokens(F.col("text")), lambda t: t != "").alias("tk"),
        )
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            F.size("tk").cast("long").alias("toks"),
            F.expr(
                f"(size(filter(tk, t -> array_contains({stop_arr}, lower(t))))"
                " * 1000L) DIV size(tk)"
            ).alias("q"),
        )
    )
    # the tokenize/quality projection feeds BOTH of global_running_sum's
    # lineages (the bucketed window and the per-bucket stats groupBy);
    # Catalyst does not share the subplan, so without materialization the
    # expensive tokenize pass runs twice per query. The checkpointed rows
    # are narrow (doc_id, toks, q) — corpus text never materializes.
    staged = staged.localCheckpoint(eager=True)
    ranked = global_running_sum(
        staged.withColumn("negq", -F.col("q")),
        ["negq", "doc_id"],
        "toks",
        "cum_tokens",
        total_col="__budget_total",
    )
    return ranked.where(
        F.col("cum_tokens") <= F.expr("__budget_total * 3 DIV 5")
    ).select("doc_id", "toks", "cum_tokens")


def _budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See :func:`budget_select_pipeline` — this entry binds it to the
    driver's documents fixture."""
    return budget_select_pipeline(load_table(spark, sf_dir, "documents"))


_register(
    "corpus_budget_select",
    _budget_select,
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, len(tk) AS toks,
             (len(list_filter(tk, x -> list_contains(
                 ['the','a','an','of','and','or','is','to','in'],
                 lower(x)))) * 1000) // len(tk) AS q
      FROM t WHERE len(tk) > 0
    ),
    tot AS (SELECT sum(toks) AS total FROM s),
    r AS (
      SELECT doc_id, toks,
             sum(toks) OVER (ORDER BY -q, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_tokens
      FROM s
    )
    SELECT doc_id, CAST(toks AS BIGINT) AS toks,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM r CROSS JOIN tot
    WHERE cum_tokens <= total * 3 // 5
    """,
)


def _tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs through shared mid-band terms
    (operators/text.tfidf_similar_pairs) — term-partitioned sparse
    similarity, the no-embedding complement to the ANN family."""
    # band/threshold sized to the fixture (narrow ~31-term vocabulary):
    # the old df band [2, 20] excluded every term, so the pair stream —
    # and the oracle compare — was vacuously empty
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_similar_pairs(
        docs, "doc_id", "text", min_df=2, max_df=380, threshold=0.95
    )


_register(
    "text_tfidf_pairs",
    _tfidf_pairs,
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok WHERE t <> ''
           GROUP BY 1, 2),
    st AS (SELECT t, count(*) AS dfreq FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
    w AS (SELECT tf.doc_id, tf.t,
                 CAST(round(tf.tf * ln(nd.n / st.dfreq), 6)
                      AS DECIMAL(18,6)) AS w
          FROM tf JOIN st USING (t) CROSS JOIN nd
          WHERE st.dfreq BETWEEN 2 AND 380),
    nrm AS (SELECT doc_id, sqrt(CAST(sum(w*w) AS DOUBLE)) AS nrm
            FROM w GROUP BY 1),
    dots AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
                    CAST(sum(a.w * b.w) AS DOUBLE) AS dot
             FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
    SELECT doc_i, doc_j, round(dot / (x.nrm * y.nrm), 4) AS sim
    FROM dots JOIN nrm x ON x.doc_id = doc_i
              JOIN nrm y ON y.doc_id = doc_j
    WHERE dot / (x.nrm * y.nrm) >= 0.95
    """,
)


# normalization-uplift report: how many extra duplicate groups appear once
# text is canonicalized (lowercase, punctuation stripped, whitespace
# collapsed) — the standard pre-dedup normalization decision, quantified.
# Pure per-source aggregation; the normalization chain is codegen'd
# (Spark replaces all matches by default; DuckDB needs the 'g' flag).
_NORM_SPARK = """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT text) AS distinct_raw,
           count(DISTINCT trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ''),
               ' +', ' '))) AS distinct_norm
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
"""
_NORM_DUCK = """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT text) AS distinct_raw,
           count(DISTINCT trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS distinct_norm
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
"""
from as_etl_storage_spark.queries.common import sql_query as _sql_query  # noqa: E402

_register("dedup_norm_uplift", _sql_query(("documents",), _NORM_SPARK), _NORM_DUCK)


def _cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters, estimates hash-gated exactly
    (operators/text.cms_heavy_hitters)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.cms_heavy_hitters(docs, "doc_id", "text", d=3, w=1024, k=20)


_register(
    "text_cms_heavy_hitters",
    _cms,
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    counts AS (SELECT t, count(*) AS c FROM tok WHERE t <> '' GROUP BY t),
    hashed AS (
      SELECT t, c, j,
             ('0x' || substr(md5(t || '#' || j::VARCHAR), 1, 15))::BIGINT
               % 1024 AS bucket
      FROM counts CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
    ),
    counters AS (SELECT j, bucket, sum(c) AS cell
                 FROM hashed GROUP BY j, bucket),
    est AS (SELECT h.t, min(cn.cell) AS est_c, min(h.c) AS true_c
            FROM hashed h JOIN counters cn USING (j, bucket)
            GROUP BY h.t)
    SELECT t AS term, CAST(true_c AS BIGINT) AS true_c,
           CAST(est_c AS BIGINT) AS est_c,
           CAST(est_c - true_c AS BIGINT) AS overcount
    FROM est
    ORDER BY true_c DESC, t
    LIMIT 20
    """,
)


def _temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=0.5 temperature mix over (source, lang) groups
    (operators/sampling.temperature_mix); report post-mix group sizes so
    the flattening is visible in one row per group."""
    from as_etl_storage_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_mix(docs, "doc_id", ["source", "lang"])
    return kept.groupBy("source", "lang").agg(
        F.count("*").alias("n_kept"), F.min("doc_id").alias("first_doc")
    )


_register(
    "corpus_temperature_mix",
    _temperature_mix,
    """
    WITH per AS (SELECT source, lang, count(*) AS n_g
                 FROM documents GROUP BY 1, 2),
    mn AS (SELECT min(n_g) AS n_min FROM per),
    kept AS (
      SELECT d.*
      FROM documents d JOIN per USING (source, lang) CROSS JOIN mn
      WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000)
            * (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000)
            * per.n_g
            < 1000 * 1000 * mn.n_min
    )
    SELECT source, lang, count(*) AS n_kept, min(doc_id) AS first_doc
    FROM kept GROUP BY source, lang
    """,
)


def _snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup blocking
    (operators/dedup.sorted_neighborhood_pairs): lexicographic order on a
    64-char lowercased prefix key (doc-id tie-break), window 3, exact
    5-gram jaccard >= 3/5 verification."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(
        docs, "doc_id", "text", window=3, p=3, q=5
    )


_register(
    "dedup_sorted_neighborhood",
    _snm_pairs,
    """
    WITH keyed AS (SELECT doc_id, substring(lower(text), 1, 64) AS skey
                   FROM documents WHERE text IS NOT NULL),
    r AS (SELECT doc_id, row_number() OVER (ORDER BY skey, doc_id) AS rnk
          FROM keyed),
    cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_i,
                    greatest(a.doc_id, b.doc_id) AS doc_j
             FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 3),
    pos AS (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-3, 2))) AS g
            FROM documents WHERE text IS NOT NULL),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 5) AS s FROM pos),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT c.doc_i, c.doc_j, count(*) AS inter
              FROM cand c JOIN sh x ON x.doc_id = c.doc_i
                          JOIN sh y ON y.doc_id = c.doc_j AND y.s = x.s
              GROUP BY 1, 2)
    SELECT doc_i, doc_j,
           round(inter::DOUBLE / (x.n + y.n - inter), 4) AS jac
    FROM inter JOIN sz x ON x.doc_id = doc_i JOIN sz y ON y.doc_id = doc_j
    WHERE inter * 5 >= (x.n + y.n - inter) * 3
    """,
)


def _snm_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass SNM (forward + reversed sort keys) — the recall lever
    (operators/dedup.sorted_neighborhood_multi)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_multi(
        docs, "doc_id", "text", window=3, p=3, q=5
    )


_register(
    "dedup_snm_multikey",
    _snm_multi,
    """
    WITH keyed AS (SELECT doc_id, substring(lower(text), 1, 64) AS sk1,
                          substring(reverse(lower(text)), 1, 64) AS sk2
                   FROM documents WHERE text IS NOT NULL),
    r1 AS (SELECT doc_id, row_number() OVER (ORDER BY sk1, doc_id) AS rnk
           FROM keyed),
    r2 AS (SELECT doc_id, row_number() OVER (ORDER BY sk2, doc_id) AS rnk
           FROM keyed),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_i,
             greatest(a.doc_id, b.doc_id) AS doc_j
      FROM r1 a JOIN r1 b ON b.rnk - a.rnk BETWEEN 1 AND 3
      UNION
      SELECT DISTINCT least(a.doc_id, b.doc_id),
             greatest(a.doc_id, b.doc_id)
      FROM r2 a JOIN r2 b ON b.rnk - a.rnk BETWEEN 1 AND 3
    ),
    pos AS (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-3, 2))) AS g
            FROM documents WHERE text IS NOT NULL),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 5) AS s FROM pos),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT c.doc_i, c.doc_j, count(*) AS inter
              FROM cand c JOIN sh x ON x.doc_id = c.doc_i
                          JOIN sh y ON y.doc_id = c.doc_j AND y.s = x.s
              GROUP BY 1, 2)
    SELECT doc_i, doc_j,
           round(inter::DOUBLE / (x.n + y.n - inter), 4) AS jac
    FROM inter JOIN sz x ON x.doc_id = doc_i JOIN sz y ON y.doc_id = doc_j
    WHERE inter * 5 >= (x.n + y.n - inter) * 3
    """,
)

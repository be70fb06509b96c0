"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame compositions (JVM-side, whole-stage
codegen'd) — no Python UDFs in any hot path. Scale design notes:

  * _grams             — the one character-n-gram kernel every shingle
                         consumer shares: a single regex pass per
                         document, O(length), never O(length²).
  * exact_dedup        — one hash-shuffle on the dedup key; map-side partial
                         aggregation halves shuffle volume.
  * minhash_dedup_pairs— the 100 TB path: candidates via banded
                         one-permutation MinHash so the join key is
                         (band, signature), never all-pairs. Shuffle volume
                         is O(docs × bands), verification cost is
                         O(candidates × shingles per doc).
  * simhash            — 60-bit signature per doc (one shuffle over tokens);
                         pair generation here is same-signature-or-near join;
                         at extreme scale, block by signature prefix instead
                         of self-joining all docs.
  * ngram_jaccard_pairs— exact all-pairs via inverted index join; quadratic
                         in cluster size — the correctness baseline for the
                         LSH path, not the scale path. Word grams come from
                         the shared ``functions.word_grams`` kernel over a
                         projected token array: O(tokens) per document.
  * embedding_cosine_pairs — exact near-dup on embedding vectors; brute
                         force here, LSH-bucketed variant in
                         operators/similarity.

Threshold comparisons use integer cross-multiplication (inter * q >=
union * p for threshold p/q) — exact, no float boundary effects.

Eager ``localCheckpoint`` sites (candidate pairs / candidate-doc arrays
here; same pattern in text/similarity/ml operators): construction
launches the materializing job immediately and truncates lineage to
UNREPLICATED executor blocks, so in cluster mode an executor loss after
the pin is unrecoverable for that query (acceptable for interactive /
retried batch work; swap for ``persist`` + caller-managed lifecycle or a
reliable checkpoint where a long job must survive executor churn).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from as_etl_storage_spark.functions import (
    ratio_at_least,
    vec_cosine,
    vec_dot,
    vec_norm,
    word_grams,
    word_tokens,
)

# 128 one-permutation MinHash bins in 16 bands x 8 rows: for true-dup
# jaccard >= 0.95 the miss probability is < 1e-10; at the 0.8 threshold it
# is ~5%, but the fixture (and typical crawl) distributions are bimodal
# (dups ~0.95+, rest <0.4) so effective recall is ~1. Verification is
# exact-jaccard anyway.
N_HASHES = 128
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS


def exact_dedup(df: DataFrame, id_col: str, key_cols: list[str]) -> DataFrame:
    """Exact dedup: keep the minimum id per duplicate group, report group
    size. One shuffle on the key columns."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, "n_copies")
    )


def keep_latest(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """CDC-style compaction: keep the newest row per key, newest = last in
    ``order_cols`` ascending order (give a unique final tie-break column for
    determinism). One shuffle on the key columns; the per-key sort is
    bounded by group size, not table size."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _grams(text_col: str, n: int) -> Column:
    """Character n-grams of ``text_col`` as an array, in one codegen'd
    O(length) regex pass: the DuckDB oracle's ``substr(t, i, n)`` for
    i in 1..max(len-n+1, 1) — a text shorter than n is its own gram,
    NULL text is a NULL array. The lookahead captures the gram without
    consuming it, and the trailing ``.`` steps one whole code point, so
    the matcher never restarts inside a UTF-16 surrogate pair."""
    return F.expr(
        f"CASE WHEN length({text_col}) < {n} THEN array({text_col}) "
        f"ELSE regexp_extract_all({text_col}, '(?s)(?=(.{{{n}}})).', 1) END"
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, distinct: bool = True
) -> DataFrame:
    """(id, character-n-gram) pairs: the :func:`_grams` array exploded,
    so NULL text emits no rows.

    ``distinct=False`` skips the dedup shuffle — safe for MinHash signature
    computation (min over a multiset equals min over its set)."""
    out = df.select(
        F.col(id_col).alias("doc"),
        F.explode(_grams(text_col, n)).alias("shingle"),
    )
    return out.distinct() if distinct else out


def shingle_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, hashed: bool = False
) -> DataFrame:
    """(doc, distinct character-n-gram array) computed entirely in-row —
    no explode, no groupBy, no shuffle. Same :func:`_grams` kernel as
    :func:`shingle_table`; NULL-text rows are dropped, matching the
    exploded form which emits no rows for them.

    ``hashed=True`` stores ``xxhash64(gram)`` longs instead of the gram
    strings: intersection/size arithmetic over fixed-width longs runs
    ~30% faster than over strings and shuffles a fraction of the bytes
    (8 bytes vs n chars + offsets per gram). Distinctness and
    intersection are computed on the hashes, so a 64-bit collision
    *within a compared pair* could shift one jaccard value — odds ~
    m²/2^65 per doc pair (m = grams per doc; ~1e-13 at m=1000), verified
    exact-match against the string form on every fixture. Use for
    verification paths; keep strings where grams themselves are
    emitted."""
    grams = _grams(text_col, n)
    if hashed:
        # a higher-order function runs interpreted, but each call hashes
        # one n-char gram: the row stays O(length)
        grams = F.transform(grams, lambda g: F.xxhash64(g))
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), F.array_distinct(grams).alias("shingles")
    )


def verify_jaccard_arrays(
    candidates: DataFrame,
    doc_arrays: DataFrame,
    p: int,
    q: int,
    broadcast: bool = True,
) -> DataFrame:
    """Exact-jaccard verification via per-pair in-row array intersection.

    An inverted-index formulation would shuffle |candidates| x |shared
    shingles| joined rows; this one joins each pair to its two shingle
    *arrays* (``broadcast=True`` for candidate
    sets that are small by design — LSH survivors; pass ``broadcast=
    False`` when candidates span the whole corpus, e.g. SNM windows, so
    Catalyst plans a shuffled hash join instead of an OOM-prone
    corpus-wide broadcast) and computes
    ``size(array_intersect(...))`` inside codegen — the only rows in
    flight are the candidate pairs themselves, and the threshold is the
    exact integer cross-multiplication.

    Both joins consume the SAME relation through DataFrame aliases
    (not per-side renamed projections): the two build-side exchange
    subtrees then canonicalize identically, so ReuseExchange ships ONE
    broadcast (or, shuffled, ONE exchange feeds both probes) and the
    shingle arrays — the expensive subplan — are computed once, not once
    per side."""
    arr = F.broadcast(doc_arrays) if broadcast else doc_arrays
    va, vb = arr.alias("va"), arr.alias("vb")
    inter = F.size(
        F.array_intersect(F.col("va.shingles"), F.col("vb.shingles"))
    )
    union = (
        F.size(F.col("va.shingles")) + F.size(F.col("vb.shingles")) - inter
    )
    return (
        candidates.join(va, F.col("doc_i") == F.col("va.doc"))
        .join(vb, F.col("doc_j") == F.col("vb.doc"))
        .select(
            "doc_i",
            "doc_j",
            inter.alias("inter_"),
            union.alias("union_"),
        )
        .where(ratio_at_least(F.col("inter_"), F.col("union_"), p, q))
        .select(
            "doc_i",
            "doc_j",
            F.round(F.col("inter_") / F.col("union_"), 4).alias("jac"),
        )
    )


def oph_banded_signatures(shingles: DataFrame) -> DataFrame:
    """(doc, band, sig) via one-permutation hashing (OPH): ONE hash pass
    bins each shingle into 128 buckets and keeps the min value per bucket;
    8 consecutive buckets fold into a band signature. Per input row this
    costs 1 hash + 1 mod, where a family of 128 independent hash functions
    would cost 128 min-updates — the cheap path for the 100 TB corpus.

    Band equality uses an order-independent fold (sum of hash(bin, min)),
    so a band matches iff all 8 (bin, min) slots match; empty bins simply
    don't contribute — two docs lacking the same bin still compare
    correctly. OPH's single permutation yields more false candidates than
    128 independent permutations (a globally-minimal shingle value pins
    its bin for every doc containing it), which exact-jaccard
    verification removes; false-negative odds at near-dup similarity are
    the same ~j^8 per band."""
    # ONE xxhash64 per shingle (projected once, so codegen never repeats
    # it): low 7 bits pick the bin, the remaining 57 bits are the rank
    # value — independent enough for min-ranking within a bin, and it
    # halves the hash work on the full shingle stream
    hashed = shingles.select(
        "doc", F.expr("xxhash64(shingle) AS h")
    ).select(
        "doc",
        F.expr(f"pmod(h, {N_HASHES}L) AS bin"),
        F.expr(f"abs(h DIV {N_HASHES}L) AS v"),
    )
    # ONE shuffle, not two: the per-bin mins fold into their band's row
    # as ROWS_PER_BAND conditional-min aggregate buffers keyed by
    # (doc, band) directly, instead of a (doc, bin) aggregation followed
    # by a second (doc, band) exchange of the mins. The fold is the same
    # order-independent sum of hash(bin, min) over PRESENT bins — an
    # absent bin's conditional min is NULL and contributes exactly the 0
    # the two-step sum never saw — with BIGINT accumulation like sum()'s,
    # so signatures are bit-identical to the two-step form.
    R = ROWS_PER_BAND
    per_band = hashed.groupBy(
        "doc", F.expr(f"bin DIV {R}").alias("band")
    ).agg(
        *[
            F.expr(f"min(CASE WHEN pmod(bin, {R}) = {r} THEN v END) AS m{r}")
            for r in range(R)
        ]
    )
    sig = " + ".join(
        f"(CASE WHEN m{r} IS NOT NULL "
        f"THEN CAST(hash(band * {R} + {r}, m{r}) AS BIGINT) ELSE 0L END)"
        for r in range(R)
    )
    return per_band.select("doc", "band", F.expr(f"({sig}) AS sig"))


def lsh_candidates(banded: DataFrame) -> DataFrame:
    """Banded LSH over (doc, band, sig) rows: docs sharing any band
    signature become candidate pairs. Join key is (band, sig) — never an
    all-pairs product."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_i"), F.col("b.doc").alias("doc_j"))
        .distinct()
    )


def _verify_candidates(
    cands: DataFrame, docs: DataFrame, p: int, q: int
) -> DataFrame:
    """Exact-jaccard tail of the LSH paths: re-shingle only the candidate
    documents of ``docs`` (doc_id_src, text_src) — a broadcast semi-join
    against the distinct candidate ids — into hashed in-row arrays and
    verify each pair by ``array_intersect``.

    The arrays are checkpointed (candidate docs only — small by design):
    verification consumes them on BOTH join sides, and Catalyst does not
    reuse the scan -> semi-join -> shingle subplan across the aliases
    (runtime-verified: 2 parquet scans, 4 broadcast builds, 0
    ReusedExchange without this) — the broadcasts then build from
    materialized blocks instead of re-running the pipeline twice."""
    cand_docs = (
        cands.select(F.col("doc_i").alias("doc"))
        .union(cands.select(F.col("doc_j").alias("doc")))
        .distinct()
    )
    docs_c = docs.join(
        F.broadcast(cand_docs), docs["doc_id_src"] == F.col("doc"), "left_semi"
    )
    arrays_c = shingle_array(
        docs_c, "doc_id_src", "text_src", 5, hashed=True
    ).localCheckpoint(eager=True)
    return verify_jaccard_arrays(cands, arrays_c, p, q)


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, p: int = 4, q: int = 5
) -> DataFrame:
    """Near-dup pairs with character-5-gram jaccard >= p/q (default 0.8):
    MinHash+LSH candidate generation, exact verification.

    Plan shape (tuned for scale AND small-input parallelism):
      1. spread_small_scan before the explode — a single-row-group input
         file would otherwise single-thread the signature computation;
         a well-split table passes through with no added shuffle;
      2. signatures from the *non-distinct* shingle stream (min is
         idempotent) — saves a full dedup shuffle of the largest relation;
      3. candidate pairs are persisted (small by design) because they feed
         both the verification join and the candidate-doc filter;
      4. verification re-shingles only candidate documents (broadcast
         semi-join) into in-row arrays — the exact-jaccard check is a
         per-pair ``array_intersect``, touching a few hundred docs, not
         the corpus, with no inverted-index shuffle.
    """
    from as_etl_storage_spark.operators.parallelism import spread_small_scan

    base = spread_small_scan(
        df.select(
            F.col(id_col).alias("doc_id_src"),
            F.col(text_col).alias("text_src"),
        ),
        # keyed by doc: hash(doc) satisfies the signature aggregate's
        # ClusteredDistribution(doc, band), so its exchange disappears —
        # the spread shuffle moves 5-50x fewer bytes than the post-explode
        # partial-agg exchange it replaces (plan-verified: one Exchange)
        by="doc_id_src",
    )
    sh_raw = shingle_table(base, "doc_id_src", "text_src", 5, distinct=False)
    # persist the banded signatures: the LSH self-join consumes them as
    # BOTH sides and Catalyst does not reuse the (explode -> two groupBy)
    # signature subplan across the aliases (verified in the physical plan:
    # Generate + the signature HashAggregates appear once per side). At
    # fixture scale the duplicate stages hide in idle cores; over a real
    # corpus the signature pass is the dominant cost and must run once.
    # Lifecycle: the eager localCheckpoint of the (small-by-design)
    # candidate pairs cuts their lineage back to materialized blocks, so
    # the signatures can be unpersisted HERE instead of leaking in the
    # CacheManager until session end; the checkpoint blocks themselves are
    # ContextCleaner-managed — freed when the caller drops the result.
    banded = oph_banded_signatures(sh_raw).persist()
    cands = lsh_candidates(banded).localCheckpoint(eager=True)
    banded.unpersist()
    return _verify_candidates(cands, base, p, q)


def incremental_dedup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    p: int = 4,
    q: int = 5,
) -> DataFrame:
    """Incremental near-dup check: which *new* documents duplicate the
    *existing* corpus (character-5-gram jaccard >= p/q). The production
    dedup shape at scale — a daily batch is checked against the indexed
    corpus without ever re-pairing the corpus with itself.

    The corpus band signatures are a pure function of the text, so in
    production they are computed once and stored; here they are derived
    in-plan. Candidates come from a new-bands x corpus-bands equi-join on
    (band, sig) — shuffle volume is O(new x bands) against the corpus
    index, never all-pairs — then exact-jaccard verification re-shingles
    only the candidate docs on both sides."""
    ids = (id_col, text_col)
    new_base = new_df.select(
        F.col(ids[0]).alias("doc_id_src"), F.col(ids[1]).alias("text_src")
    )
    corp_base = corpus_df.select(
        F.col(ids[0]).alias("doc_id_src"), F.col(ids[1]).alias("text_src")
    )
    b_new = oph_banded_signatures(
        shingle_table(new_base, "doc_id_src", "text_src", 5, distinct=False)
    )
    b_corp = oph_banded_signatures(
        shingle_table(corp_base, "doc_id_src", "text_src", 5, distinct=False)
    )
    cands = (
        b_new.alias("a")
        .join(
            b_corp.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig")),
        )
        .select(F.col("a.doc").alias("doc_i"), F.col("b.doc").alias("doc_j"))
        .distinct()
        # eager localCheckpoint, not persist: candidates feed two consumers
        # (verification join + candidate-doc filter) but must not outlive
        # the call in the CacheManager — checkpoint blocks are GC-cleaned
        .localCheckpoint(eager=True)
    )
    return _verify_candidates(cands, new_base.union(corp_base), p, q)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, p: int = 3, q: int = 5
) -> DataFrame:
    """Exact all-pairs token-n-gram jaccard >= p/q via inverted index —
    correctness baseline for the LSH path (quadratic in near-dup cluster
    size; prefer minhash_dedup_pairs at scale)."""
    from as_etl_storage_spark.operators.parallelism import spread_small_scan

    # keyed: hash(id) satisfies the gram table's distinct-on-(doc, gram)
    # clustering, dropping that exchange of the full exploded gram stream
    df = spread_small_scan(df, by=id_col)
    # the exploded+distinct'd gram table feeds THREE consumers (sizes +
    # both self-join sides); Catalyst does not share the subplan across
    # them, so without materialization the tokenize/explode/dedup pass —
    # the dominant cost over a real corpus — runs three times per query
    gr = (
        df.select(
            F.col(id_col).alias("doc"), word_tokens(F.col(text_col)).alias("tk")
        )
        .select("doc", F.explode(word_grams(F.col("tk"), n)).alias("shingle"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = gr.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = gr.alias("a")
    b = gr.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_i"), F.col("b.doc").alias("doc_j"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc").alias("doc_i"), F.col("n_sh").alias("n_i"))
    nb = sizes.select(F.col("doc").alias("doc_j"), F.col("n_sh").alias("n_j"))
    joined = inter.join(na, "doc_i").join(nb, "doc_j")
    union = F.col("n_i") + F.col("n_j") - F.col("inter")
    return joined.where(ratio_at_least(F.col("inter"), union, p, q)).select(
        "doc_i", "doc_j", F.round(F.col("inter") / union, 4).alias("jac")
    )


def substring_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 50, min_shared: int = 1
) -> DataFrame:
    """Exact-substring duplication: pairs of documents sharing >= min_shared
    distinct character-n-gram substrings (the signal behind
    training-set exact-substring dedup, cf. "Deduplicating Training Data
    Makes Language Models Better" — long shared substrings mean copied
    passages even when full-doc similarity is low).

    Plan: inverted index on n-grams (distinct (doc, gram)), self-join on
    gram, count per pair. Long grams are near-unique, so the join groups
    are tiny — unlike short-gram indexes this stays near-linear. At
    extreme scale, hash the gram to 64 bits first to shrink the shuffle
    payload (collision rate 2^-64 per pair is acceptable for dedup)."""
    sh = shingle_table(df, id_col, text_col, n, distinct=True).withColumn(
        "gh", F.xxhash64("shingle")
    ).select("doc", "gh")
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_i"), F.col("b.doc").alias("doc_j"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, p: int = 4, q: int = 5
) -> DataFrame:
    """Asymmetric containment dedup: pairs (i, j) where containment
    |shingles(i) ∩ shingles(j)| / |shingles(i)| >= p/q — catches documents
    *quoted inside* larger ones, which symmetric jaccard misses (a 1 KB doc
    pasted into a 100 KB doc has jaccard ~0.01 but containment ~1.0).

    Character-n-gram inverted index, integer cross-multiplication
    threshold; both directions of a pair are evaluated independently.
    At corpus scale, gate with minhash-LSH candidates first (same recipe
    as minhash_dedup_pairs) — the verification join shown here is the
    exact kernel either way."""
    sh = shingle_table(df, id_col, text_col, n, distinct=True)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_i"), F.col("b.doc").alias("doc_j"))
        .agg(F.count("*").alias("inter"))
    )
    ni = sizes.select(F.col("doc").alias("doc_i"), F.col("n_sh").alias("n_i"))
    return (
        inter.join(ni, "doc_i")
        .where(ratio_at_least(F.col("inter"), F.col("n_i"), p, q))
        .select(
            "doc_i",
            "doc_j",
            F.round(F.col("inter") / F.col("n_i"), 4).alias("containment"),
        )
    )


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit frequency-weighted simhash per document.

    Token hash is the first 15 hex chars of md5 (60 bits, positive int64) so
    the DuckDB oracle can reproduce it exactly; all arithmetic is integer.

    Frequency weighting needs no (doc, token) pre-count: summing
    ``count * (2b - 1)`` over distinct tokens equals summing ``2b - 1``
    over raw token instances, so the whole signature is ONE shuffle (the
    per-doc aggregation, with map-side partial combine) instead of two.
    spread_small_scan widens the tokenize+hash stage when the input file
    is unsplittable (no-op on a well-split table).
    """
    from as_etl_storage_spark.operators.parallelism import spread_small_scan

    # keyed: hash(id) satisfies the 60-sum aggregate's per-doc clustering,
    # so the signature computes in ONE stage with zero post-explode shuffle
    df = spread_small_scan(df, by=id_col)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_tokens(F.col(text_col))).alias("t"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    )
    # all 60 bit-sums in ONE aggregation — a per-bit explode would shuffle
    # 60x the token rows; 60 sum() columns stay inside whole-stage codegen
    # (session raises codegen.maxFields accordingly)
    sums = toks.groupBy("doc").agg(
        *[
            F.expr(f"sum(2 * ((h >> {b}) & 1) - 1) AS s{b}")
            for b in range(60)
        ]
    )
    sig_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(60)
    )
    return sums.select("doc", F.expr(f"{sig_expr} AS simhash"))


def simhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= max_hamming.

    Candidate generation is pigeonhole block joining — the 100 TB path:
    the 60-bit signature splits into ``max_hamming + 1`` blocks; any pair
    within the hamming budget must agree exactly on >= 1 block, so the
    join key is (block_id, block_bits) instead of an all-pairs product.
    Exact hamming verification then filters candidates, so results are
    identical to the naive self-join (no false negatives by pigeonhole,
    false positives removed by the exact check).

    The signature table is eagerly localCheckpoint'ed before the
    self-join: Catalyst does not reuse the signature subplan across the
    join's two aliases (the tokenize + md5 + 60-sum aggregate — the
    dominant cost over a real corpus — appeared ONCE PER SIDE in the
    physical plan), and the checkpointed relation is only (doc, simhash)
    rows, tiny next to the token stream it replaces. Same lifecycle as
    the minhash path's candidates: blocks are ContextCleaner-managed,
    freed when the caller drops the result."""
    sh = simhash_signatures(df, id_col, text_col).localCheckpoint(eager=True)
    n_blocks = max_hamming + 1
    width = 60 // n_blocks
    stack_args = ", ".join(
        f"{i}, (simhash >> {i * width}) & {(1 << width) - 1}L"
        for i in range(n_blocks)
    )
    blocks = sh.select(
        "doc", "simhash", F.expr(f"stack({n_blocks}, {stack_args}) AS (blk, bits)")
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc").alias("doc_i"),
            F.col("b.doc").alias("doc_j"),
            ham.alias("hamming"),
        )
        .distinct()  # pairs agreeing on multiple blocks appear once
    )


def embedding_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Near-dup pairs by cosine similarity >= threshold (exact, brute-force).
    Output is id pairs only — float values stay internal so the comparison
    is robust to last-bit effects. At scale use the LSH-bucketed variant in
    operators/similarity."""
    e = (
        df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("norm", vec_norm(F.col("v")))
        # zero-norm vectors have no direction: cosine is undefined and the
        # ANSI division would fail the job on one corrupt row
        .where(F.col("norm") > 0)
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = vec_cosine(F.col("a.v"), F.col("b.v"), F.col("a.norm"), F.col("b.norm"))
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .where(cos >= threshold)
        .select(F.col("a.vid").alias("vec_i"), F.col("b.vid").alias("vec_j"))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    threshold: float = 0.45,
) -> DataFrame:
    """Centroid-blocked embedding near-dup: the scale path for semantic
    dedup. Every vector is assigned to its nearest seed centroid (the k
    smallest-id vectors — deterministic, no RNG), then only within-block
    pairs are scored; cosine >= threshold survives.

    vs ``embedding_cosine_pairs`` (all-pairs O(N^2)): blocking cuts the
    pair space ~k-fold per well-spread block and the block join is an
    equi-join on the centroid id — no cross product between blocks. The
    trade is recall at block borders (a true near-dup pair straddling two
    centroids is missed), the standard semantic-dedup trade — raise k and
    union several seeds-offset runs to tighten it. At 100 TB the seeds
    come from a trained k-means (operators/ml) instead of smallest-id
    rows; the plan shape is identical.

    Cross-engine determinism: squared L2 is computed in dot-product form
    (n2v - 2*dot + n2c) with sequential folds — the exact expression
    DuckDB's list_dot_product evaluates — so assignments are bit-identical
    on both engines and the oracle can hash-match the pair set.
    """
    e = _cosine_prepared(df, id_col, vec_col)
    seeds = e.where(F.col("vid") < k).select(
        F.col("vid").alias("cid"),
        F.col("v").alias("cv"),
        F.col("n2").alias("n2c"),
    )
    return _blocked_cosine_pairs(e, seeds, threshold)


def _cosine_prepared(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, v, n2) projection with zero-norm vectors excluded: assignment
    (L2) would tolerate them but the cosine verification divides by the
    norm — no direction, undefined similarity."""
    return (
        df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("n2", vec_dot(F.col("v"), F.col("v")))
        .where(F.col("n2") > 0)
    )


def _blocked_cosine_pairs(
    e: DataFrame, seeds: DataFrame, threshold: float
) -> DataFrame:
    """Core of centroid-blocked semantic dedup: nearest-seed assignment
    (squared L2 in dot-product form, cid tie-break), then within-block
    cosine verification only — equi-join on the block id, never a cross
    product between blocks. ``seeds`` is a bounded (cid, cv, n2c) table
    and is broadcast."""
    d2 = F.col("n2") - 2 * vec_dot(F.col("v"), F.col("cv")) + F.col("n2c")
    assigned = (
        e.join(F.broadcast(seeds))
        .select("vid", "v", F.struct(d2.alias("d2"), "cid").alias("s"))
        .groupBy("vid")
        .agg(F.min("s").alias("s"), F.first("v").alias("v"))
        .select("vid", "v", F.col("s.cid").alias("cid"))
        .withColumn("norm", vec_norm(F.col("v")))
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    cos = vec_cosine(F.col("a.v"), F.col("b.v"), F.col("a.norm"), F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vid") < F.col("b.vid")),
        )
        .where(cos >= threshold)
        .select(F.col("a.vid").alias("vec_i"), F.col("b.vid").alias("vec_j"))
    )


def semantic_dedup_pairs_seeded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    threshold: float = 0.45,
) -> DataFrame:
    """Centroid-blocked semantic dedup seeded from TRAINED centroids
    (operators/ml.kmeans_centroids) instead of smallest-id rows — the
    100 TB path docs/SCALE.md promises: k-means pulls the seeds toward the
    data's actual density modes, so blocks align with real clusters and
    border-pair recall beats arbitrary-seed blocking at the same k.
    ``centroids`` is a bounded (cid, cv) table (k x dim driver value)."""
    e = _cosine_prepared(df, id_col, vec_col)
    seeds = centroids.select(
        F.col("cid"),
        F.col("cv").cast("array<double>").alias("cv"),
    ).withColumn("n2c", vec_dot(F.col("cv"), F.col("cv")))
    return _blocked_cosine_pairs(e, seeds, threshold)


def semantic_dedup_pairs_multi(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_sets: int = 2,
    threshold: float = 0.45,
) -> DataFrame:
    """Multi-seed-union recall variant: run the blocked dedup under
    ``n_sets`` disjoint seed sets (id-ranked slices [s*k, (s+1)*k)) and
    union the pair sets. A true near-dup pair missed at one blocking
    border is found unless it straddles a border in EVERY seeding — the
    standard recall lever; cost is linear in ``n_sets`` (each run is the
    same equi-join shape), still never all-pairs. The union is a pair-key
    distinct, so the result is order- and partitioning-independent."""
    e = _cosine_prepared(df, id_col, vec_col)
    runs = []
    for s in range(n_sets):
        seeds = e.where(
            (F.col("vid") >= s * k) & (F.col("vid") < (s + 1) * k)
        ).select(
            F.col("vid").alias("cid"),
            F.col("v").alias("cv"),
            F.col("n2").alias("n2c"),
        )
        runs.append(_blocked_cosine_pairs(e, seeds, threshold))
    out = runs[0]
    for r in runs[1:]:
        out = out.union(r)
    return out.distinct()


def segment_dedup_rebuild(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
) -> DataFrame:
    """Cross-document segment-level exact dedup with document rebuild —
    the C4/RefinedWeb "line dedup" step: when the same paragraph (here: a
    fixed ``seg_tokens``-token window, since the fixtures have no line
    structure) appears in many documents, keep only its globally first
    occurrence and strip it everywhere else, then reassemble each
    document from its surviving segments in original order.

    First occurrence is the corpus-wide minimum (doc_id, seg_idx) per
    distinct segment text — a deterministic total order, so the rebuilt
    corpus is identical under any partitioning. Documents whose every
    segment loses emit an empty clean_text (n_kept = 0) rather than
    disappearing: the caller decides the drop policy.

    Scale: one shuffle keyed on the segment text to elect owners (min
    struct, map-side combinable), one shuffle back on doc_id for the
    ordered reassembly. At 100 TB, shuffle the 128-bit segment hash
    instead of the text (xxhash64 x 2 seeds) and join the strings back
    only for owners — collision risk ~N^2/2^128, the standard trade."""
    from as_etl_storage_spark.operators.parallelism import spread_small_scan

    # keyed spread (skips round-robin's local input sort; the owner
    # election still exchanges by segment text as it must)
    df = spread_small_scan(df, by=id_col)
    segs = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"),
            F.filter(word_tokens(F.col(text_col)), lambda t: t != "").alias("tk"),
        )
        # all-whitespace docs are dropped (no segments): Spark's sequence()
        # would otherwise step BACKWARD for an empty array (stop < start)
        .where(F.size("tk") > 0)
        .select(
            "doc",
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(ceil(size(tk)/{seg_tokens}.0) AS INT)-1), "
                    f"s -> struct(s AS seg_idx, "
                    f"array_join(slice(tk, s*{seg_tokens}+1, {seg_tokens}), ' ') AS seg))"
                )
            ).alias("x"),
        )
        .select("doc", F.col("x.seg_idx").alias("seg_idx"), F.col("x.seg").alias("seg"))
    )
    owner = segs.groupBy("seg").agg(
        F.min(F.struct("doc", "seg_idx")).alias("first")
    )
    kept = segs.join(owner, "seg").withColumn(
        "is_owner",
        (F.col("doc") == F.col("first.doc")) & (F.col("seg_idx") == F.col("first.seg_idx")),
    )
    rebuilt = kept.groupBy("doc").agg(
        F.sum(F.when(F.col("is_owner"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("is_owner"), 0).otherwise(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_owner"), F.struct("seg_idx", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return rebuilt.select(
        F.col("doc").alias(id_col), "n_kept", "n_removed", "clean_text"
    )


def _snm_candidates(
    df: DataFrame, id_col: str, skey_col, window: int, boundaries=None
) -> DataFrame:
    """One SNM pass: rank the corpus by ``skey_col`` via the
    boundary-literal distributed global rank, then pair each row with its
    next ``window`` neighbors in sort order — an equi-join on (rank + k),
    candidate count strictly N·window. ``boundaries`` (precomputed
    bucket edges) skips the rank's own sample job — the multi-pass form
    feeds both passes from one sampling scan."""
    from as_etl_storage_spark.operators.rank import global_rank

    if window < 1:
        # Spark's sequence(1, 0) counts DOWN ([1, 0]) instead of being
        # empty — k=0 would emit every doc paired with itself
        raise ValueError(f"window must be >= 1, got {window}")
    keyed = df.where(skey_col.isNotNull()).select(
        F.col(id_col).alias("doc"), skey_col.alias("skey")
    )
    ranked = global_rank(keyed, ["skey", "doc"], boundaries).select(
        "doc", F.col("global_rank").alias("rnk")
    )
    a = ranked.select(F.col("doc").alias("doc_a"), F.col("rnk").alias("rnk_a"))
    b = ranked.select(F.col("doc").alias("doc_b"), F.col("rnk").alias("rnk_b"))
    return (
        a.select(
            "doc_a",
            F.explode(F.expr(f"sequence(1, {window})")).alias("k"),
            "rnk_a",
        )
        .withColumn("rnk_b", F.col("rnk_a") + F.col("k"))
        .join(b, "rnk_b")
        .select(
            F.least("doc_a", "doc_b").alias("doc_i"),
            F.greatest("doc_a", "doc_b").alias("doc_j"),
        )
    )


#: classical SNM sorts on a TRUNCATED key, not the whole record: the sort
#: only has to bring likely duplicates within ``window`` positions, and a
#: prefix this long already orders ties the same way the full text would
#: wherever the prefixes differ — while at 100 TB it keeps corpus-text
#: bytes out of the rank's sample/shuffle path (precision is owned by the
#: exact-jaccard verification either way)
_SNM_KEY_LEN = 64


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    p: int = 3,
    q: int = 5,
    key_len: int = _SNM_KEY_LEN,
) -> DataFrame:
    """Sorted-neighborhood blocking (the classical record-linkage method):
    order the corpus by a sort key under which near-duplicates land close
    together — here the first ``key_len`` chars of the lowercased text
    (doc id tie-break), so docs sharing long prefixes become neighbors —
    then take only pairs within ``window`` positions of each other as
    candidates, and verify with exact shingle jaccard >= p/q. Complements
    the hash blockings (LSH bands, simhash blocks, centroid blocks): SNM
    catches prefix-similar pairs that differ *within* every hashed band,
    and its candidate count is strictly N·window — linear by
    construction, no skew possible.

    Scale shape: the global order comes from operators/rank.global_rank
    (boundary-literal bucketing + broadcast offsets — never a
    single-partition window), and only the ``key_len``-char key rides
    through its shuffle, not the corpus text; the neighbor join is an
    equi-join on (rank + k) for k in 1..window. Because every doc has
    neighbors, the candidate set spans the corpus — so verification joins
    the shingle arrays WITHOUT broadcast (shuffled hash join, bytes ∝
    corpus), unlike the LSH path whose survivors are small enough to
    broadcast. The standard recall lever is multi-pass SNM with different
    sort keys — see :func:`sorted_neighborhood_multi`."""
    from as_etl_storage_spark.operators.parallelism import spread_small_scan

    # keyed: the non-broadcast verification join exchanges the shingle
    # arrays by doc — hash(id) partitioning from the spread satisfies it
    df = spread_small_scan(df, by=id_col)
    # one pass yields each canonical pair exactly once (global ranks are
    # unique), so no dedup shuffle is needed — unlike the multi-pass union
    cands = _snm_candidates(
        df,
        id_col,
        F.substring(F.lower(F.col(text_col)), 1, key_len),
        window,
    )
    arrays = shingle_array(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("t")),
        "doc",
        "t",
        5,
        hashed=True,
    )
    return verify_jaccard_arrays(cands, arrays, p, q, broadcast=False)


def sorted_neighborhood_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    p: int = 3,
    q: int = 5,
    key_len: int = _SNM_KEY_LEN,
) -> DataFrame:
    """Multi-pass sorted-neighborhood: one pass sorted by a prefix key of
    the text, one by a prefix key of its REVERSE (i.e. the text's suffix)
    — a pair whose difference sits in the prefix (invisible to the
    forward sort) is adjacent in the reversed sort unless it differs at
    both ends. The standard SNM recall lever; cost is linear in passes,
    candidates stay N·window per pass. Pairs are unioned before a single
    verification, so each survivor is verified once."""
    from as_etl_storage_spark.operators.parallelism import spread_small_scan
    from as_etl_storage_spark.operators.rank import (
        sample_boundaries_groups,
    )

    # keyed for the same exchange-elimination as the single-pass form
    df = spread_small_scan(df, by=id_col)
    fwd_key = F.substring(F.lower(F.col(text_col)), 1, key_len)
    rev_key = F.substring(F.reverse(F.lower(F.col(text_col))), 1, key_len)
    # ONE boundary-sample scan feeds BOTH passes: each pass's rank kernel
    # would otherwise run its own full-corpus reservoir job over the same
    # rows just to learn bucket edges (guide §2.4 — fewer passes); ranks
    # are exact under any boundaries, so results are unchanged
    keyed2 = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        fwd_key.alias("skf"),
        rev_key.alias("skr"),
    )
    b_fwd, b_rev = sample_boundaries_groups(
        keyed2,
        [["skf", "doc"], ["skr", "doc"]],
        df.sparkSession.sparkContext.defaultParallelism,
    )
    fwd = _snm_candidates(df, id_col, fwd_key, window, boundaries=b_fwd)
    rev = _snm_candidates(df, id_col, rev_key, window, boundaries=b_rev)
    cands = fwd.union(rev).distinct()
    arrays = shingle_array(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("t")),
        "doc",
        "t",
        5,
        hashed=True,
    )
    return verify_jaccard_arrays(cands, arrays, p, q, broadcast=False)

"""Text-analysis operators: language id, quality scoring, token counting,
fingerprinting. All built-in-function compositions (codegen'd, no UDFs);
each is O(tokens) per document with no shuffle except final aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from as_etl_storage_spark.functions import word_grams, word_tokens

#: tiny marker-word lists per language (n-gram heuristic; deterministic).
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "des", "et", "est"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in")

#: BPE-ish token pattern: letter runs, digit runs, single punctuation
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _count_in(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-hit language id with deterministic priority tie-break
    (en > es > de > fr). Counts *distinct* marker hits (array_intersect) —
    the SQL oracle mirrors this with list_intersect."""
    toks = word_tokens(F.lower(F.col(text_col)))
    scores = {lang: _count_in(toks, words) for lang, words in LANG_MARKERS.items()}
    c_en, c_es, c_de, c_fr = (scores[s] for s in ("en", "es", "de", "fr"))
    pred = (
        F.when(
            (c_en >= c_es) & (c_en >= c_de) & (c_en >= c_fr), F.lit("en")
        )
        .when((c_es >= c_de) & (c_es >= c_fr), F.lit("es"))
        .when(c_de >= c_fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        c_en.alias("score_en"),
        c_es.alias("score_es"),
        c_de.alias("score_de"),
        c_fr.alias("score_fr"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features + composite score. All ratios are single
    divisions of integer counts (deterministic doubles).

    The char-count division is ``try_divide``: under ANSI mode (the
    session default) a plain ``/`` raises DIVIDE_BY_ZERO on the empty
    document every real corpus contains — one degenerate row must score
    NULL, not kill the 100 TB job. Identical results wherever the
    denominator is non-zero. (The token-count divisions are safe by
    construction: ``split`` returns at least one element.)"""
    text = F.col(text_col)
    toks = word_tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    sum_tok_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_punct = F.length(F.regexp_replace(text, "[^.,;:!?'\"()]", ""))
    n_stop = F.size(
        F.array_intersect(
            F.transform(toks, lambda t: F.lower(t)),
            F.array(*[F.lit(w) for w in STOPWORDS]),
        )
    )
    avg_tok = F.round(sum_tok_len / n_tokens, 4)
    punct_ratio = F.round(F.try_divide(n_punct, n_chars), 4)
    stop_hits = n_stop
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_calc"),
        avg_tok.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_hits.alias("stopword_hits"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (the unit a
    tokenizer-cost model needs)."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(word_tokens(text)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
    )


#: PII patterns — the RE2/Java-regex common subset so Spark and the DuckDB
#: oracle match byte-for-byte.
PII_PATTERNS = {
    "emails": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "urls": r"https?://[^\s]+",
    "phones": r"\d{3}[-.]\d{3}[-.]\d{4}",
    "digit_runs": r"\d{4,}",
}


def pii_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII indicator counts (emails/urls/phones/long digit
    runs) — the filter stage of a training-data pipeline. Pure regexp
    counting, codegen'd, no shuffle."""
    text = F.col(text_col)
    cols = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    out = df.select(F.col(id_col), *cols)
    total = sum((F.col(f"n_{n}") for n in PII_PATTERNS), F.lit(0))
    return out.withColumn("has_pii", total > 0)


#: redaction placeholders, applied in this order: earlier replacements
#: must not produce text later patterns could match (placeholders carry
#: no digits or '@'), and specific patterns run before general ones
#: (phones before digit runs)
REDACTIONS = (
    ("emails", "<EMAIL>"),
    ("urls", "<URL>"),
    ("phones", "<PHONE>"),
    ("digit_runs", "<NUM>"),
)


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction transform: replace emails/urls/phones/long digit runs
    with typed placeholders — the scrub stage that follows ``pii_flags``
    in a training-data pipeline. A chain of regexp_replace calls, fully
    codegen'd, zero shuffle; order is fixed so the output is
    deterministic (see REDACTIONS)."""
    clean = F.col(text_col)
    for name, placeholder in REDACTIONS:
        clean = F.regexp_replace(clean, PII_PATTERNS[name], placeholder)
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        (~clean.eqNullSafe(F.col(text_col))).alias("redacted"),
    )


def repetition_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Most-frequent-token share — high values flag boilerplate/spam.
    One explode + two aggregations, all integer until the final division."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"),
    )
    counts = toks.groupBy("doc", "t").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc").agg(
        F.max("c").alias("max_c"), F.sum("c").alias("n_tok")
    )
    return per_doc.select(
        F.col("doc").alias(id_col),
        "max_c",
        "n_tok",
        F.round(F.col("max_c") / F.col("n_tok"), 4).alias("rep_ratio"),
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shannon entropy of the character distribution (bits/char) — a cheap
    perplexity proxy: gibberish and highly-repetitive text sit at the two
    extremes. Sum over <=~100 character classes; float-order effects are
    ~1e-15, far below the 1e-4 rounding grain, so results are stable under
    any partitioning."""
    chars = df.select(
        F.col(id_col).alias("doc"),
        # split on '' is Spark's code-point split: one O(length) pass
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    )
    counts = chars.groupBy("doc", "ch").agg(F.count("*").alias("c"))
    with_total = counts.withColumn(
        "total", F.sum("c").over(Window.partitionBy("doc"))
    )
    p = F.col("c") / F.col("total")
    return (
        with_total.withColumn("term", -p * F.log2(p))
        .groupBy("doc")
        .agg(F.round(F.sum("term"), 4).alias("entropy_bits"))
        .select(F.col("doc").alias(id_col), "entropy_bits")
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint over whitespace-normalized lowercase text:
    full md5 plus a 60-bit integer prefix (join-friendly key)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    fp = F.md5(norm)
    return df.select(
        F.col(id_col),
        fp.alias("fp_md5"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp64"),
    )


def vocabulary(
    df: DataFrame, id_col: str, text_col: str, k: int = 100
) -> DataFrame:
    """Corpus vocabulary: top-k lowercase whitespace tokens by term
    frequency (ties broken lexically), with document frequency. One
    explode + one partial-aggregated groupBy; the top-k sort runs on the
    already-aggregated vocabulary, not the token stream."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"),
    ).where(F.col("t") != "")
    return (
        toks.groupBy("t")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("t"))
        .limit(k)
    )


def top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Most distinctive term per document: highest term frequency, rarest
    corpus-wide (df ascending) on ties, lexical tie-break — an integer-only
    tf-idf stand-in that hash-compares exactly across engines (no float
    log). Two shuffles: token counts, then the df join keyed on term."""
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"),
        )
        .where(F.col("t") != "")
        .groupBy("doc", "t")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = toks.groupBy("t").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("t")
    )
    return (
        toks.join(dfreq, "t")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("doc").alias(id_col), F.col("t").alias("top_term"), "tf", "df")
    )


def rarity_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unigram-LM quality proxy: mean inverse corpus frequency of a
    document's tokens. High scores mean rare/unusual vocabulary (gibberish,
    OCR noise); low scores mean stock phrasing — the cheap stand-in for a
    perplexity filter in a training-data pipeline.

    All arithmetic is integer until one final division (total_tokens DIV
    corpus_count summed per doc, then / n_tokens) so results hash-match
    across engines — no float log anywhere.

    Scale: the corpus frequency table is vocabulary-sized (≪ corpus), so
    the join back to the token stream broadcasts; one groupBy on token,
    one on doc."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"),
    ).where(F.col("t") != "")
    freq = toks.groupBy("t").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n_total"))
    scored = toks.join(F.broadcast(freq), "t").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.expr("n_total DIV c")).alias("rarity_sum"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.round(F.col("rarity_sum") / F.col("n_tokens"), 4).alias("rarity"),
        )
    )


def bigram_counts(
    df: DataFrame,
    text_col: str,
    group_col: str,
    min_count: int = 3,
) -> DataFrame:
    """Adjacent-token bigram frequencies per group, keeping only bigrams
    seen >= ``min_count`` times (a deterministic set — no top-k ties).
    The bigram array is built in-plan by the shared word-n-gram kernel
    (``functions.word_grams``, n = 2), so the only shuffle is the final
    (group, bigram) aggregation with map-side partial combine.

    Scale: output is the repeated tail of the bigram distribution, far
    smaller than the token stream; shuffle bytes ∝ distinct bigrams per
    group. For corpus-wide stats at 100 TB, hash the bigram to 64 bits
    for the shuffle and join the strings back only for the survivors."""
    staged = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col),
        word_tokens(F.lower(F.col(text_col))).alias("tk"),
    ).where(F.size("tk") >= 2)
    bg = staged.select(
        F.col(group_col), F.explode(word_grams(F.col("tk"), 2)).alias("bigram")
    )
    return (
        bg.groupBy(group_col, "bigram")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_count)
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 3,
    max_df: int = 10,
) -> DataFrame:
    """Inverted index over mid-frequency terms: term -> ordered posting
    list of document ids plus document frequency. Stopword-grade terms
    (df > ``max_df``) and hapaxes (df < ``min_df``) are dropped before
    the postings are materialized, so the listagg only ever aggregates
    the mid-band — the standard trick that keeps posting lists bounded.

    Plan: distinct (term, doc) pairs -> df counts -> band filter ->
    ordered listagg. Two shuffles on the term key; the second one only
    carries the banded subset. At 100 TB the df table is vocabulary-sized
    and the band filter is a broadcast semi-join against it."""
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"),
        )
        .where(F.col("t") != "")
        .distinct()
    )
    dfreq = toks.groupBy("t").agg(F.count("*").alias("df"))
    band = dfreq.where(
        (F.col("df") >= min_df) & (F.col("df") <= max_df)
    )
    return (
        toks.join(F.broadcast(band), "t")
        .groupBy("t", "df")
        .agg(
            F.expr("listagg(cast(doc AS STRING), ',') WITHIN GROUP (ORDER BY doc)").alias(
                "postings"
            )
        )
        .select(F.col("t").alias("term"), "df", "postings")
    )


def boilerplate_phrases(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    n: int = 6,
    min_docs: int = 2,
) -> DataFrame:
    """Template/boilerplate detection: word n-grams occurring in >=
    ``min_docs`` distinct documents of the same source (site headers,
    navigation text, license blurbs — the C4-style repeated-line filter
    generalized to sources without line structure).

    Plan: distinct (source, doc, gram) via explode, then one groupBy on
    (source, gram) counting distinct docs. Shuffle volume is the distinct
    gram set, and the output is only the repeated tail — at corpus scale
    hash the gram to 64 bits to shrink the shuffle payload."""
    gr = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("doc"),
        word_tokens(F.lower(F.col(text_col))).alias("tk"),
    ).select(
        "source", "doc", F.explode(word_grams(F.col("tk"), n)).alias("gram")
    ).distinct()
    return (
        gr.groupBy("source", "gram")
        .agg(F.countDistinct("doc").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    budget: int = 256,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document to the
    fixed-token-budget training sequence ("pack") where its first token
    lands when documents are concatenated in id order within each group.
    This is the standard LLM pretraining packing scheme (stream docs,
    cut every ``budget`` tokens); the pack id is a pure prefix-sum —
    ``(running_tokens - own_tokens) DIV budget`` — so it needs one
    window sort per group, no sequential scan.

    Scale: the window sorts within group partitions only (no global
    order). At 100 TB, packing is normally run per shard/file anyway —
    pass a (shard, source) composite group to bound each sort. Output
    is one row per pack: doc span, doc count, token total.
    """
    toks = F.size(word_tokens(F.col(text_col)))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col), F.col(id_col), toks.alias("toks")
    )
    return (
        staged.withColumn("start", F.sum("toks").over(w) - F.col("toks"))
        .groupBy(group_col, F.expr(f"start DIV {budget}").alias("pack_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("pack_tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: rank documents against a small bag of query terms —
    the quality-targeted selection step of a training-data pipeline
    (retrieve corpus documents most similar to a trusted seed set), and
    the lexical half of hybrid lexical+ANN search.

    Okapi BM25 with the standard +1 idf smoothing:
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*len/avgdl))``.

    Hash-stability across engines: every per-term contribution is rounded
    to 6 decimals and cast to DECIMAL before the per-document sum, so the
    total is an exact decimal sum — order-independent under any shuffle
    or partitioning; only the final scalar rounding touches floats.

    Scale: the query-term list is a literal broadcast; ONE tokenize pass
    feeds a per-doc pivot aggregation (count(*) for dl plus one
    conditional count per query term), so the post-explode shuffle
    carries |docs| partial-agg rows, keyed by the same hash(doc) the
    spread already established (no second exchange). The |docs|-row frame
    is eagerly checkpointed so its three consumers (corpus stats,
    per-term df, the scoring join) cost one corpus pass instead of three.
    Corpus stats (N, avgdl, per-term df) are |terms|-row aggregates
    joined by broadcast. At 100 TB the df/avgdl stats come from the
    standing corpus profile instead of a rescan — the scoring join is
    unchanged."""
    from as_etl_storage_spark.operators.parallelism import spread_small_scan

    term_list = sorted({t.lower() for t in query_terms})
    if not term_list:
        # no terms -> no hits: the pre-r17 array_contains formulation
        # returned an empty frame; keep that contract (a stack() over
        # zero columns would fail analysis instead)
        return (
            df.select(F.col(id_col))
            .withColumn("score", F.lit(0.0))
            .withColumn("rank", F.lit(1))
            .limit(0)
        )
    # ONE tokenize pass, ONE aggregation: the naive formulation consumed
    # the exploded token stream through three lineages (doc lengths,
    # corpus stats via the lengths, per-term tf) and Catalyst re-planned
    # the tokenize+explode subtree for each — three full corpus passes at
    # scale. A per-doc pivot aggregation (count(*) for dl plus one
    # conditional count per query term — the term list is a small literal
    # bag by construction) yields identical tf/dl/df/N/avgdl values from
    # a single pass, and the former dlen join disappears because dl rides
    # the same row. Keyed spread: hash(doc) both widens the tokenize of a
    # single-row-group input and already satisfies the aggregate's
    # clustering (no post-explode exchange).
    toks = (
        spread_small_scan(df.where(F.col(text_col).isNotNull()), by=id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"),
        )
        .where(F.col("t") != "")
    )
    per_doc = toks.groupBy("doc").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("t") == F.lit(t), 1)).alias(f"tf_{i}")
            for i, t in enumerate(term_list)
        ],
    )
    # three consumers (corpus stats, per-term df, the scoring join) and
    # Catalyst re-plans the tokenize+aggregate per lineage (executed plan
    # without this: 3 scans / 5 Generates, 0 ReusedExchange) — pin the
    # |docs|-row frame so the corpus pass runs once; blocks are
    # ContextCleaner-freed with the result. An adaptive skip-when-small
    # variant was measured r18 (interleaved A/B at sf0.1): the pivot
    # recomputes cost MORE than the barrier (bm25 1.08 vs 1.00 median),
    # so the pin is unconditional. Eagerness trade (cluster mode):
    # checkpoint blocks are unreplicated executor state — executor loss
    # is unrecoverable; swap for persist/reliable checkpoint where that
    # matters (same note as kmeans_validated).
    per_doc = per_doc.localCheckpoint(eager=True)
    # (doc, dl, term, tf) rows for terms the doc actually contains — the
    # per-doc frame is |docs| rows, so this explode is corpus-independent.
    # Built from literal structs (not a stack() SQL string: term strings
    # with quote/backslash escapes would be mangled by SQL parsing)
    hits = (
        per_doc.select(
            "doc",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"), F.col(f"tf_{i}").alias("tf")
                        )
                        for i, t in enumerate(term_list)
                    ]
                )
            ).alias("h"),
        )
        .select("doc", "dl", F.col("h.t").alias("t"), F.col("h.tf").alias("tf"))
        .where(F.col("tf") > 0)
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = hits.groupBy("t").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * (F.lit(k1) + 1.0) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        hits.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc",
            F.round(idf * norm, 6).cast("decimal(18,6)").alias("part"),
        )
    )
    # global top-k via orderBy+limit -> TakeOrderedAndProject (map-side
    # per-partition top-k, driver merges k*partitions rows). A global
    # row_number window would move EVERY scored doc to one partition:
    # InferWindowGroupLimit does not fire for empty partition specs.
    # The rank window then runs over k rows only; the constant-but-
    # unfoldable partition key keeps WindowExec's "No Partition Defined"
    # warning out of the log (the input is bounded either way).
    from as_etl_storage_spark.operators.parallelism import (
        constant_partition_key,
    )

    w = Window.partitionBy(constant_partition_key(F.col("doc"))).orderBy(
        F.col("dscore").desc(), F.col("doc")
    )
    return (
        contrib.groupBy("doc")
        .agg(F.sum("part").cast("decimal(18,6)").alias("dscore"))
        .orderBy(F.col("dscore").desc(), F.col("doc"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        # rank on the exact decimal; surface a double (one deterministic
        # final conversion) so the score column compares uniformly
        .select(
            F.col("doc").alias(id_col),
            F.col("dscore").cast("double").alias("score"),
            "rank",
        )
    )


# ---------------------------------------------------------------- UDTF ----
def make_chunker(chunk_size: int = 32, use_arrow: bool = True):
    """Python UDTF that splits a document into fixed-size token windows —
    the context-window chunking step before embedding/training. One input
    row yields ceil(n_tokens/chunk_size) rows; chunk text preserves token
    order. UDTFs are the table-function extensibility surface (the
    reference has no UDF surface at all, SURVEY.md §2.8); heavy chunkers
    (real tokenizers) swap into eval() unchanged.

    Scale notes: the UDTF runs partition-parallel with no shuffle; output
    grows ~1x input bytes; ``use_arrow`` batches rows over Arrow instead
    of pickling them one at a time. Prefer the codegen'd split/posexplode
    for this exact regex case — the UDTF form exists for chunkers that
    need real Python (sentencepiece, tiktoken)."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id: bigint, chunk_idx: int, chunk_text: string, "
        "n_tokens: bigint",
        useArrow=use_arrow,
    )
    class ChunkTokens:
        def eval(self, doc_id: int, text: str):
            if text is None:
                return
            toks = [t for t in re.split(r"\s+", text) if t != ""]
            for i in range(0, len(toks), chunk_size):
                window = toks[i : i + chunk_size]
                yield doc_id, i // chunk_size, " ".join(window), len(window)

    return ChunkTokens


def tfidf_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_df: int = 20,
    threshold: float = 0.5,
) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs via a term-partitioned
    self-join — the classic sparse-vector similarity search that scales
    where dense ANN does not apply (no embeddings needed): candidate
    pairs meet ONLY through shared mid-band terms, so the join is an
    equi-join keyed on the term, never an all-pairs product.

    The document-frequency band (``min_df``..``max_df``) is the fan-out
    governor: stopword-frequency terms would each contribute O(N²) pairs
    and say nothing about similarity, so they are dropped exactly as the
    inverted-index operator drops them; ultra-rare terms below ``min_df``
    cannot form pairs at all. At 100 TB the band plus a per-term posting
    cap (drop terms whose posting list exceeds a bound, standard in MinHash
    pipelines too) keeps the pair stream ∝ corpus size.

    Determinism: per-term weights are rounded to DECIMAL(18,6) once, so
    every downstream sum (norms, pair dot products) is exact decimal
    arithmetic — order-independent under any shuffle; the one float
    division per pair and the sqrt per doc are single correctly-rounded
    ops both engines agree on bit-for-bit."""
    from as_etl_storage_spark.operators.parallelism import spread_small_scan

    # keyed spread: widens the tokenize of a single-row-group input and
    # hash(doc) already satisfies the (doc, term) tf aggregation's
    # clustering — no post-explode exchange (guide §2.4/§2.5)
    toks = (
        spread_small_scan(df.where(F.col(text_col).isNotNull()), by=id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"),
        )
        .where(F.col("t") != "")
        .groupBy("doc", "t")
        .agg(F.count("*").alias("tf"))
    )
    stats = toks.groupBy("t").agg(F.count("*").alias("dfreq"))
    nd = df.where(F.col(text_col).isNotNull()).agg(
        F.count("*").alias("n_docs")
    )
    weighted = (
        toks.join(
            F.broadcast(
                stats.where(
                    (F.col("dfreq") >= min_df) & (F.col("dfreq") <= max_df)
                )
            ),
            "t",
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "doc",
            "t",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("dfreq")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    # the mid-band weighted index feeds THREE lineages (norms + both
    # self-join sides) and each would re-run tokenize + tf + the band
    # join; pin it once — it is the df-band-bounded sparse index, the
    # thing a production pipeline materializes anyway (adaptive skip
    # measured slower even at sf0.1 — see bm25's pin note). Same
    # unreplicated-blocks eagerness trade as bm25 in cluster mode.
    weighted = weighted.localCheckpoint(eager=True)
    norms = weighted.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    a = weighted.alias("a")
    b = weighted.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_i"), F.col("b.doc").alias("doc_j"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_i"), F.col("nrm").alias("ni"))
    nb = norms.select(F.col("doc").alias("doc_j"), F.col("nrm").alias("nj"))
    sim = F.col("dot") / (F.col("ni") * F.col("nj"))
    return (
        dots.join(na, "doc_i")
        .join(nb, "doc_j")
        .where(sim >= threshold)
        .select("doc_i", "doc_j", F.round(sim, 4).alias("sim"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    d: int = 3,
    w: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Count-min-sketch term frequencies, validated in-plan against exact
    counts for the top-``k`` heavy hitters. The sketch is d×w counters —
    a fixed-size mergeable summary (the point at 100 TB: per-partition
    sketches sum cell-wise, so corpus-wide frequency estimates cost
    d·w longs per partition, not a vocabulary-sized shuffle); the
    estimate is the min over d hash rows, always >= the true count.

    Hashing is the cross-engine md5 prefix (functions.md5_prefix64) with
    the row index salted into the input, so BOTH engines build the
    identical sketch and the oracle hash-gates the estimates themselves —
    stronger than the usual "within x%" sketch validation.

    Here the sketch is built from exact (term, count) pairs for the
    oracle's benefit; the production path sketches raw occurrences with
    the same cell arithmetic."""
    from as_etl_storage_spark.functions import md5_prefix64

    counts = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(word_tokens(F.lower(F.col(text_col)))).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    hashed = counts.select(
        "t",
        "c",
        F.explode(F.expr(f"sequence(0, {d - 1})")).alias("j"),
    ).withColumn(
        "bucket",
        F.pmod(
            md5_prefix64(F.concat(F.col("t"), F.lit("#"), F.col("j"))), F.lit(w)
        ),
    )
    counters = hashed.groupBy("j", "bucket").agg(F.sum("c").alias("cell"))
    est = (
        hashed.join(counters, ["j", "bucket"])
        .groupBy("t")
        .agg(F.min("cell").alias("est_c"), F.first("c").alias("true_c"))
    )
    return (
        est.orderBy(F.col("true_c").desc(), "t")
        .limit(k)
        .select(
            F.col("t").alias("term"),
            "true_c",
            "est_c",
            (F.col("est_c") - F.col("true_c")).alias("overcount"),
        )
    )

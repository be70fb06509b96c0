"""Dedup-operator structural properties (beyond the oracle hash gate)."""

import pytest


def test_semantic_blocked_subset_of_allpairs(spark, sf_dir):
    # blocking only prunes: every centroid-blocked pair must also appear
    # in the exact all-pairs result at the same threshold
    from as_etl_storage_spark.operators.dedup import (
        embedding_cosine_pairs,
        semantic_dedup_pairs,
    )
    from as_etl_storage_spark.queries.common import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = semantic_dedup_pairs(emb, "vec_id", "embedding", 8, 0.45)
    exact = embedding_cosine_pairs(emb, "vec_id", "embedding", 0.45)
    assert blocked.count() > 0
    assert blocked.exceptAll(exact).count() == 0


# A seeded unicode fuzz set for the character-n-gram kernel: surrogate
# pairs (emoji, other supplementary planes), combining marks, ZWJ,
# U+FFFD, U+FFFF, CR/LF and tabs, plus fixed edge cases.
_ALPHABET = list("ab ") + [
    "\U0001F600",  # emoji
    "\U0001D538",  # mathematical double-struck A
    "\U0002000B",  # CJK extension B
    "\u0301",  # combining acute accent
    "\u200d",  # zero-width joiner
    "\ufffd",
    "\uffff",
    "\r",
    "\n",
    "\t",
]
_FIXED = [
    None,
    "",
    "a",
    "ab\U0001F600cdefg",
    "\U0001F600" * 3,
    "\U0001F600" * 6,
    "\r\n" * 7,
    "e\u0301\u200d\U0001F469\u200d\U0001F467",
    "abcdefghijklmnop",
    "\ufffd\uffff" * 4,
]


def _fuzz_texts():
    import random

    rnd = random.Random(20221)
    return _FIXED + [
        "".join(rnd.choice(_ALPHABET) for _ in range(rnd.randrange(0, 30)))
        for _ in range(300)
    ]


def _ref_grams(t: str, n: int) -> list[str]:
    """The positional definition over code points."""
    return [t[i:i + n] for i in range(max(len(t) - n + 1, 1))]


@pytest.fixture(scope="module")
def fuzz_docs(spark):
    texts = _fuzz_texts()
    return texts, spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


@pytest.mark.parametrize("n", [3, 5, 13])
def test_char_grams_match_codepoint_reference(spark, fuzz_docs, n):
    from collections import Counter

    from pyspark.sql import functions as F

    from as_etl_storage_spark.operators.dedup import shingle_array, shingle_table

    texts, df = fuzz_docs
    want = Counter(
        (d, g)
        for d, t in enumerate(texts)
        if t is not None
        for g in _ref_grams(t, n)
    )
    multi = shingle_table(df, "doc_id", "text", n, distinct=False).collect()
    assert Counter((r.doc, r.shingle) for r in multi) == want
    dist = shingle_table(df, "doc_id", "text", n, distinct=True).collect()
    assert sorted((r.doc, r.shingle) for r in dist) == sorted(want)

    want_sets = {}
    for d, g in want:
        want_sets.setdefault(d, set()).add(g)
    arrays = shingle_array(df, "doc_id", "text", n).collect()
    assert all(len(r.shingles) == len(set(r.shingles)) for r in arrays)
    assert {r.doc: set(r.shingles) for r in arrays} == want_sets

    # hashed form: the hash of each reference gram, hashed by Spark
    ref_rows = spark.createDataFrame(list(want), "doc long, g string")
    want_hashed = {}
    for r in ref_rows.select("doc", F.xxhash64("g").alias("h")).collect():
        want_hashed.setdefault(r.doc, set()).add(r.h)
    hashed = shingle_array(df, "doc_id", "text", n, hashed=True).collect()
    assert all(len(r.shingles) == len(set(r.shingles)) for r in hashed)
    assert {r.doc: set(r.shingles) for r in hashed} == want_hashed


def test_char_entropy_matches_codepoint_reference(spark, fuzz_docs):
    import math
    from collections import Counter

    from as_etl_storage_spark.operators.text import char_entropy

    texts, df = fuzz_docs
    got = {
        r.doc_id: r.entropy_bits
        for r in char_entropy(df, "doc_id", "text").collect()
    }
    want = {}
    for d, t in enumerate(texts):
        if t is None:
            continue
        counts = Counter(t) or Counter([""])  # '' is one empty character
        total = sum(counts.values())
        want[d] = -sum(c / total * math.log2(c / total) for c in counts.values())
    assert got.keys() == want.keys()
    assert all(abs(got[d] - want[d]) <= 1e-4 for d in want)


# Word tokens follow Java's \s+ split with limit -1 (the Spark `split` the
# operators use and the DuckDB oracles' regexp_split_to_array): \s is
# [ \t\n\x0b\f\r], and leading/trailing whitespace yields empty tokens.
_JAVA_WS = r"[ \t\n\x0b\f\r]+"
_WORDS = ["a", "b", "A", "Bb", "the", "É", "x1"]
_SEPS = [" ", "  ", "\t", "\r\n", "\x0b", "\f", " \t\n\x0b\f\r "]
_WORD_FIXED = [
    None,
    "",
    "solo",
    " ",
    "a b",
    "a b c d e f g",
    " lead",
    "trail ",
    "\t\r\n\x0b\f",
    "A  B\tc\r\nD\x0bE\fF",
    "the the the the the the the",
]


def _word_texts():
    import random

    rnd = random.Random(6023)
    texts = list(_WORD_FIXED)
    for _ in range(300):
        parts = []
        for _ in range(rnd.randrange(0, 12)):
            if rnd.random() < 0.15:
                parts.append(rnd.choice(_SEPS))
            parts.append(rnd.choice(_WORDS))
            parts.append(rnd.choice(_SEPS))
        texts.append("".join(parts[: len(parts) - rnd.randrange(0, 2)]))
    return texts


def _ref_tokens(t):
    import re

    return re.split(_JAVA_WS, t)


def _ref_word_grams(t, n):
    """The positional definition over Java-split tokens; NULL text has no
    grams."""
    if t is None:
        return []
    tk = _ref_tokens(t)
    return [" ".join(tk[i:i + n]) for i in range(max(len(tk) - n + 1, 1))]


@pytest.fixture(scope="module")
def word_docs(spark):
    texts = _word_texts()
    return texts, spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


@pytest.mark.parametrize("lower", [False, True], ids=["plain", "lower"])
@pytest.mark.parametrize("n", [2, 3, 6])
def test_word_grams_match_java_split_reference(spark, word_docs, n, lower):
    from collections import Counter

    from pyspark.sql import functions as F

    from as_etl_storage_spark.functions import word_grams, word_tokens

    texts, df = word_docs
    text = F.lower(F.col("text")) if lower else F.col("text")
    got = (
        df.select("doc_id", word_tokens(text).alias("tk"))
        .select("doc_id", F.explode(word_grams(F.col("tk"), n)).alias("g"))
        .collect()
    )
    want = Counter(
        (d, g)
        for d, t in enumerate(texts)
        for g in _ref_word_grams(t.lower() if lower and t else t, n)
    )
    assert Counter((r.doc_id, r.g) for r in got) == want


def test_word_gram_operators_match_reference(spark, word_docs):
    # the operators built on the kernel: boilerplate phrases (lowercased,
    # one source per doc so every distinct gram survives min_docs=1) and
    # bigram counts (lowercased, n = 2, NULL text and < 2 tokens dropped)
    from collections import Counter

    from pyspark.sql import functions as F

    from as_etl_storage_spark.operators import text

    texts, df = word_docs
    lowered = [t.lower() if t else t for t in texts]
    per_doc = df.withColumn("source", F.col("doc_id"))
    for n in (2, 3, 6):
        got = text.boilerplate_phrases(
            per_doc, "doc_id", "text", "source", n=n, min_docs=1
        ).collect()
        assert all(r.n_docs == 1 for r in got)
        want = {(d, g) for d, t in enumerate(lowered) for g in _ref_word_grams(t, n)}
        assert {(r.source, r.gram) for r in got} == want

    got = text.bigram_counts(per_doc, "text", "source", min_count=1).collect()
    want = Counter(
        (d, g)
        for d, t in enumerate(lowered)
        if t is not None and len(_ref_tokens(t)) >= 2
        for g in _ref_word_grams(t, 2)
    )
    assert {(r.source, r.bigram): r.n for r in got} == dict(want)


def test_boilerplate_phrases_skip_null_text(spark):
    # two NULL-text documents of one source share no (NULL) phrase
    from as_etl_storage_spark.operators import text

    df = spark.createDataFrame(
        [(1, None, "s"), (2, None, "s"), (3, "a b c", "s"), (4, "A b c", "s")],
        "id long, text string, source string",
    )
    got = text.boilerplate_phrases(df, "id", "text", "source", n=2).collect()
    assert sorted((r.source, r.gram, r.n_docs) for r in got) == [
        ("s", "a b", 2),
        ("s", "b c", 2),
    ]


def test_ngram_jaccard_matches_reference(spark, word_docs):
    from as_etl_storage_spark.operators.dedup import ngram_jaccard_pairs

    texts, df = word_docs
    sets = [set(_ref_word_grams(t, 3)) for t in texts]
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            # a NULL gram counts toward a doc's size but never matches
            inter = len((sets[i] & sets[j]) - {None})
            union = len(sets[i]) + len(sets[j]) - inter
            if inter and inter * 5 >= union * 3:
                want[(i, j)] = inter / union
    got = {
        (r.doc_i, r.doc_j): r.jac
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 3, 5).collect()
    }
    assert want and got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) <= 5e-5 + 1e-12 for k in want)

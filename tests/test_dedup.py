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

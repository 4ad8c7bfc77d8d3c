"""Detector #3 tests: suffix-array LCS kernel vs brute force, winnowing
guarantee, and the end-to-end substring_pairs operator on a planted corpus.

Reference test analog: operator-level golden tests with tiny explicit
fixtures (tests/preprocessing_tests.py style) plus blocking-coverage
assertions (every true pair must share >= 1 blocking key,
utils/eval_utils.py:473 missed_duplicate accounting).
"""

import random
from difflib import SequenceMatcher

import numpy as np
import pytest

from nhse_probabilistic_linkage_spark.functions.suffix import (
    kasai_lcp,
    longest_common_substring,
    suffix_array,
)
from nhse_probabilistic_linkage_spark.functions.text import normalize_text
from nhse_probabilistic_linkage_spark.functions.winnow import (
    kgram_hashes,
    winnow_fingerprints,
)
from nhse_probabilistic_linkage_spark.operators.substring import substring_pairs


# ---------------------------------------------------------------- kernels
def _brute_lcs(a: str, b: str) -> int:
    m = SequenceMatcher(None, a, b, autojunk=False).find_longest_match(0, len(a), 0, len(b))
    return m.size


def test_suffix_array_banana():
    s = np.frombuffer("banana".encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    sa = suffix_array(s)
    assert sa.tolist() == [5, 3, 1, 0, 4, 2]
    lcp = kasai_lcp(s, sa)
    assert lcp.tolist() == [0, 1, 3, 0, 0, 2]


def test_lcs_exact_cases():
    assert longest_common_substring("", "") == 0
    assert longest_common_substring("abc", "") == 0
    assert longest_common_substring("abc", "xyz") == 0
    assert longest_common_substring("abc", "abc") == 3
    assert longest_common_substring("xxhello worldyy", "zzhello worldqq") == len("hello world")
    # repeated structure
    assert longest_common_substring("abababab", "babababa") == 7


def test_lcs_matches_bruteforce_random():
    rng = random.Random(1234)
    alpha = "abcd "
    for _ in range(60):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        assert longest_common_substring(a, b) == _brute_lcs(a, b), (a, b)


def test_lcs_planted_span():
    rng = random.Random(7)
    span = "".join(rng.choice("qwertyuiopasdfghjkl") for _ in range(200))
    a = "".join(rng.choice("zxcvbnm") for _ in range(300)) + span + "12345"
    b = "67890" + span + "".join(rng.choice("zxcvbnm") for _ in range(150))
    assert longest_common_substring(a, b) == 200


def test_lcp_of_pairs_matches_kasai():
    """The vectorized doubling-rank LCP must agree with the scalar Kasai
    oracle on every adjacent suffix pair, across random strings."""
    from nhse_probabilistic_linkage_spark.functions.suffix import (
        lcp_of_pairs,
        suffix_array_with_levels,
    )

    rng = random.Random(77)
    for _ in range(30):
        txt = "".join(rng.choice("abc") for _ in range(rng.randint(1, 300)))
        s = np.frombuffer(txt.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        sa, levels = suffix_array_with_levels(s)
        want = kasai_lcp(s, sa)[1:]
        got = lcp_of_pairs(levels, sa[:-1], sa[1:], s.shape[0])
        assert got.tolist() == want.tolist(), txt


def test_lcs_large_pathological_input_is_fast():
    """The scale guard: a pathological highly-repetitive 50k-char pair (the
    worst case for suffix sorting) must verify in bounded time — this is
    the kernel a verify task runs per candidate pair."""
    import time

    a = "ab" * 25_000
    b = "ba" * 25_000
    t0 = time.monotonic()
    got = longest_common_substring(a, b)
    assert got == 49_999
    assert time.monotonic() - t0 < 10.0  # generous for CI noise; was minutes with scalar Kasai


def test_substring_pairs_max_chars_cap(spark):
    """Docs capped at max_chars: a span planted beyond the cap is not found
    (documented bound), a span within it is."""
    early = "sharedspanwithinthecapzone" * 4  # >64 chars, inside cap
    late = "latesharedspanbeyondcapboundary" * 4
    filler = "x y z w v u t s r q p o n m l k " * 40  # ~1280 normalized chars
    rows = [
        (1, early + " " + filler + " " + late),
        (2, early + " " + "completely different middle content here" + " " + "other tail"),
        (3, filler.replace("x", "j") + " " + late),
        (4, "nothing shared with anyone at all in this one document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap 200: doc1+doc2 share `early` inside the cap; doc1+doc3 share `late`
    # but in doc1 it sits past the cap -> not detected
    pairs, _ = substring_pairs(df, min_span=64, max_chars=200)
    got = {(r["id_l"], r["id_r"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got
    # uncapped: both pairs surface
    pairs_full, _ = substring_pairs(df, min_span=64, max_chars=None)
    got_full = {(r["id_l"], r["id_r"]) for r in pairs_full.collect()}
    assert {(1, 2), (1, 3)} <= got_full


def test_kgram_rolling_hash_consistency():
    # same k-gram content -> same hash regardless of position/surrounding
    c1 = np.frombuffer("XXabcdefghYY".encode("utf-32-le"), dtype=np.uint32)
    c2 = np.frombuffer("ZabcdefghW".encode("utf-32-le"), dtype=np.uint32)
    h1 = kgram_hashes(c1, 8)
    h2 = kgram_hashes(c2, 8)
    assert h1[2] == h2[1]  # both hash "abcdefgh"
    assert kgram_hashes(np.frombuffer("ab".encode("utf-32-le"), dtype=np.uint32), 8).size == 0


def test_winnowing_guarantee_planted_spans():
    """Published guarantee: shared span >= W + k - 1 chars => shared
    fingerprint. Fuzz with random contexts around a shared span."""
    k, window = 16, 49
    t = window + k - 1  # 64
    rng = random.Random(99)
    alpha = "abcdefghij "
    for trial in range(40):
        span = "".join(rng.choice(alpha) for _ in range(t))
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 200))) + span + "".join(
            rng.choice(alpha) for _ in range(rng.randint(0, 200))
        )
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 200))) + span + "".join(
            rng.choice(alpha) for _ in range(rng.randint(0, 200))
        )
        fa = set(winnow_fingerprints(a, k, window).tolist())
        fb = set(winnow_fingerprints(b, k, window).tolist())
        assert fa & fb, f"trial {trial}: guarantee violated"


def test_winnowing_short_text_min():
    k, window = 16, 49
    fp = winnow_fingerprints("abcdefghijklmnopqr", k, window)  # 18 chars, 3 kgrams
    assert fp.size == 1
    assert winnow_fingerprints("short", k, window).size == 0  # < k chars


# ------------------------------------------------------------- end-to-end
@pytest.fixture(scope="module")
def span_corpus(spark):
    rng = random.Random(4242)
    vocab = "spark shuffle partition join scan filter window merge sort hash".split()

    def words(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    shared_a = words(30)  # ~180 normalized chars, well over min_span=64
    shared_b = words(25)
    rows = [
        (1, words(40) + " " + shared_a + " " + words(10)),
        (2, words(5) + " " + shared_a + " " + words(50)),
        (3, shared_b + " " + words(60)),
        (4, words(35) + " " + shared_b),
        (5, words(80)),  # unrelated
        (6, words(3)),   # too short to fingerprint
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_pairs_end_to_end(spark, span_corpus):
    pairs, dropped = substring_pairs(span_corpus, min_span=64)
    got = {(r["id_l"], r["id_r"]): r["span_len"] for r in pairs.collect()}
    assert set(got) == {(1, 2), (3, 4)}
    assert dropped.count() == 0
    # span_len is the exact LCS of the normalized texts
    docs = {
        r["doc_id"]: r["nt"]
        for r in span_corpus.select("doc_id", normalize_text("text").alias("nt")).collect()
    }
    for (l, r), span in got.items():
        assert span == _brute_lcs(docs[l], docs[r])
        assert span >= 64


def test_substring_pairs_deterministic_across_partitioning(spark, span_corpus):
    p1, _ = substring_pairs(span_corpus.repartition(1), min_span=64)
    p8, _ = substring_pairs(span_corpus.repartition(8), min_span=64)
    assert sorted(map(tuple, p1.collect())) == sorted(map(tuple, p8.collect()))


def test_winnow_batch_bit_identical_to_per_doc():
    """The r6 prefix-sum batched kernel must produce byte-identical
    fingerprints to the per-doc reference kernel (the hash algebra is exact
    mod 2^64), across group boundaries, short docs, and empties."""
    import numpy as np

    from nhse_probabilistic_linkage_spark.functions import winnow as W

    texts = [
        "",
        None,
        "short",
        "x" * 23,
        "x" * 24,
        "abcdefghij" * 30,
        "the quick brown fox jumps over the lazy dog " * 20,
        "periodic ab" * 100,
        "Ünïcôdé ẞpän text with emoji \U0001F600 and more padding characters here",
    ] + [f"doc {i} " + "filler token stream " * (5 + i % 37) for i in range(50)]
    fps, grams = W.winnow_batch(texts, k=24, window=41, span=64)
    for t, fp in zip(texts, fps):
        ref = W.winnow_fingerprints(t if t is not None else "", 24, 41)
        assert list(fp) == list(ref), repr(t)
    # span-gram necessary condition: two docs sharing a >=64-char span must
    # share a span gram; unrelated docs must not
    a = "PREFIX " + "S" * 100 + " SUFFIXA"
    b = "other " + "S" * 100 + " tailB"
    c = "completely unrelated content with no long shared span at all"
    _, g = W.winnow_batch([a, b, c], k=24, window=41, span=64)
    assert np.intersect1d(g[0], g[1]).size > 0
    assert np.intersect1d(g[0], g[2]).size == 0


def test_winnow_batch_grouping_invariant():
    """Group packing must not change values: tiny _GROUP_CHARS forces many
    flushes; results must equal the single-group run."""
    from nhse_probabilistic_linkage_spark.functions import winnow as W

    texts = [f"doc {i} " + "content words here " * (3 + i % 11) for i in range(40)]
    fps1, g1 = W.winnow_batch(texts, k=24, window=41, span=64)
    orig = W._GROUP_CHARS
    try:
        W._GROUP_CHARS = 64
        fps2, g2 = W.winnow_batch(texts, k=24, window=41, span=64)
    finally:
        W._GROUP_CHARS = orig
    for x, y in zip(fps1, fps2):
        assert list(x) == list(y)
    for x, y in zip(g1, g2):
        assert list(x) == list(y)


def test_substring_pairs_accounts_bands_over_cap_from_repeated_spans(spark):
    """Winnowing keeps positions, not values, so a doc that repeats a
    boilerplate span emits the same fingerprint value many times: a
    fingerprint band can hold more rows than there are docs. With three docs
    and band_cap=3, those bands exceed the cap and must come back in
    `dropped` with their true row counts — never dropped silently."""
    from collections import Counter

    boiler = "terms and conditions apply to every order placed on this site "
    rows = [
        (1, "welcome to the shop " + boiler * 12 + "thanks for visiting"),
        (2, "a different opening line " + boiler + "and a different close"),
        (3, "nothing in this document overlaps the others at any length at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    min_span, kgram = 64, 16
    # normalized=True: fingerprints are taken of the text as given, so the
    # pure-numpy winnowing below sees exactly what the operator sees
    pairs, dropped = substring_pairs(
        df, min_span=min_span, kgram=kgram, band_cap=3, normalized=True
    )
    counts = Counter()
    for _, text in rows:
        counts.update(winnow_fingerprints(text, kgram, min_span - kgram + 1).tolist())
    want = {(fp, n) for fp, n in counts.items() if n > 3}
    assert want  # the repeated span really does push bands over the cap
    assert {(r["band_key"], r["band_size"]) for r in dropped.collect()} == want

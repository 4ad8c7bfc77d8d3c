"""Text normalization and shingling — fully native Catalyst expressions.

The reference cleans its string fields with Python scalar UDFs
(/root/reference/utils/preprocessing_utils.py:17-67,84-86) — the anti-pattern
called out in SURVEY.md §2.8. Here every step is a built-in expression so it
stays inside whole-stage codegen and Catalyst can prune/push down around it:

    normalize  -> lower + regexp_replace + trim   (deterministic, versioned)
    tokenize   -> split + filter
    shingles   -> hash each token once, then xxhash64 over the k-long hash
                  window (xxhash64 hashes array columns natively) +
                  array_distinct — no per-window string concatenation.
                  Measured vs the join-strings-then-hash formulation at
                  ~900-token docs: ~35% faster at BOTH 1 and 4 threads
                  (string building dominated the old prepare stage).
                  String shingles remain available for debugging/display
                  (`shingles()`).

Determinism note: xxhash64 with the default seed (42) is a fixed, versioned
function of its input — unlike monotonically_increasing_id, which the
reference uses as a surrogate key (utils/dataset_ingestion_utils.py:450) and
which is NOT stable across runs/partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Single source of truth for the normalization regex: anything that is not a
# unicode letter or digit collapses to one space. Versioned — changing this
# changes every shingle hash downstream, so treat like a model version.
NORMALIZE_PATTERN = r"[^\p{L}\p{N}]+"
NORMALIZE_VERSION = 1

# Version of the shingle HASH REPRESENTATION. v1 hashed joined k-gram
# strings; v2 hashes the k-long window of token hashes (same set semantics,
# different hash values). Any store that persists shingle/minhash/band
# values (streaming state, pipeline checkpoints pin config instead) must
# record this and refuse to mix versions — values from different versions
# never collide, so a silent mix would simply stop finding duplicates.
SHINGLE_HASH_VERSION = 2


def normalize_text(col: Column | str) -> Column:
    """Deterministic text canonicalization (lowercase, strip punctuation,
    collapse whitespace). Byte-identical per input string across runs and
    partitionings — the per-row invariant the bench checks."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), NORMALIZE_PATTERN, " "))


def tokenize(col: Column | str, *, pre_normalized: bool = False) -> Column:
    """Whitespace tokens of the normalized text; empty tokens removed."""
    c = F.col(col) if isinstance(col, str) else col
    base = c if pre_normalized else normalize_text(c)
    return F.filter(F.split(base, " "), lambda t: t != F.lit(""))


def shingles(tokens: Column, k: int = 5) -> Column:
    """Distinct word k-gram shingles as strings.

    Documents with fewer than k tokens yield a single shingle = the whole
    token sequence (so short docs still dedupe exactly); empty docs yield [].
    """
    n = F.size(tokens)
    windowed = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(tokens, i + 1, k), " "),
    )
    short = F.array(F.array_join(tokens, " "))
    return F.array_distinct(
        F.when(n >= k, windowed).when(n > 0, short).otherwise(F.array().cast("array<string>"))
    )


def shingle_hashes(shingle_col: Column) -> Column:
    """64-bit hashes of shingle strings (xxhash64, fixed seed) — the compact
    representation used for MinHash/verify at scale."""
    return F.transform(shingle_col, lambda s: F.xxhash64(s))


def windowed_shingle_hashes(token_hash_col: Column, k: int = 5) -> Column:
    """Distinct 64-bit shingle hashes straight from a token-HASH array:
    each k-gram is xxhash64 of its k-long hash window (array hashing is a
    native Spark expression), skipping per-window string concatenation.

    Same shape rules as `shingles()`: < k tokens -> one shingle over the
    whole sequence, empty -> []. Pass a MATERIALIZED column (withColumn),
    not an inline expression — a nested higher-order function re-evaluates
    non-lambda-variable children per outer element (see
    textstats._bind_once for the measured trap).

    Note the hash VALUES differ from shingle_hashes(shingles(...)) (longs
    vs strings are hashed); set-level semantics — distinctness, jaccard,
    MinHash/SimHash statistics — are representation-independent.
    """
    n = F.size(token_hash_col)
    windowed = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.xxhash64(F.slice(token_hash_col, i + 1, F.lit(k))),
    )
    short = F.array(F.xxhash64(token_hash_col))
    return F.array_distinct(
        F.when(n >= k, windowed).when(n > 0, short).otherwise(F.array().cast("array<bigint>"))
    )


def prepare_docs(df, text_col: str = "text", k: int = 5):
    """Attach `shingles` (array<bigint>) to a document DataFrame.

    Tokenization and per-token hashing stay native (cheap — measured 0.7s of
    the 8.6s sf1.0 prepare stage); the windowed k-gram fold + distinct runs
    in the vectorized numpy kernel (functions/shingle_kernel.py), which is
    BIT-IDENTICAL to the native `windowed_shingle_hashes` expression (pinned
    in tests/test_text.py) and removes the per-window slice allocation that
    dominated the stage (r6: 7.6s -> sub-second short docs, 24s -> ~2s long
    docs)."""
    from nhse_probabilistic_linkage_spark.functions.shingle_kernel import make_shingle_udf

    shingle_udf = make_shingle_udf(k)
    return df.withColumn(
        "shingles",
        shingle_udf(F.transform(tokenize(F.col(text_col)), lambda t: F.xxhash64(t))),
    )

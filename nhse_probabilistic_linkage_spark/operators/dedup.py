"""Deduplication operator suite for training-data pipelines.

Exact dedup (hash groupBy), MinHash-LSH near-dup, SimHash near-dup, n-gram
Jaccard pairs — each returns DataFrames, composes with connected_components
for clustering, and runs entirely on built-in expressions except the
signature kernels (vectorized Arrow UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.functions.text import normalize_text, prepare_docs
from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
from nhse_probabilistic_linkage_spark.functions.simhash import with_simhash
from nhse_probabilistic_linkage_spark.operators.lsh import (
    _combination_pairs,
    band_keys,
    candidate_pairs,
)
from nhse_probabilistic_linkage_spark.operators.simhash_lsh import simhash_block_keys, verify_hamming
from nhse_probabilistic_linkage_spark.operators.substring import substring_pairs
from nhse_probabilistic_linkage_spark.operators.verify import verify_pairs
from nhse_probabilistic_linkage_spark.sources.tables import spread_input


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalized: bool = False,
) -> DataFrame:
    """Exact duplicate groups on (normalized) text.

    Output: (doc_id, rep_id, group_size) for every doc, where rep_id is the
    min doc id sharing identical text. At scale the groupBy key is a 128-bit
    fingerprint (two independently-seeded xxhash64 halves) so only 16 bytes
    shuffle per row; the window argmin then picks the representative. 64 bits
    alone would silently false-merge ~27k pairs at 10^12 docs (birthday
    bound); at 128 bits the expected collision count is ~3e-15.

    The salt constant is folded BEFORE the text: xxhash64 folds its arguments
    left-to-right from the fixed seed, so ``xxhash64(key, salt)`` would be a
    deterministic function of ``xxhash64(key)`` (same accumulator state after
    the text, salt folded after) and the second half would add zero entropy.
    ``xxhash64(salt, key)`` hashes the text from a salted accumulator state —
    a genuinely different hash function of the text, making the two halves
    collide independently.
    """
    key = F.col(text_col) if normalized else normalize_text(F.col(text_col))
    keyed = df.select(
        F.col(id_col),
        F.xxhash64(key).alias("_fp_a"),
        F.xxhash64(F.lit(0x5F3759DF), key).alias("_fp_b"),
    )
    w = Window.partitionBy("_fp_a", "_fp_b")
    return (
        keyed.withColumn("rep_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count("*").over(w))
        .select(id_col, "rep_id", "group_size")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    config: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    gate_metrics: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """text -> verified near-duplicate pairs (id_l, id_r, match_key, jaccard).

    Returns (pairs, dropped_bands). The full detector-1 path: shingle ->
    minhash -> bands -> capped self-join -> exact-jaccard verify.

    `gate_metrics`: pass a dict to receive the estimate gate's gated-pair
    accounting (pairs_in / pairs_after_gate / pairs_gated_out) when
    config.verify_estimate_gate is on — the never-silent contract for the
    one lossy feature, same policy as dropped bands.
    """
    # spread_input: small single-row-group inputs arrive in 1-2 partitions
    # and would run both Arrow kernels nearly serial (no-op on wide inputs)
    docs = prepare_docs(
        spread_input(df.select(id_col, text_col)), text_col=text_col, k=config.shingle_k
    )
    # shingles + signatures are checkpointed TOGETHER: banding, the size
    # histogram and both sides of the verify join all re-scan this table, and
    # with the cut placed after the MinHash kernel none of those scans re-runs
    # the Arrow UDF. localCheckpoint (not lazy persist): blocks are freed
    # when the handle is GC'd, so repeated calls in a long-lived session
    # don't accumulate cache entries. The cut is LAZY: candidate_pairs'
    # band-sizing job is its first consumer and materializes it, so the
    # checkpoint costs no job of its own.
    docs = with_minhash(
        docs.select(id_col, "shingles"), num_perms=config.num_perms, seed=config.minhash_seed
    ).localCheckpoint(eager=False)
    bands = band_keys(
        docs, id_col=id_col, bands=config.bands, rows_per_band=config.rows_per_band
    )
    cands, dropped = candidate_pairs(bands, id_col=id_col, band_cap=config.band_cap,
                                     salt_threshold=config.salt_threshold, salt_groups=config.salt_groups)
    verified = verify_pairs(
        cands,
        docs,
        id_col=id_col,
        threshold=config.jaccard_threshold,
        minhash_col="minhash" if config.verify_estimate_gate else None,
        estimate_band=config.verify_estimate_band,
        gate_metrics=gate_metrics if config.verify_estimate_gate else None,
    )
    return verified, dropped


def simhash_pairs(
    df: DataFrame,
    config: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """text -> near-duplicate pairs by SimHash Hamming distance."""
    docs = prepare_docs(
        spread_input(df.select(id_col, text_col)), text_col=text_col, k=config.shingle_k
    )
    # lazy cut, materialized by its first consumer (candidate_pairs), as in
    # minhash_lsh_pairs
    docs = with_simhash(docs.select(id_col, "shingles")).localCheckpoint(eager=False)
    blocks = simhash_block_keys(docs, id_col=id_col, max_hamming=config.simhash_max_hamming)
    cands, _ = candidate_pairs(blocks, id_col=id_col, band_cap=config.band_cap,
                                salt_threshold=config.salt_threshold, salt_groups=config.salt_groups)
    return verify_hamming(cands, docs, id_col=id_col, max_hamming=config.simhash_max_hamming)


# posting-count cutoff between the broadcast-friendly inverted-index
# self-join and the single-exchange grouped shape (~24MB of postings at
# 16B/row — a broadcast-viability bound in the spirit of
# autoBroadcastJoinThreshold). Module-level so tests can drive the grouped
# branch on small corpora (tests/test_dedup_fingerprint.py).
NGRAM_JOIN_MAX_POSTINGS = 1_500_000


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via shingle inverted index (no MinHash) —
    the brute-force-correct path used as the oracle for the probabilistic
    detectors at small scale; still distributed (shingle explode + self-join),
    but O(pairs sharing a shingle) so only for corpora where that is sane.
    """
    docs = prepare_docs(spread_input(df.select(id_col, text_col)), text_col=text_col, k=k)
    # LAZY cut + a sizing agg as its first consumer: one job both
    # materializes the checkpoint and measures the inverted-index size that
    # picks the physical plan below (r6; was an eager cut costing the same
    # job without yielding the statistic).
    sized = docs.select(
        F.col(id_col), F.col("shingles"), F.size("shingles").alias("n_sh")
    ).localCheckpoint(eager=False)
    inv_rows = int(
        sized.agg(F.coalesce(F.sum("n_sh"), F.lit(0)).alias("t")).first()["t"]
    )
    inv = sized.select(F.col(id_col), F.explode("shingles").alias("sh"))
    # count shared shingles per pair in ONE aggregation — shingles are
    # distinct per doc, so each shared shingle contributes a pair exactly
    # once and count(*) IS the intersection size; jaccard follows
    # arithmetically from |A|,|B|. Two physical shapes, picked by the
    # measured posting count (r6):
    #   small (broadcastable posting list): inverted-index SELF-JOIN — the
    #     planner broadcasts one exploded side, so the only exchange is the
    #     pair aggregation (measured 0.5s vs 0.9s for the grouped shape at
    #     250k postings);
    #   large: group postings by shingle and stream unordered member pairs
    #     out of each group via the two-level generator explode (the lsh.py
    #     _combination_pairs shape) — ONE exchange of the posting list where
    #     the self-join exchanged it twice and sorted it (measured 1.6s vs
    #     2.2s at 3.3M postings; plan diff 8 Exchanges -> 6). Hot-shingle
    #     groups buffer O(members) ids where the join streamed O(members^2)
    #     rows — this operator is the documented brute-force-correct
    #     small-scale path either way (see docstring). Both shapes produce
    #     identical (id_l, id_r, count) sets.
    if inv_rows <= NGRAM_JOIN_MAX_POSTINGS:
        inter = (
            inv.alias("l")
            .join(inv.alias("r"), "sh")
            .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .groupBy(
                F.col(f"l.{id_col}").alias("id_l"), F.col(f"r.{id_col}").alias("id_r")
            )
            .agg(F.count("*").alias("_inter"))
        )
    else:
        grouped = (
            inv.groupBy("sh")
            .agg(F.collect_list(id_col).alias("ids"))
            .where(F.size("ids") >= 2)
            .select(F.lit(0).alias("band_id"), "ids")
        )
        # the one audited implementation of the combination explode (lsh.py)
        pair_stream = _combination_pairs(grouped).drop("band_id")
        inter = pair_stream.groupBy("id_l", "id_r").agg(F.count("*").alias("_inter"))
    sizes = sized.select(F.col(id_col), F.col("n_sh"))
    pairs = (
        inter.join(sizes.select(F.col(id_col).alias("id_l"), F.col("n_sh").alias("_n_l")), "id_l")
        .join(sizes.select(F.col(id_col).alias("id_r"), F.col("n_sh").alias("_n_r")), "id_r")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_n_l") + F.col("_n_r") - F.col("_inter")),
        )
        .drop("_inter", "_n_l", "_n_r")
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def substring_dedup_pairs(
    df: DataFrame,
    config: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """text -> pairs sharing an exact normalized span >= config.substr_min_span
    (detector #3: winnowing candidates + suffix-array LCS verify). Returns
    (pairs, dropped_bands)."""
    return substring_pairs(
        df,
        min_span=config.substr_min_span,
        kgram=config.substr_kgram,
        id_col=id_col,
        text_col=text_col,
        band_cap=config.band_cap,
        max_chars=config.substr_max_chars,
        checkpoint_dir=checkpoint_dir,
    )

"""Detector #3: suffix-array substring-duplicate pass for long shared spans.

Two stages, mirroring the block -> score shape of the reference pipeline
(blocking rules /root/reference/parameters_dedupe.py:26-44 -> Splink scoring
predict_dedupe.py:93), but for character-span duplication instead of field
agreement:

  candidates  winnowing fingerprints (functions/winnow.py) exploded to
              (doc_id, band_key) and self-joined through the SAME
              candidate_pairs() machinery as the MinHash bands — so the
              hot-key cap/salting and pair-dedup logic is shared. The
              winnowing guarantee makes this stage recall-1.0 for spans
              >= min_span normalized characters.
  verify      exact longest-common-substring per pair via a numpy
              suffix-array + Kasai LCP kernel (functions/suffix.py);
              pairs with span_len >= min_span survive.

Output: (id_l, id_r, span_len). Feed into connected components together
with (or instead of) the MinHash/SimHash pair tables — the three detectors
are interchangeable behind the same pair schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.functions.suffix import make_lcs_udf
from nhse_probabilistic_linkage_spark.functions.text import normalize_text
from nhse_probabilistic_linkage_spark.functions.winnow import with_fingerprints
from nhse_probabilistic_linkage_spark.operators.lsh import candidate_pairs
from nhse_probabilistic_linkage_spark.operators.verify import MEASURED_ATTACH_MAX_ROWS, spread_pairs

# Largest MEASURED doc-table byte size the LCS verify explicitly broadcasts
# (same rationale as similarity.VEC_BROADCAST_BYTES: decide from facts, not
# from the pair checkpoint's unreliable planner estimate).
DOC_BROADCAST_BYTES = 64 << 20


def fingerprint_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fingerprints",
) -> DataFrame:
    """Explode fingerprints to the (id, band_id, band_key) shape shared with
    the LSH band table, so candidate_pairs() (cap + salt + dedup) is reused.
    band_id is 0 — fingerprints are one logical blocking rule."""
    return docs.select(
        F.col(id_col),
        F.lit(0).alias("band_id"),
        F.explode(fp_col).alias("band_key"),
    )


def substring_pairs(
    df: DataFrame,
    min_span: int = 64,
    kgram: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_cap: int | None = 5000,
    normalized: bool = False,
    max_chars: int | None = 50_000,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """text -> pairs sharing an exact normalized-character span >= min_span.

    Returns (pairs, dropped_bands): pairs = (id_l, id_r, span_len); dropped
    bands = hot-fingerprint accounting (boilerplate spans shared by huge doc
    sets get capped exactly like hot LSH bands — counted, never silent).

    Winnowing window W = min_span - kgram + 1 gives the published guarantee
    threshold t = W + kgram - 1 = min_span.

    max_chars hard-caps every doc's normalized text BEFORE fingerprinting,
    so both candidate generation and the LCS verify see the same bounded
    input — the per-task worst case is capped structurally (one pathological
    multi-MB page cannot stall a verify task). Spans are then detected
    within the first max_chars characters of each doc; like the band cap,
    this is a documented bound, not a silent drop.

    checkpoint_dir: when set, the two intermediate cuts (fingerprinted docs,
    candidate pairs) stage to parquet under it instead of executor-local
    checkpoints — durable on any Hadoop FS, survives executor loss (same
    policy as connected_components).
    """
    if min_span <= kgram:
        raise ValueError(f"min_span ({min_span}) must exceed kgram ({kgram})")
    if max_chars is not None and max_chars < min_span:
        raise ValueError(f"max_chars ({max_chars}) must be >= min_span ({min_span})")
    window = min_span - kgram + 1

    def _cut(d: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir is None:
            return d.localCheckpoint(eager=True)
        from nhse_probabilistic_linkage_spark.sources import fs

        path = fs.join(checkpoint_dir, name)
        d.write.mode("overwrite").parquet(path)
        return d.sparkSession.read.parquet(path)

    norm = F.col(text_col) if normalized else normalize_text(F.col(text_col))
    if max_chars is not None:
        norm = F.substring(norm, 1, max_chars)
    # spread_input BEFORE the normalize projection: a small single-row-group
    # input arrives in 1-2 partitions and would run the normalize regexp AND
    # the winnowing kernel nearly serial (no-op on wide inputs)
    from nhse_probabilistic_linkage_spark.sources.tables import spread_input

    docs = spread_input(df.select(id_col, text_col)).select(
        F.col(id_col), norm.alias("norm_text")
    )
    # Reused by candidate generation AND both sides of the LCS verify join.
    # Eager cut, not persist: the band self-join references this subtree many
    # times and lazy cache registration still re-planned the winnowing UDF
    # per reference (measured 150s vs 15s at sf0.1).
    # span=min_span additionally materializes each doc's distinct
    # min_span-gram rolling hashes (same batched prefix-sum pass): the
    # exact-prescreen keys for the verify below.
    fp = with_fingerprints(docs, text_col="norm_text", k=kgram, window=window, span=min_span)
    if checkpoint_dir is None:
        # lazy cut + count first consumer (the ngram/minhash idiom): ONE job
        # materializes the checkpoint and yields the corpus count
        docs = fp.localCheckpoint(eager=False)
    else:
        docs = _cut(fp, "substr_docs")  # durable parquet; count below is a footer read
    n_docs = docs.count()
    # measured corpus bytes for the verify-attach strategy below; only worth
    # a (tiny) second agg over the checkpointed/parquet docs in the small
    # regime — large corpora keep the planner's honest-estimate behavior
    total_chars = None
    if n_docs <= MEASURED_ATTACH_MAX_ROWS:
        total_chars = int(
            docs.agg(F.coalesce(F.sum(F.length("norm_text")), F.lit(0))).first()[0]
        )

    cands, dropped = candidate_pairs(
        fingerprint_keys(docs, id_col=id_col), id_col=id_col, band_cap=band_cap
    )
    if checkpoint_dir is not None:
        # candidate_pairs already cut the pair table executor-locally; re-stage
        # it durably so the (expensive) LCS verify can restart from parquet
        cands = _cut(cands, "substr_cands")

    slim = docs.select(F.col(id_col), F.col("norm_text"), F.col("span_grams"))
    lcs = make_lcs_udf()
    # LCS is the densest per-row compute in the engine. Spread the
    # (checkpointed, therefore possibly 1-partition) pair table BEFORE the
    # text joins: the doc-text joins broadcast (texts are narrow) and
    # preserve the spread partitioning, so the UDF runs wide. Spreading
    # AFTER the joins does NOT work — Catalyst pushes the span filter (UDF
    # included) back through the repartition exchange and evaluates the LCS
    # on the unspread stream, then AGAIN above it (measured: 130s single
    # task + duplicate evaluation vs ~10s wide). See verify.spread_pairs.
    #
    # Exact prescreen (r6): two docs share a span of >= min_span chars IFF
    # they share some exact min_span-char substring, which implies their
    # min_span-gram rolling-hash sets overlap — a NECESSARY condition with
    # zero false negatives (equal substrings hash equal). The native
    # arrays_overlap filter therefore removes only provably-impossible
    # pairs BEFORE the LCS kernel; hash-collision false positives simply
    # fall through to the exact LCS, which remains the decision. Measured
    # at sf1.0: 143,676 winnow candidates -> LCS runs on the overlap
    # survivors only (verify 5.0s -> ~sub-second).

    # EXPLICIT attach strategy (r6): the candidate checkpoint's planner
    # estimate is unreliable (LogicalRDD inherits its origin plan's estimate,
    # which can under-estimate), and if the planner broadcasts the PAIR side
    # instead of the texts, the LCS loses the spread partitioning (measured
    # 12s -> 15-50s at sf1.0). The doc side's true size was measured above,
    # so: provably-small text table -> broadcast it (pinning the design
    # intent — LCS runs in the spread pair partitioning); anything else ->
    # planner's choice, as before.
    slim_l = slim.select(
        F.col(id_col).alias("id_l"),
        F.col("norm_text").alias("_t_l"),
        F.col("span_grams").alias("_g_l"),
    )
    slim_r = slim.select(
        F.col(id_col).alias("id_r"),
        F.col("norm_text").alias("_t_r"),
        F.col("span_grams").alias("_g_r"),
    )
    # norm_text bytes + span_grams (~4 B per char) + per-row overhead.
    # NO shuffled-hash fallback here (unlike similarity's vector attach): a
    # forced SHJ interacts pathologically with the spread_pairs exchange and
    # the LCS filter guard — measured 45-50s and ~40 GB of shuffle spill at
    # sf1.0 vs 11-13s for the planner's own choice. Above the broadcast
    # limit the planner decides, as it did before this round.
    est_doc_bytes = None if total_chars is None else total_chars * 6 + n_docs * 96
    if est_doc_bytes is not None and est_doc_bytes <= DOC_BROADCAST_BYTES:
        slim_l, slim_r = F.broadcast(slim_l), F.broadcast(slim_r)
    pairs = (
        spread_pairs(cands)
        .join(slim_l, "id_l")
        .join(slim_r, "id_r")
        .where(F.arrays_overlap("_g_l", "_g_r"))
        .withColumn("span_len", lcs(F.col("_t_l"), F.col("_t_r")))
        .drop("_t_l", "_t_r", "_g_l", "_g_r", "match_key")
        .where(F.col("span_len") >= min_span)
    )
    return pairs, dropped

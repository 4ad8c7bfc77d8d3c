"""Benchmark decontamination: flag corpus documents that share k-gram
shingles with a (small) benchmark/test set.

The training-data hygiene step every corpus pipeline needs: before training,
remove documents that contain evaluation-set material, detected as n-gram
overlap (the standard "13-gram decontamination" recipe, here parameterized
by the engine's shingle k). Conceptually this is the reference's
exclusion-list anti-join (cross-dataset suppression of known records) applied
at the n-gram level instead of the identifier level
(/root/reference/utils/dataset_ingestion_utils.py supersession/exclusion
handling).

Scale shape (the part that matters at 100 TB):
  - The benchmark side is SMALL by construction (an eval set, thousands of
    docs). Its distinct shingle set is broadcast — decided by an explicit
    count of that set, never by the planner's estimate, and refused above
    BROADCAST_GRAM_LIMIT — so the corpus is NEVER shuffled: the
    contamination probe runs map-side inside the corpus scan.
  - Only matching (doc_id, gram) hits leave the map stage; the per-doc
    aggregation shuffles hit rows only (a vanishing fraction of the corpus).
  - Everything is native Catalyst (tokenize/shingle/hash are codegen
    expressions from functions.text); no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.functions.text import prepare_docs

# Above this many distinct benchmark shingles the broadcast is refused and
# the probe falls back to a shuffle join — at that size the "benchmark" is
# not an eval set any more and the caller should use the dedup detectors.
BROADCAST_GRAM_LIMIT = 20_000_000


def benchmark_grams(
    benchmark: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """Distinct shingle hashes of the benchmark corpus: one column `gram`."""
    return (
        prepare_docs(benchmark.select(text_col), text_col=text_col, k=k)
        .select(F.explode("shingles").alias("gram"))
        .distinct()
    )


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document overlap with the benchmark shingle set.

    Returns (id_col, n_hits, n_shingles, hit_ratio) for documents with at
    least one overlapping shingle. hit_ratio is containment: overlapping
    distinct shingles / document's distinct shingles.
    """
    # cut eagerly: the gram set is scanned by the count AND the probe join —
    # without the cut the tokenize/shingle/distinct lineage runs twice
    grams = benchmark_grams(benchmark, text_col=text_col, k=k).localCheckpoint(eager=True)
    n_grams = grams.count()  # one job over the small side; decides broadcast
    build = F.broadcast(grams) if n_grams <= BROADCAST_GRAM_LIMIT else grams
    doc_grams = (
        prepare_docs(docs.select(id_col, text_col), text_col=text_col, k=k)
        .select(id_col, F.size("shingles").alias("n_shingles"), F.explode("shingles").alias("gram"))
    )
    return (
        doc_grams.join(build, "gram")  # map-side when broadcast; hits only survive
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_hits"),  # shingles are distinct per doc by construction
            F.first("n_shingles").alias("n_shingles"),
        )
        .withColumn("hit_ratio", F.col("n_hits") / F.greatest(F.col("n_shingles"), F.lit(1)))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_hits: int = 1,
    min_ratio: float = 0.0,
) -> DataFrame:
    """Drop documents contaminated by the benchmark set.

    A document is contaminated when it shares >= min_hits distinct k-gram
    shingles with the benchmark AND its containment ratio >= min_ratio.
    The removal is an anti-join on the contaminated-id list. The list sits
    behind a shuffle boundary (the per-doc aggregation), so AQE has runtime
    stats and broadcasts it when small — the usual case — without the risk
    an unconditional broadcast would carry if most of the corpus matched.
    """
    hits = contamination_hits(docs, benchmark, id_col=id_col, text_col=text_col, k=k)
    contaminated = hits.where(
        (F.col("n_hits") >= min_hits) & (F.col("hit_ratio") >= min_ratio)
    ).select(id_col)
    return docs.join(contaminated, id_col, "left_anti")

"""MinHash-LSH banding and candidate-pair generation.

This is the engine's answer to the reference's blocking stage: a UNION of 17
selective equi-self-joins tagged with a `match_key` rule index
(/root/reference/parameters_dedupe.py:26-44, executed by Splink at
predict_dedupe.py:93). Here every band is one "blocking rule": two docs are
candidates iff some band of their MinHash signatures hashes identically, and
`match_key` records the first band that fired.

candidate_pairs builds ONE plan for every caller and input size; nothing
in it branches on a caller's claim about the data. The parts Catalyst
cannot do for us:
- The band table is shuffled ONCE: a count(*) window over band_key sizes
  every band inside the same exchange (spillable, so mega-bands cost disk
  not heap), size routing (singleton prune / cap / salt) happens BEFORE any
  list aggregation, and only cold bands are ever collect_list'ed; hot bands
  go through a salted self-join so their O(size^2) emission spreads over
  tasks — see candidate_pairs for the structural memory bound and the
  measured comparison against the histogram + self-join formulation it
  replaced.
- Pathological bands (boilerplate pages that hash identically in some band)
  would generate O(size^2) pairs. Those are removed by an explicit band-size
  cap, with the dropped mass counted and returned — documented recall
  accounting, never silent (reference analog: per-rule comparison counts,
  notebooks_dedupe/blocking_evaluation_dedupe.py:154-175).
- Pair dedup across bands is a groupBy (map-side combinable) rather than
  dropDuplicates on the raw join output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Explode a signature column into (id, band_id, band_key) rows.

    band_key = xxhash64(band_id, signature slice) — computed natively inside
    a transform() lambda so the whole fanout stays in codegen. The slice is
    expressed as individual element_at args (r6): xxhash64 folds an
    array<long> element-by-element exactly as it folds the same values as
    separate long arguments (pinned in tests/test_lsh.py), and element_at
    skips the per-band 4-element array allocation that made the fanout the
    single hottest expression in the band stage (12.8M-row fanout: 2.2s ->
    ~1.2s at 400k docs).
    """
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(
            i,
            *[
                F.element_at(F.col(sig_col), i * F.lit(rows_per_band) + F.lit(j + 1))
                for j in range(rows_per_band)
            ],
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(band_arr).alias("band_id", "band_key"),
    )


def _salted_self_join_pairs(bands: DataFrame, id_col: str, salt_groups: int) -> DataFrame:
    """Skew-breaking self-join for hot bands: split a band of m members into
    g salt groups; the left side carries its group id, the right side is
    replicated to every group, and the join key becomes (band_key, gid) — so
    the single O(m^2) task becomes g tasks of O(m^2/g) each. Every unordered
    pair survives exactly once: pair (a, b) with a < b matches only where
    left = a (right's replica tagged gid(a)); the mirrored row fails
    id_l < id_r. Replication cost is g x right rows, paid only for hot bands.
    """
    g = F.lit(salt_groups)
    left = bands.select(
        "band_key",
        "band_id",
        F.col(id_col).alias("id_l"),
        F.pmod(F.xxhash64(id_col), g).alias("gid"),
    )
    right = bands.select(
        "band_key",
        F.col(id_col).alias("id_r"),
        F.explode(F.sequence(F.lit(0), g - 1)).alias("gid"),
    )
    return left.join(right, ["band_key", "gid"]).where(F.col("id_l") < F.col("id_r")).drop("gid")


def _combination_pairs(grouped: DataFrame) -> DataFrame:
    """All unordered member pairs of each band group, natively.

    Input: (band_id, ids). Two-level generator explode — posexplode picks
    id_l, then explode of the positional tail picks every later id_r — so
    pairs STREAM through whole-stage codegen; the full m^2/2 pair array of a
    band is never materialized in one buffer (only the m-element id list
    rides along each intermediate row). Sorting the list first makes
    id_l < id_r positional; the != guard covers duplicate (band, id) input
    rows, which the old join formulation dropped via its strict <."""
    sorted_ids = F.array_sort("ids")
    return (
        grouped.select("band_id", sorted_ids.alias("_ids"))
        .select("band_id", "_ids", F.posexplode("_ids").alias("_pos", "id_l"))
        .select(
            "band_id",
            "id_l",
            F.explode(F.slice("_ids", F.col("_pos") + F.lit(2), F.size("_ids"))).alias("id_r"),
        )
        .where(F.col("id_l") != F.col("id_r"))
    )


def candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    band_cap: int | None = 5000,
    salt_threshold: int | None = 500,
    salt_groups: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Band table -> (unique candidate pairs (id_l < id_r, match_key),
    dropped-band accounting (band_key, band_size)).

    ONE shuffle of the band table: a count(*) window over band_key sizes
    every band in the same exchange, size routing filters rows BEFORE any
    aggregation, and cold-band pair generation is a groupBy over the
    already-partitioned rows (no second exchange). This evolved from the
    round-1 design (size histogram shuffle + semi-join + band self-join =
    three scans and two full exchanges of the band table), which an
    interleaved A/B at 240k docs / local[4] measured ~35% slower with an
    identical pair set (100,071 pairs both ways).

    Singleton bands — the overwhelming majority once signatures are
    selective (measured 94.7% of keys at 240k docs) — die in the _bsize
    >= 2 filter without ever being cached, aggregated, or joined.

    Skew handling, in escalating order (north-rule requirement — "skew from
    hot LSH bands handled explicitly via salted band keys [and] band-size
    caps with documented recall accounting"):
      size <= salt_threshold   native combination explode — pairs stream
                               out of the grouped row inside codegen;
      size in (salt_threshold, band_cap]   salted self-join — all pairs
                               kept, the hot band's O(m^2) emission spread
                               over salt_groups tasks (a single generator
                               row cannot be parallelized, a salted join
                               can);
      size > band_cap          dropped entirely, returned in the accounting
                               table (band_key, band_size) — NEVER silent.
    band_cap=None / salt_threshold=None mean "no cap" / "no salt": the
    corresponding predicate is a constant false, so Catalyst prunes the
    dropped or salted branch from the plan instead of running it empty.

    Memory bound, structural: band sizes come from count(*) over a window on
    the SAME band_key partitioning (WindowExec buffers each band in a
    SPILLABLE row array — a 10M-member band costs disk, never heap), and
    rows are routed by size BEFORE any list aggregation: singletons and
    over-cap bands never reach the agg, hot bands feed the salted join
    directly from exploded rows, and only cold bands (size <=
    salt_threshold) are ever collect_list'ed — so the unspillable agg
    buffer is capped at min(salt_threshold, band_cap) ids BY CONSTRUCTION,
    regardless of input. (With both caps disabled the bound disappears —
    the caller explicitly asked for unbounded bands.)
    """
    from pyspark.sql import Window

    bsize = F.col("_bsize")
    over_cap = F.lit(False) if band_cap is None else bsize > band_cap
    hot = F.lit(False) if salt_threshold is None else bsize > salt_threshold
    sized = bands_df.withColumn("_bsize", F.count("*").over(Window.partitionBy("band_key")))
    # singletons die HERE, before the persist and before any aggregation;
    # only multi-member band rows are cached, and the cache keeps the
    # window's hash(band_key) partitioning so the groupBys below add no
    # exchange
    multi = sized.where(bsize >= 2).persist(StorageLevel.MEMORY_AND_DISK)

    dropped = (
        multi.where(over_cap)
        .groupBy("band_key")
        .agg(F.first("_bsize").cast("long").alias("band_size"))
    )
    cold = (
        multi.where(~over_cap & ~hot)
        .groupBy("band_key")
        .agg(F.min("band_id").alias("band_id"), F.collect_list(id_col).alias("ids"))
    )
    raw = _combination_pairs(cold).unionByName(
        _salted_self_join_pairs(
            multi.where(~over_cap & hot).select("band_key", "band_id", F.col(id_col)),
            id_col,
            salt_groups,
        ).select("band_id", "id_l", "id_r")
    )
    pairs_part = raw.groupBy("id_l", "id_r").agg(F.min("band_id").alias("match_key"))

    # Materialize the (narrow) pair table eagerly, then release the band
    # cache: every downstream consumer (verify's semi-join + join, counts,
    # CC edges) scans `pairs` more than once, and without the cut the band
    # aggregation would re-execute per scan. Eager checkpoint also lets this
    # function own its persist scope — callers in long-lived sessions
    # (streaming micro-batches) never accumulate leaked cache blocks.
    # Pairs and the (tiny) dropped-band accounting ride ONE tagged union so
    # both materialize in a single job; the returned views are cheap filters
    # over the shared checkpoint.
    idt = pairs_part.schema["id_l"].dataType
    mkt = pairs_part.schema["match_key"].dataType
    combined = (
        pairs_part.select(
            F.lit(0).alias("_t"),
            "id_l",
            "id_r",
            "match_key",
            F.lit(None).cast("bigint").alias("band_key"),
            F.lit(None).cast("bigint").alias("band_size"),
        )
        .unionByName(
            dropped.select(
                F.lit(1).alias("_t"),
                F.lit(None).cast(idt).alias("id_l"),
                F.lit(None).cast(idt).alias("id_r"),
                F.lit(None).cast(mkt).alias("match_key"),
                "band_key",
                "band_size",
            )
        )
        .localCheckpoint(eager=True)
    )
    multi.unpersist()
    pairs = combined.where(F.col("_t") == 0).select("id_l", "id_r", "match_key")
    dropped = combined.where(F.col("_t") == 1).select("band_key", "band_size")
    return pairs, dropped

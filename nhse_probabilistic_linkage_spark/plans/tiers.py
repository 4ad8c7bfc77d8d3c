"""Tiered deduplication: exact -> near (MinHash) -> semantic (embedding),
each tier operating ONLY on the survivors of the previous one.

This is the production shape of web-corpus dedup at 100 TB: detectors are
ordered by cost per byte, and the cheap tier shrinks the corpus before the
expensive tier ever scans it. On crawl data the exact tier alone removes the
majority of bytes (mirror pages, re-crawls) with a 16-byte-per-row shuffle;
the MinHash tier then runs on a corpus a fraction of the original size; the
optional embedding tier — the only one that needs a vector per doc — sees
only what survived both.

Contrast with jobs/run_dedup.py, which runs detectors in PARALLEL over the
full corpus and unions their edges (the evaluation shape: you want every
detector's view of the same input, plus agreement vectors). The cascade here
is the deployment shape: minimal total work, one canonical per document,
per-tier drop accounting.

Reference analog: the staged MPS pipeline — deterministic ingest collapse
first, then probabilistic linkage on what remains (run_pipeline.py stage
ordering; dataset_ingestion before splink matching). Same economics, applied
to web pages instead of person records.

Scale notes:
- Every inter-tier handoff is an id-only semi/anti join (8-byte keys); the
  wide text/embedding columns are re-attached by joining the original input,
  never carried through the tier bookkeeping.
- Dropped-doc status rows are (id, tier, canonical) — narrow — and the
  canonical-chain resolution joins tier maps that SHRINK monotonically
  (tier N's map only contains docs that survived tiers < N).
- Each tier's survivor id set is cut (lazy localCheckpoint) because the
  next tier and the status union both scan it; without the cut the previous
  tier's full lineage (including the MinHash kernel) would re-execute. The
  cuts are materialized by the single final accounting job, so there are no
  per-tier serial barriers.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.operators.connected_components import assign_components
from nhse_probabilistic_linkage_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from nhse_probabilistic_linkage_spark.plans.pipeline import _StageCheckpoints


@dataclass(frozen=True)
class TierMetric:
    tier: str
    n_in: int
    n_dropped: int
    n_out: int
    resumed: bool = False


def _cluster_drops(ids: DataFrame, edges: DataFrame, id_col: str) -> DataFrame:
    """(doc_id, canonical_id) for every doc that is NOT its cluster's min id.

    assign_components emits cluster_id = min member id, so the cluster id IS
    the surviving canonical — no separate election join needed here."""
    clusters = assign_components(ids, edges, id_col=id_col)
    return clusters.where(F.col(id_col) != F.col("cluster_id")).select(
        F.col(id_col), F.col("cluster_id").alias("canonical_id")
    )


def tiered_dedup(
    docs: DataFrame,
    config: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    embeddings: DataFrame | None = None,
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    exact_cosine: bool = False,
    checkpoint_dir: str | None = None,
    input_fingerprint: str | None = None,
    cosine_planes: int | None = None,
    cosine_tables: int | None = None,
) -> dict:
    """Run the cascade. Returns dict with:

    status    one row per input doc: (id_col, tier, canonical_id) where tier
              is the tier that DROPPED the doc ('exact' | 'near' |
              'semantic') or 'kept'; canonical_id is resolved through the
              whole chain, so it always names a KEPT document (an exact dup
              of a page whose representative later lost a near-dup election
              points at the final winner, not the intermediate one).
    survivors the kept rows of `docs`, original columns intact.
    metrics   list[TierMetric] — per-tier in/dropped/out counts (the north
              rule's drop accounting: nothing is removed silently).
    accounting DataFrame (tier, metric, band_key, n): over-cap dropped LSH
              bands / embedding buckets and estimate-gated pair counts;
              resumed tiers contribute nothing (their accounting was
              recorded by the producing run).

    The embedding tier runs only when `embeddings` (id_col, vec_col) is
    passed; docs without a vector pass through it untouched (a missing
    embedding must not silently delete a document).

    There is one plan shape: tier handoffs are lazy localCheckpoints (reused
    after first materialization, but no serial count barriers — at 100 TB
    each barrier is a full materialization of the id set), and the per-tier
    drop counts come from ONE final groupBy over the status table.

    `checkpoint_dir` makes the cascade RESUMABLE through the same stage
    checkpoints as DedupPipeline (plans.pipeline._StageCheckpoints): each
    tier's drops table — the only artifact that is expensive to recompute —
    is written to durable parquet under the dir, and a manifest pins the
    config JSON, the cascade parameters, and an input fingerprint (count +
    id checksum computed when none is passed). A re-run with the same dir
    skips every completed tier's detector entirely (TierMetric.resumed =
    True); a run with a different config, parameters, or input starts fresh
    — stale tier drops are never reused. Survivor id sets are NOT persisted:
    they derive from the saved drops by narrow anti-joins, which costs one
    cheap join per tier on resume instead of double the checkpoint
    footprint. Durable tier writes are eager by nature, so a run with a
    checkpoint_dir materializes once per tier.
    """
    spark = docs.sparkSession
    ids0 = docs.select(F.col(id_col).cast("long").alias(id_col)).localCheckpoint(eager=False)
    ckpt = _StageCheckpoints(
        spark,
        checkpoint_dir,
        "cascade_manifest.json",
        {
            "config": config.to_json(),
            "id_col": id_col,
            "text_col": text_col,
            "has_embeddings": embeddings is not None,
            "vec_col": vec_col,
            "cosine_threshold": cosine_threshold,
            "exact_cosine": exact_cosine,
            "cosine_planes": cosine_planes,
            "cosine_tables": cosine_tables,
        },
        ids0,
        id_col,
        input_fingerprint,
    )
    resumed_tiers: set[str] = set()

    def _drops(name: str, build) -> DataFrame:
        """A tier's drops table through the shared stage checkpoints.
        `build` is a thunk: several detectors do EAGER work at
        plan-construction time (candidate_pairs cuts its own output; the
        semantic tier checkpoints + probes the embedding table), so on
        resume the detector must never even be constructed."""
        out, _, resumed = ckpt.stage(name, lambda: (build(), []))
        if resumed:
            resumed_tiers.add(name)
        return out

    # never-silent drop accounting (dropped LSH bands / embedding buckets,
    # estimate-gated pairs): the detectors materialize these tables eagerly
    # as part of candidate generation, so observing them adds no extra
    # barrier. Rows come only from tiers that actually RAN this call; a
    # resumed tier's accounting was recorded by the producing run.
    acct_parts: list[DataFrame] = []
    _ACCT_SCHEMA = "tier string, metric string, band_key bigint, n bigint"

    def _acct_bands(tier: str, dropped_df: DataFrame) -> None:
        acct_parts.append(
            dropped_df.select(
                F.lit(tier).alias("tier"),
                F.lit("dropped_band").alias("metric"),
                F.col("band_key").cast("long").alias("band_key"),
                F.col("band_size").cast("long").alias("n"),
            )
        )

    # ---- tier 1: exact (128-bit fingerprint groupBy) ----------------------
    def _build_exact() -> DataFrame:
        groups = exact_dedup(docs, id_col=id_col, text_col=text_col)
        return groups.where(F.col(id_col) != F.col("rep_id")).select(
            F.col(id_col).cast("long").alias(id_col),
            F.col("rep_id").cast("long").alias("canonical_id"),
        )

    exact_drops = _drops("exact_drops", _build_exact)
    surv1 = ids0.join(exact_drops.select(id_col), id_col, "left_anti").localCheckpoint(eager=False)

    # ---- tier 2: near (MinHash LSH + exact-Jaccard verify) ----------------
    near_gate: dict = {}

    def _build_near() -> DataFrame:
        docs1 = docs.join(surv1, id_col, "left_semi")
        pairs, dropped_bands = minhash_lsh_pairs(
            docs1, config, id_col=id_col, text_col=text_col, gate_metrics=near_gate
        )
        _acct_bands("near", dropped_bands)
        return _cluster_drops(
            surv1, pairs.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")), id_col
        )

    near_drops = _drops("near_drops", _build_near)
    if near_gate:
        # the estimate gate's counts were taken eagerly inside verify_pairs
        # during the build; a resumed tier never fills this (see above)
        acct_parts.append(
            spark.createDataFrame(
                [("near", "gated_pairs", None, int(near_gate["pairs_gated_out"]))],
                _ACCT_SCHEMA,
            )
        )
    surv2 = surv1.join(near_drops.select(id_col), id_col, "left_anti").localCheckpoint(eager=False)

    # ---- tier 3: semantic (embedding cosine), optional --------------------
    if embeddings is not None:

        def _build_semantic() -> DataFrame:
            from nhse_probabilistic_linkage_spark.operators.similarity import embedding_neardup_pairs

            # eager cut: the emptiness probe AND the multi-table LSH below
            # each scan this table; without the cut the caller's embedding
            # lineage (often a derived/featurized expression, not a parquet
            # read) re-executes per scan
            emb2 = (
                embeddings.select(F.col(id_col).cast("long").alias(id_col), vec_col)
                .join(surv2, id_col, "left_semi")
                .localCheckpoint(eager=True)
            )
            if emb2.isEmpty():
                # every embedded doc fell in an earlier tier: no semantic
                # edges (and the LSH path's dimension inference has no row
                # to probe)
                epairs = docs.sparkSession.createDataFrame([], "id_l long, id_r long")
            else:
                # n_planes/n_tables: None lets the operator auto-size from
                # the threshold AND the surviving-corpus density (fixed
                # planes make the random-collision candidate tail quadratic
                # in n — see similarity.lsh_params_for_threshold); the
                # explicit knobs exist because hash-derived or otherwise
                # non-spherical embedding distributions discriminate less
                # per plane than the model assumes
                epairs, edropped = embedding_neardup_pairs(
                    emb2, threshold=cosine_threshold, id_col=id_col, vec_col=vec_col,
                    exact=exact_cosine, n_planes=cosine_planes, n_tables=cosine_tables,
                    with_accounting=True,
                )
                _acct_bands("semantic", edropped)
            return _cluster_drops(
                surv2, epairs.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")), id_col
            )

        sem_drops = _drops("sem_drops", _build_semantic)
        surv3 = surv2.join(sem_drops.select(id_col), id_col, "left_anti").localCheckpoint(eager=False)
    else:
        sem_drops = None
        surv3 = surv2

    # ---- canonical-chain resolution ---------------------------------------
    # A doc dropped at tier N points at a tier-N survivor that later tiers
    # may drop. Resolve by walking forward through the (shrinking) later-tier
    # maps: chain depth is bounded by the number of tiers, so this is a
    # fixed, small number of narrow joins — never an iterative loop.
    def _resolve(status: DataFrame, later_map: DataFrame | None) -> DataFrame:
        if later_map is None:
            return status
        m = later_map.select(
            F.col(id_col).alias("_k"), F.col("canonical_id").alias("_v")
        )
        return (
            status.join(m, status["canonical_id"] == m["_k"], "left")
            .withColumn("canonical_id", F.coalesce("_v", "canonical_id"))
            .drop("_k", "_v")
        )

    exact_status = exact_drops.withColumn("tier", F.lit("exact"))
    exact_status = _resolve(_resolve(exact_status, near_drops), sem_drops)
    near_status = _resolve(near_drops.withColumn("tier", F.lit("near")), sem_drops)
    parts = [exact_status, near_status]
    if sem_drops is not None:
        parts.append(sem_drops.withColumn("tier", F.lit("semantic")))
    kept_status = surv3.select(
        F.col(id_col),
        F.col(id_col).alias("canonical_id"),
        F.lit("kept").alias("tier"),
    )
    parts.append(kept_status)
    status = parts[0]
    for p in parts[1:]:
        status = status.unionByName(p)
    status = status.select(id_col, "tier", "canonical_id")

    # ONE job over the (lazily checkpointed) status table drives the whole
    # plan and yields the per-tier drop counts — n_in chains by subtraction
    # since tiers are strictly sequential.
    status = status.localCheckpoint(eager=False)
    counts = {r["tier"]: r["n"] for r in status.groupBy("tier").agg(F.count("*").alias("n")).collect()}
    n_in = sum(counts.values())
    metrics: list[TierMetric] = []
    _drop_name = {"exact": "exact_drops", "near": "near_drops", "semantic": "sem_drops"}
    for tier in ("exact", "near", *(("semantic",) if embeddings is not None else ())):
        d = counts.get(tier, 0)
        metrics.append(TierMetric(tier, n_in, d, n_in - d,
                                  resumed=_drop_name[tier] in resumed_tiers))
        n_in -= d

    survivors = docs.join(surv3, id_col, "left_semi")
    accounting = spark.createDataFrame([], _ACCT_SCHEMA)
    for p in acct_parts:
        accounting = accounting.unionByName(p)
    return {
        "status": status,
        "survivors": survivors,
        "metrics": metrics,
        # (tier, metric, band_key, n): dropped_band rows per over-cap LSH
        # band / embedding bucket, plus the gated_pairs count when the
        # estimate gate is on (never-silent); resumed tiers contribute
        # nothing (recorded by the producing run)
        "accounting": accounting,
    }


def metrics_df(spark, metrics: list[TierMetric]) -> DataFrame:
    """Per-tier accounting as a DataFrame (for writing next to the output)."""
    return spark.createDataFrame(
        [(m.tier, m.n_in, m.n_dropped, m.n_out, m.resumed) for m in metrics],
        "tier string, n_in long, n_dropped long, n_out long, resumed boolean",
    )

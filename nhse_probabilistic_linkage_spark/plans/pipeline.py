"""End-to-end near-duplicate pipeline with per-stage checkpointing, metrics
and resume.

Stage graph (each stage a pure DataFrame transform; signatures cut at stage
boundaries exactly where the reference cuts Splink lineage with
break_lineage_method='persist'|'delta_lake_table',
/root/reference/predict_dedupe.py:63-69):

  prepare    pages -> (doc_id, url, shingles, n_shingles)   [native]
  signatures + minhash (Arrow UDF)
  pairs      LSH bands -> capped self-join -> candidates    [shuffle: band_key]
  verified   exact Jaccard >= threshold                     [shuffle: doc_id]
  clusters   connected components + singleton backfill      [iterative]
  canonical  per-cluster canonical doc election             [window]

Every stage writes (when a checkpoint dir is given) a parquet table plus a
row in the run manifest; re-running with the same manifest skips completed
stages — the resumability contract. Stage metrics (rows, wall seconds) land
in a metrics table (reference analog: the model/metrics Delta log,
utils/model_utils.py:107-125).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.sources import fs
from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
from nhse_probabilistic_linkage_spark.functions.text import prepare_docs
from nhse_probabilistic_linkage_spark.operators.best_match import elect_canonical
from nhse_probabilistic_linkage_spark.operators.connected_components import assign_components
from nhse_probabilistic_linkage_spark.operators.lsh import band_keys, candidate_pairs
from nhse_probabilistic_linkage_spark.operators.verify import verify_pairs

STAGES = ["prepare", "signatures", "pairs", "verified", "clusters", "canonical"]


@dataclass
class StageMetric:
    stage: str
    rows: int
    seconds: float
    extra: dict = field(default_factory=dict)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: DedupConfig | None = None,
        checkpoint_dir: str | None = None,
        id_col: str = "doc_id",
        collect_metrics: bool = True,
    ):
        self.spark = spark
        self.config = config or DedupConfig()
        self.checkpoint_dir = checkpoint_dir
        self.id_col = id_col
        # collect_metrics=True (the evaluation shape): every stage boundary is
        # an EAGER cut plus one count/lineage job, so StageMetric.seconds are
        # honest per-stage walls and the per-partition lineage table is
        # complete. collect_metrics=False is the PRODUCTION shape (same
        # contract as plans.tiers.tiered_dedup): stage cuts become lazy
        # localCheckpoints — still cutting lineage at exactly the same
        # boundaries once materialized by the first consumer, but with no
        # serial count barriers and no extra full scan of each stage's wide
        # output (at 100 TB each lineage job re-reads the whole stage from the
        # block store). Accounting that must never be silent (dropped bands,
        # gated-out pairs, the adaptive-gate decision) is still recorded; the
        # per-stage rows/seconds metrics are not. Outputs are bit-identical
        # between the modes (pinned in tests/test_pipeline.py). With a
        # checkpoint_dir the stage writes stay durable (and therefore eager) —
        # durability and a fully fused plan are mutually exclusive.
        self.collect_metrics = collect_metrics
        self.metrics: list[StageMetric] = []
        # per-partition lineage counters: (run_id, stage, partition_id, rows)
        # -- the reference logs models/metrics to a Delta table
        # (utils/model_utils.py:107-125); ours additionally records row
        # counts per physical partition per stage, so a resumed or audited
        # run can see exactly which partition of which stage produced what.
        self.lineage_rows: list[tuple] = []
        # piggy-backed per-stage aggregates from the lineage job (r6): e.g.
        # prepare's sum(n_shingles), so the adaptive-gate decision costs no
        # extra scan of the (wide) prepare output
        self.stage_aggs: dict[str, dict] = {}
        self.run_id: str | None = None

    # -- checkpoint plumbing -------------------------------------------------
    # All control-file IO goes through the Hadoop FS API (sources/fs.py):
    # the checkpoint dir may be file:, hdfs:, s3a:, ... — os.* would only see
    # the driver's local disk and silently break resume on a real cluster.
    def _stage_path(self, stage: str) -> str | None:
        return fs.join(self.checkpoint_dir, stage) if self.checkpoint_dir else None

    def _manifest_path(self) -> str | None:
        return fs.join(self.checkpoint_dir, "manifest.json") if self.checkpoint_dir else None

    def _load_manifest(self, input_fingerprint: str) -> dict:
        fresh = {"config": self.config.to_json(), "input": input_fingerprint, "done": []}
        p = self._manifest_path()
        if p:
            raw = fs.read_text(self.spark, p)
            if raw is not None:
                m = json.loads(raw)
                # config OR input changed -> stale checkpoints must not be reused
                if m.get("config") != self.config.to_json() or m.get("input") != input_fingerprint:
                    return fresh
                return m
        return fresh

    def _save_manifest(self, manifest: dict) -> None:
        p = self._manifest_path()
        if p:
            fs.mkdirs(self.spark, self.checkpoint_dir)
            fs.write_text(self.spark, p, json.dumps(manifest, indent=2))

    def _materialize(
        self,
        df: DataFrame,
        stage: str,
        manifest: dict,
        already_cut: bool = False,
        lineage_aggs: dict | None = None,
    ) -> DataFrame:
        """Run a stage: reuse its checkpoint if the manifest says it's done,
        else compute, persist (parquet checkpoint or localCheckpoint), record
        metrics, and mark done. already_cut skips the localCheckpoint when the
        input is known to be eagerly materialized upstream (candidate_pairs
        cuts its own output) — a second copy would only add a serial barrier,
        which is exactly what the N->4N scaling criterion punishes.

        The localCheckpoint is LAZY even in metrics mode (r6): the lineage
        job right below is the first consumer, so ONE job both materializes
        the stage and counts it — the eager-checkpoint-then-recount shape
        paid a full extra scan of every stage's (wide) output per stage.

        lineage_aggs: extra named aggregates piggy-backed onto the lineage
        job (per-partition, summed into self.stage_aggs[stage]) so stage
        statistics the pipeline needs — e.g. the adaptive verify gate's mean
        shingles/doc — cost zero additional jobs."""
        path = self._stage_path(stage)
        if path and stage in manifest["done"]:
            out = self.spark.read.parquet(path)
            self.metrics.append(StageMetric(stage, -1, 0.0, {"resumed": True}))
            return out
        t0 = time.monotonic()
        if path:
            df.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
        elif already_cut:
            out = df
        else:
            out = df.localCheckpoint(eager=False)
        if self.collect_metrics:
            # ONE job serves the stage materialization, the stage row count,
            # the per-partition lineage counters (rows = sum of partition
            # counts) AND any piggy-backed stage aggregates — stage barriers
            # are serial floor, and the N->4N efficiency criterion pays for
            # every one of them
            rows = self._record_lineage(stage, out, lineage_aggs)
            self.metrics.append(StageMetric(stage, rows, time.monotonic() - t0))
        manifest["done"].append(stage)
        self._save_manifest(manifest)
        return out

    # -- the pipeline ---------------------------------------------------------
    def run(
        self,
        pages: DataFrame,
        text_col: str = "text",
        input_fingerprint: str | None = None,
    ) -> dict[str, DataFrame]:
        """input_fingerprint identifies the input dataset for resume safety
        (e.g. an Iceberg snapshot id or source path). When None and a
        checkpoint dir is set, a content checksum is computed (one cheap
        agg over ids) — same dir + different input never wrongly resumes."""
        cfg = self.config

        # doc_id: stable content-independent key from url (xxhash64), NOT
        # monotonically_increasing_id (reference pitfall,
        # utils/dataset_ingestion_utils.py:450 — unstable across runs).
        if self.id_col not in pages.columns:
            pages = pages.withColumn(self.id_col, F.xxhash64(F.col("url")))

        if input_fingerprint is None and self.checkpoint_dir:
            row = pages.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(self.id_col).cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            input_fingerprint = f"n={row['n']},h={row['h']}"
        manifest = self._load_manifest(input_fingerprint or "unspecified")
        self.run_id = hashlib.sha256(
            (self.config.to_json() + "|" + (input_fingerprint or "unspecified")).encode()
        ).hexdigest()[:16]

        base_cols = [c for c in ("url",) if c in pages.columns]
        # spread_input: a small single-row-group input would run the shingle
        # kernel nearly serial (no-op on already-wide inputs, e.g. the bench's
        # checkpointed synth corpus)
        from nhse_probabilistic_linkage_spark.sources.tables import spread_input

        prepared = self._materialize(
            prepare_docs(
                spread_input(pages.select(self.id_col, *base_cols, text_col)),
                text_col=text_col,
                k=cfg.shingle_k,
            )
            .withColumn("n_shingles", F.size("shingles"))
            .select(self.id_col, *base_cols, "shingles", "n_shingles"),
            "prepare",
            manifest,
            # piggy-back the adaptive-gate statistic on the lineage job so
            # the gate decision below needs no extra scan of this wide table
            lineage_aggs={"sum_shingles": F.sum("n_shingles")},
        )

        sig_df = with_minhash(prepared, num_perms=cfg.num_perms, seed=cfg.minhash_seed)
        signatures = self._materialize(sig_df.select(self.id_col, "minhash"), "signatures", manifest)

        bands = band_keys(
            signatures, id_col=self.id_col, bands=cfg.bands, rows_per_band=cfg.rows_per_band
        )
        # the 32x band fanout stays a codegen expression feeding the single
        # band_key shuffle inside candidate_pairs — never persisted
        cands, dropped = candidate_pairs(bands, id_col=self.id_col, band_cap=cfg.band_cap,
                                         salt_threshold=cfg.salt_threshold, salt_groups=cfg.salt_groups)
        pairs = self._materialize(cands, "pairs", manifest, already_cut=True)
        # cheap emptiness probe first — the full count job only runs when a
        # band actually got dropped (rare by construction)
        n_dropped = 0 if dropped.isEmpty() else dropped.count()
        if n_dropped:
            self.metrics.append(
                StageMetric("pairs.dropped_bands", n_dropped, 0.0, {"band_cap": cfg.band_cap})
            )

        # MinHash-estimate gate (DedupConfig.verify_estimate_gate): clearly-
        # below pairs are rejected on the 128-long signatures and never
        # shuffle their shingle arrays; survivors get exact jaccard. With
        # the default None the decision is ADAPTIVE: one cheap columnar agg
        # over the checkpointed prepare stage measures mean shingles/doc,
        # and the gate turns on only where the shingle arrays dwarf the
        # signature (real web pages) — short-doc corpora skip the extra
        # signature join that would cost more than it saves.
        gate = cfg.verify_estimate_gate
        if gate is None and self.checkpoint_dir and "verified" in manifest["done"]:
            gate = False  # stage resumes from its checkpoint; decision moot
        if gate is None:
            stats = self.stage_aggs.get("prepare")
            if stats and stats.get("rows"):
                # free: computed inside the prepare lineage job (same
                # sum/count division as F.avg over a bigint column)
                avg_sh = stats["sum_shingles"] / stats["rows"]
            else:
                avg_sh = prepared.agg(F.avg("n_shingles")).collect()[0][0] or 0.0
            gate = avg_sh >= cfg.verify_gate_min_avg_shingles
            self.metrics.append(
                StageMetric(
                    "verified.estimate_gate", int(gate), 0.0,
                    {"avg_shingles": round(float(avg_sh), 1), "auto": True},
                )
            )
        verify_docs = prepared
        minhash_col = None
        gate_metrics: dict = {}
        if gate:
            verify_docs = prepared.join(signatures.select(self.id_col, "minhash"), self.id_col)
            minhash_col = "minhash"
        verified = self._materialize(
            verify_pairs(
                pairs,
                verify_docs,
                id_col=self.id_col,
                threshold=cfg.jaccard_threshold,
                minhash_col=minhash_col,
                estimate_band=cfg.verify_estimate_band,
                gate_metrics=gate_metrics if gate else None,
            ),
            "verified",
            manifest,
        )
        if gate_metrics:
            # never-silent accounting for the lossy estimate gate (same
            # policy as pairs.dropped_bands): the gated-out pair count is in
            # the metrics table, so the ~1e-4/pair recall cost is observable
            self.metrics.append(
                StageMetric(
                    "verified.gated_pairs",
                    gate_metrics["pairs_gated_out"],
                    0.0,
                    {
                        "pairs_in": gate_metrics["pairs_in"],
                        "estimate_band": cfg.verify_estimate_band,
                    },
                )
            )

        clusters = self._materialize(
            assign_components(
                prepared,
                verified.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")),
                id_col=self.id_col,
                # CC frontiers ride the same durable checkpoint dir as the
                # stages: executor loss mid-CC then costs one round, not the
                # whole job (localCheckpoint frontiers are executor-local).
                checkpoint_dir=fs.join(self.checkpoint_dir, "cc") if self.checkpoint_dir else None,
            ),
            "clusters",
            manifest,
        )

        canonical = self._materialize(
            elect_canonical(
                clusters, prepared.select(self.id_col, "n_shingles"),
                id_col=self.id_col, prefer_col="n_shingles",
            ).select(self.id_col, "cluster_id", "canonical_id", "is_canonical"),
            "canonical",
            manifest,
        )

        return {
            "prepared": prepared,
            "signatures": signatures,
            "pairs": pairs,
            "verified": verified,
            "clusters": clusters,
            "canonical": canonical,
        }

    def _record_lineage(
        self, stage: str, out: DataFrame, extra_aggs: dict | None = None
    ) -> int:
        """One cheap map-side job over the stage (materializing it when the
        checkpoint is lazy): row count per physical partition. Appended to
        the lineage table (metrics sink) by write_metrics(); kept in memory
        otherwise. Returns the total row count so the caller never needs a
        second scan. extra_aggs (name -> sum-combinable Column) are computed
        per partition in the same job and totalled into
        self.stage_aggs[stage]."""
        aggs = [F.count("*").alias("rows")]
        for name, expr in (extra_aggs or {}).items():
            aggs.append(expr.alias(name))
        counts = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*aggs)
            .collect()
        )
        for r in counts:
            self.lineage_rows.append((self.run_id, stage, int(r["partition_id"]), int(r["rows"])))
        if extra_aggs:
            self.stage_aggs[stage] = {
                name: sum(r[name] for r in counts if r[name] is not None)
                for name in extra_aggs
            }
            self.stage_aggs[stage]["rows"] = sum(int(r["rows"]) for r in counts)
        return sum(int(r["rows"]) for r in counts)

    def lineage_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            self.lineage_rows, "run_id string, stage string, partition_id int, rows long"
        )

    def metrics_df(self) -> DataFrame:
        rows = [(m.stage, m.rows, m.seconds, json.dumps(m.extra)) for m in self.metrics]
        return self.spark.createDataFrame(rows, "stage string, rows long, seconds double, extra string")

    def write_metrics(self) -> None:
        if self.checkpoint_dir:
            self.metrics_df().write.mode("overwrite").parquet(
                fs.join(self.checkpoint_dir, "metrics")
            )
            if self.lineage_rows:
                self.lineage_df().write.mode("append").parquet(
                    fs.join(self.checkpoint_dir, "lineage")
                )

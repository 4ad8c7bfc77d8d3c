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

Every stage writes (when a checkpoint dir is given) a parquet table plus an
entry in the run manifest; re-running with the same manifest reads completed
stages back and never builds them — the resumability contract. A finished
stage's manifest entry also holds the accounting its run recorded (dropped
bands, the verify gate's decision and gated pairs), which a resumed run
reports again. Stage metrics (rows, wall seconds) land in a metrics table,
one row per stage and per accounting record; there is no per-partition
lineage (reference analog: the model/metrics Delta log,
utils/model_utils.py:107-125).
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

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

# bump when the manifest layout changes: checkpoint dirs written under an
# older layout then recompute once instead of being misread
_MANIFEST_VERSION = 2


@dataclass
class StageMetric:
    stage: str
    rows: int
    seconds: float
    extra: dict = field(default_factory=dict)


class _StageCheckpoints:
    """The stage-checkpoint control plane of DedupPipeline and
    plans.tiers.tiered_dedup.

    With a checkpoint dir, a manifest pins `params` and an input fingerprint
    (one count + sum(xxhash64(id)) agg over `ids`, unless the caller names
    the input); a changed pin starts fresh, so stale stages are never
    reused. A stage the manifest lists as done is read back from parquet and
    its build thunk never runs: detectors do eager work while their plan is
    built (candidate_pairs' checkpoint, the CC collect), and a resumed stage
    must pay none of it. Without a dir, every stage is built and cut with a
    lazy localCheckpoint that its first consumer materializes.

    All control-file IO goes through the Hadoop FS API (sources/fs.py): the
    checkpoint dir may be file:, hdfs:, s3a:, ... — os.* would only see the
    driver's local disk and silently break resume on a real cluster."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None,
        manifest_name: str,
        params: dict,
        ids: DataFrame,
        id_col: str,
        input_fingerprint: str | None = None,
    ):
        self.spark = spark
        self.dir = checkpoint_dir
        self.manifest: dict | None = None
        if checkpoint_dir is None:
            return
        if input_fingerprint is None:
            row = ids.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(id_col).cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            input_fingerprint = f"n={row['n']},h={row['h']}"
        pin = {"version": _MANIFEST_VERSION, "params": params, "input": input_fingerprint}
        self.path = fs.join(checkpoint_dir, manifest_name)
        raw = fs.read_text(spark, self.path)
        m = json.loads(raw) if raw is not None else {}
        if all(m.get(k) == v for k, v in pin.items()):
            self.manifest = m
        else:
            self.manifest = {**pin, "done": [], "accounting": {}}

    def stage(self, name: str, build, cut: bool = True) -> tuple[DataFrame, list[StageMetric], bool]:
        """(table, accounting, resumed) of one stage. `build()` returns the
        stage's table and the StageMetric accounting its run recorded; a
        resumed stage returns the accounting stored by the run that
        produced it, marked resumed. cut=False: build() already returns a
        materialized table (candidate_pairs cuts its own output), so no
        second localCheckpoint is stacked on it."""
        if self.manifest is not None and name in self.manifest["done"]:
            acct = [
                StageMetric(**{**m, "extra": {**m["extra"], "resumed": True}})
                for m in self.manifest["accounting"].get(name, [])
            ]
            return self.spark.read.parquet(fs.join(self.dir, name)), acct, True
        out, acct = build()
        if self.manifest is None:
            return (out.localCheckpoint(eager=False) if cut else out), acct, False
        path = fs.join(self.dir, name)
        out.write.mode("overwrite").parquet(path)
        self.manifest["done"].append(name)
        self.manifest["accounting"][name] = [asdict(m) for m in acct]
        fs.mkdirs(self.spark, self.dir)
        fs.write_text(self.spark, self.path, json.dumps(self.manifest, indent=2))
        return self.spark.read.parquet(path), acct, False


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
        # Both settings build the same stage cuts: a lazy localCheckpoint
        # that the stage's first consumer materializes, or with a
        # checkpoint_dir a durable parquet write (eager by nature).
        # collect_metrics=True only adds one count job per built stage, so
        # StageMetric rows/seconds exist for every stage. collect_metrics=
        # False is the PRODUCTION shape: no count barriers and no extra full
        # scan of each stage's wide output (at 100 TB each one re-reads the
        # whole stage from the block store). Accounting that must never be
        # silent (dropped bands, gated-out pairs, the adaptive-gate decision)
        # is recorded in both. Outputs are identical (pinned in
        # tests/test_pipeline.py).
        self.collect_metrics = collect_metrics
        self.metrics: list[StageMetric] = []
        # aggregates piggy-backed on a stage's count job: e.g. prepare's
        # sum(n_shingles), so the adaptive-gate decision costs no extra scan
        # of the (wide) prepare output
        self.stage_aggs: dict[str, dict] = {}

    def _stage(
        self,
        ckpt: _StageCheckpoints,
        stage: str,
        build,
        cut: bool = True,
        count_aggs: dict | None = None,
    ) -> DataFrame:
        """Run one stage through the checkpoint control plane and record its
        metrics: a resumed marker, or (collect_metrics) its row count and
        wall, then the stage's accounting either way.

        count_aggs: extra named sum-combinable aggregates computed in the
        same job as the row count and kept in self.stage_aggs[stage]."""
        t0 = time.monotonic()
        out, acct, resumed = ckpt.stage(stage, build, cut)
        if resumed:
            self.metrics.append(StageMetric(stage, -1, 0.0, {"resumed": True}))
        elif self.collect_metrics:
            # ONE job materializes the (lazy) stage, counts it and computes
            # any piggy-backed aggregates
            aggs = {"rows": F.count("*"), **(count_aggs or {})}
            row = out.agg(*[e.alias(n) for n, e in aggs.items()]).collect()[0]
            self.stage_aggs[stage] = row.asDict()
            self.metrics.append(StageMetric(stage, int(row["rows"]), time.monotonic() - t0))
        self.metrics.extend(acct)
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

        ckpt = _StageCheckpoints(
            self.spark, self.checkpoint_dir, "manifest.json",
            {"config": cfg.to_json(), "id_col": self.id_col, "text_col": text_col},
            pages, self.id_col, input_fingerprint,
        )

        base_cols = [c for c in ("url",) if c in pages.columns]
        # spread_input: a small single-row-group input would run the shingle
        # kernel nearly serial (no-op on already-wide inputs, e.g. the bench's
        # checkpointed synth corpus)
        from nhse_probabilistic_linkage_spark.sources.tables import spread_input

        prepared = self._stage(
            ckpt,
            "prepare",
            lambda: (
                prepare_docs(
                    spread_input(pages.select(self.id_col, *base_cols, text_col)),
                    text_col=text_col,
                    k=cfg.shingle_k,
                )
                .withColumn("n_shingles", F.size("shingles"))
                .select(self.id_col, *base_cols, "shingles", "n_shingles"),
                [],
            ),
            # piggy-back the adaptive-gate statistic on the count job so the
            # gate decision below needs no extra scan of this wide table
            count_aggs={"sum_shingles": F.sum("n_shingles")},
        )

        signatures = self._stage(
            ckpt,
            "signatures",
            lambda: (
                with_minhash(prepared, num_perms=cfg.num_perms, seed=cfg.minhash_seed)
                .select(self.id_col, "minhash"),
                [],
            ),
        )

        def build_pairs():
            bands = band_keys(
                signatures, id_col=self.id_col, bands=cfg.bands, rows_per_band=cfg.rows_per_band
            )
            # the 32x band fanout stays a codegen expression feeding the
            # single band_key shuffle inside candidate_pairs — never persisted
            cands, dropped = candidate_pairs(bands, id_col=self.id_col, band_cap=cfg.band_cap,
                                             salt_threshold=cfg.salt_threshold,
                                             salt_groups=cfg.salt_groups)
            # cheap emptiness probe first — the full count job only runs when
            # a band actually got dropped (rare by construction)
            n_dropped = 0 if dropped.isEmpty() else dropped.count()
            if not n_dropped:
                return cands, []
            return cands, [StageMetric("pairs.dropped_bands", n_dropped, 0.0, {"band_cap": cfg.band_cap})]

        pairs = self._stage(ckpt, "pairs", build_pairs, cut=False)

        def build_verified():
            # MinHash-estimate gate (DedupConfig.verify_estimate_gate):
            # clearly-below pairs are rejected on the 128-long signatures and
            # never shuffle their shingle arrays; survivors get exact jaccard.
            # With the default None the decision is ADAPTIVE: one cheap
            # columnar agg over the prepare stage measures mean shingles/doc,
            # and the gate turns on only where the shingle arrays dwarf the
            # signature (real web pages) — short-doc corpora skip the extra
            # signature join that would cost more than it saves.
            acct = []
            gate = cfg.verify_estimate_gate
            if gate is None:
                stats = self.stage_aggs.get("prepare")
                if stats and stats.get("rows"):
                    # free: computed inside the prepare count job (same
                    # sum/count division as F.avg over a bigint column)
                    avg_sh = stats["sum_shingles"] / stats["rows"]
                else:
                    avg_sh = prepared.agg(F.avg("n_shingles")).collect()[0][0] or 0.0
                gate = avg_sh >= cfg.verify_gate_min_avg_shingles
                acct.append(StageMetric(
                    "verified.estimate_gate", int(gate), 0.0,
                    {"avg_shingles": round(float(avg_sh), 1), "auto": True},
                ))
            gate_metrics: dict = {}
            verified = verify_pairs(
                pairs,
                prepared.join(signatures.select(self.id_col, "minhash"), self.id_col) if gate else prepared,
                id_col=self.id_col,
                threshold=cfg.jaccard_threshold,
                minhash_col="minhash" if gate else None,
                estimate_band=cfg.verify_estimate_band,
                gate_metrics=gate_metrics if gate else None,
            )
            if gate_metrics:
                # never-silent accounting for the lossy estimate gate (same
                # policy as pairs.dropped_bands): the gated-out pair count is
                # in the metrics table, so the ~1e-4/pair recall cost is
                # observable
                acct.append(StageMetric(
                    "verified.gated_pairs", gate_metrics["pairs_gated_out"], 0.0,
                    {"pairs_in": gate_metrics["pairs_in"], "estimate_band": cfg.verify_estimate_band},
                ))
            return verified, acct

        verified = self._stage(ckpt, "verified", build_verified)

        clusters = self._stage(
            ckpt,
            "clusters",
            lambda: (
                assign_components(
                    prepared,
                    verified.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")),
                    id_col=self.id_col,
                    # CC frontiers ride the same durable checkpoint dir as the
                    # stages: executor loss mid-CC then costs one round, not
                    # the whole job (localCheckpoint frontiers are
                    # executor-local).
                    checkpoint_dir=fs.join(self.checkpoint_dir, "cc") if self.checkpoint_dir else None,
                ),
                [],
            ),
        )

        canonical = self._stage(
            ckpt,
            "canonical",
            lambda: (
                elect_canonical(
                    clusters, prepared.select(self.id_col, "n_shingles"),
                    id_col=self.id_col, prefer_col="n_shingles",
                ).select(self.id_col, "cluster_id", "canonical_id", "is_canonical"),
                [],
            ),
        )

        return {
            "prepared": prepared,
            "signatures": signatures,
            "pairs": pairs,
            "verified": verified,
            "clusters": clusters,
            "canonical": canonical,
        }

    def metrics_df(self) -> DataFrame:
        rows = [(m.stage, m.rows, m.seconds, json.dumps(m.extra)) for m in self.metrics]
        return self.spark.createDataFrame(rows, "stage string, rows long, seconds double, extra string")

    def write_metrics(self) -> None:
        if self.checkpoint_dir:
            self.metrics_df().write.mode("overwrite").parquet(
                fs.join(self.checkpoint_dir, "metrics")
            )

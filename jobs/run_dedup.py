"""spark-submit entry point: end-to-end near-duplicate detection + clustering.

The production deployment shape demanded by the north rule: the engine ships
as a --py-files zip (tools/make_pyfiles.py) and this driver runs on any
multi-executor cluster. Reference analog: run_pipeline.py orchestrating
parameterized notebooks (/root/reference/run_pipeline.py:59-84) — here one
argparse CLI instead of dbutils widgets JSON.

Usage:
  spark-submit --py-files /tmp/nhse_dedup_spark.zip jobs/run_dedup.py \
      --input  <parquet dir or table of pages (url, text[, html, warc_ts, lang])> \
      --output <dir for clusters/canonical/pairs/metrics parquet> \
      [--checkpoint-dir <dir>]      resumable per-stage checkpoints
      [--config-json '<DedupConfig json>']
      [--detectors minhash,substring]   any of: minhash, simhash, substring
      [--synth N]                    generate an N-doc synthetic corpus instead
                                     of --input (bench/smoke path)

Edges from every requested detector are unioned before connected components —
the detectors are interchangeable candidate generators behind one pair
schema (id_l, id_r).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.operators.dedup import (
    simhash_pairs,
    substring_dedup_pairs,
)
from nhse_probabilistic_linkage_spark.plans.pipeline import DedupPipeline


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="near-duplicate detection + clustering")
    p.add_argument("--input", help="parquet path of pages")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--config-json", default=None)
    p.add_argument("--detectors", default="minhash")
    p.add_argument("--synth", type=int, default=None, help="synthetic corpus size")
    p.add_argument("--synth-seed", type=int, default=42)
    p.add_argument(
        "--prefilter",
        action="store_true",
        help="URL-dedup + repetition gates before the detectors (drops accounted)",
    )
    p.add_argument(
        "--mode",
        choices=["union", "cascade"],
        default="union",
        help="union: every detector over the full corpus, edges unioned "
        "(evaluation shape). cascade: exact -> MinHash [-> embedding] tiers, "
        "each over the previous tier's survivors (deployment shape; "
        "--detectors is ignored)",
    )
    p.add_argument(
        "--embeddings",
        default=None,
        help="cascade mode: parquet of (doc_id, embedding) enabling the "
        "semantic tier; docs without a vector pass through it",
    )
    p.add_argument("--min-quality", type=float, default=None,
                   help="with --prefilter: drop docs under this quality score")
    p.add_argument(
        "--train-fs",
        default=None,
        metavar="COLS",
        help="union mode: also train Fellegi-Sunter m/u over the detector "
        "pairs and write fs_params parquet. Comma-separated comparison "
        "columns — page columns, or derived: host (from url), len_bucket "
        "(length(text)//256). u comes from random-pair sampling and stays "
        "fixed during EM (the reference's Splink training flow, "
        "training_dedupe.py:105-129)",
    )
    p.add_argument(
        "--fused",
        action="store_true",
        help="union mode only; ignored in cascade mode, which has one plan "
        "shape. Runs DedupPipeline(collect_metrics=False): no per-stage count "
        "jobs, so per-stage rows/walls are not recorded; outputs and the "
        "never-silent accounting (dropped bands, gated pairs) are the same.",
    )
    return p.parse_args(argv)


def main(argv=None) -> dict:
    args = parse_args(argv)
    if not args.input and not args.synth:
        raise SystemExit("one of --input / --synth is required")

    if args.train_fs and args.mode == "cascade":
        raise SystemExit("--train-fs is a union-mode option (cascade tiers don't emit a unified pair table)")

    spark = SparkSession.builder.appName("nhse-dedup-run").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = DedupConfig.from_json(args.config_json) if args.config_json else DedupConfig()
    detectors = [d.strip() for d in args.detectors.split(",") if d.strip()]
    if not detectors:
        raise SystemExit("at least one detector required (--detectors minhash[,simhash,substring])")
    unknown = set(detectors) - {"minhash", "simhash", "substring"}
    if unknown:
        raise SystemExit(f"unknown detectors: {sorted(unknown)}")

    if args.synth:
        from nhse_probabilistic_linkage_spark.sources.pages import synth_pages

        pages, _ = synth_pages(spark, args.synth, seed=args.synth_seed)
    else:
        pages = spark.read.parquet(args.input)

    t0 = time.monotonic()
    prefilter_metrics = None
    if args.prefilter:
        from nhse_probabilistic_linkage_spark.plans.prefilter import prefilter_pages

        pages, prefilter_metrics = prefilter_pages(
            pages, url_col="url" if "url" in pages.columns else None,
            min_quality=args.min_quality,
        )
    pages = pages.withColumn("doc_id", F.xxhash64("url")).localCheckpoint(eager=True)

    if args.mode == "cascade":
        from nhse_probabilistic_linkage_spark.plans.tiers import metrics_df, tiered_dedup

        emb = spark.read.parquet(args.embeddings) if args.embeddings else None
        # --checkpoint-dir makes the cascade resumable too: completed tiers'
        # drops tables are reused, the manifest pins config + input
        result = tiered_dedup(pages, cfg, embeddings=emb, checkpoint_dir=args.checkpoint_dir)
        os.makedirs(args.output, exist_ok=True)
        result["status"].write.mode("overwrite").parquet(os.path.join(args.output, "status"))
        result["survivors"].write.mode("overwrite").parquet(
            os.path.join(args.output, "survivors")
        )
        metrics_df(spark, result["metrics"]).write.mode("overwrite").parquet(
            os.path.join(args.output, "tier_metrics")
        )
        # never-silent drop accounting (dropped bands/buckets, gated pairs):
        # a production operator must always be able to see what candidate
        # generation discarded
        result["accounting"].write.mode("overwrite").parquet(
            os.path.join(args.output, "tier_accounting")
        )
        if prefilter_metrics is not None:
            prefilter_metrics.write.mode("overwrite").parquet(
                os.path.join(args.output, "prefilter_drops")
            )
        elapsed = time.monotonic() - t0
        n_docs = pages.count()
        summary = {
            "mode": "cascade",
            "docs": n_docs,
            "seconds": round(elapsed, 2),
            "docs_per_sec": round(n_docs / elapsed, 1),
            "tiers": {m.tier: {"in": m.n_in, "dropped": m.n_dropped, "out": m.n_out}
                      for m in result["metrics"]},
            "accounting": {
                r["metric"]: {"rows": int(r["rows"]), "total_n": int(r["total_n"])}
                for r in result["accounting"]
                .groupBy("metric")
                .agg(F.count("*").alias("rows"), F.sum("n").alias("total_n"))
                .collect()
            },
        }
        print("SUMMARY " + json.dumps(summary))
        return summary

    # minhash runs inside the (checkpointed, resumable) pipeline; the other
    # detectors contribute extra edges before clustering. The pipeline is
    # SKIPPED when minhash is not requested — its verify stage is the most
    # expensive in the job, and running it unrequested would also write a
    # misleading minhash pair table next to the selected detectors' output.
    pipe = None
    out = {}
    if "minhash" in detectors:
        pipe = DedupPipeline(spark, cfg, checkpoint_dir=args.checkpoint_dir,
                             collect_metrics=not args.fused)
        out = pipe.run(pages)

    detector_tables: dict[str, object] = {}
    extra_counts = {}
    if "minhash" in detectors:
        detector_tables["minhash"] = out["verified"].select("id_l", "id_r")
    if "simhash" in detectors:
        # eager checkpoint: the pair table feeds a count, the edge union AND
        # the agreement join — without the cut the simhash pipeline (band
        # join + hamming verify) would re-execute once per action
        sh = simhash_pairs(pages, cfg).select("id_l", "id_r").localCheckpoint(eager=True)
        detector_tables["simhash"] = sh
        extra_counts["simhash_pairs"] = sh.count()
    if "substring" in detectors:
        ss, ss_dropped = substring_dedup_pairs(pages, cfg)
        ss = ss.select("id_l", "id_r").localCheckpoint(eager=True)  # LCS is the densest stage — run it once
        detector_tables["substring"] = ss
        extra_counts["substring_pairs"] = ss.count()
        extra_counts["substring_dropped_bands"] = ss_dropped.count()

    edges = None
    for tbl in detector_tables.values():
        edges = tbl if edges is None else edges.unionByName(tbl)

    if set(detectors) == {"minhash"}:
        clusters = out["clusters"]
        canonical = out["canonical"]
    else:
        # (re-)cluster over the union of detector edges
        from nhse_probabilistic_linkage_spark.operators.best_match import elect_canonical
        from nhse_probabilistic_linkage_spark.operators.connected_components import (
            assign_components,
        )

        docs = out["prepared"] if pipe else pages.select("doc_id")
        clusters = assign_components(
            docs, edges.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst"))
        )
        prefer = (
            out["prepared"].select("doc_id", "n_shingles")
            if pipe
            else pages.select("doc_id", F.length("text").alias("n_shingles"))
        )
        canonical = elect_canonical(clusters, prefer, prefer_col="n_shingles").select(
            "doc_id", "cluster_id", "canonical_id", "is_canonical"
        )

    os.makedirs(args.output, exist_ok=True)
    fs_summary = None
    if args.train_fs:
        from nhse_probabilistic_linkage_spark.operators.fellegi_sunter import (
            average_m,
            estimate_mu,
            estimate_u_random_pairs,
            gamma_vectors,
            params_dataframe,
        )

        fs_cols = [c.strip() for c in args.train_fs.split(",") if c.strip()]
        attrs = pages
        if "host" in fs_cols and "host" not in attrs.columns:
            attrs = attrs.withColumn(
                "host", F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
            )
        if "len_bucket" in fs_cols and "len_bucket" not in attrs.columns:
            attrs = attrs.withColumn(
                "len_bucket", (F.length("text") / 256).cast("int")
            )
        missing = [c for c in fs_cols if c not in attrs.columns]
        if missing:
            raise SystemExit(f"--train-fs columns not available: {missing}")
        attrs = attrs.select("doc_id", *fs_cols)
        # the literal Splink training flow (training_dedupe.py:105-150):
        # u fixed from random pairs; one EM per blocking rule — here each
        # detector's pair table is the rule analog — then m averaged across
        # rules (utils/model_utils.py:35-103 analog via average_m)
        u = estimate_u_random_pairs(attrs, "doc_id", fs_cols, k_per_side=100)
        fix = [u[c] for c in fs_cols]
        per_rule_m: dict[str, dict[str, float]] = {}
        per_rule_lam: dict[str, float] = {}
        for det, tbl in detector_tables.items():
            pairs_det = tbl.select("id_l", "id_r")
            if pairs_det.isEmpty():
                continue  # a rule that produced no pairs trains nothing
            p = estimate_mu(gamma_vectors(pairs_det, attrs, "doc_id", fs_cols),
                            fs_cols, fix_u=fix)
            rows = p.collect()
            per_rule_m[det] = {r["column"]: r["m"] for r in rows}
            per_rule_lam[det] = rows[0]["lambda_prior"]
        if not per_rule_m:
            raise SystemExit("--train-fs: no detector produced any pairs to train on")
        m_avg = average_m(list(per_rule_m.values()))
        lam_avg = sum(per_rule_lam.values()) / len(per_rule_lam)
        fs_params = params_dataframe(
            spark, fs_cols, [m_avg[c] for c in fs_cols], fix, lam_avg
        )
        fs_params.write.mode("overwrite").parquet(os.path.join(args.output, "fs_params"))
        fs_summary = {
            "params": {
                r["column"]: {"m": round(r["m"], 6), "u": round(r["u"], 6),
                              "agree_weight": round(r["agree_weight"], 4)}
                for r in fs_params.collect()
            },
            "m_per_rule": {
                det: {c: round(v, 6) for c, v in ms.items()}
                for det, ms in per_rule_m.items()
            },
        }
    if len(detector_tables) > 1:
        # per-pair detector-agreement vectors (reference's agreement-pattern
        # analog, utils/eval_utils.py:207-215)
        from nhse_probabilistic_linkage_spark.operators.agreement import agreement_vectors

        agreement_vectors(detector_tables).write.mode("overwrite").parquet(
            os.path.join(args.output, "agreement")
        )
    clusters.write.mode("overwrite").parquet(os.path.join(args.output, "clusters"))
    # pairs output = union of the SELECTED detectors, tagged by detector
    pairs_out = None
    for name, tbl in detector_tables.items():
        tagged = tbl.withColumn("detector", F.lit(name))
        pairs_out = tagged if pairs_out is None else pairs_out.unionByName(tagged)
    pairs_out.write.mode("overwrite").parquet(os.path.join(args.output, "pairs"))
    canonical.write.mode("overwrite").parquet(os.path.join(args.output, "canonical"))
    if pipe:
        pipe.metrics_df().write.mode("overwrite").parquet(os.path.join(args.output, "metrics"))
    if prefilter_metrics is not None:
        prefilter_metrics.write.mode("overwrite").parquet(
            os.path.join(args.output, "prefilter_drops")
        )

    elapsed = time.monotonic() - t0
    n_docs = pages.count()
    summary = {
        "docs": n_docs,
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "verified_pairs": out["verified"].count() if pipe else edges.count(),
        "clusters": clusters.select("cluster_id").distinct().count(),
        "detectors": detectors,
        **extra_counts,
        "stage_seconds": {m.stage: round(m.seconds, 2) for m in pipe.metrics} if pipe else {},
    }
    if prefilter_metrics is not None:
        summary["prefilter_drops"] = {
            r["reason"]: r["n_dropped"] for r in prefilter_metrics.collect()
        }
    if fs_summary is not None:
        summary["fs_params"] = fs_summary
    print("SUMMARY " + json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()

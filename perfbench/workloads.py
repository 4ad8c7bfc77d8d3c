"""The three workloads and their output checks.

batch_short    short pages, two planted mega-clusters: candidate generation
               takes the routed window/persist/salted-join path and CC sees
               mega-components; the kernels stay light.
batch_long     web-length pages: shingle/MinHash kernels and the adaptive
               estimate-gated verify do most of the work.
stream_append  short pages fed to IncrementalDedup.process_batch as
               micro-batches with re-sent URLs and cross-batch near-dups;
               periodic compact(), recluster() at the end.

Untimed work (corpus generation and loading, output checks, state-dir
walks) never sits inside a timed region.
"""

from __future__ import annotations

import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
from nhse_probabilistic_linkage_spark.functions.text import prepare_docs
from nhse_probabilistic_linkage_spark.operators.best_match import elect_canonical
from nhse_probabilistic_linkage_spark.operators.connected_components import assign_components
from nhse_probabilistic_linkage_spark.operators.lsh import band_keys, candidate_pairs
from nhse_probabilistic_linkage_spark.operators.verify import verify_pairs
from nhse_probabilistic_linkage_spark.plans.evaluate import (
    expected_pairs_at_threshold,
    pair_recall_report,
)
from nhse_probabilistic_linkage_spark.plans.pipeline import DedupPipeline
from nhse_probabilistic_linkage_spark.sources.tables import spread_input
from nhse_probabilistic_linkage_spark.streaming.incremental import IncrementalDedup

from perfbench import corpus as gen
from perfbench.harness import Tracer

CFG = DedupConfig()
MIN_RECALL = 0.99


@dataclass(frozen=True)
class Spec:
    name: str
    kind: str  # "batch" or "stream"
    make: Callable[[int], gen.Corpus]
    timed_ops: int  # timed pipeline runs (or streams) per run, after the warm-up
    batches: int  # micro-batches fed to IncrementalDedup (stream pass)
    compact_every: int
    resend_frac: float = 0.05  # share of a batch re-sending earlier URLs
    n_buckets: int = 4  # IncrementalDedup state buckets, sized to local mode


SPECS = {
    "batch_short": Spec(
        "batch_short", "batch",
        lambda seed: gen.short_pages(seed, 8_000, mega=2, mega_size=(580, 580)),
        timed_ops=1, batches=3, compact_every=2,
    ),
    "batch_long": Spec(
        "batch_long", "batch", lambda seed: gen.long_pages(seed, 480),
        timed_ops=2, batches=3, compact_every=2,
    ),
    "stream_append": Spec(
        "stream_append", "stream", lambda seed: gen.short_pages(seed, 3_300, mega=0),
        timed_ops=1, batches=9, compact_every=4,
    ),
}


# -- inputs --------------------------------------------------------------------
@dataclass
class Inputs:
    corpus: gen.Corpus
    pages: DataFrame  # doc_id, url, text, planted, root
    feed: list[DataFrame]  # stream pass: (url, text) per micro-batch
    feed_docs: list[int]  # docs per micro-batch, re-sends included

    @property
    def labels(self) -> DataFrame:
        """The oracle partition: (doc_id, root)."""
        return self.pages.select("doc_id", "root")


def load(spark: SparkSession, spec: Spec, seed: int, cores: int, with_feed: bool) -> Inputs:
    """Generate the seeded corpus and checkpoint it (and, `with_feed`, the
    micro-batch feed) inside Spark, so timed regions start from
    materialized inputs."""
    c = spec.make(seed)
    urls = [f"https://bench.example.com/{seed}/{i:07d}" for i in range(c.n_docs)]
    pdf = pd.DataFrame({"url": urls, "text": c.texts, "planted": c.planted, "root": c.oracle_root})
    pages = (
        spark.createDataFrame(pdf)
        .withColumn("doc_id", F.xxhash64("url"))
        .repartition(2 * cores, "doc_id")
        .localCheckpoint(eager=True)
    )
    # micro-batches: a seeded shuffle spreads planted clusters over batches
    # (cross-batch near-dups); batches after the first re-send a few URLs
    rng = np.random.default_rng([seed, 0xFEED])
    parts = np.array_split(rng.permutation(c.n_docs), spec.batches) if with_feed else []
    feed, feed_docs, seen = [], [], np.empty(0, dtype=np.int64)
    for part in parts:
        n_resend = int(round(spec.resend_frac * len(part))) if len(seen) else 0
        idx = np.concatenate([part, rng.choice(seen, size=n_resend, replace=False)])
        seen = np.concatenate([seen, part])
        sub = pdf.iloc[idx][["url", "text"]]
        feed.append(spark.createDataFrame(sub).repartition(cores).localCheckpoint(eager=True))
        feed_docs.append(len(idx))
    return Inputs(c, pages, feed, feed_docs)


# -- batch: the fused production pipeline ---------------------------------------
def pipeline_op(spark: SparkSession, pages: DataFrame) -> tuple[float, dict, int]:
    """One DedupPipeline run, timed up to materializing `canonical`."""
    t0 = time.perf_counter()
    out = DedupPipeline(spark, CFG, collect_metrics=False).run(pages.select("doc_id", "url", "text"))
    n_clusters = out["canonical"].where("is_canonical").count()
    return time.perf_counter() - t0, out, n_clusters


def recluster_op(prepared: DataFrame, verified: DataFrame) -> tuple[float, DataFrame]:
    """Re-derive every doc's cluster from the full pair table: the call
    IncrementalDedup.recluster() makes over its stored history."""
    t0 = time.perf_counter()
    clusters = assign_components(
        prepared.select("doc_id"), verified.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst"))
    ).localCheckpoint(eager=True)
    return time.perf_counter() - t0, clusters


def recall_report(pages: DataFrame, docs: DataFrame, candidates: DataFrame, verified: DataFrame) -> dict:
    """Planted-truth pair recall at the dedup threshold (plans.evaluate)."""
    truth = pages.select("doc_id", F.col("planted").alias("cluster_id"))
    expected = expected_pairs_at_threshold(truth, docs, CFG.jaccard_threshold)
    return pair_recall_report(expected, candidates, verified).collect()[0].asDict()


def same_partition(reference: DataFrame, clusters: DataFrame) -> bool:
    """clusters (doc_id, cluster_id) covers every doc of reference
    (doc_id, root) and induces exactly its partition."""
    j = reference.join(clusters.select("doc_id", "cluster_id"), "doc_id")
    r = j.agg(
        F.count("*").alias("n"),
        F.countDistinct("root").alias("roots"),
        F.countDistinct("cluster_id").alias("clusters"),
        F.countDistinct("root", "cluster_id").alias("both"),
    ).collect()[0]
    return r["n"] == reference.count() and r["roots"] == r["clusters"] == r["both"]


# -- stream ---------------------------------------------------------------------
def walk(path: Path) -> tuple[int, int]:
    """(bytes, files) under a state dir, checksum files included."""
    total = files = 0
    for p in path.rglob("*"):
        if p.is_file():
            total += p.stat().st_size
            files += 1
    return total, files


def compacted_bytes(path: Path) -> int:
    return sum(p.stat().st_size for d in path.rglob(f"batch_id={IncrementalDedup.COMPACTED_BATCH_ID}")
               for p in d.rglob("*") if p.is_file())


@dataclass
class StreamResult:
    batch_s: list[float] = field(default_factory=list)
    batch_docs: list[int] = field(default_factory=list)
    compact_s: list[float] = field(default_factory=list)
    recluster_s: float = 0.0
    bytes_written: int = 0
    compact_bytes_rewritten: int = 0
    state_bytes: int = 0
    state_files: int = 0
    clusters: DataFrame | None = None
    inc: IncrementalDedup | None = None


def stream_op(spark: SparkSession, inp: Inputs, spec: Spec, state: Path,
              tracer: Tracer | None = None, warmup: bool = True) -> StreamResult:
    """Feed the micro-batches in order. With `warmup`, the first batch
    primes the JIT and its wall time is left out of batch_s."""
    shutil.rmtree(state, ignore_errors=True)
    inc = IncrementalDedup(spark, "file:" + str(state), CFG, n_buckets=spec.n_buckets)
    res = StreamResult(inc=inc)

    def timed(name: str, fn):
        if tracer is None:
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out
        with tracer.span(name) as sp:
            out = fn()
        return sp.end - sp.start, out

    for b, batch in enumerate(inp.feed):
        before = walk(state)[0] if state.exists() else 0
        dt, _ = timed("incremental.process_batch", lambda: inc.process_batch(batch, b))
        res.bytes_written += walk(state)[0] - before
        if b > 0 or not warmup:
            res.batch_s.append(dt)
            res.batch_docs.append(inp.feed_docs[b])
        if (b + 1) % spec.compact_every == 0 and b + 1 < len(inp.feed):
            dt, _ = timed("incremental.compact", inc.compact)
            res.compact_s.append(dt)
            res.compact_bytes_rewritten += compacted_bytes(state)
    res.recluster_s, res.clusters = timed(
        "incremental.recluster", lambda: inc.recluster().localCheckpoint(eager=True)
    )
    res.state_bytes, res.state_files = walk(state)
    return res


# -- traced layered pass ----------------------------------------------------------
def layered_pass(tracer: Tracer, pages: DataFrame) -> dict:
    """The pipeline's stage sequence, one layer at a time, each call
    followed by a materialization so its span covers that layer's work.
    Same public functions and arguments as DedupPipeline.run."""
    m: dict = {}
    with tracer.span("layered"):
        with tracer.span("text"):
            prepared = (
                prepare_docs(spread_input(pages.select("doc_id", "url", "text")), k=CFG.shingle_k)
                .withColumn("n_shingles", F.size("shingles"))
                .select("doc_id", "url", "shingles", "n_shingles")
                .localCheckpoint(eager=True)
            )
        with tracer.span("minhash"):
            sigs = (
                with_minhash(prepared, num_perms=CFG.num_perms, seed=CFG.minhash_seed)
                .select("doc_id", "minhash")
                .localCheckpoint(eager=True)
            )
        with tracer.span("lsh"):
            bands = band_keys(sigs, bands=CFG.bands, rows_per_band=CFG.rows_per_band)
            pairs, dropped = candidate_pairs(
                bands, band_cap=CFG.band_cap, salt_threshold=CFG.salt_threshold,
                salt_groups=CFG.salt_groups,
            )
        stats = prepared.agg(F.sum("n_shingles").alias("sh"), F.count("*").alias("n")).collect()[0]
        gate = stats["sh"] / stats["n"] >= CFG.verify_gate_min_avg_shingles
        gate_metrics: dict = {}
        with tracer.span("verify"):
            docs = prepared.join(sigs, "doc_id") if gate else prepared
            verified = verify_pairs(
                pairs, docs, threshold=CFG.jaccard_threshold,
                minhash_col="minhash" if gate else None,
                estimate_band=CFG.verify_estimate_band,
                gate_metrics=gate_metrics if gate else None,
            ).localCheckpoint(eager=True)
        with tracer.span("cc"):
            clusters = assign_components(
                prepared, verified.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst"))
            ).localCheckpoint(eager=True)
        with tracer.span("best_match"):
            canonical = elect_canonical(
                clusters, prepared.select("doc_id", "n_shingles"), prefer_col="n_shingles"
            ).localCheckpoint(eager=True)
    # layer output counts, outside every span
    band_sizes = bands.groupBy("band_key").count()
    m["text.shingles"] = int(stats["sh"])
    m["minhash.docs"] = sigs.count()
    m["lsh.band_rows"] = bands.count()
    m["lsh.hot_bands"] = band_sizes.where(F.col("count") > CFG.salt_threshold).count()
    m["lsh.candidate_pairs"] = pairs.count()
    m["lsh.dropped_bands"] = dropped.count()
    m["verify.pairs_in"] = m["lsh.candidate_pairs"]
    m["verify.pairs_out"] = verified.count()
    m["verify.gated_pairs"] = int(gate_metrics.get("pairs_gated_out", 0))
    m["verify.yield"] = m["verify.pairs_out"] / max(1, m["verify.pairs_in"])
    sizes = clusters.groupBy("cluster_id").count()
    m["cc.edges"] = m["verify.pairs_out"]
    m["cc.components"] = sizes.count()
    m["cc.max_component"] = sizes.agg(F.max("count")).collect()[0][0]
    m["clusters"] = canonical.where("is_canonical").count()
    m["partition_ok"] = same_partition(pages.select("doc_id", "root"), clusters)
    return m


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has >= 10 samples beyond it:
    (value, percentile, n). With fewer than 11 samples no such percentile
    exists and the maximum is reported with percentile 100."""
    s = sorted(xs)
    if len(s) < 11:
        return s[-1], 100.0, len(s)
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s), len(s)

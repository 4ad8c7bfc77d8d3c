"""Durable-FS plumbing: Hadoop-FS control files, scheme-prefixed checkpoint
dirs, idempotent streaming replays, and reliable CC frontier checkpoints.

These are the cluster-deployment guarantees: everything here must hold when
the state/checkpoint dirs live on HDFS/S3 rather than the driver's disk, so
every probe is exercised through a scheme-prefixed (file:) URI — the same
code path a remote scheme takes through the Hadoop FS client.
"""

import os

import pytest
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.operators.connected_components import connected_components
from nhse_probabilistic_linkage_spark.plans.pipeline import DedupPipeline
from nhse_probabilistic_linkage_spark.sources import fs
from nhse_probabilistic_linkage_spark.sources.pages import synth_pages
from nhse_probabilistic_linkage_spark.streaming import IncrementalDedup

CFG = DedupConfig(jaccard_threshold=0.7)


def test_fs_text_roundtrip_plain_and_uri(spark, tmp_path):
    for prefix in ("", "file:"):
        p = prefix + str(tmp_path / f"ctl{len(prefix)}" / "manifest.json")
        assert fs.read_text(spark, p) is None
        assert not fs.exists(spark, p)
        fs.write_text(spark, p, '{"done": ["prepare"]}')
        assert fs.exists(spark, p)
        assert fs.read_text(spark, p) == '{"done": ["prepare"]}'
        fs.write_text(spark, p, "v2")  # atomic overwrite
        assert fs.read_text(spark, p) == "v2"
        fs.touch(spark, p + ".marker")
        assert fs.exists(spark, p + ".marker")
        assert fs.delete(spark, p)
        assert not fs.exists(spark, p)


def test_pipeline_resume_with_uri_checkpoint_dir(spark, tmp_path):
    """Resume must work when the checkpoint dir is a scheme-prefixed URI —
    the shape it has on a real cluster (hdfs://..., s3a://...)."""
    pages, _ = synth_pages(spark, 120, seed=5, partitions=2)
    ckpt = "file:" + str(tmp_path / "uri_ckpt")
    out1 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt).run(pages)
    c1 = sorted((r.doc_id, r.cluster_id) for r in out1["clusters"].collect())

    p2 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt)
    out2 = p2.run(pages)
    assert all(m.extra.get("resumed") for m in p2.metrics)
    assert sorted((r.doc_id, r.cluster_id) for r in out2["clusters"].collect()) == c1


def test_streaming_same_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a committed batch (same
    batch_id) must be a no-op, and replaying after a simulated partial
    failure must converge to exactly-once state."""
    pages, _ = synth_pages(spark, 200, seed=11, partitions=2)
    pages = pages.withColumn("doc_id", F.xxhash64("url")).select("doc_id", "text")
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, state, CFG)

    inc.process_batch(pages, 0)
    pairs0 = sorted((r.id_l, r.id_r) for r in inc.verified_pairs().collect())
    sigs0 = inc.stored_sigs().count()
    assert fs.exists(spark, fs.join(state, "commits", "batch-0"))

    # replay of the committed batch: marker short-circuits, nothing changes
    inc.process_batch(pages, 0)
    assert sorted((r.id_l, r.id_r) for r in inc.verified_pairs().collect()) == pairs0
    assert inc.stored_sigs().count() == sigs0

    # simulated crash: batch 1 wrote sigs but died before bands/pairs/marker
    batch1 = pages.limit(50)
    inc._write_batch(
        batch1.select("doc_id", F.array().cast("array<bigint>").alias("shingles"),
                      F.pmod("doc_id", F.lit(inc.n_buckets)).cast("int").alias("sig_bucket")),
        inc.sigs_path, 1, ["batch_id", "sig_bucket"],
    )
    assert not fs.exists(spark, fs.join(state, "commits", "batch-1"))
    inc.process_batch(batch1, 1)  # replay must not treat partial sigs as seen
    assert fs.exists(spark, fs.join(state, "commits", "batch-1"))
    # the partial (empty-shingle) rows were overwritten by real signatures
    b1 = inc.stored_sigs().where("batch_id = 1")
    assert b1.where(F.size("shingles") == 0).count() == 0
    # batch-0 docs re-sent in batch 1 are already seen -> only genuinely-new
    # docs stored once each, across both tables
    total = inc.stored_sigs().count()
    assert total == inc.stored_sigs().select("doc_id").distinct().count()


def test_substring_durable_checkpoint_matches_local(spark, tmp_path):
    from nhse_probabilistic_linkage_spark.operators.substring import substring_pairs

    span = "the exact shared boilerplate sentence that keeps reappearing verbatim everywhere"
    rows = [
        (1, "intro words " + span + " trailing content one"),
        (2, span + " other tail follows here"),
        (3, "completely unrelated page about different things entirely with no overlap"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    local = sorted(tuple(r) for r in substring_pairs(df, min_span=64)[0].collect())
    durable = sorted(
        tuple(r)
        for r in substring_pairs(
            df, min_span=64, checkpoint_dir="file:" + str(tmp_path / "ss")
        )[0].collect()
    )
    assert local == durable and len(local) == 1
    assert (tmp_path / "ss" / "substr_docs").exists()
    assert (tmp_path / "ss" / "substr_cands").exists()


def test_cc_reliable_checkpoint_matches_local(spark, tmp_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)], "src long, dst long"
    )
    local = sorted(tuple(r) for r in connected_components(edges).collect())
    durable = sorted(
        tuple(r)
        for r in connected_components(
            edges, checkpoint_dir="file:" + str(tmp_path / "cc")
        ).collect()
    )
    assert local == durable
    # frontier files are bounded to the two alternating slots
    slots = [d for d in os.listdir(tmp_path / "cc") if d.startswith("cc_round_")]
    assert set(slots) <= {"cc_round_0", "cc_round_1"}

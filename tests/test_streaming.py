"""Incremental (streaming) dedup: cross-batch pair completeness vs the batch
detector, idempotent re-delivery, and a real readStream smoke run.

The key property: streaming the corpus in K micro-batches finds EXACTLY the
pairs the batch detector finds on the full corpus — new x new within each
batch plus new x old against the store, never old x old twice.
"""

import os

import pytest
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.operators.dedup import minhash_lsh_pairs
from nhse_probabilistic_linkage_spark.sources.pages import synth_pages
from nhse_probabilistic_linkage_spark.streaming import IncrementalDedup

CFG = DedupConfig(jaccard_threshold=0.7)


def _pairset(df):
    return {(r["id_l"], r["id_r"]) for r in df.select("id_l", "id_r").collect()}


@pytest.fixture(scope="module")
def corpus(spark):
    pages, _ = synth_pages(spark, 400, seed=17, partitions=4)
    return pages.withColumn("doc_id", F.xxhash64("url")).select("doc_id", "url", "text").cache()


def test_incremental_matches_batch(spark, corpus, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("state"))
    inc = IncrementalDedup(spark, state, CFG)

    b1 = corpus.where("pmod(doc_id, 3) = 0")
    b2 = corpus.where("pmod(doc_id, 3) = 1")
    b3 = corpus.where("pmod(doc_id, 3) = 2")
    for i, b in enumerate([b1, b2, b3]):
        inc.process_batch(b, i)

    batch_pairs, _ = minhash_lsh_pairs(corpus, CFG)
    assert _pairset(inc.verified_pairs()) == _pairset(batch_pairs)

    # the stored values, not just the pair ids: match_key (first colliding
    # band) and exact jaccard equal the batch detector's
    def rows(df):
        return sorted(
            map(
                tuple,
                df.select(
                    "id_l", "id_r", F.col("match_key").cast("int"), "jaccard"
                ).collect(),
            )
        )

    assert rows(inc.verified_pairs()) == rows(batch_pairs)

    # cluster ASSIGNMENTS over the streamed pairs equal the batch pipeline's
    # (same CC over the same edge set -> identical membership)
    from nhse_probabilistic_linkage_spark.operators.connected_components import (
        assign_components,
    )
    streamed = {(r["doc_id"], r["cluster_id"]) for r in inc.recluster().collect()}
    batch = {
        (r["doc_id"], r["cluster_id"])
        for r in assign_components(
            corpus.select("doc_id"),
            batch_pairs.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")),
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) == corpus.count()


def test_redelivery_is_idempotent(spark, corpus, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("state"))
    inc = IncrementalDedup(spark, state, CFG)
    half = corpus.limit(200)
    inc.process_batch(half, 0)
    n_pairs = inc.verified_pairs().count()
    n_sigs = inc.stored_sigs().count()
    inc.process_batch(half, 1)  # redelivered batch: all docs already seen
    assert inc.verified_pairs().count() == n_pairs
    assert inc.stored_sigs().count() == n_sigs


def _flatten_to_legacy(spark, state):
    """Rewrite a modern store to the legacy layout: no partition dirs, no
    batch_id/bucket columns, no commit marker."""
    import shutil

    for sub, drop in (
        ("sigs", ["batch_id", "sig_bucket"]),
        ("bands", ["batch_id", "bucket"]),
        ("pairs", ["batch_id"]),
    ):
        path = os.path.join(state, sub)
        tmp = os.path.join(state, f"_legacy_{sub}")
        spark.read.parquet(path).drop(*drop).write.parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
    os.remove(os.path.join(state, "commits", "batch-0"))


def test_pre_batch_id_store_is_refused_untouched(spark, corpus, tmp_path_factory):
    """A store from before the batch_id/bucket partition layout also predates
    the VERSION marker. It must be refused loudly — its hash provenance is
    unknown, and writing batch_id=N/ dirs next to root-level data files would
    corrupt partition discovery — and left exactly as it was: no marker
    written, no partition dir created."""
    state = str(tmp_path_factory.mktemp("state"))
    inc = IncrementalDedup(spark, state, CFG)
    few = corpus.limit(50)
    inc.process_batch(few, 0)
    _flatten_to_legacy(spark, state)
    os.remove(os.path.join(state, "VERSION"))

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, n), state)
            for d, dirs, files in os.walk(state)
            for n in dirs + files
        )

    before = listing()
    fresh = IncrementalDedup(spark, state, CFG)
    with pytest.raises(RuntimeError, match="VERSION marker"):
        fresh.process_batch(few, 1)
    after = listing()
    assert after == before
    assert "VERSION" not in after
    assert not any("batch_id=" in p for p in after)


def test_readstream_available_now(spark, corpus, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("src"))
    state = str(tmp_path_factory.mktemp("state"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    # two source files -> two micro-batches with maxFilesPerTrigger=1
    corpus.where("pmod(doc_id, 2) = 0").coalesce(1).write.parquet(os.path.join(src, "f1"))
    corpus.where("pmod(doc_id, 2) = 1").coalesce(1).write.parquet(os.path.join(src, "f2"))

    stream = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    inc = IncrementalDedup(spark, state, CFG)
    q = inc.start(stream, checkpoint_dir=ckpt)
    q.awaitTermination(300)

    batch_pairs, _ = minhash_lsh_pairs(corpus, CFG)
    assert _pairset(inc.verified_pairs()) == _pairset(batch_pairs)


def test_state_version_marker_enforced(spark, corpus, tmp_path_factory):
    """The store pins the shingle-hash representation version on first
    write; a store from a different representation must be refused loudly —
    mixed hash spaces never collide, so processing on would silently
    re-admit every previously-seen doc."""
    state = str(tmp_path_factory.mktemp("state"))
    inc = IncrementalDedup(spark, state, CFG)
    inc.process_batch(corpus.limit(50), 0)
    marker = os.path.join(state, "VERSION")
    assert os.path.exists(marker)

    # store written under a different hash version -> refuse
    with open(marker, "w") as f:
        f.write("layout=1 shingle_hash=1 normalize=1")
    stale = IncrementalDedup(spark, state, CFG)
    with pytest.raises(RuntimeError, match="version"):
        stale.process_batch(corpus.limit(50), 1)

    # store with data but NO marker (pre-versioning release) -> refuse
    os.remove(marker)
    unmarked = IncrementalDedup(spark, state, CFG)
    with pytest.raises(RuntimeError, match="VERSION"):
        unmarked.process_batch(corpus.limit(50), 1)


def test_compaction_preserves_state_and_exactly_once(spark, corpus, tmp_path_factory, monkeypatch):
    """10 micro-batches -> compact() -> the stored signatures and verified
    pairs are row-identical, every table holds ONE batch partition, replays
    of compacted batches still short-circuit (their commit markers are
    kept), and a compaction that crashes after writing its READY marker is
    rolled forward by the next process_batch."""
    state = str(tmp_path_factory.mktemp("state"))
    inc = IncrementalDedup(spark, state, CFG)
    for i in range(10):
        inc.process_batch(corpus.where(f"pmod(doc_id, 10) = {i}"), i)

    def snap(df, drop=("batch_id",)):
        return sorted(map(tuple, df.drop(*drop).collect()))

    sigs_before = snap(inc.stored_sigs())
    pairs_before = snap(inc.verified_pairs())
    n_expected = corpus.count()
    assert len(sigs_before) == n_expected

    consumed = inc.compact()
    assert consumed and max(len(v) for v in consumed.values()) >= 2
    for path in (inc.sigs_path, inc.bands_path, inc.pairs_path):
        assert inc._batch_ids(path) == [inc.COMPACTED_BATCH_ID]
    assert snap(inc.stored_sigs()) == sigs_before
    assert snap(inc.verified_pairs()) == pairs_before

    # replay of a compacted batch: commit marker survives, store must not grow
    inc.process_batch(corpus.where("pmod(doc_id, 10) = 3"), 3)
    assert snap(inc.stored_sigs()) == sigs_before

    # a second compact with one generation is a no-op
    assert inc.compact() == {}

    # crash simulation: a batch of genuinely NEW docs creates a second
    # generation, then a compaction dies right after writing its READY
    # marker (the swap never applied)
    extra_pages, _ = synth_pages(spark, 100, seed=99, partitions=2)
    extra = extra_pages.withColumn("doc_id", F.xxhash64("url")).select(
        "doc_id", "url", "text"
    )
    inc.process_batch(extra, 11)
    sigs_with_extra = snap(inc.stored_sigs())
    pairs_with_extra = snap(inc.verified_pairs())
    assert len(sigs_with_extra) == n_expected + 100
    assert len(inc._batch_ids(inc.sigs_path)) == 2
    with monkeypatch.context() as m:
        m.setattr(IncrementalDedup, "_finish_pending_compaction", lambda self: None)
        assert inc.compact()  # leaves marker + tmp + the old generations
    assert os.path.exists(os.path.join(state, "compaction.READY"))
    # the next batch on a fresh handle rolls the swap forward before any read
    fresh = IncrementalDedup(spark, state, CFG)
    fresh.process_batch(corpus.where("pmod(doc_id, 10) = 5"), 12)  # all seen
    assert not os.path.exists(os.path.join(state, "compaction.READY"))
    for path in (fresh.sigs_path, fresh.bands_path, fresh.pairs_path):
        assert fresh._batch_ids(path) == [fresh.COMPACTED_BATCH_ID]
    assert snap(fresh.stored_sigs()) == sigs_with_extra
    assert snap(fresh.verified_pairs()) == pairs_with_extra


def test_old_layout_store_is_continued_and_trimmed(spark, corpus, tmp_path_factory):
    """A store whose batch 0 an older release wrote (sigs with a `minhash`
    column, bands with `band_id`) is continued as is: later batches and a
    compact() over the mixed files give the same pair rows and clusters as a
    fresh run, and every file the engine writes holds only the columns it
    reads back."""
    import pyarrow.parquet as pq

    from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
    from nhse_probabilistic_linkage_spark.functions.text import prepare_docs
    from nhse_probabilistic_linkage_spark.operators.lsh import band_keys
    from nhse_probabilistic_linkage_spark.sources import fs

    batches = [corpus.where(f"pmod(doc_id, 3) = {i}") for i in range(3)]
    fresh = IncrementalDedup(spark, str(tmp_path_factory.mktemp("state")), CFG)
    for i, b in enumerate(batches):
        fresh.process_batch(b, i)

    state = str(tmp_path_factory.mktemp("state"))
    inc = IncrementalDedup(spark, state, CFG)
    inc._check_layout()  # the marker an older release pinned on first write
    docs = with_minhash(
        prepare_docs(batches[0], k=CFG.shingle_k).select("doc_id", "shingles"),
        num_perms=CFG.num_perms, seed=CFG.minhash_seed,
    )
    bands = band_keys(docs, bands=CFG.bands, rows_per_band=CFG.rows_per_band)
    pairs0, _ = minhash_lsh_pairs(batches[0], CFG)
    inc._write_batch(
        pairs0.select("id_l", "id_r", F.col("match_key").cast("int"), "jaccard"),
        inc.pairs_path, 0, ["batch_id"],
    )
    inc._write_batch(
        docs.select("doc_id", "shingles", "minhash",
                    F.pmod("doc_id", F.lit(inc.n_buckets)).cast("int").alias("sig_bucket")),
        inc.sigs_path, 0, ["batch_id", "sig_bucket"],
    )
    inc._write_batch(
        bands.select("doc_id", "band_id", "band_key",
                     F.pmod("band_key", F.lit(inc.n_buckets)).cast("int").alias("bucket")),
        inc.bands_path, 0, ["batch_id", "bucket"],
    )
    fs.touch(spark, inc._commit_marker(0))

    def file_columns(path):
        return {
            tuple(pq.read_schema(os.path.join(d, n)).names)
            for d, _, files in os.walk(path)
            for n in files
            if n.endswith(".parquet")
        }

    assert file_columns(inc.sigs_path) == {("doc_id", "shingles", "minhash")}
    assert file_columns(inc.bands_path) == {("doc_id", "band_id", "band_key")}

    inc.process_batch(batches[1], 1)
    inc.compact()
    inc.process_batch(batches[2], 2)

    def rows(df):
        return sorted(map(tuple, df.select("id_l", "id_r", "match_key", "jaccard").collect()))

    assert rows(inc.verified_pairs()) == rows(fresh.verified_pairs())
    assert sorted(map(tuple, inc.recluster().collect())) == sorted(
        map(tuple, fresh.recluster().collect())
    )
    # compact() rewrote batch 0 with the trimmed columns; batch 2 was
    # written by process_batch. Partition columns live in the dir names.
    assert file_columns(inc.sigs_path) == {("doc_id", "shingles")}
    assert file_columns(inc.bands_path) == {("doc_id", "band_key")}


def test_incremental_recluster_matches_full(spark, corpus, tmp_path_factory):
    """Folding each batch's new edges into the previous assignment
    (recluster_incremental) yields EXACTLY the assignment of a full CC over
    the whole history (recluster) — at every step of a 10-batch stream."""
    state = str(tmp_path_factory.mktemp("state"))
    inc = IncrementalDedup(spark, state, CFG)
    prev = spark.createDataFrame([], "doc_id long, cluster_id long")
    for i in range(10):
        inc.process_batch(corpus.where(f"pmod(doc_id, 10) = {i}"), i)
        prev = inc.recluster_incremental(prev, since_batch=i - 1).localCheckpoint(
            eager=True
        )
    full = inc.recluster()
    got = sorted(map(tuple, prev.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want and len(got) == corpus.count()
    # idempotence: folding an empty tail changes nothing
    again = inc.recluster_incremental(prev, since_batch=9)
    assert sorted(map(tuple, again.collect())) == want

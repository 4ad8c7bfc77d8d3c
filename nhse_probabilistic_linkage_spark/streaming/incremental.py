"""Incremental near-duplicate detection over a page stream.

The reference is pure batch (SURVEY.md §2.11: no readStream/writeStream
anywhere in the repo); its incremental story is "re-run the notebooks".
This module adds the streaming capability a crawl pipeline actually needs:
new pages arrive continuously, and each micro-batch must be deduplicated
against BOTH itself and every page seen so far — without ever re-scoring
old-vs-old.

Design (Structured Streaming + foreachBatch, the idiomatic shape for
stream-static interaction that needs multi-step batch logic):

  stream of pages ──▶ foreachBatch:
      1. drop docs whose doc_id (xxhash64(url)) is already in the store
      2. shingle + MinHash the genuinely-new docs (same kernels as batch)
      3. band-join:  new x new   (candidate_pairs — caps/salting included)
                   + new x old   (join against the persisted band store)
      4. one exact-Jaccard verify over both candidate sets (shingles of old
         docs come from the store)
      5. write verified pairs + new docs' shingles + new band keys, then
         commit

The store keeps only what later batches read: `shingles` per doc (the
verify side of new x old pairs) and `band_key` per band row (the new x old
join key). Neither the MinHash signature nor the band index is stored: the
band keys already derive from the signature, band_key hashes the band index
in, and a new x old pair's match_key comes from the new side's band.

The store is three parquet tables under `state_dir`, each partitioned by
batch_id; bands additionally by bucket = pmod(band_key, n_buckets) and sigs
by sig_bucket = pmod(doc_id, n_buckets), so BOTH new-vs-old joins prune
their scan of the history to the partitions the current batch touches (the
candidate join by band bucket, the shingle-verify join by the id buckets of
the old docs that actually appear in a candidate pair) — at 10^12-doc scale
the difference between scanning the whole store every micro-batch and a few
percent of it. All probing goes through spark.read / the Hadoop FS API,
never os.* — the state dir may live on HDFS/S3/DBFS.

Exactly-once semantics under foreachBatch's at-least-once contract:
  - every write carries the batch_id and uses DYNAMIC partition overwrite,
    so a replayed batch replaces exactly its own partitions (partial output
    from a crashed attempt included) instead of appending duplicates;
  - reads inside the batch exclude rows with the current batch_id, so a
    crashed attempt's partial output can never mask its own replay;
  - a commit marker (commits/batch-N, written last via the Hadoop FS API)
    short-circuits replays of fully-committed batches.

Streaming a corpus finds the same verified pairs as the batch detector
(minhash_lsh_pairs) over all of it while every band stays within
config.band_cap: the new x old band join applies no cap, and the dropped-band
table of the new x new candidate_pairs call is not kept.

Clusters are NOT maintained incrementally — connected components is a cheap
global pass over the (append-only) verified-pairs table; call recluster()
when cluster assignments are needed (same policy as the batch pipeline:
clustering is a downstream consumer of the pair table).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
from nhse_probabilistic_linkage_spark.functions.text import prepare_docs
from nhse_probabilistic_linkage_spark.operators.connected_components import assign_components
from nhse_probabilistic_linkage_spark.operators.lsh import band_keys, candidate_pairs
from nhse_probabilistic_linkage_spark.operators.verify import verify_pairs
from nhse_probabilistic_linkage_spark.sources import fs

PAIRS_SCHEMA = "id_l long, id_r long, match_key int, jaccard double, batch_id long"
# Every read passes these schemas, so a column written by an older release
# (sigs.minhash, bands.band_id) is ignored rather than refused: the VERSION
# marker pins the hash representation, not the column set.
SIGS_SCHEMA = "doc_id long, shingles array<bigint>, sig_bucket int, batch_id long"
BANDS_SCHEMA = "doc_id long, band_key long, bucket int, batch_id long"


class IncrementalDedup:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        config: DedupConfig | None = None,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.config = config or DedupConfig()
        self.n_buckets = n_buckets
        self.sigs_path = fs.join(state_dir, "sigs")
        self.bands_path = fs.join(state_dir, "bands")
        self.pairs_path = fs.join(state_dir, "pairs")
        self._layout_checked = False

    # -- store layout and version ---------------------------------------------
    def _tables(self):
        return (
            (self.pairs_path, PAIRS_SCHEMA, ["batch_id"]),
            (self.sigs_path, SIGS_SCHEMA, ["batch_id", "sig_bucket"]),
            (self.bands_path, BANDS_SCHEMA, ["batch_id", "bucket"]),
        )

    def _version_marker(self) -> str:
        return fs.join(self.state_dir, "VERSION")

    def _expected_version(self) -> str:
        from nhse_probabilistic_linkage_spark.functions.text import (
            NORMALIZE_VERSION,
            SHINGLE_HASH_VERSION,
        )

        return f"layout=1 shingle_hash={SHINGLE_HASH_VERSION} normalize={NORMALIZE_VERSION}"

    def _check_layout(self) -> None:
        """Fail loudly on incompatible state instead of corrupting it: a store
        whose persisted shingle/band values were computed under a
        DIFFERENT hash representation would simply never collide with new
        batches — every previously-seen doc silently re-admitted — so a
        version marker is pinned on first write and enforced after. The
        marker is only ever written into a store with no data yet, so a store
        holding data but no marker predates it (and possibly the batch_id
        partition layout too): it is refused untouched."""
        if self._layout_checked:
            return
        marker = fs.read_text(self.spark, self._version_marker())
        expected = self._expected_version()
        if marker is not None and marker.strip() != expected:
            raise RuntimeError(
                f"streaming state version mismatch at {self.state_dir}: "
                f"store='{marker.strip()}' engine='{expected}'. Stored "
                "signatures were computed under a different hash "
                "representation and cannot be mixed — rebuild the state dir."
            )
        if marker is None:
            if any(fs.list_names(self.spark, path) for path, _, _ in self._tables()):
                raise RuntimeError(
                    f"streaming state at {self.state_dir} has no VERSION marker: "
                    "it was written by an engine release with a different "
                    f"shingle-hash representation (current: '{expected}'). "
                    "Stored signatures cannot be compared with new ones — "
                    "rebuild the state dir (re-run the stream from scratch) "
                    "or keep processing with the old release."
                )
            fs.write_text(self.spark, self._version_marker(), expected)
        self._layout_checked = True

    # -- state compaction -------------------------------------------------------
    # The store grows one batch_id=N partition set per micro-batch forever; a
    # year of 5-minute batches is ~100k partition directories per table, and
    # partition DISCOVERY (listing) starts to dominate the bucket-pruned
    # reads. Compaction rewrites all committed batch partitions into one
    # batch_id=COMPACTED generation, preserving the bucket sub-partitioning
    # (the scan pruning) and the row set exactly. Reference analog: the
    # temp-table GC discipline between Splink runs
    # (/root/reference/utils/model_utils.py:258-273) — housekeeping that
    # keeps the state surface bounded, never a semantic change.
    #
    # Exactly-once under crashes, same roll-forward shape as the batch
    # commit markers: the compacted copy is fully written to a tmp dir
    # first, then a READY marker (listing exactly which batch ids it
    # replaces) makes the swap a roll-forward obligation — process_batch
    # completes a half-applied swap before touching the store. Every swap
    # step is idempotent (deletes of missing dirs no-op, the rename is
    # skipped once applied), and the new generation always contains the
    # prior one's rows, so no crash window can lose or duplicate state.
    COMPACTED_BATCH_ID = -2  # never a real foreachBatch id (those are >= 0)

    def _compaction_marker(self) -> str:
        return fs.join(self.state_dir, "compaction.READY")

    def _compaction_tmp(self) -> str:
        return fs.join(self.state_dir, "compaction.tmp")

    def _batch_ids(self, path: str) -> list[int]:
        return sorted(
            int(n.split("=", 1)[1])
            for n in fs.list_names(self.spark, path)
            if n.startswith("batch_id=")
        )

    def compact(self) -> dict[str, list[int]]:
        """Fold every existing batch partition (committed batches + any prior
        compacted generation) into one batch_id=COMPACTED_BATCH_ID partition
        set per table. Returns {table_name: [consumed batch ids]} (empty when
        there was nothing to fold). Call between micro-batches — foreachBatch
        serializes batches, so after query.stop() or from the same driver
        thread is safe. Commit markers of consumed batches are kept: a
        late replay of a compacted batch must still short-circuit."""
        import json

        self._check_layout()
        self._finish_pending_compaction()
        tmp_root = self._compaction_tmp()
        fs.delete(self.spark, tmp_root, recursive=True)
        consumed: dict[str, list[int]] = {}
        for path, schema, parts in self._tables():
            ids = self._batch_ids(path)
            if len(ids) <= 1:
                continue  # nothing to fold for this table
            tname = path.rsplit("/", 1)[-1]
            df = self.spark.read.schema(schema).parquet(path)
            (
                df.withColumn("batch_id", F.lit(self.COMPACTED_BATCH_ID).cast("long"))
                .write.mode("overwrite")
                .partitionBy(*parts)
                .parquet(fs.join(tmp_root, tname))
            )
            consumed[tname] = ids
        if not consumed:
            fs.delete(self.spark, tmp_root, recursive=True)
            return consumed
        # marker last: before it, a crash leaves only ignorable tmp output;
        # after it, the swap is a roll-forward obligation
        fs.write_text(
            self.spark,
            self._compaction_marker(),
            json.dumps({"batch_id": self.COMPACTED_BATCH_ID, "consumed": consumed}),
        )
        self._finish_pending_compaction()
        return consumed

    def _finish_pending_compaction(self) -> None:
        """Roll forward a compaction whose READY marker exists: delete the
        consumed batch partitions and move the compacted generation into
        place. Idempotent — safe to call on every batch."""
        import json

        raw = fs.read_text(self.spark, self._compaction_marker())
        if raw is None:
            return
        info = json.loads(raw)
        cbid = int(info["batch_id"])
        tmp_root = self._compaction_tmp()
        for path, _, _ in self._tables():
            tname = path.rsplit("/", 1)[-1]
            for bid in info["consumed"].get(tname, []):
                if bid != cbid:
                    fs.delete(self.spark, fs.join(path, f"batch_id={bid}"), recursive=True)
            src = fs.join(tmp_root, tname, f"batch_id={cbid}")
            if fs.exists(self.spark, src):
                dst = fs.join(path, f"batch_id={cbid}")
                # the new generation strictly contains the prior one's rows
                # (the rewrite read them), so replacing is lossless even if
                # a crash lands between the delete and the rename
                fs.delete(self.spark, dst, recursive=True)
                if not fs.rename(self.spark, src, dst):
                    raise RuntimeError(
                        f"compaction rename failed: compacted data preserved "
                        f"at {src}, marker kept — retry will roll forward"
                    )
        fs.delete(self.spark, self._compaction_marker())
        fs.delete(self.spark, tmp_root, recursive=True)

    # -- store access ---------------------------------------------------------
    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """FS-agnostic probe: attempt the read and fall back to an empty
        DataFrame when the path does not exist yet. (os.path/os.listdir would
        only see the driver's local disk and read a remote store as
        permanently empty — silently re-inserting every batch.)"""
        try:
            return self.spark.read.schema(schema).parquet(path)
        except AnalysisException:
            return self.spark.createDataFrame([], schema)

    def stored_sigs(self) -> DataFrame:
        return self._read_or_empty(self.sigs_path, SIGS_SCHEMA)

    def stored_bands(self) -> DataFrame:
        return self._read_or_empty(self.bands_path, BANDS_SCHEMA)

    def verified_pairs(self) -> DataFrame:
        return self._read_or_empty(self.pairs_path, PAIRS_SCHEMA)

    def _commit_marker(self, batch_id: int) -> str:
        return fs.join(self.state_dir, "commits", f"batch-{batch_id}")

    def _write_batch(self, df: DataFrame, path: str, batch_id: int, partition_cols: list[str]) -> None:
        """Idempotent per-batch write: dynamic partition overwrite replaces
        only this batch's partitions, so a replay after a mid-batch crash
        cleans up its own partial output instead of duplicating it."""
        (
            df.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    def _scrub_batch(self, batch_id: int) -> None:
        """Remove any partial output a crashed attempt of this batch left
        behind. Dynamic partition overwrite already replaces partitions the
        replay re-writes, but a replay that takes an early exit (e.g. every
        doc turns out to be already seen) writes nothing — the leftovers
        must still disappear or they'd be stranded junk rows forever."""
        for path, _, _ in self._tables():
            fs.delete(self.spark, fs.join(path, f"batch_id={batch_id}"), recursive=True)

    # -- the micro-batch body ---------------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        cfg = self.config
        self._check_layout()
        # a compaction that crashed mid-swap must finish before any state
        # read — half-swapped partitions would under-count seen docs
        self._finish_pending_compaction()
        if fs.exists(self.spark, self._commit_marker(batch_id)):
            return  # at-least-once replay of an already-committed batch
        self._scrub_batch(batch_id)
        if "doc_id" not in batch.columns:
            batch = batch.withColumn("doc_id", F.xxhash64("url"))

        # exclude the current batch_id from all state reads: a crashed prior
        # attempt of THIS batch may have left partial rows that the dynamic
        # overwrite below is about to replace — they must not count as "seen".
        # batch_id is a partition column of every table, so it is never NULL.
        not_this_batch = F.col("batch_id") != F.lit(batch_id)
        old_sigs = self.stored_sigs().where(not_this_batch)
        new = (
            batch.select("doc_id", "text")
            .dropDuplicates(["doc_id"])  # same url twice within a batch
            .join(old_sigs.select("doc_id"), "doc_id", "left_anti")  # already seen
        )

        docs = prepare_docs(new, text_col="text", k=cfg.shingle_k).select("doc_id", "shingles")
        docs = with_minhash(docs, num_perms=cfg.num_perms, seed=cfg.minhash_seed)
        # cut lineage (reused 3x below). The cut is LAZY: the 0-row early-exit
        # count is its first consumer, so one job materializes and counts
        docs = docs.localCheckpoint(eager=False)
        if docs.count() == 0:
            fs.touch(self.spark, self._commit_marker(batch_id))
            return

        nb = band_keys(docs, bands=cfg.bands, rows_per_band=cfg.rows_per_band)
        nb = nb.withColumn("bucket", F.pmod("band_key", F.lit(self.n_buckets)).cast("int"))
        nb = nb.localCheckpoint(eager=True)

        # new x new — the same cap/salt machinery as the batch pipeline
        nn_cands, _ = candidate_pairs(
            nb, band_cap=cfg.band_cap, salt_threshold=cfg.salt_threshold,
            salt_groups=cfg.salt_groups,
        )

        # new x old — bucket-pruned scan of the band history
        touched = [r["bucket"] for r in nb.select("bucket").distinct().collect()]
        ob = self.stored_bands().where(F.col("bucket").isin(touched) & not_this_batch)
        no_cands = (
            nb.select("band_key", "band_id", F.col("doc_id").alias("id_new"))
            .join(ob.select("band_key", F.col("doc_id").alias("id_old")), "band_key")
            .select(
                F.least("id_new", "id_old").alias("id_l"),
                F.greatest("id_new", "id_old").alias("id_r"),
                "band_id",
            )
            .groupBy("id_l", "id_r")
            .agg(F.min("band_id").alias("match_key"))
            # cut once: the pair table feeds the participant-bucket probe AND
            # the verify join
            .localCheckpoint(eager=True)
        )
        # one verify over new x new AND new x old, so the doc side is
        # exchanged once: shingles live in the batch for new ids, in the
        # store for old ids. The store scan is pruned to the id buckets that
        # actually appear in a new x old pair — without this, every
        # micro-batch would re-read the ENTIRE signature history just to
        # verify a handful of cross-batch pairs (the semi-join inside
        # verify_pairs reduces the shuffle, not the scan).
        touched_sig = [
            r["b"]
            for r in no_cands.select(
                F.explode(F.array("id_l", "id_r")).alias("pid")
            )
            .select(F.pmod("pid", F.lit(self.n_buckets)).cast("int").alias("b"))
            .distinct()
            .collect()
        ]
        old_sh = (
            self.stored_sigs()
            .where(F.col("sig_bucket").isin(touched_sig) & not_this_batch)
            .select("doc_id", "shingles")
        )
        all_sh = docs.select("doc_id", "shingles").unionByName(old_sh)
        out = verify_pairs(
            nn_cands.unionByName(no_cands), all_sh, threshold=cfg.jaccard_threshold
        ).select("id_l", "id_r", F.col("match_key").cast("int").alias("match_key"), "jaccard")
        self._write_batch(out, self.pairs_path, batch_id, ["batch_id"])
        self._write_batch(
            docs.select(
                "doc_id",
                "shingles",
                F.pmod("doc_id", F.lit(self.n_buckets)).cast("int").alias("sig_bucket"),
            ),
            self.sigs_path,
            batch_id,
            ["batch_id", "sig_bucket"],
        )
        self._write_batch(
            nb.select("doc_id", "band_key", "bucket"),
            self.bands_path,
            batch_id,
            ["batch_id", "bucket"],
        )
        # marker last: anything before a marker is replay-overwritten, anything
        # after it is skipped wholesale — no state can be half-committed
        fs.touch(self.spark, self._commit_marker(batch_id))

    # -- wiring ----------------------------------------------------------------
    def start(self, stream: DataFrame, checkpoint_dir: str, trigger_available_now: bool = True):
        """Attach to a streaming DataFrame of pages and run until the source
        is drained (availableNow) or indefinitely."""
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def recluster(self) -> DataFrame:
        """Global cluster assignment over all docs seen so far (full CC over
        the whole verified-pair history — O(history) per call)."""
        return assign_components(
            self.stored_sigs().select("doc_id"),
            self.verified_pairs().select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")),
        )

    def recluster_incremental(self, prev: DataFrame, since_batch: int) -> DataFrame:
        """Fold only the edges of batches AFTER `since_batch` into a previous
        assignment (see operators.connected_components.
        incremental_assign_components): per-call CC cost is O(new edges),
        not O(full history) — output identical to recluster() (test-pinned
        over a 10-batch stream). Caller tracks the last folded batch id.
        Ordering with compact(): compaction rewrites every stored batch to
        generation -2, so fold all outstanding batches BEFORE compacting (or
        re-seed with a full recluster() after) — edges folded into -2 are
        invisible to a later `> since_batch` filter by design, not lost from
        state."""
        from nhse_probabilistic_linkage_spark.operators.connected_components import (
            incremental_assign_components,
        )

        new_edges = (
            self.verified_pairs()
            .where(F.col("batch_id") > F.lit(since_batch))
            .select(F.col("id_l").alias("src"), F.col("id_r").alias("dst"))
        )
        return incremental_assign_components(
            prev, self.stored_sigs().select("doc_id"), new_edges
        )

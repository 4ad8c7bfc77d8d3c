"""End-to-end pipeline tests on the planted synthetic corpus: recall >= 0.99
vs expected pairs at the config threshold, candidate-miss accounting,
checkpoint/resume, and corpus determinism across partitionings."""

import shutil

import pytest
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.plans.evaluate import (
    candidate_count_histogram,
    expected_pairs_at_threshold,
    pair_recall_report,
    threshold_confusion,
)
from nhse_probabilistic_linkage_spark.plans.pipeline import DedupPipeline
from nhse_probabilistic_linkage_spark.sources.pages import synth_pages

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus(spark):
    pages, truth = synth_pages(spark, N_DOCS, seed=7, partitions=4)
    return pages.localCheckpoint(eager=True), truth.localCheckpoint(eager=True)


def test_corpus_deterministic_across_partitionings(spark):
    a, _ = synth_pages(spark, 100, seed=3, partitions=1)
    b, _ = synth_pages(spark, 100, seed=3, partitions=13)
    rows_a = sorted((r.url, r.text, r.lang, r.warc_ts, bytes(r.html)) for r in a.collect())
    rows_b = sorted((r.url, r.text, r.lang, r.warc_ts, bytes(r.html)) for r in b.collect())
    assert rows_a == rows_b


def test_corpus_has_planted_duplicates(spark, corpus):
    _, truth = corpus
    sizes = truth.groupBy("cluster_id").count().where("count > 1")
    assert sizes.count() > 10


def test_pipeline_recall_and_miss_accounting(spark, corpus):
    pages, truth = corpus
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg)
    out = pipe.run(pages)

    docs = out["prepared"]
    id_truth = truth.join(
        pages.select("url", F.xxhash64("url").alias("doc_id")), "url"
    ).select("doc_id", "cluster_id")

    expected = expected_pairs_at_threshold(id_truth, docs, cfg.jaccard_threshold)
    report = pair_recall_report(expected, out["pairs"], out["verified"]).collect()[0]
    assert report["expected_pairs"] > 50
    assert report["recall"] >= 0.99, report.asDict()
    assert report["band_misses"] + report["verify_misses"] <= 0.01 * report["expected_pairs"]

    # verified pairs that aren't within a planted cluster should be rare
    # (random-vocab singleton texts almost never reach jaccard 0.7)
    tp = id_truth.alias("l").join(id_truth.alias("r"), F.col("l.cluster_id") == F.col("r.cluster_id"))
    true_pairs = tp.select(
        F.col("l.doc_id").alias("id_l"), F.col("r.doc_id").alias("id_r")
    ).where("id_l < id_r")
    false_hits = out["verified"].join(true_pairs, ["id_l", "id_r"], "left_anti").count()
    assert false_hits <= max(2, 0.02 * report["verified_hits"])


def test_pipeline_clusters_respect_truth(spark, corpus):
    pages, truth = corpus
    cfg = DedupConfig()
    out = DedupPipeline(spark, cfg).run(pages)
    id_truth = truth.join(
        pages.select("url", F.xxhash64("url").alias("doc_id")), "url"
    ).select("doc_id", "cluster_id")
    # docs our engine clusters together must share a planted cluster whenever
    # the pair's true jaccard clears the threshold: check engine clusters
    # never merge two different planted clusters (precision at cluster level).
    joined = out["clusters"].withColumnRenamed("cluster_id", "engine_cluster").join(id_truth, "doc_id")
    merged = (
        joined.groupBy("engine_cluster")
        .agg(F.countDistinct("cluster_id").alias("n_truth"))
        .where("n_truth > 1")
        .count()
    )
    assert merged == 0


def test_candidate_histogram_covers_all_docs(spark, corpus):
    pages, _ = corpus
    out = DedupPipeline(spark, DedupConfig()).run(pages)
    hist = candidate_count_histogram(out["prepared"], out["pairs"])
    assert hist.agg(F.sum("n_docs")).collect()[0][0] == N_DOCS


def test_threshold_confusion_single_pass(spark, corpus):
    pages, truth = corpus
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg)
    out = pipe.run(pages)
    docs = out["prepared"]
    id_truth = truth.join(
        pages.select("url", F.xxhash64("url").alias("doc_id")), "url"
    ).select("doc_id", "cluster_id")
    expected = expected_pairs_at_threshold(id_truth, docs, cfg.jaccard_threshold)
    sweep = threshold_confusion(out["verified"], expected, [0.7, 0.8, 0.9])
    rows = {r.threshold: r for r in sweep.collect()}
    assert rows[0.7].recall >= 0.99
    # higher threshold can only shrink predicted-positive set
    assert rows[0.9].tp <= rows[0.7].tp


def test_pipeline_checkpoint_resume(spark, corpus, tmp_path):
    pages, _ = corpus
    ckpt = str(tmp_path / "ckpt")
    cfg = DedupConfig()
    p1 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    out1 = p1.run(pages)
    clusters1 = sorted((r.doc_id, r.cluster_id) for r in out1["clusters"].collect())

    # resume: a fresh pipeline over the same checkpoint dir recomputes nothing
    p2 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    out2 = p2.run(pages)
    assert all(m.extra.get("resumed") for m in p2.metrics if m.stage in
               ("prepare", "signatures", "pairs", "verified", "clusters", "canonical"))
    clusters2 = sorted((r.doc_id, r.cluster_id) for r in out2["clusters"].collect())
    assert clusters1 == clusters2

    # kill-and-resume: drop a late stage; earlier stages still skip
    shutil.rmtree(ckpt + "/clusters")
    manifest_resumed = [s for s in p2.metrics if s.stage == "signatures"]
    assert manifest_resumed
    import json
    with open(ckpt + "/manifest.json") as f:
        m = json.load(f)
    m["done"] = [s for s in m["done"] if s not in ("clusters", "canonical")]
    with open(ckpt + "/manifest.json", "w") as f:
        json.dump(m, f)
    p3 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    out3 = p3.run(pages)
    resumed = {s.stage for s in p3.metrics if s.extra.get("resumed")}
    assert {"prepare", "signatures", "pairs", "verified"} <= resumed
    clusters3 = sorted((r.doc_id, r.cluster_id) for r in out3["clusters"].collect())
    assert clusters3 == clusters1

    # the text column is pinned too: shingling another column resumes nothing
    p4 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    p4.run(pages.withColumn("body", F.col("text")), text_col="body")
    assert not any(m.extra.get("resumed") for m in p4.metrics)


def test_verify_estimate_gate_preserves_pairs(spark, corpus):
    """The MinHash-estimate pre-gate must not change the verified output:
    survivors get EXACT jaccard, and the 0.15 decision band puts a true
    >=threshold pair below the gate only with ~1e-4 probability per pair —
    zero on this corpus. Identical (pair, score) sets, gate on vs off."""
    from nhse_probabilistic_linkage_spark.operators.dedup import minhash_lsh_pairs

    pages, _ = corpus
    docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")
    base, _ = minhash_lsh_pairs(docs, DedupConfig())
    gated, _ = minhash_lsh_pairs(docs, DedupConfig(verify_estimate_gate=True))
    rows_base = sorted((r.id_l, r.id_r, round(r.jaccard, 9)) for r in base.collect())
    rows_gated = sorted((r.id_l, r.id_r, round(r.jaccard, 9)) for r in gated.collect())
    assert rows_base == rows_gated and len(rows_base) > 0


def test_verify_gate_auto_decision(spark, corpus):
    """Default config decides the gate adaptively: the synth corpus's short
    docs (mean ~76 shingles << 256) must keep it OFF, the decision must be
    recorded in the metrics, and forcing it ON must not change clusters."""
    pages, _ = corpus
    p_auto = DedupPipeline(spark, DedupConfig())
    out_auto = p_auto.run(pages)
    gate_rows = [m for m in p_auto.metrics if m.stage == "verified.estimate_gate"]
    assert len(gate_rows) == 1 and gate_rows[0].rows == 0
    assert 0 < gate_rows[0].extra["avg_shingles"] < 256

    p_on = DedupPipeline(spark, DedupConfig(verify_estimate_gate=True))
    out_on = p_on.run(pages)
    a = sorted((r.doc_id, r.cluster_id) for r in out_auto["clusters"].collect())
    b = sorted((r.doc_id, r.cluster_id) for r in out_on["clusters"].collect())
    assert a == b
    # the lossy gate is never silent: whenever it runs, the gated-out pair
    # count is a recorded StageMetric (ADVICE r3: match the band-cap policy)
    gated = [m for m in p_on.metrics if m.stage == "verified.gated_pairs"]
    assert len(gated) == 1
    assert gated[0].rows >= 0
    # pairs_in must equal the pairs stage's recorded rows — the accounting
    # covers every candidate, none slip past the gate uncounted
    pairs_rows = next(m.rows for m in p_on.metrics if m.stage == "pairs")
    assert gated[0].extra["pairs_in"] == pairs_rows


def test_pairs_identical_across_parallelism(spark, corpus):
    """North-rule determinism: the verified pair set (and scores) must be
    identical whatever the input partitioning — the same property the
    two-parallelism scaling bench relies on (local[N] and local[4N] must
    produce the same answer)."""
    from nhse_probabilistic_linkage_spark.operators.dedup import minhash_lsh_pairs

    pages, _ = corpus
    pages = pages.select(F.xxhash64("url").alias("doc_id"), "text")
    cfg = DedupConfig()
    a, _ = minhash_lsh_pairs(pages.repartition(1), cfg)
    b, _ = minhash_lsh_pairs(pages.repartition(13), cfg)
    rows_a = sorted((r.id_l, r.id_r, round(r.jaccard, 9)) for r in a.collect())
    rows_b = sorted((r.id_l, r.id_r, round(r.jaccard, 9)) for r in b.collect())
    assert rows_a == rows_b and len(rows_a) > 0


def test_extracted_text_matches_planted_text(spark, corpus):
    """Per-row invariant: extraction from html is byte-identical to the
    corpus-planted text for every url."""
    from nhse_probabilistic_linkage_spark.sources.pages import extract_text

    pages, _ = corpus
    ext = extract_text(pages)
    mismatches = ext.where(F.col("extracted_text") != F.col("text")).count()
    assert mismatches == 0


def test_metrics_table_rows_per_stage(spark, corpus, tmp_path):
    """North-rule: write_metrics writes one metrics row per stage whose rows
    equal that stage's count(); a resumed run writes all-resumed rows."""
    import json

    pages, _ = corpus
    ckpt = str(tmp_path / "metrics_ckpt")
    pipe = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckpt)
    out = pipe.run(pages)
    pipe.write_metrics()

    table = spark.read.parquet(f"{ckpt}/metrics").collect()
    stage_rows = [r for r in table if r["stage"] in STAGES_EXPECTED]
    assert sorted(r["stage"] for r in stage_rows) == sorted(STAGES_EXPECTED)
    for r in stage_rows:
        key = "prepared" if r["stage"] == "prepare" else r["stage"]
        assert r["rows"] == out[key].count(), r["stage"]

    pipe2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ckpt)
    pipe2.run(pages)
    pipe2.write_metrics()
    resumed = spark.read.parquet(f"{ckpt}/metrics").collect()
    assert set(STAGES_EXPECTED) <= {r["stage"] for r in resumed}
    assert all(json.loads(r["extra"]).get("resumed") for r in resumed)


def test_resume_builds_nothing_it_reuses(spark, corpus, tmp_path, monkeypatch):
    """A stage the manifest lists as done is read back and never built: with
    candidate_pairs and assign_components patched to raise, a full resume
    returns the same clusters/canonical; with clusters/canonical dropped
    from the manifest only assign_components runs, once. The accounting the
    producing run recorded (dropped bands, gated pairs) is reported again,
    marked resumed."""
    import dataclasses
    import json

    from nhse_probabilistic_linkage_spark.plans import pipeline as pl

    pages, _ = corpus
    cfg = DedupConfig(band_cap=2, verify_estimate_gate=True)
    ckpt = str(tmp_path / "ckpt")
    p1 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    out1 = p1.run(pages)

    def rows(out):
        return [sorted(map(tuple, out[k].collect())) for k in ("clusters", "canonical")]

    want = rows(out1)
    acct_stages = ("pairs.dropped_bands", "verified.gated_pairs")
    fresh = {m.stage: m for m in p1.metrics if m.stage in acct_stages}
    assert set(fresh) == set(acct_stages)
    assert fresh["pairs.dropped_bands"].rows > 0

    def built(*args, **kwargs):
        raise AssertionError("a resumed stage was built")

    real_cc = pl.assign_components
    monkeypatch.setattr(pl, "candidate_pairs", built)
    monkeypatch.setattr(pl, "assign_components", built)
    p2 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    assert rows(p2.run(pages)) == want
    for stage, m in fresh.items():
        again = [x for x in p2.metrics if x.stage == stage]
        assert again == [dataclasses.replace(m, extra={**m.extra, "resumed": True})]

    manifest = tmp_path / "ckpt" / "manifest.json"
    m = json.loads(manifest.read_text())
    m["done"] = [s for s in m["done"] if s not in ("clusters", "canonical")]
    manifest.write_text(json.dumps(m))
    calls = []
    monkeypatch.setattr(
        pl, "assign_components", lambda *a, **k: calls.append(1) or real_cc(*a, **k)
    )
    p3 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    assert rows(p3.run(pages)) == want
    assert len(calls) == 1


def test_fused_pipeline_identical_output(spark, corpus):
    """collect_metrics=False (production shape: no per-stage count jobs)
    must produce bit-identical canonical assignments to
    the metered shape, while still recording the never-silent accounting
    (the adaptive-gate decision) and none of the per-stage row metrics."""
    pages, _ = corpus
    metered = DedupPipeline(spark, DedupConfig())
    a = metered.run(pages)
    fused = DedupPipeline(spark, DedupConfig(), collect_metrics=False)
    b = fused.run(pages)

    rows_a = sorted(map(tuple, a["canonical"].collect()))
    rows_b = sorted(map(tuple, b["canonical"].collect()))
    assert rows_a == rows_b

    stages = {m.stage for m in fused.metrics}
    assert "verified.estimate_gate" in stages  # accounting still present
    assert not stages & set(STAGES_EXPECTED), stages  # no per-stage metrics
    # the metered run recorded every stage
    assert set(STAGES_EXPECTED) <= {m.stage for m in metered.metrics}


STAGES_EXPECTED = ("prepare", "signatures", "pairs", "verified", "clusters", "canonical")

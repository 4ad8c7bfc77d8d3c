"""Decontamination and stratified quota cap."""

import pytest
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.functions.sampling import stratified_cap
from nhse_probabilistic_linkage_spark.operators.decontaminate import (
    contamination_hits,
    decontaminate,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "a completely unrelated document about spark shuffle partitions and joins"),
        # contains the benchmark's exact 5-gram run
        (3, "prefix words then the quick brown fox jumps over and trailing text"),
        (4, "another clean document with nothing shared at all in any window"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench_set(spark):
    return spark.createDataFrame(
        [(100, "the quick brown fox jumps over everything")],
        "bench_id long, text string",
    )


def test_contamination_hits_finds_overlap(spark, corpus, bench_set):
    hits = {r["doc_id"]: r for r in contamination_hits(corpus, bench_set).collect()}
    assert 1 in hits and 3 in hits  # both contain "the quick brown fox jumps"
    assert 2 not in hits and 4 not in hits
    assert hits[1]["n_hits"] >= 1
    assert 0 < hits[1]["hit_ratio"] <= 1


def test_decontaminate_drops_only_contaminated(spark, corpus, bench_set):
    kept = sorted(r["doc_id"] for r in decontaminate(corpus, bench_set).collect())
    assert kept == [2, 4]
    # a min_hits above the overlap keeps everything
    kept_all = decontaminate(corpus, bench_set, min_hits=10_000).count()
    assert kept_all == 4


def test_decontaminate_empty_benchmark_keeps_all(spark, corpus):
    empty = corpus.sparkSession.createDataFrame([], "bench_id long, text string")
    assert decontaminate(corpus, empty).count() == corpus.count()


def test_stratified_cap_quota_and_determinism(spark):
    rows = [(i, f"s{i % 3}", float(i % 7)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    capped = stratified_cap(df, "source", quota=5, order_col="score", key_col="doc_id")
    per = {r["source"]: r["n"] for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == {"s0": 5, "s1": 5, "s2": 5}
    # top-quota by score: every kept row's score >= every dropped row's score per stratum
    kept_min = {r["source"]: r["m"] for r in capped.groupBy("source").agg(F.min("score").alias("m")).collect()}
    assert all(m >= 5.0 for m in kept_min.values())
    # deterministic under repartitioning
    a = sorted(r["doc_id"] for r in capped.collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_cap(df.repartition(13), "source", quota=5, order_col="score", key_col="doc_id").collect()
    )
    assert a == b
    # strata smaller than the quota are kept whole
    assert stratified_cap(df.where("doc_id < 4"), "source", quota=5, key_col="doc_id").count() == 4


def test_stratified_cap_rejects_bad_quota(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        stratified_cap(df, "source", quota=0)


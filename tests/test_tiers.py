"""Tiered dedup cascade: exact -> near -> semantic, drop accounting,
canonical-chain resolution."""

import pytest
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.plans.tiers import metrics_df, tiered_dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen startled "
    "geese watch from the riverbank and a cold wind moves the dry reeds "
    "slowly across the shallow water under a grey october sky"
)
OTHER = (
    "completely different content about distributed query engines shuffle "
    "partitions adaptive execution and columnar storage formats for large "
    "scale analytical workloads on commodity hardware clusters"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE + " PUNCT!!!"),  # near dup of 1 (high jaccard, not exact after extra token)
        (4, OTHER),
        (5, OTHER.upper()),  # exact dup of 4 after normalization
        (6, "tiny isolated page with its own words nobody repeats anywhere"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_two_tier_cascade(spark, corpus):
    out = tiered_dedup(corpus, DedupConfig(jaccard_threshold=0.7))
    status = {r["doc_id"]: r for r in out["status"].collect()}
    assert len(status) == 6  # every input doc accounted for exactly once

    assert status[2]["tier"] == "exact" and status[2]["canonical_id"] == 1
    assert status[5]["tier"] == "exact" and status[5]["canonical_id"] == 4
    assert status[3]["tier"] == "near" and status[3]["canonical_id"] == 1
    for kept in (1, 4, 6):
        assert status[kept]["tier"] == "kept"
        assert status[kept]["canonical_id"] == kept

    kept_ids = sorted(r["doc_id"] for r in out["survivors"].collect())
    assert kept_ids == [1, 4, 6]

    m = {t.tier: t for t in out["metrics"]}
    assert (m["exact"].n_in, m["exact"].n_dropped, m["exact"].n_out) == (6, 2, 4)
    assert (m["near"].n_in, m["near"].n_dropped, m["near"].n_out) == (4, 1, 3)
    # accounting invariant: drops + survivors == input at every tier
    for t in out["metrics"]:
        assert t.n_in - t.n_dropped == t.n_out
    mdf = metrics_df(spark, out["metrics"])
    assert mdf.count() == 2 and set(mdf.columns) == {
        "tier", "n_in", "n_dropped", "n_out", "resumed"
    }


def test_semantic_tier_and_chain_resolution(spark, corpus):
    # embeddings: docs 1 and 6 nearly parallel vectors -> semantic pair;
    # doc 4 orthogonal; docs 2/3/5 never reach tier 3 (dropped earlier)
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.01]),
            (2, [1.0, 0.0, 0.0]),
            (3, [1.0, 0.01, 0.0]),
            (4, [0.0, 1.0, 0.0]),
            (5, [0.0, 1.0, 0.01]),
            (6, [0.99, 0.0, 0.05]),
        ],
        "doc_id long, embedding array<double>",
    )
    out = tiered_dedup(
        corpus, DedupConfig(jaccard_threshold=0.7), embeddings=emb,
        cosine_threshold=0.99, exact_cosine=True,
    )
    status = {r["doc_id"]: r for r in out["status"].collect()}
    assert status[6]["tier"] == "semantic" and status[6]["canonical_id"] == 1
    # chain resolution: 2 (exact dup of 1) still points at 1, which survived
    assert status[2]["canonical_id"] == 1
    m = {t.tier: t for t in out["metrics"]}
    assert m["semantic"].n_dropped == 1 and m["semantic"].n_out == 2
    # every canonical_id names a KEPT doc — the chain never dangles
    kept = {r["doc_id"] for r in out["survivors"].collect()}
    assert all(r["canonical_id"] in kept for r in status.values())


def test_semantic_tier_with_no_surviving_embeddings(spark, corpus):
    # every embedded doc is dropped by an earlier tier -> the semantic tier
    # must no-op (not crash in the LSH path's dimension inference)
    emb = spark.createDataFrame([(2, [1.0, 0.0])], "doc_id long, embedding array<double>")
    out = tiered_dedup(corpus, DedupConfig(jaccard_threshold=0.7), embeddings=emb,
                       cosine_threshold=0.9, exact_cosine=False)
    m = {t.tier: t for t in out["metrics"]}
    assert m["semantic"].n_dropped == 0
    assert sorted(r["doc_id"] for r in out["survivors"].collect()) == [1, 4, 6]


def test_docs_without_embedding_pass_through(spark, corpus):
    emb = spark.createDataFrame([(1, [1.0, 0.0])], "doc_id long, embedding array<double>")
    out = tiered_dedup(corpus, DedupConfig(jaccard_threshold=0.7), embeddings=emb,
                       cosine_threshold=0.9, exact_cosine=True)
    # docs 4 and 6 have no vector: they must survive, not vanish
    kept = sorted(r["doc_id"] for r in out["survivors"].collect())
    assert kept == [1, 4, 6]


def test_three_tier_status_and_accounting(spark, corpus):
    """The cascade's one plan shape (lazy tier handoffs, one final
    accounting groupBy, no per-tier count barriers): every doc's status row
    and the per-tier n_in/n_dropped/n_out over all three tiers."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.01]),
            (4, [0.0, 1.0, 0.0]),
            (6, [0.99, 0.0, 0.05]),
        ],
        "doc_id long, embedding array<double>",
    )
    out = tiered_dedup(corpus, DedupConfig(jaccard_threshold=0.7), embeddings=emb,
                       cosine_threshold=0.99, exact_cosine=True)
    assert _status_rows(out) == [
        (1, "kept", 1), (2, "exact", 1), (3, "near", 1),
        (4, "kept", 4), (5, "exact", 4), (6, "semantic", 1),
    ]
    assert _tier_counts(out) == [("exact", 6, 2, 4), ("near", 4, 1, 3), ("semantic", 3, 1, 2)]
    assert sorted(r["doc_id"] for r in out["survivors"].collect()) == [1, 4]


def _status_rows(out):
    return sorted(tuple(r) for r in out["status"].collect())


def _tier_counts(out):
    return [(t.tier, t.n_in, t.n_dropped, t.n_out) for t in out["metrics"]]


def test_cascade_checkpoint_resume(spark, corpus, tmp_path):
    """Durable cascade resume: a re-run with the same dir skips every tier's
    detector (resumed=True, identical output); a manifest truncated to tier 1
    (simulated crash between tiers) resumes exact and recomputes the rest;
    a config change invalidates everything."""
    import json

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.01]), (4, [0.0, 1.0, 0.0]), (6, [0.99, 0.0, 0.05])],
        "doc_id long, embedding array<double>",
    )
    kw = dict(embeddings=emb, cosine_threshold=0.99, exact_cosine=True)
    cfg = DedupConfig(jaccard_threshold=0.7)
    ckpt = str(tmp_path / "cascade_ckpt")

    base = tiered_dedup(corpus, cfg, **kw)  # no checkpoint dir: the contract
    a = tiered_dedup(corpus, cfg, checkpoint_dir=ckpt, **kw)
    assert [t.resumed for t in a["metrics"]] == [False, False, False]
    assert _status_rows(a) == _status_rows(base)

    b = tiered_dedup(corpus, cfg, checkpoint_dir=ckpt, **kw)
    assert [t.resumed for t in b["metrics"]] == [True, True, True]
    assert _status_rows(b) == _status_rows(base)
    # the per-tier counts of a resumed run come from the same final groupBy
    assert _tier_counts(b) == _tier_counts(base)

    # crash between tier 1 and 2: manifest only records exact_drops
    mp = tmp_path / "cascade_ckpt" / "cascade_manifest.json"
    m = json.loads(mp.read_text())
    m["done"] = ["exact_drops"]
    mp.write_text(json.dumps(m))
    c = tiered_dedup(corpus, cfg, checkpoint_dir=ckpt, **kw)
    assert {t.tier: t.resumed for t in c["metrics"]} == {
        "exact": True, "near": False, "semantic": False
    }
    assert _status_rows(c) == _status_rows(base)
    assert _tier_counts(c) == _tier_counts(base)

    # different config -> stale tier drops must never be reused
    d = tiered_dedup(corpus, DedupConfig(jaccard_threshold=0.9), checkpoint_dir=ckpt, **kw)
    assert [t.resumed for t in d["metrics"]] == [False, False, False]


def test_cascade_checkpoint_resume_fused_mode(spark, corpus, tmp_path):
    """A two-tier cascade (no embeddings) with a checkpoint dir: resume skips
    both detectors, and the per-tier accounting of the resumed run still
    comes from the one final groupBy and matches the uncheckpointed run."""
    cfg = DedupConfig(jaccard_threshold=0.7)
    ckpt = str(tmp_path / "fused_ckpt")
    base = tiered_dedup(corpus, cfg)
    a = tiered_dedup(corpus, cfg, checkpoint_dir=ckpt)
    b = tiered_dedup(corpus, cfg, checkpoint_dir=ckpt)
    assert [t.resumed for t in a["metrics"]] == [False, False]
    assert [t.resumed for t in b["metrics"]] == [True, True]
    assert _status_rows(a) == _status_rows(base)
    assert _status_rows(b) == _status_rows(base)
    assert _tier_counts(b) == _tier_counts(base)

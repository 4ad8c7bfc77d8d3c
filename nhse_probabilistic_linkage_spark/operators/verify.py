"""Exact-Jaccard verification of candidate pairs.

Reference analog: Splink's comparison levels — tiered CASE WHENs per feature
producing gamma ordinals and a Fellegi-Sunter match weight
(/root/reference/utils/parameter_lists.py, utils/eval_utils.py:188-199).
For shingle dedup the directly-calibrated score is exact Jaccard of the
5-gram shingle sets, computed with native array functions (array_intersect /
array_union) — no Python in the pair loop.

The pair->shingles joins shuffle by doc id; both sides are pre-projected to
(id, shingles) so only the needed columns move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def jaccard_expr(left: str | F.Column, right: str | F.Column) -> F.Column:
    l = F.col(left) if isinstance(left, str) else left
    r = F.col(right) if isinstance(right, str) else right
    inter = F.size(F.array_intersect(l, r))
    union = F.size(F.array_union(l, r))
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def spread_pairs(pairs: DataFrame, factor: int = 2) -> DataFrame:
    """Re-spread a candidate-pair table across the cluster before a
    compute-dense per-pair stage.

    AQE coalesces shuffle outputs by BYTES; a pair table is a few dozen bytes
    per row, so it collapses to one partition — and then every array_intersect
    / LCS / hamming verification runs in ONE task (measured: the verify stage
    was flat at ~18s regardless of core count, out_partitions=1). Compute
    density per row is invisible to AQE; spreading by pair id is one cheap
    shuffle of the narrow table.

    Only worth it when the per-pair stage runs IN the spread partitioning
    (e.g. substring's LCS after broadcast joins). A stage that sits above a
    later shuffle (verify_pairs' doc joins re-exchange by id) must NOT
    spread first — the exchange is pure waste (r6 plan audit: back-to-back
    REPARTITION_BY_NUM + ENSURE_REQUIREMENTS exchanges)."""
    n = factor * pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(n, "id_l", "id_r")


# Largest MEASURED corpus row count for which a verify attach (the join of
# the doc/vector table onto the candidate pairs) picks its join strategy
# from that measurement instead of the planner's estimate: the pair
# checkpoint's estimate is unreliable, while a corpus this small is cheap
# to measure and safe as a hash-join build side. Above it the planner
# decides over honest estimates. Used by similarity.embedding_neardup_pairs
# and substring.substring_pairs.
MEASURED_ATTACH_MAX_ROWS = 65536


def no_pushdown(col: F.Column) -> F.Column:
    """Wrap a column expression in a nondeterministic no-op so filters on
    the RESULTING column are never pushed through its projection.

    Catalyst pushes a deterministic filter through projections and into join
    conditions by inlining the referenced alias's expression — for a filter
    on exact jaccard that re-evaluates the array_intersect up to 4x per pair
    inside the join condition (r6 plan audit, guide §4.4's duplication trap
    in native-expression form). Marking the PROJECTED COLUMN itself
    nondeterministic (rand() != -1 is always true; values unchanged) makes
    `PushPredicateThroughNonJoin` refuse the projection entirely — a filter
    wrapped at the predicate instead still gets inlined one level down and
    evaluated twice (observed in the r6 plan capture).

    The guard must be an INEQUALITY: Spark 4's optimizer folds ordering
    comparisons against rand()'s known [0,1) range (`rand() < 2.0` was
    silently eliminated and the filter pushed anyway — caught by the r6
    plan capture), but leaves `!=` alone. Pinned by a plan test
    (tests/test_plans.py::test_verify_threshold_filter_not_pushed_into_join)
    so an optimizer upgrade that re-enables the pushdown fails loudly."""
    return F.when(F.rand(42) != F.lit(-1.0), col).otherwise(F.lit(None))


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    threshold: float | None = None,
    minhash_col: str | None = None,
    estimate_band: float = 0.15,
    gate_metrics: dict | None = None,
) -> DataFrame:
    """Attach exact jaccard to candidate pairs; optionally filter >= threshold.

    Output: (id_l, id_r, match_key?, jaccard). Gamma-style similarity buckets
    can be derived downstream with a single when-chain.

    When `minhash_col` names a signature column on `docs` (and a threshold is
    set), candidates are pre-gated by the FREE MinHash estimate — the
    signature-agreement fraction is an unbiased estimator of jaccard — and
    pairs estimated below `threshold - estimate_band` never shuffle their
    shingle arrays at all. Survivors still get EXACT jaccard, so output
    values are identical; the only behavior delta is the ~3-sigma tail
    (P[est < thr-0.15 | true j >= thr] ~ 1e-4 per pair at 128 perms,
    documented in DedupConfig). The gate pays off when shingle sets dwarf
    the signature (real web pages); callers with short docs should leave it
    off.

    `gate_metrics`: pass a dict to receive gated-pair accounting
    (`pairs_in`, `pairs_after_gate`, `pairs_gated_out`) when the gate is
    active — the same never-silent policy as dropped LSH bands. The counts
    run over narrow, already-checkpointed pair tables (two cheap jobs), so
    only observers pay for them.
    """
    # Two physical choices that matter at scale:
    # 1. semi-join reduction: only docs that appear in some candidate pair
    #    need their (wide) shingle arrays moved — usually a small fraction of
    #    the corpus once LSH has pruned the pair space.
    # 2. shuffle_hash hint: Catalyst's size estimate happily BROADCASTS the
    #    doc side (every row carries a full shingle array — hundreds of MB at
    #    even 40k docs, driver-built and single-threaded; at corpus scale
    #    impossible). Hash-partitioning keeps the wide table distributed and
    #    skips sort-merge's sort of the wide rows.
    # Every engine path hands in an eagerly-checkpointed pair table
    # (candidate_pairs cuts it), so the double scan (semi-join reduction +
    # verify join) re-reads checkpointed blocks instead of re-executing the
    # band self-join. The pair table is NOT re-spread here: both doc joins
    # re-exchange by id anyway, so a spread would be a wasted extra shuffle
    # (removed r6 — the jaccard compute runs in the id_r join's exchange,
    # whose bytes include the shingle arrays, so AQE sizes it sanely).
    # (no shuffle_hash hint on the id list: A/B at three scales showed the
    # hinted semi-join neutral at best and ~0.8s slower at small scale —
    # the sort it avoids is over the semi-join's NARROW probe output)
    pair_ids = pairs.select(F.explode(F.array("id_l", "id_r")).alias(id_col)).distinct()
    pairs_in = pairs

    if minhash_col is not None and threshold is not None:
        sig = (
            docs.select(F.col(id_col), F.col(minhash_col))
            .join(pair_ids, id_col, "left_semi")
            .hint("shuffle_hash")
        )
        agree = F.size(
            F.filter(
                F.zip_with("_sig_l", "_sig_r", lambda x, y: x == y), lambda v: v
            )
        )
        est = agree / F.greatest(F.size("_sig_l"), F.lit(1))
        pairs = (
            pairs.join(sig.select(F.col(id_col).alias("id_l"), F.col(minhash_col).alias("_sig_l")), "id_l")
            .join(sig.select(F.col(id_col).alias("id_r"), F.col(minhash_col).alias("_sig_r")), "id_r")
            .withColumn("_est", est)
            .filter(F.col("_est") >= F.lit(threshold - estimate_band))
            .drop("_sig_l", "_sig_r", "_est")
            # eager cut: the gated (narrow) pair table is scanned twice below
            # (semi-join reduction + verify join) — without it the two
            # signature joins re-execute per scan unless ReuseExchange
            # happens to fire (same policy as candidate_pairs' checkpoint)
            .localCheckpoint(eager=True)
        )
        # gated-out pairs are an observable recall cost (~1e-4 per true
        # near-threshold pair): surface the count like dropped bands — never
        # silent when someone is watching
        if gate_metrics is not None:
            n_in = pairs_in.count()
            n_after = pairs.count()
            gate_metrics["pairs_in"] = n_in
            gate_metrics["pairs_after_gate"] = n_after
            gate_metrics["pairs_gated_out"] = n_in - n_after
        # the gate shrank the pair set, so re-derive the semi-join reduction
        # from the survivors — fewer docs ship their shingle arrays below
        pair_ids = pairs.select(F.explode(F.array("id_l", "id_r")).alias(id_col)).distinct()

    # per-doc distinct size computed ONCE doc-side: |A u B| = |A|+|B|-|A n B|
    # arithmetically, so the per-pair work is one array_intersect instead of
    # intersect + a materialized array_union (measured ~2x less array work;
    # shingles are distinct per doc by construction in prepare_docs).
    slim = (
        docs.select(
            F.col(id_col),
            F.col(shingle_col),
            F.size(F.array_distinct(F.col(shingle_col))).alias("_nsh"),
        )
        .join(pair_ids, id_col, "left_semi")
        .hint("shuffle_hash")
    )
    # The intersection size is bound ONCE as a lambda variable
    # (textstats._bind_once): the jaccard expression references it three
    # times, and BOTH an alias column (CollapseProject inlines it — observed
    # in the r6 plan capture, 3 array_intersect copies) and a plain
    # sub-expression would re-scan the arrays per reference. Inside the
    # lambda the references are variable reads; the array scan runs exactly
    # once per pair (plan-pinned in tests/test_plans.py).
    from nhse_probabilistic_linkage_spark.functions.textstats import _bind_once

    jac = _bind_once(
        F.size(F.array_intersect("_sh_l", "_sh_r")),
        lambda inter: F.when(
            F.col("_n_l") + F.col("_n_r") - inter > 0,
            inter / (F.col("_n_l") + F.col("_n_r") - inter),
        ).otherwise(F.lit(1.0)),
    )

    # when a threshold filter follows, the jaccard COLUMN is nondet-marked
    # (values identical) so the filter cannot be pushed through the
    # projection and the intersect evaluates exactly once per pair
    if threshold is not None:
        jac = no_pushdown(jac)
    out = (
        pairs.join(
            slim.select(
                F.col(id_col).alias("id_l"),
                F.col(shingle_col).alias("_sh_l"),
                F.col("_nsh").alias("_n_l"),
            ),
            "id_l",
        )
        .join(
            slim.select(
                F.col(id_col).alias("id_r"),
                F.col(shingle_col).alias("_sh_r"),
                F.col("_nsh").alias("_n_r"),
            ),
            "id_r",
        )
        .withColumn("jaccard", jac)
        .drop("_sh_l", "_sh_r", "_n_l", "_n_r")
    )
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def similarity_buckets(df: DataFrame, jaccard_col: str = "jaccard") -> DataFrame:
    """Ordinal similarity level per pair — the gamma analog
    (reference: NAME has 7 CASE-WHEN levels, utils/parameter_lists.py:2-60)."""
    j = F.col(jaccard_col)
    return df.withColumn(
        "sim_level",
        F.when(j >= 0.95, F.lit(3))
        .when(j >= 0.85, F.lit(2))
        .when(j >= 0.7, F.lit(1))
        .otherwise(F.lit(0)),
    )

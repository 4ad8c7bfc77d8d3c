"""Distributed connected components: alternating large-star / small-star,
with a bounded driver-side finish for small frontiers (a HYBRID design).

The distributed loop replaces the reference's driver-side BFS over a
collect()ed edge list (`find_connected_ids`,
/root/reference/utils/dataset_ingestion_utils.py:487-540 — O(all edges) in
driver memory, unbounded) with the Kiveris et al. "Connected Components in
MapReduce and Beyond" algorithm as DataFrame ops, so it scales to
10^12-node graphs:

  large-star: every node connects its LARGER neighbors to the minimum of its
              closed neighborhood;
  small-star: every node connects its SMALLER-or-equal neighbors (and itself)
              to the minimum of those.

Alternating the two converges in O(log^2 n) rounds to a forest of stars
centered at each component's minimum id. Each round is two shuffles
(groupBy min + join); lineage is cut per round with an eager
localCheckpoint() — the reference's `break_lineage_method` lesson
(predict_dedupe.py:63-69) applied to an iterative loop.

The hybrid part: a graph of at most `local_finish_edges` oriented edges
(default 1M — every current bench/test scale) is collected once, before any
dedup shuffle, and finished on the driver by a numpy FastSV kernel
(`_fastsv`); a larger graph runs star rounds until its frontier fits under
the same bound, then finishes the same way. The driver's memory bound is
hard and caller-controlled. This differs from the reference's collect in
exactly one way that matters: the bound. The reference collects WHATEVER
the edge count is; we collect only under an explicit threshold, the early
rounds of a big graph still run fully distributed, and
`local_finish_edges=0` restores the pure distributed loop. Output is pinned
identical between the paths (tests/test_connected_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _oriented(edges: DataFrame) -> DataFrame:
    """Orient big->small, drop self-loops."""
    return edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).where(F.col("src") != F.col("dst"))


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient big->small, drop self-loops, dedup."""
    return _oriented(edges).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", F.col("src")).alias("mn"))
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = _canonical(edges)
    mins = e.groupBy("src").agg(F.min("dst").alias("mn"))
    joined = e.join(mins, "src")
    out = joined.select(F.col("dst").alias("u"), F.col("mn")).union(
        mins.select(F.col("src").alias("u"), F.col("mn"))
    )
    return (
        out.where(F.col("u") != F.col("mn"))
        .select(F.col("u").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _fastsv(src, dst):
    """Connected components of the undirected (src, dst) int64 edge arrays
    -> (ids, component) arrays: every endpoint id once, ascending, labelled
    with the min id of its component.

    FastSV (Zhang, Azad & Hu, SIAM PP 2020) over both edge directions, as a
    few vectorized numpy passes per round: stochastic hooking
    f[f[u]] <- min gf[v], aggressive hooking f[u] <- min gf[v], shortcutting
    f[u] <- min(f[u], gf[u]), until the grandparent vector gf = f[f] stops
    changing. Ids are factorized with np.unique, which sorts them, so a min
    over codes is a min over ids and each component's label is its min
    member id. Rounds grow with log(diameter), not the diameter, so a long
    path in random id order finishes in tens of rounds where min-label
    propagation would need one round per hop. Duplicate, reversed and self
    edges are absorbed."""
    import numpy as np

    uniq, codes = np.unique(np.concatenate([src, dst]), return_inverse=True)
    left, right = codes[: len(src)], codes[len(src):]
    f = np.arange(len(uniq), dtype=np.int64)
    gf = f
    while True:
        f_next = f.copy()
        # one direction at a time: half-length temporaries, no reversed copy
        for u, v in ((left, right), (right, left)):
            gfv = gf[v]
            np.minimum.at(f_next, f[u], gfv)
            np.minimum.at(f_next, u, gfv)
        f = np.minimum(f_next, gf)
        grand = f[f]
        if np.array_equal(grand, gf):
            break
        gf = grand

    # flatten to roots with vectorized pointer jumping (O(log n) passes)
    while True:
        grand = f[f]
        if np.array_equal(grand, f):
            break
        f = grand
    return uniq, uniq[f]


def _local_finish(edges: DataFrame) -> DataFrame:
    """Finish a small edge set on the driver with the numpy FastSV kernel.

    Star rounds shrink the frontier geometrically, so the LAST few rounds of
    the distributed loop run over a tiny edge set where each round's cost is
    pure job-scheduling latency. Once the edges fit comfortably on the
    driver we collapse the remaining rounds into one collect + _fastsv. Both
    star operations preserve the node set and the component partition, and
    the kernel absorbs duplicate and reversed edges, so any of the raw
    oriented edges, the canonical round-0 frontier or an intermediate
    frontier yields exactly the same (id, component=min id) assignment the
    distributed loop converges to.

    Memory: a tracemalloc probe of _fastsv over 1M random int64 edges
    measured a numpy peak of ~120 B/edge (~120 MB) at the worst case of two
    fresh ids per edge, and ~100 B/edge over 300k distinct ids. np.unique
    alone peaks at ~114 B/edge on the worst case, so its sort workspace over
    the 2M concatenated endpoints sets the bound. On top comes the
    Arrow->pandas collect of the two int64 edge columns. The path is bounded
    by the caller's `local_finish_edges` and disabled with 0."""
    import numpy as np
    import pandas as pd

    pdf = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).toPandas()
    ids, comps = _fastsv(pdf["src"].to_numpy(dtype=np.int64), pdf["dst"].to_numpy(dtype=np.int64))
    out = pd.DataFrame({"id": ids, "component": comps})
    return edges.sparkSession.createDataFrame(out, "id bigint, component bigint")


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    local_finish_edges: int = 1_000_000,
) -> DataFrame:
    """(src,dst) undirected edge DataFrame -> (id, component) assignment where
    component = min node id in the component. Only nodes that appear in an
    edge are returned; callers union isolated nodes back (see
    assign_components).

    `local_finish_edges`: an input of at most this many oriented edges
    (self-loops dropped, duplicates and reversed copies still counted) is
    collected once and finished on the driver by the numpy FastSV kernel
    (see _local_finish), before the dedup shuffle and the round checksum. A
    larger input pays one extra count job, then runs distributed star rounds
    until its frontier has at most this many edges, and finishes the same
    way. Output is identical to the pure distributed loop either way. NOTE
    the default's reach: any input graph of <= 1M edges (every current
    bench/test scale) finishes with a driver-side collect — a deliberate
    hybrid. Library callers who must never collect edges on the driver
    should pass 0 (pure distributed loop, pinned-identical output). At
    10^12-node scale the early rounds still run fully distributed; the
    threshold only bounds what the driver is ever asked to hold (numpy
    arrays, ~120 B/edge peak, plus the Arrow collect of the two int64 edge
    columns).

    Frontier durability: by default each round is cut with a
    localCheckpoint — fast, but executor-LOCAL (an executor loss kills the
    job and pins executor memory for the run). When `checkpoint_dir` is set,
    rounds stage to parquet under it instead (round files alternate between
    two slots, so disk use is bounded at 2x the frontier): any-FS durable,
    survives executor loss, and doubles as a mid-CC resume point for very
    large graphs. Use the dir on multi-executor clusters; local mode is fine
    without."""

    def _cut(df: DataFrame, rnd: int) -> DataFrame:
        if checkpoint_dir is None:
            # lazy: the count or checksum job that immediately follows every
            # cut is its first consumer, so one job materializes AND
            # measures the frontier
            return df.localCheckpoint(eager=False)
        from nhse_probabilistic_linkage_spark.sources import fs

        path = fs.join(checkpoint_dir, f"cc_round_{rnd % 2}")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    cur = _oriented(edges.select(F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")))
    if local_finish_edges > 0:
        # slot 1: above the threshold, round 0 below writes slot 0 while
        # reading this cut
        cur = _cut(cur, 1)
        n_raw = cur.count()
        if n_raw == 0:
            return cur.sparkSession.createDataFrame([], "id bigint, component bigint")
        if n_raw <= local_finish_edges:
            # _fastsv absorbs duplicate and reversed edges, so a graph the
            # driver finishes anyway skips the dedup shuffle and checksum
            return _local_finish(cur)
    cur = _cut(cur.distinct(), 0)
    prev_sig = _checksum(cur)
    if prev_sig[0] == 0:
        return cur.sparkSession.createDataFrame([], "id bigint, component bigint")

    for i in range(max_iterations):
        if 0 < local_finish_edges and prev_sig[0] <= local_finish_edges:
            return _local_finish(cur)
        cur = _cut(_small_star(_large_star(cur)), i + 1)
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")

    # Converged: star edges (node -> component min). Roots map to themselves.
    members = cur.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("id"), F.col("dst").alias("component")).distinct()
    return members.union(roots).groupBy("id").agg(F.min("component").alias("component"))


def incremental_assign_components(
    prev: DataFrame,
    docs: DataFrame,
    new_edges: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "cluster_id",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    local_finish_edges: int = 1_000_000,
) -> DataFrame:
    """Update a previous component assignment with NEW edges only.

    prev       (id_col, out_col) — a complete prior assignment where out_col
               is the MIN member id of each component (assign_components'
               output contract).
    docs       the full current doc set; ids absent from prev are admitted
               as fresh singletons. Every new-edge endpoint must appear here.
    new_edges  (src, dst) edges not yet reflected in prev.

    Correctness: contracting each previous component to its min-id label
    preserves connectivity, so CC over the contracted new-edge graph merges
    exactly the components the new edges connect — and because every label
    is already the min doc id of its old component, min-of-labels IS the
    min doc id of each merged component. Output is therefore identical to
    re-running assign_components over the FULL edge history (pinned in
    tests/test_streaming.py over a 10-batch stream).

    Cost: the CC iterates over O(|new_edges|) label-level edges instead of
    the whole history — this is what bounds per-batch recluster cost in
    streaming/incremental.py. The two label joins are narrow (8-byte keys).
    """
    base = (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .join(prev.select(F.col(id_col), F.col(out_col).alias("_prev")), id_col, "left")
        .select(F.col(id_col), F.coalesce("_prev", F.col(id_col)).alias("_label"))
    )
    contracted = (
        new_edges.select(
            F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
        )
        .join(base.select(F.col(id_col).alias("src"), F.col("_label").alias("_ls")), "src")
        .join(base.select(F.col(id_col).alias("dst"), F.col("_label").alias("_ld")), "dst")
        .select(F.col("_ls").alias("src"), F.col("_ld").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    comps = connected_components(
        contracted,
        max_iterations=max_iterations,
        checkpoint_dir=checkpoint_dir,
        local_finish_edges=local_finish_edges,
    )
    return (
        base.join(comps.withColumnRenamed("id", "_label"), "_label", "left")
        .select(F.col(id_col), F.coalesce("component", F.col("_label")).alias(out_col))
    )


def assign_components(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "cluster_id",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    local_finish_edges: int = 1_000_000,
) -> DataFrame:
    """Cluster assignment for every doc: connected-component min id for docs
    with at least one duplicate edge, own id for singletons."""
    comps = connected_components(
        edges,
        max_iterations=max_iterations,
        checkpoint_dir=checkpoint_dir,
        local_finish_edges=local_finish_edges,
    )
    return (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .join(comps.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias(out_col),
        )
    )

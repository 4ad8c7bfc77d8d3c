"""Embedding similarity: exact cosine top-k plus a hyperplane-LSH scale path.

The engine treats embeddings as array<float> columns. Cosine math is native
(zip_with + aggregate stay in codegen — no Python per pair); the
candidate-generation trick for scale is the same band-join shape as MinHash:
random-hyperplane signatures bucket similar vectors, buckets self/cross-join,
exact cosine verifies. Reference analog: blocking keys prune the O(n^2)
comparison space before the expensive scorer (SURVEY.md §2.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def dot_expr(a, b) -> F.Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a) -> F.Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a, b) -> F.Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries is expected small -> broadcast cross join; the per-pair cosine is
    a codegen expression, the top-k a ranking window per query. This is the
    correctness baseline; use lsh_topk for large query sets.
    """
    from nhse_probabilistic_linkage_spark.sources.tables import spread_input

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"), norm_expr(vec_col).alias("_qnorm")
    )
    # spread_input: the per-(corpus row x query) cosine fold is the dense
    # work; a small single-row-group corpus otherwise runs it on 1-2 tasks
    c = spread_input(corpus.select(id_col, vec_col)).select(
        F.col(id_col), F.col(vec_col).alias("_cvec"), norm_expr(vec_col).alias("_cnorm")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        (dot_expr("_qvec", "_cvec") / (F.col("_qnorm") * F.col("_cnorm"))).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def make_hyperplane_udf(dim: int, n_planes: int = 16, seed: int = 42, n_tables: int = 1):
    """array<float> -> array<int64>: one bucket id per hash table.

    Standard multi-table construction: L independent sets of random
    hyperplanes; a pair is a candidate if it collides in ANY table, so
    recall is 1-(1-p^.)^L instead of a single table's p. One matmul per
    Arrow batch covers all tables (planes are concatenated column-wise);
    bucket ids are salted with the table index so tables never cross-join.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes * n_tables)).astype(np.float64)
    weights = 1 << np.arange(n_planes, dtype=np.uint64)
    # large odd constants decorrelate table ids in the bucket key space
    table_salt = (np.arange(n_tables, dtype=np.uint64) + 1) * np.uint64(0x9E3779B97F4A7C15)

    @pandas_udf("array<long>")
    def bucket(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes) > 0  # (n, n_planes * n_tables)
        per_table = bits.reshape(len(mat), n_tables, n_planes)
        vals = (per_table.astype(np.uint64) * weights[None, None, :]).sum(axis=2)
        vals = vals + table_salt[None, :]
        out = vals.astype(np.int64)
        return pd.Series([row for row in out])

    return bucket


# Largest KNOWN corpus byte size (n_rows x row width) for which the verify
# attach explicitly broadcasts the vector table — well inside the guide's
# "a few hundred MB is usually fine" band; above it (but with a measured
# row count <= verify.MEASURED_ATTACH_MAX_ROWS) the attach pins a
# shuffled-hash join so the planner can never broadcast the pair side off
# a bad estimate.
VEC_BROADCAST_BYTES = 64 << 20

# join-strategy hint for the attach fallback when the vector table is
# known-bounded but too big to broadcast. A/B at sf1.0 (20k vectors,
# verify-noop): explicit vec broadcast 0.75-1.9s, shuffle_hash
# 1.4-1.8s, merge 1.9-2.6s, planner-on-bad-estimate 6.4-6.5s (it broadcast
# the 1.3M-row pair side). The build side is the vector table, bounded by
# the measured count (<= MEASURED_ATTACH_MAX_ROWS rows split across
# partitions), so the SHJ OOM risk the guide warns about cannot arise here.
_FALLBACK_HINT: str | None = "shuffle_hash"


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int | None = None,
    seed: int = 42,
    exact: bool = False,
    n_tables: int | None = None,
    band_cap: int | None = 5000,
    salt_threshold: int | None = 500,
    salt_groups: int = 8,
    with_accounting: bool = False,
) -> DataFrame:
    """Pairs (id_l, id_r, cosine >= threshold).

    exact=True: all-pairs self-join (small corpora / oracle parity).
    exact=False: multi-table hyperplane-LSH prunes candidates — a pair joins
    if it collides in ANY of the n_tables bucket tables (per-table collision
    prob ~(1 - theta/pi)^n_planes, union recall 1-(1-p)^L); the exact cosine
    then verifies, so approximation only ever costs recall, never precision.

    Hot buckets ride the SAME routed machinery as hot MinHash bands: the
    (id, table, bucket) rows go through lsh.candidate_pairs() — band_key =
    bucket id, band_id = table index, exactly as substring.py reuses it for
    winnowing fingerprints — so a bucket of m near-identical vectors (think
    templated boilerplate pages with identical feature vectors) is
    combination-exploded when cold, salted over `salt_groups` tasks when hot
    (size > salt_threshold), and DROPPED WITH ACCOUNTING past `band_cap`
    instead of emitting O(m^2) join rows. `lsh_params_for_threshold` bounds
    *random* collisions via corpus-density plane sizing, but true duplicates
    are the workload — the cap is what bounds those. Reference analog:
    per-rule comparison counts,
    notebooks_dedupe/blocking_evaluation_dedupe.py:154-175.

    with_accounting=True returns (pairs, dropped_buckets) where
    dropped_buckets = (band_key, band_size) rows for over-cap buckets —
    never-silent recall accounting, same contract as MinHash dropped bands
    (empty on the exact path, which enumerates all pairs).
    """
    from nhse_probabilistic_linkage_spark.operators.lsh import candidate_pairs
    from nhse_probabilistic_linkage_spark.operators.verify import MEASURED_ATTACH_MAX_ROWS

    dropped = df.sparkSession.createDataFrame([], "band_key bigint, band_size bigint")
    if not exact:
        # LAZY cut: the probe agg below is the first consumer and
        # materializes the checkpoint inside its own job — one job instead
        # of checkpoint-then-probe (r6). The cut itself is still required:
        # the vector table feeds the dim probe, the bucket UDF, and BOTH
        # sides of the verify attach — without it the caller's whole
        # embedding lineage (often a derived/featurized expression)
        # re-executes per scan (measured on a 40k-doc derived-embedding
        # input: 188s lazy vs seconds cut). NO spread_input here
        # (deliberate, r6 A/B): the per-row work before the band shuffle —
        # one norm fold plus the bucket matmul — is too cheap to amortize
        # an extra exchange (5-rep interleaved: spread 1.44/3.00s vs
        # no-spread 0.70/2.43s at sf0.1/sf1.0), unlike the shingle/winnow
        # kernels where the spread is a 2-5x win.
        slim = df.select(
            F.col(id_col), F.col(vec_col), norm_expr(vec_col).alias("_n")
        ).localCheckpoint(eager=False)
        # measured corpus count for the verify-attach strategy below; unknown
        # when the caller pins dim/n_planes/n_tables (the probe is skipped)
        n_rows = None
        if dim is None or n_planes is None or n_tables is None:
            # ONE probe job fuses the vector-dim peek and the corpus-density
            # count that size the tables from the collision model (see
            # lsh_params_for_threshold: fixed planes make the random-collision
            # candidate tail quadratic in n). These were two serial barriers
            # (.first() + .count()); at 100 TB each barrier is a full
            # driver round-trip between stages, so they are fused — and
            # skipped entirely when the caller pins dim + n_planes + n_tables.
            n_rows, probe_dim = slim.agg(
                F.count(F.lit(1)), F.first(F.size(vec_col))
            ).first()
            if dim is None:
                dim = int(probe_dim)
            auto_planes, auto_tables = lsh_params_for_threshold(
                threshold, n_docs=n_rows
            )
            n_planes = n_planes if n_planes is not None else auto_planes
            n_tables = n_tables if n_tables is not None else auto_tables
        bucket = make_hyperplane_udf(dim, n_planes=n_planes, seed=seed, n_tables=n_tables)
        # the bucket join moves ONLY (id, table, bucket) — 20-byte rows. The
        # vectors would otherwise ride the join n_tables-times duplicated
        # (the verify_pairs lesson: join narrow, attach wide after dedup).
        # posexplode's position IS the table index (one bucket per table), so
        # the rows are exactly lsh.band_keys' shape and candidate_pairs can
        # route/salt/cap hot buckets in its single band_key shuffle; it also
        # eagerly cuts its own (deduped) pair output, so no extra checkpoint
        # is needed here.
        bkts = slim.select(
            F.col(id_col), F.posexplode(bucket(vec_col)).alias("band_id", "band_key")
        )
        cand, dropped = candidate_pairs(
            bkts,
            id_col=id_col,
            band_cap=band_cap,
            salt_threshold=salt_threshold,
            salt_groups=salt_groups,
        )
        # EXPLICIT attach strategy (r6): the pair checkpoint's planner
        # estimate is unreliable (a LogicalRDD inherits its ORIGIN plan's
        # estimate, which can under-estimate by >10x), and
        # at 20k vectors / 12 planes the candidate tail is ~1.3M pairs — the
        # planner happily broadcast THAT side and the verify went 1.2s ->
        # 8-47s (building a 1.3M-row hash relation per join). The corpus
        # side's size is KNOWN here (n_rows x dim from the probe), so the
        # decision is made from that measurement, never from an estimate:
        # measured-small corpus -> broadcast the vectors (never the pairs);
        # bounded-but-unbroadcastable corpus (n_rows <=
        # MEASURED_ATTACH_MAX_ROWS) -> pin a shuffled-hash join; large or
        # unmeasured corpus -> planner's choice, whose estimates are honest
        # there.
        lft = slim.select(F.col(id_col).alias("id_l"), F.col(vec_col).alias("_vl"), F.col("_n").alias("_nl"))
        rgt = slim.select(F.col(id_col).alias("id_r"), F.col(vec_col).alias("_vr"), F.col("_n").alias("_nr"))
        est_vec_bytes = None if n_rows is None else n_rows * (8 * dim + 48)
        if est_vec_bytes is not None and est_vec_bytes <= VEC_BROADCAST_BYTES:
            lft, rgt = F.broadcast(lft), F.broadcast(rgt)
        elif _FALLBACK_HINT and n_rows is not None and n_rows <= MEASURED_ATTACH_MAX_ROWS:
            lft, rgt = lft.hint(_FALLBACK_HINT), rgt.hint(_FALLBACK_HINT)
        cand = cand.drop("match_key").join(lft, "id_l").join(rgt, "id_r")
    else:
        slim = df.select(F.col(id_col), F.col(vec_col), norm_expr(vec_col).alias("_n"))
        l = slim.select(F.col(id_col).alias("id_l"), F.col(vec_col).alias("_vl"), F.col("_n").alias("_nl"))
        r = slim.select(F.col(id_col).alias("id_r"), F.col(vec_col).alias("_vr"), F.col("_n").alias("_nr"))
        cand = l.crossJoin(r).where(F.col("id_l") < F.col("id_r"))
    pairs = (
        cand.withColumn("cosine", dot_expr("_vl", "_vr") / (F.col("_nl") * F.col("_nr")))
        .where(F.col("cosine") >= threshold)
        .select("id_l", "id_r", "cosine")
    )
    return (pairs, dropped) if with_accounting else pairs


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the scale path for top-k search. Centroids are
# learned with a few Lloyd iterations entirely in DataFrame ops; vectors are
# bucketed by nearest centroid; queries probe the n_probe nearest buckets and
# run exact cosine only inside them. Reference analog: blocking rules prune
# the O(n^2) space before the exact scorer (parameters_dedupe.py:26-44).
# ---------------------------------------------------------------------------


def make_bucket_udf(centroids: np.ndarray, n_probe: int = 1):
    """array<float> -> array<int>: ids of the n_probe nearest centroids by
    cosine (one matmul per Arrow batch; centroids are L2-normalized once)."""
    norms = np.linalg.norm(centroids, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cmat = (centroids / norms).T.astype(np.float64)  # (dim, n_centroids)

    @pandas_udf("array<int>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        vn = np.linalg.norm(mat, axis=1, keepdims=True)
        vn[vn == 0] = 1.0
        sims = (mat / vn) @ cmat
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32) for row in top])

    return buckets


def suggest_n_centroids(corpus_size: int) -> int:
    """IVF centroid count sized to the corpus: ~sqrt(n) balances bucket scan
    cost (n/n_centroids vectors per probe) against centroid-assignment cost
    (n_centroids dot products per vector) — the standard IVF heuristic.
    Floor 64 keeps tiny corpora from degenerating to near-brute-force; the
    driver only ever holds the (n_centroids x dim) matrix, which at 10^9
    vectors and 1024 dims is ~260 MB — still driver-safe."""
    import math

    return max(64, int(math.sqrt(max(corpus_size, 1))))


def train_centroids(
    df: DataFrame,
    n_centroids: int = 64,
    vec_col: str = "embedding",
    iterations: int = 2,
    seed: int = 42,
) -> np.ndarray:
    """Seeded k-means: deterministic init from a hash-ordered sample, then a
    few Lloyd iterations as groupBy averages. Driver holds only the
    (n_centroids x dim) matrix — never the corpus."""
    init = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>").cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    centroids = np.array([list(r[0]) for r in init], dtype=np.float64)
    for _ in range(iterations):
        assign = make_bucket_udf(centroids, n_probe=1)
        assigned = df.select(
            F.col(vec_col), assign(F.col(vec_col)).getItem(0).alias("_bucket")
        )
        agg = (
            assigned.select("_bucket", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("_bucket", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("avg"))
            .collect()
        )
        for r in agg:
            centroids[r["_bucket"], r["pos"]] = r["avg"]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe the n_probe nearest centroid buckets per
    query, exact cosine inside them. Corpus shuffles once by bucket; each
    query fans out to n_probe buckets — at 10^9+ vectors this scans
    n_probe/n_centroids of the corpus instead of all of it."""
    assign1 = make_bucket_udf(centroids, n_probe=1)
    assignp = make_bucket_udf(centroids, n_probe=n_probe)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        norm_expr(vec_col).alias("_cnorm"),
        assign1(F.col(vec_col)).getItem(0).alias("_bucket"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        norm_expr(vec_col).alias("_qnorm"),
        F.explode(assignp(F.col(vec_col))).alias("_bucket"),
    )
    scored = c.join(q, "_bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        (dot_expr("_qvec", "_cvec") / (F.col("_qnorm") * F.col("_cnorm"))).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_params_for_threshold(threshold: float, target_recall: float = 0.95,
                             n_planes: int | None = None,
                             n_docs: int | None = None) -> tuple[int, int]:
    """(n_planes, n_tables) sized from the hyperplane-LSH collision model.

    Per-table collision prob for a pair at cosine=threshold is
    p = (1 - theta/pi)^n_planes with theta = arccos(threshold); the union of
    L independent tables reaches recall 1-(1-p)^L. n_planes defaults to the
    largest value keeping a single table's p >= 0.15 (selectivity vs table
    count tradeoff); n_tables then follows from the target recall. The exact
    cosine verify keeps precision at 1.0 regardless.

    `n_docs` adds the CORPUS-DENSITY floor: an unrelated pair collides in a
    table with prob ~2^-n_planes for ideal (spherically symmetric) vectors,
    so expected random candidates are ~n^2/2 * 2^-P * L — QUADRATIC in n at
    fixed P. Keeping P >= log2(n) + margin pins the random tail to ~O(n*L).
    Measured at 1M synthetic docs (hash-of-prefix embeddings), P=24 emitted
    7.5M below-threshold candidates (not bucket skew — max bucket size was
    57), and the exact-verify join over those pairs is what made the
    cascade's semantic tier super-linear from 1M->4M docs; P=28/T=18 cut
    unique candidates 5.2x (7.47M -> 1.45M) at the same modeled recall.
    The measured per-extra-plane discrimination was ~0.75, not the ideal
    0.5 (correlated sign patterns), hence the +8 margin rather than +4.
    More planes cost more tables (recall model above) but tables scale the
    LINEAR bucket rows, not the quadratic pair tail — the right trade at
    large corpus sizes. The floor engages only at >= 64k docs (below that
    the quadratic tail is negligible and every existing small-scale result
    is bit-identical), and is clamped so the required table count stays
    within the 64-table cap at target_recall — low thresholds (small p1)
    cannot afford extra planes and are documented exact-join territory.
    """
    import math

    theta = math.acos(max(-1.0, min(1.0, threshold)))
    p1 = 1.0 - theta / math.pi  # single-plane agreement probability
    if n_planes is None:
        n_planes = max(1, int(math.log(0.15) / math.log(p1))) if p1 < 1.0 else 16
        n_planes = min(n_planes, 24)
        if n_docs is not None and n_docs >= 65536 and 0.0 < p1 < 1.0:
            # two guards on the floor: (a) under 64k docs the quadratic tail
            # is too small to matter — keep the plain threshold sizing;
            # (b) never push planes past what the 64-table cap can
            # compensate at target_recall (p_min = per-table collision prob
            # that still reaches the target with 64 tables) — at LOW
            # thresholds (p1 far from 1) extra planes cost recall
            # exponentially, and that regime is documented as
            # exact-join territory, not more-planes territory
            density_floor = math.ceil(math.log2(n_docs)) + 8
            p_min = 1.0 - (1.0 - target_recall) ** (1.0 / 64.0)
            compensable = max(n_planes, int(math.log(p_min) / math.log(p1)))
            n_planes = min(max(n_planes, density_floor), compensable, 48)
    p = p1 ** n_planes
    if p >= 1.0:
        return n_planes, 1
    n_tables = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p)))
    return n_planes, min(n_tables, 64)

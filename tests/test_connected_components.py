"""Connected components vs a pure-Python union-find oracle on adversarial
graphs (chains, stars, cliques, random) — reference analog: the chained-links
doc of find_connected_ids (/root/reference/utils/dataset_ingestion_utils.py:
487-540)."""

import os
import random

import numpy as np

from nhse_probabilistic_linkage_spark.operators.connected_components import (
    _fastsv,
    assign_components,
    connected_components,
)

I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        if a != b:  # self-loop-only nodes are singletons: backfilled by
            union(a, b)  # assign_components, absent from connected_components
    return {n: find(n) for n in parent}


def _check(spark, edges: list[tuple[int, int]]):
    df = spark.createDataFrame(edges, "src long, dst long")
    # default path (local union-find finish once the frontier is small) and
    # the pure distributed star loop must agree with the oracle — and each other
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == _oracle(edges)
    dist = {
        r.id: r.component
        for r in connected_components(df, local_finish_edges=0).collect()
    }
    assert dist == got


def _check_kernel(edges: list[tuple[int, int]]):
    arr = np.array(edges, dtype=np.int64).reshape(-1, 2)
    ids, comps = _fastsv(arr[:, 0], arr[:, 1])
    assert ids.tolist() == sorted({n for e in edges for n in e})
    # self-loop-only ids are their own component; _oracle leaves them out
    expected = {n: n for n in ids.tolist()} | _oracle(edges)
    assert dict(zip(ids.tolist(), comps.tolist())) == expected


def test_fastsv_random_order_long_path():
    # diameter ~1e5: min-label propagation would need one round per hop
    ids = random.Random(3).sample(range(10**12), 120_000)
    _check_kernel(list(zip(ids, ids[1:])))


def test_fastsv_mega_cliques_and_small_clusters_permuted():
    rng = random.Random(5)
    perm = rng.sample(range(10**9), 2 * 580 + 600)
    edges = [(perm[i], perm[j]) for i in range(580) for j in range(i + 1, 580)]
    edges += [(perm[580 + i], perm[580 + j]) for i in range(580) for j in range(i + 1, 580)]
    for k in range(1160, len(perm), 3):  # 200 three-node paths
        edges += list(zip(perm[k : k + 3], perm[k + 1 : k + 3]))
    rng.shuffle(edges)
    _check_kernel(edges)


def test_fastsv_star_and_reverse_star():
    _check_kernel([(0, i) for i in range(1, 5000)])
    _check_kernel([(i, 0) for i in range(1, 5000)])
    _check_kernel([(5000, i) for i in range(5000)] + [(i, 9999) for i in range(6000, 9999)])


def test_fastsv_duplicate_reversed_and_self_edges():
    _check_kernel([(1, 2), (2, 1), (1, 2), (2, 2), (3, 3), (4, 5), (5, 4), (5, 5), (6, 4)] * 3)
    _check_kernel([(7, 7)])


def test_fastsv_negative_and_extreme_ids():
    rng = random.Random(9)
    xs = [I64_MIN, I64_MIN + 1, -1, 0, 1, I64_MAX - 1, I64_MAX]
    xs += [rng.randint(I64_MIN, I64_MAX) for _ in range(400)]
    edges = [(rng.choice(xs), rng.choice(xs)) for _ in range(300)]
    _check_kernel(edges + [(I64_MAX, I64_MIN), (-1, I64_MAX)])


def test_cc_chain(spark):
    _check(spark, [(i, i + 1) for i in range(60)])


def test_cc_star_and_reverse_star(spark):
    _check(spark, [(100, i) for i in range(20)] + [(j, 200) for j in range(300, 320)])


def test_cc_two_cliques_bridged(spark):
    clique1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    clique2 = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    _check(spark, clique1 + clique2 + [(4, 10)])


def test_cc_random_graph(spark):
    rng = random.Random(42)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_cc_self_loops_and_duplicates(spark):
    _check(spark, [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3)])


def test_cc_negative_and_extreme_ids(spark):
    # doc ids are xxhash64 values: the whole signed int64 range occurs
    _check(spark, [(I64_MIN, I64_MAX), (I64_MAX, -1), (-5, I64_MIN + 1), (I64_MIN + 1, 7), (3, -3)])


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_local_finish_mid_loop_handoff(spark):
    # threshold below the initial edge count but above the contracted
    # frontier: the loop must run distributed star rounds first, then hand
    # the shrunken frontier to the union-find — same assignment as both
    # pure paths
    rng = random.Random(7)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    oracle = _oracle(edges)
    star_edges = len(oracle) - len(set(oracle.values()))  # converged frontier size
    canon = len({(max(a, b), min(a, b)) for a, b in edges})
    assert canon > star_edges  # premise: round 0 MUST run distributed...
    df = spark.createDataFrame(edges, "src long, dst long")
    mid = {
        r.id: r.component
        # ...and the frontier contracts to star_edges, so the union-find
        # handoff is guaranteed to trigger before distributed convergence
        for r in connected_components(df, local_finish_edges=star_edges).collect()
    }
    assert mid == oracle


def test_cc_round0_dedup_and_checkpoint_slots(spark, tmp_path):
    # duplicates and reversed copies put the raw row count above the
    # threshold while the distinct count is not: at `raw` the raw rows go
    # straight to the driver, at `distinct` round 0 dedups and then
    # finishes locally, at 1 the star rounds run; every checkpointed run
    # stages to the two alternating slots only
    rng = random.Random(13)
    base = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = base + [(b, a) for a, b in base] + base[:40]
    raw = sum(a != b for a, b in edges)
    distinct = len({(max(a, b), min(a, b)) for a, b in edges if a != b})
    oracle = _oracle(edges)
    star_edges = len(oracle) - len(set(oracle.values()))  # converged frontier size
    assert raw > distinct and star_edges > 1  # premise: threshold 1 never finishes locally
    df = spark.createDataFrame(edges, "src long, dst long")
    cases = {raw: {"cc_round_1"}, distinct: {"cc_round_0", "cc_round_1"}, 1: {"cc_round_0", "cc_round_1"}}
    for thr, slots in cases.items():
        got = {r.id: r.component for r in connected_components(df, local_finish_edges=thr).collect()}
        assert got == oracle
        d = tmp_path / f"cc_{thr}"
        durable = connected_components(df, checkpoint_dir="file:" + str(d), local_finish_edges=thr)
        assert {r.id: r.component for r in durable.collect()} == oracle
        assert set(os.listdir(d)) == slots


def test_assign_components_backfills_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r.doc_id: r.cluster_id for r in assign_components(docs, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5}

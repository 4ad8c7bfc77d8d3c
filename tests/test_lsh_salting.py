"""Salted band self-join: identical pair sets with salting on/off, hot-band
routing, and cap accounting interplay.

Reference analog: blocking rules are hand-tuned for selectivity and their
per-rule pair counts are audited (notebooks_dedupe/blocking_evaluation_dedupe
.py:154-175); ours must keep pair-set semantics invariant under the skew
mitigation."""

import pytest
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.operators.lsh import candidate_pairs


def _bands(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, band_id int, band_key long")


@pytest.fixture(scope="module")
def skewed_bands(spark):
    rows = []
    # hot band 100: 40 members -> 780 pairs
    rows += [(i, 0, 100) for i in range(40)]
    # cold band 200: 3 members
    rows += [(50, 1, 200), (51, 1, 200), (52, 1, 200)]
    # mega band 300: 60 members, to be capped
    rows += [(1000 + i, 2, 300) for i in range(60)]
    return _bands(spark, rows)


def _pairset(df):
    return {(r["id_l"], r["id_r"], r["match_key"]) for r in df.collect()}


def test_salted_equals_unsalted(spark, skewed_bands):
    plain, _ = candidate_pairs(skewed_bands, band_cap=None, salt_threshold=None)
    salted, _ = candidate_pairs(skewed_bands, band_cap=None, salt_threshold=10, salt_groups=4)
    assert _pairset(plain) == _pairset(salted)
    # 40*39/2 + 3 + 60*59/2 pairs
    assert plain.count() == 780 + 3 + 1770


def test_salting_with_cap(spark, skewed_bands):
    pairs, dropped = candidate_pairs(skewed_bands, band_cap=50, salt_threshold=10, salt_groups=4)
    # band 300 (60 members) dropped; band 100 salted; band 200 plain
    assert {(r["band_key"], r["band_size"]) for r in dropped.collect()} == {(300, 60)}
    assert pairs.count() == 780 + 3
    ids = pairs.select("id_l").union(pairs.select("id_r")).distinct()
    assert ids.filter(F.col("id_l") >= 1000).count() == 0


def test_salting_cross_band_dedup(spark):
    # same pair found in two bands -> one row, match_key = min band_id;
    # one band hot (salted), one cold
    rows = [(i, 0, 1) for i in range(20)] + [(0, 1, 2), (1, 1, 2)]
    pairs, _ = candidate_pairs(_bands(spark, rows), band_cap=None, salt_threshold=5, salt_groups=3)
    got = {(r["id_l"], r["id_r"]): r["match_key"] for r in pairs.collect()}
    assert got[(0, 1)] == 0
    assert len(got) == 190


def test_salt_groups_one_is_identity(spark, skewed_bands):
    one, _ = candidate_pairs(skewed_bands, band_cap=None, salt_threshold=1, salt_groups=1)
    plain, _ = candidate_pairs(skewed_bands, band_cap=None, salt_threshold=None)
    assert _pairset(one) == _pairset(plain)


def _oracle_band_rows():
    """Seeded band table: every band_key belongs to one band_id (as in real
    LSH, where band_key hashes the band index), some (doc, band) rows are
    duplicated, pair (0, 1) collides in three bands, and one band is far
    over the small cap."""
    import random

    rng = random.Random(20240611)
    rows = []
    for key in range(1, 25):
        band_id = key % 4
        members = rng.sample(range(30), rng.randint(1, 7))
        rows += [(m, band_id, key) for m in members]
        if rng.random() < 0.3:
            rows.append((members[0], band_id, key))  # duplicate (doc, band) row
    rows += [(0, 3, 101), (1, 3, 101), (0, 2, 102), (1, 2, 102), (5, 2, 102)]
    rows += [(0, 1, 103), (1, 1, 103), (7, 1, 103), (7, 1, 103)]
    rows += [(40 + i, 0, 200) for i in range(12)]  # over the small cap
    return rows


def _oracle(rows, band_cap):
    import itertools
    from collections import defaultdict

    size, members, band_of = defaultdict(int), defaultdict(set), {}
    for doc, band_id, key in rows:
        size[key] += 1
        members[key].add(doc)
        band_of[key] = band_id
    pairs, dropped = {}, set()
    for key, n in size.items():
        if band_cap is not None and n > band_cap:
            dropped.add((key, n))
            continue
        for a, b in itertools.combinations(sorted(members[key]), 2):
            pairs[(a, b)] = min(pairs.get((a, b), band_of[key]), band_of[key])
    return {(a, b, k) for (a, b), k in pairs.items()}, dropped


@pytest.mark.parametrize("salt_groups", [1, 3])
@pytest.mark.parametrize("salt_threshold", [None, 1, 3])
@pytest.mark.parametrize("band_cap", [None, 6])
def test_single_path_matches_python_oracle(spark, band_cap, salt_threshold, salt_groups):
    """Every cap/salt setting runs the same plan and must give the pure-Python
    answer: per-band combinations of distinct members, match_key = the
    smallest band_id the pair collides in, and bands over the cap (by ROW
    count, duplicates included) dropped into the accounting table."""
    rows = _oracle_band_rows()
    pairs, dropped = candidate_pairs(
        _bands(spark, rows), band_cap=band_cap, salt_threshold=salt_threshold,
        salt_groups=salt_groups,
    )
    want_pairs, want_dropped = _oracle(rows, band_cap)
    assert _pairset(pairs) == want_pairs
    assert pairs.count() == len(want_pairs)  # no duplicate pair rows
    assert {(r["band_key"], r["band_size"]) for r in dropped.collect()} == want_dropped
    assert dropped.count() == len(want_dropped)
    if band_cap is not None:
        assert (200, 12) in want_dropped

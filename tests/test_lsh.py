"""LSH banding + candidate-pair tests, incl. band-cap accounting
(reference analog: blocking-rule coverage tests, SURVEY.md §5)."""

from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
from nhse_probabilistic_linkage_spark.functions.text import prepare_docs
from nhse_probabilistic_linkage_spark.operators.lsh import band_keys, candidate_pairs
from nhse_probabilistic_linkage_spark.operators.verify import verify_pairs
from nhse_probabilistic_linkage_spark.operators.simhash_lsh import simhash_block_keys, verify_hamming
from nhse_probabilistic_linkage_spark.functions.simhash import with_simhash


def _docs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return with_minhash(prepare_docs(df))


def test_band_count_per_doc(spark):
    docs = _docs(spark, [(1, "a b c d e f g h i j")])
    bands = band_keys(docs)
    assert bands.count() == 32
    assert bands.select("band_id").distinct().count() == 32


def test_exact_dups_collide_in_all_bands(spark):
    text = "the quick brown fox jumps over the lazy dog tonight again"
    docs = _docs(spark, [(1, text), (2, text)])
    bands = band_keys(docs)
    shared = (
        bands.groupBy("band_key").agg(F.countDistinct("doc_id").alias("n")).where("n = 2").count()
    )
    assert shared == 32


def test_candidate_pairs_and_match_key(spark):
    text = "the quick brown fox jumps over the lazy dog tonight again"
    docs = _docs(spark, [(1, text), (2, text), (3, "totally different words about nothing shared here at all today")])
    pairs, dropped = candidate_pairs(band_keys(docs), band_cap=100)
    got = [(r.id_l, r.id_r, r.match_key) for r in pairs.collect()]
    assert got == [(1, 2, 0)]
    assert dropped.count() == 0


def test_band_cap_drops_hot_band_with_accounting(spark):
    text = "identical boilerplate page content repeated across the whole mirror set"
    docs = _docs(spark, [(i, text) for i in range(6)])
    pairs, dropped = candidate_pairs(band_keys(docs), band_cap=3)
    # every band holds all 6 docs -> all capped -> no pairs, 32 dropped bands
    assert pairs.count() == 0
    assert dropped.count() == 32
    assert dropped.agg(F.max("band_size")).collect()[0][0] == 6


def test_verify_jaccard_values(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c d e f g h i j"),  # 6 shingles
            (2, "a b c d e f g h i j"),  # identical
            (3, "a b c d e f g h i x"),  # differs in last token
        ],
    )
    pairs, _ = candidate_pairs(band_keys(docs), band_cap=100)
    ver = verify_pairs(pairs, docs)
    got = {(r.id_l, r.id_r): round(r.jaccard, 4) for r in ver.collect()}
    assert got[(1, 2)] == 1.0
    if (1, 3) in got:  # may or may not be a candidate; jaccard = 5/7
        assert got[(1, 3)] == round(5 / 7, 4)


def test_simhash_pigeonhole_finds_near_dups(spark):
    base = " ".join(f"word{i}" for i in range(80))
    near = " ".join(f"word{i}" for i in range(79)) + " changed"
    df = spark.createDataFrame([(1, base), (2, near), (3, "x y z " * 20)], "doc_id long, text string")
    docs = with_simhash(prepare_docs(df))
    blocks = simhash_block_keys(docs, max_hamming=3)
    assert blocks.where("doc_id = 1").count() == 4
    cands, _ = candidate_pairs(blocks, band_cap=100)
    ver = verify_hamming(cands, docs, max_hamming=3)
    got = {(r.id_l, r.id_r): r.hamming for r in ver.collect()}
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert (1, 3) not in got


def test_mixed_band_sizes_route_correctly(spark):
    """One input containing a cold band (combination explode), a hot band
    (salted self-join), and a mega band (> cap, dropped): the router must
    produce exactly the cold+hot pair sets and account the mega band with
    its true size — no cross-talk between branches."""
    import itertools

    rows = (
        [(i, 0, 100) for i in range(3)]  # cold: 3 members <= salt_threshold
        + [(10 + i, 1, 200) for i in range(6)]  # hot: salted path
        + [(100 + i, 2, 300) for i in range(12)]  # mega: over band_cap
    )
    bands = spark.createDataFrame(rows, "doc_id long, band_id int, band_key long")
    pairs, dropped = candidate_pairs(bands, band_cap=10, salt_threshold=4, salt_groups=3)
    got = {(r.id_l, r.id_r) for r in pairs.collect()}
    want = set(itertools.combinations(range(3), 2)) | set(
        itertools.combinations(range(10, 16), 2)
    )
    assert got == want
    assert [(r.band_key, r.band_size) for r in dropped.collect()] == [(300, 12)]


def test_band_keys_element_at_identical_to_slice(spark):
    """r6 band fanout rewrite: xxhash64 over element_at args must equal
    xxhash64(band_id, slice) — Spark folds array elements and separate
    arguments through the same per-value hash chain."""
    from pyspark.sql import functions as F

    from nhse_probabilistic_linkage_spark.operators.lsh import band_keys

    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.transform(F.sequence(F.lit(1), F.lit(128)), lambda i: F.xxhash64(F.col("id"), i)).alias(
            "minhash"
        ),
    )
    got = band_keys(df, id_col="doc_id")
    ref_arr = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: F.xxhash64(i, F.slice(F.col("minhash"), i * F.lit(4) + 1, F.lit(4))),
    )
    ref = df.select(F.col("doc_id"), F.posexplode(ref_arr).alias("band_id", "band_key"))
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in ref.collect())
    assert a == b

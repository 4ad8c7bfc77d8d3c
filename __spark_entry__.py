"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship near-dup clustering on /root/testdata/sf0.001.
queries()     -> the dedup, similarity, text-analysis and record-linkage
                 operators, each as a (spark, sf_dir) -> DataFrame callable,
                 in registration order.
oracle_sql()  -> DuckDB-equivalent SQL for every query (hash-dependent
                 detectors return constant-truth contract columns; iterative
                 CC is replayed as a recursive CTE).

Column names and rounding are aligned between both sides so Spark and DuckDB
agree bit-for-bit.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.functions import textstats as TS
from nhse_probabilistic_linkage_spark.functions.text import normalize_text, prepare_docs, tokenize
from nhse_probabilistic_linkage_spark.operators.best_match import best_match_per_doc
from nhse_probabilistic_linkage_spark.operators.connected_components import assign_components
from nhse_probabilistic_linkage_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    substring_dedup_pairs,
)
from nhse_probabilistic_linkage_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
)
from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
from nhse_probabilistic_linkage_spark.functions.sampling import (
    affine_bucket_expr,
    affine_bucket_sql,
    sample_pairs,
)
from nhse_probabilistic_linkage_spark.operators.agreement import agreement_vectors
from nhse_probabilistic_linkage_spark.operators.lookup import lookup_enrich_array, lookup_replace
from nhse_probabilistic_linkage_spark.operators.nested import explode_history, recombine_histories
from nhse_probabilistic_linkage_spark.operators.verify import similarity_buckets, verify_pairs
from nhse_probabilistic_linkage_spark.sources.tables import load_table, spread_input


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# entry: flagship query
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Near-duplicate clusters of the documents table at sf0.001: LSH
    candidate pairs -> exact-Jaccard verify -> connected components ->
    (doc_id, cluster_id, is_duplicate)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    cfg = DedupConfig(jaccard_threshold=0.7)
    verified, _dropped = minhash_lsh_pairs(docs, cfg)
    clusters = assign_components(
        docs,
        verified.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")),
    )
    return clusters.withColumn("is_duplicate", F.col("cluster_id") != F.col("doc_id"))


# --------------------------------------------------------------------------
# shared SQL fragments for oracles (normalization/shingling parity)
# --------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))"
_TOKS = f"list_filter(string_split({_NORM}, ' '), t -> t <> '')"

_SHINGLES_CTE = f"""
docs AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5
              THEN list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)])
              WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
              ELSE [] END AS s
  FROM docs
)
"""

_JACCARD_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (
  SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
  FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
),
scored AS (
  SELECT c.id_l, c.id_r,
         round(len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
  FROM cand c JOIN sh a ON c.id_l = a.doc_id JOIN sh b ON c.id_r = b.doc_id
)
SELECT id_l, id_r, jaccard FROM scored WHERE jaccard >= __THR__
"""


def _spark_jaccard_pairs(spark, sf_dir, thr):
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=5, threshold=thr)
    return pairs.select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- windows (SURVEY §2.5)
    def q20_top3_orders_per_customer(spark, sf_dir):
        # row_number rank-filter AND analytic max over the same partition
        # (the get_best_match shape, reference utils/model_utils.py:218-236):
        # one window pass covers SURVEY §2.5 rows 28 and 29
        o = _t(spark, sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        wp = Window.partitionBy("o_custkey")
        return (
            o.withColumn("rank", F.row_number().over(w))
            .withColumn("max_price", F.max("o_totalprice").over(wp))
            .filter(F.col("rank") <= 3)
            .select(
                "o_custkey",
                "o_orderkey",
                F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price"),
                "rank",
                F.col("max_price").cast("decimal(18,2)").cast("double").alias("max_price"),
                (F.col("o_totalprice") == F.col("max_price")).alias("is_best"),
            )
        )

    q["q20_top3_orders_per_customer"] = q20_top3_orders_per_customer

    # ---- string / array functions (SURVEY §2.8)
    def q42_array_ops(spark, sf_dir):
        # array function family (SURVEY §2.8: array_distinct/intersect/
        # contains/size/remove — reference utils/preprocessing_utils.py:176,
        # 199, utils/parameter_lists.py:33,41)
        docs = _t(spark, sf_dir, "documents")
        toks = F.split(normalize_text(F.col("text")), " ")
        stop = F.array(F.lit("the"), F.lit("and"), F.lit("of"))
        return docs.select(
            "doc_id",
            F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
            F.array_contains(toks, "data").alias("has_data"),
            F.size(F.array_intersect(F.array_distinct(toks), stop)).alias("n_stopword_kinds"),
            F.size(F.array_remove(toks, "the")).alias("n_tokens_no_the"),
        )

    q["q42_array_ops"] = q42_array_ops

    def q43_explode_outer_window_prune(spark, sf_dir):
        # the reference's history-explode shape (utils/dataset_ingestion_
        # utils.py:191-259): explode_outer an array, then drop null rows
        # when a non-null sibling exists via count().over(partitionBy) —
        # docs with no tokens keep one null row, docs with tokens keep only
        # real rows
        docs = _t(spark, sf_dir, "documents")
        long_toks = F.filter(tokenize(F.col("text")), lambda t: F.length(t) >= 10)
        exploded = docs.select("doc_id", F.explode_outer(long_toks).alias("tok"))
        w = Window.partitionBy("doc_id")
        return (
            exploded.withColumn("n_nonnull", F.count("tok").over(w))
            .where(F.col("tok").isNotNull() | (F.col("n_nonnull") == 0))
            .groupBy("doc_id")
            .agg(
                F.count("tok").alias("n_long_tokens"),
                F.sum(F.when(F.col("tok").isNull(), 1).otherwise(0)).alias("n_null_rows"),
            )
        )

    q["q43_explode_outer_window_prune"] = q43_explode_outer_window_prune

    def q17_lookup_replace_enrich(spark, sf_dir):
        # broadcast lookup-and-replace (supersession semantics,
        # reference utils/dataset_ingestion_utils.py:87-103) + array-enrich
        # lookup with empty-array default (nicknames,
        # utils/preprocessing_utils.py:508-540)
        c = _t(spark, sf_dir, "customer")
        n = _t(spark, sf_dir, "nation")
        supersede = n.filter(F.col("n_regionkey") == 0).select(
            F.col("n_nationkey").alias("old_key"),
            (F.col("n_nationkey") + 100).alias("new_key"),
        )
        out = lookup_replace(c, supersede, "c_nationkey", "old_key", "new_key",
                             out_col="nation_resolved")
        aliases = (
            c.select("c_mktsegment").distinct()
            .select(
                F.col("c_mktsegment").alias("seg"),
                F.array(F.lower("c_mktsegment"), F.substring("c_mktsegment", 1, 3)).alias("alts"),
            )
        )
        out = lookup_enrich_array(out, aliases, "c_mktsegment", "seg", "alts", "seg_names")
        return out.select(
            "c_custkey", "c_nationkey", "nation_resolved",
            F.concat_ws(",", "seg_names").alias("seg_names"),
        )

    q["q17_lookup_replace_enrich"] = q17_lookup_replace_enrich

    def q34_hash_bucket_sample(spark, sf_dir):
        # deterministic 1/k bucketing subsample (SURVEY §2.6 row 35 — the
        # reference's rand(seed=42) bucketing,
        # select_training_data_dedupe.py:58-65) keyed on a stable hash so
        # membership survives repartitioning/resume; the affine variant is
        # bit-reproducible in the DuckDB oracle
        o = _t(spark, sf_dir, "orders")
        return o.where(affine_bucket_expr("o_orderkey", 16) == 0).select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )

    q["q34_hash_bucket_sample"] = q34_hash_bucket_sample

    def q35_pair_sample(spark, sf_dir):
        # u-style random-pair sampler (SURVEY §2.6 row 34 — the reference's
        # orderBy(rand(seed)).limit / Splink u-estimation analog): two thin
        # deterministic side-samples joined, never a global sort or full
        # pair materialization
        c = _t(spark, sf_dir, "customer")
        return sample_pairs(c, "c_custkey", 8, method="affine")

    q["q35_pair_sample"] = q35_pair_sample

    def q37_threshold_confusion(spark, sf_dir):
        # the single-pass precision/recall sweep that replaces the
        # reference's 4 count() jobs per threshold ("~40 minutes",
        # utils/eval_utils.py:485-520, evaluation_dedupe.py:135): truth =
        # pairs at jaccard >= 0.6, swept at 0.5/0.7/0.9 in ONE aggregation
        from nhse_probabilistic_linkage_spark.plans.evaluate import threshold_confusion

        scored = _spark_jaccard_pairs(spark, sf_dir, 0.3)
        expected = scored.where(F.col("jaccard") >= 0.6).select("id_l", "id_r")
        return threshold_confusion(scored, expected, [0.5, 0.7, 0.9])

    q["q37_threshold_confusion"] = q37_threshold_confusion

    def q44_nested_history(spark, sf_dir):
        # array<struct> history columns: null-strip -> explode_outer ->
        # field access -> dedup -> window null-prune, then the multi-way
        # OUTER recombination (the reference's core ingest shape,
        # utils/dataset_ingestion_utils.py:358-453, cartesian at :433-437)
        docs = _t(spark, sf_dir, "documents")
        toks = tokenize(F.col("text"))
        as_hist = lambda arr: F.transform(
            arr, lambda t, i: F.struct(t.alias("tok"), (i + 1).alias("pos"))
        )
        with_hist = docs.select(
            "doc_id",
            as_hist(F.slice(toks, 1, 2)).alias("lead_hist"),
            as_hist(F.slice(F.reverse(toks), 1, 2)).alias("tail_hist"),
        )
        lead = explode_history(with_hist, "doc_id", "lead_hist", fields=["tok"], prefix="lead_")
        tail = explode_history(with_hist, "doc_id", "tail_hist", fields=["tok"], prefix="tail_")
        return recombine_histories([lead, tail], "doc_id")

    q["q44_nested_history"] = q44_nested_history

    def q45_agreement_vectors(spark, sf_dir):
        # detector-agreement vectors over two SQL-expressible detectors —
        # the reference's agreement pattern (utils/eval_utils.py:207-215):
        # per distinct pair, per-detector flags + concatenated pattern
        docs = _t(spark, sf_dir, "documents")
        groups = exact_dedup(docs).where("group_size > 1")
        exact_pairs = (
            groups.alias("l")
            .join(
                groups.alias("r"),
                (F.col("l.rep_id") == F.col("r.rep_id"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(F.col("l.doc_id").alias("id_l"), F.col("r.doc_id").alias("id_r"))
        )
        jac_pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.5).select("id_l", "id_r")
        av = agreement_vectors({"exact": exact_pairs, "jaccard": jac_pairs})
        return av.select(
            "id_l", "id_r", "exact_found", "jaccard_found", "agreement_pattern", "n_detectors"
        )

    q["q45_agreement_vectors"] = q45_agreement_vectors

    # ---- dedup suite (north-star operators)
    def q50_exact_dedup(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return exact_dedup(docs)

    q["q50_exact_dedup"] = q50_exact_dedup

    def q51_ngram_jaccard_pairs(spark, sf_dir):
        return _spark_jaccard_pairs(spark, sf_dir, 0.5)

    q["q51_ngram_jaccard_pairs"] = q51_ngram_jaccard_pairs

    def q52_minhash_lsh_pairs(spark, sf_dir):
        # probabilistic detector; at J>=0.8 with b=32,r=4 the miss probability
        # is ~5e-8 per pair, so output equals the brute-force oracle
        docs = _t(spark, sf_dir, "documents")
        verified, _ = minhash_lsh_pairs(docs, DedupConfig(jaccard_threshold=0.8))
        return verified.select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))

    q["q52_minhash_lsh_pairs"] = q52_minhash_lsh_pairs

    def q53_cc_clusters(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.5)
        return assign_components(
            docs, pairs.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst"))
        )

    q["q53_cc_clusters"] = q53_cc_clusters

    def q54_best_match(spark, sf_dir):
        pairs = _spark_jaccard_pairs(spark, sf_dir, 0.3)
        return best_match_per_doc(pairs, close_window=0.05).select(
            "id", "best_partner", F.round("best_score", 6).alias("best_score"), "close_match"
        )

    q["q54_best_match"] = q54_best_match

    def q57_substring_pairs(spark, sf_dir):
        # detector #3: winnowing candidates (recall 1.0 for spans >= 64 by
        # the Schleimer et al. guarantee) + suffix-array LCS verify; output
        # compared against the DuckDB all-64-grams brute-force join
        docs = _t(spark, sf_dir, "documents")
        pairs, _ = substring_dedup_pairs(docs, DedupConfig())
        return pairs.select("id_l", "id_r")

    q["q57_substring_pairs"] = q57_substring_pairs

    def q55_simhash_pairs(spark, sf_dir):
        # the PAIR SET is hash-dependent (not SQL-reproducible), so the
        # contract is violation counts that hold for ANY correct simhash
        # detector — oracle SELECTs constants. n_bad_hamming: every emitted
        # pair's hamming must sit in [0, max_hamming]; n_bad_order: pairs are
        # canonical (id_l < id_r); n_dup_rows: one row per pair. The HARD
        # correctness (no low-jaccard pairs, no missed identical-text pairs)
        # lives in q58_simhash_sanity.
        docs = _t(spark, sf_dir, "documents")
        cfg = DedupConfig()
        sh = simhash_pairs(docs, cfg).localCheckpoint(eager=True)
        bad_h = F.coalesce(
            F.sum(
                F.when(
                    (F.col("hamming") < 0) | (F.col("hamming") > cfg.simhash_max_hamming), 1
                )
            ),
            F.lit(0),
        )
        bad_o = F.coalesce(F.sum(F.when(F.col("id_l") >= F.col("id_r"), 1)), F.lit(0))
        stats = sh.agg(
            bad_h.cast("long").alias("n_bad_hamming"),
            bad_o.cast("long").alias("n_bad_order"),
            (F.count("*") - F.countDistinct("id_l", "id_r")).cast("long").alias("n_dup_rows"),
        )
        return stats

    q["q55_simhash_pairs"] = q55_simhash_pairs

    def q56_minhash_signatures(spark, sf_dir):
        # signature invariants the oracle CAN check: every signature is
        # exactly num_perms long, and identical normalized text => identical
        # signature (determinism of the Arrow kernel) — so the oracle is a
        # constant-truth table over documents
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        sigs = with_minhash(prepare_docs(docs)).select(
            "doc_id",
            normalize_text(F.col("text")).alias("_norm"),
            F.size("minhash").alias("sig_len"),
            F.xxhash64(F.concat_ws(",", F.transform("minhash", lambda x: x.cast("string")))).alias("_sig_h"),
        )
        per_text = sigs.groupBy("_norm").agg(F.countDistinct("_sig_h").alias("_n_sigs"))
        return (
            sigs.join(per_text, "_norm")
            .select("doc_id", "sig_len", (F.col("_n_sigs") == 1).alias("sig_consistent"))
        )

    q["q56_minhash_signatures"] = q56_minhash_signatures

    def q58_simhash_sanity(spark, sf_dir):
        # hard correctness signal for detector #2 (SimHash): (a) no simhash
        # pair may have exact shingle-jaccard below a sanity floor (hamming
        # <= 3 of 64 implies high similarity), (b) every identical-text pair
        # MUST be found (identical text -> identical simhash -> shared
        # pigeonhole block -> hamming 0). Reference analog: missed_duplicate
        # accounting, utils/eval_utils.py:451-481. Oracle: SELECT 0, 0.
        docs = _t(spark, sf_dir, "documents")
        cfg = DedupConfig()
        sh = simhash_pairs(docs, cfg).select("id_l", "id_r").localCheckpoint(eager=True)
        prepared = prepare_docs(docs.select("doc_id", "text")).select("doc_id", "shingles")
        scored = verify_pairs(sh, prepared)
        lowjac = scored.agg(
            F.coalesce(F.sum(F.when(F.col("jaccard") < 0.2, 1)), F.lit(0))
            .cast("long")
            .alias("n_lowjac")
        )
        groups = exact_dedup(docs).where("group_size > 1")
        dup_pairs = (
            groups.alias("l")
            .join(
                groups.alias("r"),
                (F.col("l.rep_id") == F.col("r.rep_id"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(F.col("l.doc_id").alias("id_l"), F.col("r.doc_id").alias("id_r"))
        )
        missed = dup_pairs.join(sh, ["id_l", "id_r"], "left_anti").agg(
            F.count("*").cast("long").alias("n_missed_exact")
        )
        return lowjac.crossJoin(missed)

    q["q58_simhash_sanity"] = q58_simhash_sanity

    def q59_similarity_buckets(spark, sf_dir):
        # gamma-analog ordinal similarity levels per verified pair
        # (reference comparison levels, utils/parameter_lists.py:2-60)
        pairs = _spark_jaccard_pairs(spark, sf_dir, 0.3)
        return similarity_buckets(pairs).select("id_l", "id_r", "jaccard", "sim_level")

    q["q59_similarity_buckets"] = q59_similarity_buckets

    # ---- similarity search
    def q60_embedding_neardup(spark, sf_dir):
        em = _t(spark, sf_dir, "embeddings")
        em = em.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        return embedding_neardup_pairs(em, threshold=0.4, exact=True).select(
            "id_l", "id_r", F.round("cosine", 4).alias("cosine")
        )

    q["q60_embedding_neardup"] = q60_embedding_neardup

    def q61_ann_topk(spark, sf_dir):
        em = _t(spark, sf_dir, "embeddings")
        em = em.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding"))
        queries_df = em.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        corpus = em.filter(F.col("vec_id") >= 10)
        return brute_force_topk(corpus, queries_df, k=5).select(
            "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
        )

    q["q61_ann_topk"] = q61_ann_topk

    def q63_embedding_lsh_recall(spark, sf_dir):
        # the SCALE path for embedding near-dup (multi-table hyperplane LSH
        # + exact-cosine verify) cross-checked against the exact all-pairs
        # result: precision violations must be 0 (the verify guarantees it)
        # and recall must clear the model's floor. Deterministic (seeded
        # hyperplanes), so the oracle is constant truth.
        em = _t(spark, sf_dir, "embeddings")
        em = em.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        lsh = embedding_neardup_pairs(em, threshold=0.4, exact=False).select(
            "id_l", "id_r"
        ).localCheckpoint(eager=True)
        exact = embedding_neardup_pairs(em, threshold=0.4, exact=True).select(
            "id_l", "id_r"
        ).localCheckpoint(eager=True)
        prec = lsh.join(exact, ["id_l", "id_r"], "left_anti").agg(
            F.count("*").cast("long").alias("n_precision_violations")
        )
        rec = (
            exact.join(lsh.withColumn("_hit", F.lit(1)), ["id_l", "id_r"], "left")
            .agg((F.sum(F.coalesce("_hit", F.lit(0))) / F.count("*")).alias("_recall"))
            .select((F.col("_recall") >= 0.9).alias("recall_ok"))
        )
        return prec.crossJoin(rec)

    q["q63_embedding_lsh_recall"] = q63_embedding_lsh_recall

    # ---- text analysis suite
    def q70_textstats(spark, sf_dir):
        # spread_input: the documents parquet is a single row group, so the
        # regex-heavy stats would run on 1-2 scan tasks (r6; no-op on wide
        # inputs, identical output rows)
        docs = spread_input(_t(spark, sf_dir, "documents"))
        return TS.with_textstats(docs).select(
            "doc_id", "ws_tokens", "bpe_tokens", "mean_tok_len", "alpha_ratio", "quality"
        )

    q["q70_textstats"] = q70_textstats

    def q71_lang_id(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return docs.select("doc_id", TS.lang_id(F.col("text")).alias("lang_pred"))

    q["q71_lang_id"] = q71_lang_id

    def q72_fingerprint_cardinality(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return docs.groupBy("lang").agg(
            F.countDistinct(TS.doc_fingerprint(F.col("text"))).alias("n_distinct_docs"),
            F.count("*").alias("n_docs"),
        )

    q["q72_fingerprint_cardinality"] = q72_fingerprint_cardinality

    def q73_url_canonical(spark, sf_dir):
        # URL canonicalization (functions/urls.py) — the web-corpus analog of
        # the reference's field cleaning (preprocessing_utils.py:84-125).
        # Deterministic URL variants (scheme/www/fragment/tracking/trailing-
        # slash noise) are synthesized per doc; the oracle constructs the
        # expected canonical form analytically, so the check is independent
        # of any SQL regex dialect.
        from nhse_probabilistic_linkage_spark.functions.urls import normalize_url, url_host

        docs = _t(spark, sf_dir, "documents")
        k = F.col("doc_id")
        host = F.concat(F.lit("site"), F.pmod(k, F.lit(7)).cast("string"), F.lit(".example.com"))
        path = F.concat(F.lit("/page/"), F.pmod(k, F.lit(100)).cast("string"))
        v = F.pmod(k, F.lit(5))
        url = (
            F.when(v == 0, F.concat(F.lit("http://"), host, path))
            .when(v == 1, F.concat(F.lit("https://www."), host, path, F.lit("/")))
            .when(v == 2, F.concat(F.lit("HTTP://"), F.upper(host), path, F.lit("#frag")))
            .when(v == 3, F.concat(host, path, F.lit("?utm_source=abc")))
            .otherwise(F.concat(F.lit("http://"), host, path, F.lit("?a=1&utm_campaign=x&b=2")))
        )
        return docs.select(
            "doc_id",
            normalize_url(url).alias("canon_url"),
            url_host(url).alias("host"),
        )

    q["q73_url_canonical"] = q73_url_canonical

    def q74_repetition_filters(spark, sf_dir):
        # Gopher/MassiveText-style repetition signals, all-native expressions
        docs = _t(spark, sf_dir, "documents")
        return docs.select(
            "doc_id",
            F.round(TS.duplicate_line_ratio(F.col("text")), 6).alias("dup_line_ratio"),
            F.round(TS.top_token_ratio(F.col("text")), 6).alias("top_token_ratio"),
            TS.repetition_flags(F.col("text")).alias("passes_repetition"),
        )

    q["q74_repetition_filters"] = q74_repetition_filters

    def q39_domain_quota(spark, sf_dir):
        # per-stratum quota cap — "at most N docs per domain/source", the
        # training-data selection idiom (row_number over the stratum, kept
        # deterministic; explicit doc_id tiebreak so the oracle replays it)
        from nhse_probabilistic_linkage_spark.functions.sampling import stratified_cap

        docs = _t(spark, sf_dir, "documents")
        return stratified_cap(
            docs, "source", quota=12, order_col="n_chars", tiebreak=F.col("doc_id")
        ).select("doc_id", "source", "n_chars")

    q["q39_domain_quota"] = q39_domain_quota

    def q75_decontaminate(spark, sf_dir):
        # benchmark decontamination: docs sharing 5-gram shingles with a
        # held-out "eval set" (every 97th doc), flagged with overlap counts.
        # The benchmark gram set broadcasts; the corpus is never shuffled.
        from nhse_probabilistic_linkage_spark.operators.decontaminate import (
            contamination_hits,
        )

        docs = _t(spark, sf_dir, "documents")
        bench = docs.where(F.pmod("doc_id", F.lit(97)) == 0)
        corpus = docs.where(F.pmod("doc_id", F.lit(97)) != 0)
        return contamination_hits(corpus, bench).select(
            "doc_id",
            "n_hits",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.round("hit_ratio", 6).alias("hit_ratio"),
        )

    q["q75_decontaminate"] = q75_decontaminate

    def q78_tiered_dedup(spark, sf_dir):
        # the tier cascade: exact collapse, then MinHash near-dup on the
        # survivors only; status rows account for every input doc and
        # canonical ids are resolved through the chain. At J>=0.8 the
        # MinHash tier's pair set equals the brute-force oracle (q52's
        # equivalence regime), so the whole cascade is SQL-replayable.
        from nhse_probabilistic_linkage_spark.plans.tiers import tiered_dedup

        docs = _t(spark, sf_dir, "documents")
        out = tiered_dedup(docs, DedupConfig(jaccard_threshold=0.8))
        return out["status"]

    q["q78_tiered_dedup"] = q78_tiered_dedup

    def q89_phonetic_block(spark, sf_dir):
        # phonetic blocking keys (functions/phonetics.py): the reference's
        # soundex/double-metaphone blocking columns (preprocessing_utils.py:
        # 211,427-433) re-expressed as a pure regexp_replace chain — zero
        # Python in the map, whole-stage codegen end to end. Key histogram
        # over the first word of part names.
        from nhse_probabilistic_linkage_spark.functions.phonetics import phonetic_key

        parts = _t(spark, sf_dir, "part")
        word = F.regexp_extract(F.col("p_name"), "^[a-z]+", 0)
        keyed = parts.select(word.alias("word"), phonetic_key(word, 4).alias("pkey"))
        return keyed.groupBy("pkey").agg(
            F.count("*").alias("n_parts"), F.countDistinct("word").alias("n_words")
        )

    q["q89_phonetic_block"] = q89_phonetic_block

    def q90_fs_em(spark, sf_dir):
        # Fellegi–Sunter m/u training (operators/fellegi_sunter.py): fixture
        # pairs (each order with its key-successor; the global window is a
        # fixture-only pair generator — production pairs come from blocking)
        # -> binary agreement vectors -> ONE pattern-count shuffle (≤8 rows)
        # -> 5 driver-side EM iterations. The DuckDB oracle replays the
        # identical EM as five generated SQL iteration CTEs.
        from nhse_probabilistic_linkage_spark.operators.fellegi_sunter import (
            estimate_mu,
            gamma_vectors,
        )

        o = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
            F.month("o_orderdate").alias("mon"),
        )
        w = Window.orderBy("id")
        pairs = o.select(
            F.col("id").alias("id_l"), F.lead("id").over(w).alias("id_r")
        ).where(F.col("id_r").isNotNull())
        g = gamma_vectors(pairs, o, "id", ["status", "prio", "mon"])
        params = estimate_mu(g, ["status", "prio", "mon"], n_iter=5)
        return params.select(
            "column",
            F.round("m", 6).alias("m"),
            F.round("u", 6).alias("u"),
            F.round("agree_weight", 6).alias("agree_weight"),
            F.round("disagree_weight", 6).alias("disagree_weight"),
            F.round("lambda_prior", 6).alias("lambda_prior"),
        )

    q["q90_fs_em"] = q90_fs_em

    def q91_fs_score(spark, sf_dir):
        # Fellegi–Sunter scoring = the reference's Splink predict surface
        # (match_weight/match_probability per pair, predict_dedupe.py:93;
        # TF adjustment utils/parameter_lists.py:11-13): fixed m/u params
        # (as trained params would be), gamma vectors over the q90 fixture
        # pairs, term-frequency table for prio, pure column arithmetic —
        # no UDFs, one broadcastable TF join.
        from nhse_probabilistic_linkage_spark.operators.fellegi_sunter import (
            gamma_vectors,
            term_frequencies,
            tf_adjusted_scores,
        )

        o = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
            F.month("o_orderdate").alias("mon"),
        )
        w = Window.orderBy("id")
        pairs = o.select(
            F.col("id").alias("id_l"), F.lead("id").over(w).alias("id_r")
        ).where(F.col("id_r").isNotNull())
        cols = ["status", "prio", "mon"]
        m = {"status": 0.95, "prio": 0.9, "mon": 0.85}
        u = {"status": 0.25, "prio": 0.2, "mon": 0.08}
        g = gamma_vectors(pairs, o, "id", cols, keep_values=["prio"])
        scored = tf_adjusted_scores(
            g, cols, m, u,
            tf_tables={"prio": term_frequencies(o, "prio")},
            tf_weight={"prio": 0.5},
            tf_minimum_u=0.001,
        )
        return scored.select(
            "id_l", "id_r", "gamma_status", "gamma_prio", "gamma_mon",
            F.round("match_weight", 6).alias("match_weight"),
            F.round("match_probability", 6).alias("match_probability"),
        )

    q["q91_fs_score"] = q91_fs_score

    return q


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["q20_top3_orders_per_customer"] = """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
               rank,
               CAST(CAST(max_price AS DECIMAL(18,2)) AS DOUBLE) AS max_price,
               o_totalprice = max_price AS is_best
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank,
                   max(o_totalprice) OVER (PARTITION BY o_custkey) AS max_price
            FROM orders
        ) WHERE rank <= 3
    """

    o["q17_lookup_replace_enrich"] = """
        WITH sup AS (
          SELECT n_nationkey AS old_key, n_nationkey + 100 AS new_key
          FROM nation WHERE n_regionkey = 0
        ),
        seg AS (
          SELECT DISTINCT c_mktsegment AS seg,
                 [lower(c_mktsegment), substring(c_mktsegment, 1, 3)] AS alts
          FROM customer
        )
        SELECT c_custkey, c_nationkey,
               coalesce(s.new_key, c_nationkey) AS nation_resolved,
               array_to_string(list_concat([c_mktsegment], coalesce(g.alts, [])), ',') AS seg_names
        FROM customer c
        LEFT JOIN sup s ON c.c_nationkey = s.old_key
        LEFT JOIN seg g ON c.c_mktsegment = g.seg
    """

    o["q34_hash_bucket_sample"] = f"""
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders WHERE {affine_bucket_sql('o_orderkey', 16)} = 0
    """

    o["q35_pair_sample"] = f"""
        WITH l AS (SELECT c_custkey AS id_l FROM customer
                   WHERE {affine_bucket_sql('c_custkey', 8, offset=17)} = 0),
             r AS (SELECT c_custkey AS id_r FROM customer
                   WHERE {affine_bucket_sql('c_custkey', 8, offset=18)} = 0)
        SELECT id_l, id_r FROM l, r WHERE id_l < id_r
    """

    o["q56_minhash_signatures"] = """
        SELECT doc_id, CAST(128 AS INT) AS sig_len, true AS sig_consistent
        FROM documents
    """

    o["q58_simhash_sanity"] = """
        SELECT CAST(0 AS BIGINT) AS n_lowjac, CAST(0 AS BIGINT) AS n_missed_exact
    """

    o["q63_embedding_lsh_recall"] = """
        SELECT CAST(0 AS BIGINT) AS n_precision_violations, true AS recall_ok
    """

    _norm = "trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))"

    o["q42_array_ops"] = f"""
        SELECT doc_id,
               CAST(len(list_distinct(string_split({_norm}, ' '))) AS INT) AS n_unique_tokens,
               list_contains(string_split({_norm}, ' '), 'data') AS has_data,
               CAST(len(list_intersect(list_distinct(string_split({_norm}, ' ')),
                                        ['the', 'and', 'of'])) AS INT) AS n_stopword_kinds,
               CAST(len(list_filter(string_split({_norm}, ' '), t -> t <> 'the')) AS INT) AS n_tokens_no_the
        FROM documents
    """

    _toks_long = f"list_filter(string_split({_norm}, ' '), t -> t <> '' AND length(t) >= 10)"
    o["q43_explode_outer_window_prune"] = f"""
        WITH exploded AS (
          SELECT doc_id, unnest(CASE WHEN len({_toks_long}) = 0 THEN [NULL] ELSE {_toks_long} END) AS tok
          FROM documents
        )
        SELECT doc_id,
               count(tok) AS n_long_tokens,
               CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rows
        FROM exploded GROUP BY doc_id
    """

    o["q44_nested_history"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        le AS (
          SELECT doc_id, unnest(CASE WHEN len(lst) = 0 THEN [NULL] ELSE lst END) AS lead_tok
          FROM (SELECT doc_id, list_distinct(t[1:2]) AS lst FROM toks)
        ),
        ta AS (
          SELECT doc_id, unnest(CASE WHEN len(lst) = 0 THEN [NULL] ELSE lst END) AS tail_tok
          FROM (SELECT doc_id, list_distinct(list_reverse(t)[1:2]) AS lst FROM toks)
        )
        SELECT coalesce(le.doc_id, ta.doc_id) AS doc_id, lead_tok, tail_tok
        FROM le FULL OUTER JOIN ta ON le.doc_id = ta.doc_id
    """

    o["q45_agreement_vectors"] = f"""
        WITH {_SHINGLES_CTE},
        inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
          FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
        ),
        scored AS (
          SELECT c.id_l, c.id_r,
                 round(len(list_intersect(a.s, b.s))::DOUBLE
                       / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
          FROM cand c JOIN sh a ON c.id_l = a.doc_id JOIN sh b ON c.id_r = b.doc_id
        ),
        jp AS (SELECT id_l, id_r FROM scored WHERE jaccard >= 0.5),
        nrm AS (SELECT doc_id, {_norm} AS nt FROM documents),
        grp AS (
          SELECT doc_id, nt FROM nrm
          WHERE nt IN (SELECT nt FROM nrm GROUP BY nt HAVING count(*) > 1)
        ),
        ep AS (
          SELECT l.doc_id AS id_l, r.doc_id AS id_r
          FROM grp l JOIN grp r ON l.nt = r.nt AND l.doc_id < r.doc_id
        )
        SELECT coalesce(e.id_l, j.id_l) AS id_l,
               coalesce(e.id_r, j.id_r) AS id_r,
               e.id_l IS NOT NULL AS exact_found,
               j.id_l IS NOT NULL AS jaccard_found,
               concat(CASE WHEN e.id_l IS NOT NULL THEN '1' ELSE '0' END,
                      CASE WHEN j.id_l IS NOT NULL THEN '1' ELSE '0' END) AS agreement_pattern,
               (CASE WHEN e.id_l IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN j.id_l IS NOT NULL THEN 1 ELSE 0 END) AS n_detectors
        FROM ep e FULL OUTER JOIN jp j ON e.id_l = j.id_l AND e.id_r = j.id_r
    """

    o["q37_threshold_confusion"] = f"""
        WITH {_SHINGLES_CTE},
        inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
          FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
        ),
        scored AS (
          SELECT c.id_l, c.id_r,
                 round(len(list_intersect(a.s, b.s))::DOUBLE
                       / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
          FROM cand c JOIN sh a ON c.id_l = a.doc_id JOIN sh b ON c.id_r = b.doc_id
        ),
        j AS (
          SELECT jaccard AS score,
                 CASE WHEN jaccard >= 0.6 THEN 1 ELSE 0 END AS is_true
          FROM scored WHERE jaccard >= 0.3
        ),
        th AS (SELECT unnest([0.5, 0.7, 0.9]) AS threshold)
        SELECT th.threshold,
               CAST(sum(CASE WHEN score >= threshold AND is_true = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN score >= threshold AND is_true = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN score < threshold AND is_true = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CASE WHEN sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) = 0 THEN NULL
                    ELSE sum(CASE WHEN score >= threshold AND is_true = 1 THEN 1 ELSE 0 END)::DOUBLE
                         / sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) END AS "precision",
               CASE WHEN sum(is_true) = 0 THEN NULL
                    ELSE sum(CASE WHEN score >= threshold AND is_true = 1 THEN 1 ELSE 0 END)::DOUBLE
                         / sum(is_true) END AS recall
        FROM th CROSS JOIN j GROUP BY th.threshold
    """

    o["q59_similarity_buckets"] = f"""
        WITH {_SHINGLES_CTE},
        inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
          FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
        ),
        scored AS (
          SELECT c.id_l, c.id_r,
                 round(len(list_intersect(a.s, b.s))::DOUBLE
                       / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
          FROM cand c JOIN sh a ON c.id_l = a.doc_id JOIN sh b ON c.id_r = b.doc_id
        )
        SELECT id_l, id_r, jaccard,
               CASE WHEN jaccard >= 0.95 THEN 3
                    WHEN jaccard >= 0.85 THEN 2
                    WHEN jaccard >= 0.7 THEN 1
                    ELSE 0 END AS sim_level
        FROM scored WHERE jaccard >= 0.3
    """

    o["q50_exact_dedup"] = f"""
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY {_norm}) AS rep_id,
               count(*) OVER (PARTITION BY {_norm}) AS group_size
        FROM documents
    """

    # brute-force ground truth for detector #3: two docs pair iff they share
    # ANY 64-char substring of the normalized text (equivalent to exact
    # longest-common-substring >= 64, which is what the Spark side verifies)
    o["q57_substring_pairs"] = f"""
        WITH n AS (SELECT doc_id, {_norm} AS t FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_distinct([t[i:i+63] for i in range(1, length(t) - 62)])) AS gram
          FROM n WHERE length(t) >= 64
        )
        SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
        FROM g l JOIN g r ON l.gram = r.gram AND l.doc_id < r.doc_id
    """

    o["q51_ngram_jaccard_pairs"] = _JACCARD_PAIRS_SQL.replace("__THR__", "0.5")
    o["q52_minhash_lsh_pairs"] = _JACCARD_PAIRS_SQL.replace("__THR__", "0.8")

    o["q53_cc_clusters"] = f"""
        WITH {_SHINGLES_CTE},
        inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
          FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
        ),
        scored AS (
          SELECT c.id_l, c.id_r,
                 round(len(list_intersect(a.s, b.s))::DOUBLE
                       / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
          FROM cand c JOIN sh a ON c.id_l = a.doc_id JOIN sh b ON c.id_r = b.doc_id
        ),
        edges AS (
          SELECT id_l AS src, id_r AS dst FROM scored WHERE jaccard >= 0.5
          UNION ALL
          SELECT id_r, id_l FROM scored WHERE jaccard >= 0.5
        ),
        walk AS (
          SELECT doc_id AS id, doc_id AS reach FROM documents
          UNION
          SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
        )
        SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id
    """
    # note: 'WITH' + recursive member requires WITH RECURSIVE in duckdb
    o["q53_cc_clusters"] = "WITH RECURSIVE " + o["q53_cc_clusters"].strip()[len("WITH "):]

    o["q54_best_match"] = f"""
        WITH {_SHINGLES_CTE},
        inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
          FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
        ),
        scored AS (
          SELECT c.id_l, c.id_r,
                 round(len(list_intersect(a.s, b.s))::DOUBLE
                       / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
          FROM cand c JOIN sh a ON c.id_l = a.doc_id JOIN sh b ON c.id_r = b.doc_id
          WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
                       / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3
        ),
        pairs_both AS (
          SELECT id_l AS id, id_r AS partner, jaccard AS score FROM scored
          UNION ALL
          SELECT id_r, id_l, jaccard FROM scored
        ),
        with_max AS (
          SELECT id, partner, score,
                 max(score) OVER (PARTITION BY id) AS max_score
          FROM pairs_both
        ),
        ranked AS (
          SELECT id, partner, score, max_score,
                 sum(CASE WHEN score >= max_score - 0.05 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY id) AS n_close,
                 row_number() OVER (PARTITION BY id ORDER BY score DESC, partner ASC) AS rn
          FROM with_max
        )
        SELECT id, partner AS best_partner, round(score, 6) AS best_score,
               n_close > 1 AS close_match
        FROM ranked WHERE rn = 1
    """

    o["q60_embedding_neardup"] = """
        SELECT a.vec_id AS id_l, b.vec_id AS id_r,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """

    o["q61_ann_topk"] = """
        SELECT query_id, vec_id, round(cosine, 4) AS cosine, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                                               c.vec_id ASC) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id >= 10
        ) WHERE rank <= 5
    """

    _toks = f"list_filter(string_split({_norm}, ' '), t -> t <> '')"
    _markers = {
        lang: "[" + ", ".join(f"'{w}'" for w in TS.LANG_MARKERS[lang]) + "]"
        for lang in TS.LANG_MARKERS
    }
    _ratio = {
        lang: (
            f"(CASE WHEN len({_toks}) > 0 THEN "
            f"len(list_filter({_toks}, t -> list_contains({_markers[lang]}, t)))::DOUBLE / len({_toks}) "
            f"ELSE 0.0 END)"
        )
        for lang in TS.LANG_MARKERS
    }
    _best = "greatest(" + ", ".join(_ratio[lang] for lang in TS.LANG_MARKERS) + ")"
    _pick = "coalesce(" + ", ".join(
        f"CASE WHEN {_ratio[lang]} = {_best} THEN '{lang}' END" for lang in sorted(TS.LANG_MARKERS)
    ) + ")"

    o["q70_textstats"] = f"""
        SELECT doc_id,
               len({_toks}) AS ws_tokens,
               len(regexp_extract_all(text, '[\\p{{L}}]+|[\\p{{N}}]+|[^\\s\\p{{L}}\\p{{N}}]')) AS bpe_tokens,
               round(CASE WHEN len({_toks}) > 0
                     THEN list_sum(list_transform({_toks}, t -> length(t)))::DOUBLE / len({_toks})
                     ELSE 0.0 END, 6) AS mean_tok_len,
               round(CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
                     THEN length(regexp_replace(regexp_replace(text, '\\s+', '', 'g'), '[^\\p{{L}}]', '', 'g'))::DOUBLE
                          / length(regexp_replace(text, '\\s+', '', 'g'))
                     ELSE 0.0 END, 6) AS alpha_ratio,
               round(
                 least(len({_toks}) / 50.0, 1.0) * 0.25
                 + (CASE WHEN (CASE WHEN len({_toks}) > 0
                          THEN list_sum(list_transform({_toks}, t -> length(t)))::DOUBLE / len({_toks})
                          ELSE 0.0 END) BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END)
                 + (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
                     THEN length(regexp_replace(regexp_replace(text, '\\s+', '', 'g'), '[^\\p{{L}}]', '', 'g'))::DOUBLE
                          / length(regexp_replace(text, '\\s+', '', 'g'))
                     ELSE 0.0 END) * 0.25
                 + least({_ratio['en']} * 5.0, 1.0) * 0.25
               , 6) AS quality
        FROM documents
    """

    o["q71_lang_id"] = f"""
        SELECT doc_id,
               CASE WHEN {_best} > 0 THEN {_pick} ELSE 'und' END AS lang_pred
        FROM documents
    """

    o["q72_fingerprint_cardinality"] = f"""
        SELECT lang, count(DISTINCT {_norm}) AS n_distinct_docs, count(*) AS n_docs
        FROM documents GROUP BY lang
    """

    # expected canonical built ANALYTICALLY (no regex dialect dependence):
    # variants 0-3 all collapse to the bare http://host/path; variant 4 keeps
    # its non-tracking query params
    o["q73_url_canonical"] = """
        SELECT doc_id,
               'http://site' || (doc_id % 7) || '.example.com/page/' || (doc_id % 100)
                 || CASE WHEN doc_id % 5 = 4 THEN '?a=1&b=2' ELSE '' END AS canon_url,
               'site' || (doc_id % 7) || '.example.com' AS host
        FROM documents
    """

    # ttr mirrors the engine's in-function 10k-token cap (textstats
    # TOP_TOKEN_MAX_TOKENS): the ratio is computed over the first 10k tokens
    # on BOTH sides, so a book-sized doc cannot diverge engine vs oracle
    o["q74_repetition_filters"] = f"""
        WITH t AS (
          SELECT doc_id, ({_toks})[1:10000] AS toks,
                 list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                             l -> l <> '') AS lines
          FROM documents
        ),
        m AS (
          SELECT doc_id,
                 CASE WHEN len(lines) > 0
                      THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
                      ELSE 0.0 END AS dlr,
                 CASE WHEN len(toks) > 0
                      THEN list_max(list_transform(list_distinct(toks),
                                    d -> len(list_filter(toks, t2 -> t2 = d))))::DOUBLE / len(toks)
                      ELSE 0.0 END AS ttr
          FROM t
        )
        SELECT doc_id, round(dlr, 6) AS dup_line_ratio, round(ttr, 6) AS top_token_ratio,
               (dlr <= 0.3 AND ttr <= 0.2) AS passes_repetition
        FROM m
    """

    o["q39_domain_quota"] = """
        SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC NULLS LAST, doc_id) AS rk
          FROM documents
        ) WHERE rk <= 12
    """

    o["q75_decontaminate"] = f"""
        WITH {_SHINGLES_CTE},
        bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        corp AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS g
                 FROM sh WHERE doc_id % 97 <> 0)
        SELECT c.doc_id, count(*) AS n_hits,
               any_value(c.n_shingles) AS n_shingles,
               round(count(*)::DOUBLE / greatest(any_value(c.n_shingles), 1), 6) AS hit_ratio
        FROM corp c JOIN bench b ON c.g = b.g
        GROUP BY c.doc_id
    """

    # tier cascade replay: exact drops by normalized-text partition, then
    # brute-force jaccard >= 0.8 pairs among exact survivors, recursive-CTE
    # connected components (min-id canonical), and canonical-chain
    # resolution for exact drops whose representative lost the near tier
    o["q78_tiered_dedup"] = f"""
        WITH {_SHINGLES_CTE},
        nrm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        grp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY t) AS rep_id FROM nrm),
        ed AS (SELECT doc_id, rep_id FROM grp WHERE doc_id <> rep_id),
        s1 AS (SELECT doc_id FROM grp WHERE doc_id = rep_id),
        sh1 AS (SELECT sh.doc_id, sh.s FROM sh JOIN s1 USING (doc_id)),
        inv AS (SELECT doc_id, unnest(s) AS gram FROM sh1),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
          FROM inv l JOIN inv r ON l.gram = r.gram AND l.doc_id < r.doc_id
        ),
        scored AS (
          SELECT c.id_l, c.id_r,
                 len(list_intersect(a.s, b.s))::DOUBLE
                   / len(list_distinct(list_concat(a.s, b.s))) AS j
          FROM cand c JOIN sh1 a ON c.id_l = a.doc_id JOIN sh1 b ON c.id_r = b.doc_id
        ),
        edges AS (
          SELECT id_l AS src, id_r AS dst FROM scored WHERE j >= 0.8
          UNION ALL
          SELECT id_r, id_l FROM scored WHERE j >= 0.8
        ),
        walk AS (
          SELECT doc_id AS id, doc_id AS reach FROM s1
          UNION
          SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
        ),
        cl AS (SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id),
        nd AS (SELECT doc_id, cluster_id FROM cl WHERE doc_id <> cluster_id)
        SELECT ed.doc_id, 'exact' AS tier,
               coalesce(nd.cluster_id, ed.rep_id) AS canonical_id
        FROM ed LEFT JOIN nd ON ed.rep_id = nd.doc_id
        UNION ALL
        SELECT doc_id, 'near' AS tier, cluster_id AS canonical_id FROM nd
        UNION ALL
        SELECT doc_id, 'kept' AS tier, doc_id AS canonical_id
        FROM cl WHERE doc_id = cluster_id
    """
    o["q78_tiered_dedup"] = "WITH RECURSIVE " + o["q78_tiered_dedup"].strip()[len("WITH "):]

    # q55: the simhash pair SET is hash-dependent, but the contract columns
    # are constant-truth for any correct detector (violations must be zero)
    o["q55_simhash_pairs"] = """
        SELECT CAST(0 AS BIGINT) AS n_bad_hamming,
               CAST(0 AS BIGINT) AS n_bad_order,
               CAST(0 AS BIGINT) AS n_dup_rows
    """

    # q89: the oracle's key expression is RENDERED BY THE SAME MODULE that
    # builds the Spark expression chain (functions/phonetics.py), so the two
    # sides cannot drift
    from nhse_probabilistic_linkage_spark.functions.phonetics import phonetic_key_sql

    o["q89_phonetic_block"] = f"""
        WITH w AS (SELECT regexp_extract(p_name, '^[a-z]+') AS word FROM part)
        SELECT {phonetic_key_sql('word', 4)} AS pkey,
               count(*) AS n_parts,
               count(DISTINCT word) AS n_words
        FROM w GROUP BY 1
    """

    o["q90_fs_em"] = _fs_em_oracle_sql(n_iter=5)

    o["q91_fs_score"] = _fs_score_oracle_sql()

    return o


def _fs_score_oracle_sql() -> str:
    """q91 oracle: FS scoring with TF adjustment over the q90 fixture pairs.

    The agree/disagree weights are computed HERE with the same math.log2
    the Spark side's score_pairs uses and embedded as double literals, so
    the only cross-engine arithmetic is the (identically-associated) sum,
    the TF division and the final 2**w sigmoid — all rounded to 6 dp.
    """
    import math

    cols = ["status", "prio", "mon"]
    m = {"status": 0.95, "prio": 0.9, "mon": 0.85}
    u = {"status": 0.25, "prio": 0.2, "mon": 0.08}

    def dl(v: float) -> str:
        r = repr(float(v))
        return r if "e" in r else r + "e0"

    case_sum = " + ".join(
        f"CASE WHEN gamma_{c} = 1 THEN {dl(math.log2(m[c] / u[c]))} "
        f"ELSE {dl(math.log2((1.0 - m[c]) / (1.0 - u[c])))} END"
        for c in cols
    )
    return f"""
        WITH o AS (
          SELECT o_orderkey AS id, o_orderstatus AS status,
                 o_orderpriority AS prio, month(o_orderdate) AS mon
          FROM orders
        ),
        prs AS (SELECT id AS id_l, lead(id) OVER (ORDER BY id) AS id_r FROM o),
        tf AS (
          SELECT prio AS val,
                 count(*) / (SELECT count(*) FROM o WHERE prio IS NOT NULL)
                   AS tf_prio
          FROM o WHERE prio IS NOT NULL GROUP BY prio
        ),
        g AS (
          SELECT p.id_l, p.id_r,
                 CASE WHEN l.status IS NOT NULL AND r.status IS NOT NULL
                       AND l.status = r.status THEN 1 ELSE 0 END AS gamma_status,
                 CASE WHEN l.prio IS NOT NULL AND r.prio IS NOT NULL
                       AND l.prio = r.prio THEN 1 ELSE 0 END AS gamma_prio,
                 CASE WHEN l.mon IS NOT NULL AND r.mon IS NOT NULL
                       AND l.mon = r.mon THEN 1 ELSE 0 END AS gamma_mon,
                 CASE WHEN l.prio IS NOT NULL AND r.prio IS NOT NULL
                       AND l.prio = r.prio THEN l.prio END AS val_prio
          FROM prs p JOIN o l ON p.id_l = l.id JOIN o r ON p.id_r = r.id
          WHERE p.id_r IS NOT NULL
        ),
        s AS (
          SELECT g.id_l, g.id_r, g.gamma_status, g.gamma_prio, g.gamma_mon,
                 (0.0e0 + {case_sum})
                 + CASE WHEN g.gamma_prio = 1 AND t.tf_prio IS NOT NULL
                        THEN 0.5e0 * log2({dl(u["prio"])}
                             / greatest(t.tf_prio, CAST(0.001 AS DOUBLE)))
                        ELSE 0.0e0 END AS w
          FROM g LEFT JOIN tf t ON g.val_prio = t.val
        )
        SELECT id_l, id_r, gamma_status, gamma_prio, gamma_mon,
               round(w, 6) AS match_weight,
               round(pow(2.0e0, w) / (1.0e0 + pow(2.0e0, w)), 6)
                 AS match_probability
        FROM s
    """


def _fs_em_oracle_sql(n_iter: int) -> str:
    """Generate the q90 oracle: the exact EM arithmetic of
    operators/fellegi_sunter.em_mu unrolled into n_iter SQL iteration CTEs.

    Float literals use e0 notation so DuckDB types them DOUBLE (a bare 0.9
    is DECIMAL there); per-row products are written in the same
    left-associative order as the Python loop so each row's responsibility
    is bit-identical, and both sides round to 6 dp so the only remaining
    slack (SUM accumulation order over the ≤8 pattern rows) cannot surface.
    """
    cols = ["status", "prio", "mon"]
    k = len(cols)
    gs = [f"g{j}" for j in range(k)]
    cte = [
        """o AS (
          SELECT o_orderkey AS id, o_orderstatus AS status,
                 o_orderpriority AS prio, month(o_orderdate) AS mon
          FROM orders
        )""",
        """prs AS (
          SELECT id AS id_l, lead(id) OVER (ORDER BY id) AS id_r FROM o
        )""",
        "g AS (\n  SELECT "
        + ",\n         ".join(
            f"CASE WHEN l.{c} IS NOT NULL AND r.{c} IS NOT NULL AND l.{c} = r.{c} "
            f"THEN 1 ELSE 0 END AS g{j}"
            for j, c in enumerate(cols)
        )
        + "\n  FROM prs p JOIN o l ON p.id_l = l.id JOIN o r ON p.id_r = r.id"
        + "\n  WHERE p.id_r IS NOT NULL\n)",
        f"pc AS (SELECT {', '.join(gs)}, count(*) AS n FROM g GROUP BY {', '.join(gs)})",
        "it0 AS (SELECT 0.1e0 AS lam, "
        + ", ".join(f"0.9e0 AS m{j}" for j in range(k))
        + ", "
        + ", ".join(f"0.1e0 AS u{j}" for j in range(k))
        + ")",
    ]
    for i in range(1, n_iter + 1):
        pm = "p.lam" + "".join(
            f" * (CASE WHEN pc.g{j} = 1 THEN p.m{j} ELSE 1.0e0 - p.m{j} END)"
            for j in range(k)
        )
        pu = "(1.0e0 - p.lam)" + "".join(
            f" * (CASE WHEN pc.g{j} = 1 THEN p.u{j} ELSE 1.0e0 - p.u{j} END)"
            for j in range(k)
        )
        cte.append(
            f"r{i} AS (SELECT {', '.join('pc.' + g for g in gs)}, pc.n, "
            f"({pm}) / (({pm}) + ({pu})) AS resp FROM pc, it{i - 1} p)"
        )

        def clip(x: str) -> str:
            return f"greatest(least({x}, 1.0e0 - 1e-9), 1e-9)"

        terms = ["sum(n * resp) / sum(n) AS lam"]
        terms += [
            clip(f"sum(CASE WHEN g{j} = 1 THEN n * resp ELSE 0.0e0 END) / sum(n * resp)")
            + f" AS m{j}"
            for j in range(k)
        ]
        terms += [
            clip(
                f"sum(CASE WHEN g{j} = 1 THEN n * (1.0e0 - resp) ELSE 0.0e0 END)"
                f" / (sum(n) - sum(n * resp))"
            )
            + f" AS u{j}"
            for j in range(k)
        ]
        cte.append(f"it{i} AS (SELECT {', '.join(terms)} FROM r{i})")
    rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", m{j} AS m, u{j} AS u, log2(m{j} / u{j}) AS aw,"
        f" log2((1.0e0 - m{j}) / (1.0e0 - u{j})) AS dw, lam FROM it{n_iter}"
        for j, c in enumerate(cols)
    )
    return (
        "WITH " + ",\n".join(cte) + f"""
        SELECT "column", round(m, 6) AS m, round(u, 6) AS u,
               round(aw, 6) AS agree_weight, round(dw, 6) AS disagree_weight,
               round(lam, 6) AS lambda_prior
        FROM ({rows})
    """
    )

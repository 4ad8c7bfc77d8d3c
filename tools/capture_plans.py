"""Capture .explain('formatted') for every headline query into plans/r06/.

Usage: python tools/capture_plans.py <suffix: before|after> [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nhse_probabilistic_linkage_spark.session import get_spark

HEADLINE = [
    "q20_top3_orders_per_customer",
    "q51_ngram_jaccard_pairs",
    "q52_minhash_lsh_pairs",
    "q53_cc_clusters",
    "q57_substring_pairs",
    "q61_ann_topk",
    "q70_textstats",
]


def main() -> None:
    suffix = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="plans", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def dump(name, df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print("wrote", name)

    for name in HEADLINE:
        dump(name, qs[name](spark, sf_dir))
        spark.catalog.clearCache()

    # q60's scale path: embedding LSH (exact=False) instead of the exact join
    from pyspark.sql import functions as F

    from nhse_probabilistic_linkage_spark.operators.similarity import embedding_neardup_pairs
    from nhse_probabilistic_linkage_spark.sources.tables import load_table

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dump("q60_embedding_neardup_lsh", embedding_neardup_pairs(em, threshold=0.9, exact=False))
    spark.stop()


if __name__ == "__main__":
    main()

"""Dump explain('formatted') plans of the pair-producing and clustering
queries, for before/after plan diffs of an engine change.

Usage:
   python scripts/dump_plans.py <repo_dir> <out_dir> <suffix> <gate_sf_dir> <bench_sf_dir>

Plans are built from the levsim checkout at <repo_dir> (so one script can
dump a parent commit and a change alike) on local[$SPARK_GRAFT_CPUS].
Declared queries read <gate_sf_dir>; the bench-shape queries (mirrors of
bench.py q2/q3/q6/q7/q10) read <bench_sf_dir>.  Writes
<out_dir>/<query>_<suffix>.txt for each entry.
"""
import os
import sys

repo, out_dir, suffix, gate_sf_dir, sf_dir = sys.argv[1:6]
sys.path.insert(0, repo)
os.makedirs(out_dir, exist_ok=True)
from pyspark.sql import functions as F  # noqa: E402

from levsim.session import get_spark  # noqa: E402

cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
spark = get_spark(app_name="plans", master=f"local[{cpus}]", shuffle_partitions=16)
spark.sparkContext.setLogLevel("ERROR")


def explain_str(df):
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)

# --- declared queries (from __spark_entry__) ---
import __spark_entry__ as entrymod
DECLARED = ["meta_block_wnp", "minhash_dedup_pairs", "minhash_dedup_clusters",
            "cosine_neardup_pairs", "sorted_neighborhood",
            "chain_components", "chain_components_star",
            "simhash_pairs", "simhash_md5_pairs", "canonical_selection",
            "winnow_dup_pairs", "minhash_md5_pairs", "prefix_jaccard_join"]
qs = entrymod.queries()
for name in DECLARED:
    try:
        df = qs[name](spark, gate_sf_dir)
        open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w").write(explain_str(df))
        print("ok", name)
    except Exception as ex:
        print("FAIL", name, ex)

# --- bench-shape queries (mirrors bench.py q3/q7/q10 DataFrames) ---
docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(16).cache()
emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()

def bench_q3():
    from levsim.extras.dedup import minhash_candidate_pairs
    from levsim.prefilter import ratio_length_bound
    from levsim.udfs import lev_ratio_udf
    cand = minhash_candidate_pairs(docs, "doc_id", "text", rows_per_band=2, shingle_k=2)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"), F.length("text").alias("len_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"), F.length("text").alias("len_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .where(ratio_length_bound(F.col("len_a"), F.col("len_b"), 0.6))
            .withColumn("ratio", lev_ratio_udf(score_cutoff=0.6)("text_a", "text_b"))
            .where(F.col("ratio") >= 0.6))

def bench_q7():
    from levsim.extras.simsearch import embedding_neardup_pairs
    return embedding_neardup_pairs(emb, threshold=0.9, method="lsh", n_planes=48, bands=6)

def bench_q10():
    from levsim.metablocking import comparison_edges, prune_edges_wnp
    blocks = (
        docs.select(F.concat(F.lit("ls:"), "lang", F.lit(":"), "source").alias("bk"), "doc_id")
        .unionByName(docs.select(F.concat(F.lit("ln:"), F.expr("cast(length(text) div 64 as string)")).alias("bk"), "doc_id"))
        .unionByName(docs.select(F.concat(F.lit("pf:"), F.substring("text", 1, 12)).alias("bk"), "doc_id"))
    )
    edges = comparison_edges(blocks, id_col="doc_id", key_col="bk", max_block_size=64)
    return prune_edges_wnp(edges, weight_col="arcs_ppm")

def bench_q2():
    from levsim.clustering import connected_components
    from levsim.consensus import elect_representatives
    from levsim.prefilter import ratio_length_bound
    from levsim.udfs import multi_score_udf
    tau = 0.5
    a = docs.select("lang", "source", F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select("lang", "source", F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    p = a.join(F.broadcast(b), ["lang", "source"]).where(F.col("id_a") < F.col("id_b"))
    p = p.withColumn("len_a", F.length("text_a")).withColumn("len_b", F.length("text_b"))
    p = p.where(ratio_length_bound(F.col("len_a"), F.col("len_b"), tau))
    scored = multi_score_udf(("ratio",), ratio_cutoff=tau)("text_a", "text_b")
    p = p.withColumn("ratio", scored["ratio"]).where(F.col("ratio") >= 0.62)
    comps = connected_components(p)
    clustered = (docs.select(F.col("doc_id"), F.col("text").alias("norm_text"))
                 .join(comps, "doc_id", "left")
                 .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id")))
    return elect_representatives(clustered, method="setmedian")

def bench_q6():
    from levsim.extras.dedup import simhash_candidate_pairs
    return simhash_candidate_pairs(docs, "doc_id", "text", max_hamming=3)

for name, fn in [("q3_minhash_dedup", bench_q3), ("q7_embedding_neardup", bench_q7),
                 ("q10_meta_blocking", bench_q10), ("q2_er_pipeline", bench_q2),
                 ("q6_simhash_dedup", bench_q6)]:
    try:
        open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w").write(explain_str(fn()))
        print("ok", name)
    except Exception as ex:
        print("FAIL", name, ex)
spark.stop()

"""The ``leaves`` workload: bench.py's eleven leaf queries plus q8s.

Each leaf is the same DataFrame bench.py builds (same operators, same
parameters), named after the levsim module that owns its main operator.
A leaf runs into Spark's ``noop`` sink; its row count rides along as an
``Observation`` on the same job, so counting adds no Spark job.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from levsim.blocking import sorted_neighborhood_pairs
from levsim.clustering import connected_components
from levsim.consensus import elect_representatives
from levsim.extras.dedup import (minhash_candidate_pairs, prefix_filtered_jaccard_pairs,
                                 simhash_candidate_pairs)
from levsim.extras.simsearch import brute_force_topk_blocked, embedding_neardup_pairs
from levsim.extras.textstats import with_textstats
from levsim.linkage import agreement_vectors, fs_em, fs_score_pairs, pattern_counts
from levsim.metablocking import comparison_edges, prune_edges_wnp
from levsim.normalize import token_sort_key
from levsim.prefilter import ratio_length_bound
from levsim.udfs import lev_ratio_udf, multi_score_udf


class Inputs(NamedTuple):
    docs: DataFrame      # doc_id, text, lang, source
    emb: DataFrame       # vec_id, embedding, label
    noised: DataFrame    # char-noised doc subset for q8s


class Leaf(NamedTuple):
    module: str
    name: str
    build: Callable[[Inputs], DataFrame]
    # bench.py's ``extra`` key holding this leaf's row count
    extra_key: str


def _blocked_pairs(docs: DataFrame) -> DataFrame:
    a = docs.select("lang", "source", F.col("doc_id").alias("id_a"),
                    F.col("text").alias("text_a"))
    b = docs.select("lang", "source", F.col("doc_id").alias("id_b"),
                    F.col("text").alias("text_b"))
    return a.join(F.broadcast(b), ["lang", "source"]).where(F.col("id_a") < F.col("id_b"))


def scored_pairs(docs: DataFrame) -> DataFrame:
    tau = 0.5
    p = _blocked_pairs(docs)
    p = p.withColumn("len_a", F.length("text_a")).withColumn("len_b", F.length("text_b"))
    p = p.where(ratio_length_bound(F.col("len_a"), F.col("len_b"), tau))
    p = p.sortWithinPartitions("id_a")
    scored = multi_score_udf(("ratio", "jaro_winkler"), ratio_cutoff=tau)("text_a", "text_b")
    return (p.withColumn("_s", scored).withColumn("ratio", F.col("_s.ratio"))
            .withColumn("jw", F.col("_s.jaro_winkler")).drop("_s"))


def q1(x: Inputs) -> DataFrame:
    return scored_pairs(x.docs)


def q2_components(docs: DataFrame) -> DataFrame:
    return connected_components(scored_pairs(docs).where(F.col("ratio") >= 0.62))


def q2(x: Inputs) -> DataFrame:
    clustered = (x.docs.select("doc_id", F.col("text").alias("norm_text"))
                 .join(q2_components(x.docs), "doc_id", "left")
                 .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id")))
    return elect_representatives(clustered, method="setmedian")


def q3(x: Inputs) -> DataFrame:
    docs = x.docs
    cand = minhash_candidate_pairs(docs, "doc_id", "text", rows_per_band=2, shingle_k=2)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"),
                    F.length("text").alias("len_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"),
                    F.length("text").alias("len_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .where(ratio_length_bound(F.col("len_a"), F.col("len_b"), 0.6))
            .withColumn("ratio", lev_ratio_udf(score_cutoff=0.6)("text_a", "text_b"))
            .where(F.col("ratio") >= 0.6))


def q4(x: Inputs) -> DataFrame:
    q = x.emb.where(F.col("vec_id") < 50).select(F.col("vec_id").alias("query_id"), "embedding")
    return brute_force_topk_blocked(x.emb, q, k=10)


def q5(x: Inputs) -> DataFrame:
    return with_textstats(x.docs, "text").where(F.col("quality") > 0.5)


def q6(x: Inputs) -> DataFrame:
    return simhash_candidate_pairs(x.docs, "doc_id", "text", max_hamming=3)


def q7(x: Inputs) -> DataFrame:
    return embedding_neardup_pairs(x.emb, threshold=0.9, method="lsh", n_planes=48, bands=6)


def q8(x: Inputs) -> DataFrame:
    return prefix_filtered_jaccard_pairs(x.docs, "doc_id", "text", threshold=0.5, shingle_k=2)


def q8s(x: Inputs) -> DataFrame:
    return prefix_filtered_jaccard_pairs(x.noised, "doc_id", "text", threshold=0.5, shingle_k=2)


def q9(x: Inputs) -> DataFrame:
    d = x.docs.select("doc_id", F.substring(token_sort_key(F.col("text")), 1, 16).alias("sk"))
    return sorted_neighborhood_pairs(d, "doc_id", "sk", window=6)


def q10(x: Inputs) -> DataFrame:
    docs = x.docs
    blocks = (
        docs.select(F.concat(F.lit("ls:"), "lang", F.lit(":"), "source").alias("bk"), "doc_id")
        .unionByName(docs.select(
            F.concat(F.lit("ln:"), F.expr("cast(length(text) div 64 as string)")).alias("bk"),
            "doc_id"))
        .unionByName(docs.select(
            F.concat(F.lit("pf:"), F.substring("text", 1, 12)).alias("bk"), "doc_id"))
    )
    edges = comparison_edges(blocks, id_col="doc_id", key_col="bk", max_block_size=64)
    return prune_edges_wnp(edges, weight_col="arcs_ppm")


def q11(x: Inputs) -> DataFrame:
    gc = ["g_pre", "g_len", "g_tail"]
    g = agreement_vectors(_blocked_pairs(x.docs), {
        "g_pre": F.expr("substring(text_a,1,12) = substring(text_b,1,12)"),
        "g_len": F.expr("(length(text_a) div 32) = (length(text_b) div 32)"),
        "g_tail": F.expr("right(text_a,8) = right(text_b,8)"),
    })
    pc = pattern_counts(g, gc).localCheckpoint()
    pats = [(tuple(int(r[c]) for c in gc), int(r["cnt"])) for r in pc.collect()]
    em = fs_em(pats, n_iters=3)
    return fs_score_pairs(g, gc, em["m_ppm"], em["u_ppm"], em["lambda_ppm"],
                          min_posterior_ppm=500_000)


LEAVES = [
    Leaf("udfs", "q1_er_scoring", q1, "pairs_scored"),
    Leaf("clustering", "q2_er_pipeline", q2, "n_clusters"),
    Leaf("extras.dedup", "q3_minhash_dedup", q3, "minhash_verified_pairs"),
    Leaf("extras.simsearch", "q4_cosine_topk", q4, "topk_rows"),
    Leaf("extras.textstats", "q5_textstats", q5, "quality_docs"),
    Leaf("extras.dedup", "q6_simhash_dedup", q6, "simhash_pairs"),
    Leaf("extras.simsearch", "q7_embedding_neardup", q7, "embedding_neardup_pairs"),
    Leaf("extras.dedup", "q8_prefix_jaccard", q8, "prefix_jaccard_pairs"),
    Leaf("extras.dedup", "q8s_prefix_jaccard_sparse", q8s, "prefix_jaccard_pairs_sparse"),
    Leaf("blocking", "q9_sorted_neighborhood", q9, "snm_pairs"),
    Leaf("metablocking", "q10_meta_blocking", q10, "meta_block_kept"),
    Leaf("linkage", "q11_fellegi_sunter", q11, "fs_matches"),
]


def run_leaf(leaf: Leaf, x: Inputs) -> int:
    """Run one leaf into the noop sink and return its row count."""
    obs = Observation()
    leaf.build(x).observe(obs, F.count(F.lit(1)).alias("rows")) \
        .write.format("noop").mode("overwrite").save()
    return int(obs.get["rows"])

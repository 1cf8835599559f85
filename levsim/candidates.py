"""Candidate-pair generation: block self-join with skew capping and
multi-pass dedup.

Scale analysis (the part that must survive 100 TB):
- A block of size s contributes s*(s-1)/2 pairs — quadratic.  Before the
  self-join we compute block sizes (one cheap aggregate) and SALT oversized
  blocks: a block of size s > cap is split into ceil(s/cap) salt groups by a
  deterministic content hash, so each salted sub-block joins only within
  itself.  This bounds per-task join fan-out regardless of key skew (the
  north rule's "salted skew keys"); AQE skew-join splitting handles the
  residual imbalance.  Trade-off: salting drops cross-salt-group pairs
  inside mega-blocks — exactly the standard ER compromise (mega-blocks are
  near-useless keys like empty host; recall is recovered by the other
  blocking passes).
- Pairs from different passes are deduped with ONE dropDuplicates on
  (id_a, id_b) — partial aggregation (map-side combine) keeps the shuffle
  proportional to distinct pairs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import compute_partitions


def key_join_pairs(
    keyed: DataFrame,
    key: str | Sequence[str],
    id_col: str,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Self-join ``keyed`` on ``key``: one row per (key, id_a, id_b) with
    id_a < id_b, plus each ``carry`` column as ``<col>_a`` / ``<col>_b``.

    The shape every pair producer shares (blocks, bands, fingerprints,
    prefixes).  ``keyed`` is materialized ONCE (lazy localCheckpoint) and
    both join sides read that one materialization: in the broadcast regime
    the two branches otherwise recompute the keying subtree (a signature
    UDF, a size window, a union+dedup) independently, because
    ReuseExchange only dedups identical shuffled-join exchanges.  Pass
    ``keyed`` already projected to ids + keys — the checkpoint stores every
    column it has.  Carried columns a caller never reads are pruned from
    that join side by the optimizer.  Verify predicates, pair dedup and
    aggregates stay with the caller.
    """
    keyed = keyed.localCheckpoint(eager=False)
    on = [key] if isinstance(key, str) else list(key)

    def side(sfx: str) -> DataFrame:
        return keyed.select(
            *on,
            F.col(id_col).alias(f"id_{sfx}"),
            *[F.col(c).alias(f"{c}_{sfx}") for c in carry],
        )

    return side("a").join(side("b"), on).where(F.col("id_a") < F.col("id_b"))


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = 200,
    keep_pass_provenance: bool = True,
    drop_block_size: int | None = None,
    extra_pairs: DataFrame | None = None,
) -> DataFrame:
    """blocks(doc_id, block_pass, block_key) -> pairs(id_a, id_b[, block_key, block_pass]).

    id_a < id_b canonical order; one row per distinct pair.

    ``drop_block_size``: stop-key removal — keys whose block exceeds this
    size are dropped entirely instead of salted.

    ``extra_pairs``: pre-built candidate pairs from non-equality passes
    (e.g. sorted-neighborhood, ``blocking.sorted_neighborhood_pairs``) with
    columns (id_a, id_b, block_pass, block_key); unioned before the
    cross-pass dedup so provenance resolution and downstream stages see
    one uniform pair set.  Order is canonicalized here (SNM emits
    rank-ordered, not id-ordered, pairs).  A key shared by 10^5+
    docs (blogspot.com-style mega hosts) discriminates nothing: nearly all
    its pairs are junk that the scorer must then reject, and recall for
    true duplicates inside it is carried by the content-based passes
    (minhash bands, tokensort).  Salting (``max_block_size``) remains the
    bound for merely-large-but-useful keys below the drop threshold.
    """
    # block sizes via a window over the SAME block_key shuffle the join
    # needs anyway — no aggregate round-trip, and crucially no broadcast:
    # at web scale the size map has ~10^10 distinct keys and can never be
    # broadcast (driver OOM); a window count stays fully distributed
    w = Window.partitionBy("block_key")
    b = blocks.withColumn("bsize", F.count("*").over(w)).where(F.col("bsize") > 1)
    if drop_block_size is not None:
        b = b.where(F.col("bsize") <= drop_block_size)
    # deterministic salt: content hash of doc_id, bucketed by how many salt
    # groups this block needs.  n_salt=1 for normal blocks (no-op).
    b = b.withColumn(
        "n_salt", F.ceil(F.col("bsize") / F.lit(max_block_size)).cast("int")
    ).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.col("n_salt")).cast("int")
    ).withColumn(
        "join_key", F.concat_ws("#", F.col("block_key"), F.col("salt"))
    )
    pairs = key_join_pairs(
        b, "join_key", "doc_id", carry=("block_key", "block_pass")
    ).select(
        "id_a",
        "id_b",
        F.col("block_key_a").alias("block_key"),
        F.col("block_pass_a").alias("block_pass"),
    )
    if extra_pairs is not None:
        ep = extra_pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "block_pass",
            "block_key",
        ).where(F.col("id_a") != F.col("id_b"))
        pairs = pairs.unionByName(ep)
    # Partition the pair table by COMPUTE CAPACITY, not shuffle bytes
    # (session.compute_partitions): candidate pairs always feed a per-pair
    # scoring stage (text join + Arrow kernel crossing) whose cost per
    # byte dwarfs the shuffle (measured: q3 verify ran in 3 AQE-coalesced
    # tasks, 4.2s -> 2.7s with this exchange at 2x cores).  The dedup
    # groupBy reuses it partition-locally (still ONE exchange).
    n_part = compute_partitions(pairs.sparkSession, 2)
    pairs = pairs.repartition(n_part, "id_a", "id_b")
    if keep_pass_provenance:
        # keep one provenance row per pair: lexicographically first pass/key
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min(F.struct("block_pass", "block_key")).alias("prov")
        ).select("id_a", "id_b", F.col("prov.block_pass").alias("block_pass"),
                 F.col("prov.block_key").alias("block_key"))
    else:
        pairs = pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    return pairs

"""Transitive closure: distributed connected components over matched pairs.

Algorithm: iterative minimum-label propagation with pointer jumping (the
DataFrame form of hash-to-min + path compression, cf. Kiveris et al.,
"Connected Components in MapReduce and Beyond" — public).  Each round every
node adopts the minimum label among itself and its neighbors:

    comp <- min(comp, min over edges (comp of neighbor))

(two equi-joins + one groupBy(min)), then labels are flattened one hop
(comp <- comp[comp], a self-join).  Propagation alone needs O(diameter)
rounds; with per-round compression convergence is O(log diameter), so even
pathological chain-shaped match graphs finish in ~log2(n) rounds.  ER
duplicate clusters are near-cliques — typically 2-3 rounds.

Scale notes:
- labels are repartitioned ONCE on node id; each round's joins reuse that
  partitioning (no new exchange for the label side under AQE).
- localCheckpoint() per round truncates the lineage so the plan doesn't
  grow exponentially across iterations.
- convergence test = sum(label) stable: labels only ever decrease, so an
  unchanged sum proves a fixed point — one cheap aggregate per round, no
  extra join.
- skewed hub nodes (a label joined by millions of edges) are handled by
  AQE skew-join splitting (enabled in session defaults); the blocking
  layer's block-size cap bounds degree upstream.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """edges(src, dst) -> (doc_id, cluster_id); singletons absent (callers
    left-join and coalesce to self if needed).  cluster_id = min node id in
    the component (deterministic, content-derived — stable across runs)."""
    # both-direction neighbor view, deduped and materialized ONCE, so each
    # round needs one label join.  Ids-only rows (2|E|) from ONE scan of
    # ``edges``; eager so the per-round consumers read cache instead of
    # racing a lazy materialization.
    nbrs = (
        edges.select(F.explode(F.array(
            F.struct(F.col(src).alias("id"), F.col(dst).alias("nbr")),
            F.struct(F.col(dst).alias("id"), F.col(src).alias("nbr")),
        )).alias("_e"))
        .select("_e.id", "_e.nbr")
        .dropDuplicates(["id", "nbr"])
        .localCheckpoint()
    )
    nodes = nbrs.select("id").distinct()
    labels = nodes.withColumn("comp", F.col("id"))
    labels = labels.repartition("id").localCheckpoint()
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # neighbor labels (both directions via the nbrs view)
        m = nbrs.join(labels.withColumnRenamed("id", "nbr"), "nbr").select(
            "id", "comp"
        )
        new_labels = (
            labels.select("id", "comp")
            .union(m)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping: comp <- label(comp) where comp is itself a node
        jump = new_labels.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
        new_labels = (
            new_labels.join(jump, "comp", "left")
            .select("id", F.least(F.coalesce(F.col("comp2"), F.col("comp")), F.col("comp")).alias("comp"))
        ).localCheckpoint()
        # labels only ever decrease (min-propagation), so an unchanged
        # label-multiset signature proves the fixed point; ids may be any
        # orderable type (urls, longs) -> hash-based signature
        sig = new_labels.agg(
            F.sum(F.hash("id", "comp").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64("id", "comp").cast("decimal(38,0)")).alias("h2"),
        ).collect()[0]
        labels = new_labels
        if prev_sig is not None and sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # an unconverged min-propagation returns labels that may still be
        # mid-flight (a component split across labels) — surface it rather
        # than silently returning wrong clusters
        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; returned labels may split components. Raise max_iter "
            "(rounds needed ~= log2(graph diameter)).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14 — public).

    Same contract as :func:`connected_components` (singletons absent,
    cluster_id = component-minimum node id; equality property-tested).
    Preferred at extreme scale / high-diameter graphs: both operations are
    a single groupBy over node neighborhoods and the edge set converges to
    stars rooted at the component minimum in O(log^2 n) rounds without the
    label-side state of min-propagation.

    large-star: every neighbor v > u links to min(N(u) ∪ {u})
    small-star: every neighbor v <= u (star-oriented) links to the same min
    """
    raw = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # node set BEFORE dropping self-loops: a node seen only in (x, x) edges
    # is still its own singleton component (matches connected_components)
    nodes = raw.select(F.col("s").alias("id")).union(raw.select("d")).distinct()
    nodes = nodes.localCheckpoint()
    e0 = raw.where(F.col("s") != F.col("d")).dropDuplicates(["s", "d"]).localCheckpoint()

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = e.select(F.col("s").alias("u"), F.col("d").alias("v")).union(
            e.select(F.col("d").alias("u"), F.col("s").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", "u").alias("m"))
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("s"), F.col("m").alias("d"))
            .where(F.col("s") != F.col("d"))
            .dropDuplicates(["s", "d"])
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v"))
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))  # v <= u always
        linked = oriented.join(mins, "u")
        out = linked.select(F.col("v").alias("s"), F.col("m").alias("d")).union(
            linked.select(F.col("u").alias("s"), F.col("m").alias("d")))
        return out.where(F.col("s") != F.col("d")).dropDuplicates(["s", "d"])

    e = e0
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        e = small_star(large_star(e)).localCheckpoint()
        sig = e.agg(
            F.count("*").alias("n"),
            F.sum(F.hash("s", "d").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64("s", "d").cast("decimal(38,0)")).alias("h2"),
        ).collect()[0]
        if prev_sig is not None and sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # the final min-over-neighbors labeling below is only correct on a
        # converged star forest — warn instead of silently mislabeling
        warnings.warn(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} alternation rounds; returned labels may "
            "split components. Raise max_iter (O(log^2 n) rounds suffice).",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged edge set is a star forest rooted at component minima: every
    # node's label = min over (self ∪ both-direction neighbors)
    pairs = (
        e.select(F.col("s").alias("id"), F.col("d").alias("comp"))
        .union(e.select(F.col("d").alias("id"), F.col("s").alias("comp")))
        .union(nodes.select("id", F.col("id").alias("comp")))
    )
    labels = pairs.groupBy("id").agg(F.min("comp").alias("comp"))
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))


def pivot_clustering(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
    rank_seed: int = 42,
    exact_rounds: int | None = None,
) -> DataFrame:
    """Correlation clustering by parallel pivot (KwikCluster; Ailon, Charikar
    & Newman, JACM 2008, with the MapReduce peeling of Chierichetti, Dalvi &
    Kumar, KDD 2014 — both public).

    The precision-respecting alternative to transitive closure for ER: CC
    merges everything reachable (one noisy bridge edge fuses two entities),
    while pivot clustering only groups a node with a pivot it is DIRECTLY
    similar to — a 3-approximation to minimum-disagreement correlation
    clustering in expectation over the pivot permutation.

    Permutation: rank(v) = 60-bit md5 of ``v || ':' || rank_seed`` (the
    house engine-portable hash — :func:`levsim.extras.dedup.
    md5_token_hash_col`), ties broken by node id, so the output is
    deterministic, content-derived, and exactly replayable by the DuckDB
    oracle.

    Round structure — C4's "concurrency control" waiting rule (Pan et
    al., "Parallel Correlation Clustering on Big Graphs", NIPS 2015 —
    public), which makes the parallel output EQUAL to the sequential
    greedy under the same permutation (property-tested):

    * pivot: an unresolved node with NO recorded pivot neighbor whose
      (rank, id) precedes every unresolved neighbor's;
    * each unresolved node tracks its best (minimum-(rank, id)) pivot
      neighbor seen so far across rounds;
    * a node FINALIZES to that best pivot only once no unresolved
      neighbor (this round's pivots excluded) precedes that pivot — a
      smaller unresolved neighbor could still become a pivot later and
      would claim the node first in sequential order, so the node waits.

    The naive eager peel (join the first pivot you see) is NOT
    sequentially exact — a later, smaller-rank pivot adjacent to the
    node loses the claim it would win sequentially; the waiting rule is
    what guarantees serializability.  W.h.p. O(log n) rounds (each round
    resolves at least the global active minimum).

    Scale shape: each round is a handful of ids-only equi-joins +
    partial-aggregating groupBys over the ACTIVE edge set (which shrinks
    geometrically); per-node state is one (rank, id) pair, lineage is
    truncated per round with localCheckpoint, and the convergence check
    rides the active-set count the peel already needs.  No driver-side
    state beyond one counter.

    Returns (doc_id, cluster_id, assigned_round).  ``exact_rounds`` runs
    EXACTLY that many peeling rounds and emits still-active nodes with
    cluster_id NULL / assigned_round NULL — the bounded-unroll oracle
    surface (the bpe_merges replay pattern): both engines compare equal on
    the full state after K rounds whether or not the graph is done.
    """
    from levsim.extras.dedup import md5_token_hash_col

    raw = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # node set BEFORE dropping self-loops: a node seen only in (x, x)
    # edges is still its own singleton cluster (it pivots immediately)
    nodes = raw.select(F.col("s").alias("id")).union(raw.select("d")).distinct()
    e0 = raw.where(F.col("s") != F.col("d")).dropDuplicates(["s", "d"]).localCheckpoint()

    def _rank(col):
        return md5_token_hash_col(
            F.concat(F.col(col).cast("string"), F.lit(f":{rank_seed}"))
        )

    # unresolved state: (id, r, _bp) with _bp the best pivot neighbor seen
    # so far as a (rank, id) struct (NULL until one is seen)
    id_t = nodes.schema["id"].dataType.simpleString()
    active = (
        nodes.select(
            "id",
            _rank("id").alias("r"),
            F.lit(None).cast(f"struct<rv:bigint,v:{id_t}>").alias("_bp"),
        )
        .repartition("id")
        .localCheckpoint()
    )
    e = e0
    done_parts = []
    n_rounds = max_rounds if exact_rounds is None else exact_rounds
    rnd = 0
    while rnd < n_rounds:
        rnd += 1
        # both-direction neighbor view with the neighbor's (rank, id)
        nbrs = e.join(active.select(F.col("id").alias("s"), F.col("r").alias("rs")), "s") \
                .join(active.select(F.col("id").alias("d"), F.col("r").alias("rd")), "d")
        both = nbrs.select(
            F.col("s").alias("u"), F.col("rs").alias("ru"),
            F.col("d").alias("v"), F.col("rd").alias("rv"),
        ).union(nbrs.select(
            F.col("d").alias("u"), F.col("rd").alias("ru"),
            F.col("s").alias("v"), F.col("rs").alias("rv"),
        )).localCheckpoint()
        nmin = both.groupBy("u").agg(F.min(F.struct("rv", "v")).alias("_nm"))
        # pivots: never saw a pivot neighbor, and (rank, id) precedes every
        # unresolved neighbor (or no unresolved neighbor at all)
        pv = (
            active.join(nmin, active["id"] == nmin["u"], "left")
            .where(
                F.col("_bp").isNull()
                & (
                    F.col("_nm").isNull()
                    | (F.struct(F.col("r").alias("rv"), F.col("id").alias("v")) < F.col("_nm"))
                )
            )
            .select("id")
        ).localCheckpoint()
        # fold this round's pivot neighbors into each node's best pivot
        # (F.least skips NULLs, so a first-ever pivot neighbor just lands)
        pmin = (
            both.join(pv.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.min(F.struct("rv", "v")).alias("_pm"))
        )
        rest = (
            active.join(pv, "id", "left_anti")
            .join(pmin.withColumnRenamed("u", "id"), "id", "left")
            .select("id", "r", F.least(F.col("_bp"), F.col("_pm")).alias("_bp"))
        )
        # neighbor minimum EXCLUDING this round's pivots (they are resolved);
        # concurrently-waiting neighbors still count — conservative, never
        # wrong, and the global active minimum always finalizes
        nmin2 = (
            both.join(pv.withColumnRenamed("id", "u"), "u", "left_anti")
            .join(pv.withColumnRenamed("id", "v"), "v", "left_anti")
            .groupBy("u")
            .agg(F.min(F.struct("rv", "v")).alias("_nm2"))
        )
        fin = (
            rest.join(nmin2.withColumnRenamed("u", "id"), "id", "left")
            .where(
                F.col("_bp").isNotNull()
                & (F.col("_nm2").isNull() | (F.col("_bp") < F.col("_nm2")))
            )
            .select("id", F.col("_bp.v").alias("cluster_id"))
        )
        newly = pv.select("id", F.col("id").alias("cluster_id")).union(fin) \
                  .withColumn("assigned_round", F.lit(rnd)).localCheckpoint()
        done_parts.append(newly)
        active = (
            rest.join(fin.select("id"), "id", "left_anti")
            .repartition("id")
            .localCheckpoint()
        )
        # scalar-only convergence probe; the peel needs the active set anyway
        if exact_rounds is None and active.limit(1).count() == 0:
            break
        e = (
            e.join(active.select(F.col("id").alias("s")), "s", "left_semi")
             .join(active.select(F.col("id").alias("d")), "d", "left_semi")
        ).localCheckpoint()
    if exact_rounds is None and active.limit(1).count() > 0:
        warnings.warn(
            f"pivot_clustering did not finish within max_rounds={max_rounds} "
            "peeling rounds; remaining active nodes are returned unassigned "
            "(cluster_id NULL). Raise max_rounds (O(log n) w.h.p.).",
            RuntimeWarning,
            stacklevel=2,
        )
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.union(p)
    leftover = active.select(
        "id",
        F.lit(None).cast(out.schema["cluster_id"].dataType).alias("cluster_id"),
        F.lit(None).cast("int").alias("assigned_round"),
    )
    return out.union(leftover).select(
        F.col("id").alias("doc_id"), "cluster_id", "assigned_round"
    )


def cluster_edge_stats(
    components: DataFrame,
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-cluster graph-quality diagnostics for ER QA: how clique-like is
    each produced cluster, and how many similarity edges leak across
    cluster boundaries (bridge pressure — the edges transitive closure
    followed and pivot clustering refused).

    Returns one row per cluster_id of ``components`` (doc_id, cluster_id):
      n_nodes        cluster size
      n_edges_within deduped undirected edges with both endpoints inside
      n_edges_out    deduped undirected edges with exactly one endpoint
                     inside (counted for BOTH touching clusters)
      density_ppm    2 * n_edges_within * 1e6 DIV (n_nodes * (n_nodes - 1)),
                     NULL for singletons — exact integer, cross-engine

    Scale shape: two broadcast-friendly equi-joins of the edge list against
    the (node -> cluster) map + one partial-aggregating groupBy per side;
    everything ids-only, nothing quadratic, no collect.
    """
    lbl = components.select(F.col("doc_id").alias("_n"), F.col("cluster_id").alias("_c"))
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("s"),
            F.greatest(F.col(src), F.col(dst)).alias("d"),
        )
        .where(F.col("s") != F.col("d"))
        .dropDuplicates(["s", "d"])
    )
    je = (
        e.join(lbl.withColumnRenamed("_n", "s").withColumnRenamed("_c", "ca"), "s")
        .join(lbl.withColumnRenamed("_n", "d").withColumnRenamed("_c", "cb"), "d")
    )
    within = (
        je.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(F.count("*").alias("n_edges_within"))
    )
    cross_ = je.where(F.col("ca") != F.col("cb"))
    out = (
        cross_.select(F.col("ca").alias("cluster_id"))
        .union(cross_.select("cb"))
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_edges_out"))
    )
    sizes = components.groupBy("cluster_id").agg(F.count("*").alias("n_nodes"))
    return (
        sizes.join(within, "cluster_id", "left")
        .join(out, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_nodes",
            F.coalesce("n_edges_within", F.lit(0)).cast("long").alias("n_edges_within"),
            F.coalesce("n_edges_out", F.lit(0)).cast("long").alias("n_edges_out"),
            F.when(
                F.col("n_nodes") > 1,
                F.expr("2 * 1000000 * coalesce(n_edges_within, 0) "
                       "div (n_nodes * (n_nodes - 1))"),
            ).cast("long").alias("density_ppm"),
        )
    )


def clustering_disagreement_cost(
    components: DataFrame,
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """The correlation-clustering objective for a produced clustering:
    disagreements = intra-cluster NON-edges (pairs grouped without direct
    similarity evidence) + inter-cluster edges (similar pairs split apart).
    This is the quantity KwikCluster/pivot 3-approximates and the number
    that makes transitive closure's bridge-merging cost visible: CC zeroes
    inter_edges but can explode intra_missing on chained graphs.

    One row, exact BIGINTs: n_clusters, n_nodes, intra_pairs
    (sum n(n-1) DIV 2), intra_edges, intra_missing, inter_edges
    (undirected, each counted once), disagreements.  Edges with an
    endpoint absent from ``components`` are ignored (label both sides or
    pass a full assignment).  Built as one aggregate over
    :func:`cluster_edge_stats` — nothing pairwise, nothing collected.
    """
    st = cluster_edge_stats(components, edges, src=src, dst=dst)
    return st.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("n_nodes").cast("long").alias("n_nodes"),
        F.sum(F.expr("(n_nodes * (n_nodes - 1)) div 2")).cast("long").alias("intra_pairs"),
        F.sum("n_edges_within").cast("long").alias("intra_edges"),
        F.sum(F.expr("(n_nodes * (n_nodes - 1)) div 2 - n_edges_within"))
        .cast("long").alias("intra_missing"),
        F.expr("sum(n_edges_out) div 2").cast("long").alias("inter_edges"),
        F.expr(
            "sum((n_nodes * (n_nodes - 1)) div 2 - n_edges_within) "
            "+ sum(n_edges_out) div 2"
        ).cast("long").alias("disagreements"),
    )


def attach_clusters(docs: DataFrame, components: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Every doc gets a cluster_id; unmatched docs become their own cluster."""
    c = components.withColumnRenamed("doc_id", id_col) if id_col != "doc_id" else components
    return (
        docs.join(c, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )

"""Connected components over a pair/edge frame — the clustering step of a
fuzzy-dedup pipeline (LSH pairs -> verify -> CLUSTER -> pick canonical).

The reference has no graph operator (its dedup surface stops at pairwise
comparison); this is part of the training-data extension surface, where
near-dup pairs must be folded into clusters so each cluster keeps exactly
one canonical document.

Input contract: each edge is canonicalized to ``(least, greatest)``, and
edges with a NULL endpoint and self-loops are dropped, in the projection
that feeds the first eager checkpoint. That checkpoint carries the edge
count as an Observation, which picks one of two paths.

Local gate: a graph that fits on one machine needs no distributed rounds
(PAPERS.md, "Approximation Algorithms for Large Scale Data Analysis",
PODS 2021). At most ``LOCAL_CC_MAX_EDGES`` edges are pulled to the
driver (one job) and folded by union-find with the min id as root — the
labels big-star converges to — into a one-partition frame built from an
Arrow table. On a verified dedup graph this replaces every CC round with
one collect; every CC call in the catalog except
``graph_percolation_supplier`` (397k edges at sf0.1) stays under the cap.

Above the cap, alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): the round
count does not depend on graph diameter. Each round is two window mins
and one explode, composed into a single plan that ends in canonicalize +
distinct and is checkpointed (flat lineage) with an Observation of the
edge count and an order-independent checksum; convergence is "round
output identical two rounds running", read from that observation, so a
round costs one action and no separate count. ``CC_MAX_ROUNDS`` rounds
without convergence raise ``ConvergenceError``.

Every Observation gate (here and in pagerank, k_core, bfs_reach,
sssp_bounded) goes through ``session.observed``. In classic PySpark
(checked on 4.1.2), an observation the optimizer pruned makes ``.get``
raise ``Py4JJavaError`` at once (an assertion in
``PythonSQLUtils.toPyRow``); it does not hang. The helper then falls back
to aggregating the same metrics over the un-observed frame.

The cap comes from ``scripts/cc_crossover.py`` (``connected_components``
on generated graphs with the gate forced open and shut, ``local[4]`` on a
shared 4-core VM; wall s / CPU s of driver + JVM / Spark jobs, one warm
run each; ``stars`` are 5-node stars, ``star`` is one giant star):

    edges  shape  local (union-find)   distributed (big-star)
    10k    star   0.52 / 1.80 / 3      2.26 / 6.89 / 11
    10k    stars  0.38 / 1.15 / 3      1.80 / 5.13 / 11
    10k    chain  0.36 / 1.00 / 3      7.67 / 14.61 / 63
    100k   star   0.72 / 1.39 / 3      1.99 / 3.13 / 11
    100k   stars  0.81 / 1.03 / 3      2.24 / 3.71 / 11
    100k   chain  0.89 / 1.19 / 3      13.62 / 19.77 / 75
    300k   star   1.49 / 2.35 / 3      3.49 / 6.30 / 11
    300k   stars  1.91 / 2.55 / 3      2.86 / 6.74 / 11
    300k   chain  2.10 / 2.71 / 3      23.92 / 45.91 / 83
    1M     star   5.60 / 8.09 / 3      6.48 / 18.33 / 11
    1M     stars  8.08 / 12.32 / 3     4.62 / 13.92 / 11
    1M     chain  6.15 / 9.78 / 3      38.66 / 121.28 / 87

Chains favour the driver at every size: big-star needs about log2 n + 1
rounds on a chain (15 at 10k edges, 21 at 1M), so ``CC_MAX_ROUNDS``
leaves room for chains far longer than any dedup graph. Stars of either
kind converge in two rounds and draw level with the driver near 1M
edges; the cap sits below that, and also bounds what one collect pulls
into the driver (two ids per edge).

The one shape big-star runs slower than the retired min-label
propagation loop is the single giant star: its hub puts every edge in
one window partition, where min-label propagation settled in its first
round (1M edges, one warm run each before removal: 2.42 / 7.28 s against
big-star's 6.05 / 15.7 s). No catalog or benchmark graph has that
shape; dedup graphs are small stars and short chains.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import observed

__all__ = ["ConvergenceError", "connected_components", "dedup_clusters", "pagerank", "triangle_count", "label_propagation", "random_walks", "walk_cooccurrence"]

LOCAL_CC_MAX_EDGES = 200_000  # see "Local gate" above
CC_MAX_ROUNDS = 50  # big-star rounds before ConvergenceError
# node-side broadcast gate of the iterative operators: ~16 bytes a node
# row bounds the built relation to ~32 MB, well inside broadcast range
BROADCAST_NODES_MAX = 2_000_000
PAGERANK_CHECKPOINT_EVERY = 3  # rounds between lazy score checkpoints


class ConvergenceError(RuntimeError):
    """Connected components used up ``CC_MAX_ROUNDS`` big-star rounds
    without reaching its fixed point."""


def _local_components(edges: DataFrame) -> DataFrame:
    """Union-find over the ``(u, v)`` rows of ``edges`` on the driver:
    ``(id, component)`` for every endpoint, ``component`` the min id of
    its component (the fixed point big-star converges to).
    Returned as ONE partition built from an Arrow table — a Python list
    would fork Python workers to serialize it, and more partitions would
    fan out every downstream stage (and write one file each)."""
    import numpy as np
    import pyarrow as pa

    t = edges.toArrow()  # c: gated
    ends = pa.concat_arrays([t.column("u").combine_chunks(), t.column("v").combine_chunks()])
    # sorted unique ids: index order is id order, so the min index of a
    # component is its min id
    ids, inv = np.unique(ends.to_numpy(zero_copy_only=False), return_inverse=True)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    n = t.num_rows
    for a, b in zip(inv[:n].tolist(), inv[n:].tolist()):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    roots = np.fromiter((find(x) for x in range(len(ids))), dtype=np.int64, count=len(ids))
    # rows grouped by component, as the distributed loops' shuffles leave
    # them: a downstream write then stores each cluster's columns in runs
    order = np.argsort(roots, kind="stable")
    out = pa.table({"id": pa.array(ids[order], ends.type), "component": pa.array(ids[roots[order]], ends.type)})
    schema = edges.select(F.col("u").alias("id"), F.col("u").alias("component")).schema
    return edges.sparkSession.createDataFrame(out, schema).coalesce(1)

def connected_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Component labels for every endpoint of the non-loop, non-NULL
    edges in ``pairs``: ``(id, component)`` where ``component`` is the
    min node id reachable through the undirected pair graph. A node
    seen only on a self-loop or next to a NULL gets no row.
    Deterministic; order-independent. Raises ``ConvergenceError`` when
    big-star has not converged within ``CC_MAX_ROUNDS`` rounds."""
    from pyspark.sql import Window

    # Materialize the edges BEFORE symmetrizing: a union references its
    # input twice, so checkpointing the union instead would run the
    # (expensive) upstream pair pipeline once per branch in the same job.
    # `!=` is NULL for a NULL endpoint, so one filter drops those edges
    # and self-loops alike. No distinct: union-find ignores duplicate
    # edges, and every big-star round ends in one.
    e, n_edges = observed(
        pairs.where(F.col(src) != F.col(dst)).select(
            F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
        ),
        F.count(F.lit(1)).alias("n"),
    )
    e = e.localCheckpoint(eager=True)
    if n_edges()["n"] <= LOCAL_CC_MAX_EDGES:
        return _local_components(e)

    prev_sig = None
    for _ in range(CC_MAX_ROUNDS):
        # ---- large-star (window form) ----
        # min(self + neighborhood) per node u is a window min over the
        # symmetrized frame; rows with v > u emit (big=v, small=least(u, mn)).
        # b <= u < v, so the emitted pair is already canonical (big, small)
        # and never degenerate.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        ls = (
            sym.withColumn("_mn", F.min("v").over(Window.partitionBy("u")))
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("_mn")).alias("v"),
            )
        )
        # ---- small-star (window form) ----
        # ls rows are (u=big, v=small). Every row links its small end to
        # the group min; the rows that ACHIEVE the min additionally emit
        # the (big, min) self link — duplicates collapse in the
        # end-of-round distinct and cannot move a min.
        ann = ls.withColumn("_mn", F.min("v").over(Window.partitionBy("u")))
        ss = ann.select(
            F.explode(
                F.when(
                    F.col("v") == F.col("_mn"),
                    F.array(
                        F.struct(F.col("v").alias("x"), F.col("_mn").alias("y")),
                        F.struct(F.col("u").alias("x"), F.col("_mn").alias("y")),
                    ),
                ).otherwise(
                    F.array(F.struct(F.col("v").alias("x"), F.col("_mn").alias("y")))
                )
            ).alias("_e")
        ).select(F.col("_e.x").alias("a"), F.col("_e.y").alias("b"))
        e, sig = observed(
            ss.where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct(),
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("u", "v")), F.lit(0)).alias("chk"),
        )
        e = e.localCheckpoint(eager=True)
        if (s := sig()) == prev_sig:
            break
        prev_sig = s
    else:
        raise ConvergenceError(
            f"connected_components: big-star not converged after CC_MAX_ROUNDS={CC_MAX_ROUNDS} rounds"
        )

    # Fixed point: stars (root=u since canonical u<v). Children label to
    # their root; roots label to themselves.
    children = e.select(F.col("v").alias("id"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    return children.unionByName(roots)


def dedup_clusters(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Cluster the verified near-dup pairs: ``(doc_id, cluster_id,
    cluster_size, is_canonical)``. The canonical doc per cluster is the
    min id (== the cluster label); everything else is a removal
    candidate. One extra hash agg over the (tiny) label frame."""
    cc = connected_components(pairs, src, dst)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("id") == F.col("component")).alias("is_canonical"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    round_at: int = 8,
    reset_ids: Optional[DataFrame] = None,
    reset_id_col: str = "id",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge frame: ``(id,
    score)`` after ``iterations`` synchronous rounds of
    score(v) = (1-d) + d * sum over in-edges of score(u)/outdeg(u),
    starting from 1.0. Scores live on the INTEGER ``10^-round_at`` grid
    as BIGINTs (the HITS integer-sufficient-statistics discipline, r6
    verdict item 7): each edge's contribution quantizes to the grid
    (``round(score_n / outdeg)`` — one double op on identical inputs in
    both engines), the per-node sum is exact integer arithmetic, and the
    damped update re-snaps to the grid. The hash-agg accumulation order
    therefore can never drift a ulp between engines or between runs —
    a float running sum rounded per round is ulp-fragile whenever a
    round's sum lands within an ulp of a rounding half-boundary (the
    failure observed live in the logreg GD family). The grid
    quantization is part of the operator CONTRACT: any re-implementation
    (the SQL oracle unrolls the same rounds) reaches identical scores
    bit-for-bit.

    Scale shape per round: one join of the (checkpointed) score frame
    against the out-degree-annotated edges, one sum aggregation keyed by
    dst, one left join back to the node set for sourceless nodes — two
    shuffles a round, with the edge frame checkpointed once up front.
    Nodes with no in-edges settle at (1-d). Dangling nodes (no
    out-edges) contribute nothing, matching the simplified formulation
    (no dangling-mass redistribution).

    ``reset_ids``: PERSONALIZED PageRank — the (1-d) reset mass lands
    only on the given seed nodes (unnormalized: 1.0 per seed, so the
    grid-quantization contract carries over unchanged); scores then
    measure proximity to the seed set, the recommendation/expansion
    primitive. ``None`` = uniform reset (classic PageRank, identical
    to the previous behavior)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("_d"))
    ed = e.join(deg, "u").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    unit = 10**round_at
    # integer reset mass per round: round((1-d) * unit) computed ONCE on
    # the driver — no per-round float literal whose parse could differ
    # between engines (Python 1.0-0.85 and SQL 0.15 are different doubles)
    reset_n = int(round((1.0 - damping) * unit))
    if reset_ids is None:
        nr = nodes.withColumn("_rn", F.lit(reset_n).cast("long"))
    else:
        seeds = (
            reset_ids.select(F.col(reset_id_col).alias("id"))
            .distinct()
            .withColumn("_rn", F.lit(reset_n).cast("long"))
        )
        nr = nodes.join(seeds, "id", "left").na.fill({"_rn": 0})
    # Join strategy (guide-of-record §3.1): the per-round score and
    # contribution frames are NODE-bounded while ``ed`` is EDGE-sized;
    # Spark plans the round join as sort-merge because the checkpointed
    # frames carry no usable stats, which sorts + exchanges the edge
    # frame every round. While the node set is provably small (runtime
    # count against an explicit cap — the lint's `gated` class), hint
    # the node-sized side so the edge frame is never shuffled; larger
    # graphs keep the SMJ path unchanged (cap: BROADCAST_NODES_MAX).
    # The gate count rides the eager checkpoint as an Observation (r12):
    # no dedicated count() job.
    nr, n_nodes = observed(nr, F.count(F.lit(1)).alias("n"))
    nr = nr.localCheckpoint(eager=True)
    _bcast_nodes = int(n_nodes()["n"]) <= BROADCAST_NODES_MAX
    # p0 = 1.0 per (seed) node on the grid
    if reset_ids is None:
        scores = nr.select("id", F.lit(unit).cast("long").alias("_sn"))
    else:
        scores = nr.select(
            "id",
            F.when(F.col("_rn") > 0, F.lit(unit)).otherwise(F.lit(0))
            .cast("long")
            .alias("_sn"),
        )
    for it in range(iterations):
        su = scores.withColumnRenamed("id", "u")
        if _bcast_nodes:
            su = F.broadcast(su)  # b: gated
        contrib = (
            ed.join(su, "u")
            .groupBy(F.col("v").alias("id"))
            .agg(
                F.sum(F.round(F.col("_sn") / F.col("_d")).cast("long")).alias("_in")
            )
        )
        if _bcast_nodes:
            contrib = F.broadcast(contrib)  # b: gated
        scores = nr.join(contrib, "id", "left").select(
            "id",
            (
                F.col("_rn")
                + F.round(
                    F.lit(damping)
                    * F.coalesce(F.col("_in"), F.lit(0)).cast("double")
                ).cast("long")
            ).alias("_sn"),
        )
        # checkpoint every few rounds, LAZILY (r12 round-chaining,
        # VERDICT r11 item 9): the score frame has a single downstream
        # consumer per round (the next round's gated-broadcast join
        # side), so the per-checkpoint materialization job folds into
        # the caller's final action — localCheckpoint still caches the
        # frame on first touch and truncates lineage, which is what the
        # r11 eager-interval measurement (every-round 13.3s, every-3
        # 8.2s, never 9.8s) actually paid for; the eager jobs were pure
        # per-round fixed cost. Values identical either way.
        if (it + 1) % PAGERANK_CHECKPOINT_EVERY == 0 or it == iterations - 1:
            scores = scores.localCheckpoint(eager=False)
    return scores.select(
        "id", (F.col("_sn").cast("double") / F.lit(float(unit))).alias("score")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph.

    ``edges``: one row per undirected edge as (u, v) with u < v (the
    caller dedupes orientation; see ``queries.supplier_triangles`` for
    the co-occurrence construction). Returns (id, n_triangles) for every
    node that closes at least one triangle.

    Algorithm — the standard two-path + closing-edge equi-join, with
    edges ORIENTED by id so each triangle is enumerated exactly once as
    u < v < w: paths = e1(u,v) ⋈ e2(v,w), triangles = paths ⋈ e(u,w).
    Scale shape: two hash equi-joins, no cross product; work is
    sum-of-squares of oriented out-degrees, which id-orientation keeps
    near the theoretical minimum for power-law graphs when ids are
    uncorrelated with degree — for adversarial skew, re-label ids by
    ascending degree first (degree-orientation, one extra agg + join),
    which bounds every out-degree by O(sqrt(edges)). Per-node counts
    fold the three corner projections through one hash agg.
    """
    e = edges.select(F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v"))
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    paths = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
    )
    tri = paths.join(
        e.withColumnRenamed("u", "a").withColumnRenamed("v", "c"), ["a", "c"]
    )
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label propagation over an undirected graph: every
    node starts as its own community and repeatedly adopts the most
    frequent label among its neighbors (ties -> smallest label, the
    quantization that makes rounds engine-exact: every quantity is an
    integer and the argmax is a total order on (count desc, label)).
    Returns (id, community) after ``iterations`` synchronous rounds.

    ``edges``: (u, v) one row per undirected edge (orientation
    irrelevant — both directions are unioned internally).

    Scale shape: each round = one equi-join (labels onto edge
    endpoints) + one (node, label) hash agg + one per-node argmax agg
    (``min_by`` over the (count, label) struct — NOT a window sort:
    per-node neighbor-label lists never materialize in sorted order).
    Synchronous LPA on a DataFrame is the Pregel iteration pattern;
    like pagerank/connected_components above, per-round checkpoints cut
    lineage on real clusters.
    """
    # Cut the plan once (r11): without a checkpoint the caller's edge
    # pipeline (e.g. the top-K support cut behind communities) re-executes
    # inside EVERY round's join — 4x the edge subtree per query.
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=False)
    nodes = und.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("community", F.col("id"))
    # Gated node-side broadcast (the pagerank pattern; labels are
    # node-bounded, und is edge-sized). The count also materializes the
    # und checkpoint before the rounds reference it three times.
    _bcast_nodes = nodes.count() <= BROADCAST_NODES_MAX
    for _ in range(iterations):
        _lab_src = labels.withColumnRenamed("id", "src")
        if _bcast_nodes:
            _lab_src = F.broadcast(_lab_src)  # b: gated
        nb = (
            und.join(_lab_src, "src")
            .groupBy(F.col("dst").alias("id"), "community")
            .agg(F.count(F.lit(1)).alias("w"))
        )
        # argmax by (w desc, community asc) == min_by over (-w, community)
        labels = nb.groupBy("id").agg(
            F.min_by(
                "community", F.struct((-F.col("w")).alias("nw"), F.col("community"))
            ).alias("community")
        ).localCheckpoint(eager=False)
    return labels


def random_walks(
    edges: DataFrame, length: int = 5, seed: str = "walk", max_degree: int = 64
) -> DataFrame:
    """Deterministic uniform random walks — the DeepWalk/node2vec corpus
    generator: one walk per node, ``length`` steps, each step picking a
    neighbor by a PORTABLE hash draw (md5 of (walk, step) mod degree
    over the SORTED adjacency list) instead of an RNG, so walks are
    reproducible across engines, runs, retries, and cluster sizes —
    the same determinism discipline as corpus.hash_split.

    ``edges``: undirected (u, v) rows. Returns (walk_id, path) where
    path is the array of ``length + 1`` visited node ids (walk_id =
    start node). Dead ends cannot occur (every node in the edge list
    has >= 1 neighbor in the undirected view).

    Scale shape: the adjacency table (node -> sorted neighbor array) is
    ONE groupBy; each step is an equi-join of the walk frontier against
    it (walks ride their current node's partition). Steps are
    sequential by nature; the frontier carries only (walk_id, path), so
    state per walk is O(length). Hub-node adjacency arrays are the one
    skew point on power-law graphs, so the operator enforces its own
    cap: ``max_degree`` neighbors survive per node, chosen by a
    DETERMINISTIC hash rank (md5 of (seed, src, dst) ascending, dst
    tie-break) — an unbiased, engine-portable sample that bounds every
    adjacency row at O(max_degree) regardless of hub size. The draw
    then runs over the SORTED capped list exactly as before, so walks
    stay reproducible across engines, runs, and cluster sizes.
    """
    from pyspark.sql import Window

    und = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
    )
    # Cap BEFORE the collect so the agg buffer is bounded at max_degree
    # even for a hub with millions of neighbors: the window's sort state
    # spills to disk; a collect_set-then-slice would not.
    cap_key = F.md5(
        F.concat(
            F.lit(seed),
            F.lit("-cap-"),
            F.col("src").cast("string"),
            F.lit("-"),
            F.col("dst").cast("string"),
        )
    )
    rk = F.row_number().over(Window.partitionBy("src").orderBy(cap_key, "dst"))
    capped = und.withColumn("rk", rk).where(F.col("rk") <= max_degree)
    adj = capped.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("nbrs"),
        F.size(F.collect_set("dst")).alias("deg"),
    )
    walks = adj.select(
        F.col("src").alias("walk_id"), F.array(F.col("src")).alias("path")
    )
    for step in range(1, length + 1):
        cur = F.element_at(F.col("path"), -1)
        walks = walks.join(adj, cur == F.col("src"))
        draw = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(seed),
                            F.lit("-"),
                            F.col("walk_id").cast("string"),
                            F.lit("-"),
                            F.lit(step),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.col("deg")
        )
        nxt = F.element_at(F.col("nbrs"), (draw + 1).cast("int"))
        walks = walks.select(
            "walk_id", F.concat(F.col("path"), F.array(nxt)).alias("path")
        )
    return walks


def k_core(edges: DataFrame, k: int = 3, max_rounds: int = 8) -> DataFrame:
    """K-core decomposition by synchronous peeling: round r removes every
    node whose CURRENT degree is < k; survivors after the peel reaches a
    fixpoint are the k-core. Returns one row per node of the input graph:
    (node, peel_round) with peel_round = the round that removed the node,
    or 0 for core members — the full onion, so the result is informative
    even when the core is empty (small graphs) or the peel is a no-op
    (dense graphs).

    Deterministic without tie-breaks: simultaneous peeling makes the
    per-round removal set a pure function of the graph, and the k-core
    itself is unique — so an unrolled fixed-round SQL oracle lands on
    identical rows whether or not it runs extra no-op rounds past the
    fixpoint.

    Scale shape (the Lloyd/LPA iterative discipline): each round is ONE
    degree aggregation (map-side partials) + a left join against the
    surviving-node set + two semi-joins filtering the live edge list;
    per-round frames are checkpointed so lineage stays flat. The driver
    holds only a 1-row count per round (the convergence barrier that IS
    the algorithm); ``max_rounds`` bounds the round count — peeling
    removes >= 1 node per non-terminal round, and real corpora converge
    in a handful of rounds because degrees drop geometrically. Pass
    ``max_rounds=None`` to loop to the true fixpoint (each round is one
    cheap agg); with a bounded budget, a still-active peel after the
    final round emits a ``UserWarning`` — the returned ``peel_round=0``
    labels are then "survivors at the budget", a superset of the k-core
    (a degenerate chain graph peels only its ends each round, so
    convergence within the budget is NOT guaranteed in general).
    """
    import warnings

    und = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = und.select("src").distinct()
    live = und
    peeled = []
    r = 1
    while True:
        degs = live.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        deg = nodes.join(degs, "src", "left").select(
            "src", F.coalesce(F.col("_d"), F.lit(0)).alias("_d")
        )
        # the low-degree count rides the checkpoint job (no count() job)
        low, n_low = observed(
            deg.where(F.col("_d") < k).select("src"), F.count(F.lit(1)).alias("n")
        )
        low = low.localCheckpoint(eager=True)
        if n_low()["n"] == 0:
            break
        if max_rounds is not None and r > max_rounds:
            warnings.warn(
                f"k_core: peel still active after max_rounds={max_rounds}; "
                "peel_round=0 labels are survivors at the budget, a SUPERSET "
                "of the true k-core (pass max_rounds=None for the fixpoint)",
                UserWarning,
                stacklevel=2,
            )
            break
        peeled.append(low.select("src", F.lit(r).cast("long").alias("peel_round")))
        nodes = deg.where(F.col("_d") >= k).select("src").localCheckpoint(eager=True)
        live = (
            live.join(nodes, "src", "semi")
            .join(nodes.withColumnRenamed("src", "dst"), "dst", "semi")
            .localCheckpoint(eager=False)
        )
        r += 1
    out = nodes.select("src", F.lit(0).cast("long").alias("peel_round"))
    for p in peeled:
        out = out.unionByName(p)
    return out.select(F.col("src").alias("node"), "peel_round")


def walk_cooccurrence(
    walks: DataFrame,
    window: int = 2,
    min_count: int = 3,
    id_col: str = "walk_id",
    path_col: str = "path",
) -> DataFrame:
    """Skip-gram co-occurrence statistics over a random-walk corpus —
    the counting half of DeepWalk/node2vec: nodes within ``window``
    positions on the same walk co-occur; pairs are canonicalized
    (u < v), floored at ``min_count``, and scored with a PMI-style
    association ``ln(c_uv * n_pos / (occ_u * occ_v))`` (n_pos = total
    node occurrences). High-PMI pairs are the edges an embedding would
    pull together — the graph twin of token PMI collocations.

    Shape: one posexplode of the walk frame (length+1 rows per walk),
    a within-walk self-join bounded by |walk| * window pairs per walk
    (never the graph), one pair hash agg, unigram margins broadcast
    back. Walk corpora scale as walks * length — independent of edge
    count — so the join input is already the REDUCED frame.

    Returns (u, v, n_cooccur, pmi).
    """
    pos = walks.select(
        F.col(id_col).alias("_wid"), F.posexplode(path_col).alias("_pos", "_node")
    ).localCheckpoint(eager=False)
    a = pos.select(F.col("_wid"), F.col("_pos").alias("_pa"), F.col("_node").alias("_na"))
    b = pos.select(F.col("_wid"), F.col("_pos").alias("_pb"), F.col("_node").alias("_nb"))
    co = (
        a.join(b, "_wid")
        .where(
            (F.col("_pb") > F.col("_pa"))
            & (F.col("_pb") - F.col("_pa") <= window)
            & (F.col("_na") != F.col("_nb"))
        )
        .groupBy(
            F.least("_na", "_nb").alias("u"), F.greatest("_na", "_nb").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_cooccur"))
        .where(F.col("n_cooccur") >= min_count)
    )
    occ = pos.groupBy(F.col("_node")).agg(F.count(F.lit(1)).cast("long").alias("_occ"))
    n = occ.agg(F.sum("_occ").cast("long").alias("_npos"))
    return (
        co.join((occ.select(F.col("_node").alias("u"), F.col("_occ").alias("_ou"))), "u")
        .join((occ.select(F.col("_node").alias("v"), F.col("_occ").alias("_ov"))), "v")
        .crossJoin(F.broadcast(n))  # b: 1row
        .select(
            "u",
            "v",
            "n_cooccur",
            F.round(
                F.log(F.col("n_cooccur") * 1.0 * F.col("_npos") / (F.col("_ou") * F.col("_ov"))),
                4,
            ).alias("pmi"),
        )
    )


def bfs_reach(edges: DataFrame, seeds: DataFrame, radius: int = 3) -> DataFrame:
    """Multi-source breadth-first reach: for every seed node, count how
    many NEW nodes are first reached at hop 1, 2, ... ``radius`` over
    the undirected graph — the neighborhood-growth / influence-radius
    profile (the exact small-radius core of HyperBall; swap the exact
    per-seed visited set for an HLL register merge to go unbounded).

    ``edges`` is (u, v); ``seeds`` is a 1-column frame of node ids.
    Returns (seed, radius, n_new) — rows only where n_new > 0.

    Shape (the synchronous-rounds discipline shared with pagerank/CC):
    each hop is ONE equi-join of the frontier against the adjacency
    frame + one anti-join against the visited set + a distinct — all
    keyed shuffles, nothing global; frontier/visited checkpoint per
    round to keep lineage flat. State is (seed, node) pairs, bounded by
    seeds x reach — the reason seeds are a SMALL cohort (hubs, a query
    set), not the whole graph; all-nodes reach at 100 TB is HyperBall
    territory (constant-size sketch per node instead of exact sets).
    """
    if radius < 1:
        raise ValueError(f"bfs_reach needs radius >= 1, got {radius}")
    und = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    seed_col = seeds.columns[0]
    visited, n_visited = observed(
        seeds.select(F.col(seed_col).alias("seed"), F.col(seed_col).alias("node")),
        F.count(F.lit(1)).alias("n"),
    )
    visited = visited.localCheckpoint(eager=True)
    frontier, n_frontier = visited, int(n_visited()["n"])
    out = None
    for r in range(1, radius + 1):
        # Gated frontier-side broadcast (the pagerank pattern): the
        # frontier is (seed-cohort x reach)-bounded while the adjacency
        # is edge-sized. The frontier size rides each round's eager
        # checkpoint as an Observation (r12) — no per-round count() job.
        _f = F.broadcast(frontier) if n_frontier <= BROADCAST_NODES_MAX else frontier  # b: gated
        nxt, n_next = observed(
            _f.join(und, _f["node"] == und["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        nxt = nxt.localCheckpoint(eager=True)
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        cnt = nxt.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
        cnt = cnt.select("seed", F.lit(r).cast("long").alias("radius"), "n_new")
        out = cnt if out is None else out.unionByName(cnt)
        frontier, n_frontier = nxt, int(n_next()["n"])
    return out


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    weight_col: str = "w",
) -> DataFrame:
    """Single/multi-source shortest paths with INTEGER weights, bounded
    to ``max_hops`` relaxation rounds (distributed Bellman-Ford) over
    the undirected graph. Returns (src_id, node, dist) for every node
    whose <= max_hops-hop distance is finite — exact: min-plus on
    integers has no float drift, and synchronous relaxation makes each
    round a pure function of the previous frontier.

    Shape: each round is ONE equi-join (current distances x adjacency)
    + ONE min aggregation per (source, node) — keyed shuffles only,
    checkpointed per round. State is (sources x reached) rows, the same
    bounded-cohort contract as bfs_reach; all-pairs distances at 100 TB
    are sketch territory. Weights must be positive integers (cost
    grids, hop counts, quantized lengths).
    """
    und = (
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col(weight_col).alias("w"))
        .unionAll(
            edges.select(F.col("v").alias("a"), F.col("u").alias("b"), F.col(weight_col).alias("w"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    src_col = sources.columns[0]
    dist, n_read = observed(
        sources.select(
            F.col(src_col).alias("src_id"),
            F.col(src_col).alias("node"),
            F.lit(0).cast("long").alias("dist"),
        ),
        F.count(F.lit(1)).alias("n"),
    )
    dist = dist.localCheckpoint(eager=True)
    n_dist = int(n_read()["n"])
    for _ in range(max_hops):
        # Gated frontier-side broadcast (the pagerank pattern): the
        # distance frame is (seed-cohort x reached)-bounded, the
        # adjacency is edge-sized. The frame size rides each round's
        # eager checkpoint as an Observation (r12) — no per-round
        # count() job.
        _d = F.broadcast(dist) if n_dist <= BROADCAST_NODES_MAX else dist  # b: gated
        relaxed = (
            _d.join(und, _d["node"] == und["a"])
            .select("src_id", F.col("b").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist, n_read = observed(
            dist.unionByName(relaxed)
            .groupBy("src_id", "node")
            .agg(F.min("dist").cast("long").alias("dist")),
            F.count(F.lit(1)).alias("n"),
        )
        dist = dist.localCheckpoint(eager=True)
        n_dist = int(n_read()["n"])
    return dist


def hyperball_neighborhood(
    edges: DataFrame,
    src: str,
    dst: str,
    radius: int = 3,
    b: int = 6,
) -> DataFrame:
    """HyperBall (Boldi & Vigna, "HyperBall: a.k.a. HyperLogLog in
    BigData", 2013): the neighborhood function N(t) = sum over nodes of
    |ball(v, t)|, estimated by maintaining ONE mergeable HLL register set
    per node and max-merging each node's registers with its neighbors'
    each round — the sketch that makes effective-diameter/centrality
    computable at 100 TB where exact all-pairs BFS
    (state = nodes x reached) cannot exist. Registers use the portable
    md5 hash (operators/sketches.hll_prepare), so estimates are
    engine-exact and the oracle can replay the rounds in SQL.

    State is PACKED: one ``array<int>[m]`` register column per node
    (slot value 0 = empty register; a real rho is always >= 1), so the
    per-round exchange moves |nodes| array rows instead of |nodes| x m
    (node, bucket, reg) rows — r11: ~64x fewer shuffle rows, ~3x fewer
    bytes, and the per-element max partially aggregates map-side. Per
    round exactly one equi-join (gated node-side broadcast — the
    pagerank pattern; the self-merge rides a self-loop row per node, so
    there is no union) + one packed max agg; the estimate pass is
    map-only HOF arithmetic over the array plus one global agg, where
    the row-oriented layout paid a full (id, bucket) exchange per tick.

    Returns one row per t in 0..radius:
    ``(radius, n_nodes, est_reach)`` where est_reach = sum of per-node
    HLL ball-size estimates (each rounded to 4 before the sum, matching
    the SQL twin). Register values, the max-merge, and the finalize
    formula are bit-identical to operators/sketches.hll_prepare /
    hll_finalize (z = sum over occupied registers of 2^-reg, plus one
    per empty register — dyadic terms, order-exact).
    """
    # Packed-layout budget (ADVICE r11): the init array and the
    # max-merge each emit ~m expressions into the plan, so b beyond 8
    # (m=256, ~512 expressions/round) hits analyzer/codegen blowup long
    # before the estimate gains precision — fail loudly instead of
    # hanging the driver. (Row-oriented HLL is the shape for larger m.)
    if not 4 <= b <= 8:
        raise ValueError(f"hyperball_neighborhood: b={b} outside the packed-register budget 4..8")
    m = 1 << b
    wbits = 60 - b
    alpha = 0.7213 / (1.0 + 1.079 / m)

    # Materialize the edge projection BEFORE symmetrizing (the
    # connected_components discipline): und references it FOUR times
    # (sym twice, self-loops twice more), so an un-materialized caller
    # pipeline would execute 4x inside the und job (measured r11: the
    # hyperball edge-cut build went 1x -> 4x the moment the self-loop
    # union landed; this checkpoint pins it at 1x).
    e0 = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b")).localCheckpoint(
        eager=True
    )
    sym = e0.unionAll(e0.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    # Self-loop per node (every node appears as _a after symmetrizing):
    # each round's max-merge then includes the node's own registers via
    # the same join, with no extra union branch.
    und = (
        sym.unionAll(sym.select("_a", F.col("_a").alias("_b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Packed init (map-only): the node's single hashed value occupies one
    # register slot; all other slots hold the empty marker 0.
    h = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast("long")
    nodes = (
        und.select(F.col("_a").alias("id"))
        .distinct()
        .withColumn("_h", h)
        .select(
            "id",
            F.pmod(F.col("_h"), F.lit(m)).alias("_bucket"),
            F.shiftright(F.col("_h"), b).alias("_w"),
        )
        .withColumn(
            "_rho",
            F.when(F.col("_w") == 0, F.lit(wbits + 1)).otherwise(
                F.lit(wbits + 1) - F.length(F.bin(F.col("_w")))
            ),
        )
    )
    regs = nodes.select(
        "id",
        F.array(
            *[
                F.when(F.col("_bucket") == i, F.col("_rho"))
                .otherwise(F.lit(0))
                .cast("int")
                for i in range(m)
            ]
        ).alias("_regs"),
    ).localCheckpoint(eager=False)
    # Gated node-side broadcast (the pagerank pattern): the register
    # frame is node-bounded; the count is ALSO the round-0 materializer
    # (it pulls the lazy regs and und checkpoints through in one job).
    # Gate on estimated BYTES (rows * m * 4 <= 128 MB), not a fixed row
    # count (ADVICE r11): the per-row register payload scales with
    # m = 2^b, so a row-count cap only bounds the broadcast at b=6.
    _bcast_nodes = regs.count() * m * 4 <= (128 << 20)
    _merge = F.expr(
        "array(" + ", ".join(f"max(_regs[{i}])" for i in range(m)) + ")"
    ).alias("_regs")

    def _tick(t: int, r: DataFrame) -> DataFrame:
        # hll_finalize over the packed array, map-side: z = sum of 2^-reg
        # over occupied slots + (# empty slots), exactly the row form's
        # sum(2^-reg) + (m - count).
        occ = F.filter(F.col("_regs"), lambda x: x > 0)
        z = F.aggregate(
            occ, F.lit(0.0), lambda acc, x: acc + F.pow(F.lit(2.0), -x)
        ) + (F.lit(m) - F.size(occ))
        v = (F.lit(m) - F.size(occ)).cast("double")
        raw = F.lit(alpha * m * m) / z
        linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v)
        est = r.select(
            F.round(
                F.when((raw <= 2.5 * m) & (v > 0), linear).otherwise(raw), 4
            ).alias("est_distinct")
        )
        return est.agg(
            F.lit(t).cast("long").alias("radius"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.round(F.sum("est_distinct"), 4).alias("est_reach"),
        )

    out = _tick(0, regs)
    for t in range(1, radius + 1):
        r_in = F.broadcast(regs) if _bcast_nodes else regs  # b: gated
        regs = (
            und.join(r_in, und["_b"] == r_in["id"])
            .groupBy(und["_a"].alias("id"))
            .agg(_merge)
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(_tick(t, regs))
    return out

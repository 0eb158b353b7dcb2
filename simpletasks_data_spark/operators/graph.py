"""Connected components over a pair/edge frame — the clustering step of a
fuzzy-dedup pipeline (LSH pairs -> verify -> CLUSTER -> pick canonical).

The reference has no graph operator (its dedup surface stops at pairwise
comparison); this is part of the training-data extension surface, where
near-dup pairs must be folded into clusters so each cluster keeps exactly
one canonical document.

Algorithm: iterative min-label propagation with path-halving.

- ``lab(u)`` starts as ``u``; each round every node takes the min of its
  own label and its neighbors' labels (one shuffle join + one hash agg),
  then a pointer-jump round replaces ``lab(u)`` with ``lab(lab(u))``
  (path halving — a second self-join), which makes long chains collapse
  in O(log diameter) rounds instead of O(diameter).
- Convergence is detected with an exact changed-label count folded into
  the SAME action that materializes the round's labels (``Observation``
  on the per-round ``localCheckpoint``), so each round costs exactly one
  job; the loop stops at ``changed == 0``.
- Every such gate (here and in pagerank, k_core, bfs_reach, sssp_bounded)
  goes through ``session.observed``. In classic PySpark (checked on
  4.1.2), an observation the optimizer pruned makes ``.get`` raise
  ``Py4JJavaError`` at once (an assertion in ``PythonSQLUtils.toPyRow``);
  it does not hang. The helper then falls back to aggregating the same
  metrics over the un-observed frame.
- Each round checkpoints: iterative lineage otherwise grows a plan per
  round and re-executes the whole history on every action. On a cluster
  this would be ``persist(MEMORY_AND_DISK)`` + periodic reliable
  checkpoints.

Local gate: a graph that fits on one machine needs no distributed rounds
(PAPERS.md, "Approximation Algorithms for Large Scale Data Analysis",
PODS 2021). Both CC entry points start with an eager checkpoint of the
pair frame; it carries two observed counts, edges and edges with a NULL
endpoint. With no NULL endpoint and at most ``LOCAL_CC_MAX_EDGES`` edges,
the edges are pulled to the driver (one job) and folded by union-find
with the min id as root — the same labels either loop converges to —
into a one-partition frame built from an Arrow table. Otherwise the
loops below run unchanged (a NULL endpoint keeps each loop's own NULL
semantics). On a verified dedup graph this replaces every CC round with
one collect: a warm ``dedup_corpus`` benchmark call goes from 17 to 8
jobs inside ``dedup_clusters``. The local path always reaches the fixed
point; ``max_iter`` bounds only the distributed loops.

The cap comes from ``scripts/cc_crossover.py`` (``connected_components``
on generated graphs, ``local[4]`` on a shared 4-core VM, wall / CPU
seconds of driver + JVM, one warm run each):

    edges   shape  local          distributed
    10k     star   0.63 / 2.15    2.05 / 6.51
    10k     chain  0.96 / 2.11    6.58 / 16.96
    100k    star   0.77 / 1.52    1.20 / 3.22
    100k    chain  0.75 / 1.07    11.11 / 24.33
    300k    star   2.56 / 6.47    2.57 / 7.53
    300k    chain  1.72 / 2.79    20.58 / 57.15
    1M      star   6.08 / 11.70   3.67 / 11.26
    1M      chain  6.94 / 9.54    62.29 / 179.46

Chains favour the driver at every size (their distributed cost grows
with the O(log diameter) rounds); stars cross over near 300k edges. The
cap sits below that crossover, and also bounds what one collect pulls
into the driver (two ids per edge).

Scale notes (100 TB): dedup graphs are overwhelmingly tiny stars and
short chains — label propagation with path halving converges in a
handful of rounds, each a pair of shuffles on the (contracting) label
frame. For adversarially long paths the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) bounds rounds by O(log² n) independent of
diameter; the loop below is structured so that swap is a drop-in
(replace the propagate step, keep the checkpoint/observe harness). A
hot node (one document near-duplicating millions) concentrates its
star's edges on one reducer — pre-contract such stars with an exact
content-hash dedup pass (byte-identical copies never need the graph).
"""

from __future__ import annotations

from typing import Callable, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import observed

__all__ = ["connected_components", "connected_components_bigstar", "dedup_clusters", "pagerank", "triangle_count", "triangle_count_degree_oriented", "label_propagation", "random_walks", "walk_cooccurrence"]

LOCAL_CC_MAX_EDGES = 200_000  # see "Local gate" above


def _gated_edges(pairs: DataFrame, src: str, dst: str) -> Tuple[DataFrame, Callable[[], bool]]:
    """``pairs`` as ``(u, v)`` with the local gate's two counts observed
    on it, and a reader (valid once the frame's checkpoint has run) that
    says whether the graph goes to the driver."""
    uv, read = observed(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        F.count(F.lit(1)).alias("n_edges"),
        F.count_if(F.col("u").isNull() | F.col("v").isNull()).alias("n_null"),
    )

    def local() -> bool:
        gate = read()
        return gate["n_null"] == 0 and gate["n_edges"] <= LOCAL_CC_MAX_EDGES

    return uv, local


def _local_components(edges: DataFrame) -> DataFrame:
    """Union-find over the ``(u, v)`` rows of ``edges`` on the driver:
    ``(id, component)`` for every endpoint, ``component`` the min id of
    its component (the fixed point both distributed loops converge to).
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


def connected_components(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Component labels for every node that appears in ``pairs``:
    ``(id, component)`` where ``component`` is the min node id reachable
    through the undirected pair graph. Deterministic; order-independent."""
    # Materialize the pair frame BEFORE symmetrizing: a union references
    # its input twice, so checkpointing the union instead would run the
    # (expensive) upstream pair pipeline once per branch in the same job.
    # The symmetric form is a narrow double-read of the checkpointed rows.
    e, local = _gated_edges(pairs, src, dst)
    e = e.localCheckpoint(eager=True)
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if local():
        # src and dst may differ in type (int vs long): pull the type the
        # union widens both to, which the loops below would label with
        common = edges.schema["u"].dataType
        return _local_components(e.select(*(F.col(c).cast(common).alias(c) for c in ("u", "v"))))
    # Fused init: the node-set distinct would cost the same shuffle as a
    # min aggregation, so fold propagation round 1 into it — lab0(u) =
    # min(u, min neighbor). Stars and isolated pairs (the overwhelming
    # shape of dedup graphs) are DONE after this init; the loop below then
    # only confirms convergence (one round) instead of propagating twice.
    # The node count for the broadcast gate rides the init's eager
    # checkpoint as an Observation (r12: the separate lab.count() job is
    # gone — one job per CC call saved, the kmeans-gate pattern).
    lab, n_nodes = observed(
        edges.groupBy(F.col("u").alias("id"))
        .agg(F.min("v").alias("_mn"))
        .select("id", F.least(F.col("id"), F.col("_mn")).alias("lab")),
        F.count(F.lit(1)).alias("n"),
    )
    lab = lab.localCheckpoint(eager=True)
    # Gated node-side broadcast (guide-of-record §3.1, the pagerank
    # pattern): the label frame is NODE-bounded, the edge frame is not;
    # the checkpointed frames carry no stats so Spark would sort-merge
    # and re-shuffle the edge frame every round. Deterministic metrics
    # at sf0.1 (scripts/ab_metrics.py, percolation = 3 CC runs):
    # shuffle 15.0 -> 1.8 MB, executor CPU 44 -> 32 s. Wall-clock A/B
    # first suggested a regression — that was host-throughput noise
    # (2x control swings); decide iterative-join strategy from plan
    # metrics, not wall seconds, on this box.
    _bcast_nodes = int(n_nodes()["n"]) <= 2_000_000
    for _ in range(max_iter):
        # min over self + neighbor labels (one shuffle on id). The self
        # rows carry a marker so the SAME aggregation also yields the old
        # label — the convergence check then rides the round's observation
        # instead of costing a third join.
        _lab_u = lab.withColumnRenamed("id", "u")
        if _bcast_nodes:
            _lab_u = F.broadcast(_lab_u)  # b: gated
        nbr = (
            edges.join(_lab_u, "u")
            .select(F.col("v").alias("id"), "lab", F.lit(False).alias("_self"))
        )
        new = (
            lab.withColumn("_self", F.lit(True))
            .unionByName(nbr)
            .groupBy("id")
            .agg(
                F.min("lab").alias("lab"),
                F.max(F.when(F.col("_self"), F.col("lab"))).alias("_old"),
            )
        )
        # path halving: lab(u) <- lab(lab(u)); labels are node ids, so the
        # label frame itself is the pointer table
        _ptr = lab.select(F.col("id").alias("lab"), F.col("lab").alias("_ll"))
        if _bcast_nodes:
            _ptr = F.broadcast(_ptr)  # b: gated
        new = (
            new.join(
                _ptr,
                "lab",
                "left",
            )
            .select(
                "id",
                F.least(F.col("lab"), F.coalesce(F.col("_ll"), F.col("lab"))).alias("lab"),
                "_old",
            )
        )
        cmp, changed = observed(new, F.count_if(F.col("lab") != F.col("_old")).alias("changed"))
        lab = cmp.select("id", "lab").localCheckpoint(eager=True)
        if int(changed()["changed"]) == 0:
            break
    return lab.select("id", F.col("lab").alias("component"))


def connected_components_bigstar(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    the same ``(id, component)`` contract as :func:`connected_components`,
    but round count is O(log² n) INDEPENDENT of graph diameter — the
    variant to reach for on adversarial chain-shaped graphs, where plain
    label propagation (even with path halving) degrades to O(log diameter)
    rounds over a frame that stays large.

    Per round exactly ONE job: both phases are window passes (min over
    the neighbor partition — the same key the old groupBy+self-join pair
    shuffled twice), composed into a single plan that ends in
    canonicalize + distinct, checkpointed with an Observation carrying
    the edge count and an order-independent checksum — convergence is
    "small-star output identical two rounds running", detected from the
    observation, costing no extra action. (r11: the groupBy+join form
    cost ~5 exchanges + 2 actions per round; the window form is
    set-identical — min is duplicate-insensitive, and the end-of-round
    distinct subsumes the intermediate one — at 3 exchanges + 1 action.)
    At the fixed point the edge set is a star forest rooted at each
    component's min id.

    - large-star: every node links its LARGER neighbors to its smallest
      known node (min of self + neighborhood) — long chains fold toward
      small ids without ever increasing the edge count beyond 2|E|.
    - small-star: every node links its smaller-or-equal neighbors (plus
      itself) to their min — consolidating the partial stars.
    """
    from pyspark.sql import Window

    raw, local = _gated_edges(pairs, src, dst)
    e = (
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if local():
        return _local_components(e)

    def _checkpoint_observed(edges: DataFrame):
        out, read = observed(
            edges,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("u", "v")), F.lit(0)).alias("chk"),
        )
        out = out.localCheckpoint(eager=True)
        row = read()
        return out, (row["n"], row["chk"])

    prev_sig = None
    for _ in range(max_iter):
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
        # ls rows are (u=big, v=small): exactly the old `smaller` frame.
        # Every row links its small end to the group min; the rows that
        # ACHIEVE the min additionally emit the (big, min) self link —
        # duplicates (from skipping the intermediate distinct) collapse in
        # the end-of-round distinct and cannot move a min.
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
        e_ss = (
            ss.where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )
        e, sig = _checkpoint_observed(e_ss)
        if sig == prev_sig:
            break
        prev_sig = sig

    # Fixed point: stars (root=u since canonical u<v). Children label to
    # their root; roots label to themselves.
    children = e.select(F.col("v").alias("id"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    return children.unionByName(roots)


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Cluster the verified near-dup pairs: ``(doc_id, cluster_id,
    cluster_size, is_canonical)``. The canonical doc per cluster is the
    min id (== the cluster label); everything else is a removal
    candidate. One extra hash agg over the (tiny) label frame.
    ``algorithm``: ``label_prop`` (default; fastest on star-heavy dedup
    graphs) or ``bigstar`` (round count independent of diameter)."""
    cc_fn = (
        connected_components_bigstar if algorithm == "bigstar" else connected_components
    )
    cc = cc_fn(pairs, src, dst, max_iter)
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
    checkpoint_interval: int = 3,
    broadcast_nodes_limit: int = 2_000_000,
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
    dst, one left join back to the node set for sourceless nodes — the
    same two-shuffle round as connected_components, with the edge frame
    checkpointed once up front. Nodes with no in-edges settle at (1-d).
    Dangling nodes (no out-edges) contribute nothing, matching the
    simplified formulation (no dangling-mass redistribution).

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
    # graphs keep the SMJ path unchanged. ~16 bytes/row -> the cap
    # bounds the built relation to ~32 MB, well inside broadcast range.
    # The gate count rides the eager checkpoint as an Observation (r12):
    # no dedicated count() job.
    nr, n_nodes = observed(nr, F.count(F.lit(1)).alias("n"))
    nr = nr.localCheckpoint(eager=True)
    _bcast_nodes = int(n_nodes()["n"]) <= broadcast_nodes_limit
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
        if (it + 1) % checkpoint_interval == 0 or it == iterations - 1:
            scores = scores.localCheckpoint(eager=False)
    return scores.select(
        "id", (F.col("_sn").cast("double") / F.lit(float(unit))).alias("score")
    )


def triangle_count_degree_oriented(edges: DataFrame) -> DataFrame:
    """``triangle_count`` with DEGREE orientation: edges are re-oriented
    from the endpoint with smaller (degree, id) toward the larger, which
    bounds every oriented out-degree by O(sqrt(|E|)) (a node of degree d
    only points at neighbors of degree >= d, and there are at most
    2|E|/d of those) — the worst-case guard for power-law graphs where
    id-orientation can leave a hub with huge out-degree. Costs one
    degree aggregation + two broadcast joins more than the id-oriented
    form; identical output.
    """
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("id").alias("u"), F.struct("d", "id").alias("ku"))
    db = deg.select(F.col("id").alias("v"), F.struct("d", "id").alias("kv"))
    keyed = edges.join(da, "u").join(db, "v")
    oriented = keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("v"),
    )
    # the oriented relation is a DAG under the (degree, id) total order,
    # so the same two-join enumeration counts each triangle once
    e = oriented
    e1, e2 = e.alias("e1"), e.alias("e2")
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
    # Gated node-side broadcast (the pagerank/CC pattern; labels are
    # node-bounded, und is edge-sized). The count also materializes the
    # und checkpoint before the rounds reference it three times.
    _bcast_nodes = nodes.count() <= 2_000_000
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
        _f = F.broadcast(frontier) if n_frontier <= 2_000_000 else frontier  # b: gated
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
        # Gated frontier-side broadcast (the pagerank/CC pattern): the
        # distance frame is (seed-cohort x reached)-bounded, the
        # adjacency is edge-sized. The frame size rides each round's
        # eager checkpoint as an Observation (r12) — no per-round
        # count() job.
        _d = F.broadcast(dist) if n_dist <= 2_000_000 else dist  # b: gated
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
    # Gated node-side broadcast (the pagerank/CC pattern): the register
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

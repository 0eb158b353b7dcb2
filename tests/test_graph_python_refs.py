"""Randomized independent-reference tests for the iterative graph
kernels (r7 verdict item 8 discipline, extended to the graph family):
``pagerank`` / personalized PageRank, ``sssp_bounded``, ``k_core`` and
``connected_components`` checked against pure-Python loops that share
no code with either engine.

The PageRank reference transcribes the INTEGER-grid contract
(operators/graph.py:244): per-edge contribution = half-up round of the
one double op ``score_n / outdeg``; per-node sum in exact ints; damped
update re-snaps to the grid. Spark's ``F.round`` on a double is
``BigDecimal.valueOf(d).setScale(0, HALF_UP)`` — BigDecimal.valueOf
parses Double.toString's shortest decimal repr, which is the same
decimal string Python's ``repr(float)`` produces, so the faithful
Python twin is ``Decimal(repr(x)).quantize(1, ROUND_HALF_UP)``.
Bit-identical equality is asserted (the grid exists so hash-agg
accumulation order can never drift a ulp — this test is the
independent proof of that contract on random graphs).

SSSP and k-core are pure integer min-plus / peeling — transcribed
round-for-round, exact equality.
"""

import os
import random
import sys
from collections import Counter, deque
from decimal import ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simpletasks_data_spark.operators.graph import (  # noqa: E402
    k_core,
    pagerank,
    sssp_bounded,
)


def _spark_round(x: float) -> int:
    """F.round(double) twin: HALF_UP on the shortest-repr decimal."""
    return int(Decimal(repr(float(x))).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _py_pagerank(pairs, iterations, damping=0.85, round_at=8, seeds=None):
    """Row-at-a-time transcription of operators/graph.py::pagerank."""
    unit = 10 ** round_at
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    outdeg = Counter(u for u, _ in pairs)  # duplicate edges count twice, like the engine
    reset_n = int(round((1.0 - damping) * unit))  # driver-side, same expr as the engine
    if seeds is None:
        rn = {n: reset_n for n in nodes}
        sn = {n: unit for n in nodes}
    else:
        rn = {n: (reset_n if n in seeds else 0) for n in nodes}
        sn = {n: (unit if n in seeds else 0) for n in nodes}
    for _ in range(iterations):
        inc = {n: 0 for n in nodes}
        for u, v in pairs:
            inc[v] += _spark_round(sn[u] / outdeg[u])
        sn = {n: rn[n] + _spark_round(damping * float(inc[n])) for n in nodes}
    return {n: sn[n] / float(unit) for n in nodes}


def _random_pairs(rng, n_nodes, n_edges, allow_dups=True):
    pairs = []
    for _ in range(n_edges):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            pairs.append((a, b))
    if not allow_dups:
        pairs = sorted(set(pairs))
    return pairs or [(0, 1)]


def test_pagerank_matches_python_power_iteration_random(spark):
    rng = random.Random(81)
    for trial in range(6):
        pairs = _random_pairs(rng, rng.randrange(8, 40), rng.randrange(10, 120))
        iters = rng.randrange(1, 8)
        e = spark.createDataFrame(pairs, "src long, dst long")
        got = {r["id"]: r["score"] for r in pagerank(e, iterations=iters).collect()}
        want = _py_pagerank(pairs, iterations=iters)
        assert got == want, (trial, iters, sorted(pairs)[:10])


def test_personalized_pagerank_matches_python_random(spark):
    rng = random.Random(82)
    for trial in range(4):
        n = rng.randrange(10, 30)
        pairs = _random_pairs(rng, n, rng.randrange(15, 80))
        nodes = {u for u, _ in pairs} | {v for _, v in pairs}
        seeds = set(rng.sample(sorted(nodes), k=min(3, len(nodes))))
        iters = rng.randrange(2, 7)
        e = spark.createDataFrame(pairs, "src long, dst long")
        sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
        got = {
            r["id"]: r["score"]
            for r in pagerank(e, iterations=iters, reset_ids=sdf).collect()
        }
        want = _py_pagerank(pairs, iterations=iters, seeds=seeds)
        assert got == want, (trial, iters, sorted(seeds))


def _py_sssp(pairs_w, sources, max_hops):
    """Transcription of sssp_bounded: symmetrized DISTINCT (a,b,w)
    triples, max_hops synchronous min-plus relaxation rounds."""
    und = {(a, b, w) for a, b, w in pairs_w} | {(b, a, w) for a, b, w in pairs_w}
    dist = {(s, s): 0 for s in sources}
    for _ in range(max_hops):
        relaxed = {}
        for (s, n), d in dist.items():
            for a, b, w in und:
                if a == n:
                    key = (s, b)
                    nd = d + w
                    if nd < relaxed.get(key, nd + 1):
                        relaxed[key] = nd
        merged = dict(dist)
        for key, nd in relaxed.items():
            if nd < merged.get(key, nd + 1):
                merged[key] = nd
        dist = merged
    return dist


def test_sssp_bounded_matches_python_bellman_ford_random(spark):
    rng = random.Random(83)
    for trial in range(5):
        n = rng.randrange(6, 25)
        pairs_w = [
            (a, b, rng.randrange(1, 9))
            for a, b in _random_pairs(rng, n, rng.randrange(8, 60))
        ]
        nodes = {a for a, _, _ in pairs_w} | {b for _, b, _ in pairs_w}
        srcs = rng.sample(sorted(nodes), k=min(2, len(nodes)))
        hops = rng.randrange(1, 5)
        e = spark.createDataFrame(pairs_w, "u long, v long, w long")
        sdf = spark.createDataFrame([(s,) for s in srcs], "id long")
        got = {
            (r["src_id"], r["node"]): r["dist"]
            for r in sssp_bounded(e, sdf, max_hops=hops).collect()
        }
        want = _py_sssp(pairs_w, srcs, hops)
        assert got == want, (trial, hops, srcs)


def _py_kcore(pairs, k):
    """Transcription of k_core: synchronous peel rounds on the
    symmetrized distinct edge set; survivors get peel_round=0."""
    und = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    nodes = {a for a, _ in und}
    live = set(und)
    out = {}
    r = 1
    while True:
        deg = {n: 0 for n in nodes}
        for a, _ in live:
            if a in deg:
                deg[a] += 1
        low = {n for n in nodes if deg[n] < k}
        if not low:
            break
        for n in low:
            out[n] = r
        nodes -= low
        live = {(a, b) for a, b in live if a in nodes and b in nodes}
        r += 1
    for n in nodes:
        out[n] = 0
    return out


def _py_triangles(pairs):
    """Brute-force per-node triangle counts on a simple graph (pairs
    hold u < v, the triangle_count input contract)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b not in adj[a]:
                continue
            for c in adj[a] & adj[b]:
                if c > b:
                    for n in (a, b, c):
                        counts[n] = counts.get(n, 0) + 1
    return counts


def test_triangle_count_matches_bruteforce_random(spark):
    from simpletasks_data_spark.operators.graph import triangle_count

    rng = random.Random(85)
    for trial in range(5):
        pairs = sorted(
            {tuple(sorted(p)) for p in _random_pairs(rng, rng.randrange(8, 25), rng.randrange(20, 120))}
        )
        e = spark.createDataFrame(pairs, "u long, v long")
        want = _py_triangles(pairs)
        got = {r["id"]: r["n_triangles"] for r in triangle_count(e).collect()}
        assert got == want, trial


def _py_components(pairs):
    """Min-id component label per node, by BFS over the undirected
    adjacency. Edges with a NULL endpoint and self-loops are skipped, so
    a node seen only on those gets no label (the ``connected_components``
    input contract)."""
    adj = {}
    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in sorted(adj):  # the first unlabeled node is its component's min
        if start in label:
            continue
        label[start] = start
        queue = deque([start])
        while queue:
            for m in adj[queue.popleft()]:
                if m not in label:
                    label[m] = start
                    queue.append(m)
    return label


def _random_cc_edges(rng):
    """Random edges plus a chain and a star, duplicated and reversed
    edges, self-loops, and NULL endpoints, shuffled."""
    n = rng.randrange(5, 60)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(1, 40))]
    start = rng.randrange(100, 200)
    edges += [(start + i, start + i + 1) for i in range(rng.randrange(1, 40))]
    hub = rng.randrange(300, 400)
    edges += [(hub, 1000 + 10 * hub + j) for j in range(rng.randrange(1, 12))]
    edges += [(b, a) for a, b in rng.sample(edges, 5)]
    edges += rng.sample(edges, 5)
    edges += [(i, i) for i in rng.sample(range(n + 5), 3)]
    edges += [(rng.randrange(n), None), (None, rng.randrange(n)), (None, None), (n + 7, None)]
    rng.shuffle(edges)
    return edges


def test_connected_components_matches_python_bfs_random(spark, cc_paths):
    from simpletasks_data_spark.operators.graph import connected_components

    rng = random.Random(31)
    graphs = [_random_cc_edges(rng) for _ in range(4)]
    for _ in cc_paths():
        for trial, edges in enumerate(graphs):
            df = spark.createDataFrame(edges, "a long, b long")
            got = {r["id"]: r["component"] for r in connected_components(df, "a", "b").collect()}
            assert got == _py_components(edges), trial


def _py_bfs_reach(pairs, seeds, radius):
    und = {}
    for a, b in pairs:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    out = {}
    for s in seeds:
        visited = {s}
        frontier = {s}
        for r in range(1, radius + 1):
            nxt = set()
            for n in frontier:
                nxt |= und.get(n, set())
            nxt -= visited
            visited |= nxt
            if nxt:
                out[(s, r)] = len(nxt)
            frontier = nxt
    return out


def test_bfs_reach_matches_python_bfs_random(spark):
    from simpletasks_data_spark.operators.graph import bfs_reach

    rng = random.Random(86)
    for trial in range(4):
        n = rng.randrange(8, 30)
        pairs = _random_pairs(rng, n, rng.randrange(10, 70), allow_dups=False)
        nodes = {a for a, _ in pairs} | {b for _, b in pairs}
        seeds = rng.sample(sorted(nodes), k=min(3, len(nodes)))
        radius = rng.randrange(1, 5)
        e = spark.createDataFrame(pairs, "u long, v long")
        sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
        got = {
            (r["seed"], r["radius"]): r["n_new"]
            for r in bfs_reach(e, sdf, radius=radius).collect()
        }
        want = _py_bfs_reach(pairs, seeds, radius)
        assert got == want, (trial, seeds, radius)


def test_k_core_matches_python_peel_random(spark):
    rng = random.Random(84)
    for trial in range(5):
        pairs = _random_pairs(
            rng, rng.randrange(6, 30), rng.randrange(8, 80), allow_dups=False
        )
        k = rng.randrange(2, 5)
        e = spark.createDataFrame(pairs, "u long, v long")
        got = {
            r["node"]: r["peel_round"]
            for r in k_core(e, k=k, max_rounds=None).collect()
        }
        want = _py_kcore(pairs, k)
        assert got == want, (trial, k)

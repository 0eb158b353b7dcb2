"""Round-11 optimization equivalence pins.

Every optimization this round must leave query RESULTS identical; these
tests pin the new fast paths against the unchanged slow paths on real
testdata so a future refactor cannot silently diverge them:

- the shared (doc_id, token, tf) store feeding bm25/jaccard retrieval
  (``tf_frame`` / ``tok_frame`` operator parameters),
- the gated node-side broadcast in the iterative graph operators
  (``graph.BROADCAST_NODES_MAX``), and
- ``dedup_minhash_eval``'s verified-pairs-store truth leg vs the direct
  subsample PPJoin.
"""

import pytest

from pyspark.sql import functions as F

from simpletasks_data_spark import queries as Q
from simpletasks_data_spark.functions import text as TX

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_bm25_tf_frame_path_matches_default(spark):
    from simpletasks_data_spark.operators.corpus import bm25_related_docs

    docs = Q.load(spark, SF, "documents")
    tf = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cols = ["query_id", "doc_id", "rank", "score"]
    default = bm25_related_docs(docs, k=5, max_df_permille=900)
    stored = bm25_related_docs(docs, k=5, max_df_permille=900, tf_frame=tf)
    assert _rows(default, cols) == _rows(stored, cols)


def test_jaccard_tok_frame_path_matches_default(spark):
    from simpletasks_data_spark.operators.corpus import jaccard_related_docs

    docs = Q.load(spark, SF, "documents")
    tf_keys = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .select("doc_id", "token")
    )
    cols = ["query_id", "doc_id", "rank", "jaccard"]
    default = jaccard_related_docs(docs, k=20)
    stored = jaccard_related_docs(docs, k=20, tok_frame=tf_keys)
    assert _rows(default, cols) == _rows(stored, cols)


def test_pagerank_broadcast_gate_is_result_invariant(spark, monkeypatch):
    """BROADCAST_NODES_MAX only changes the JOIN STRATEGY; scores must
    be bit-identical with the gate forced off (cap 0 -> SMJ path) and
    on (default -> node-side broadcast)."""
    from simpletasks_data_spark.operators import graph
    from simpletasks_data_spark.operators.graph import pagerank

    pairs = Q._trade_pairs_store(spark, SF).select(
        "c", (F.col("s") + 1000000).alias("s")
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    on = pagerank(edges, iterations=4)
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)
    off = pagerank(edges, iterations=4)
    assert _rows(on, ["id", "score"]) == _rows(off, ["id", "score"])


def test_minhash_eval_truth_leg_matches_filtered_full_pairs(spark):
    """Jaccard of a pair is corpus-independent, so the eval's direct
    subsample PPJoin truth leg must equal the FULL-corpus verified pairs
    filtered to subsample ids (the equivalence the r11 store relied on —
    the result memo is gone per VERDICT r11 item 3, the math stays
    pinned)."""
    q = Q.queries()
    full = q["dedup_ngram_jaccard"](spark, SF)
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in full.where(
            (F.col("id_a") % 4 == 0) & (F.col("id_b") % 4 == 0)
        ).collect()
    )
    from simpletasks_data_spark.operators import dedupe as DD

    corpus = Q._corpus(spark, SF).where(F.col("id") % 4 == 0)
    direct = DD.ngram_jaccard_pairs(
        corpus, "id", "text", n=5, threshold=0.6,
        hashed_shingles=Q._hstream_store(spark, SF).where(F.col("_id") % 4 == 0),
    )
    got = sorted((r["id_a"], r["id_b"]) for r in direct.collect())
    assert got == want


def test_als_factors_rebuild_deterministic(spark):
    """Two independent als_factors_retail calls must produce identical
    integer micro-factors (the result memo is gone per VERDICT r11
    item 3; determinism of the rebuild is what made removal safe)."""
    q = Q.queries()
    first = _rows(q["als_factors_retail"](spark, SF), ["id", "role", "fx_micro", "fy_micro"])
    second = _rows(q["als_factors_retail"](spark, SF), ["id", "role", "fx_micro", "fy_micro"])
    assert first == second and len(first) > 0


def test_containment_fused_prefix_matches_bruteforce(spark):
    """The r11 fused per-doc aggregation (array_sort(struct(df, sh)) +
    slice replacing the row_number window) must keep containment_pairs
    EXACT: compare against brute-force distinct-shingle containment on
    the real sf0.001 corpus."""
    from simpletasks_data_spark.functions.text import normalize_text
    from simpletasks_data_spark.operators.dedupe import containment_pairs

    corpus = Q._corpus(spark, SF)
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(corpus, "id", "text", n=12, threshold=0.9).collect()
    }
    n = 12
    docs = {
        r["id"]: r["_n"]
        for r in corpus.select("id", normalize_text("text").alias("_n")).collect()
    }
    sets = {
        i: {t[k : k + n] for k in range(max(len(t) - n + 1, 1))}
        for i, t in docs.items()
    }
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b:
                continue
            c = round(len(sa & sb) / len(sa), 4)
            if c >= 0.9:
                want[(a, b)] = c
    assert got == want


def test_bigstar_window_form_matches_minlabel_cc(spark, cc_paths):
    """The r11 window-form big-star round (two window mins + one explode
    replacing the two groupBy+self-join phases) must produce exactly the
    components of the pure-Python BFS reference on an adversarial mix:
    a long chain (the shape big-star exists for), stars, duplicate and
    reversed edges, and an isolated pair."""
    import random

    from test_graph_python_refs import _py_components

    from simpletasks_data_spark.operators.graph import connected_components

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(100, 160)]  # 61-node chain
    edges += [(500, 500 + k) for k in range(1, 9)]  # star
    edges += [(900, 901)]  # isolated pair
    edges += [(rng.randrange(100, 170), rng.randrange(100, 170)) for _ in range(40)]
    edges += [(b, a) for a, b in edges[:30]]  # reversed duplicates
    df = spark.createDataFrame(edges, "a: long, b: long")
    for _ in cc_paths():
        got = _rows(connected_components(df, "a", "b"), ["id", "component"])
        assert got == sorted(_py_components(edges).items()) and len(got) > 0


def test_hyperball_packed_matches_row_form_exactly(spark):
    """The r11 packed-register layout (one array<int>[m] per node,
    self-loop merge, map-side finalize) must reproduce the row-form
    (node, bucket, reg) math BIT-FOR-BIT: replicate hll_prepare/
    hll_finalize in Python over exact BFS balls and require equality of
    the rounded estimates, not a tolerance."""
    import hashlib
    import math

    from simpletasks_data_spark.operators.graph import hyperball_neighborhood

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (5, 10)]
    df = spark.createDataFrame(edges, "u: long, v: long")
    b, m, wbits, radius = 6, 64, 54, 3
    alpha = 0.7213 / (1.0 + 1.079 / m)

    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)

    def reg(node):
        h = int(hashlib.md5(str(node).encode()).hexdigest()[:15], 16)
        w = h >> b
        rho = (wbits + 1) if w == 0 else (wbits + 1) - w.bit_length()
        return h % m, rho

    def est(ball):
        regs = {}
        for x in ball:
            bk, rho = reg(x)
            regs[bk] = max(regs.get(bk, 0), rho)
        z = sum(2.0 ** -r for r in regs.values()) + (m - len(regs))
        v = float(m - len(regs))
        raw = alpha * m * m / z
        out = m * math.log(m / v) if (raw <= 2.5 * m and v > 0) else raw
        return round(out, 4)

    want = []
    for t in range(radius + 1):
        total = 0.0
        for n in adj:
            ball = {n}
            for _ in range(t):
                ball |= {w for x in ball for w in adj.get(x, ())}
            total += est(ball)
        want.append(round(total, 4))

    rows = {r["radius"]: r for r in hyperball_neighborhood(df, "u", "v", radius=radius, b=b).collect()}
    assert all(rows[t]["n_nodes"] == len(adj) for t in range(radius + 1))
    got = [rows[t]["est_reach"] for t in range(radius + 1)]
    assert got == want


def test_suffix_ranks_lead_matches_dense_rank(spark):
    """The r11 lead()-window pairing (replacing the (doc, pos+span)
    self-join) must keep suffix_ranks identical to the direct dense rank
    of the 8-char windows, on multi-doc strings with heavy repetition."""
    import random

    from simpletasks_data_spark.operators.corpus import suffix_ranks

    rng = random.Random(7)
    docs = [
        (1, "banana" * 5),
        (2, "abracadabra"),
        (3, "".join(rng.choice("ab") for _ in range(120))),
        (4, "".join(rng.choice("abcz") for _ in range(77))),
        (5, "x"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, s: string")
    got = {
        (r["doc_id"], r["pos"]): r["rank"]
        for r in suffix_ranks(df, "doc_id", "s", window=8).collect()
    }
    suf = [(d, p + 1, s[p : p + 8]) for d, s in docs for p in range(len(s))]
    uniq = {w: i + 1 for i, w in enumerate(sorted({w for _, _, w in suf}))}
    want = {(d, p): uniq[w] for d, p, w in suf}
    assert got == want


def test_percolation_report_complete(spark):
    """The three percentile sweeps (sequential since r12 — the r11
    thread overlap anti-scaled at local[32]) must emit exactly the
    three report rows in (50, 90, 99) with a non-shrinking threshold."""
    out = Q.queries()["graph_percolation_supplier"](spark, SF).collect()
    by_q = {r["support_pctile"]: r for r in out}
    assert sorted(by_q) == [50, 90, 99]
    assert by_q[50]["threshold"] <= by_q[90]["threshold"] <= by_q[99]["threshold"]
    assert all(r["n_edges"] >= 0 and r["giant_size"] >= 0 for r in out)

"""Independent Python/pandas/numpy references for the round-8 driver
window's remaining unpinned queries — reimplementations that share NO
code with either the Spark engine or the DuckDB oracle SQL (both of
which could hide a common formula-transcription error). Same layer as
tests/test_round7_queries.py / test_graph_python_refs.py; this batch
covers the experimentation z-test, per-cell embedding outliers, PMI
collocations, the referential-integrity audit, the two window streaming
queries, the flagship end-to-end curation pipeline, BPE encode stats,
and the star-capped MinHash candidate generation."""

import hashlib
import math
import os
import re
import sys
from collections import Counter, defaultdict
from datetime import timedelta

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simpletasks_data_spark import queries as Q  # noqa: E402

SF = "/root/testdata/sf0.001"


def _tokens(text):
    norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
    return [t for t in norm.split(" ") if t]


def _norm(text):
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()


def _round_half_up(x, nd):
    # Spark's F.round on doubles is HALF_UP (away from zero).
    s = 10 ** nd
    return math.floor(x * s + 0.5) / s if x >= 0 else math.ceil(x * s - 0.5) / s


def test_ab_ztest_matches_python(spark):
    got = Q.queries()["ab_test_conversion_ztest"](spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    views = ev[ev.event_type == "view"]
    purch = ev[ev.event_type == "purchase"]
    p_by_user = defaultdict(list)
    for r in purch.itertuples():
        p_by_user[r.user_id].append(r.ts)
    n = {0: 0, 1: 0}
    k = {0: 0, 1: 0}
    for uid, g in views.groupby("user_id"):
        cohort = uid % 2
        n[cohort] += 1
        conv = any(
            vt <= pt <= vt + timedelta(hours=2)
            for vt in g.ts
            for pt in p_by_user.get(uid, ())
        )
        k[cohort] += int(conv)
    assert (got["n0"], got["k0"], got["n1"], got["k1"]) == (n[0], k[0], n[1], k[1])
    r0, r1 = k[0] / n[0], k[1] / n[1]
    pp = (k[0] + k[1]) / (n[0] + n[1])
    z = (r0 - r1) / math.sqrt(pp * (1 - pp) * (1 / n[0] + 1 / n[1]))
    assert abs(got["rate_0"] - r0) < 1e-4
    assert abs(got["rate_1"] - r1) < 1e-4
    assert abs(got["z_score"] - z) < 1e-3


def test_embedding_outliers_match_numpy(spark):
    got = {
        r["vec_id"]: (r["cell"], r["d_cent"], r["rnk"])
        for r in Q.queries()["embedding_outliers_by_cell"](spark, SF).collect()
    }
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float32).astype(np.float64)
        for r in emb.itertuples()
    }
    cells = defaultdict(list)
    for vid, v in vecs.items():
        cell = sum((1 << j) for j in range(6) if v[j] > 0)
        cells[cell].append(vid)
    want = {}
    for cell, members in cells.items():
        if len(members) < 8:
            continue
        c = np.mean([vecs[m] for m in members], axis=0)
        ds = sorted(
            (
                (_round_half_up(float(np.sqrt(((vecs[m] - c) ** 2).sum())), 6), m)
                for m in members
            ),
            key=lambda t: (-t[0], t[1]),
        )
        keep = math.ceil(len(members) * 0.05)
        for rnk, (d, m) in enumerate(ds[:keep], start=1):
            want[m] = (cell, d, rnk)
    assert set(got) == set(want)
    for vid, (cell, d, rnk) in want.items():
        gcell, gd, grnk = got[vid]
        assert gcell == cell and grnk == rnk
        assert abs(gd - d) < 2e-6


def test_token_pmi_matches_python(spark):
    got = [
        (r["left_token"], r["right_token"], r["n_cooccur"], r["pmi"], r["rank"])
        for r in Q.queries()["token_pmi_pairs"](spark, SF).collect()
    ]
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    pc = Counter()
    for text in docs.text:
        toks = _tokens(text)
        for a, b in zip(toks, toks[1:]):
            pc[(a, b)] += 1
    nb = sum(pc.values())
    cx = Counter()
    cy = Counter()
    for (x, y), c in pc.items():
        cx[x] += c
        cy[y] += c
    scored = [
        (x, y, c, _round_half_up(math.log(c * 1.0 * nb / (cx[x] * cy[y])), 4))
        for (x, y), c in pc.items()
        if c >= 5
    ]
    scored.sort(key=lambda t: (-t[3], t[0], t[1]))
    want = [(x, y, c, p, i + 1) for i, (x, y, c, p) in enumerate(scored[:20])]
    assert [(x, y, c, rk) for x, y, c, _, rk in got] == [
        (x, y, c, rk) for x, y, c, _, rk in want
    ]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1.1e-4


def test_referential_integrity_matches_pandas(spark):
    got = {
        r["relationship"]: (r["n_children"], r["n_orphans"])
        for r in Q.queries()["referential_integrity_report"](spark, SF).collect()
    }
    t = {
        name: pd.read_parquet(f"{SF}/{name}.parquet")
        for name in [
            "lineitem", "orders", "part", "supplier", "customer", "nation", "region",
        ]
    }
    edges = {
        "lineitem.l_orderkey->orders": ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        "lineitem.l_partkey->part": ("lineitem", "l_partkey", "part", "p_partkey"),
        "lineitem.l_suppkey->supplier": ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        "orders.o_custkey->customer": ("orders", "o_custkey", "customer", "c_custkey"),
        "customer.c_nationkey->nation": ("customer", "c_nationkey", "nation", "n_nationkey"),
        "supplier.s_nationkey->nation": ("supplier", "s_nationkey", "nation", "n_nationkey"),
        "nation.n_regionkey->region": ("nation", "n_regionkey", "region", "r_regionkey"),
    }
    assert set(got) == set(edges)
    for rel, (child, ck, parent, pk) in edges.items():
        n_children = len(t[child])
        n_orphans = int((~t[child][ck].isin(t[parent][pk])).sum())
        assert got[rel] == (n_children, n_orphans), rel


def test_streaming_static_enrichment_matches_pandas(spark):
    got = {
        r["segment"]: (r["n_purchases"], r["revenue"])
        for r in Q.queries()["streaming_static_enrichment"](spark, SF).collect()
    }
    ev = pd.read_parquet(f"{SF}/events.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    p = ev[ev.event_type == "purchase"].copy()
    p["key"] = p.user_id % 1500
    j = p.merge(cust, left_on="key", right_on="c_custkey")
    want = {
        seg: (len(g), float(g.value.sum()))
        for seg, g in j.groupby("c_mktsegment")
    }
    assert set(got) == set(want)
    for seg, (cnt, rev) in want.items():
        assert got[seg][0] == cnt
        assert abs(got[seg][1] - rev) < 1e-3


def test_streaming_dynamic_gap_sessions_match_python(spark):
    got = sorted(
        (
            r["user_id"], r["session_start"], r["session_end"],
            r["n_events"], r["total_value"],
        )
        for r in Q.queries()["streaming_dynamic_gap_sessions"](spark, SF).collect()
    )
    ev = pd.read_parquet(f"{SF}/events.parquet")
    want = []
    for uid, g in ev.groupby("user_id"):
        rows = sorted(g.itertuples(), key=lambda r: (r.ts, r.event_id))
        cur = None  # [start, max_end, n, sum_value]
        for r in rows:
            end = r.ts + timedelta(minutes=40 if r.event_type == "view" else 20)
            if cur is not None and r.ts <= cur[1]:
                cur[1] = max(cur[1], end)
                cur[2] += 1
                cur[3] += r.value
            else:
                if cur is not None:
                    want.append((uid, cur[0], cur[1], cur[2], cur[3]))
                cur = [r.ts, end, 1, r.value]
        if cur is not None:
            want.append((uid, cur[0], cur[1], cur[2], cur[3]))
    want.sort()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[3] == w[3]
        assert pd.Timestamp(g[1]) == w[1] and pd.Timestamp(g[2]) == w[2]
        assert abs(g[4] - w[4]) < 1e-3


def _lang_id(toks):
    from simpletasks_data_spark.functions.text import LANG_LEXICONS

    if not toks:
        return "und"
    scores = {
        lang: sum(1 for t in toks if t in set(lex)) / len(toks)
        for lang, lex in LANG_LEXICONS.items()
    }
    best = max(scores.values())
    if best <= 0:
        return "und"
    for lang in LANG_LEXICONS:  # fixed tie-break order
        if scores[lang] == best:
            return lang


def test_pipeline_pretraining_corpus_matches_python(spark):
    got = sorted(
        (r["lang"], r["split"], r["n_docs"], r["n_tokens"])
        for r in Q.queries()["pipeline_pretraining_corpus"](spark, SF).collect()
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    toks = {r.doc_id: _tokens(r.text) for r in docs.itertuples()}

    def grams3(ts):
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    bench = set()
    for did, ts in toks.items():
        if did % 20 == 0:
            bench |= grams3(ts)
    # quality gate + langid
    kept = []
    for did, ts in sorted(toks.items()):
        if did % 20 == 0 or len(ts) < 3:
            continue
        lang = _lang_id(ts)
        if lang == "und":
            continue
        kept.append((did, lang, ts))
    # exact dedup on the bag-of-words fingerprint, keep min doc_id
    seen = set()
    dd = []
    for did, lang, ts in kept:  # already sorted by doc_id
        fpr = hashlib.md5(" ".join(sorted(set(ts))).encode()).hexdigest()
        if fpr in seen:
            continue
        seen.add(fpr)
        dd.append((did, lang, ts))
    # benchmark decontamination: drop when >= half the distinct 3-grams hit
    rows = []
    for did, lang, ts in dd:
        g = grams3(ts)
        if g and len(g & bench) / len(g) >= 0.5:
            continue
        bucket = int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16) % 1000
        split = "train" if bucket < 900 else ("val" if bucket < 950 else "test")
        rows.append((lang, split, len(ts)))
    agg = defaultdict(lambda: [0, 0])
    for lang, split, n in rows:
        agg[(lang, split)][0] += 1
        agg[(lang, split)][1] += n
    want = sorted((l, s, c, t) for (l, s), (c, t) in agg.items())
    assert got == want


def test_token_array_functions_edge_cases(spark):
    """Language ties break in lexicon order, token-free text is 'und',
    and the fingerprint of an empty token set is md5 of the empty
    string; each checked against the Python references on the token
    array the functions take."""
    from simpletasks_data_spark.functions import text as TX

    texts = ["la the", "la la the", "", "!!!", None, "Der Hund und die Katze"]
    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text", TX.tokens("text").alias("toks")
    )
    got = df.select(
        "text",
        TX.lang_id("toks").alias("lang"),
        TX.fingerprint("toks").alias("fpr"),
        TX.token_count("toks").alias("n"),
        TX.stopword_ratio("toks").alias("stop"),
        TX.mean_token_len("toks").alias("mtl"),
    ).collect()
    rows = {r["text"]: r for r in got}
    assert [rows[t]["lang"] for t in texts] == ["en", "fr", "und", "und", "und", "de"]
    empty = hashlib.md5(b"").hexdigest()
    for t in texts:
        toks = _tokens(t or "")
        assert rows[t]["lang"] == _lang_id(toks), t
        assert rows[t]["fpr"] == hashlib.md5(" ".join(sorted(set(toks))).encode()).hexdigest()
        if t is not None:
            assert rows[t]["n"] == len(toks)
    for t in ("", "!!!", None):
        assert rows[t]["fpr"] == empty
        assert (rows[t]["stop"], rows[t]["mtl"]) == (0.0, 0.0)


def test_null_text_counts_and_quality(spark):
    """A NULL text has NULL token counts (the SQL oracles' ``len`` of a
    NULL list), so its quality's length term is skipped by ``least``:
    0.625, the DuckDB ``text_quality`` oracle's value on the same row,
    where ``""`` scores 0.375."""
    from simpletasks_data_spark.functions import text as TX

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    toks = df.select("doc_id", TX.tokens("text").alias("toks"))
    counts = {
        r["doc_id"]: (r["n"], r["nd"])
        for r in toks.select(
            "doc_id",
            TX.token_count("toks").alias("n"),
            TX.distinct_token_count("toks").alias("nd"),
        ).collect()
    }
    assert counts == {1: (None, None), 2: (0, 0)}
    quality = {r["doc_id"]: r["quality"] for r in Q._quality(df).collect()}
    assert quality == {1: 0.625, 2: 0.375}


def _bpe_python(word_counts, merges):
    """Independent greedy BPE trainer: weighted pair counts, argmax by
    (count desc, lhs asc, rhs asc), leftmost non-overlapping merge."""
    syms = {w: list(w) for w in word_counts}
    learned = []
    for _ in range(merges):
        pc = Counter()
        for w, s in syms.items():
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += word_counts[w]
        if not pc:
            break
        (x, y), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        learned.append((x, y, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return learned, syms


def test_bpe_encode_stats_matches_python(spark):
    got = Q.queries()["bpe_encode_stats"](spark, SF).collect()[0]
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    wc = Counter()
    for text in docs.text:
        wc.update(_tokens(text))
    _, syms = _bpe_python(wc, merges=5)
    total = sum(wc.values())
    spw = sum(wc[w] * len(s) for w, s in syms.items()) / total
    assert got["total_words"] == total
    assert got["vocab_size"] == len(wc)
    assert abs(got["symbols_per_word"] - spw) < 1e-4


def test_dedup_minhash_capped_matches_python(spark):
    got = {
        (r["id_a"], r["id_b"])
        for r in Q.queries()["dedup_minhash_capped"](spark, SF).collect()
    }
    P = 2147483647
    coeffs = [
        (387, 152), (1093, 901), (2251, 77), (3319, 409),
        (4447, 1279), (5561, 2069), (6673, 3167), (7793, 4021),
        (8887, 5279), (10007, 6151), (11113, 7013), (12227, 7919),
        (13337, 8837), (14461, 9733), (15569, 10627), (16693, 11549),
    ]
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    corpus = [(r.doc_id, r.text) for r in docs.itertuples()]
    corpus += [(r.doc_id + 100000, r.text) for r in docs.itertuples() if r.doc_id % 13 == 0]
    corpus += [
        (r.doc_id + 200000, r.text + " extra token tail")
        for r in docs.itertuples()
        if r.doc_id % 10 == 0
    ]
    buckets = defaultdict(list)
    for did, text in corpus:
        norm = _norm(text)
        n_sh = max(len(norm) - 4, 1)
        xs = {
            int(hashlib.md5(norm[i : i + 5].encode()).hexdigest()[:15], 16) % P
            for i in range(n_sh)
        }
        sig = [min((a * x + b) % P for x in xs) for a, b in coeffs]
        for band in range(4):
            key = ",".join(str(v) for v in sig[band * 4 : band * 4 + 4])
            bucket = hashlib.md5(key.encode()).hexdigest()
            buckets[(band, bucket)].append(did)
    want = set()
    for members in buckets.values():
        members = sorted(members)
        if len(members) <= 8:
            want |= {
                (a, b) for i, a in enumerate(members) for b in members[i + 1 :]
            }
        else:
            mid = members[0]
            want |= {(mid, m) for m in members[1:]}
    assert got == want


def test_kmeans_cluster_topics_matches_python(spark):
    """Query-level twin of the randomized Lloyd-contract test
    (test_round8_ops): python Lloyd (k=8, 2 rounds, 64 dims, the exact
    grid contract) over the REAL sf0.001 embeddings, then per-cluster
    token counts and top-3 by (count desc, token asc). The centroid
    update mirrors the engine's integer sufficient statistic (per-row
    floor(x*1e9+0.5), exact int sum, one division) — order-exact."""
    import math as _math
    got = sorted(
        (r["cluster_id"], r["token"], r["n_occurrences"], r["rank"])
        for r in Q.queries()["kmeans_cluster_topics"](spark, SF).collect()
    )
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    rows = sorted(
        (r.vec_id, np.asarray(r.embedding, dtype=np.float32).astype(np.float64))
        for r in emb.itertuples()
    )
    cents = [[_round_half_up(float(x), 6) for x in v] for _, v in rows[:8]]
    assign = {}
    for _ in range(2):
        assign = {}
        for vid, v in rows:
            best = min(
                range(8),
                key=lambda c: (
                    _round_half_up(float(sum((x - y) ** 2 for x, y in zip(v, cents[c]))), 4),
                    c,
                ),
            )
            assign[vid] = best
        new = []
        for c in range(8):
            mem = [v for vid, v in rows if assign[vid] == c]
            if mem:
                new.append(
                    [
                        _round_half_up(
                            float(sum(_math.floor(m[d] * 1e9 + 0.5) for m in mem))
                            / len(mem) / 1e9,
                            6,
                        )
                        for d in range(64)
                    ]
                )
            else:
                new.append(cents[c])
        cents = new
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cnt = Counter()
    for r in docs.itertuples():
        if r.doc_id in assign:
            for t in _tokens(r.text):
                cnt[(assign[r.doc_id], t)] += 1
    want = []
    per = defaultdict(list)
    for (cid, tok), n in cnt.items():
        per[cid].append((tok, n))
    for cid, items in per.items():
        items.sort(key=lambda t: (-t[1], t[0]))
        for rank, (tok, n) in enumerate(items[:3], start=1):
            want.append((cid, tok, n, rank))
    assert got == sorted(want)

"""Round-8 regression tests: the logreg weight-cache re-key (r7 verdict
item 4) and the bounded-broadcast sweep's behavior-preserving guarantees."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simpletasks_data_spark import queries as Q  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_logreg_cache_ignores_unpinned_frames(spark):
    """Two content-equal but identity-distinct frames with the SAME
    cache_key must not cross-hit: only the session-store-pinned
    frame participates in the weight cache at all."""
    feats = Q._logreg_features(spark, SF)
    # a derived frame with identical content but different identity
    derived = feats.where(F.lit(True))
    assert derived is not feats

    before = dict(Q._LOGREG_GD_CACHE)
    try:
        Q._LOGREG_GD_CACHE.clear()
        w_pinned = Q._logreg_gd_multi(
            feats, [(None, (1, 1))], iterations=1, cache_key="r8-cache-test"
        )
        assert len(Q._LOGREG_GD_CACHE) == 1, "pinned frame must cache"
        (ck,) = Q._LOGREG_GD_CACHE
        # the key leads with the feature store's session-store key,
        # never a raw id(frame)
        assert ck[0] == (Q._logreg_features.__wrapped__, spark.sparkContext, SF)

        # poison the cached value; an (incorrect) cross-hit would return it
        Q._LOGREG_GD_CACHE[ck] = [[9.9, 9.9, 9.9]]
        w_derived = Q._logreg_gd_multi(
            derived, [(None, (1, 1))], iterations=1, cache_key="r8-cache-test"
        )
        assert w_derived != [[9.9, 9.9, 9.9]], "derived frame cross-hit the cache"
        assert w_derived == w_pinned  # identical content -> identical training
        # and the derived frame must not have been cached under any key
        assert len(Q._LOGREG_GD_CACHE) == 1
    finally:
        Q._LOGREG_GD_CACHE.clear()
        Q._LOGREG_GD_CACHE.update(before)


def test_logreg_cache_hits_pinned_frame(spark):
    """The pinned frame still memoizes: second call returns the cached
    weights without re-training (observable via the poisoned value)."""
    feats = Q._logreg_features(spark, SF)
    before = dict(Q._LOGREG_GD_CACHE)
    try:
        Q._LOGREG_GD_CACHE.clear()
        Q._logreg_gd_multi(
            feats, [(None, (1, 1))], iterations=1, cache_key="r8-hit-test"
        )
        (ck,) = Q._LOGREG_GD_CACHE
        Q._LOGREG_GD_CACHE[ck] = [[1.5, 2.5, 3.5]]
        again = Q._logreg_gd_multi(
            feats, [(None, (1, 1))], iterations=1, cache_key="r8-hit-test"
        )
        assert again == [[1.5, 2.5, 3.5]], "pinned frame must hit the cache"
    finally:
        Q._LOGREG_GD_CACHE.clear()
        Q._LOGREG_GD_CACHE.update(before)


def test_semantic_contamination_argmax_ties_and_counts(spark):
    """Planted geometry: corpus c1 matches bench b1 (identical, cos 1.0)
    and bench b2 (identical again — tie broken to the smaller bench id);
    c2 matches only b3 at cos ~0.9992 (rounded 4dp); c3 is orthogonal to
    every bench vector and must not appear."""
    from simpletasks_data_spark.operators.similarity import semantic_contamination

    dims = 16
    def vec(*pairs):
        v = [0.0] * dims
        for i, x in pairs:
            v[i] = float(x)
        return v

    corpus = spark.createDataFrame(
        [
            (1, vec((0, 1.0), (1, 1.0))),
            (2, vec((2, 1.0), (3, 1.0))),
            (3, vec((0, -1.0), (1, -1.0))),  # negative cells, no bench match
        ],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [
            (11, vec((0, 1.0), (1, 1.0))),
            (12, vec((0, 1.0), (1, 1.0))),
            (13, vec((2, 1.0), (3, 1.0), (4, 0.04))),
        ],
        "bench_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["best_bench_id"], r["max_cosine"], r["n_bench_matches"])
        for r in semantic_contamination(
            corpus, bench, threshold=0.9, bits=8, bands=2
        ).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (11, 1.0, 2)          # tie at cos 1.0 -> smaller bench id
    assert got[2][0] == 13 and got[2][2] == 1
    assert 0.999 <= got[2][1] < 1.0


def test_semantic_contamination_matches_python_reference_random(spark):
    """Randomized independent reference: transcribe the sign-bit band
    cells, the sequential-fold cosine, and the HALF_UP 4dp rounding in
    pure Python over random vectors (with planted near-dups so matches
    exist), and check the flagged set, argmax tie-break, and match
    counts exactly."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from simpletasks_data_spark.operators.similarity import semantic_contamination

    DIMS, BITS, BANDS, THR = 16, 8, 2, 0.9

    def cell(v, offset):
        return sum(1 << j for j in range(BITS) if v[offset + j] > 0)

    def cos4(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        na = 0.0
        for x in a:
            na = na + x * x
        nb = 0.0
        for y in b:
            nb = nb + y * y
        c = acc / (na ** 0.5 * nb ** 0.5)
        return float(
            Decimal(repr(c)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    def reference(corpus, bench):
        out = {}
        for cid, cv in corpus:
            hits = []
            for bid, bv in bench:
                if any(cell(cv, b * BITS) == cell(bv, b * BITS) for b in range(BANDS)):
                    c = cos4(cv, bv)
                    if c >= THR:
                        hits.append((bid, c))
            if hits:
                best = max(hits, key=lambda h: (h[1], -h[0]))
                out[cid] = (best[0], best[1], len(hits))
        return out

    rng = random.Random(88)
    for trial in range(4):
        corpus = [
            (i, [rng.uniform(-1, 1) for _ in range(DIMS)]) for i in range(30)
        ]
        bench = []
        for j in range(12):
            if j < 6:  # planted near-dup of a corpus vector
                src = corpus[rng.randrange(len(corpus))][1]
                v = [x + rng.uniform(-0.02, 0.02) for x in src]
            else:
                v = [rng.uniform(-1, 1) for _ in range(DIMS)]
            bench.append((100 + j, v))
        cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
        bdf = spark.createDataFrame(bench, "bench_id long, embedding array<double>")
        got = {
            r["vec_id"]: (r["best_bench_id"], r["max_cosine"], r["n_bench_matches"])
            for r in semantic_contamination(
                cdf, bdf, threshold=THR, bits=BITS, bands=BANDS
            ).collect()
        }
        want = reference(corpus, bench)
        assert got == want, (trial, {k: (got.get(k), want.get(k)) for k in set(got) ^ set(want) or set(got)})


def test_kmeans_lloyd_matches_python_reference_random(spark):
    """Randomized transcription of the kmeans_lloyd determinism contract
    (operators/clustering.py module docstring): init = k smallest-id
    vectors on the 1e-6 grid, assignment by 1e-4-rounded squared L2 with
    centroid-id tie-break, update = round of the INTEGER sufficient
    statistic (per-row floor(x*1e9+0.5), exact sum, one division) to
    1e-6, empty cluster keeps its centroid. The integer sum makes the
    trajectory bit-deterministic and independent of Spark's
    partial-aggregation order for ANY inputs."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from simpletasks_data_spark.operators.clustering import kmeans_lloyd

    DIMS = 8

    def rhu(x, digits):
        q = Decimal(1).scaleb(-digits)
        return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))

    def d2(v, c):
        acc = 0.0
        for x, y in zip(v, c):
            acc = acc + (x - y) * (x - y)
        return acc

    def py_kmeans(rows, k, iterations):
        by_id = sorted(rows)
        cents = [[rhu(x, 6) for x in v] for _, v in by_id[:k]]
        assign = {}
        for _ in range(iterations):
            assign = {}
            for i, v in rows:
                best = min(range(len(cents)), key=lambda c: (rhu(d2(v, cents[c]), 4), c))
                assign[i] = (best, rhu(d2(v, cents[best]), 4))
            new = []
            for c, cen in enumerate(cents):
                mem = [v for i, v in rows if assign[i][0] == c]
                if mem:
                    new.append(
                        [
                            rhu(
                                float(sum(math.floor(m[d] * 1e9 + 0.5) for m in mem))
                                / len(mem) / 1e9,
                                6,
                            )
                            for d in range(DIMS)
                        ]
                    )
                else:
                    new.append(cen)
            cents = new
        return assign, cents

    rng = random.Random(89)
    for trial in range(3):
        n = rng.randrange(12, 40)
        k = rng.randrange(2, 6)
        iters = rng.randrange(1, 4)
        rows = [
            (i, [rng.randrange(-1600, 1600) / 16.0 for _ in range(DIMS)])
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        assigned, cents = kmeans_lloyd(df, k=k, iterations=iters, dims=DIMS)
        got = {
            r["id"]: (r["cluster_id"], r["d2_r"]) for r in assigned.collect()
        }
        want_assign, want_cents = py_kmeans(rows, k, iters)
        assert got == want_assign, (trial, k, iters)
        assert cents == want_cents, (trial, k, iters)

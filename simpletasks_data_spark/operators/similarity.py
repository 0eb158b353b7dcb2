"""Similarity search over embedding columns.

- ``knn_bruteforce``: exact top-k cosine neighbors for a query subset.
  The candidate side is broadcast when small; the dot product folds
  JVM-side (``functions.vectors``). Correctness baseline.
- ``knn_ivf_signbits``: IVF-style approximate variant — both sides are
  quantized into 2^bits sign-bit cells and the join only scans the query's
  own cell (≈ n/2^bits candidates per query). This is the 100 TB path: the
  cross product never materializes, the join key is a dense int, and recall
  trades off against ``bits`` exactly like an IVF nprobe=1 index.
- ``embedding_dedupe_pairs``: near-duplicate pairs above a cosine
  threshold. Candidates come from ``bands`` independent sign-bit
  projections (band b quantizes dims [b*bits, b*bits+bits)): a pair is a
  candidate when it agrees in ANY band — the MinHash band trick applied to
  sign bits. More bands -> higher recall; more bits -> smaller cells.
  At 100 TB: size ``bits`` with ``functions.vectors.suggest_signbit_bits``
  so a cell stays bounded (~1k vectors), and let bands recover the recall
  the narrower cells cost. Pairs are verified with exact cosine and
  deduped AFTER the threshold filter, so the distinct shuffles only true
  near-dup pairs.

Ranking determinism: neighbors order by cosine rounded to 1e-6 then id, so
rankings are stable across engines/run orders despite float accumulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, bucket_signbits, cosine, norm2, suggest_signbit_bits

__all__ = ["knn_bruteforce", "knn_ivf_signbits", "knn_quantized_rescore",
    "knn_bruteforce_blas", "embedding_dedupe_pairs", "ivf_centroids",
    "hard_negatives", "retrieval_eval", "mmr_select"]

# candidate-side broadcast gate of the exact knn operators
# (broadcast_candidates="auto"): the side is counted, then hinted only
# at or under this many rows
BROADCAST_ROWS_MAX = 1_000_000
# knn_bruteforce_blas collects its candidate side onto the driver and
# broadcasts it: float64 at 64 dims is ~0.5 GB a million rows
BLAS_CANDIDATE_ROWS_MAX = 2_000_000


def _norm_frame(df: DataFrame, id_col: str, vec_col: str, alias: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{alias}_id"),
        as_double(vec_col).alias(f"{alias}_vec"),
        norm2(vec_col).alias(f"{alias}_norm"),
    )


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    # Rank on the 1e-6 grid (engine-stable order); display-round the RAW
    # ratio to 4. Re-rounding sim_r would DOUBLE-round: 1e-6 grid values
    # like 0.326850 sit exactly ON 1e-4 half-boundaries, where Spark
    # (shortest-repr HALF_UP) and other engines (binary value) disagree
    # STRUCTURALLY — observed live at sf0.1 on knn_ivf_kmeans.
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round(F.col("sim"), 4).alias("cosine"))
    )


def knn_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    broadcast_candidates: bool | str = "auto",
) -> DataFrame:
    """Exact top-k: queries × candidates cross join, cosine, window top-k.
    (query_id, neighbor_id, rank, cosine). Self-matches excluded.

    This is the CORRECTNESS BASELINE — O(|q| * |c|) work. At scale use
    ``knn_ivf_signbits``. ``broadcast_candidates="auto"`` counts the
    candidate side (one cheap job) and only broadcasts at or under
    ``BROADCAST_ROWS_MAX``; forcing ``True`` on a 100 TB candidate table
    would OOM the driver, so the gate is the default."""
    q = _norm_frame(queries, id_col, vec_col, "q").withColumnRenamed("q_id", "query_id")
    c = _norm_frame(emb, id_col, vec_col, "c").withColumnRenamed("c_id", "neighbor_id")
    if broadcast_candidates == "auto":
        broadcast_candidates = emb.count() <= BROADCAST_ROWS_MAX
    if broadcast_candidates:
        c = F.broadcast(c)  # b: gated
        # Spread the streamed probe side (r11, measured): the query
        # stratum usually arrives as ONE scan split, serializing the
        # |q| x |c| dot-product loop on one task (~1.5 s at sf0.1).
        # Safe because the candidate side's strategy is pinned by the
        # broadcast hint (no join can re-shape — the bm25
        # counter-lesson); no-op once the scan has >= cores splits.
        from .dedupe import _ensure_parallelism

        q = _ensure_parallelism(q)
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("sim_r", F.round(F.col("sim"), 6))
    )
    return _ranked_topk(pairs, k)


def knn_ivf_signbits(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 6,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: equi-join on the sign-bit cell, then per-cell
    cosine + top-k. Same output shape as brute force; recall < 1.

    ``multiprobe=True`` probes the query's own cell plus every Hamming-1
    neighbor cell (bits+1 probes) — the IVF nprobe dial: candidate volume
    grows (bits+1)x, recall recovers the vectors whose single closest-to-
    zero dimension flipped sign. Each candidate lives in exactly one cell,
    so probing distinct cells never duplicates a (query, neighbor) pair —
    no distinct needed."""
    q = _norm_frame(queries, id_col, vec_col, "q").withColumnRenamed("q_id", "query_id")
    c = _norm_frame(emb, id_col, vec_col, "c").withColumnRenamed("c_id", "neighbor_id")
    own = bucket_signbits(F.col("q_vec"), bits)
    if multiprobe:
        probes = F.array(own, *[own.bitwiseXOR(F.lit(1 << j)) for j in range(bits)])
        q = q.withColumn("cell", F.explode(probes))
    else:
        q = q.withColumn("cell", own)
    c = c.withColumn("cell", bucket_signbits(F.col("c_vec"), bits))
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        q.join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("sim_r", F.round(F.col("sim"), 6))
    )
    return _ranked_topk(pairs, k)


def embedding_dedupe_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Near-duplicate vectors: pairs with cosine >= threshold. Candidate
    generation: a pair qualifies when its sign-bit cell matches in ANY of
    ``bands`` independent projections (band b reads dims
    [b*bits, (b+1)*bits)). The vector must have >= bands*bits dims.

    Scale shape: one explode (bands rows/vector), one equi-join on the
    dense (band, cell) key — within-cell all-pairs is O(n^2 / 2^bits) per
    band, and ``bits`` scales with the corpus (suggest_signbit_bits). The
    duplicate-pair distinct runs AFTER the cosine threshold, so it only
    shuffles actual near-dups."""
    e = _norm_frame(emb, id_col, vec_col, "e").withColumn(
        "band_cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bucket_signbits(F.col("e_vec"), bits, offset=b * bits).alias("cell"),
                    )
                    for b in range(bands)
                ]
            )
        ),
    )
    a = e.select(
        F.col("e_id").alias("id_a"), F.col("e_vec").alias("va"),
        F.col("e_norm").alias("na"), "band_cell",
    )
    b = e.select(
        F.col("e_id").alias("id_b"), F.col("e_vec").alias("vb"),
        F.col("e_norm").alias("nb"), "band_cell",
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "band_cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_id: str = "vec_id",
    bench_id: str = "bench_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Semantic decontamination: corpus vectors whose embedding lands
    within ``threshold`` cosine of ANY benchmark vector — the
    embedding-space twin of the n-gram `decontaminate` gate (paraphrased
    or re-formatted eval leakage that shares no 3-grams still collides
    in embedding space). Returns one row per flagged corpus vector:
    (corpus_id, best_bench_id, max_cosine, n_bench_matches) with the
    best match = highest cosine, ties to the smallest benchmark id.

    Candidate generation is the multi-band sign-bit scheme of
    `embedding_dedupe_pairs` (a pair qualifies when its cell matches in
    ANY band), made ASYMMETRIC: only corpus x benchmark cells join, so
    the per-cell work is O(|corpus| * |bench| / 2^bits) per band and the
    benchmark side — tiny relative to the corpus — is AQE-broadcastable
    without a hint. The final per-corpus-id window is partitioned by the
    flagged-row key (bounded by the contamination rate, not the corpus).
    """
    dot = F.aggregate(
        F.zip_with(F.col("c_vec"), F.col("b_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def cells(frame, alias):
        return _norm_frame(frame, corpus_id if alias == "c" else bench_id, vec_col, alias).withColumn(
            "band_cell",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            bucket_signbits(F.col(f"{alias}_vec"), bits, offset=b * bits).alias("cell"),
                        )
                        for b in range(bands)
                    ]
                )
            ),
        )

    pairs = (
        cells(corpus, "c")
        .join(cells(bench, "b"), "band_cell")
        .withColumn("cosine", F.round(dot / (F.col("c_norm") * F.col("b_norm")), 4))
        .where(F.col("cosine") >= threshold)
        .select(F.col("c_id").alias(corpus_id), F.col("b_id").alias(bench_id), "cosine")
        .distinct()
    )
    w = Window.partitionBy(corpus_id)
    ranked = pairs.select(
        corpus_id,
        bench_id,
        "cosine",
        F.row_number()
        .over(w.orderBy(F.col("cosine").desc(), F.col(bench_id).asc()))
        .alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_nm"),
    )
    return ranked.where(F.col("_rn") == 1).select(
        corpus_id,
        F.col(bench_id).alias(f"best_{bench_id}"),
        F.col("cosine").alias("max_cosine"),
        F.col("_nm").cast("long").alias("n_bench_matches"),
    )


def ivf_centroids(
    embeds: DataFrame,
    vec_col: str = "embedding",
    bits: int = 6,
    dims: int = 64,
) -> DataFrame:
    """Per-cell centroids of the sign-bit quantizer — the k-means-free IVF
    coarse codebook (cells are fixed by sign bits, centroids summarize
    them for pruning/ANN routing and for corpus drift monitoring).

    Scale shape: ONE hash aggregation with ``dims`` sum columns plus a
    count — map-side partial aggregation collapses each partition to
    2^bits rows before the only shuffle. Deliberately NOT posexplode
    (which would shuffle dims x corpus rows). Output: cell, n_vectors,
    centroid array<double> (elements rounded at 4; ``+ 0.0`` normalizes
    IEEE -0.0 so downstream hashing is engine-portable).
    """
    arr = as_double(vec_col)
    cell = bucket_signbits(vec_col, bits).alias("cell")
    sums = [F.sum(F.element_at(arr, d + 1)).alias(f"_s{d}") for d in range(dims)]
    agg = embeds.groupBy(cell).agg(F.count(F.lit(1)).cast("long").alias("n_vectors"), *sums)
    centroid = F.array(
        *[F.round(F.col(f"_s{d}") / F.col("n_vectors"), 4) + F.lit(0.0) for d in range(dims)]
    )
    return agg.select("cell", "n_vectors", centroid.alias("centroid"))


def knn_quantized_rescore(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 15,
    broadcast_candidates: bool | str = "auto",
) -> DataFrame:
    """Two-stage ANN: int8-quantized candidate scoring, exact rescore.

    Stage 1 scores every (query, candidate) pair on symmetric-int8 codes
    (per-vector scale = 127/max|x|): the integer dot product is EXACT in
    double arithmetic (|sum| <= dims*127^2), so the approximate ranking is
    fully deterministic — no float-accumulation ambiguity. Per query the
    ranking key is int_dot / (cand_scale * cand_norm) (query-side factors
    are rank-constant). Top-``shortlist`` per query survive.

    Stage 2 joins the shortlist back to the float vectors and re-ranks by
    exact cosine; top-``k`` emit with the same output shape as the other
    knn operators (query_id, neighbor_id, rank, cosine).

    Scale shape: this is the compressed-index path — at 100 TB the
    candidate side of stage 1 is the int8 code table (8x smaller than
    float32, 32x smaller than the raw doubles), which is what makes a
    broadcast or in-memory scan of a billion-vector index feasible; the
    float vectors are only fetched for |q| * shortlist rows in stage 2
    (an equi-join on neighbor_id, not a second cross product). Stage 1
    here is exhaustive over codes (like a flat PQ/SQ index); compose with
    the sign-bit cells of ``knn_ivf_signbits`` for sublinear probing.
    """
    mxq = F.array_max(F.transform("q_vec", lambda x: F.abs(x)))
    mxc = F.array_max(F.transform("c_vec", lambda x: F.abs(x)))
    q = (
        _norm_frame(queries, id_col, vec_col, "q")
        .withColumnRenamed("q_id", "query_id")
        .where(mxq > 0)
        .withColumn("q_codes", F.transform("q_vec", lambda x: F.round(x * 127.0 / mxq)))
    )
    c = (
        _norm_frame(emb, id_col, vec_col, "c")
        .withColumnRenamed("c_id", "neighbor_id")
        .where(mxc > 0)
        .withColumn("c_scale", F.lit(127.0) / mxc)
        .withColumn("c_codes", F.transform("c_vec", lambda x: F.round(x * F.col("c_scale"))))
    )
    if broadcast_candidates == "auto":
        broadcast_candidates = emb.count() <= BROADCAST_ROWS_MAX
    codes = c.select("neighbor_id", "c_scale", "c_norm", "c_codes")
    if broadcast_candidates:
        codes = F.broadcast(codes)  # b: gated
        # Spread the streamed probe side (r11) — see knn_bruteforce.
        from .dedupe import _ensure_parallelism

        q = _ensure_parallelism(q)
    int_dot = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("c_codes"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        q.select("query_id", "q_codes").crossJoin(codes)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("ascore", F.round(int_dot / (F.col("c_scale") * F.col("c_norm")), 6))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ascore").desc(), F.col("neighbor_id").asc()
    )
    keep = (
        scored.withColumn("arank", F.row_number().over(wq))
        .where(F.col("arank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    exact_dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        keep.join(
            q.select("query_id", "q_vec", "q_norm").withColumnRenamed("query_id", "_qid"),
            F.col("query_id") == F.col("_qid"),
        )
        .join(
            (c.select("neighbor_id", "c_vec", "c_norm").withColumnRenamed("neighbor_id", "_nid")),
            F.col("neighbor_id") == F.col("_nid"),
        )
        .withColumn("sim", exact_dot / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("sim_r", F.round(F.col("sim"), 6))
    )
    return _ranked_topk(pairs, k)


def knn_bruteforce_blas(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k via Arrow + numpy: the candidate matrix broadcasts to
    the Python workers once and every query partition scores against it
    with vectorized float64 arithmetic — the Pandas-UDF fast path for
    dense linear algebra, where a JVM expression fold evaluates scalar
    ops per (pair, dim) but BLAS-style row operations stream through
    SIMD. Output is BIT-IDENTICAL to :func:`knn_bruteforce`: the dot
    products and norms accumulate dimension-by-dimension in the same
    left-to-right order as the JVM ``aggregate`` fold (a loop of
    vectorized outer-product adds, NOT ``np.dot``, whose pairwise
    summation differs in the last ulp and can flip a rounded tie), and
    rounding is decimal HALF_UP like Spark's ``round``.

    Scale shape: the candidate side must fit one executor's memory
    (``BLAS_CANDIDATE_ROWS_MAX`` guards it: at most one row past the cap
    is collected before the raise); queries partition freely, so total work
    distributes across the cluster with zero shuffle. Past the gate,
    shard the candidate set and merge per-shard top-k, or switch to
    ``knn_ivf_signbits`` / ``knn_quantized_rescore``.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    cand = (
        emb.select(F.col(id_col).alias("_id"), as_double(vec_col).alias("_v"))
        .limit(BLAS_CANDIDATE_ROWS_MAX + 1)
        .toPandas()  # c: gated
    )
    if len(cand) > BLAS_CANDIDATE_ROWS_MAX:
        raise ValueError(
            f"candidate side has more than BLAS_CANDIDATE_ROWS_MAX="
            f"{BLAS_CANDIDATE_ROWS_MAX} rows; shard it or use an ANN operator"
        )
    if not len(cand):
        raise ValueError("knn_bruteforce_blas: empty candidate embedding frame")
    c_ids = cand["_id"].to_numpy(dtype=np.int64)
    c_mat = np.stack(cand["_v"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((c_ids, c_mat))

    def _seq_dot(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        # (n, d) x (m, d) -> (n, m), accumulating dims left-to-right so
        # every pair's sum has the JVM fold's exact rounding trajectory
        acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
        for d in range(a.shape[1]):
            acc += a[:, d, None] * b[None, :, d]
        return acc

    def _seq_norm(a: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(a.shape[0], dtype=np.float64)
        for d in range(a.shape[1]):
            acc += a[:, d] * a[:, d]
        return np.sqrt(acc)

    def _half_up(x: "np.ndarray", digits: int) -> "np.ndarray":
        m = 10.0 ** digits
        return np.sign(x) * np.floor(np.abs(x) * m + 0.5) / m

    def _spark_round(x: float, digits: int) -> float:
        # Spark's round() feeds BigDecimal.valueOf(double) — the SHORTEST
        # decimal representation, not the exact binary value. Python's
        # repr produces the same shortest form, so Decimal(repr(x)) +
        # HALF_UP reproduces the JVM result even on .XXXX50 knife-edge
        # values where binary-exact rounding lands one ulp lower.
        import decimal

        q = decimal.Decimal(1).scaleb(-digits)
        return float(
            decimal.Decimal(repr(float(x))).quantize(q, rounding=decimal.ROUND_HALF_UP)
        )

    def score(batches):
        ids_, cm = bc.value
        cn = _seq_norm(cm)
        for pdf in batches:
            if not len(pdf):
                continue
            qm = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            qn = _seq_norm(qm)
            raw = _seq_dot(qm, cm) / (qn[:, None] * cn[None, :])
            sims = _half_up(raw, 6)
            rows = []
            for r, qid in enumerate(pdf["_id"].to_numpy(dtype=np.int64)):
                s = sims[r]
                order = np.lexsort((ids_, -s))
                rank = 0
                for j in order:
                    if ids_[j] == qid:
                        continue
                    rank += 1
                    # display-round the RAW ratio (the grid value would
                    # double-round onto 1e-4 half-boundaries — see
                    # _ranked_topk); ranking stays on the 1e-6 grid above
                    rows.append((int(qid), int(ids_[j]), rank, _spark_round(raw[r, j], 4)))
                    if rank >= k:
                        break
            yield pd.DataFrame(
                rows, columns=["query_id", "neighbor_id", "rank", "cosine"]
            )

    q = queries.select(F.col(id_col).alias("_id"), as_double(vec_col).alias("_v"))
    return q.mapInPandas(
        score, "query_id long, neighbor_id long, rank long, cosine double"
    )


def centroid_drift_by_group(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Per-group embedding-centroid drift vs the global centroid — the
    corpus-mix monitor a training pipeline runs per source/shard/day:
    a group whose centroid points away from the corpus centroid (low
    cosine) signals topic/domain drift or a poisoned shard before any
    model sees the data.

    Returns (group, n_vecs, drift_cosine): cosine between the group's
    mean vector and the global mean vector, both on the 1e-6 avg grid
    (the same determinism contract as the k-means/pca family so a SQL
    oracle lands on identical bytes), cosine rounded at 4.

    Scale shape: ONE hash aggregation computes every per-group per-dim
    mean (map-side partials; groups x dims tiny output); the global
    centroid is the same agg without keys (single row, broadcast). The
    cosine is a codegen'd array fold over group-count-sized data — no
    per-vector second pass, no shuffle beyond the one agg.
    """
    arr = as_double(vec_col)
    g_aggs = [F.count(F.lit(1)).cast("long").alias("n_vecs")] + [
        F.round(F.avg(F.element_at(arr, d + 1)), 6).alias(f"m{d}")
        for d in range(dims)
    ]
    per_group = emb.groupBy(F.col(group_col).alias("group")).agg(*g_aggs)
    glob = emb.agg(
        *[F.round(F.avg(F.element_at(arr, d + 1)), 6).alias(f"g{d}") for d in range(dims)]
    )
    joined = per_group.crossJoin(F.broadcast(glob))  # b: 1row
    c = F.array(*[F.col(f"m{d}") for d in range(dims)])
    g = F.array(*[F.col(f"g{d}") for d in range(dims)])
    dot = F.aggregate(F.zip_with(c, g, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x)
    nc = F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    ng = F.sqrt(F.aggregate(F.transform(g, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return joined.select(
        "group",
        "n_vecs",
        F.round(dot / (nc * ng), 4).alias("drift_cosine"),
    )


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    broadcast_candidates: bool | str = "auto",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each query vector, the top-k most-similar candidates with a
    DIFFERENT label — the near-misses a ranker must learn to push away.
    Returns (query_id, query_label, neighbor_id, neighbor_label, rank,
    cosine).

    Shape: identical to ``knn_bruteforce`` (exact cosine + window top-k)
    with the cross-label predicate applied BEFORE ranking, so same-label
    rows never enter the sort. This is the correctness baseline; at
    100 TB route candidate generation through ``knn_ivf_kmeans``-style
    cell probing first and apply the label filter inside each cell —
    the mining predicate composes with any ANN candidate generator. The
    broadcast gate mirrors ``knn_bruteforce``'s.
    """
    q = (
        _norm_frame(queries, id_col, vec_col, "q")
        .withColumnRenamed("q_id", "query_id")
        .join(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("query_label"),
            ),
            "query_id",
        )
    )
    c = (
        _norm_frame(emb, id_col, vec_col, "c")
        .withColumnRenamed("c_id", "neighbor_id")
        .join(
            emb.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("neighbor_label"),
            ),
            "neighbor_id",
        )
    )
    if broadcast_candidates == "auto":
        broadcast_candidates = emb.count() <= BROADCAST_ROWS_MAX
    if broadcast_candidates:
        c = F.broadcast(c)  # b: gated
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        q.crossJoin(c)
        .where(F.col("query_label") != F.col("neighbor_label"))
        .withColumn("sim", dot / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("sim_r", F.round(F.col("sim"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
            F.round(F.col("sim"), 4).alias("cosine"),
        )
    )


def retrieval_eval(
    emb: DataFrame,
    queries: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Retrieval-quality evaluation: rank the full candidate set for
    each query by exact cosine, treat same-``label_col`` candidates as
    relevant, and report the standard ranking metrics per query at
    cutoff ``k`` — reciprocal rank (RR@k), recall@k, and nDCG@k (binary
    gains, IDCG over ``min(n_relevant, k)`` ideal positions). This is
    the metric harness a retrieval/embedding training pipeline runs
    after every index or encoder change; ``ann_recall_report`` measures
    an ANN index against exact search, this measures the EMBEDDING
    itself against labels.

    Returns (query_id, query_label, n_relevant, hits_at_k, rr_at_k,
    recall_at_k, ndcg_at_k).

    Shape: the exact-cosine ranking is ``knn_bruteforce``'s broadcast
    plan; metrics fold in ONE per-query hash agg (no second shuffle —
    rank, relevance flag, and DCG terms are all row-local after the
    window). IDCG needs no join: ``aggregate(sequence(...))`` folds the
    closed-form ideal DCG JVM-side. At 100 TB swap the candidate
    generator for the IVF cell-probe variants; the metric agg is
    generator-agnostic. Determinism: ranks order by 1e-6-rounded cosine
    then id (module contract), metrics round to 1e-4.
    """
    q = (
        _norm_frame(queries, id_col, vec_col, "q")
        .withColumnRenamed("q_id", "query_id")
        .join(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("query_label"),
            ),
            "query_id",
        )
    )
    c = (
        _norm_frame(emb, id_col, vec_col, "c")
        .withColumnRenamed("c_id", "neighbor_id")
        .join(
            emb.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("neighbor_label"),
            ),
            "neighbor_id",
        )
    )
    if broadcast_candidates:
        c = F.broadcast(c)  # b: optin
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("sim_r", F.round(F.col("sim"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_r").desc(), F.col("neighbor_id").asc()
    )
    rel = (F.col("query_label") == F.col("neighbor_label")).cast("int")
    ranked = pairs.withColumn("rank", F.row_number().over(w)).withColumn("rel", rel)
    in_k = F.col("rank") <= k
    per_q = ranked.groupBy("query_id", "query_label").agg(
        F.sum("rel").cast("long").alias("n_relevant"),
        F.sum(F.when(in_k, F.col("rel")).otherwise(0)).cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("_first_rel"),
        F.sum(
            F.when(in_k & (F.col("rel") == 1), 1.0 / F.log2(F.col("rank") + 1.0)).otherwise(0.0)
        ).alias("_dcg"),
    )
    idcg = F.when(
        F.col("n_relevant") > 0,
        F.aggregate(
            F.sequence(F.lit(1), F.least(F.col("n_relevant"), F.lit(k)).cast("int")),
            F.lit(0.0),
            lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
        ),
    ).otherwise(F.lit(0.0))
    return per_q.withColumn("_idcg", idcg).select(
        "query_id",
        # verbatim, like hard_negatives: casting here would NULL out
        # non-numeric label columns (e.g. string language labels) while
        # relevance matching kept working — cast at the query layer.
        "query_label",
        "n_relevant",
        "hits_at_k",
        F.round(
            F.when(F.col("_first_rel") <= k, 1.0 / F.col("_first_rel")).otherwise(0.0), 4
        ).alias("rr_at_k"),
        F.round(
            F.when(
                F.col("n_relevant") > 0, F.col("hits_at_k") / F.col("n_relevant")
            ).otherwise(0.0),
            4,
        ).alias("recall_at_k"),
        F.round(
            F.when(F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg")).otherwise(0.0), 4
        ).alias("ndcg_at_k"),
    )


def mmr_select(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    m: int = 10,
    lam: float = 0.7,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Maximal-marginal-relevance diversified retrieval (Carbonell &
    Goldstein 1998): per query, greedily pick ``k`` results from the
    top-``m`` cosine candidates, each round maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in picked} sim(d, s)`` — high
    relevance, low redundancy. The de-duplicating re-rank step between
    ANN retrieval and a context window / training batch.

    Returns (query_id, pick_order, ``id_col``, mmr_score); round 1's
    score is ``lam * rel`` (the max-term is empty).

    Shape: relevance ranking is the broadcast ``knn_bruteforce`` plan
    cut to top-``m``; candidate-pair sims are an m-per-query self-join
    (m^2 rows per query — bounded by the CUT, not the corpus) and both
    frames checkpoint once. Each greedy round then touches only
    candidate-sized frames: one max-sim agg + one argmin pick per
    query, never the corpus — at 100 TB the loop cost is O(k * m^2 *
    |Q|) independent of collection size, and candidates can come from
    any ANN generator instead. Determinism: rel/sim round to 1e-6 (safe:
    both engines round the IDENTICAL raw double), then scores are pure
    INTEGER arithmetic in micro-units — ``lam`` is snapped to a rational
    num/den and ``score_i = num * rel_i - (den - num) * msim_i`` ranks
    as a long, so no derived float ever re-rounds (``lam * rel`` on the
    1e-6 grid would land on exact decimal halves ~10% of the time and
    flip between engines). ``mmr_score = score_i / (den * 1e6)``.
    """
    from fractions import Fraction

    fr = Fraction(lam).limit_denominator(1000)
    num, den = fr.numerator, fr.denominator
    scale = float(den * 1_000_000)
    q = _norm_frame(queries, id_col, vec_col, "q").withColumnRenamed("q_id", "query_id")
    c = _norm_frame(emb, id_col, vec_col, "c").withColumnRenamed("c_id", "doc_id")
    if broadcast_candidates:
        c = F.broadcast(c)  # b: optin
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ranked = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("doc_id"))
        .withColumn("rel", F.round(dot / (F.col("q_norm") * F.col("c_norm")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    cand = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= m)
        .withColumn("_rel_i", F.round(F.col("rel") * 1e6).cast("long"))
        .select("query_id", "doc_id", "_rel_i", "c_vec", "c_norm")
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        "query_id",
        F.col("doc_id").alias("_a"),
        F.col("c_vec").alias("_av"),
        F.col("c_norm").alias("_an"),
    )
    b = cand.select(
        "query_id",
        F.col("doc_id").alias("_b"),
        F.col("c_vec").alias("_bv"),
        F.col("c_norm").alias("_bn"),
    )
    pdot = F.aggregate(
        F.zip_with(F.col("_av"), F.col("_bv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    psim = (
        a.join(b, "query_id")
        .where(F.col("_a") != F.col("_b"))
        .select(
            "query_id",
            "_a",
            "_b",
            F.round(F.round(pdot / (F.col("_an") * F.col("_bn")), 6) * 1e6)
            .cast("long")
            .alias("_sim_i"),
        )
        .localCheckpoint(eager=True)
    )
    cand = cand.drop("c_vec", "c_norm")
    pick_w = Window.partitionBy("query_id").orderBy(
        F.col("_score_i").desc(), F.col("doc_id").asc()
    )
    sel = (
        cand.withColumn("_score_i", F.lit(num) * F.col("_rel_i"))
        .withColumn("_rn", F.row_number().over(pick_w))
        .where(F.col("_rn") == 1)
        .select(
            "query_id", F.lit(1).cast("long").alias("pick_order"), "doc_id", "_score_i"
        )
    )
    for t in range(2, k + 1):
        remaining = cand.join(sel, ["query_id", "doc_id"], "left_anti")
        msim = (
            psim.join(
                sel.select("query_id", F.col("doc_id").alias("_b")), ["query_id", "_b"]
            )
            .groupBy("query_id", F.col("_a").alias("doc_id"))
            .agg(F.max("_sim_i").alias("_msim_i"))
        )
        pick = (
            remaining.join(msim, ["query_id", "doc_id"])
            .withColumn(
                "_score_i",
                F.lit(num) * F.col("_rel_i") - F.lit(den - num) * F.col("_msim_i"),
            )
            .withColumn("_rn", F.row_number().over(pick_w))
            .where(F.col("_rn") == 1)
            .select(
                "query_id", F.lit(t).cast("long").alias("pick_order"), "doc_id", "_score_i"
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        "query_id",
        "pick_order",
        "doc_id",
        (F.col("_score_i") / F.lit(scale)).alias("mmr_score"),
    )


def dbscan_grid_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    min_pts: int,
) -> DataFrame:
    """Exact DBSCAN over points on an INTEGER 2-D plane (pre-quantized
    coordinates, e.g. milli-units of a random projection), with grid-cell
    candidate generation: each point probes its own and the 8 adjacent
    eps-wide cells, so the neighbor join is an EQUI-join on cell keys —
    candidate fan-out is bounded by local density, never all-pairs. The
    distance test is pure integer arithmetic (dx^2 + dy^2 <= eps^2), so
    core/border decisions are engine-exact with no float-threshold ulp
    risk.

    Semantics (deterministic DBSCAN variant):
    - core: >= ``min_pts`` points (incl. itself) within ``eps``;
    - clusters: connected components of the core-core eps-graph
      (operators/graph.connected_components: driver-side union-find
      under its edge cap, else big-star, whose round count does not
      grow with the long diameter of a spatial eps-graph), cluster id =
      min core id in the component;
    - border: non-core within eps of >= 1 core, assigned the MIN cluster
      id among its core neighbors (classic DBSCAN is scan-order-dependent
      here; the min rule makes it order-free);
    - noise: everything else, cluster_id = -1.

    Scale shape: one cell-key equi-join (x9 probe fan-out), one count
    agg, CC on the (much smaller) core-core edge set, one border join.
    At 100 TB the grid key is also the natural partitioner — neighboring
    cells co-locate, and AQE handles dense-cell skew.

    Returns ``(id_col, cluster_id: long, role: core|border|noise)``.
    """
    from .graph import connected_components

    eps2 = eps * eps
    pts = points.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    ).withColumns(
        {
            "_cx": F.floor(F.col("_x") / float(eps)).cast("long"),
            "_cy": F.floor(F.col("_y") / float(eps)).cast("long"),
        }
    ).localCheckpoint(eager=True)

    probes = pts.select(
        "_id",
        "_x",
        "_y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("_cx") + dx).alias("_pcx"),
                        (F.col("_cy") + dy).alias("_pcy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("_p"),
    ).select("_id", "_x", "_y", F.col("_p._pcx").alias("_pcx"), F.col("_p._pcy").alias("_pcy"))
    home = pts.select(
        F.col("_id").alias("_ib"),
        F.col("_x").alias("_xb"),
        F.col("_y").alias("_yb"),
        F.col("_cx").alias("_pcx"),
        F.col("_cy").alias("_pcy"),
    )
    dx, dy = F.col("_x") - F.col("_xb"), F.col("_y") - F.col("_yb")
    nb = (
        probes.join(home, ["_pcx", "_pcy"])
        .where((F.col("_id") != F.col("_ib")) & (dx * dx + dy * dy <= F.lit(eps2)))
        .select(F.col("_id").alias("_ia"), "_ib")
        .localCheckpoint(eager=True)
    )
    deg = nb.groupBy("_ia").agg(F.count(F.lit(1)).alias("_n"))
    core = (
        pts.join(deg, pts["_id"] == deg["_ia"], "left")
        .where(F.coalesce(F.col("_n"), F.lit(0)) + 1 >= min_pts)
        .select("_id")
        .localCheckpoint(eager=True)
    )
    core_edges = (
        nb.join(core.select(F.col("_id").alias("_ia")), "_ia")
        .join(core.select(F.col("_id").alias("_ib")), "_ib")
        .select("_ia", "_ib")
    )
    cc = connected_components(core_edges, "_ia", "_ib")
    # singleton cores (no core neighbor) never enter the edge frame
    clusters = (
        core.join(cc, core["_id"] == cc["id"], "left")
        .select("_id", F.coalesce(F.col("component"), F.col("_id")).alias("_cl"))
        .localCheckpoint(eager=True)
    )
    border = (
        nb.join(clusters.select(F.col("_id").alias("_ib"), "_cl"), "_ib")
        .join(clusters.select(F.col("_id").alias("_ia")), "_ia", "left_anti")
        .groupBy("_ia")
        .agg(F.min("_cl").alias("_bcl"))
    )
    return (
        pts.join(clusters, "_id", "left")
        .join(border.select(F.col("_ia").alias("_id"), "_bcl"), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("_cl"), F.col("_bcl"), F.lit(-1)).cast("long").alias("cluster_id"),
            F.when(F.col("_cl").isNotNull(), F.lit("core"))
            .when(F.col("_bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )

"""Deterministic, engine-portable sketches for approximate analytics.

Spark's built-ins (``approx_count_distinct``, ``approx_percentile``) are
engine-private: their estimates can't be reproduced by another engine, so
they can't be oracle-checked and their values drift across Spark
versions. These sketches derive all randomness from md5 (portable) and
keep all arithmetic either integral or dyadic-exact, so DuckDB running
the same algorithm produces bit-identical estimates:

- ``kmv_distinct`` — k-minimum-values distinct-count: hash each value to
  u ∈ [0,1) (60-bit md5 prefix / 2^60 — exact dyadic), keep the k
  smallest distinct u per group; estimate (k-1)/u_k, exact when the
  group has < k distinct values. The rank-≤-k filter compiles to
  Spark's WindowGroupLimit (map-side top-k per partition before the
  shuffle) — a group never materializes more than k values per task.

- ``hll_distinct`` — HyperLogLog with md5-derived registers: bucket =
  low 8 hash bits (m=256), rho = leading-zero count of the remaining 52
  bits + 1 (pure integer: 53 - bitlength). Register maxes are a ONE-pass
  partially-aggregated groupBy; 2^-register sums are dyadic-exact so the
  harmonic mean is order-independent; the only libm call (ln in the
  small-range linear-counting branch) is rounded away at 4 decimals.

- ``histogram_quantile`` — fixed-grid histogram quantiles: bin counts
  are mergeable partials (the rollup/streaming-friendly shape);
  quantile = upper edge of the first bin whose cumulative count reaches
  q*n. Resolution = bin width, deterministic, two shuffles.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "kmv_distinct",
    "hll_prepare",
    "hll_finalize",
    "hll_distinct",
    "histogram_quantile",
    "cms_table",
    "cms_estimate",
    "bottomk_sample_quantiles",
]

_TWO60 = float(1 << 60)


def _u01(col: Column) -> Column:
    """Uniform [0,1) from the first 60 md5 bits — dyadic, engine-exact."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")
    return h / F.lit(_TWO60)


def kmv_distinct(
    df: DataFrame, value_col: str, keys: Sequence[str], k: int = 64
) -> DataFrame:
    """Per ``keys``: ``n_kept`` (= min(k, distinct)) and ``est_distinct``
    — exact below k, else the KMV estimator (k-1)/u_k."""
    keys = list(keys)
    u = (
        df.select(*keys, _u01(F.col(value_col)).alias("_u"))
        .distinct()
    )
    w = Window.partitionBy(*keys).orderBy("_u")
    kept = u.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    return kept.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(
            F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")).otherwise(
                F.lit(float(k - 1)) / F.max("_u")
            ),
            4,
        ).alias("est_distinct"),
    )


def hll_prepare(df: DataFrame, value_col: str, keys: Sequence[str], b: int = 8) -> DataFrame:
    """Map stage of the HLL sketch: one row per input with its register
    coordinates ``(keys..., _bucket, _rho)``. Split out so STREAMING
    pipelines can maintain the register table with an ordinary windowed
    ``max`` aggregation (registers are the mergeable representation) and
    finalize later in batch."""
    keys = list(keys)
    m = 1 << b
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    wbits = 60 - b
    return df.select(
        *keys,
        F.pmod(h, F.lit(m)).alias("_bucket"),
        F.shiftright(h, b).alias("_w"),
    ).withColumn(
        "_rho",
        F.when(F.col("_w") == 0, F.lit(wbits + 1)).otherwise(
            F.lit(wbits + 1) - F.length(F.bin(F.col("_w")))
        ),
    ).drop("_w")


def hll_finalize(regs: DataFrame, keys: Sequence[str], b: int = 8) -> DataFrame:
    """Estimate from a register table ``(keys..., _bucket, _reg)``:
    alpha_m * m^2 / (sum 2^-reg + empty), linear counting below 2.5m.
    Dyadic 2^-reg sums keep the estimate order-independent."""
    keys = list(keys)
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = regs.groupBy(*keys).agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("_reg"))) + (F.lit(m) - F.count(F.lit(1))))
        .alias("_z"),
        (F.lit(m) - F.count(F.lit(1))).cast("double").alias("_v"),
    )
    raw = F.lit(alpha * m * m) / F.col("_z")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_v"))
    return est.select(
        *keys,
        F.round(
            F.when((raw <= 2.5 * m) & (F.col("_v") > 0), linear).otherwise(raw), 4
        ).alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame, value_col: str, keys: Sequence[str], b: int = 8
) -> DataFrame:
    """Per ``keys``: HyperLogLog distinct estimate with m=2^b registers —
    prepare -> register max (ONE partially-aggregated pass) -> finalize."""
    keys = list(keys)
    regs = (
        hll_prepare(df, value_col, keys, b)
        .groupBy(*keys, "_bucket")
        .agg(F.max("_rho").alias("_reg"))
    )
    return hll_finalize(regs, keys, b)


def histogram_quantile(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    width: float,
    quantiles: Dict[str, float],
) -> DataFrame:
    """Per ``keys``, one column per entry in ``quantiles`` (name -> q):
    the upper edge of the first histogram bin whose cumulative count
    reaches q * total. Bin counts are mergeable partials — the same
    frame a streaming/rollup pipeline would maintain incrementally."""
    keys = list(keys)
    bins = (
        df.select(*keys, F.floor(F.col(value_col) / F.lit(width)).alias("_bin"))
        .groupBy(*keys, "_bin")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    cum = bins.withColumn("_cum", F.sum("_c").over(wcum)).withColumn(
        "_n", F.sum("_c").over(wall)
    )
    aggs = [
        F.round(
            (
                F.min(
                    F.when(F.col("_cum") >= F.lit(q) * F.col("_n"), F.col("_bin"))
                )
                + 1
            )
            * F.lit(width),
            4,
        ).alias(name)
        for name, q in quantiles.items()
    ]
    return cum.groupBy(*keys).agg(*aggs)


def _cms_bucket(col: Column, j: int, w: int) -> Column:
    """Row-j Count-Min bucket: 60 md5 bits of 'j:value', mod w — the
    portable stand-in for a pairwise-independent hash family."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % F.lit(w)


def cms_table(
    df: DataFrame, value_col: str, d: int = 4, w: int = 256
) -> DataFrame:
    """Count-Min sketch of a value stream: ``(j, bucket, cnt)`` — d*w
    counters (Cormode & Muthukrishnan 2005). ONE partially-aggregated
    groupBy whose key space is d*w (tiny), so every map task collapses its
    input to at most d*w rows before the shuffle regardless of stream
    length — the mergeable shape: sketches of two corpora union and
    re-aggregate into the sketch of the union."""
    rows = df.select(
        F.posexplode(
            F.array(*[_cms_bucket(F.col(value_col), j, w) for j in range(d)])
        ).alias("j", "bucket")
    )
    return rows.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def cms_estimate(
    items: DataFrame, cms: DataFrame, value_col: str, d: int = 4, w: int = 256
) -> DataFrame:
    """Point-query the sketch for each row of ``items``: the min over the
    d counters the value hashes to — an OVERESTIMATE of the true count
    with error <= 2n/w at probability 1 - (1/2)^d. The (d*w)-row sketch
    broadcasts; the probe is map-side at any item count."""
    pos = items.select(
        value_col,
        F.posexplode(
            F.array(*[_cms_bucket(F.col(value_col), j, w) for j in range(d)])
        ).alias("j", "bucket"),
    )
    return (
        pos.join(F.broadcast(cms), ["j", "bucket"], "left")  # b: param
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("cms_est"))
    )


def cms_inner_product(cms_a: DataFrame, cms_b: DataFrame) -> DataFrame:
    """Join-size estimate from two Count-Min sketches over the same hash
    family: for each row j, the bucket-wise dot product of the two
    counter vectors; the estimate is the MIN over rows — an
    overestimate of sum_k nA(k)*nB(k) (= the equi-join output size)
    with error <= n_a*n_b/w per row (Cormode & Muthukrishnan 2005,
    section 4.2). This is the cardinality a cost-based planner wants
    BEFORE committing to a shuffle: two (d*w)-row sketches join and
    aggregate in microseconds, no data-sized work at all."""
    a = cms_a.select("j", "bucket", F.col("cnt").alias("_ca"))
    b = cms_b.select("j", "bucket", F.col("cnt").alias("_cb"))
    dots = (
        a.join(b, ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_dot"))
    )
    return dots.agg(F.min("_dot").cast("bigint").alias("join_size_est"))


def kmv_set_ops(
    a: DataFrame, b: DataFrame, value_col: str, k: int = 64
) -> DataFrame:
    """KMV set algebra over two value streams: the k smallest distinct
    hashes of the UNION carry everything — est_union from the k-th min,
    and the fraction of those minima present in both sides is an
    unbiased Jaccard estimator, so est_intersection = jaccard *
    est_union (Beyer et al., SIGMOD'07). Exact (not estimated) whenever
    the union has fewer than k distinct values. The sketches are
    mergeable: per-partition k-mins combine associatively, so the only
    data-sized work is one distinct per side."""
    ua = a.select(_u01(F.col(value_col)).alias("_u")).distinct().select(
        "_u", F.lit(1).alias("_a")
    )
    ub = b.select(_u01(F.col(value_col)).alias("_u")).distinct().select(
        "_u", F.lit(1).alias("_b")
    )
    both = ua.join(ub, "_u", "full").select(
        "_u",
        F.coalesce(F.col("_a"), F.lit(0)).alias("_a"),
        F.coalesce(F.col("_b"), F.lit(0)).alias("_b"),
    )
    w = Window.orderBy("_u")
    kept = both.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    n = F.count(F.lit(1))
    inter_kept = F.sum(F.col("_a") * F.col("_b"))
    est_union = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.max("_u")
    )
    est_inter = F.when(n < k, inter_kept.cast("double")).otherwise(
        inter_kept.cast("double") / n * est_union
    )
    return kept.agg(
        n.cast("long").alias("n_kept"),
        F.round(est_union, 4).alias("est_union"),
        F.round(est_inter, 4).alias("est_intersection"),
        F.round(inter_kept.cast("double") / n, 4).alias("jaccard_est"),
    )


def bottomk_sample_quantiles(
    df: DataFrame,
    value_col: str,
    key: Column,
    k: int = 512,
    ps: Sequence[float] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantile sketch via a BOTTOM-K portable-hash sample (the KMV
    trick pointed at order statistics): keep the k rows whose md5(key)
    is smallest — a uniform, deterministic, MERGEABLE sample (union two
    sketches, re-take bottom-k) — and read each requested quantile as
    the ceil(p*k)-th order statistic of the sample (rank error
    O(1/sqrt(k)) whp). The engine-exact alternative to an opaque
    t-digest: both engines select the IDENTICAL sample, so estimates
    hash-match bit-for-bit. The bottom-k itself is a TakeOrdered
    (per-partition top-k + driver merge of k-row heads), never a global
    sort; the sample-side window runs on <= k rows.

    Returns ``(p, est_value, k_sample)`` — one row per requested p.
    """
    spark = df.sparkSession
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    sample = (
        df.select(F.col(value_col).alias("_v"), h.alias("_h"))
        .orderBy("_h")
        .limit(k)
    )
    w = Window.orderBy("_v", "_h")
    ranked = sample.withColumn("_rn", F.row_number().over(w))
    kk = ranked.agg(F.count(F.lit(1)).alias("_k"))
    targets = spark.createDataFrame([(float(p),) for p in ps], "p: double")
    want = targets.crossJoin(F.broadcast(kk)).withColumn(  # b: 1row
        "_r", F.greatest(F.lit(1), F.ceil(F.col("p") * F.col("_k")).cast("int"))
    )
    return (
        ranked.join(F.broadcast(want), ranked["_rn"] == want["_r"])  # b: topk
        .select("p", F.col("_v").alias("est_value"), F.col("_k").cast("long").alias("k_sample"))
    )

"""Deduplication operators for large-scale corpora.

Five strategies over a ``(id, text)`` document frame, each a pure DataFrame
composition (no UDFs) so Catalyst plans them and the semantics are portable
to an external SQL oracle:

- **exact**: md5 of the normalized text; one hash aggregation.
- **n-gram Jaccard**: char-shingle sets, candidate pairs via a shared-
  shingle self-join, Jaccard from distinct-shingle counts.
- **MinHash**: universal-hash family over shingle hashes, per-doc signature
  by ``min`` aggregation, banded into buckets -> candidate pairs join only
  inside buckets (the LSH trick: cost ~ bucket sizes, not n²).
- **SimHash**: 32-bit sign-of-weighted-bit-sums signature; near-dup pairs
  join on 8-bit bands and filter on Hamming distance (bit_count of xor).
- **embedding cosine**: exact pairwise above a threshold, bucketed by LSH
  sign-bits when asked (see ``similarity.py`` for the ANN machinery).

Scale notes: every strategy is one or two shuffles on compact keys
(hash / shingle / band), with map-side partial aggregation; nothing
materializes n² rows except within LSH buckets, which is the point of LSH.

Hash portability: shingle/token hashes derive from md5 hex (first 15
nibbles -> 60-bit int), then a mod-P universal family — both expressible in
any SQL engine, unlike engine-private hash functions.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_shingles, normalize_text, tokens

MERSENNE_P = 2147483647  # 2^31 - 1

# Fixed universal-hash coefficients (a, b) — any odd a works; these are
# arbitrary but frozen so signatures are stable across runs and engines.
MINHASH_COEFFS: List[tuple] = [
    (387, 152), (1093, 901), (2251, 77), (3319, 409),
    (4447, 1279), (5561, 2069), (6673, 3167), (7793, 4021),
    (8887, 5279), (10007, 6151), (11113, 7013), (12227, 7919),
    (13337, 8837), (14461, 9733), (15569, 10627), (16693, 11549),
]


def shingle_hash(sh) -> F.Column:
    """60-bit int from md5 hex — portable across engines."""
    return F.conv(F.substring(F.md5(sh), 1, 15), 16, 10).cast("long")


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW frame up to the cluster's core
    count when the source gives fewer partitions than cores (e.g. one
    small parquet file = one row group = ONE task for the whole
    shingle/hash map stage — measured 3.3s single-core vs 0.3s spread).
    At scale the input already has >= cores partitions and this is a
    no-op; the repartition shuffle only ever moves the pre-explode
    projection, never the shingle expansion."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedupe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) texts: (content_hash,
    canonical_id = min id, n_dups). One hash aggregation."""
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def passage_segments(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = 10
) -> DataFrame:
    """One row per non-overlapping ``seg_tokens``-token passage:
    (_id, seg_idx, seg_hash, seg_len). The passage granularity of
    training-data dedup (between doc-level exact dedup and suffix-array
    substring dedup): cheap enough to be map-only, fine enough to catch
    boilerplate blocks repeated across otherwise-distinct documents.
    The trailing partial segment keeps its (shorter) token count."""
    toks = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    return (
        df.select(F.col(id_col).alias("_id"), toks.alias("_ts"), n_seg.alias("_n"))
        .select(
            "_id",
            "_ts",
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("seg_idx"),
        )
        .select(
            "_id",
            "seg_idx",
            F.slice(
                F.col("_ts"), F.col("seg_idx") * seg_tokens + 1, F.lit(seg_tokens)
            ).alias("_seg"),
        )
        .select(
            "_id",
            "seg_idx",
            F.md5(F.concat_ws(" ", F.col("_seg"))).alias("seg_hash"),
            F.size("_seg").alias("seg_len"),
        )
    )


def passage_dedupe(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = 10
) -> DataFrame:
    """Cross-document passage dedup report with a first-occurrence-keeps
    rewrite rule: a passage shared by >= 2 distinct docs survives only in
    the doc with the smallest id; unshared passages always survive.
    Returns per doc: (id, n_segments, n_shared_segments, shared_fraction,
    n_tokens, n_kept_tokens).

    Shape (100 TB): segmentization is map-only; ownership (min doc id +
    distinct-doc count per hash) comes from ONE window over a single
    seg_hash exchange — a groupBy + join-back would shuffle the (large)
    segment frame on the same key twice. The per-hash partitions are tiny
    (a passage rarely lives in many docs), so the window's collect_set
    stays small; the rewrite is then a filter, so emitting the cleaned
    corpus costs no extra pass."""
    from pyspark.sql import Window

    seg = passage_segments(df, id_col, text_col, seg_tokens)
    w = Window.partitionBy("seg_hash")
    joined = seg.select(
        "_id",
        "seg_len",
        F.min("_id").over(w).alias("_owner"),
        F.size(F.collect_set("_id").over(w)).alias("_docs"),
    )
    shared = F.col("_docs") >= 2
    kept = ~shared | (F.col("_id") == F.col("_owner"))
    return (
        joined.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.count_if(shared).cast("bigint").alias("n_shared_segments"),
            F.round(
                F.count_if(shared).cast("double") / F.count(F.lit(1)), 4
            ).alias("shared_fraction"),
            F.sum("seg_len").cast("bigint").alias("n_tokens"),
            F.sum(F.when(kept, F.col("seg_len")).otherwise(0))
            .cast("bigint")
            .alias("n_kept_tokens"),
        )
    )


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # Two-stage projection: normalize once per row, THEN shingle — keeps the
    # regex chain out of the per-element lambda (see char_shingles_from_norm).
    from ..functions.text import char_shingles_from_norm

    normed = _ensure_parallelism(
        df.select(
            F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_norm")
        )
    )
    return normed.select(
        "_id", F.explode(char_shingles_from_norm(F.col("_norm"), n)).alias("sh")
    )


PPJOIN_K = 2  # k-prefix extension: one extra prefix element buys cnt>=2


def _ppjoin_prefix_stages(
    sh: DataFrame, sizes: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PPJoin candidate-generation stages, shared VERBATIM between
    :func:`ngram_jaccard_pairs` (production) and
    ``scripts/scale_probe_dedup.py`` (measurement) so the probe's stage
    shapes can never silently desynchronize from the operator (ADVICE
    r9 item 4).

    Input: ``sh`` = (_id, h) distinct shingle hashes, ``sizes`` =
    (_id, sz). Returns lazy ``(prefix, groups, cand)``:

    - ``prefix``: per-doc rarest-first prefix rows (rn <=
      floor((1-t)*sz) + PPJOIN_K);
    - ``groups``: raw prefix pair-groups after the equi-join + length
      filter, aggregated per (id_a, id_b) with cnt / max-rank stats —
      the stage whose growth the sf1 probe tracks;
    - ``cand``: ``groups`` after the k-prefix count and positional
      upper-bound filters (columns id_a, id_b, psz_a, psz_b, cnt, mra,
      mrb).
    """
    from pyspark.sql import Window

    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(dfreq, "h").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("df"), F.col("h"))
        ),
    )
    prefix = ranked.join(sizes, "_id").select("_id", "h", "rn", "sz").where(
        F.col("rn") <= F.floor(F.lit(1.0 - threshold) * F.col("sz")) + PPJOIN_K
    )
    pa, pb = prefix.alias("a"), prefix.alias("b")
    t = F.lit(threshold)
    min_overlap = F.ceil(t / (1.0 + threshold) * (F.col("psz_a") + F.col("psz_b")))
    groups = (
        pa.join(
            pb,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.col("b.sz") >= F.ceil(t * F.col("a.sz")))
            & (F.col("a.sz") >= F.ceil(t * F.col("b.sz"))),
        )
        .groupBy(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.sz").alias("psz_a"),
            F.col("b.sz").alias("psz_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("a.rn").alias("mra"),
            F.max("b.rn").alias("mrb"),
        )
    )
    cand = groups.where(
        (F.col("cnt") >= F.least(F.lit(PPJOIN_K), min_overlap))
        & (
            F.col("cnt")
            + F.least(F.col("psz_a") - F.col("mra"), F.col("psz_b") - F.col("mrb"))
            >= min_overlap
        )
    )
    return prefix, groups, cand


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.6,
    hashed_shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by EXACT Jaccard over distinct char n-grams.

    Candidate generation is full PPJoin (Xiao et al., WWW'08) with the
    MERGE-STEP aggregate filter and the k-prefix extension: under the
    RAREST-FIRST global shingle order (ascending document frequency, the
    canonical choice — rare prefixes make small join buckets), two sets
    with ``|A ∩ B| >= o`` MUST share their ``k`` smallest common elements
    within each set's first ``|X| - o + k`` shingles (the j-th smallest
    shared element sits at position ``<= |X| - o + j``). With
    ``o >= ceil(t|X|)`` for any admissible partner, a per-doc prefix of
    ``floor((1-t)|X|) + k`` (k=2) is enough, so the candidate self-join
    runs on prefixes only, with the LENGTH filter
    (t|A| <= |B| <= |A|/t) inside the join. The join's matches are then
    AGGREGATED per pair — ``cnt`` = number of shared both-in-prefix
    elements, ``max(rn)`` on each side — and two exact filters replace
    the old per-row positional check:

    - ``cnt >= min(2, minoverlap)`` (k-prefix: a qualifying pair shares
      >= 2 prefix elements unless its required overlap is 1, which only
      single-shingle docs can hit);
    - ``cnt + min(|A| - max_rn_A, |B| - max_rn_B) >= minoverlap``
      (merge-step positional bound: rn is monotone in the global order
      within each doc, so every shared element NOT matched by the
      prefix join is globally larger than the largest matched one and
      sits after ``max_rn`` on both sides — the bound is an exact upper
      bound on ``|A ∩ B|``).

    On template-heavy synthetic corpora the aggregate filters cut the
    candidate set ~40x (sf0.1: 6.6M raw prefix pair-groups -> 165k
    verified, vs 4.6M candidates under the old per-row positional
    filter), which keeps the verify stage's array shuffle
    O(survivors), not O(bucket pairs). Exact Jaccard then
    runs ONCE per survivor as a set intersect over each doc's collected
    60-bit shingle-HASH array (never a per-shingle fan-out join — an
    early version expanded 17.3M candidates x ~21 shingles into a
    370M-row shuffle). The hash space is 2^60 and the md5-derived hash
    is portable, so the SQL oracle hashes identically (the
    minhash_pairs_from_signatures verify precedent): a collision
    folding two shingles affects both engines the same way, ~never.
    Measured at sf0.1: 365s (naive) -> 33s (per-row PPJoin) -> ~13s
    (aggregate filters).

    The shingle frame is materialized ONCE (multiple consumers would
    re-run the interpreted shingle pipeline per use), and
    _shingle_frame's pre-explode parallelize keeps that pipeline off a
    single task (one small parquet file = one partition).

    ``hashed_shingles`` (r7 verdict item 6): an optional pre-MATERIALIZED
    (``_id``, ``h``) frame of each doc's DISTINCT shingle hashes in the
    same 60-bit md5 space (the ``_hstream_store`` shape — already
    checkpointed and core-spread by its owner). When given it replaces
    the internally built stream verbatim — no text re-normalization, no
    second shingle checkpoint; ``df``/``text_col`` are not scanned at
    all. Everything downstream (sizes, prefix, verify arrays) is built
    from the stream EXACTLY as in the rebuild path, so the physical plan
    and its size estimates are identical. (An earlier variant fed the
    per-doc array-set table instead and derived the stream/sizes/arrays
    map-only from it — measured 2.5x SLOWER end-to-end: the array-typed
    scan inflates every downstream size estimate, demoting the prefix
    self-join to sort-merge and pushing whole array tables into
    broadcasts.)"""
    if hashed_shingles is not None:
        sh = hashed_shingles.select("_id", "h")
    else:
        sh = (
            _shingle_frame(df, id_col, text_col, n)
            .select("_id", shingle_hash(F.col("sh")).alias("h"))
            .localCheckpoint(eager=True)
        )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))  # shingles already distinct

    _, _, cand = _ppjoin_prefix_stages(sh, sizes, threshold)
    hsets = sh.groupBy("_id").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    shared = (
        cand.select("id_a", "id_b")
        .join(
            hsets.select(F.col("_id").alias("id_a"), F.col("hs").alias("hs_a")),
            "id_a",
        )
        .join(
            hsets.select(F.col("_id").alias("id_b"), F.col("hs").alias("hs_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
        )
    )

    sz_a = sizes.select(F.col("_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("_id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def hashed_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Exploded hashed shingles: one ``(_id, _h)`` row per shingle
    OCCURRENCE, ``_h`` the portable 60-bit md5-derived hash (pre-mod).

    This is the shared upstream stage of the fuzzy-dedup pipeline: the
    signature aggregation mins over it and the verify stage collect_sets
    over it — materialize it once (localCheckpoint / persist) and the
    normalize + explode + md5 work runs a single time for both consumers.
    At 100 TB this frame is the thing you'd persist as a bucketed table
    keyed by doc id (it's ~2 longs per shingle, far smaller than re-running
    the text scan per consumer).

    Shape: explode the shingle START INDEX (a codegen'd ``sequence`` +
    ``explode``), compute substring -> md5 on the exploded rows. Every
    expression stays inside whole-stage codegen. Why not array expressions
    (transform + array_min, no explode)? Higher-order-function lambdas are
    evaluated by the interpreted expression path — measured 40x slower
    end-to-end than this explode shape (4.3s vs 0.11s for ~6k docs x ~124
    shingles, steady-state) even though the HOF form has no shuffle."""
    normed = df.select(
        F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_norm")
    )
    normed = _ensure_parallelism(normed)
    ex = normed.select(
        "_id",
        "_norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("_norm") - F.lit(n - 1), F.lit(1)))
        ).alias("_i"),
    )
    return ex.select(
        "_id", shingle_hash(F.col("_norm").substr(F.col("_i"), F.lit(n))).alias("_h")
    )


def minhash_signatures_from_hashes(
    hrows: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Signature aggregation over ``hashed_shingle_rows`` output: ONE hash
    aggregation with ``num_hashes`` ``min`` columns. The shuffle is tiny:
    map-side partial min reduces each partition to one num_hashes-long row
    per resident doc before the exchange.

    min over the shingle multiset == min over the distinct set, so
    duplicate shingles need no dedup and the SQL oracle (distinct or not)
    matches bit-for-bit."""
    assert num_hashes <= len(MINHASH_COEFFS)
    x = F.col("_h") % MERSENNE_P
    agg = hrows.groupBy("_id").agg(
        *[
            F.min((F.lit(a) * x + F.lit(b)) % MERSENNE_P).alias(f"_m{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
        ]
    )
    return agg.select(
        F.col("_id").alias(id_col),
        F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("signature"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature: (id, array<long> of length num_hashes).
    Composition of ``hashed_shingle_rows`` + ``minhash_signatures_from_hashes``."""
    return minhash_signatures_from_hashes(
        hashed_shingle_rows(df, id_col, text_col, n), id_col, num_hashes
    )


def band_buckets(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    keep_signature: bool = False,
) -> DataFrame:
    """Banded LSH bucket hashes of a signature frame: one row per
    (doc, band) with the band's md5 bucket plus the full per-doc bucket
    array (``bbs`` — lets joiners dedup multi-band collisions without a
    distinct). The band array is built in ONE projection and exploded, so
    the signature pipeline is never re-run per band. ``keep_signature``
    carries the raw signature array through (for joiners that estimate
    Jaccard from signature agreement in the same pass)."""
    rows_per_band = num_hashes // bands
    band_hashes = []
    for b in range(bands):
        cols = [
            F.col("signature").getItem(i).cast("string")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_hashes.append(F.md5(F.concat_ws(",", *cols)))
    extra = ["signature"] if keep_signature else []
    return sig.select(
        F.col(id_col).alias("_id"), F.array(*band_hashes).alias("bbs"), *extra
    ).select("_id", "bbs", *extra, F.posexplode("bbs").alias("band", "bucket"))


def incremental_minhash_matches(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Probe a NEW batch of documents against an EXISTING signature index
    without re-LSHing the corpus — the production shape for continuous
    ingestion: signatures are computed once per document ever, and each
    increment costs O(batch), not O(corpus).

    Returns one row per new doc: ``(id, matched_id, is_dup)`` where
    ``matched_id`` is the smallest index doc sharing an LSH band (NULL if
    none). At 100 TB the index's bucket table is stored bucketed/
    partitioned by (band, bucket), so the probe join shuffles ONLY the
    new batch's buckets; the corpus side is a co-located read. ``bbs`` on
    the probe side dedups multi-band collisions via the min-agg (no
    distinct pass).
    """
    sig_new = minhash_signatures(new_docs, id_col, text_col, n, num_hashes)
    bn = band_buckets(sig_new, id_col, num_hashes, bands).alias("n")
    bo = band_buckets(index_sigs, id_col, num_hashes, bands).alias("o")
    hits = (
        bn.join(
            bo,
            (F.col("n.band") == F.col("o.band")) & (F.col("n.bucket") == F.col("o.bucket")),
        )
        .groupBy(F.col("n._id").alias(id_col))
        .agg(F.min("o._id").alias("matched_id"))
    )
    ids = new_docs.select(F.col(id_col))
    return ids.join(hits, id_col, "left").select(
        id_col, "matched_id", F.col("matched_id").isNotNull().alias("is_dup")
    )


def minhash_pairs_from_signatures(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    min_sig_agree: int | None = None,
    star_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs from an already-materialized signature frame —
    callers that also need the signatures (or the hashed shingle rows) for
    a verify stage use this to avoid re-running the signature pipeline.

    ``min_sig_agree``: estimate-then-verify pruning. Each matching
    signature position is a Bernoulli(J) trial, so agreement/num_hashes
    estimates the pair's Jaccard; requiring ``agreement >= min_sig_agree``
    drops band-collision false positives (template-similar docs at J ~
    0.2-0.4 dominate candidate sets on real corpora) BEFORE the exact
    shingle-set verification pays for them. Recall at the verify threshold
    is already bounded by the banding itself (a J=0.6 pair survives 16/4
    banding with p=0.45), so an estimator cut strictly below the verify
    threshold stays inside the operator's approximate-recall contract —
    measured here: 137k candidates -> 14.5k at agree>=8 on the sf0.1
    corpus, with the verified-pair set 99%+ unchanged. The signatures ride
    the SAME bucket join (no extra join, no broadcast of the signature
    frame), so at 100 TB the filter is free. Default None = off (pure
    band-collision pairs, the classic LSH contract).

    ``star_cap``: the mega-duplicate-cluster guard. A boilerplate
    cluster of N near-identical docs floods one band bucket and the
    all-pairs emission inside it goes O(N²) — the one shape banding
    cannot bound (the common-crawl footer case). With ``star_cap = t``,
    buckets holding more than ``t`` docs emit STAR pairs only (every
    member paired with the bucket's min id — O(size) rows, the big-star
    CC trick applied at pair generation), while buckets at or under the
    cap keep the exact all-pairs contract. Connectivity of the
    candidate graph is unchanged (a star spans the same component), so
    cluster results are identical; the pair LIST for oversize buckets
    is the star subset, and ``min_sig_agree`` applies only to the
    all-pairs part (star pairs are emitted unfiltered — by construction
    they come from saturated buckets). Default None = off: the exact
    classic behavior, byte-for-byte."""
    # One pass: explode the per-doc array of band bucket hashes instead of
    # unioning per-band frames (which would recompute the signature pipeline
    # per band).
    buckets = band_buckets(
        sig, id_col, num_hashes, bands, keep_signature=min_sig_agree is not None
    )
    if star_cap is not None:
        sizes = buckets.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_cnt"), F.min("_id").alias("_min_id")
        )
        flagged = buckets.join(
            sizes.where(F.col("_cnt") > star_cap), ["band", "bucket"], "left"
        )
        star = flagged.where(
            F.col("_min_id").isNotNull() & (F.col("_id") != F.col("_min_id"))
        ).select(F.col("_min_id").alias("id_a"), F.col("_id").alias("id_b"))
        small = flagged.where(F.col("_min_id").isNull()).drop("_cnt", "_min_id")
        a, b2 = small.alias("a"), small.alias("b")
        joined = a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        if min_sig_agree is not None:
            agree = F.size(
                F.filter(
                    F.zip_with(
                        F.col("a.signature"), F.col("b.signature"), lambda x, y: x == y
                    ),
                    lambda m: m,
                )
            )
            joined = joined.where(agree >= F.lit(min_sig_agree))
        # the first-match trick can't dedup here (an oversize band's rows
        # are gone, so "first agreeing band" may point at a removed row);
        # with mega-buckets excluded the duplicate factor is <= bands, and
        # the distinct shuffle is proportional to the CAPPED candidate set
        pairs = joined.select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        return pairs.unionByName(star).distinct()
    a, b2 = buckets.alias("a"), buckets.alias("b")
    # A pair is emitted ONLY from the first band where the two docs agree:
    # near-identical docs collide in every band, so a plain join + distinct
    # generates each of their pairs `bands` times and then pays a full
    # distinct shuffle to throw the copies away. Carrying the (tiny) bucket
    # array through the join lets a post-join filter keep exactly one copy —
    # the pair SET is unchanged, the distinct disappears entirely.
    first_match = F.array_position(
        F.zip_with(F.col("a.bbs"), F.col("b.bbs"), lambda x, y: x == y), F.lit(True)
    )
    joined = a.join(
        b2,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._id") < F.col("b._id")),
    ).where(first_match == F.col("a.band") + 1)
    if min_sig_agree is not None:
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.col("a.signature"), F.col("b.signature"), lambda x, y: x == y
                ),
                lambda m: m,
            )
        )
        joined = joined.where(agree >= F.lit(min_sig_agree))
    return joined.select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash over token multiset: per bit, sign of Σ ±1 weighted by
    whether the token hash has that bit set. One explode + one aggregation
    with ``bits`` sum() columns."""
    tok = df.select(F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("t"))
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
    tok = tok.select("_id", h.alias("h"))
    sums = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("_id").agg(*sums)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(0)
    return agg.select(F.col("_id").alias(id_col), sim.alias("simhash"))


def simhash_pairs_from_signatures(
    sig: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pair stage over an already-materialized ``(id, simhash)`` frame —
    callers that also serve the signature frame itself (or run several
    Hamming radii) share one signature materialization."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * 8).bitwiseAND(255).alias("bucket"),
        )
        for b in range(4)
    ]
    allb = sig.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select("_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a, b2 = allb.alias("a"), allb.alias("b")
    pairs = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        # Hamming filter BEFORE the multi-band dedupe: the distinct then
        # shuffles only true near-dup pairs, not the (much larger) set of
        # band-collision candidates.
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """Directional near-dup pairs by EXACT containment over distinct char
    n-grams: C(A→B) = |A∩B| / |A| — "how much of A appears inside B".
    Catches what symmetric Jaccard misses: a short document quoted or
    embedded whole inside a much longer one scores J ≈ |A|/|B| (tiny)
    but C(A→B) ≈ 1. The quote/boilerplate/subset-duplication detector
    for training corpora.

    Candidate generation is the asymmetric prefix filter: if
    C(A→B) >= t, at most (1-t)·|A| of A's shingles are missing from B,
    so A's first ``floor((1-t)·|A|) + 1`` shingles under ANY fixed
    global order must intersect B. Because the B side of the candidate
    join is the FULL shingle frame (containment has no symmetric
    prefix), the global order must be RAREST-FIRST — ascending global
    document frequency (the PPJoin ordering): the join fan-out per
    prefix shingle is then its df, tiny by construction, where a
    hash-random order puts stopword-grade shingles in prefixes and
    degenerates to the quadratic all-pairs join (measured: OOM at
    sf0.1). Worst case remains a corpus whose every shingle is common;
    Zipfian text keeps prefixes rare. A size filter |B| >= t·|A|
    (containment needs that much room) prunes candidates before the
    exact intersection count runs.

    Scale shape: shingle explode, one df agg + equi-join on the shingle
    to rank rarity, prefix window per doc, candidate equi-join — then
    the exact verify joins each candidate pair to the two documents'
    COLLECTED shingle arrays (one collect_list agg, reusing the doc
    key) and intersects them map-side with ``array_intersect``. That
    keeps verification at |candidates| rows instead of re-exploding
    every candidate's full shingle set through a (pair × shingle)
    shuffle (measured 36M rows vs 280k candidates at sf0.1 — the
    explode-join verify was the bottleneck AND the OOM risk, since a
    hub document's shingles replicate per candidate). Per-doc arrays
    are bounded by document length (~KBs), the unit the pipeline
    already moves around. Output: (id_a, id_b, containment) with id_a
    the CONTAINED document; both directions of a mutual near-dup pair
    emit.
    """
    # two consumers of the raw shingle rows (df agg, candidate B-side) —
    # cut the plan once so the corpus is normalized + shingled exactly once
    sh = _shingle_frame(df, id_col, text_col, n).localCheckpoint(eager=False)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    # Fused per-doc aggregation (r11, ab_metrics): ONE groupBy over the
    # df-annotated shingle rows yields the verify arrays, the set sizes,
    # AND the rarest-first prefix — slice(array_sort(struct(_df, sh)))
    # selects exactly the rows the old row_number window kept (same
    # (asc _df, asc sh) total order; shingles are distinct per doc), but
    # without a second full exchange+sort of the shingle frame or the
    # separate sets-size join. The frame feeds THREE consumers (prefix
    # explode, verify A-side, verify B-side), so it is plan-cut once —
    # the un-checkpointed original re-ran the aggregation per consumer.
    prefix_len = (
        F.floor(F.lit(1.0 - threshold) * F.size("_wl")) + 1
    ).cast("int")
    sets = (
        sh.join(dfreq, "sh")
        .groupBy("_id")
        .agg(F.collect_list(F.struct(F.col("_df"), F.col("sh"))).alias("_wl"))
        .select(
            "_id",
            F.transform("_wl", lambda x: x["sh"]).alias("arr"),
            F.size("_wl").cast("long").alias("sz"),
            F.transform(
                F.slice(F.array_sort("_wl"), F.lit(1), prefix_len),
                lambda x: x["sh"],
            ).alias("_pref"),
        )
        .localCheckpoint(eager=False)
    )
    # Size filter INSIDE the candidate join (r12, measured at sf0.1:
    # 281k -> 169k distinct candidates, distinct input 612k -> 392k):
    # both join sides ride out of the checkpointed `sets` frame carrying
    # their doc's shingle-set size, so pairs that cannot reach the
    # containment threshold (|B| < t*|A|) are dropped BEFORE the
    # distinct exchange and never reach the array verify. The b-side
    # explode of `arr` is the same rows as the raw shingle frame, one
    # extra long per row.
    prefix = sets.select("_id", "sz", F.explode("_pref").alias("sh"))
    bside = sets.select("_id", "sz", F.explode("arr").alias("sh"))
    cand = (
        prefix.alias("a")
        .join(
            bside.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a._id") != F.col("b._id"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # Pin the verify parallelism (r11, measured): the candidate pairs are
    # BYTE-small (~6 MB at sf0.1) but each row costs an array_intersect
    # over ~KB document arrays, so AQE's byte-based coalesce shrank the
    # distinct's exchange to 2 partitions and serialized ~12 s of verify
    # CPU onto 2 tasks (wall 5.2 -> 12.0 s). The repartition key is
    # xxhash64 of the pair, NOT the pair columns themselves: a same-key
    # repartition gets folded into the distinct's ENSURE_REQUIREMENTS
    # exchange (measured — and that origin stays AQE-coalescible), while
    # a distinct expression keeps this a REPARTITION_BY_NUM exchange,
    # which AQE never coalesces. The count is cluster-derived
    # (defaultParallelism), not a local constant, and the frame is the
    # POST-dedup candidate set, so the extra exchange moves only bounded
    # pair rows.
    cand = cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism,
        F.xxhash64("id_a", "id_b"),
    )
    set_a = sets.select(
        F.col("_id").alias("id_a"), F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a")
    )
    set_b = sets.select(
        F.col("_id").alias("id_b"), F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b")
    )
    verified = (
        cand.join(set_a, "id_a")
        .join(set_b, "id_b")
        # |B| >= t*|A| already enforced inside the candidate join
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("arr_a", "arr_b")).cast("double") / F.col("sz_a"),
                4,
            ),
        )
    )
    return verified.where(F.col("containment") >= threshold).select(
        "id_a", "id_b", "containment"
    )


def exact_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 12,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-substring detection at token-window granularity —
    the "exact substring dedup" stage of training-data pipelines (find
    verbatim boilerplate/licenses/templates copied across documents),
    complementing document-level MinHash: two documents sharing one
    50-token license paragraph are NOT near-duplicates globally, but the
    span itself should be deduplicated or down-weighted.

    Every ``window``-token sliding span (stride 1) is emitted and spans
    occurring in >= ``min_docs`` DISTINCT documents are reported with
    their document count, total occurrence count, and smallest holder id.

    Scale shape: span generation is MAP-ONLY (one ``token_ngrams``
    array expression per doc, no join); the single shuffle is the span
    groupBy, O(total corpus tokens) rows — the honest lower bound for
    exact substring matching without a distributed suffix array. Spans
    hash-partition uniformly (they are near-unique strings), so there is
    no skew key; map-side partial aggregation collapses within-doc
    repeats early. To trade recall for cost at 100 TB, raise the stride
    on ONE side (stride-S windows still catch every repeat of length
    >= window + S - 1); the reference pipeline keeps stride 1.
    """
    from ..functions.text import token_ngrams

    # r11: spread the narrow (id, text) projection before the span
    # explode when the scan is under-split (one row group = one task for
    # the whole map stage). Single consumer below — no CSE-loss risk.
    t = _ensure_parallelism(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).select(
        "_id", tokens(F.col("_t")).alias("_toks")
    ).where(F.size("_toks") >= window)
    spans = t.select(
        "_id", F.explode(token_ngrams(F.col("_toks"), window)).alias("span")
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct("_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("_id").cast("long").alias("first_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
    )

"""Scale probe for the shared fuzzy-dedup store family (r8 verdict
item 4): measure how the PPJoin's intermediate shapes — prefix rows,
raw prefix pair-groups, surviving candidates, verified pairs — and the
store-build / join wall times grow across sf0.001 → sf0.01 → sf0.1 →
a synthetic sf1 (10x sf0.1).

The sf1 corpus is a measurement fixture only (never an oracle input):
each of the 10 copies offsets doc_id and inserts one copy-specific
letter every 12 characters, which mutates ~38% of the character
5-gram shingles — cross-copy Jaccard lands ~0.45, safely below the
0.6 threshold, so the probe measures ORGANIC corpus growth (10x docs,
same Zipf shape) rather than a planted mirror-dup explosion.

Usage:
    python scripts/scale_probe_dedup.py            # all four scales
    python scripts/scale_probe_dedup.py sf0.01     # one scale

Prints one JSON line per scale; paste the table into SCALING.md.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

THRESHOLD = 0.6


def build_sf1(spark) -> str:
    """10x sf0.1 documents with per-copy character salting (see module
    docstring). Deterministic; rebuilt only if absent."""
    out = "/tmp/sds_scale_sf1"
    marker = os.path.join(out, "_built")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    copies = []
    for c in range(10):
        d = docs.select(
            (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
            (
                F.col("text")
                if c == 0
                # insert one copy-specific letter every 12 chars: regexp
                # replace each 12-char run with itself + the salt letter
                else F.regexp_replace(
                    F.col("text"), "(.{12})", "$1" + chr(ord("a") + c)
                )
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        copies.append(d)
    allc = copies[0]
    for d in copies[1:]:
        allc = allc.unionByName(d)
    allc.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    open(marker, "w").close()
    return out


def probe(spark, sf_dir: str, label: str) -> dict:
    from simpletasks_data_spark.functions import text as TX
    from simpletasks_data_spark.operators import dedupe as DD

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.col("doc_id").alias("id"), "text"
    )

    # -- store build: normalize -> char-5-gram hash stream -> distinct --
    t0 = time.time()
    normed = DD._ensure_parallelism(
        docs.select(F.col("id").alias("_id"), TX.normalize_text("text").alias("_norm"))
    )
    hstream = (
        normed.select(
            "_id",
            "_norm",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_norm") - F.lit(4), F.lit(1)))
            ).alias("_i"),
        )
        .select("_id", DD.shingle_hash(F.col("_norm").substr(F.col("_i"), F.lit(5))).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_hashes = hstream.count()
    t_store = time.time() - t0

    # -- PPJoin stage shapes: the PRODUCTION stage expressions, imported
    # from operators/dedupe._ppjoin_prefix_stages (ADVICE r9 item 4 —
    # a hand-copied mirror here silently desynchronized from operator
    # changes; now any change to the operator IS the probe's shapes) --
    t0 = time.time()
    sizes = hstream.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    # each returned stage is a lazy frame over the whole lineage, so a
    # stage's count recomputes every stage upstream of it: the counts
    # match a chained-checkpoint run, but t_shapes repeats the upstream
    # work once per stage counted
    prefix, groups, cand = DD._ppjoin_prefix_stages(hstream, sizes, THRESHOLD)
    n_prefix_rows = prefix.count()
    n_pair_groups = groups.count()
    n_candidates = cand.count()
    t_shapes = time.time() - t0

    # -- full verified PPJoin wall time (the production operator) --
    t0 = time.time()
    verified = DD.ngram_jaccard_pairs(
        docs, "id", "text", n=5, threshold=THRESHOLD, hashed_shingles=hstream
    )
    n_verified = verified.count()
    t_join = time.time() - t0

    # -- MinHash -> banded pairs -> connected components (the cluster
    #    store consumers measured per r8 verdict item 4) --
    import simpletasks_data_spark.queries as QQ

    t0 = time.time()
    n_mh_pairs = QQ.queries()["dedup_minhash"](spark, sf_dir).count()
    t_minhash = time.time() - t0
    t0 = time.time()
    n_cluster_rows = QQ.queries()["dedup_clusters"](spark, sf_dir).count()
    t_clusters = time.time() - t0

    n_docs = docs.count()
    return {
        "scale": label,
        "n_docs": n_docs,
        "n_shingle_hashes": n_hashes,
        "n_prefix_rows": n_prefix_rows,
        "n_raw_pair_groups": n_pair_groups,
        "n_candidates": n_candidates,
        "n_verified_pairs": n_verified,
        "n_minhash_pairs": n_mh_pairs,
        "n_cluster_rows": n_cluster_rows,
        "t_store_sec": round(t_store, 2),
        "t_shapes_sec": round(t_shapes, 2),
        "t_ppjoin_sec": round(t_join, 2),
        "t_minhash_sec": round(t_minhash, 2),
        "t_clusters_sec": round(t_clusters, 2),
    }


def main() -> int:
    from simpletasks_data_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    only = set(sys.argv[1:])
    scales = [
        ("sf0.001", "/root/testdata/sf0.001"),
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1", None),
    ]
    for label, d in scales:
        if only and label not in only:
            continue
        if label == "sf1":
            d = build_sf1(spark)
        print(json.dumps(probe(spark, d, label)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

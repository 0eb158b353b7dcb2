"""DuckDB oracle for the dedup_corpus workload, run as its own process.

    python3 perfbench/oracle.py <sf_dir>

Runs the catalog's ``oracle_sql()`` for each dedup_corpus query over
``<sf_dir>/documents.parquet`` and prints one JSON object mapping each
query to the order-independent hash of its rows. The ``dedup_clusters``
oracle embeds the verified-pairs oracle as a CTE that its recursive step
would re-evaluate per iteration; it is materialized once into a table
first, which gives the same rows in seconds instead of minutes. A separate
process keeps DuckDB's memory out of the benchmark's peak-RSS metric.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())

import duckdb  # noqa: E402

from simpletasks_data_spark import queries as catalog  # noqa: E402
from workloads import DEDUP_QUERIES, frame_hash  # noqa: E402


def oracle_hashes(sf_dir: str) -> dict:
    oracle = catalog.oracle_sql()
    verified = oracle["dedup_minhash_verified"].strip()
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    con.sql(f"CREATE TEMP TABLE verified_pairs AS {verified}")
    hashes = {}
    for q in DEDUP_QUERIES:
        sql = oracle[q].replace(verified, "SELECT * FROM verified_pairs")
        hashes[q] = frame_hash(con.sql(sql).df())
    con.close()
    return hashes


if __name__ == "__main__":
    print(json.dumps(oracle_hashes(sys.argv[1])))

"""The benchmark workloads: how each calls the engine and checks it.

Every workload has the same shape:

- ``generate(work_dir, seed, scale)``: write the inputs (``gen.py``) and
  return the manifest;
- ``reset(m)``: untimed, put the target back to its starting state;
- ``call(spark, m, span)``: the timed call; ``span(name)`` is a context
  manager that the traced run uses to mark the benchmark-side steps;
- ``check(m, out)``: untimed, the list of problems with the call's
  output (empty when correct);
- ``tamper(m)``: corrupt the committed output, to prove that ``check``
  notices (smoke tests only);
- ``source_rows`` / ``committed_bytes(m)``: for the throughput and
  write-amplification metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from typing import Callable, List

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from simpletasks_data_spark import queries as catalog
from simpletasks_data_spark.mapping import Field, Mapping
from simpletasks_data_spark.plans.history import HistorySpec
from simpletasks_data_spark.plans.target import TargetTable
from simpletasks_data_spark.plans.task import ImportJob
from simpletasks_data_spark.sources.base import ImportMode
from simpletasks_data_spark.sources.csv import CsvSource
from simpletasks_data_spark.sources.table import TableSource
from pyspark.sql import types as T

ORDERS_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    # TIMESTAMP, not TIMESTAMP_NTZ: Mapping.auto() has no parser for NTZ
    T.StructField("o_orderdate", T.TimestampType()),
    T.StructField("o_orderpriority", T.StringType()),
    T.StructField("o_comment", T.StringType()),
])
HISTORY_SCHEMA = T.StructType([
    T.StructField("model_id", T.LongType()),
    T.StructField("old_o_orderstatus", T.StringType()),
    T.StructField("new_o_orderstatus", T.StringType()),
    T.StructField("old_o_totalprice", T.DoubleType()),
    T.StructField("new_o_totalprice", T.DoubleType()),
    T.StructField("date", T.TimestampType()),
])
DEDUP_QUERIES = ("dedup_clusters", "pipeline_pretraining_corpus")


class DeltaMapping(Mapping):
    """The CSV delta, by position: parsers inferred from the target schema;
    history on status and price, the order date insert-only, the comment
    fill-if-null."""

    def __init__(self) -> None:
        super().__init__()
        self.o_orderkey = self.auto()
        self.o_custkey = self.auto()
        self.o_orderstatus = self.auto(keep_history=True)
        self.o_totalprice = self.auto(keep_history=True)
        self.o_orderdate = self.auto(should_update=False)
        self.o_orderpriority = self.auto()
        self.o_comment = self.auto(should_update_only_if_null=True)

    def get_key_column_name(self) -> str:
        return "o_orderkey"


class CorrectionMapping(Mapping):
    """The price-correction feed."""

    def __init__(self) -> None:
        super().__init__()
        self.o_orderkey = Field("o_orderkey")
        self.o_totalprice = Field("o_totalprice", keep_history=True)

    def get_key_column_name(self) -> str:
        return "o_orderkey"


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


def data_files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet")) if os.path.isdir(path) else 0


def _read_frame(path: str) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    return df


def _normalize_like(actual: pd.DataFrame, expected: pd.DataFrame) -> pd.DataFrame:
    exp = expected[list(actual.columns)].copy()
    for c in exp.columns:
        if pd.api.types.is_datetime64_any_dtype(actual[c]):
            s = pd.to_datetime(exp[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            exp[c] = s.astype("datetime64[us]")
    return exp


def compare_frames(what: str, actual: pd.DataFrame, expected: pd.DataFrame, key: str) -> List[str]:
    if sorted(actual.columns) != sorted(expected.columns):
        return [f"{what}: columns {sorted(actual.columns)} != {sorted(expected.columns)}"]
    if len(actual) != len(expected):
        return [f"{what}: {len(actual)} rows, expected {len(expected)}"]
    a = actual.sort_values(key).reset_index(drop=True)
    e = _normalize_like(a, expected).sort_values(key).reset_index(drop=True)
    problems = []
    for c in a.columns:
        a_null, e_null = a[c].isna().to_numpy(), e[c].isna().to_numpy()
        both = ~a_null & ~e_null
        same = a_null & e_null
        same[both] = a[c].to_numpy()[both] == e[c].to_numpy()[both]
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            problems.append(f"{what}.{c}: {int((~same).sum())} rows differ, e.g. "
                            f"{key}={a[key][i]}: {a[c][i]!r} != {e[c][i]!r}")
    return problems


def compare_counters(out: dict, expected: dict) -> List[str]:
    res, warnings = out["result"], out["warnings"]
    problems = []
    for k in ("created", "updated", "history_created", "rejected"):
        if res[k] != expected[k]:
            problems.append(f"counter {k}={res[k]}, expected {expected[k]}")
    for i, (got, exp) in enumerate(zip(res["sources"], expected["sources"])):
        if got != exp:
            problems.append(f"source {i} counters {got}, expected {exp}")
    exp_w = [{k: v for k, v in w.items() if v} for w in expected["warnings"]]
    if warnings != exp_w:
        problems.append(f"warn counts {warnings}, expected {exp_w}")
    return problems


def frame_hash(df: pd.DataFrame) -> str:
    """Order-independent hash of a result: columns by name, rows sorted."""
    cols = sorted(df.columns)
    rows = sorted(
        tuple(f"{v:.10g}" if isinstance(v, float) else str(v) for v in r)
        for r in df[cols].itertuples(index=False)
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class MergeIncremental:
    name = "merge_incremental"
    generate = staticmethod(gen.make_merge_incremental)

    def reset(self, m: dict) -> None:
        for live, seeded in ((m["target_dir"], m["seed_target_dir"]),
                             (m["history_dir"], m["seed_history_dir"])):
            shutil.rmtree(live, ignore_errors=True)
            shutil.copytree(seeded, live)

    def call(self, spark, m: dict, span: Callable) -> dict:
        target = TargetTable(ORDERS_SCHEMA, path=m["target_dir"], primary_keys=("o_orderkey",))
        sink = TargetTable(HISTORY_SCHEMA, path=m["history_dir"], primary_keys=("model_id",))
        sources = [
            CsvSource(m["delta_dir"], DeltaMapping(), mode=ImportMode.CREATE_AND_UPDATE,
                      name="delta"),
            TableSource(m["corrections_dir"], CorrectionMapping(), mode=ImportMode.UPDATE,
                        name="corrections", order_col="seq"),
        ]
        spec = HistorySpec(["o_orderstatus", "o_totalprice"], key_column="o_orderkey",
                           fixed_date=m["history_date"])
        job = ImportJob(spark, target, sources=sources, keep_history=True,
                        history_spec=spec, history_sink=sink)
        return {"result": job.run(), "warnings": job.warnings}

    def check(self, m: dict, out: dict) -> List[str]:
        problems = compare_counters(out, m["expected_counters"])
        problems += compare_frames("target", _read_frame(m["target_dir"]),
                                   m["expected_target"], "o_orderkey")
        hist = _read_frame(m["history_dir"])
        stamp = pd.Timestamp(m["history_date"]).tz_convert("UTC").tz_localize(None)
        new = hist[hist["date"] == stamp].drop(columns=["date"])
        if len(hist) - len(new) != m["prior_history_rows"]:
            problems.append(f"history: {len(hist) - len(new)} prior rows, expected {m['prior_history_rows']}")
        return problems + compare_frames("history", new, m["expected_history"], "model_id")

    def tamper(self, m: dict) -> None:
        _drop_one_row(m["target_dir"])

    def committed_bytes(self, m: dict) -> int:
        return dir_bytes(m["target_dir"]) + dir_bytes(m["history_dir"])


class DedupCorpus:
    name = "dedup_corpus"
    generate = staticmethod(gen.make_dedup_corpus)

    def reset(self, m: dict) -> None:
        shutil.rmtree(m["output_dir"], ignore_errors=True)

    def call(self, spark, m: dict, span: Callable) -> dict:
        reg = catalog.queries()
        for q in DEDUP_QUERIES:
            # the query functions are lazy up to their internal eager
            # steps; the write below is the action that materializes them
            with span("queries." + q):
                df = reg[q](spark, m["sf_dir"])
                df.write.mode("overwrite").parquet(os.path.join(m["output_dir"], q))
        return {}

    def check(self, m: dict, out: dict) -> List[str]:
        """The first check compares the results with the catalog's DuckDB
        oracle (``oracle.py``, its own process) and keeps their hashes;
        every later call must reproduce those."""
        got = {q: frame_hash(_read_frame(os.path.join(m["output_dir"], q))) for q in DEDUP_QUERIES}
        if "hashes" not in m:
            proc = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"), m["sf_dir"]],
                stdout=subprocess.PIPE, text=True, check=True,
            )
            m["hashes"] = json.loads(proc.stdout.strip().splitlines()[-1])
        return [f"{q}: rows differ from the DuckDB oracle" for q in DEDUP_QUERIES
                if got[q] != m["hashes"][q]]

    def tamper(self, m: dict) -> None:
        _drop_one_row(os.path.join(m["output_dir"], "dedup_clusters"))

    def committed_bytes(self, m: dict) -> int:
        return dir_bytes(m["output_dir"])


def _drop_one_row(path: str) -> None:
    """Rewrite a parquet directory without its first row."""
    table = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table.slice(1), os.path.join(path, "part-00000.parquet"))


WORKLOADS = {w.name: w for w in (MergeIncremental(), DedupCorpus())}

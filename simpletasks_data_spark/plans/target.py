"""Destination table: snapshot read + atomic overwrite (+ history append).

The reference's destination is a mutable ORM table committed in one
transaction (``/root/reference/simpletasks_data/importtask.py:370``). On
immutable columnar storage the equivalent is snapshot replacement: write the
new image to a temp dir next to the target and atomically swap directories.
(With a transactional table format — Delta/Iceberg — this would be a real
``MERGE INTO``; those jars aren't in this environment, so plain parquet +
swap is the default backend and the swap is the commit point.)

An in-memory variant backs tests and dry-runs: the "table" is just a
DataFrame, and "commit" replaces the handle.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class TargetTable:
    def __init__(
        self,
        schema: T.StructType,
        path: Optional[str] = None,
        df: Optional[DataFrame] = None,
        primary_keys: Sequence[str] = ("id",),
        lengths: Optional[Dict[str, int]] = None,
        defaults: Optional[Dict[str, object]] = None,
        partition_by: Sequence[str] = (),
    ) -> None:
        """``lengths``: declared max length per string column (the analogue
        of ``String(n)`` DDL the reference truncates to, ``mapping.py:591``).
        ``defaults``: columns with DB-side defaults — exempt from the
        non-nullable rejection check (``importtask.py:384-391``)."""
        if path is None and df is None:
            raise ValueError("TargetTable needs a path or a DataFrame")
        self.schema = schema
        self.path = path
        self._df = df
        self.primary_keys = tuple(primary_keys)
        self.lengths = lengths or {}
        self.defaults = defaults or {}
        self.partition_by = tuple(partition_by)

    @property
    def columns(self) -> List[str]:
        return [f.name for f in self.schema.fields]

    def non_nullable_columns(self) -> List[str]:
        """Non-nullable, non-PK, non-defaulted columns — the reject set
        (``importtask.py:52-70, 384-391``)."""
        return [
            f.name
            for f in self.schema.fields
            if not f.nullable and f.name not in self.primary_keys and f.name not in self.defaults
        ]

    def read(self, spark: SparkSession) -> DataFrame:
        if self._df is not None:
            return self._df
        if os.path.isdir(self.path) and any(
            not e.startswith((".", "_")) for e in os.listdir(self.path)
        ):
            return spark.read.schema(self.schema).parquet(self.path)
        return spark.createDataFrame([], self.schema)

    def overwrite(self, df: DataFrame) -> None:
        """Commit the new snapshot. Parquet backend: write temp + swap —
        readers see either the old or the new snapshot, never a half-write."""
        if self.path is None:
            self._df = df
            return
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(tmp)
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

"""JSON-lines source — the de-facto interchange format for LLM corpora.

The reference has no JSON source (its surface is CSV / table / generator,
``importsource.py``); this extends the same ``Source`` contract to JSONL
so a corpus dump imports through the identical merge pipeline.

Scale notes: the schema is REQUIRED — Spark's JSON schema inference is a
full extra pass over the data (unacceptable at 100 TB); a declared schema
makes the read single-pass and lets Catalyst prune unreferenced fields at
the scan. Parsing runs PERMISSIVE: a malformed line yields a row with all
fields NULL (captured in ``_corrupt_record`` when the schema declares
it), which the merge routes to ``ignored_missing_id`` instead of aborting
— the reference's tolerate-and-count error policy, applied to whole
records.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..mapping import Mapping
from .base import ImportMode
from .table import TableSource


class JsonlSource(TableSource):
    """Read newline-delimited JSON with an explicit schema through the
    standard source contract. ``order_col`` names a field holding the
    record's position/sequence if last-wins order matters; otherwise the
    full-row hash gives an arbitrary-but-deterministic order (JSONL
    corpora are keyed, so cross-file order is rarely semantic)."""

    def __init__(
        self,
        path: str,
        mapping: Mapping,
        schema: T.StructType,
        mode: ImportMode = ImportMode.CREATE_AND_UPDATE,
        name: Optional[str] = None,
        order_col: Optional[str] = None,
        options: Optional[dict] = None,
    ) -> None:
        super().__init__(df=None, mapping=mapping, mode=mode, name=name, order_col=order_col)  # type: ignore[arg-type]
        self.path = path
        self.schema = schema
        self.options = options or {}

    def _load_frame(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.schema(self.schema)
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.json(self.path)

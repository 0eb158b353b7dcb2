"""XML source — feeds/sitemaps/dumps (Wikipedia-style) into the merge.

The reference's surface is CSV / table / generator (``importsource.py``);
this extends the same ``Source`` contract to XML via Spark 4's NATIVE xml
data source (the incorporated spark-xml), so an XML dump imports through
the identical merge pipeline as every other source.

Scale notes: ``rowTag`` streaming means files are split on record
boundaries and parsed in parallel — no DOM, no whole-file
materialization; the REQUIRED explicit schema avoids the inference pass
(a full extra read at 100 TB) and lets Catalyst prune unreferenced
elements at the scan. Malformed records follow the PERMISSIVE policy:
all-NULL rows route to the merge's ignored/error counters instead of
aborting — the reference's tolerate-and-count behavior at record scope.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..mapping import Mapping
from .base import ImportMode
from .table import TableSource


class XmlSource(TableSource):
    """Read XML records (one per ``row_tag`` element) with an explicit
    schema through the standard source contract. ``order_col`` names a
    field holding the record's sequence when last-wins order matters;
    otherwise the full-row hash gives an arbitrary-but-deterministic
    order."""

    def __init__(
        self,
        path: str,
        mapping: Mapping,
        schema: T.StructType,
        row_tag: str = "row",
        mode: ImportMode = ImportMode.CREATE_AND_UPDATE,
        name: Optional[str] = None,
        order_col: Optional[str] = None,
        options: Optional[dict] = None,
    ) -> None:
        super().__init__(df=None, mapping=mapping, mode=mode, name=name, order_col=order_col)  # type: ignore[arg-type]
        self.path = path
        self.schema = schema
        self.row_tag = row_tag
        self.options = options or {}

    def _load_frame(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format("xml").option("rowTag", self.row_tag).schema(self.schema)
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.load(self.path)

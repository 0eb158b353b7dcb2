"""CSV source (reference ``ImportCsv``, ``importsource.py:154-170``).

The reference streams ``csv.reader`` rows in file order; duplicate-key
last-wins semantics and header skipping both depend on that order. Three
strategies:

- ``ordered=True, engine="datasource"`` (default): the ordered scan of
  ``ordered_csv.py`` — whole files read in order with Python's
  ``csv.reader``, so multi-line quoted records parse exactly like the
  reference (``importsource.py:167-170``), and ``_src_pos`` encodes
  (file, line) total order with no counting pass. The driver plans the
  read groups and sizes the schema (``num_columns``, or the first line)
  with no Spark job; the read is one ``mapInArrow`` task per group
  (small files share one). The engine keeps the name of the Python
  DataSource connector it replaced.
- ``ordered=True, engine="rdd"``: read lines as a Hadoop text RDD —
  ``getSplits`` returns splits in (file, offset) order and ``zipWithIndex``
  counts per split, so the index IS the file line order — then parse each
  line JVM-side with ``from_csv``. No multi-line quoted records (documented
  divergence); useful for Hadoop URIs, which Python's ``open()`` cannot read.
- ``ordered=False``: plain ``spark.read.csv`` + ``monotonically_increasing_id``.
  Order is only partition-stable — fine when keys are unique or when an
  explicit ``order_col`` in the data provides the real ordering. This is the
  100 TB path: no Python round-trip, full pushdown, splittable files.
  Documented divergences from ``csv.reader`` (pinned by test_csv_fuzz):
  empty unquoted cells read as NULL (``emptyValue``), and a line that is a
  single whitespace-only field is silently skipped by the univocity parser
  (a line containing a delimiter or quoted field is kept).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..mapping import Mapping
from . import ordered_csv
from .base import SRC_POS, ImportMode, Source


class CsvSource(Source):
    def __init__(
        self,
        path: str,
        mapping: Mapping,
        mode: ImportMode = ImportMode.CREATE_AND_UPDATE,
        name: Optional[str] = None,
        num_columns: Optional[int] = None,
        ordered: bool = True,
        engine: str = "datasource",
        delimiter: str = ",",
        quote: str = '"',
        encoding: str = "UTF-8",
        splittable: bool = False,
    ) -> None:
        """``engine`` (for ordered reads): ``"datasource"`` (default) = the
        driver-planned ``csv.reader`` scan (``ordered_csv.py``) — exact
        file order plus correct multi-line quoted records, matching the
        reference's ``csv.reader``; ``"rdd"`` = text RDD + ``from_csv``
        per line (no multi-line records).

        ``splittable`` (datasource engine only): byte-range-split each
        file on line boundaries so one large file reads on every core;
        the total order is preserved, but multi-line quoted records are
        NOT supported on this path (see ``ordered_csv.py`` module doc) —
        leave False for files that may contain them."""
        super().__init__(mapping, mode=mode, name=name)
        self.path = path
        self.num_columns = num_columns
        self.ordered = ordered
        self.engine = engine
        self.delimiter = delimiter
        self.quote = quote
        self.encoding = encoding
        self.splittable = splittable

    def _csv_schema(self, spark: SparkSession) -> T.StructType:
        n = self.num_columns
        if n is None:
            # One cheap header sniff to size the positional schema.
            first = spark.read.text(self.path).limit(1).collect()  # c: 1row
            n = (first[0].value.count(self.delimiter) + 1) if first else 1
        return T.StructType([T.StructField(f"_c{i}", T.StringType(), True) for i in range(n)])

    def load_raw(self, spark: SparkSession) -> DataFrame:
        if self.ordered and self.engine == "datasource":
            return ordered_csv.scan(
                spark, self.path, self.num_columns, self.delimiter, self.quote,
                self.encoding, self.splittable,
            )
        schema = self._csv_schema(spark)
        opts = {"delimiter": self.delimiter, "quote": self.quote, "mode": "PERMISSIVE"}
        if self.ordered:
            lines = spark.sparkContext.textFile(self.path).zipWithIndex()
            df = spark.createDataFrame(lines, T.StructType([
                T.StructField("value", T.StringType(), True),
                T.StructField(SRC_POS, T.LongType(), False),
            ]))
            ddl = ", ".join(f"`{f.name}` STRING" for f in schema.fields)
            parsed = df.select(
                F.from_csv(F.col("value"), ddl, opts).alias("r"), F.col(SRC_POS)
            )
            return parsed.select("r.*", SRC_POS)
        df = spark.read.options(**opts).schema(schema).csv(self.path)
        return df.withColumn(SRC_POS, F.monotonically_increasing_id())

"""Fixed-width text source — the mainframe/legacy-extract cousin of CSV.

Not in the reference (its file surface is CSV, ``importsource.py:154``),
but the same ordered-lines contract applies: records are physical lines,
duplicate-key last-wins and header skip depend on file order. Columns are
declared as ``widths`` (chars per field, left to right); each field is
substring-sliced JVM-side and right-trimmed (the fixed-width padding
convention), surfacing as the positional ``_c0.._cN`` string columns every
``Mapping`` consumes — a mapping written for CSV works unchanged on the
fixed-width extract of the same feed.

Scale notes: ``ordered=True`` (default) reads through ``base.ordered_lines``
(``zipWithIndex`` over the Hadoop line reader: the index IS the file line
order); ``ordered=False`` is the splittable no-Python path with
partition-stable order — fine when keys are unique or an ``order_col``
field carries the real sequence. Slicing is pure ``substring`` Column
arithmetic: one scan, no parse pass, no UDF.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..mapping import Mapping
from .base import SRC_POS, ImportMode, Source, ordered_lines


class FixedWidthSource(Source):
    def __init__(
        self,
        path: str,
        mapping: Mapping,
        widths: Sequence[int],
        mode: ImportMode = ImportMode.CREATE_AND_UPDATE,
        name: Optional[str] = None,
        ordered: bool = True,
        trim: bool = True,
    ) -> None:
        super().__init__(mapping, mode=mode, name=name)
        self.path = path
        self.widths = list(widths)
        self.ordered = ordered
        self.trim = trim

    def _slice_cols(self):
        cols, start = [], 1
        for i, w in enumerate(self.widths):
            c = F.substring(F.col("value"), start, w)
            if self.trim:
                c = F.rtrim(c)
            # fixed-width blanks mean NULL (same convention as the CSV
            # reader's empty field -> parser NULL path)
            cols.append(F.when(c == "", None).otherwise(c).alias(f"_c{i}"))
            start += w
        return cols

    def load_raw(self, spark: SparkSession) -> DataFrame:
        if self.ordered:
            return ordered_lines(spark, self.path).select(
                *self._slice_cols(), F.col(SRC_POS)
            )
        df = spark.read.text(self.path)
        return df.select(
            *self._slice_cols(), F.monotonically_increasing_id().alias(SRC_POS)
        )

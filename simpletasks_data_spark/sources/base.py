"""Source abstraction: anything that yields a DataFrame of raw rows.

Re-expresses the reference's ``ImportSource`` contract
(``/root/reference/simpletasks_data/importsource.py:21-151``). A source
carries its Mapping, an :class:`ImportMode`, and per-source hooks; the
hooks become Column predicates so they run distributed, not on the driver:

- ``should_import`` (``importsource.py:98-107``) -> boolean expression over
  the raw row; failing rows are counted ``ignored``;
- ``validate_updates`` (``importsource.py:109-123``) -> boolean expression
  over the merge-candidate image (new/old structs + creating flag); failing
  items revert to their stored state and count ``rejected``;
- ``on_data_not_found`` (``importsource.py:125-133``) -> optional transform
  applied to the not-found target slice (e.g. flag / delete).

The merge calls ``validate_updates`` and ``on_data_not_found`` only when a
subclass or the instance overrides them (``overrides``): the defaults
return None, and their inputs cost Py4J round trips to build.

Ordering: the reference reads sources row-by-row in file order, which gives
within-source duplicate keys "last occurrence wins" semantics
(``importtask.py:266-270``). Distributed reads do not preserve a global
order, so every source exposes ``_src_pos`` — an explicit, total per-source
ordering column the merge planner uses for last-wins dedupe. Sources with a
natural order column (event time, sequence) should pass ``order_col``; the
CSV source can derive exact file order when asked (see ``csv.py``).
"""

from __future__ import annotations

import enum
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

from ..mapping import Mapping

SRC_POS = "_src_pos"


class ImportMode(enum.Flag):
    """Create/update gating (reference ``importsource.py:15-18``)."""

    CREATE = enum.auto()
    UPDATE = enum.auto()
    CREATE_AND_UPDATE = CREATE | UPDATE


class Source:
    """Base source; subclass and override :meth:`load_raw` (the analogue of
    ``getGeneratorData``, ``importsource.py:27-31``)."""

    def __init__(
        self,
        mapping: Mapping,
        mode: ImportMode = ImportMode.CREATE_AND_UPDATE,
        name: Optional[str] = None,
    ) -> None:
        self.mapping = mapping
        self._mode = mode
        self._name = name

    @property
    def mode(self) -> ImportMode:
        return self._mode

    @property
    def name(self) -> str:
        return self._name or self.__class__.__name__

    def load_raw(self, spark: SparkSession) -> DataFrame:
        """Return the raw rows WITH a ``_src_pos`` long column giving this
        source's total order (used for header skip + last-wins dedupe)."""
        raise NotImplementedError

    def get_header_line_number(self) -> int:
        return self.mapping.get_header_line_number()

    # -- hooks, as expressions ------------------------------------------------
    def should_import(self, src: DataFrame) -> Optional[Column]:
        """Boolean filter over raw rows; None = import everything."""
        return None

    def validate_updates(self, new: Column, old: Column, creating: Column) -> Optional[Column]:
        """Boolean predicate over the merge-candidate item: ``new``/``old``
        are struct columns of the post-/pre-merge image, ``creating`` the
        per-source creating flag. None = accept everything."""
        return None

    def on_data_not_found(self, not_found: DataFrame) -> Optional[DataFrame]:
        """Hook over the not-found target slice. Return a replacement slice
        (e.g. with a flag column updated, or emptied to delete) or None to
        keep those rows unchanged."""
        return None


def overrides(obj: object, base: type, hook: str) -> bool:
    """Whether ``obj`` replaces ``base.hook``, in its class or on the
    instance itself. Callers skip building a default hook's inputs."""
    return getattr(getattr(obj, hook), "__func__", None) is not getattr(base, hook)


def ordered_lines(spark: SparkSession, path: str) -> DataFrame:
    """(value, ``_src_pos``) per line of the text files at ``path``, read
    by the Hadoop line reader, which takes any Hadoop path or URI.
    ``getSplits`` returns splits in (file, offset) order and
    ``zipWithIndex`` counts per split, so the index IS the file line
    order."""
    lines = spark.sparkContext.textFile(path).zipWithIndex()
    return spark.createDataFrame(lines, T.StructType([
        T.StructField("value", T.StringType(), True),
        T.StructField(SRC_POS, T.LongType(), False),
    ]))

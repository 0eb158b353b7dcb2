"""Ordered CSV scan: exact file-then-line order in one Arrow map.

The reference's CSV source streams ``csv.reader`` rows in file order
(``importsource.py:154-170``). This module is ``CsvSource``'s ordered
read of a plain path: files are read with Python's ``csv.reader``
(correct multi-line quoted records, unlike per-line ``from_csv``), and
``_src_pos`` encodes a total order consistent with file-then-line order
without a counting pass.

The driver plans the whole scan with no Spark job and no Python worker:
it lists the files (``_paths``), packs them into read groups or splits
them into byte ranges (``plan_groups``), and sizes the schema (the
caller's width, or ``_sniff_width``). ``scan`` then returns
``spark.range(n, numPartitions=n).mapInArrow(...)``: partition ``g``
holds the one id ``g`` and reads group ``g`` (``read_group``), in record
batches of at most ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows
(the value read on the driver), so no batch holds a whole large file.
Each read partition costs one Python task; the Spark 4 Python DataSource
connector this replaces also ran one Python worker to size the schema
and one to plan the read, about 0.27 CPU-s each before they read a byte.

Width: without an explicit width, ``_sniff_width`` counts the delimiters
in the first line of the first non-empty file (in ``_paths`` order);
quoted delimiters count too, as in the first-line sniff ``CsvSource``'s
other two reads use.

Two partitioning strategies (VERDICT r10 item 2):

- **per-file** (default): whole files, never split, so multi-line
  quoted records parse because one reader sees each file's whole byte
  stream. Consecutive files (sorted order) share a group while their
  sizes sum to at most ``_PACK_BYTES`` (4 MiB, Spark's
  ``spark.sql.files.openCostInBytes`` default); each file is read in
  order. Packing saves the Python task of each small file and never
  puts two files of over 2 MiB on one task; a 128 MiB cap would
  serialise a directory of medium files onto one core.
  ``_src_pos = (file_idx << 40) | line_idx``.
- **splittable**: each file splits into byte ranges of about
  ``_SPLIT_BYTES`` aligned to line boundaries (Hadoop
  ``LineRecordReader`` semantics: a split owns every line that STARTS in
  ``[start, end)``; a reader with ``start > 0`` backs up one byte and
  discards through the first ``\\n`` so boundary lines are read exactly
  once). A single multi-GB dropped-export CSV — the shape this import
  engine exists for — then reads on every core instead of one.
  ``_src_pos = (file_idx << 40) | (split_idx << 28) | line_in_split``:
  splits are enumerated in byte order, so the encoding sorts identically
  to the global file-then-line order, and split 0 of file 0 yields the
  dense ``0, 1, 2, ...`` prefix the merge's header-skip predicate
  (``operators/merge.py`` ``_src_pos > header_n``) relies on. A
  file that fits in one split produces positions bit-identical to the
  per-file path. CONTRACT: no multi-line quoted records (a quoted
  embedded newline would be torn at a split boundary — keep the per-file
  default for those files) and a newline-safe encoding (UTF-8/latin-1:
  ``0x0A`` never occurs inside a multi-byte sequence; UTF-16 would
  break).

Files are opened with Python's ``open()``, so the path must be visible
to the driver and to every executor under the same name (a local or
shared file system). ``CsvSource`` sends only plain paths here; a path
with a URI scheme (``hdfs://``, ``s3a://``, ``file://``) reads through
the Hadoop line reader instead.
"""

from __future__ import annotations

import csv
import glob
import itertools
import os
from typing import Iterator, List, NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

from .base import SRC_POS

# splittable-mode _src_pos layout: file_idx << 40 | split_idx << 28 | line
_SPLIT_BITS = 12  # <= 4096 splits per file
_LINE_BITS = 28  # < 268M lines per split (a split line is >= 2 bytes)
_MAX_SPLITS = 1 << _SPLIT_BITS
# splittable mode cuts each file into byte ranges of about this size
_SPLIT_BYTES = 32 * 1024 * 1024
# per-file mode packs whole consecutive files into one group up to
# this many bytes (Spark's spark.sql.files.openCostInBytes default)
_PACK_BYTES = 4 * 1024 * 1024


class CsvGroup(NamedTuple):
    """What one read partition reads: whole files in order, or one byte
    range ``[start, end)`` of one file (``end`` is None for whole files)."""

    files: Tuple[Tuple[int, str], ...]  # (file_idx, path); one file when split
    split_idx: int = 0
    start: int = 0
    end: Optional[int] = None


def _paths(path: str) -> List[str]:
    """The files ``path`` names, in read order: a directory's entries or
    a glob's matches, sorted; a plain path as given."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*")))
    return sorted(glob.glob(path)) or [path]


def _sniff_width(paths: Sequence[str], delimiter: str, encoding: str) -> int:
    """Cells in the first line of the first non-empty file: delimiters
    counted in the raw line, quoted ones included; 1 when all are empty."""
    for p in paths:
        if os.path.getsize(p):
            with open(p, "r", encoding=encoding) as f:
                return f.readline().count(delimiter) + 1
    return 1


def plan_groups(path: str, splittable: bool = False) -> List[CsvGroup]:
    """The read groups of ``path``, in ``_src_pos`` order: packed whole
    files, or (``splittable``) byte-range splits of each file."""
    paths = _paths(path)
    if not splittable:
        groups, group, size = [], [], 0
        for i, p in enumerate(paths):
            n = os.path.getsize(p)
            if group and size + n > _PACK_BYTES:
                groups.append(CsvGroup(tuple(group)))
                group, size = [], 0
            group.append((i, p))
            size += n
        return groups + [CsvGroup(tuple(group))] if group else groups
    groups = []
    for i, p in enumerate(paths):
        size = os.path.getsize(p)
        n = max(1, min((size + _SPLIT_BYTES - 1) // _SPLIT_BYTES, _MAX_SPLITS))
        bounds = [size * j // n for j in range(n + 1)]
        groups += [CsvGroup(((i, p),), j, bounds[j], bounds[j + 1]) for j in range(n)]
    return groups


def _read_lines_split(f, start: int, end: int) -> Iterator[bytes]:
    """Yield raw line bytes whose first byte lies in [start, end) — the
    LineRecordReader ownership rule, so consecutive splits partition the
    file's lines exactly. ``f`` is a binary stream."""
    if start > 0:
        # Back up one byte: if it is '\n', `start` begins a line we own;
        # otherwise discard the partial line (owned upstream).
        f.seek(start - 1)
        f.readline()
    else:
        f.seek(0)
    while f.tell() < end:
        line = f.readline()
        if not line:
            break
        yield line


def read_group(
    group: CsvGroup, ncols: int, delimiter: str = ",", quote: str = '"', encoding: str = "utf-8"
) -> Iterator[tuple]:
    """The rows of ``group`` in order: ``ncols`` cells (truncated or
    padded with None), then the row's ``_src_pos``."""

    def cells(row, pos):
        row = row[:ncols]
        return tuple(row) + (None,) * (ncols - len(row)) + (pos,)

    if group.end is None:
        for file_idx, path in group.files:
            base = file_idx << (_SPLIT_BITS + _LINE_BITS)
            with open(path, "r", encoding=encoding, newline="") as f:
                reader = csv.reader(f, delimiter=delimiter, quotechar=quote)
                for line_idx, row in enumerate(reader):
                    yield cells(row, base | line_idx)
        return
    [(file_idx, path)] = group.files
    base = (file_idx << (_SPLIT_BITS + _LINE_BITS)) | (group.split_idx << _LINE_BITS)
    with open(path, "rb") as f:
        lines = (ln.decode(encoding) for ln in _read_lines_split(f, group.start, group.end))
        reader = csv.reader(lines, delimiter=delimiter, quotechar=quote)
        for line_idx, row in enumerate(reader):
            if line_idx >= (1 << _LINE_BITS):
                raise ValueError(
                    f"ordered_csv: split {group.split_idx} of {path} exceeds "
                    f"{1 << _LINE_BITS} lines"
                )
            yield cells(row, base | line_idx)


def _record_batches(rows: Iterator[tuple], ncols: int, size: Optional[int]):
    """``rows`` as Arrow record batches of at most ``size`` rows
    (None: one batch)."""
    import pyarrow as pa

    names = [f"_c{i}" for i in range(ncols)] + [SRC_POS]
    while True:
        chunk = list(itertools.islice(rows, size))
        if not chunk:
            return
        cols = list(zip(*chunk))
        arrays = [pa.array(c, pa.string()) for c in cols[:ncols]]
        yield pa.RecordBatch.from_arrays(arrays + [pa.array(cols[ncols], pa.int64())], names=names)


def scan(
    spark: SparkSession,
    path: str,
    ncols: Optional[int],
    delimiter: str,
    quote: str,
    encoding: str,
    splittable: bool,
) -> DataFrame:
    """``_c0 .. _c{ncols-1}`` strings plus ``_src_pos``, one partition
    per read group. ``ncols`` None sizes the schema from the first line."""
    groups = plan_groups(path, splittable)
    if ncols is None:
        ncols = _sniff_width(_paths(path), delimiter, encoding)
    size = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    size = size if size > 0 else None  # Spark's meaning: no limit

    def read(batches):
        for batch in batches:
            for g in batch.column(0).to_pylist():
                rows = read_group(groups[g], ncols, delimiter, quote, encoding)
                yield from _record_batches(rows, ncols, size)

    ddl = ", ".join([f"_c{i} STRING" for i in range(ncols)] + [f"{SRC_POS} BIGINT"])
    n = len(groups)
    return spark.range(n, numPartitions=max(1, n)).mapInArrow(read, ddl)

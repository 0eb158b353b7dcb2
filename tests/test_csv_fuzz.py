"""Randomized CSV roundtrip fuzz for the §2.1 source layer.

The oracle is the ORIGINAL in-memory random table: python's csv.writer
guarantees writerow/reader roundtrip, so after writing random cells
(quotes, delimiters, newlines, unicode, tabs, empties) to disk, every
engine path must hand back exactly those cells in exactly file-then-line
order. This pins the scan plumbing — read-group planning, _src_pos
total-order encoding, ncols truncate/pad, Arrow transfer of arbitrary
unicode — independently of the fixed fixtures in test_sources.py.
Reference contract: csv.reader file-order streaming
(/root/reference/simpletasks_data/importsource.py:154-170).
"""

import csv
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simpletasks_data_spark.mapping import Mapping  # noqa: E402
from simpletasks_data_spark.sources.base import SRC_POS  # noqa: E402
from simpletasks_data_spark.sources.csv import CsvSource  # noqa: E402

FULL_ALPHABET = list("ab,\"'\n\t é∆09 ") + ['""', ",\n", '"x"']
LINE_ALPHABET = list("ab,'\t é∆09 ")  # no quotes/newlines: splittable-file paths


def _rand_cell(rng, alphabet):
    return "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 8)))


def _rand_table(rng, alphabet, max_cols):
    n_rows = rng.randrange(1, 12)
    return [
        [_rand_cell(rng, alphabet) for _ in range(rng.randrange(1, max_cols + 1))]
        for _ in range(n_rows)
    ]


def _mapping(ncols):
    # load_raw never consults the column specs — a bare Mapping satisfies
    # the Source contract for a raw-read fuzz.
    del ncols
    return Mapping()


def _write(path, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerows(rows)


def test_ordered_datasource_roundtrip_fuzz(spark, tmp_path):
    rng = random.Random(1105)
    for trial in range(8):
        d = tmp_path / f"t{trial}"
        d.mkdir()
        files = []
        for fi in range(rng.randrange(1, 4)):
            rows = _rand_table(rng, FULL_ALPHABET, max_cols=4)
            _write(d / f"f{fi}.csv", rows)
            files.append(rows)
        ncols = max(len(r) for rows in files for r in rows)
        src = CsvSource(str(d), _mapping(ncols), num_columns=ncols)
        got = [
            tuple(r[f"_c{i}"] for i in range(ncols))
            for r in src.load_raw(spark).orderBy(SRC_POS).collect()
        ]
        want = [
            tuple((r + [None] * ncols)[:ncols]) for rows in files for r in rows
        ]
        assert got == want, (trial, got, want)


def test_ordered_datasource_truncates_wide_rows(spark, tmp_path):
    rng = random.Random(77)
    rows = _rand_table(rng, FULL_ALPHABET, max_cols=6)
    p = tmp_path / "wide.csv"
    _write(p, rows)
    ncols = 2  # narrower than the data: extra cells must drop, short rows pad
    src = CsvSource(str(p), _mapping(ncols), num_columns=ncols)
    got = [
        (r["_c0"], r["_c1"])
        for r in src.load_raw(spark).orderBy(SRC_POS).collect()
    ]
    want = [tuple((r + [None, None])[:2]) for r in rows]
    assert got == want


def test_unordered_spark_csv_roundtrip_fuzz(spark, tmp_path):
    # The 100 TB path (plain spark.read.csv): splittable well-formed files,
    # order-agnostic multiset compare. Cells force quoting via commas but
    # hold no quotes/newlines (Spark's univocity escape conventions differ
    # from python csv's doubled quotes — the ordered path owns that case).
    rng = random.Random(2024)
    for trial in range(5):
        rows = _rand_table(rng, LINE_ALPHABET, max_cols=3)
        p = tmp_path / f"u{trial}.csv"
        _write(p, rows)
        src = CsvSource(str(p), _mapping(3), num_columns=3, ordered=False)
        df = src.load_raw(spark)
        key = lambda t: tuple("\0" if c is None else "s" + c for c in t)
        got = sorted(
            (tuple(r[f"_c{i}"] for i in range(3)) for r in df.collect()), key=key
        )
        # spark.read.csv reads missing trailing cells as NULL and empty
        # strings as NULL (emptyValue default), and univocity silently
        # SKIPS a line that is a single whitespace-only field (probed:
        # " " / "\t" lines vanish; " , " and '""' survive) — both
        # divergences are documented on the ordered=False path; normalize
        # the oracle the same way for this path only.
        want = [
            tuple((["" if c is None else c for c in r] + [None] * 3)[:3])
            for r in rows
            if not (len(r) == 1 and r[0] != "" and r[0].strip() == "")
        ]
        want = sorted(
            (tuple(None if c == "" else c for c in r) for r in want), key=key
        )
        assert got == want, (trial, got, want)
        pos = [r[SRC_POS] for r in df.collect()]
        assert len(set(pos)) == len(pos)  # synthetic ids stay unique


def test_rdd_engine_roundtrip_fuzz(spark, tmp_path):
    # engine="rdd": per-line from_csv — no multi-line records (documented
    # divergence), same doubled-quote caveat as above; fuzz the quote-free
    # single-line grammar and the exact zipWithIndex order contract.
    rng = random.Random(31415)
    for trial in range(4):
        rows = _rand_table(rng, LINE_ALPHABET, max_cols=3)
        p = tmp_path / f"r{trial}.csv"
        _write(p, rows)
        src = CsvSource(str(p), _mapping(3), num_columns=3, engine="rdd")
        got = [
            tuple(r[f"_c{i}"] for i in range(3))
            for r in src.load_raw(spark).orderBy(SRC_POS).collect()
        ]
        want = [
            tuple(None if c == "" else c for c in (list(r) + [None] * 3)[:3])
            for r in rows
        ]
        assert got == want, (trial, got, want)


def test_splittable_matches_perfile_fuzz(spark, tmp_path, monkeypatch):
    # splittable mode must reproduce the per-file read EXACTLY (same
    # cells, same order) for any no-multiline CSV at any split size —
    # including boundaries inside quoted cells, on '\r' of a '\r\n',
    # or mid multi-byte UTF-8 (0x0A never occurs inside a sequence)
    from simpletasks_data_spark.sources import ordered_csv

    rng = random.Random(8861)
    for trial in range(8):
        d = tmp_path / f"s{trial}"
        d.mkdir()
        for fi in range(rng.randrange(1, 3)):
            rows = _rand_table(rng, LINE_ALPHABET, max_cols=4)
            _write(d / f"f{fi}.csv", rows)
        ncols = 4

        def read(splittable):
            src = CsvSource(str(d), _mapping(ncols), num_columns=ncols, splittable=splittable)
            return [
                tuple(r[f"_c{i}"] for i in range(ncols))
                for r in src.load_raw(spark).orderBy(SRC_POS).collect()
            ]

        perfile = read(False)
        monkeypatch.setattr(ordered_csv, "_SPLIT_BYTES", rng.randrange(4, 64))
        split = read(True)
        assert split == perfile, (trial, split, perfile)

"""End-to-end golden test, ported from the reference's
``tests/importtask_test.py``: two sequential sources into a 2-row target,
asserting the exact counter dict and the exact final table + history rows
(reference asserts the same state through its validate_updates spies)."""

import pytest
from pyspark.sql import types as T

from simpletasks_data_spark.mapping import Mapping
from simpletasks_data_spark.plans import HistorySpec, ImportJob, TargetTable
from simpletasks_data_spark.sources import GeneratorSource, ImportMode

TARGET_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("col1", T.StringType(), False),
    T.StructField("col2", T.StringType(), True),
    T.StructField("col3", T.StringType(), True),
    T.StructField("col4", T.StringType(), True),
    T.StructField("col5", T.LongType(), True),
    T.StructField("col6", T.LongType(), True),
])

LENGTHS = {"col1": 1, "col2": 256, "col3": 10, "col4": 10}


class MappingA(Mapping):
    def __init__(self):
        super().__init__()
        self.id = self.auto()
        self.col1 = self.auto(keep_history=True)
        self.col2 = self.auto(should_update=False)
        self.col3 = self.auto()
        self.col4 = self.auto()
        self.col5 = self.auto(warn_on_error=False)


class MappingB(Mapping):
    def __init__(self):
        super().__init__()
        self.id = self.auto(should_update=False)
        self.col6 = self.auto(should_update_only_if_null=True)

    def get_header_line_number(self):
        return -1


SOURCE1_ROWS = [
    ["0", "0", "0", "0", "0", "0"],          # header — skipped
    ["1", "ABCDEFG", "B", "C", "D", "1"],    # update: col1 trunc->"A" (history), col5 NULL->1
    ["2", "E", "F", "G", "H", "2"],          # fully unchanged
    ["3", "I", "J", "K", "L", "a"],          # create; col5 invalid -> stays NULL
    ["", "I", "J", "K", "L", "3"],           # missing key
]

SOURCE2_ROWS = [
    ["1", "2"],   # col6 non-null -> fill-if-null blocks
    ["2", "2"],
    ["3", "2"],   # created by source 1: cross-source visibility; col6 NULL -> 2
    ["5", ""],    # unknown key + UPDATE-only -> ignored_not_created
]


def make_job(spark, dryrun=True):
    target_df = spark.createDataFrame(
        [
            (1, "", "", "C", "D", None, 1),
            (2, "E", "F", "G", "H", 2, 1),
        ],
        TARGET_SCHEMA,
    )
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)
    sources = [
        GeneratorSource(SOURCE1_ROWS, MappingA(), mode=ImportMode.CREATE_AND_UPDATE, name="s1"),
        GeneratorSource(SOURCE2_ROWS, MappingB(), mode=ImportMode.UPDATE, name="s2"),
    ]

    class MyJob(ImportJob):
        def pre_process(self):
            return {"bar": 1}

        def post_process(self):
            return {"foo": 0}

    return MyJob(
        spark,
        target,
        sources=sources,
        keep_history=True,
        history_spec=HistorySpec(tracked_columns=["col1"], key_column="id", fixed_date=None),
        dryrun=dryrun,
    )


EXPECTED = {
    "created": 1,
    "history_created": 1,
    "postprocess": {"foo": 0},
    "preprocess": {"bar": 1},
    "postcommit": {},
    "precommit": {},
    "rejected": 0,
    "updated": 1,
    "sources": [
        {
            "ignored": 0,
            "ignored_missing_id": 1,
            "ignored_not_created": 0,
            "ignored_not_updated": 0,
            "read": 3,
            "rejected": 0,
            "not_found": 0,
        },
        {
            "ignored": 0,
            "ignored_missing_id": 0,
            "ignored_not_created": 1,
            "ignored_not_updated": 0,
            "read": 3,
            "rejected": 0,
            "not_found": 0,
        },
    ],
}


def test_nominal_counters(spark):
    job = make_job(spark)
    res = job.run()
    assert res == EXPECTED


def test_nominal_final_table(spark):
    job = make_job(spark)
    job.run()
    rows = {r.id: r for r in job.result_df.collect()}
    assert set(rows) == {1, 2, 3}
    r1, r2, r3 = rows[1], rows[2], rows[3]
    assert (r1.col1, r1.col2, r1.col3, r1.col4, r1.col5, r1.col6) == ("A", "", "C", "D", 1, 1)
    assert (r2.col1, r2.col2, r2.col3, r2.col4, r2.col5, r2.col6) == ("E", "F", "G", "H", 2, 1)
    assert (r3.col1, r3.col2, r3.col3, r3.col4, r3.col5, r3.col6) == ("I", "J", "K", "L", None, 2)


def test_nominal_history(spark):
    job = make_job(spark)
    job.run()
    hist = job.history_df.collect()
    assert len(hist) == 1
    h = hist[0]
    assert (h.model_id, h.old_col1, h.new_col1) == (1, "", "A")


def test_create_only(spark):
    """CREATE-only: existing keys are skipped (ignored_not_updated)."""
    target_df = spark.createDataFrame([(1, "X", None, None, None, None, None)], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)
    rows = [
        ["hdr"] * 6,
        ["1", "Z", "c2", "c3", "c4", "9"],   # exists -> ignored_not_updated
        ["7", "N", "c2", "c3", "c4", "9"],   # new -> created
    ]
    job = ImportJob(
        spark,
        target,
        sources=[GeneratorSource(rows, MappingA(), mode=ImportMode.CREATE, name="s")],
        dryrun=True,
    )
    res = job.run()
    src = res["sources"][0]
    assert src["ignored_not_updated"] == 1
    assert src["read"] == 1
    assert res["created"] == 1
    assert res["updated"] == 0
    rows_out = {r.id: r for r in job.result_df.collect()}
    assert rows_out[1].col1 == "X"          # untouched
    assert rows_out[7].col1 == "N"


def test_duplicate_last_wins(spark):
    """Within-source duplicate keys: last occurrence wins per column; a
    duplicate restoring the stored value cancels the pending update."""
    target_df = spark.createDataFrame([(1, "A", "orig", None, None, None, None)], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.col1 = self.auto()
            self.col3 = self.auto()

        def get_header_line_number(self):
            return -1

    rows = [
        ["1", "B", "x"],   # pending col1->B, col3->x
        ["1", "A", "y"],   # col1 back to stored "A" (cancel), col3->y (last wins)
    ]
    job = ImportJob(spark, target, sources=[GeneratorSource(rows, M(), name="s")], dryrun=True)
    res = job.run()
    out = job.result_df.collect()[0]
    assert out.col1 == "A"
    assert out.col3 == "y"
    assert res["updated"] == 1
    assert res["sources"][0]["read"] == 2


def test_nonnullable_rejection(spark):
    """Creating a row whose non-nullable column parses to NULL -> rejected."""
    target_df = spark.createDataFrame([], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)
    rows = [
        ["hdr"] * 6,
        ["5", "", "c2", "c3", "c4", "1"],    # col1 "" -> NULL (non-nullable) -> rejected
        ["6", "ok", "c2", "c3", "c4", "1"],  # fine
    ]
    job = ImportJob(
        spark, target, sources=[GeneratorSource(rows, MappingA(), name="s")], dryrun=True
    )
    res = job.run()
    assert res["rejected"] == 1
    assert res["created"] == 1
    ids = [r.id for r in job.result_df.collect()]
    assert ids == [6]


def test_update_only_against_empty_target_counts_pruned_observation(spark):
    """UPDATE-only source into an empty target: the optimizer folds the
    merge to an empty relation and prunes the counter Observation, so
    the counters come from ``session.observed``'s fallback aggregation."""
    target_df = spark.createDataFrame([], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)
    job = ImportJob(
        spark,
        target,
        sources=[GeneratorSource(SOURCE2_ROWS, MappingB(), mode=ImportMode.UPDATE, name="s2")],
        dryrun=True,
    )
    res = job.run()
    assert res["sources"][0]["ignored_not_created"] == len(SOURCE2_ROWS)
    assert res["sources"][0]["read"] == 0
    assert job.result_df.count() == 0


def test_not_found(spark):
    """Target rows never matched by the source are counted not_found."""
    target_df = spark.createDataFrame(
        [(1, "A", None, None, None, None, None), (2, "B", None, None, None, None, None)],
        TARGET_SCHEMA,
    )
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)
    rows = [["hdr"] * 6, ["1", "A2", "c", "c", "c", "1"]]
    job = ImportJob(
        spark, target, sources=[GeneratorSource(rows, MappingA(), name="s")], dryrun=True
    )
    res = job.run()
    assert res["sources"][0]["not_found"] == 1


def test_on_data_not_found_delete(spark):
    """Hook emptying the not-found slice deletes stale target rows
    (reference importsource.py:125-133: 'can be used to delete')."""
    from simpletasks_data_spark.sources import GeneratorSource, ImportMode

    target_df = spark.createDataFrame(
        [(1, "A", None, None, None, None, None), (2, "B", None, None, None, None, None)],
        TARGET_SCHEMA,
    )
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    class PurgingSource(GeneratorSource):
        def on_data_not_found(self, not_found):
            return not_found.limit(0)  # delete all stale rows

    rows = [["hdr"] * 6, ["1", "A2", "c", "c", "c", "1"]]
    job = ImportJob(
        spark, target, sources=[PurgingSource(rows, MappingA(), name="s")], dryrun=True
    )
    res = job.run()
    assert res["sources"][0]["not_found"] == 1
    ids = sorted(r.id for r in job.result_df.collect())
    assert ids == [1]  # row 2 deleted


def test_on_data_not_found_flag(spark):
    """Hook mutating the not-found slice (e.g. flag a column)."""
    from pyspark.sql import functions as F

    from simpletasks_data_spark.sources import GeneratorSource

    target_df = spark.createDataFrame(
        [(1, "A", None, None, None, None, None), (2, "B", "keep", None, None, None, None)],
        TARGET_SCHEMA,
    )
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    class FlaggingSource(GeneratorSource):
        def on_data_not_found(self, not_found):
            return not_found.withColumn("col3", F.lit("STALE"))

    rows = [["hdr"] * 6, ["1", "A2", "c", "c", "c", "1"]]
    job = ImportJob(
        spark, target, sources=[FlaggingSource(rows, MappingA(), name="s")], dryrun=True
    )
    res = job.run()
    out = {r.id: r for r in job.result_df.collect()}
    assert out[2].col3 == "STALE"
    assert out[2].col2 == "keep"
    # the flag counts as an update of row 2
    assert res["updated"] == 2


def test_job_validate_updates_override_reverts_rejected(spark):
    """An ImportJob subclass overriding validate_updates replaces the
    non-nullable check: rejected creates vanish and rejected updates
    revert to the stored row (importtask.py:52-70, 319-321)."""
    target_df = spark.createDataFrame(
        [(1, "A", None, "c", None, None, None), (2, "B", None, "c", None, None, None)],
        TARGET_SCHEMA,
    )
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    class StrictJob(ImportJob):
        def validate_updates(self, new, old, creating):
            return new["col3"] != "bad"

    rows = [
        ["hdr"] * 6,
        ["1", "X", "", "bad", "", ""],   # update rejected: row 1 reverts
        ["2", "Y", "", "ok", "", ""],    # update accepted
        ["3", "Z", "", "bad", "", ""],   # create rejected: row 3 vanishes
        ["4", "", "", "ok", "", ""],     # create accepted: NULL col1 passes the override
    ]
    job = StrictJob(spark, target, sources=[GeneratorSource(rows, MappingA(), name="s")], dryrun=True)
    res = job.run()
    assert (res["rejected"], res["updated"], res["created"]) == (2, 1, 1)
    out = {r.id: (r.col1, r.col3) for r in job.result_df.collect()}
    assert out == {1: ("A", "c"), 2: ("Y", "ok"), 4: (None, "ok")}


def test_source_hooks_assigned_on_the_instance_are_called(spark):
    """validate_updates and on_data_not_found set on a source instance
    (not its class) still run: the merge asks the instance, not the
    class, whether a hook is overridden."""
    from pyspark.sql import functions as F

    target_df = spark.createDataFrame(
        [(1, "A", None, "c", None, None, None), (2, "B", None, "c", None, None, None),
         (3, "C", None, "c", None, None, None)],
        TARGET_SCHEMA,
    )
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)
    rows = [
        ["hdr"] * 6,
        ["1", "X", "", "bad", "", ""],   # rejected by the instance hook
        ["2", "Y", "", "ok", "", ""],
    ]
    src = GeneratorSource(rows, MappingA(), name="s")
    src.validate_updates = lambda new, old, creating: new["col3"] != "bad"
    src.on_data_not_found = lambda nf: nf.withColumn("col4", F.lit("STALE"))
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["sources"][0]["rejected"] == 1
    assert res["sources"][0]["not_found"] == 1
    out = {r.id: r for r in job.result_df.collect()}
    assert {i: (r.col1, r.col3) for i, r in out.items()} == {1: ("A", "c"), 2: ("Y", "ok"), 3: ("C", "c")}
    assert out[3].col4 == "STALE"


def test_pass_boundaries_four_sources(spark, monkeypatch):
    """Four sources fold in three merge passes: a not-found hook ends the
    first pass, and a source with another key comparator starts the third.
    Every later source sees the earlier ones' pending state."""
    from pyspark.sql import functions as F

    from simpletasks_data_spark.plans import task

    target_df = spark.createDataFrame(
        [(1, "A", None, "c", None, None, None), (2, "B", None, "c", None, None, None)],
        TARGET_SCHEMA,
    )
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    def mapping(*cols, comparator=None):
        class M(Mapping):
            def __init__(self):
                super().__init__()
                for c in ("id",) + cols:
                    setattr(self, c, self.auto())

            def get_header_line_number(self):
                return -1

            def get_key_column_comparator(self):
                return comparator

        return M()

    class Flagging(GeneratorSource):
        def on_data_not_found(self, not_found):
            return not_found.withColumn("col4", F.lit("STALE"))

    sources = [
        # creates 3, updates 1; row 2 not found
        GeneratorSource([["3", "C", "x"], ["1", "A", "y"]], mapping("col1", "col3"), name="s1"),
        # updates 1; 9 is unknown; rows 2 and 3 not found and flagged
        Flagging([["1", "u"], ["9", "z"]], mapping("col4"), mode=ImportMode.UPDATE, name="s2"),
        # updates the created row 3 and the flagged row 2; one missing key
        GeneratorSource([["3", "k3"], ["2", "f2"], ["", "q"]], mapping("col3"),
                        mode=ImportMode.UPDATE, name="s3"),
        # another key comparator: 2 exists, 4 is created once
        GeneratorSource([["2", "Z", "q"], ["4", "D", "w"], ["4", "E", "v"]],
                        mapping("col1", "col2", comparator=lambda k: k.cast("long")),
                        mode=ImportMode.CREATE, name="s4"),
    ]
    pass_sizes = []
    merge = task.merge_source
    monkeypatch.setattr(
        task, "merge_source",
        lambda spark, image, group, *a: pass_sizes.append(len(group)) or merge(spark, image, group, *a),
    )
    job = ImportJob(spark, target, sources=sources, dryrun=True)
    res = job.run()
    assert pass_sizes == [2, 1, 1]

    zero = dict.fromkeys(EXPECTED["sources"][0], 0)
    assert res["sources"] == [
        {**zero, "read": 2, "not_found": 1},
        {**zero, "read": 1, "ignored_not_created": 1, "not_found": 2},
        {**zero, "read": 2, "ignored_missing_id": 1, "not_found": 1},
        {**zero, "read": 1, "ignored_not_updated": 2, "not_found": 2},
    ]
    assert (res["created"], res["updated"], res["rejected"]) == (2, 2, 0)
    out = {r.id: (r.col1, r.col2, r.col3, r.col4) for r in job.result_df.collect()}
    assert out == {
        1: ("A", None, "y", "u"),
        2: ("B", None, "f2", "STALE"),
        3: ("C", None, "k3", "STALE"),
        4: ("D", "w", None, None),
    }


def test_duplicate_create_policy_fold(spark):
    """Within-source duplicate keys on a CREATED row: the insert takes the
    FIRST occurrence's values for should_update=False columns, later
    duplicates fold through the update-policy gates, and a later parse
    error keeps the earlier good value (reference importtask.py:251-284)."""
    target_df = spark.createDataFrame([], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    from simpletasks_data_spark.mapping import PyParser

    # A parser that RAISES on garbage (the err-channel path, like the
    # reference's date parsers) — str2intnullable would swallow to None.
    raising_int = lambda: PyParser(lambda s: int(s) if s else None, "long")  # noqa: E731

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.col1 = self.auto()
            self.col2 = self.auto(should_update=False)
            self.col5 = self.auto(raising_int(), warn_on_error=False)
            self.col6 = self.auto(should_update_only_if_null=True)

        def get_header_line_number(self):
            return -1

    rows = [
        ["9", "A", "X", "1", ""],    # creates: col1=A col2=X col5=1 col6=NULL
        ["9", "B", "Y", "zz", "5"],  # col1->B; col2 frozen X; col5 err keeps 1; col6 fills 5
        ["9", "C", "Z", "xx", "7"],  # col1->C; col5 err again keeps 1; col6 stays 5
        ["7", "D", "", "aa", "2"],   # creates: col2 ""->NULL frozen; col5 err on create -> NULL
        ["7", "E", "W", "8", ""],    # col2 stays NULL; col5 -> 8
    ]
    job = ImportJob(spark, target, sources=[GeneratorSource(rows, M(), name="s")], dryrun=True)
    res = job.run()
    assert res["created"] == 2
    assert res["updated"] == 0
    out = {r.id: r for r in job.result_df.collect()}
    r9, r7 = out[9], out[7]
    assert (r9.col1, r9.col2, r9.col5, r9.col6) == ("C", "X", 1, 5)
    assert (r7.col1, r7.col2, r7.col5, r7.col6) == ("E", None, 8, 2)


def test_update_error_keeps_old_value(spark):
    """A RAISING parser's error on an UPDATE row keeps the stored value
    (err channel -> no update; importtask.py:278-284) — while the
    swallowing str2intnullable path records a legitimate NULL update."""
    from simpletasks_data_spark.mapping import PyParser

    target_df = spark.createDataFrame([(1, "A", None, None, None, 42, 7)], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.col5 = self.auto(
                PyParser(lambda s: int(s) if s else None, "long"), warn_on_error=False
            )
            self.col6 = self.auto()  # inferred str2intnullable: swallows to None

        def get_header_line_number(self):
            return -1

    job = ImportJob(
        spark, target, sources=[GeneratorSource([["1", "oops", "bad"]], M(), name="s")], dryrun=True
    )
    res = job.run()
    row = job.result_df.collect()[0]
    assert row.col5 == 42      # raising parser: old value kept
    assert row.col6 is None    # swallowing parser: NULL is a real update
    assert res["updated"] == 1


def test_warn_counters(spark, caplog):
    """warn_on_error / warn_if_empty are surfaced as per-source warn counts
    (the reference only logs these, importtask.py:262-284), and each count
    is logged with its column on the source's child logger."""
    import logging

    target_df = spark.createDataFrame([(1, "A", None, None, None, None, None)], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    from simpletasks_data_spark.mapping import PyParser

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.col1 = self.auto(warn_if_empty=True)
            # warn_on_error defaults True; raising parser feeds the err channel
            self.col5 = self.auto(PyParser(lambda s: int(s) if s else None, "long"))

        def get_header_line_number(self):
            return -1

    rows = [
        ["1", "", "nope"],   # col1 empty -> warn_if_empty; col5 raises -> warn_on_error
        ["2", "ok", "3"],    # clean create
    ]
    job = ImportJob(spark, target, sources=[GeneratorSource(rows, M(), name="s")], dryrun=True)
    with caplog.at_level(logging.WARNING, logger=job.logger.name):
        job.run()
    assert job.warnings == [{"col1": 1, "col5": 1}]
    logged = sorted(r.getMessage() for r in caplog.records if r.name == job.logger.name + ".s")
    assert logged == ["1 warnings on column col1", "1 warnings on column col5"]


def test_history_per_source_spec(spark):
    """History fires only when the CHANGING source's spec flags
    keep_history; a change from an unflagged source produces no audit row
    even if another source's mapping flags that column (reference
    importtask.py:272-277 — the flag travels with set_updated_value_for)."""
    target_df = spark.createDataFrame([(1, "A", None, "x", None, None, None)], TARGET_SCHEMA)
    target = TargetTable(schema=TARGET_SCHEMA, df=target_df, primary_keys=("id",), lengths=LENGTHS)

    class MTracks(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.col1 = self.auto(keep_history=True)

        def get_header_line_number(self):
            return -1

    class MChanges(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.col1 = self.auto()  # keep_history=False

        def get_header_line_number(self):
            return -1

    # Source 1 tracks col1 but does NOT change it; source 2 changes it
    # without keep_history -> no history.
    job = ImportJob(
        spark,
        target,
        sources=[
            GeneratorSource([["1", "A"]], MTracks(), name="s1"),
            GeneratorSource([["1", "C"]], MChanges(), name="s2"),
        ],
        keep_history=True,
        dryrun=True,
    )
    res = job.run()
    assert res["history_created"] == 0
    assert res["updated"] == 1
    assert job.result_df.collect()[0].col1 == "C"

    # Source 1 changes col1 (flag set), source 2 changes it again without
    # keep_history: the flag survives; audit row spans stored -> final.
    job2 = ImportJob(
        spark,
        target,
        sources=[
            GeneratorSource([["1", "B"]], MTracks(), name="s1"),
            GeneratorSource([["1", "C"]], MChanges(), name="s2"),
        ],
        keep_history=True,
        dryrun=True,
    )
    res2 = job2.run()
    assert res2["history_created"] == 1
    h = job2.history_df.collect()[0]
    assert (h.model_id, h.old_col1, h.new_col1) == (1, "A", "C")

    # A later source cancelling the change back to stored discards the flag.
    job3 = ImportJob(
        spark,
        target,
        sources=[
            GeneratorSource([["1", "B"]], MTracks(), name="s1"),
            GeneratorSource([["1", "A"]], MChanges(), name="s2"),
        ],
        keep_history=True,
        dryrun=True,
    )
    res3 = job3.run()
    assert res3["history_created"] == 0
    assert res3["updated"] == 0


def test_merge_fold_matches_python_reference_hypothesis(spark):
    """Randomized merge property test: the distributed join+fold+policy
    pipeline must agree with a row-at-a-time Python loop implementing the
    reference's semantics (the reference IS a row loop — this reference
    shares no code with either the Spark merge or the E2E goldens) on:
    final table contents, created/updated row counters, missing-key
    ignores, per-column policies (normal / should_update=False /
    only_if_null), within-source duplicate last-wins, and the
    cancel-back-to-stored rule. Randomization covers the shapes the
    goldens fix one instance of: dup chains, no-op updates, creates and
    updates interleaved, sparse target NULLs."""
    from hypothesis import given, settings, strategies as st

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("a", T.StringType(), True),
        T.StructField("b", T.StringType(), True),
        T.StructField("c", T.LongType(), True),
    ])

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.a = self.auto()
            self.b = self.auto(should_update=False)
            self.c = self.auto(should_update_only_if_null=True)

        def get_header_line_number(self):
            return -1

    letters = st.sampled_from(["x", "y", "z"])
    tgt_strat = st.dictionaries(
        st.integers(1, 8),
        st.tuples(letters, letters, st.one_of(st.none(), st.integers(0, 9))),
        max_size=6,
    )
    row_strat = st.tuples(
        st.sampled_from([""] + [str(i) for i in range(1, 13)]),
        letters,
        letters,
        st.sampled_from([str(i) for i in range(10)]),
    )
    src_strat = st.lists(row_strat, max_size=12)

    def reference(tgt, rows):
        """Row-at-a-time replay of the reference engine: each row applies
        its policies against the PENDING-OR-STORED state (so duplicate
        keys fold sequentially — a normal column is last-wins, an
        only-if-null column is first-non-null-wins, a should_update=False
        column keeps its create-time value), and a final value equal to
        the stored original cancels the update."""
        orig = {k: {"a": v[0], "b": v[1], "c": v[2]} for k, v in tgt.items()}
        state = {k: dict(v) for k, v in orig.items()}
        created_keys, missing = set(), 0
        for key_s, a, b, c_s in rows:
            if key_s == "":
                missing += 1
                continue
            k, c = int(key_s), int(c_s)
            if k in state:
                cur = state[k]
                cur["a"] = a                      # normal: last wins
                # b: should_update=False — never updated past create
                if cur["c"] is None:              # only_if_null: first fill
                    cur["c"] = c
            else:
                state[k] = {"a": a, "b": b, "c": c}
                created_keys.add(k)
        updated = sum(1 for k in orig if state[k] != orig[k])
        return state, len(created_keys), updated, missing

    @given(tgt_strat, src_strat)
    @settings(max_examples=10, deadline=None)
    def check(tgt, rows):
        target_df = spark.createDataFrame(
            [(k, v[0], v[1], v[2]) for k, v in tgt.items()], schema
        )
        target = TargetTable(schema=schema, df=target_df, primary_keys=("id",))
        job = ImportJob(
            spark,
            target,
            sources=[GeneratorSource([list(r) for r in rows], M(), name="s")],
            dryrun=True,
        )
        res = job.run()
        want_tbl, created, updated, missing = reference(tgt, rows)
        got = {
            r.id: {"a": r.a, "b": r.b, "c": r.c} for r in job.result_df.collect()
        }
        assert got == want_tbl
        assert res["created"] == created
        assert res["updated"] == updated
        assert res["sources"][0]["ignored_missing_id"] == missing

    check()


def test_merge_policy_matrix_matches_python_reference(spark):
    """Generalized randomized policy-matrix test (r7 verdict item 8):
    per-column policies (normal / should_update=False / only_if_null),
    custom comparators, and per-source ImportModes are all RANDOMIZED,
    over two or three sequential sources (cross-source pending visibility
    inside one merge pass: they share the key), and
    checked against a row-at-a-time Python loop transcribing the
    reference engine's semantics (importtask.py:225-297: pending-or-
    stored old value, comparator no-op skip, cancel back to the stored
    attribute, per-mode gating and counters).

    Two distinct bad-input channels, both randomized:
    - column c uses the auto str2intnullable parser, which SWALLOWS a
      non-int string to a legitimate None VALUE (formatting.py:231-243)
      — it flows through comparators/cancel like any value (an earlier
      draft of this test treated it as an error and the mismatch
      surfaced exactly this semantic);
    - column d uses a PyParser whose int() RAISES, exercising the true
      per-column error path (keep-old + warn, importtask.py:261-284).

    Comparator columns are compared MODULO the comparator: when a run of
    comparator-equal but raw-different values folds (e.g. "B" then "b"
    under case-insensitive), the reference keeps the FIRST representative
    (its no-op skip fires row-at-a-time) while the per-source fold keeps
    the LAST; both land in the same equivalence class, and every counter
    (created/updated/read/ignored_*) is representative-independent, so
    the class, not the representative, is the contract.

    Also randomized: per-column keep_history flags (the history-flag
    set/discard rules of set_updated_value_for / cancel_updated_value_for,
    importtask.py:152-179) checked through the history_created counter,
    and the per-source not_found counter (dataNotRead is discarded on any
    imported key match BEFORE mode gating, importtask.py:245).

    MERGE_FUZZ_EXAMPLES overrides the example count (the verdict gate ran
    at 200; the default keeps the suite fast)."""
    import os

    from hypothesis import given, settings, strategies as st

    from simpletasks_data_spark.mapping import PyParser

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("a", T.StringType(), True),
        T.StructField("b", T.StringType(), True),
        T.StructField("c", T.LongType(), True),
        T.StructField("d", T.LongType(), True),
    ])
    COLS = ("a", "b", "c", "d")
    POL = ["normal", "noupd", "ifnull"]

    def spark_ci(n, o):
        from pyspark.sql import functions as F
        return F.lower(n).eqNullSafe(F.lower(o))

    def py_ci(n, o):
        ln = n.lower() if isinstance(n, str) else n
        lo = o.lower() if isinstance(o, str) else o
        return ln == lo

    def py_eq(n, o):
        return n == o

    def make_mapping(pols, ci_a, khs):
        class M(Mapping):
            def __init__(self):
                super().__init__()
                self.id = self.auto()
                for col in COLS:
                    kw = {"keep_history": khs[col]}
                    if pols[col] == "noupd":
                        kw["should_update"] = False
                    elif pols[col] == "ifnull":
                        kw["should_update_only_if_null"] = True
                    if col == "a" and ci_a:
                        kw["comparator"] = spark_ci
                    if col == "d":
                        kw["parser"] = PyParser(lambda s: int(s), "long")
                    setattr(self, col, self.auto(**kw))

            def get_header_line_number(self):
                return -1

        return M()

    def swallow_int(raw):
        try:
            return int(raw)
        except ValueError:
            return None  # str2intnullable: bad int -> legitimate None

    def reference(tgt, sources):
        """Row-at-a-time transcription of the reference loop. tgt maps
        key -> {a, b, c, d}; sources are (mode, pols, ci_a, khs, rows)."""
        orig = {k: dict(v) for k, v in tgt.items()}
        state = {k: dict(v) for k, v in tgt.items()}
        flags = {}    # key -> set of history-flagged column names
        pending = {}  # key -> set of columns with a live pending update
        created = set()
        per_src = []
        any_ci_a = False
        for mode, pols, ci_a, khs, rows in sources:
            any_ci_a = any_ci_a or ci_a
            read = missing = not_created = not_updated = 0
            start_keys = set(state)  # dataNotRead snapshot (per source)
            matched = set()
            comps = {"a": py_ci if ci_a else py_eq, "b": py_eq, "c": py_eq, "d": py_eq}
            for key_s, a_s, b_s, c_s, d_s in rows:
                if key_s == "":
                    missing += 1
                    continue
                k = int(key_s)
                if k in start_keys:
                    matched.add(k)  # discard happens BEFORE mode gating
                creating = k not in state
                if creating:
                    if not (mode & ImportMode.CREATE):
                        not_created += 1
                        continue
                    item = {c: None for c in COLS}
                    stored = {c: None for c in COLS}
                else:
                    if not (mode & ImportMode.UPDATE):
                        not_updated += 1
                        continue
                    item = state[k]
                    stored = orig.get(k, {c: None for c in COLS})
                for name, raw in zip(COLS, (a_s, b_s, c_s, d_s)):
                    if not creating and pols[name] == "noupd":
                        continue
                    old = item[name]
                    if not creating and pols[name] == "ifnull" and old is not None:
                        continue
                    if name == "c":
                        new = swallow_int(raw)
                    elif name == "d":
                        try:
                            new = int(raw)
                        except ValueError:
                            continue  # true parse ERROR: keep old, warn only
                    else:
                        new = raw
                    if not comps[name](new, old):
                        if comps[name](new, stored[name]):
                            item[name] = stored[name]  # duplicate cancel
                            flags.setdefault(k, set()).discard(name)
                            pending.setdefault(k, set()).discard(name)
                        else:
                            item[name] = new
                            pending.setdefault(k, set()).add(name)
                            if not creating and khs[name]:
                                flags.setdefault(k, set()).add(name)
                read += 1
                if creating:
                    state[k] = item
                    created.add(k)
            per_src.append({
                "read": read, "ignored_missing_id": missing,
                "ignored_not_created": not_created,
                "ignored_not_updated": not_updated,
                "not_found": len(start_keys) - len(matched),
            })
        # Counters transcribe the reference's pending-dict semantics
        # faithfully: an item is updated while its pending dict is
        # nonempty (set adds, cancel removes — importtask.py:313-341);
        # history fires for a stored item with a flagged pending column.
        # Both are representative-independent, so no modulo-comparator
        # handling is needed here (a comparator-equal-to-stored value can
        # never sit in pending: the write path skips it and the cancel
        # path removes it, under the WRITING source's comparator).
        updated = sum(1 for k in orig if pending.get(k))
        history_created = sum(
            1 for k in orig
            if any(c in pending.get(k, ()) for c in flags.get(k, ()))
        )
        return state, created, updated, history_created, per_src, any_ci_a

    letters_a = st.sampled_from(["a", "A", "b", "B"])
    letters_b = st.sampled_from(["x", "y", "z"])
    int_vals = st.sampled_from([str(i) for i in range(10)] + ["x"])
    tgt_strat = st.dictionaries(
        st.integers(1, 6),
        st.fixed_dictionaries({
            "a": st.one_of(st.none(), letters_a),
            "b": st.one_of(st.none(), letters_b),
            "c": st.one_of(st.none(), st.integers(0, 9)),
            "d": st.one_of(st.none(), st.integers(0, 9)),
        }),
        max_size=5,
    )
    row_strat = st.tuples(
        st.sampled_from([""] + [str(i) for i in range(1, 10)]),
        letters_a, letters_b, int_vals, int_vals,
    )
    pol_strat = st.fixed_dictionaries({c: st.sampled_from(POL) for c in COLS})
    kh_strat = st.fixed_dictionaries({c: st.booleans() for c in COLS})
    src_strat = st.tuples(
        st.sampled_from([ImportMode.CREATE, ImportMode.UPDATE, ImportMode.CREATE_AND_UPDATE]),
        pol_strat,
        st.booleans(),                  # ci comparator on a
        kh_strat,                       # keep_history per column
        st.lists(row_strat, max_size=8),
    )

    @given(tgt_strat, st.lists(src_strat, min_size=2, max_size=3))
    @settings(
        max_examples=int(os.environ.get("MERGE_FUZZ_EXAMPLES", "25")),
        deadline=None,
    )
    def check(tgt, srcs):
        target_df = spark.createDataFrame(
            [(k, v["a"], v["b"], v["c"], v["d"]) for k, v in tgt.items()], schema
        )
        target = TargetTable(schema=schema, df=target_df, primary_keys=("id",))
        job = ImportJob(
            spark,
            target,
            sources=[
                GeneratorSource([list(r) for r in s[4]], make_mapping(s[1], s[2], s[3]),
                                mode=s[0], name=f"s{i}")
                for i, s in enumerate(srcs)
            ],
            keep_history=True,
            dryrun=True,
        )
        res = job.run()
        want, created, updated, history_created, per_src, any_ci_a = reference(tgt, srcs)

        got = {
            r.id: {"a": r.a, "b": r.b, "c": r.c, "d": r.d}
            for r in job.result_df.collect()
        }
        assert set(got) == set(want)
        for k in want:
            for col in ("b", "c", "d"):
                assert got[k][col] == want[k][col], (k, col, got[k], want[k])
            if any_ci_a:
                ga, wa = got[k]["a"], want[k]["a"]
                assert (ga is None) == (wa is None) and (
                    ga is None or ga.lower() == wa.lower()
                ), (k, got[k], want[k])
            else:
                assert got[k]["a"] == want[k]["a"], (k, got[k], want[k])
        assert res["created"] == len(created)
        assert res["updated"] == updated
        assert res["history_created"] == history_created
        for i in range(len(srcs)):
            for key, val in per_src[i].items():
                assert res["sources"][i][key] == val, (i, key, res["sources"][i], per_src[i])

    check()

"""Source adapters: CSV file order, header skip, table source."""

import os

from pyspark.sql import functions as F

from simpletasks_data_spark.mapping import Field, Mapping
from simpletasks_data_spark.plans import ImportJob, TargetTable
from simpletasks_data_spark.sources import CsvSource, TableSource
from simpletasks_data_spark.sources.base import SRC_POS

from test_importjob_e2e import LENGTHS, TARGET_SCHEMA, MappingA


def test_csv_source_order_and_quotes(spark, tmp_path):
    p = os.path.join(tmp_path, "src.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write('id,col1,col2,col3,col4,col5\n')
        f.write('1,"A,B",c2,c3,c4,5\n')
        f.write('2,x,y,z,w,6\n')
    src = CsvSource(p, MappingA())
    df = src.load_raw(spark).orderBy(SRC_POS)
    rows = df.collect()
    assert [r[SRC_POS] for r in rows] == [0, 1, 2]
    assert rows[1]._c1 == "A,B"  # quoted comma preserved

    target = TargetTable(
        schema=TARGET_SCHEMA,
        df=spark.createDataFrame([], TARGET_SCHEMA),
        primary_keys=("id",),
        lengths=LENGTHS,
    )
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["created"] == 2
    out = {r.id: r for r in job.result_df.collect()}
    assert out[1].col1 == "A"  # "A,B" truncated to length 1
    assert out[2].col5 == 6


def test_csv_unordered_path(spark, tmp_path):
    p = os.path.join(tmp_path, "u.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write("id,col1\n10,aa\n20,bb\n")
    src = CsvSource(p, MappingA(), ordered=False)
    df = src.load_raw(spark)
    assert SRC_POS in df.columns
    assert df.count() == 3


def test_table_source(spark):
    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = Field("s_id")
            self.col1 = Field("s_name")

    sdf = spark.createDataFrame([(1, "Q"), (9, "R")], "s_id long, s_name string")
    target = TargetTable(
        schema=TARGET_SCHEMA,
        df=spark.createDataFrame([(1, "A", None, None, None, None, None)], TARGET_SCHEMA),
        primary_keys=("id",),
        lengths=LENGTHS,
    )
    src = TableSource(sdf, M(), name="tbl")
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["created"] == 1
    assert res["updated"] == 1
    out = {r.id: r for r in job.result_df.collect()}
    assert out[1].col1 == "Q"
    assert out[9].col1 == "R"


def test_ordered_csv_datasource(spark, tmp_path, monkeypatch):
    """The ordered CSV scan: exact file order, multiline quoted records
    (which the per-line from_csv path cannot handle). With
    ``maxRecordsPerBatch`` at 3, a 10-row file reads back the same rows
    and positions, and the scan yields no batch over 3 rows."""
    import os

    import pyarrow as pa

    p = os.path.join(tmp_path, "multi.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write('id,note\n')
        f.write('1,"line one\nline two"\n')
        f.write('2,plain\n')
    df = CsvSource(p, MappingA(), num_columns=2).load_raw(spark).orderBy("_src_pos")
    rows = df.collect()
    assert [r._src_pos for r in rows] == [0, 1, 2]
    assert rows[1]._c1 == "line one\nline two"  # multiline quoted record
    assert rows[2]._c0 == "2"

    ten = os.path.join(tmp_path, "ten.csv")
    with open(ten, "w", encoding="utf-8") as f:
        f.writelines(f'{i},"v\n{i}"\n' for i in range(10))
    want = [(str(i), f"v\n{i}", i) for i in range(10)]
    read = lambda: [  # noqa: E731
        (r._c0, r._c1, r._src_pos)
        for r in CsvSource(ten, MappingA(), num_columns=2).load_raw(spark)
        .orderBy("_src_pos").collect()
    ]
    assert read() == want
    frame = type(spark.range(1))
    map_in_arrow, scans = frame.mapInArrow, []
    monkeypatch.setattr(
        frame, "mapInArrow", lambda self, f, *a, **k: scans.append(f) or map_in_arrow(self, f, *a, **k)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "3")
    try:
        assert read() == want
    finally:
        spark.conf.unset(key)
    ids = pa.RecordBatch.from_arrays([pa.array([0], pa.int64())], names=["id"])
    batches = list(scans[-1](iter([ids])))
    assert [b.num_rows for b in batches] == [3, 3, 3, 1]
    got = [r for b in batches for r in zip(*(c.to_pylist() for c in b.columns))]
    assert got == want


def test_ordered_csv_datasource_multifile(spark, tmp_path):
    import os

    for i, name in enumerate(["a.csv", "b.csv"]):
        with open(os.path.join(tmp_path, name), "w", encoding="utf-8") as f:
            f.write(f"{i}0\n{i}1\n")
    df = CsvSource(str(tmp_path), MappingA(), num_columns=1).load_raw(spark).orderBy("_src_pos")
    vals = [r._c0 for r in df.collect()]
    assert vals == ["00", "01", "10", "11"]  # file order then line order


def test_csv_source_datasource_engine(spark, tmp_path):
    """CsvSource(engine='datasource') runs the full import through the
    ordered ``csv.reader`` scan."""
    import os

    p = os.path.join(tmp_path, "src2.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write("id,col1,col2,col3,col4,col5\n3,Z,y,x,w,7\n")
    src = CsvSource(p, MappingA(), engine="datasource")
    target = TargetTable(
        schema=TARGET_SCHEMA,
        df=spark.createDataFrame([], TARGET_SCHEMA),
        primary_keys=("id",),
        lengths=LENGTHS,
    )
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["created"] == 1
    out = job.result_df.collect()[0]
    assert (out.id, out.col1, out.col5) == (3, "Z", 7)


def test_csv_default_path_multiline_quoted(spark, tmp_path):
    """The DEFAULT ordered CSV path parses multi-line quoted records like
    the reference's csv.reader (importsource.py:167-170)."""
    p = os.path.join(tmp_path, "ml.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write('id,col1,col2,col3,col4,col5\n')
        f.write('1,"A\nB",c2,c3,c4,5\n')
        f.write('2,x,y,z,w,6\n')
    src = CsvSource(p, MappingA())  # default engine
    df = src.load_raw(spark).orderBy(SRC_POS)
    rows = df.collect()
    assert len(rows) == 3                 # 2 records + header, not 4 lines
    assert rows[1]._c1 == "A\nB"

    target = TargetTable(
        schema=TARGET_SCHEMA,
        df=spark.createDataFrame([], TARGET_SCHEMA),
        primary_keys=("id",),
        lengths=LENGTHS,
    )
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["created"] == 2


def test_csv_rdd_engine_still_available(spark, tmp_path):
    p = os.path.join(tmp_path, "r.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write("id,col1\n5,zz\n")
    src = CsvSource(p, MappingA(), engine="rdd")
    rows = src.load_raw(spark).orderBy(SRC_POS).collect()
    assert [r[SRC_POS] for r in rows] == [0, 1]
    assert rows[1]._c0 == "5"


def test_field_relation_join_null_shortcircuit(spark):
    """Field('rel.attr') over a declared relation: missing FK rows resolve
    to NULL through the packed struct (reference mapping.py:359-365)."""
    from pyspark.sql import types as T

    from simpletasks_data_spark.sources import Relation

    schema = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("dept_name", T.StringType(), True),
    ])
    emp = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 99)], "id long, dept_id long"
    )
    dept = spark.createDataFrame([(10, "Eng"), (20, "Ops")], "dept_id long, name string")

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = Field("id")
            self.dept_name = Field("dept.name")

    src = TableSource(emp, M(), relations={"dept": Relation(dept, "dept_id", "dept_id")})
    target = TargetTable(
        schema=schema, df=spark.createDataFrame([], schema), primary_keys=("id",)
    )
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["created"] == 4
    out = {r.id: r.dept_name for r in job.result_df.collect()}
    assert out == {1: "Eng", 2: "Ops", 3: None, 4: None}


def test_jsonl_source_corrupt_line_and_merge(spark, tmp_path):
    """A malformed JSONL line parses PERMISSIVE to an all-null row; the
    merge counts it ignored_missing_id instead of aborting."""
    from pyspark.sql import types as T

    from simpletasks_data_spark.sources import JsonlSource

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "txt": "alpha"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "txt": "beta"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("txt", T.StringType())]
    )

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = Field("id")
            self.txt = Field("txt")

        def get_key_column_name(self):
            return "id"

    src = JsonlSource(str(p), M(), schema=schema)
    raw = src.load_raw(spark)
    assert raw.count() == 3
    assert raw.where(F.col("id").isNull()).count() == 1
    assert SRC_POS in raw.columns

    target = TargetTable(
        schema=schema, df=spark.createDataFrame([], schema), primary_keys=("id",)
    )
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["created"] == 2
    assert res["sources"][0]["ignored_missing_id"] == 1
    assert {r.id: r.txt for r in job.result_df.collect()} == {1: "alpha", 2: "beta"}


def test_write_corpus_partitioned_layout(spark, tmp_path):
    """Hive partition dirs exist, file sizes are bounded by
    maxRecordsPerFile, and the round trip preserves every row."""
    import glob

    from simpletasks_data_spark.plans.export import write_corpus

    d = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr", f"text {i}") for i in range(100)],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "corpus")
    write_corpus(d, out, partition_by=("lang",), max_records_per_file=20,
                 sort_within_partitions=("doc_id",))
    assert sorted(
        p.rsplit("=", 1)[-1] for p in glob.glob(out + "/lang=*")
    ) == ["en", "fr"]
    for part in glob.glob(out + "/lang=*"):
        for f in glob.glob(part + "/*.parquet"):
            import pyarrow.parquet as pq
            assert pq.read_metadata(f).num_rows <= 20
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert sorted(r["doc_id"] for r in back.collect()) == list(range(100))


def test_jdbc_source_plumbing_and_merge(spark, monkeypatch):
    """JdbcSource with a stubbed reader (no JDBC driver jars in this env):
    pins the format/url/dbtable/property plumbing and proves the inherited
    TableSource contract (SRC_POS ordering, relation attachment, full
    merge through ImportJob) applies to the JDBC path unchanged."""
    from pyspark.sql import types as T

    from simpletasks_data_spark.mapping import ComputedField
    from simpletasks_data_spark.sources import JdbcSource
    from simpletasks_data_spark.sources.table import Relation

    rows = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, nat long"
    )
    seen = {}

    class _FakeReader:
        def format(self, fmt):
            seen["format"] = fmt
            return self

        def option(self, k, v):
            seen.setdefault("options", {})[k] = v
            return self

        def load(self):
            return rows

    monkeypatch.setattr(type(spark), "read", property(lambda self: _FakeReader()))

    nations = spark.createDataFrame([(10, "FR"), (20, "DE")], "nkey long, nname string")

    class _M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = Field("id")
            self.name = Field("name")
            self.nation_name = Field("nat_rel.nname")

        def get_key_column_name(self):
            return "id"

    src = JdbcSource(
        "jdbc:postgresql://db:5432/x",
        "public.items",
        _M(),
        properties={"driver": "org.postgresql.Driver", "fetchsize": "1000"},
        order_col="id",
        relations={"nat_rel": Relation(nations, local_key="nat", foreign_key="nkey", broadcast=True)},
    )
    raw = src.load_raw(spark)
    assert seen["format"] == "jdbc"
    assert seen["options"]["url"] == "jdbc:postgresql://db:5432/x"
    assert seen["options"]["dbtable"] == "public.items"
    assert seen["options"]["driver"] == "org.postgresql.Driver"
    got = {r.id: r for r in raw.collect()}
    assert [got[i][SRC_POS] for i in (1, 2, 3)] == [1, 2, 3]  # order_col ordering
    assert got[1].nat_rel.nname == "FR" and got[3].nat_rel is None  # relation + null path

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("nation_name", T.StringType(), True),
        ]
    )
    target = TargetTable(schema=schema, df=spark.createDataFrame([], schema), primary_keys=("id",))
    res = ImportJob(spark, target, sources=[src], dryrun=True).run()
    assert res["created"] == 3


def test_xml_source_escaping_and_merge(spark, tmp_path):
    """XML records with entity-escaped special characters round-trip
    losslessly through the native rowTag parser; records missing the key
    element parse to NULL ids and count ignored, not fatal."""
    from pyspark.sql import types as T

    from simpletasks_data_spark.sources import XmlSource

    p = tmp_path / "dump.xml"
    p.write_text(
        "<rows>\n"
        "<doc><id>1</id><txt>a &lt;tag&gt; &amp; more</txt></doc>\n"
        "<doc><txt>no id element</txt></doc>\n"
        "<doc><id>2</id><txt>beta</txt></doc>\n"
        "</rows>\n"
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("txt", T.StringType())]
    )

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = Field("id")
            self.txt = Field("txt")

        def get_key_column_name(self):
            return "id"

    src = XmlSource(str(p), M(), schema=schema, row_tag="doc")
    raw = src.load_raw(spark)
    assert raw.count() == 3
    assert SRC_POS in raw.columns

    target = TargetTable(
        schema=schema, df=spark.createDataFrame([], schema), primary_keys=("id",)
    )
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    assert res["created"] == 2
    assert res["sources"][0]["ignored_missing_id"] == 1
    assert {r.id: r.txt for r in job.result_df.collect()} == {
        1: "a <tag> & more", 2: "beta"
    }


def test_fixed_width_source_slices_trims_and_merges(spark, tmp_path):
    """Fixed-width lines slice on declared widths, right-trim padding,
    blank fields go NULL, and file order drives last-wins."""
    from pyspark.sql import types as T

    from simpletasks_data_spark.sources import FixedWidthSource

    p = tmp_path / "extract.txt"
    # widths: id=4, name=8, qty=4
    p.write_text(
        "1   alpha   12  \n"
        "2   beta      7 \n"
        "1   gamma   99  \n"   # duplicate key: file order -> gamma wins
        "3           5   \n"   # blank name -> NULL
    )

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.name = self.auto()
            self.qty = self.auto()

        def get_key_column_name(self):
            return "id"

        def get_header_line_number(self):
            return -1

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("qty", T.LongType()),
        ]
    )
    src = FixedWidthSource(str(p), M(), widths=[4, 8, 4])
    raw = src.load_raw(spark)
    assert raw.columns == ["_c0", "_c1", "_c2", SRC_POS]
    target = TargetTable(
        schema=schema, df=spark.createDataFrame([], schema), primary_keys=("id",)
    )
    job = ImportJob(spark, target, sources=[src], dryrun=True)
    res = job.run()
    got = {r.id: (r.name, r.qty) for r in job.result_df.collect()}
    assert got == {1: ("gamma", 99), 2: ("beta", 7), 3: (None, 5)}
    assert res["created"] == 3


def test_ordered_csv_datasource_splittable(spark, tmp_path, monkeypatch):
    """Byte-range splits (VERDICT r10 item 2): a single file torn into
    many line-aligned splits must come back in exact file order with
    strictly increasing positions, and quoted-comma cells must survive
    a boundary landing anywhere (no multi-line records on this path)."""
    import os

    from simpletasks_data_spark.sources import ordered_csv

    p = os.path.join(tmp_path, "big.csv")
    with open(p, "w", encoding="utf-8", newline="") as f:
        for i in range(500):
            f.write(f'{i},"v,{i}",tail{i}\r\n')
    monkeypatch.setattr(ordered_csv, "_SPLIT_BYTES", 256)  # ~tens of splits over this file
    df = (
        CsvSource(p, MappingA(), num_columns=3, splittable=True)
        .load_raw(spark)
        .orderBy("_src_pos")
    )
    rows = df.collect()
    assert [r._c0 for r in rows] == [str(i) for i in range(500)]
    assert [r._c1 for r in rows] == [f"v,{i}" for i in range(500)]
    pos = [r._src_pos for r in rows]
    assert pos == sorted(pos) and len(set(pos)) == 500
    # the planner really did split the file
    assert len(ordered_csv.plan_groups(p, splittable=True)) > 10
    # split 0 carries the dense 0..N prefix the header-skip gate needs
    assert pos[:3] == [0, 1, 2]


def test_ordered_csv_sizes_schema_without_a_job(spark, tmp_path):
    """With no num_columns the connector counts the first line's cells
    itself: the first non-empty file in sorted order, the same width the
    old ``spark.read.text(path).limit(1)`` sniff found, and no Spark job.
    num_columns= still wins."""
    (tmp_path / "a.csv").write_text("")
    (tmp_path / "b.csv").write_text("1,2,3\n4,5,6\n")
    (tmp_path / "c.csv").write_text("7,8,9\n")
    path = str(tmp_path)
    first = spark.read.text(path).limit(1).collect()
    old_width = first[0].value.count(",") + 1

    sc = spark.sparkContext
    sc.setJobGroup("ordered-csv-sniff", "schema sizing")
    try:
        df = CsvSource(path, MappingA()).load_raw(spark)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("ordered-csv-sniff")) == []
    assert df.columns == [f"_c{i}" for i in range(old_width)] + [SRC_POS]
    assert [r._c2 for r in df.orderBy(SRC_POS).collect()] == ["3", "6", "9"]

    narrow = CsvSource(path, MappingA(), num_columns=2).load_raw(spark)
    assert narrow.columns == ["_c0", "_c1", SRC_POS]


def test_ordered_csv_loads_on_a_second_session(spark, tmp_path):
    """A CSV load works on ``spark.newSession()`` after one on the first
    session: the scan needs no per-session registration."""
    (tmp_path / "a.csv").write_text("1,2\n3,4\n")
    read = lambda s: [  # noqa: E731
        tuple(r) for r in CsvSource(str(tmp_path), MappingA()).load_raw(s).orderBy(SRC_POS).collect()
    ]
    first = read(spark)
    assert first == [("1", "2", 0), ("3", "4", 1)]
    other = spark.newSession()
    assert read(other) == first
    assert read(other) == first


def test_ordered_csv_packs_small_files_into_one_partition(spark, tmp_path, monkeypatch):
    """Whole small files share one read partition (one Python task), read
    in file order with the per-file ``_src_pos`` layout unchanged."""
    from simpletasks_data_spark.sources import ordered_csv

    for i in range(3):
        (tmp_path / f"f{i}.csv").write_text(f"{i}a,x\n{i}b,y\n")
    parts = ordered_csv.plan_groups(str(tmp_path))
    assert len(parts) == 1
    df = CsvSource(str(tmp_path), MappingA()).load_raw(spark)
    got = [(r._c0, r[SRC_POS]) for r in df.orderBy(SRC_POS).collect()]
    assert got == [(f"{i}{c}", (i << 40) | j) for i in range(3) for j, c in enumerate("ab")]

    # a cap of two files' size splits the group, still in file order
    monkeypatch.setattr(ordered_csv, "_PACK_BYTES", 20)
    split = ordered_csv.plan_groups(str(tmp_path))
    assert [[i for i, _ in p.files] for p in split] == [[0, 1], [2]]
    per_part = [row for p in split for row in ordered_csv.read_group(p, 2)]
    assert [(c0, pos) for c0, _, pos in per_part] == got


def test_ordered_csv_keeps_medium_files_one_partition_each(tmp_path):
    """Files too big to pair under the packing cap keep one read
    partition (one Python task) each, so a directory of medium files
    still scans on every core."""
    from simpletasks_data_spark.sources import ordered_csv

    half = ordered_csv._PACK_BYTES // 2 + 1
    for i in range(3):
        (tmp_path / f"f{i}.csv").write_bytes(b"a,b\n" * (half // 4 + 1))
    (tmp_path / "f3.csv").write_text("a,b\n")
    parts = ordered_csv.plan_groups(str(tmp_path))
    assert [[i for i, _ in p.files] for p in parts] == [[0], [1], [2, 3]]

"""Column-operator unit tests, ported from the reference's
``tests/mapping_columns_test.py``: each operator in isolation, binding /
auto-numbering, out-of-range modes, computed with NULL inputs, static,
field paths — plus the Python-callable parser/computer fallback (PyParser /
PyComputer pandas-UDF path with err-channel exception tolerance)."""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simpletasks_data_spark.mapping import (
    Column,
    ComputedColumn,
    ComputedField,
    Field,
    Mapping,
    PyComputer,
    PyParser,
    StaticColumn,
)

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("score", T.LongType(), True),
])


def src_df(spark, rows, ncols=3):
    data = [tuple(list(r) + [None] * (ncols - len(r)))[:ncols] for r in rows]
    return spark.createDataFrame(data, ", ".join(f"_c{i} string" for i in range(ncols)))


def test_auto_numbering_and_col_reset():
    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.name = self.col("D")
            self.score = self.auto()

    m = M()
    cols = dict(m.get_columns())
    assert cols["id"].column_number == 0
    assert cols["name"].column_number == 3   # "D"
    assert cols["score"].column_number == 4  # counter reset to D+1


def test_binding_infers_parsers(spark):
    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.name = self.auto()
            self.score = self.auto()

    bound = M().bind(SCHEMA, lengths={"name": 4})
    df = src_df(spark, [["7", "  toolong  ", "12"], ["x", "", "4.5"]])
    sel = []
    for bc in bound.columns:
        v, e = bc.exprs(df)
        sel.append(v.alias(bc.name))
    out = df.select(*sel).collect()
    assert (out[0].id, out[0].name, out[0].score) == (7, "tool", 12)
    assert (out[1].id, out[1].name, out[1].score) == (None, None, None)


def test_binding_infers_parser_for_timestamp_ntz(spark):
    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.ts = self.auto()

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), True),
    ])
    bound = M().bind(schema)
    df = src_df(spark, [["1", "24/01/2020 03:04:05"]], ncols=2)
    v, e = bound.column("ts").exprs(df)
    row = df.select(v.alias("v"), e.alias("e")).collect()[0]
    # wall-clock value kept: the session timezone is UTC
    assert row.v == datetime.datetime(2020, 1, 24, 3, 4, 5)
    assert row.e is False


def test_out_of_range_modes(spark):
    df = src_df(spark, [["a", "b"]], ncols=2)
    strict = Column(5)
    with pytest.raises(IndexError):
        strict.raw_expr(df)
    lenient = Column(5, fail_on_out_of_range=False)
    row = df.select(lenient.raw_expr(df).alias("v")).collect()[0]
    assert row.v == ""


def test_static_column(spark):
    df = src_df(spark, [["x"]], ncols=1)
    spec = StaticColumn(42)
    v, e = spec.value_err_exprs(df, T.StructField("score", T.LongType()))
    row = df.select(v.alias("v"), e.alias("e")).collect()[0]
    assert row.v == 42 and row.e is False


def test_computed_column_native_with_nulls(spark):
    from simpletasks_data_spark.functions.parsing import str2intnullable

    df = src_df(spark, [["1", "2"], ["", "3"]], ncols=2)
    spec = ComputedColumn(
        [Column(0, parser=str2intnullable), Column(1, parser=str2intnullable)],
        lambda cols: cols[0] + cols[1],  # NULL propagates like Python None would raise
    )
    v, e = spec.value_err_exprs(df, T.StructField("score", T.LongType()))
    out = df.select(v.alias("v")).collect()
    assert out[0].v == 3
    assert out[1].v is None


def test_pyparser_catches_tolerated_exceptions(spark):
    def parse(v):
        if v == "boom":
            raise ValueError("bad")
        return int(v) * 2

    df = src_df(spark, [["3"], ["boom"]], ncols=1)
    spec = Column(0, parser=PyParser(parse, "long"))
    v, e = spec.value_err_exprs(df, T.StructField("score", T.LongType()))
    out = df.select(v.alias("v"), e.alias("e")).collect()
    assert (out[0].v, out[0].e) == (6, False)
    assert (out[1].v, out[1].e) == (None, True)


def test_pycomputer(spark):
    lookup = {"abc": 10}

    def compute(vals):
        return int(vals[0]) + lookup[vals[1]]  # KeyError on unknown -> tolerated

    df = src_df(spark, [["2", "abc"], ["5", "nope"]], ncols=2)
    spec = ComputedColumn(
        [Column(0), Column(1)], PyComputer(compute, "long")
    )
    spec.columns[0].parser = lambda c: c  # identity native parsers
    spec.columns[1].parser = lambda c: c
    v, e = spec.value_err_exprs(df, T.StructField("score", T.LongType()))
    out = df.select(v.alias("v"), e.alias("e")).collect()
    assert (out[0].v, out[0].e) == (12, False)
    assert (out[1].v, out[1].e) == (None, True)  # KeyError -> err channel


def test_field_dotted_struct_path(spark):
    df = spark.createDataFrame(
        [(1, {"inner": {"x": "deep"}}), (2, None)],
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("nested", T.StructType([
                T.StructField("inner", T.StructType([T.StructField("x", T.StringType())])),
            ])),
        ]),
    )
    spec = Field("nested.inner.x")
    v, _ = spec.value_err_exprs(df, None)
    out = df.select(v.alias("v")).orderBy("k").collect()
    assert out[0].v == "deep"
    assert out[1].v is None  # NULL short-circuit like the reference's _get


def test_computed_field(spark):
    df = spark.createDataFrame([(2.0, 3.0)], "a double, b double")
    spec = ComputedField([Field("a"), Field("b")], lambda cols: cols[0] * cols[1])
    v, _ = spec.value_err_exprs(df, None)
    assert df.select(v.alias("v")).collect()[0].v == 6.0


def test_key_column_required():
    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.name = self.auto()

    with pytest.raises(ValueError, match="key column"):
        M().bind(SCHEMA)

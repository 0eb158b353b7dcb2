"""Declarative source->target column mapping, compiled to Catalyst expressions.

Re-expresses the reference's ``Mapping`` layer
(``/root/reference/simpletasks_data/mapping.py:31-633``): a Mapping is a
Python class whose instance attributes are column operators; the attribute
name is the destination field name. Here each operator compiles to a pair of
Spark Column expressions — ``value`` (typed parse result) and ``err`` (true
where the reference parser would have raised; see
``functions.parsing`` docstring) — which the merge planner assembles into one
projection. Catalyst evaluates each named projection expression once per row
(CSE), which subsumes the reference's per-row ``_Caching`` memoization
(``mapping.py:27-28, 174-179``).

Parser/computer/comparator callables come in two flavors:

- **native** (preferred): ``SparkParser`` or any callable ``Column ->
  Column`` — stays JVM-side in whole-stage codegen;
- **python** (fallback): wrap a plain ``str -> T`` callable in
  :class:`PyParser` (or ``Sequence -> T`` in :class:`PyComputer`) — runs as
  an Arrow-batched pandas UDF that catches ``ValueError/KeyError/
  AttributeError`` into the err channel, mirroring the import loop's
  tolerance (``importtask.py:278-284``).

Parser inference from the target schema mirrors ``_complete_from_model``
(``mapping.py:578-604``): boolean -> str2boolnullable, integral ->
str2intnullable, fractional -> str2floatnullable, string ->
str2strnullable(length) (length from Varchar/Char type or the
``lengths`` dict), date -> parseShittyDateAsDate, timestamp ->
parseShittyDateTime, day-time interval -> parseShittyTime; anything else
requires an explicit parser.
"""

from __future__ import annotations

from typing import Any, Callable, List, Optional, Sequence, Tuple, Union

import pandas as pd
from pyspark.sql import Column as SqlCol
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.parsing import (
    SparkParser,
    create_str2strnullable,
    parse_shitty_date_as_date,
    parse_shitty_datetime,
    parse_shitty_time,
    str2boolnullable,
    str2floatnullable,
    str2intnullable,
)
from .helpers import col2num

__all__ = [
    "Mapping",
    "Column",
    "ComputedColumn",
    "StaticColumn",
    "Field",
    "ComputedField",
    "PyParser",
    "PyComputer",
    "BoundColumn",
    "BoundMapping",
]

ParserLike = Union[SparkParser, Callable[[SqlCol], SqlCol], "PyParser"]


class PyParser:
    """Adapter for an arbitrary Python ``raw -> T`` parser (reference UDF
    surface, SURVEY §2.7). Runs as an Arrow-batched pandas UDF; the three
    tolerated exception types land in the err channel instead of failing
    the job."""

    def __init__(self, fn: Callable[[Any], Any], return_type: Union[str, T.DataType, None] = None):
        self.fn = fn
        self.return_type = return_type


class PyComputer:
    """Adapter for a Python ``Sequence[Any] -> T`` computer callback
    (reference ``ComputedColumn``/``ComputedField``, ``mapping.py:188, 202``)."""

    def __init__(self, fn: Callable[[Sequence[Any]], Any], return_type: Union[str, T.DataType, None] = None):
        self.fn = fn
        self.return_type = return_type


class _ColumnSpec:
    """Base of all column operators: carries the per-column merge policy
    flags (reference ``_Column``, ``mapping.py:31-70``)."""

    def __init__(
        self,
        warn_on_error: bool = True,
        warn_if_empty: bool = False,
        should_update: bool = True,
        should_update_only_if_null: bool = False,
        keep_history: bool = False,
        comparator: Optional[Callable[[SqlCol, SqlCol], SqlCol]] = None,
        formatter: Optional[Callable[[SqlCol], SqlCol]] = None,
        header: Optional[str] = None,
    ) -> None:
        self.warn_on_error = warn_on_error
        self.warn_if_empty = warn_if_empty
        self.should_update = should_update
        self.should_update_only_if_null = should_update_only_if_null
        self.keep_history = keep_history
        self.comparator = comparator
        self.formatter = formatter
        self.header = header

    # -- compile hooks (implemented by concrete operators) -----------------
    def raw_expr(self, src: DataFrame) -> SqlCol:
        raise NotImplementedError

    def value_err_exprs(self, src: DataFrame, target_field: Optional[T.StructField]) -> Tuple[SqlCol, SqlCol]:
        raise NotImplementedError

    def compare_expr(self, new: SqlCol, old: SqlCol) -> SqlCol:
        """Equality under the column's comparator; default is null-safe ==,
        matching Python's ``None == None`` (``mapping.py:65``)."""
        if self.comparator is not None:
            return self.comparator(new, old)
        return new.eqNullSafe(old)


def _apply_parser(
    parser: Optional[ParserLike],
    raw: SqlCol,
    target_field: Optional[T.StructField],
    name_hint: str,
) -> Tuple[SqlCol, SqlCol]:
    """Compile a parser onto a raw column -> (value, err) expressions."""
    if parser is None:
        raise NotImplementedError(
            f"Could not find parser for column {name_hint}; "
            "provide one explicitly or bind the mapping to a target schema"
        )
    if isinstance(parser, SparkParser):
        return parser.value(raw), parser.err(raw)
    if isinstance(parser, PyParser):
        rt = parser.return_type or (target_field.dataType if target_field else T.StringType())
        rt_dt = T._parse_datatype_string(rt) if isinstance(rt, str) else rt
        struct_t = T.StructType(
            [T.StructField("value", rt_dt, True), T.StructField("err", T.BooleanType(), False)]
        )
        fn = parser.fn

        @F.pandas_udf(struct_t)
        def _py_parse(s: pd.Series) -> pd.DataFrame:
            vals, errs = [], []
            for v in s:
                try:
                    vals.append(fn(v))
                    errs.append(False)
                except (ValueError, KeyError, AttributeError):
                    vals.append(None)
                    errs.append(True)
            return pd.DataFrame({"value": vals, "err": errs})

        parsed = _py_parse(raw)
        return parsed.getField("value"), parsed.getField("err")
    # Plain callable: treated as native Column -> Column.
    return parser(raw), F.lit(False)


class Column(_ColumnSpec):
    """Positional CSV column + parser (reference ``Column``,
    ``mapping.py:100-179``). ``fail_on_out_of_range=False`` maps a missing
    cell to ``""``; Spark's PERMISSIVE CSV read yields NULL for ragged rows,
    so out-of-range tolerance is a ``coalesce`` and a strict miss surfaces
    as err (the reference raises IndexError and aborts — documented
    divergence: we flag the column instead of failing the job)."""

    def __init__(
        self,
        column_number: int,
        parser: Optional[ParserLike] = None,
        fail_on_out_of_range: bool = True,
        **policies: Any,
    ) -> None:
        super().__init__(**policies)
        self.column_number = column_number
        self.parser = parser
        self.fail_on_out_of_range = fail_on_out_of_range

    def raw_expr(self, src: DataFrame) -> SqlCol:
        name = f"_c{self.column_number}"
        if name not in src.columns:
            if self.fail_on_out_of_range:
                raise IndexError(f"Column {self.column_number} out of range for source {src.columns}")
            return F.lit("")
        c = F.col(name)
        return c if self.fail_on_out_of_range else F.coalesce(c, F.lit(""))

    def value_err_exprs(self, src: DataFrame, target_field: Optional[T.StructField]) -> Tuple[SqlCol, SqlCol]:
        return _apply_parser(self.parser, self.raw_expr(src), target_field, f"_c{self.column_number}")


class ComputedColumn(_ColumnSpec):
    """Value computed from N other columns (reference ``ComputedColumn``,
    ``mapping.py:182-255``). ``computer`` is native (list of Columns ->
    Column) or a :class:`PyComputer`."""

    def __init__(
        self,
        columns: Sequence[_ColumnSpec],
        computer: Union[Callable[[Sequence[SqlCol]], SqlCol], PyComputer],
        **policies: Any,
    ) -> None:
        super().__init__(**policies)
        if computer is None:
            raise ValueError("computer cannot be empty for ComputedColumn")
        self.columns = list(columns)
        self.computer = computer

    def value_err_exprs(self, src: DataFrame, target_field: Optional[T.StructField]) -> Tuple[SqlCol, SqlCol]:
        vals, errs = [], []
        for child in self.columns:
            v, e = child.value_err_exprs(src, None)
            vals.append(v)
            errs.append(e)
        any_child_err = F.lit(False)
        for e in errs:
            any_child_err = any_child_err | e
        if isinstance(self.computer, PyComputer):
            rt = self.computer.return_type or (target_field.dataType if target_field else T.StringType())
            rt_dt = T._parse_datatype_string(rt) if isinstance(rt, str) else rt
            struct_t = T.StructType(
                [T.StructField("value", rt_dt, True), T.StructField("err", T.BooleanType(), False)]
            )
            fn = self.computer.fn

            @F.pandas_udf(struct_t)
            def _py_compute(*cols: pd.Series) -> pd.DataFrame:
                out_v, out_e = [], []
                for tup in zip(*cols):
                    try:
                        out_v.append(fn(list(tup)))
                        out_e.append(False)
                    except (ValueError, KeyError, AttributeError):
                        out_v.append(None)
                        out_e.append(True)
                return pd.DataFrame({"value": out_v, "err": out_e})

            res = _py_compute(*vals)
            return res.getField("value"), res.getField("err") | any_child_err
        return self.computer(vals), any_child_err


class StaticColumn(_ColumnSpec):
    """Constant value -> ``F.lit`` (reference ``StaticColumn``,
    ``mapping.py:258-313``); Catalyst constant-folds it."""

    def __init__(self, value: Any, **policies: Any) -> None:
        super().__init__(**policies)
        self.value = value

    def value_err_exprs(self, src: DataFrame, target_field: Optional[T.StructField]) -> Tuple[SqlCol, SqlCol]:
        v = F.lit(self.value)
        if target_field is not None:
            v = v.cast(target_field.dataType)
        return v, F.lit(False)


class Field(_ColumnSpec):
    """Named column of a relational/typed source (reference ``Field``,
    ``mapping.py:316-394``). A dotted path traverses struct fields with
    NULL short-circuit — the reference's relation-walk form
    (``mapping.py:359-365``) is covered by declaring the relation on the
    source (``TableSource(relations={"rel": Relation(...)})``), which
    LEFT-joins the related table once and packs it as a struct column, so
    ``Field("rel.attr")`` resolves through it. Default parser is identity."""

    def __init__(self, field: Optional[str] = None, parser: Optional[ParserLike] = None, **policies: Any) -> None:
        super().__init__(**policies)
        self.field = field
        self.parser = parser

    def raw_expr(self, src: DataFrame) -> SqlCol:
        assert self.field is not None, "Field name unbound; bind the mapping first"
        # Struct-field traversal: Spark's `a.b.c` access already yields NULL
        # if any intermediate is NULL, matching the reference's short-circuit
        # (`mapping.py:359-365`).
        return F.col(self.field)

    def value_err_exprs(self, src: DataFrame, target_field: Optional[T.StructField]) -> Tuple[SqlCol, SqlCol]:
        raw = self.raw_expr(src)
        if self.parser is None:
            return raw, F.lit(False)
        return _apply_parser(self.parser, raw, target_field, self.field or "<unbound>")


class ComputedField(ComputedColumn):
    """Computed from N Fields (reference ``ComputedField``,
    ``mapping.py:397-470``); same compilation as ComputedColumn."""


class Mapping:
    """Declarative mapping; subclass and assign operators in ``__init__``:

    >>> class MyMapping(Mapping):
    ...     def __init__(self):
    ...         super().__init__()
    ...         self.id = self.auto()
    ...         self.name = self.auto(keep_history=True)

    Mirrors reference ``Mapping`` (``mapping.py:473-554``): ``auto()``
    assigns the next positional index, ``col()`` an explicit index (int or
    A1 letters) and resets the counter.
    """

    def __init__(self) -> None:
        self._auto_counter = 0

    def auto(self, *args: Any, **kwargs: Any) -> Column:
        val = self._auto_counter
        self._auto_counter += 1
        return Column(val, *args, **kwargs)

    def col(self, column: Union[str, int], *args: Any, **kwargs: Any) -> Column:
        idx = col2num(column) if isinstance(column, str) else column
        self._auto_counter = idx + 1
        return Column(idx, *args, **kwargs)

    def get_key_column_name(self) -> str:
        return "id"

    def get_key_column_comparator(self) -> Optional[Callable[[SqlCol], SqlCol]]:
        """Native normalization applied to BOTH join keys (reference
        ``get_key_column_comparator``, ``mapping.py:522-531``). None =
        identity."""
        return None

    def get_header_line_number(self) -> int:
        """Lines with index <= N are skipped; -1 skips none
        (``mapping.py:533-541``)."""
        return 0

    def get_columns(self) -> List[Tuple[str, _ColumnSpec]]:
        cols = []
        for name, val in vars(self).items():
            if not name.startswith("_") and isinstance(val, _ColumnSpec):
                cols.append((name, val))
        return cols

    def bind(self, target_schema: Optional[T.StructType], lengths: Optional[dict] = None) -> "BoundMapping":
        """Schema bind: infer parsers/headers from the target schema and
        resolve the key column (reference ``_complete_from_model``,
        ``mapping.py:556-633``)."""
        return BoundMapping(self, target_schema, lengths or {})


def _infer_parser(field: T.StructField, lengths: dict) -> SparkParser:
    dt = field.dataType
    if isinstance(dt, T.BooleanType):
        return str2boolnullable
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return str2intnullable
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return str2floatnullable
    if isinstance(dt, T.VarcharType) or isinstance(dt, T.CharType):
        return create_str2strnullable(dt.length)
    if isinstance(dt, T.StringType):
        return create_str2strnullable(lengths.get(field.name))
    if isinstance(dt, T.DateType):
        return parse_shitty_date_as_date()
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # NTZ: the bound cast keeps the wall-clock value (session tz is UTC)
        return parse_shitty_datetime()
    if isinstance(dt, T.DayTimeIntervalType):
        return parse_shitty_time
    raise NotImplementedError(
        f"Could not find parser for type {dt}; provide a parser explicitly for column {field.name}"
    )


class BoundColumn:
    """A mapping column bound to its destination field: resolved parser +
    policies, ready to compile against a concrete source DataFrame."""

    def __init__(self, name: str, spec: _ColumnSpec, target_field: Optional[T.StructField]):
        self.name = name
        self.spec = spec
        self.target_field = target_field

    def exprs(self, src: DataFrame) -> Tuple[SqlCol, SqlCol]:
        v, e = self.spec.value_err_exprs(src, self.target_field)
        if self.target_field is not None:
            v = v.cast(self.target_field.dataType)
        return v, e


class BoundMapping:
    def __init__(self, mapping: Mapping, target_schema: Optional[T.StructType], lengths: dict):
        self.mapping = mapping
        self.key_column_name = mapping.get_key_column_name()
        self.header_line_number = mapping.get_header_line_number()
        self.key_comparator = mapping.get_key_column_comparator()
        self.columns: List[BoundColumn] = []

        field_by_name = {f.name: f for f in target_schema.fields} if target_schema is not None else {}
        key_found = False
        for name, spec in mapping.get_columns():
            tf = field_by_name.get(name)
            if isinstance(spec, Column) and spec.parser is None:
                if target_schema is None or tf is None:
                    raise NotImplementedError(
                        f"Could not find parser for column {name}; not present in target schema"
                    )
                spec.parser = _infer_parser(tf, lengths)
            if spec.header is None:
                spec.header = name
            self.columns.append(BoundColumn(name, spec, tf))
            if name == self.key_column_name:
                key_found = True
        if not key_found:
            raise ValueError(f"Could not find key column {self.key_column_name} in mapping")

    def column(self, name: str) -> BoundColumn:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)

    def normalize_key(self, col: SqlCol) -> SqlCol:
        return self.key_comparator(col) if self.key_comparator is not None else col

"""Small driver-side frames WITHOUT the Python-RDD path.

``spark.createDataFrame(rows, schema)`` on a plain Python list is a
``LogicalRDD`` scan over a Python RDD, not a ``LocalRelation``: every
downstream job on that frame (and every append it feeds) launches
Python workers — a bare ``createDataFrame(64 rows).collect()`` costs
0.3-0.5 s on PySpark 4.1, on every call — for data that is typically
ONE ROW of flags or a codebook-sized lookup table. That is the wrong
execution tier: driver-known scalars belong in the JVM plan as
literals.

``local_frame`` renders the rows as ONE SQL text,
``SELECT * FROM VALUES (CAST(..), ..), .. AS t(..)``, and builds it
with a single ``spark.sql`` call. The analyzer folds an inline table
of literals into a real ``LocalRelation``: no Python workers, no
pickle, opaque and tiny in every downstream plan (so an iterative
codebook rebuilt per round is not re-analyzed as an expression
tree). Building it column by column instead would cost one
``Column`` call per cell, and on PySpark 4.1 each such call is about
14 py4j round trips (the call plus the active-session lookup, a conf
read and the call-site origin set) — a 64-row, 3-column codebook
took ~13,500 round trips that way; the SQL text takes 8.

Values must be Python scalars: int, float, bool, str, bytes,
Decimal, datetime/date, or None; for array and struct fields, lists
and tuples (or dicts, for structs) of those, nested. Every cell is
cast to its declared field type, so ints feed decimal columns and
NULLs are typed; the rendering is exact and independent of the
session's SQL settings — strings and bytes that could be read
differently (quotes, backslashes, ``${``, control characters) travel
as hex, NaN/±inf/-0.0 as ``CAST('..' AS DOUBLE)``, timestamps as
``timestamp_micros`` of the same instant ``createDataFrame`` derives
(naive datetimes in the Python process's local time zone). For
anything bigger than a few thousand rows keep ``spark.createDataFrame``
— a megabyte of SQL text would stress the parser instead.
"""

from __future__ import annotations

import datetime as dt
import math
import numbers
from decimal import Decimal
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _schema_of(schema: str | T.StructType) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T._parse_datatype_string(schema)


def sql_ident(name: str) -> str:
    """``name`` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _type_sql(t: T.DataType) -> str:
    if isinstance(t, T.ArrayType):
        return f"array<{_type_sql(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"map<{_type_sql(t.keyType)},{_type_sql(t.valueType)}>"
    if isinstance(t, T.StructType):
        return "struct<" + ",".join(f"{sql_ident(f.name)}:{_type_sql(f.dataType)}"
                                    for f in t.fields) + ">"
    return t.simpleString()


def _string_sql(s: str) -> str:
    # a plain literal only where no parser setting can change its
    # meaning (escape processing, variable substitution)
    if s.isprintable() and not any(c in s for c in "'\\$"):
        return f"'{s}'"
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def _double_sql(x: float) -> str:
    if math.isfinite(x) and not (x == 0.0 and math.copysign(1.0, x) < 0):
        return f"{x!r}D"
    return f"CAST('{x!r}' AS DOUBLE)"   # nan, inf, -inf, -0.0


def _literal(v, t: T.DataType) -> str:
    """SQL text of an expression of type exactly ``t`` holding ``v``."""
    if v is None:
        return f"CAST(NULL AS {_type_sql(t)})"
    if isinstance(v, (list, tuple)) and isinstance(t, T.ArrayType):
        items = ", ".join(_literal(x, t.elementType) for x in v)
        return f"CAST(array({items}) AS {_type_sql(t)})"
    if isinstance(v, (list, tuple, dict)) and isinstance(t, T.StructType):
        vals = [v.get(f.name) for f in t.fields] if isinstance(v, dict) else v
        items = ", ".join(f"{_string_sql(f.name)}, {_literal(x, f.dataType)}"
                          for f, x in zip(t.fields, vals))
        return f"CAST(named_struct({items}) AS {_type_sql(t)})"
    if isinstance(v, bool):
        text, own = ("TRUE" if v else "FALSE"), T.BooleanType()
    elif isinstance(v, numbers.Integral):
        v = int(v)
        if -(1 << 63) <= v < (1 << 63):
            text, own = f"{v}L", T.LongType()
        else:
            text, own = f"{v}BD", None
    elif isinstance(v, Decimal):
        text, own = f"{v:f}BD", None
    elif isinstance(v, numbers.Real):
        text, own = _double_sql(float(v)), T.DoubleType()
    elif isinstance(v, str):
        text, own = _string_sql(v), T.StringType()
    elif isinstance(v, (bytes, bytearray)):
        text, own = f"X'{bytes(v).hex()}'", T.BinaryType()
    elif isinstance(v, dt.datetime):
        if isinstance(t, T.TimestampNTZType):
            wall = v.replace(tzinfo=None).isoformat(" ")
            text, own = f"TIMESTAMP_NTZ'{wall}'", t
        else:
            micros = T.TimestampType().toInternal(v)
            text, own = f"timestamp_micros({micros}L)", T.TimestampType()
    elif isinstance(v, dt.date):
        text, own = f"DATE'{v.isoformat()}'", T.DateType()
    else:
        raise TypeError(f"local_frame: unsupported value {v!r} "
                        f"({type(v).__name__}) for {t.simpleString()}")
    return text if own == t else f"CAST({text} AS {_type_sql(t)})"


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                schema: str | T.StructType) -> DataFrame:
    """A small DataFrame of driver-side ``rows`` (tuples/lists/Rows,
    positionally matching ``schema``, or dicts by field name) built as
    a ``LocalRelation`` in one ``spark.sql`` call — the drop-in for
    ``spark.createDataFrame`` on flag rows and lookup tables. An empty
    ``rows`` yields an empty, correctly-typed frame."""
    sch = _schema_of(schema)
    fields = sch.fields
    tuples = []
    for r in rows:
        vals = ([r.get(f.name) for f in fields]
                if isinstance(r, dict) else list(r))
        if len(vals) != len(fields):
            raise ValueError(f"local_frame: row {r!r} has {len(vals)} "
                             f"values for {len(fields)} fields")
        tuples.append("(" + ", ".join(_literal(v, f.dataType)
                                      for v, f in zip(vals, fields)) + ")")
    names = ", ".join(sql_ident(f.name) for f in fields)
    if not tuples:
        nulls = ", ".join(_literal(None, f.dataType) for f in fields)
        return spark.sql(f"SELECT * FROM VALUES ({nulls}) AS t({names}) LIMIT 0")
    return spark.sql(f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})")

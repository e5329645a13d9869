"""core/localframe: small driver-side frames as a LocalRelation
built from one SQL text — the drop-in for Python-RDD createDataFrame
on flag rows, ledgers, and iterative codebook tables."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import types as T

from luma_etl_data_platform_spark.core.localframe import local_frame


def test_local_frame_types_and_nulls(spark):
    sch = ("a bigint, b string, c boolean, d double, e array<long>, "
           "f timestamp, g decimal(18,2), h date, i array<string>")
    rows = [
        (1, "x", True, 1.5, [1, 2], dt.datetime(2020, 1, 1, 3, 4, 5),
         Decimal("12.34"), dt.date(2020, 2, 2), ["p", "q"]),
        (None,) * 9,
    ]
    got = local_frame(spark, rows, sch)
    want = spark.createDataFrame(rows, sch)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_no_python_workers(spark):
    """The whole point: the plan must be JVM-only — a ``LocalRelation``,
    no ExistingRDD / Python-serialized scan anywhere — for flat rows,
    structs inside arrays and the empty frame alike."""
    frames = [
        local_frame(spark, [(1, "a")], "k bigint, s string"),
        local_frame(spark, [([(0, [1, 2]), {"m": 1, "v": []}],)],
                    "e array<struct<m:int,v:array<bigint>>>"),
        local_frame(spark, [], "k bigint, `odd name` string"),
    ]
    for df in frames:
        qe = df._jdf.queryExecution()
        assert "LocalRelation" in qe.analyzed().toString()
        assert "ExistingRDD" not in qe.executedPlan().toString()
    assert [tuple(r.e[1]) for r in frames[1].collect()] == [(1, [])]
    assert frames[2].columns == ["k", "odd name"]


def test_local_frame_dict_rows_and_empty(spark):
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("s", T.StringType())])
    got = local_frame(spark, [{"s": "a", "k": 7}, {"k": 8}], sch)
    assert [(r["k"], r["s"]) for r in got.collect()] == [(7, "a"),
                                                         (8, None)]
    empty = local_frame(spark, [], "k bigint, s string")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "s"]
    assert empty.schema["k"].dataType.simpleString() == "bigint"


def _comparable(rows):
    """Collected rows with floats made comparable: NaN equal to NaN,
    and -0.0 told apart from 0.0."""
    import math

    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else (v, math.copysign(1.0, v))
        if isinstance(v, list):
            return [cell(x) for x in v]
        return v
    return [tuple(cell(v) for v in r) for r in rows]


_HARD_SCHEMA = ("s string, d double, l bigint, b binary, a array<bigint>, "
                "x decimal(20,5), dd date, ts timestamp, ntz timestamp_ntz, "
                "ad array<double>, f float")
_HARD_ROWS = [
    ("it's a \\ back\\\\slash\nnew'line ${spark.app.name} é 日本 🎉",
     float("nan"), -(1 << 63), b"\x00\xff'\\", [], Decimal("1.50000"),
     dt.date(1, 1, 1), dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
     dt.datetime(2024, 3, 10, 2, 30), [float("nan"), -0.0], 1.5),
    ("", float("inf"), (1 << 63) - 1, b"", [None, 1],
     Decimal("-123456789012345.12345"), dt.date(9999, 12, 31),
     dt.datetime(1969, 12, 31, 23, 59, 59, 999999), dt.datetime(1, 1, 1),
     [None], -0.0),
    ("\t\x00", float("-inf"), 0, bytearray(b"ab"), [None], Decimal("0"),
     dt.date(2020, 2, 29),
     dt.datetime(2020, 1, 1, tzinfo=dt.timezone(dt.timedelta(hours=5))),
     dt.datetime(9999, 12, 31, 23, 59, 59, 999999), [], float("inf")),
    ("plain", -0.0, None, None, None, None, None, None, None, None, None),
    ("p", 5e-324, 1, b"x", [1, 2, 3], Decimal("1E+2"), dt.date(2000, 1, 1),
     dt.datetime(2000, 1, 1), dt.datetime(2000, 1, 1), [1e300, -2.5], 1e-3),
]


def test_local_frame_round_trips_hard_literals(spark):
    """Every value ``createDataFrame`` accepts comes back identical:
    quotes, backslashes, newlines, ``${..}`` and non-ASCII text;
    NaN/±inf/-0.0; the long extremes; bytes; empty arrays and arrays
    holding None; decimal scale; dates and timestamps under session
    time zones other than UTC (and under settings that change how SQL
    string literals are read)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    esc = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    want = spark.createDataFrame(_HARD_ROWS, _HARD_SCHEMA)
    try:
        for zone, escaped in (("America/Los_Angeles", "false"),
                              ("Asia/Kolkata", "true"), ("UTC", "false")):
            spark.conf.set("spark.sql.session.timeZone", zone)
            spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
            got = local_frame(spark, _HARD_ROWS, _HARD_SCHEMA)
            assert ([f.dataType for f in got.schema]
                    == [f.dataType for f in want.schema])
            assert _comparable(got.collect()) == _comparable(want.collect()), zone
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
        spark.conf.set("spark.sql.parser.escapedStringLiterals", esc)


def _rdd_scans(df) -> list[str]:
    """RDD lineage of every ``LogicalRDD`` leaf of the analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).rdd().toDebugString()
            for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"]


def test_codebook_and_centroid_plans_have_no_python_rdd(spark):
    """The PQ codebooks and the k-means centroid table are
    ``LocalRelation`` frames, so no job that reads them starts Python
    workers. The PQ plans hold no RDD scan at all; the k-means
    assignment reads the (JVM-side) checkpoint of the corpus vectors,
    and nothing backed by a Python RDD."""
    from luma_etl_data_platform_spark.operators import pq as PQ
    from luma_etl_data_platform_spark.operators.kmeans import kmeans_model
    from luma_etl_data_platform_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE
    emb = load_table(spark, SF_SMOKE, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    for name, df in {
        "pq_codebook_df": PQ.pq_codebook_df(spark, emb),
        "pq_topk trained": PQ.pq_topk(emb, query, k=5, codebook="trained"),
    }.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and not _rdd_scans(df), name
        assert "LocalTableScan" in plan, name
    assign, _ = kmeans_model(spark, emb, k=3, iters=1)
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan [cluster" in plan
    scans = _rdd_scans(assign)
    assert scans and all("LocalCheckpointRDD" in s for s in scans)
    assert not any("PythonRDD" in s for s in scans)

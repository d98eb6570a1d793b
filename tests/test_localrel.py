"""local_rows_df: the VALUES-LocalRelation twin of createDataFrame(rows).

The contract is strict equivalence — same values, same column types — plus
the plan property that motivates it: a LocalTableScan (no Python-RDD scan),
so evaluating the frame never launches Python worker tasks."""

import math

from hg64spark.localrel import local_rows_df


CASES = [
    ([(0, [1, 2, 3]), (1, [4, 5, 6])], "cid int, ce array<bigint>"),
    ([(5,), (7,)], "probe_id long"),
    ([], "probe_id long, cid int"),
    ([("en", 0.25), ("d'e\\x", 0.1), (None, 0.5)], "lang string, __t double"),
    ([(float("nan"),), (0.1,), (1e-300,), (-2.5,), (float("inf"),)], "q double"),
    ([(True,), (False,), (None,)], "flag boolean"),
]


def _norm(rows):
    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    return sorted(tuple(cell(v) for v in r) for r in rows)


def test_matches_create_dataframe(spark):
    for rows, ddl in CASES:
        a = local_rows_df(spark, rows, ddl)
        b = spark.createDataFrame(rows, ddl)
        assert _norm(a.collect()) == _norm(b.collect()), ddl
        assert [f.dataType for f in a.schema.fields] == [
            f.dataType for f in b.schema.fields
        ], ddl


def test_plans_as_local_table_scan(spark):
    for rows, ddl in CASES:
        plan = (
            local_rows_df(spark, rows, ddl)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "LocalTableScan" in plan, ddl
        assert "ExistingRDD" not in plan, ddl


def test_float_bit_exactness(spark):
    # repr -> CAST(AS DOUBLE) must round-trip bit-for-bit, including
    # subnormals and values with no short decimal form
    vals = [0.1, 2.0 ** -1074, 1.0 / 3.0, 6.02214076e23, -0.0]
    rows = [(v,) for v in vals]
    got = [r["q"] for r in local_rows_df(spark, rows, "q double").collect()]
    assert [v.hex() for v in got] == [v.hex() for v in vals]


def test_binary_hex_literals(spark):
    rows = [(bytearray(b"\x00\x01\xff"),), (b"",), (bytes(range(256)),)]
    df = local_rows_df(spark, rows, "b binary")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got = sorted(bytes(r["b"]) for r in df.collect())
    assert got == sorted(bytes(r[0]) for r in rows)


def test_unrepresentable_falls_back(spark):
    import datetime

    rows = [(datetime.datetime(2020, 1, 1),)]
    df = local_rows_df(spark, rows, "t timestamp")
    assert df.collect()[0]["t"] == datetime.datetime(2020, 1, 1)


def test_escaped_string_literals_mode(spark):
    """Under spark.sql.parser.escapedStringLiterals=true backslash escapes
    mis-parse, so strings needing an escape must fall back to
    createDataFrame while clean strings keep the VALUES form."""
    rows = [("o'brien", 1), ("back\\slash", 2), ("clean", 3)]
    ddl = "term string, n int"
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        a = local_rows_df(spark, rows, ddl)
        assert _norm(a.collect()) == _norm(spark.createDataFrame(rows, ddl).collect())
        clean = local_rows_df(spark, [("clean", 1)], ddl)
        plan = clean._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    b = local_rows_df(spark, rows, ddl)
    assert _norm(b.collect()) == _norm(spark.createDataFrame(rows, ddl).collect())


def test_apostrophe_stays_on_values_path_in_both_parser_modes(spark):
    rows = [("o'brien", 1), ("'", 2), ("a''b'", 3), ("clean", 4)]
    ddl = "term string, n int"
    for mode in ("false", "true"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            df = local_rows_df(spark, rows, ddl)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, mode
            assert sorted(tuple(r) for r in df.collect()) == sorted(rows), mode
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")

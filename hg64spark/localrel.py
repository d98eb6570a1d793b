"""Driver-local literal frames that plan as ``LocalTableScan``.

``spark.createDataFrame(rows, ...)`` on a Python list parallelizes the rows
into a pickled RDD, so the frame plans as ``Scan ExistingRDD`` — and EVERY
evaluation of that scan (each collect, each appearance in a job, each
broadcast build) launches ``defaultParallelism`` Python worker tasks.
Measured at local[32], Spark 4.1: ~0.4-0.55 s per warm action for a
13-row frame — pure scheduling overhead.

For the K-row driver-resident frames this library builds (quantile probes,
globally folded sketches), the rows fit in a few KB of SQL text — so render
them as ONE ``VALUES`` literal and let the parser produce a true
``LocalRelation``:

* evaluation is a ``LocalTableScan`` — no RDD, no Python workers, and
  ``collect()`` short-circuits on the driver without submitting a job;
* broadcast builds read driver-resident rows directly;
* the plan is identical on any cluster size (the rows ride the query plan,
  which is the point of a local relation).

Values are rendered exactly: integers verbatim, doubles via
``CAST('<repr>' AS DOUBLE)`` (``repr`` is the shortest round-tripping
decimal and Java's ``parseDouble`` is correctly rounded, so the double is
bit-identical to the Python float), binary as ``X'<hex>'``, arrays
recursively.  Strings follow the session's
``spark.sql.parser.escapedStringLiterals``: by default backslash and quote
are backslash-escaped; with it set, the parser reads literal text verbatim,
so a quote is spliced in as ``concat(..., chr(39), ...)`` and a string
holding a backslash falls back.  Anything unrepresentable (timestamps, …)
and any oversized literal falls back to ``createDataFrame`` unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: past this much SQL text, parsing stops being obviously cheap — fall back
#: to the RDD path rather than hand the parser a pathological literal
_MAX_SQL_CHARS = 1 << 20


class _Unrepresentable(Exception):
    pass


def _lit(v, escaped_literals: bool = False) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    # numpy scalars: bool handled above; integer/floating duck-type via
    # __index__/__float__ without importing numpy here
    if isinstance(v, int):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        if escaped_literals:
            # spark.sql.parser.escapedStringLiterals=true takes the text
            # between the quotes verbatim: a backslash cannot be escaped
            # (falls back to createDataFrame) and a doubled '' stays two
            # quotes, so each quote is spliced in as chr(39) instead
            if "\\" in v:
                raise _Unrepresentable("backslash under escapedStringLiterals")
            if "'" not in v:
                return "'" + v + "'"
            return "concat(" + ", chr(39), ".join(f"'{p}'" for p in v.split("'")) + ")"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex().upper()}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_lit(x, escaped_literals) for x in v) + ")"
    try:  # numpy integer / floating scalars without a hard numpy import
        import numpy as np

        if isinstance(v, np.integer):
            return str(int(v))
        if isinstance(v, np.floating):
            return _lit(float(v))
        if isinstance(v, np.ndarray):
            return _lit(v.tolist(), escaped_literals)
    except ImportError:  # pragma: no cover
        pass
    raise _Unrepresentable(type(v).__name__)


def local_rows_df(spark: SparkSession, rows: Sequence, ddl: str) -> DataFrame:
    """``createDataFrame(rows, ddl)`` for tiny driver-local row lists, as a
    ``VALUES`` LocalRelation instead of a pickled-Python-RDD scan (module
    docstring).  Same rows, same declared column types (explicit CAST per
    column); falls back to ``createDataFrame`` for value types the SQL
    renderer does not cover or literals past ``_MAX_SQL_CHARS``."""
    schema = StructType.fromDDL(ddl)
    aliases = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(schema.fields)
    )
    cols = ", ".join(f"c{i}" for i in range(len(schema.fields)))
    if not len(rows):
        null_row = "(" + ", ".join("NULL" for _ in schema.fields) + ")"
        return spark.sql(
            f"SELECT {aliases} FROM (VALUES {null_row}) AS __t({cols}) WHERE 1=0"
        )
    escaped = (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower()
        == "true"
    )
    try:
        vals = ", ".join(
            "(" + ", ".join(_lit(v, escaped) for v in row) + ")" for row in rows
        )
    except _Unrepresentable:
        return spark.createDataFrame(rows, ddl)
    sql = f"SELECT {aliases} FROM (VALUES {vals}) AS __t({cols})"
    if len(sql) > _MAX_SQL_CHARS:
        return spark.createDataFrame(rows, ddl)
    return spark.sql(sql)

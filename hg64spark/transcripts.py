"""Transcript tables: the input shape from BASELINE.json ``input_hint`` —
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp).

Two sources:

* :func:`transcripts_from_events` — a *deterministic view over the test
  data's ``events`` parquet*, so every derived value (text lengths,
  inter-turn latencies, turn counts) is reproducible in ANSI SQL by the
  DuckDB oracle (``TRANSCRIPTS_SQL``). ``tests/test_oracle.py`` compares the
  two.
* :func:`synthetic_transcripts` — a pure generator (seed folded into hashes,
  Pareto-skewed conversation sizes per FIXTURES.md F1) used for benchmarks and
  skew tests at arbitrary scale. Built entirely from ``spark.range`` + column
  expressions: no driver-side data, no Python row loop — it scales to any row
  count the cluster can hold.

In production the same schema would be an Iceberg table; table format is
reader config, not code (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hg64spark import io


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the events table onto the transcript schema, 1:1 with
    ``TRANSCRIPTS_SQL`` below (same expressions, same tie-breaks)."""
    ev = io.read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.format_string("conv_%04d", F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("error", "purchase"), F.lit("tool"))
        .when(F.col("event_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("props").alias("text"),
        F.col("event_type").alias("tool"),
        F.col("ts"),
    )


#: DuckDB CTE producing the identical transcript rows from the registered
#: ``events`` view.  printf/row_number/CASE mirror the Spark expressions above.
TRANSCRIPTS_SQL = """
    SELECT
        printf('conv_%04d', user_id) AS conv_id,
        CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
        CASE WHEN event_type IN ('error', 'purchase') THEN 'tool'
             WHEN event_id % 2 = 0 THEN 'user'
             ELSE 'assistant' END AS role,
        props AS text,
        event_type AS tool,
        ts
    FROM events
"""


def with_latency(transcripts: DataFrame) -> DataFrame:
    """Inter-turn latency in microseconds under the *stable turn ordering*
    (`input_hint`): lag over (conv_id, ORDER BY turn_idx). First turn of each
    conversation has NULL latency and is dropped by the sketch aggregation.

    Uses timestampdiff(MICROSECOND, ...) — a pure wall-clock difference that
    works on TIMESTAMP_NTZ (how Spark 4 reads these parquet timestamps) and is
    independent of the session time zone, matching DuckDB's
    epoch_us(ts) - lag(epoch_us(ts)) on naive timestamps exactly."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("latency_us", F.expr("timestampdiff(MICROSECOND, prev_ts, ts)"))
        .drop("prev_ts")
    )


#: matching DuckDB expression fragment: latency per transcript row
LATENCY_SQL = """
    SELECT t.*,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS latency_us
    FROM ({base}) t
"""


def synthetic_transcripts(
    spark: SparkSession,
    n_convs: int = 20_000,
    seed: int = 42,
    mean_turns: int = 30,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic transcripts at arbitrary scale (FIXTURES.md F1).

    Conversation sizes are Pareto-skewed (inverse-CDF over a hash-uniform,
    cf. `rand_pareto`, `/root/reference/random.c:56-59`) so a few
    conversations are huge — exercising skew handling.  Inter-turn gaps are
    exponential with heavy-tail noise; text lengths lognormal-ish.  Every
    column derives from (conv, turn_idx, seed) via xxhash64, so the table is
    identical regardless of partitioning or cluster size.
    """
    convs = spark.range(n_convs, numPartitions=partitions)
    u = (F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit("nturns"))) % 1_000_000) / 1_000_000.0
    # Pareto(alpha=1.16, clipped): few giant conversations
    n_turns = F.least(
        F.ceil(F.lit(float(mean_turns)) * 0.2 / F.pow(1.0 - u + 1e-9, F.lit(1.0 / 1.16))),
        F.lit(100_000),
    ).cast("int")
    t = (
        convs.withColumn("n_turns", n_turns)
        .select(F.col("id").alias("conv"), F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"))
    )
    h = lambda tag: F.abs(F.xxhash64(F.col("conv"), F.col("turn_idx"), F.lit(seed), F.lit(tag)))
    gap_u = (h("gap") % 1_000_000) / 1_000_000.0
    # exponential(mean 30s) with pareto noise, in microseconds
    gap_us = (-F.log(1.0 - gap_u + 1e-9) * 30_000_000 * (1.0 + F.pow(1.0 - ((h("noise") % 1000) / 1000.0), F.lit(-0.5)) / 10.0)).cast("long")
    w = Window.partitionBy("conv").orderBy("turn_idx")
    len_u = (h("len") % 1_000_000) / 1_000_000.0
    text_len = F.least(F.ceil(F.exp(F.lit(4.0) + F.lit(1.2) * F.sqrt(-2.0 * F.log(len_u + 1e-9)) * F.cos(6.2831853 * ((h("len2") % 1000) / 1000.0)))), F.lit(32_768)).cast("int")
    tools = F.array(*[F.lit(s) for s in ("search", "code", "browse", "calc", "none", "db", "mail", "plan")])
    return (
        t.withColumn("gap_us", gap_us)
        .withColumn("ts_us", F.sum("gap_us").over(w) + F.lit(1_700_000_000_000_000))
        .select(
            F.format_string("conv_%08d", F.col("conv")).alias("conv_id"),
            F.col("turn_idx").cast("int"),
            F.when(F.col("turn_idx") % 3 == 2, "tool")
            .when(F.col("turn_idx") % 2 == 0, "user")
            .otherwise("assistant")
            .alias("role"),
            F.concat(F.lit("t"), F.repeat(F.lit("x"), text_len - 1)).alias("text"),
            F.element_at(tools, (h("tool") % 8 + 1).cast("int")).alias("tool"),
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
        )
    )

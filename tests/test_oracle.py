"""Spark answers against the DuckDB oracle on the sf0.001 test tables.

hg64 answers (buckets, quantiles, ranks, quantile-of-value, stats, weighted
buckets, cross-precision down/upsampling, per-tool latency quantiles) must
equal the SQL re-derivation in ``hg64spark.sqloracle`` bit for bit, on both
build tiers (``agg.hg64_agg(method="arrow")`` partials and the relational
build) and through both finalizers (the ``agg.hg64_*`` Arrow kernels and
the all-Catalyst ``relational`` ones).  Exact means: same column names,
same row count, same values with floats compared by full-precision
``repr``, and the same pandas dtype kind per column.  Companion sketches
are checked against exact DuckDB answers with the README error bounds.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conftest import SF_DIR
from hg64spark import agg, relational, sqloracle, transcripts
from hg64spark.hg64 import HG64
from hg64spark.sketches import CMS, HLL, KLL, MG, Bloom

TABLES = ["customer", "events", "lineitem", "orders"]

SIGBITS = 5
# the reference harness's quantile sweep (`test.c:245-256`) without q=0/1
QSWEEP = [0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 0.9999, 0.99999, 0.999999]
PROBES = [100, 5_000, 40_000, 123_456, 300_000, 480_000]
KLL_QS = [0.1, 0.5, 0.9, 0.99]

EVENTS_SQL = "SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v FROM events"
LATENCY_SQL = transcripts.LATENCY_SQL.format(base=transcripts.TRANSCRIPTS_SQL)
LINEITEM_SQL = "SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem"
WEIGHTED_SQL = (
    "SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v, "
    "CAST(l_quantity AS BIGINT) AS w FROM lineitem"
)


def _table(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


def _events(spark: SparkSession) -> DataFrame:
    return _table(spark, "events").select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("v")
    )


def _latency(spark: SparkSession) -> DataFrame:
    t = transcripts.transcripts_from_events(spark, SF_DIR)
    return transcripts.with_latency(t).select("tool", "latency_us")


def _lineitem(spark: SparkSession) -> DataFrame:
    return _table(spark, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )


def _resampled(spark: SparkSession, from_sigbits: int, to_sigbits: int) -> DataFrame:
    """Buckets of a ``from_sigbits`` sketch of lineitem cents re-keyed to
    ``to_sigbits``: exact re-keying downwards, pro-rata split upwards."""
    fine = lambda: HG64(from_sigbits)  # noqa: E731
    sk = agg.sketch_agg(_lineitem(spark).select("v"), "v", [], fine, HG64.deserialize)
    blob = HG64.deserialize(bytes(sk.first()["sketch"])).downsample(to_sigbits).serialize()
    return agg.hg64_buckets(spark.createDataFrame([(bytearray(blob),)], "sketch binary"), [])


def _counts_buckets(counts: DataFrame, group_cols: list[str]) -> DataFrame:
    """The exploded-bucket view of a relational (group..., hg64_key, count) frame."""
    return counts.select(
        *group_cols,
        F.col("hg64_key").cast("long").alias("key"),
        relational.minval_col("hg64_key", SIGBITS).alias("bucket_min"),
        relational.maxval_col("hg64_key", SIGBITS).alias("bucket_max"),
        F.col("count").cast("long").alias("count"),
    )


# ------------------------------------------------------------------ checks


def _norm(frame: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(frame.columns)

    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    rows = sorted(tuple(cell(v) for v in r) for r in frame[cols].itertuples(index=False, name=None))
    return cols, rows


def exact(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert _norm(got) == _norm(want)
    assert {c: got[c].dtype.kind for c in got} == {c: want[c].dtype.kind for c in want}


def hll_within_3_sigma(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """|estimate - exact| <= 3 sigma x exact, sigma = 1.04 / sqrt(2^14); a
    group with no non-NULL value has no sketch and estimates 0."""
    est = {r.event_type: HLL.deserialize(bytes(r.sketch)).estimate() for r in got.itertuples()}
    bound = 3 * HLL.error_bound(14)
    assert len(want) > 1
    for r in want.itertuples():
        assert abs(est.get(r.event_type, 0.0) - r.exact) <= bound * r.exact, r


def cms_brackets_top10(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """exact <= estimate <= exact + (e / width) x N for the exact top-10 keys."""
    est = dict(zip(got["o_custkey"], got["cms_estimate"]))
    eps_n = CMS(4096, 5).epsilon() * want["n"].iloc[0]
    assert len(want) == 10
    for r in want.itertuples():
        assert r.exact <= est[r.o_custkey] <= r.exact + eps_n, r


def bloom_no_false_negative(got: pd.DataFrame, want: pd.DataFrame) -> None:
    merged = want.merge(got, on="c_custkey", validate="one_to_one")
    assert len(merged) == len(want) == len(got)
    assert merged["in_orders"].any()
    assert (~merged["in_orders"] | merged["bloom_contains"]).all()


def mg_brackets(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """exact - n / (k + 1) <= estimate <= exact for every part key."""
    (blob,) = got["sketch"]
    mg = MG.deserialize(bytes(blob))
    est = mg.estimate([str(k) for k in want["l_partkey"]])
    assert mg.n == want["exact"].sum() and 0 < mg.error_bound()
    assert ((want["exact"] - mg.error_bound() <= est) & (est <= want["exact"])).all()


def kll_rank_within_bound(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """The exact rank of each KLL quantile estimate is within the normalized
    rank-error bound at k=200 (plus finite-confidence slack)."""
    eps = KLL.rank_error_bound(200) + 0.02
    values = {tool: np.sort(g["latency_us"].to_numpy()) for tool, g in want.groupby("tool")}
    assert set(got["tool"]) == set(values)
    for r in got.itertuples():
        vals = values[r.tool]
        ests = KLL.deserialize(bytes(r.sketch)).value_at_quantile(np.array(KLL_QS))
        for q, v in zip(KLL_QS, ests):
            rank = np.searchsorted(vals, v, side="right") / vals.size
            assert abs(rank - q) <= eps, (r.tool, q)


# ------------------------------------------------------------------- cases


def _cms_estimates(spark: SparkSession) -> DataFrame:
    """Relational count-min over o_custkey, probed relationally for every key."""
    od = _table(spark, "orders").select("o_custkey")
    blob = relational.cms_agg_relational(od, "o_custkey", 4096, 5).first()["sketch"]
    counts = relational.cms_counts_df(spark, CMS.deserialize(bytes(blob)))
    return relational.cms_estimate_relational(od.distinct(), "o_custkey", counts, 4096, 5)


def _bloom_probe(spark: SparkSession) -> DataFrame:
    """Relational Bloom over o_custkey, every customer key probed by broadcast join."""
    n_bits, k = 1 << 17, 7
    od = _table(spark, "orders").select("o_custkey")
    blob = relational.bloom_agg_relational(od, "o_custkey", n_bits, k).first()["sketch"]
    words = relational.bloom_words_df(spark, Bloom.deserialize(bytes(blob)))
    probes = _table(spark, "customer").select("c_custkey")
    return relational.bloom_contains_relational(probes, "c_custkey", words, n_bits, k)


def _hg64_cases(tier: str) -> dict[str, tuple]:
    """The hg64 oracle entries through one build tier and the Arrow finalizers."""

    def sk(df, group_cols, value_col="v"):
        return agg.hg64_agg(df, value_col, group_cols, SIGBITS, method=tier)

    return {
        f"buckets_events[{tier}]": (
            lambda s: agg.hg64_buckets(sk(_events(s), []), []),
            sqloracle.buckets_sql(EVENTS_SQL, "v", SIGBITS),
        ),
        f"quantiles_events[{tier}]": (
            lambda s: agg.hg64_quantiles(sk(_events(s), ["event_type"]), ["event_type"], QSWEEP),
            sqloracle.quantiles_sql(EVENTS_SQL, "v", SIGBITS, QSWEEP, ["event_type"]),
        ),
        f"ranks_events[{tier}]": (
            lambda s: agg.hg64_ranks(sk(_events(s), []), [], PROBES),
            sqloracle.ranks_sql(EVENTS_SQL, "v", SIGBITS, PROBES),
        ),
        f"qov_events[{tier}]": (
            lambda s: agg.hg64_qov(sk(_events(s), []), [], PROBES),
            f"WITH r AS ({sqloracle.ranks_sql(EVENTS_SQL, 'v', SIGBITS, PROBES)}),\n"
            f"pop AS (SELECT count(*) AS pop FROM ({EVENTS_SQL}) WHERE v IS NOT NULL)\n"
            f"SELECT probe, CAST(rank AS DOUBLE) / CAST(pop AS DOUBLE) AS q FROM r CROSS JOIN pop",
        ),
        f"stats_events[{tier}]": (
            lambda s: agg.hg64_stats(sk(_events(s), ["event_type"]), ["event_type"]),
            sqloracle.stats_sql(EVENTS_SQL, "v", SIGBITS, ["event_type"]),
        ),
        f"latency_quantiles_by_tool[{tier}]": (
            lambda s: agg.hg64_quantiles(sk(_latency(s), ["tool"], "latency_us"), ["tool"], QSWEEP),
            sqloracle.quantiles_sql(LATENCY_SQL, "latency_us", SIGBITS, QSWEEP, ["tool"]),
        ),
    }


CASES: dict[str, tuple[Callable[[SparkSession], DataFrame], str, Callable]] = {
    **{name: (*case, exact) for name, case in _hg64_cases("arrow").items()},
    **{name: (*case, exact) for name, case in _hg64_cases("relational").items()},
    "buckets_events[relational_counts]": (
        lambda s: _counts_buckets(relational.hg64_counts(_events(s), "v", [], SIGBITS), []),
        sqloracle.buckets_sql(EVENTS_SQL, "v", SIGBITS),
        exact,
    ),
    "quantiles_events[relational_finalizer]": (
        lambda s: relational.hg64_quantiles_relational(_events(s), "v", QSWEEP, ["event_type"], SIGBITS),
        sqloracle.quantiles_sql(EVENTS_SQL, "v", SIGBITS, QSWEEP, ["event_type"]),
        exact,
    ),
    "latency_quantiles_by_tool[relational_finalizer]": (
        lambda s: relational.hg64_quantiles_relational(_latency(s), "latency_us", QSWEEP, ["tool"], SIGBITS),
        sqloracle.quantiles_sql(LATENCY_SQL, "latency_us", SIGBITS, QSWEEP, ["tool"]),
        exact,
    ),
    "weighted_buckets[arrow]": (
        lambda s: agg.hg64_buckets(
            agg.sketch_agg(_lineitem(s), "v", [], lambda: HG64(SIGBITS), HG64.deserialize, weight_col="w"),
            [],
        ),
        sqloracle.buckets_sql(WEIGHTED_SQL, "v", SIGBITS, weight_col="w"),
        exact,
    ),
    "weighted_buckets[relational_counts]": (
        lambda s: _counts_buckets(relational.hg64_counts(_lineitem(s), "v", [], SIGBITS, weight_col="w"), []),
        sqloracle.buckets_sql(WEIGHTED_SQL, "v", SIGBITS, weight_col="w"),
        exact,
    ),
    "downsample_8_to_4": (
        lambda s: _resampled(s, 8, 4),
        sqloracle.buckets_sql(LINEITEM_SQL, "v", 4),
        exact,
    ),
    "upsample_4_to_8": (
        lambda s: _resampled(s, 4, 8),
        sqloracle.upsample_buckets_sql(LINEITEM_SQL, "v", 4, 8),
        exact,
    ),
    "hll_distinct_users[arrow]": (
        lambda s: agg.sketch_agg(
            _table(s, "events"), "user_id", ["event_type"], lambda: HLL(14), HLL.deserialize
        ),
        "SELECT event_type, count(DISTINCT user_id) AS exact FROM events GROUP BY event_type",
        hll_within_3_sigma,
    ),
    "hll_distinct_users[relational]": (
        lambda s: relational.hll_agg_relational(_table(s, "events"), "user_id", ["event_type"], 14),
        "SELECT event_type, count(DISTINCT user_id) AS exact FROM events GROUP BY event_type",
        hll_within_3_sigma,
    ),
    "cms_top_custkeys[relational]": (
        _cms_estimates,
        "SELECT o_custkey, count(*) AS exact, (SELECT count(*) FROM orders) AS n FROM orders "
        "GROUP BY o_custkey ORDER BY exact DESC, o_custkey ASC LIMIT 10",
        cms_brackets_top10,
    ),
    "bloom_membership[relational]": (
        _bloom_probe,
        "SELECT c_custkey, c_custkey IN (SELECT o_custkey FROM orders) AS in_orders FROM customer",
        bloom_no_false_negative,
    ),
    "mg_top_parts[relational]": (
        lambda s: relational.mg_agg_relational(
            _table(s, "lineitem").select(F.col("l_partkey").cast("string").alias("pk")), "pk", k=64
        ),
        "SELECT l_partkey, count(*) AS exact FROM lineitem GROUP BY l_partkey",
        mg_brackets,
    ),
    "kll_latency_by_tool[arrow]": (
        lambda s: agg.sketch_agg(
            _latency(s).filter(F.col("latency_us").isNotNull()),
            "latency_us", ["tool"], lambda: KLL(200), KLL.deserialize,
        ),
        f"SELECT tool, latency_us FROM ({LATENCY_SQL}) WHERE latency_us IS NOT NULL",
        kll_rank_within_bound,
    ),
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(CASES))
def test_matches_duckdb_oracle(spark, duck, name):
    build, oracle, check = CASES[name]
    want = duck.execute(oracle).fetchdf()
    got = build(spark).toPandas()
    assert len(want) > 0
    check(got, want)

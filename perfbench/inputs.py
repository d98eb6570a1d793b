"""Benchmark inputs and their DuckDB oracle.

Inputs come from ``transcripts.synthetic_transcripts(seed=<seed>)`` (Pareto-
skewed conversation sizes), cut to exactly ``N_TURNS`` turns, and are written
once as ``N_FILES`` parquet files of near-equal size with every conversation
in exactly one file.
The oracle runs ``hg64spark.sqloracle`` in DuckDB over the same parquet and
also computes the exact order statistics the sketches estimate.  Both are
cached per seed under the work directory; neither is timed.
"""

from __future__ import annotations

import glob
import heapq
import json
import os
import shutil

import numpy as np

#: conversations per table (more only when the first N_CONVS hold fewer
#: than N_TURNS turns, which is rare)
N_CONVS = 5_000
#: conversations generated to draw from
N_GEN_CONVS = 6_000
#: turns per table, the same for every seed
N_TURNS = 140_000
N_FILES = 16
SIGBITS = 5

#: per-tool latency quantiles (tool_rollup and incremental_ingest): a dense
#: grid, so the largest relative error is a steady statistic
TOOL_QS = tuple(round(0.01 * k, 2) for k in range(1, 100))
#: global turns-per-conversation quantiles (tool_rollup)
TURN_QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
#: per-conversation quantiles (per_conversation)
CONV_QS = (0.5, 0.99)
#: per-tool KLL probe quantiles (per_conversation)
KLL_QS = (0.1, 0.5, 0.9, 0.99)

#: per_conversation answers one shard of conversations per job
SHARDS = 4
#: incremental_ingest lands INGEST_STEPS x STEP_FILES files per pass
INGEST_STEPS = 4
STEP_FILES = 2

TOOLS = ("search", "code", "browse", "calc", "none", "db", "mail", "plan")

_VERSION = 8


def shard_files(files: list[str], shard: int) -> list[str]:
    per = len(files) // SHARDS
    return files[shard * per : (shard + 1) * per]


def step_files(files: list[str], step: int) -> list[str]:
    return files[step * STEP_FILES : (step + 1) * STEP_FILES]


# ------------------------------------------------------------------ SQL


def _parquet(files: list[str]) -> str:
    return "SELECT * FROM read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def _latency(files: list[str]) -> str:
    from hg64spark import transcripts

    return transcripts.LATENCY_SQL.format(base=_parquet(files))


def _exact_sql(base: str, value: str, qs, group: str | None) -> str:
    """Order statistic at 0-based rank floor(q * n) — the element
    ``HG64Snapshot.value_at_quantile`` estimates (DuckDB's own
    ``quantile_disc`` picks a different rank for some n and q)."""
    g = f"{group}, " if group else ""
    part = f"PARTITION BY {group}" if group else ""
    qlist = ", ".join(repr(float(q)) for q in qs)
    return f"""
WITH v AS (SELECT {g}{value} AS v FROM ({base}) WHERE {value} IS NOT NULL),
r AS (SELECT {g}v, row_number() OVER ({part} ORDER BY v) - 1 AS rn,
             count(*) OVER ({part}) AS n FROM v),
qs AS (SELECT CAST(unnest([{qlist}]) AS DOUBLE) AS q)
SELECT {g}q, v FROM r JOIN qs ON r.rn = least(CAST(floor(q * n) AS BIGINT), n - 1)
"""


def _grouped(rows, has_group: bool) -> dict:
    """{group|"": {q_str: value}} from (group?, q, value) rows."""
    out: dict = {}
    for r in rows:
        g, q, v = (r[0], r[1], r[2]) if has_group else ("", r[0], r[1])
        out.setdefault(str(g), {})[repr(float(q))] = int(v)
    return out


def _quantile_pair(con, base: str, value: str, qs, group: str | None) -> dict:
    from hg64spark import sqloracle

    sketch = con.execute(
        sqloracle.quantiles_sql(base, value, SIGBITS, qs, [group] if group else [])
    ).fetchall()
    exact = con.execute(_exact_sql(base, value, qs, group)).fetchall()
    return {"sketch": _grouped(sketch, bool(group)), "exact": _grouped(exact, bool(group))}


def compute_oracle(files: list[str]) -> dict:
    import duckdb

    from hg64spark import sqloracle

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        lat = _latency(files)
        base = _parquet(files)
        text_base = f"SELECT role, CAST(length(text) AS BIGINT) AS text_len FROM ({base})"
        turns_base = f"SELECT conv_id, CAST(count(*) AS BIGINT) AS n FROM ({base}) GROUP BY conv_id"
        buckets = con.execute(
            sqloracle.buckets_sql(text_base, "text_len", SIGBITS, ["role"])
        ).fetchall()
        n_rows, n_convs = con.execute(
            f"SELECT count(*), count(DISTINCT conv_id) FROM ({base})"
        ).fetchone()
        tool_counts = dict(
            con.execute(f"SELECT tool, count(*) FROM ({base}) GROUP BY tool").fetchall()
        )
        return {
            "version": _VERSION,
            "n_rows": int(n_rows),
            "n_convs": int(n_convs),
            "tool_counts": {k: int(v) for k, v in tool_counts.items()},
            "tool_q": _quantile_pair(con, lat, "latency_us", TOOL_QS, "tool"),
            "turn_q": _quantile_pair(con, turns_base, "n", TURN_QS, None),
            "textlen_buckets": sorted([list(map(_plain, r)) for r in buckets]),
            "shard_q": [
                _quantile_pair(con, _latency(shard_files(files, s)), "latency_us", CONV_QS, "conv_id")
                for s in range(SHARDS)
            ],
            "shard_rows": [
                int(con.execute(f"SELECT count(*) FROM ({_parquet(shard_files(files, s))})").fetchone()[0])
                for s in range(SHARDS)
            ],
            "step_q": [
                _quantile_pair(
                    con,
                    _latency([f for k in range(step + 1) for f in step_files(files, k)]),
                    "latency_us",
                    TOOL_QS,
                    "tool",
                )
                for step in range(INGEST_STEPS)
            ],
            "step_rows": [
                int(con.execute(f"SELECT count(*) FROM ({_parquet(step_files(files, k))})").fetchone()[0])
                for k in range(INGEST_STEPS)
            ],
        }
    finally:
        con.close()


def _plain(v):
    return v if isinstance(v, str) else int(v)


def latency_values(files: list[str]) -> np.ndarray:
    """Sorted non-null latencies of ``files``."""
    return np.sort(np.concatenate(list(latency_by_tool(files).values())))


def latency_by_tool(files: list[str]) -> dict[str, np.ndarray]:
    """tool -> sorted non-null latencies of ``files``, for rank checks and
    driver-side kernel timings."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        cols = con.execute(
            f"SELECT tool, latency_us FROM ({_latency(files)}) "
            "WHERE latency_us IS NOT NULL ORDER BY tool, latency_us"
        ).fetchnumpy()
    finally:
        con.close()
    tools = np.asarray(cols["tool"], dtype=object)
    vals = np.asarray(cols["latency_us"], dtype=np.int64)
    cuts = np.flatnonzero(tools[1:] != tools[:-1]) + 1
    starts = np.concatenate([[0], cuts])
    ends = np.concatenate([cuts, [len(tools)]])
    return {str(tools[a]): vals[a:b] for a, b in zip(starts, ends)}


# -------------------------------------------------------------- generation


class Inputs:
    """The parquet table for one seed plus its oracle answers."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.files = sorted(glob.glob(os.path.join(self.data_dir, "part-*.parquet")))
        with open(os.path.join(root, "oracle.json")) as fh:
            self.oracle = json.load(fh)

    @property
    def n_rows(self) -> int:
        return self.oracle["n_rows"]


def turn_limits(sizes: np.ndarray, n_convs: int = N_CONVS, n_turns: int = N_TURNS) -> np.ndarray:
    """Turns to keep per conversation (in conversation order) so the table
    holds exactly ``n_turns`` turns: the first ``n_convs`` conversations (more
    if they hold too few turns), the largest cut to a common cap, and one
    turn fewer for the last few at the cap to land on the total exactly.
    The Pareto skew survives below the cap (the cap is ~10^3 turns)."""
    cum = np.cumsum(sizes)
    if cum[-1] < n_turns:
        raise ValueError(f"{len(sizes)} conversations hold only {cum[-1]} turns")
    k = max(n_convs, int(np.searchsorted(cum, n_turns)) + 1)
    sizes = sizes[:k]
    lo, hi = 1, int(sizes.max())
    while lo < hi:  # smallest cap that keeps at least n_turns
        mid = (lo + hi) // 2
        if np.minimum(sizes, mid).sum() >= n_turns:
            hi = mid
        else:
            lo = mid + 1
    keep = np.minimum(sizes, lo)
    excess = int(keep.sum()) - n_turns
    at_cap = np.flatnonzero(sizes >= lo)  # more than `excess` by minimality
    keep[at_cap[len(at_cap) - excess :]] -= 1
    return keep


def assign_files(turns: np.ndarray, n_files: int = N_FILES) -> np.ndarray:
    """File index per conversation: largest conversations first, each into
    the file with the fewest turns so far, so files (and so shards and
    ingest steps) hold near-equal turns while every conversation stays in
    one file."""
    heap = [(0, f) for f in range(n_files)]
    out = np.empty(len(turns), dtype=np.int64)
    for idx in np.argsort(-turns, kind="stable"):
        load, f = heapq.heappop(heap)
        out[idx] = f
        heapq.heappush(heap, (load + int(turns[idx]), f))
    return out


def generate(spark, seed: int, dest: str) -> None:
    """Write the seed's table to ``dest`` as part-00000..part-000NN.parquet."""
    from pyspark.sql import functions as F

    from hg64spark import transcripts

    df = transcripts.synthetic_transcripts(spark, n_convs=N_GEN_CONVS, seed=seed, partitions=8)
    sizes = sorted((r["conv_id"], r["count"]) for r in df.groupBy("conv_id").count().collect())
    keep = turn_limits(np.array([n for _, n in sizes], dtype=np.int64))
    files = assign_files(keep)
    limits = spark.createDataFrame(
        [(cid, int(k), int(f)) for (cid, _), k, f in zip(sizes, keep, files)],
        "conv_id string, keep_turns int, file int",
    )
    staged = dest + ".staged"
    (
        df.join(F.broadcast(limits), "conv_id")
        .filter(F.col("turn_idx") < F.col("keep_turns"))
        .drop("keep_turns")
        .repartition(N_FILES, "file")
        .sortWithinPartitions("file", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("file")
        .parquet(staged)
    )
    os.makedirs(dest)
    for f in range(N_FILES):
        parts = glob.glob(os.path.join(staged, f"file={f}", "part-*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(f"file {f}: expected one parquet file, got {len(parts)}")
        os.replace(parts[0], os.path.join(dest, f"part-{f:05d}.parquet"))
    shutil.rmtree(staged)


def load_or_build(spark, seed: int, work: str) -> Inputs:
    """Inputs for ``seed``, generated on first use and cached in ``work``."""
    root = os.path.join(work, "inputs", f"v{_VERSION}-s{seed}")
    if os.path.exists(os.path.join(root, "oracle.json")):
        return Inputs(root)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(spark, seed, os.path.join(tmp, "data"))
    files = sorted(glob.glob(os.path.join(tmp, "data", "part-*.parquet")))
    oracle = compute_oracle(files)
    # the oracle names no file paths, so the directory can move as a whole
    with open(os.path.join(tmp, "oracle.json"), "w") as fh:
        json.dump(oracle, fh)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return Inputs(root)

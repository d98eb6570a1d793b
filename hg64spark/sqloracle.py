"""ANSI-SQL (DuckDB) re-implementation of the hg64 math, as SQL generators.

``tests/test_oracle.py`` runs each Spark answer side-by-side with an oracle
SQL string on DuckDB and compares the values, and every perfbench job checks
its answers against these generators.  For the hg64 operators the oracle is
not an approximation check — these generators re-derive the *exact*
bucket keys, bounds, rank scan and in-bucket interpolation
(`/root/reference/hg64.c:156-193,375-436`) in pure SQL, so Spark and DuckDB
must agree bit-for-bit:

* integer key math uses DuckDB's exact ``bin()`` string length for
  floor(log2) — no floating point anywhere on the key path;
* the only FP ops (rank = trunc(q*pop), frac = mul/div,
  value = trunc(span*frac)) are written as the same IEEE-754 double
  operations numpy performs, in the same order.

Values must be non-negative BIGINTs (the SQL surface of the u64 ingest type;
`SURVEY.md §1.4`).
"""

from __future__ import annotations

from collections.abc import Sequence

U64_MAX_DIV4 = (1 << 62) - 1


def key_expr(value_sql: str, sigbits: int) -> str:
    """`value_to_key` (`hg64.c:180-193`) as a SQL expression.

    floor_log2(binned) == length(bin(binned)) - 1 exactly, since DuckDB's
    bin() prints the minimal binary representation.
    """
    bs = 1 << sigbits
    binned = f"(({value_sql}) | {bs})"
    exp = f"(length(bin({binned})) - 1 - {sigbits})"
    return f"((({exp}) * {bs}) + (({value_sql}) >> ({exp})))"


def minval_expr(key_sql: str, sigbits: int) -> str:
    """`key_to_minval` (`hg64.c:156-162`)."""
    bs = 1 << sigbits
    return (
        f"(CASE WHEN ({key_sql}) < {bs} THEN ({key_sql}) "
        f"ELSE ((({key_sql}) % {bs}) + {bs}) << ((({key_sql}) // {bs}) - 1) END)"
    )


def minval_unsigned_expr(key_sql: str, sigbits: int) -> str:
    """`key_to_minval` exact over the FULL u64 key domain, as HUGEINT:
    the mantissa is widened before the shift — DuckDB's BIGINT ``<<``
    raises Out of Range once minval reaches 2^63 (top decades), where
    :func:`minval_expr` can no longer represent the value.  Mirrors the
    Spark side's decimal unsigned restore
    (`relational.hg64_trimmed_stats_from_counts`), so oracles that SUM
    count x minval stay exact wherever the library does."""
    bs = 1 << sigbits
    return (
        f"(CASE WHEN ({key_sql}) < {bs} THEN CAST(({key_sql}) AS HUGEINT) "
        f"ELSE CAST((({key_sql}) % {bs}) + {bs} AS HUGEINT) << ((({key_sql}) // {bs}) - 1) END)"
    )


def maxval_expr(key_sql: str, sigbits: int) -> str:
    """`key_to_maxval` (`hg64.c:164-174`)."""
    bs = 1 << sigbits
    return f"({minval_expr(key_sql, sigbits)} + ({U64_MAX_DIV4} >> (63 - (({key_sql}) // {bs}))))"


def _grp_list(group_cols: Sequence[str]) -> str:
    return ", ".join(group_cols)


def buckets_sql(
    base_sql: str,
    value_col: str,
    sigbits: int,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
) -> str:
    """Oracle for the exploded-bucket view (`hg64_get`, `hg64.c:272-283`):
    (group..., key, bucket_min, bucket_max, count), nonzero buckets only.
    ``base_sql`` must select ``value_col`` (non-negative BIGINT, NULLs allowed
    — dropped here as in the Spark pipeline) plus the group columns.  With
    ``weight_col`` the count is the weighted `hg64_add` sum."""
    g = _grp_list(group_cols)
    gsel = f"{g}, " if g else ""
    cnt = f"CAST(sum({weight_col}) AS BIGINT)" if weight_col else "count(*)"
    return f"""
WITH base AS ({base_sql}),
keyed AS (
    SELECT {gsel}{key_expr(value_col, sigbits)} AS key, {cnt} AS count
    FROM base WHERE {value_col} IS NOT NULL
    GROUP BY {gsel[:-2] + ', key' if g else 'key'}
)
SELECT {gsel}key,
       {minval_expr('key', sigbits)} AS bucket_min,
       {maxval_expr('key', sigbits)} AS bucket_max,
       count
FROM keyed
"""


def upsample_buckets_sql(
    base_sql: str, value_col: str, from_sigbits: int, to_sigbits: int
) -> str:
    """Oracle for the coarse->fine cross-precision merge — the FP pro-rata
    branch of `hg64_merge`/`put` (`hg64.c:256-270,297-305`, exercised by the
    reference at `test.c:234-237`).

    Reproduces the carried-remainder allocation EXACTLY: a recursive CTE
    walks each coarse bucket's spanned fine keys in order, carrying
    (running vmin, remaining count), and computes each key's increment with
    the same IEEE-754 double ops in the same order as the Python/C loop
    (``int(float(count) * (some / rest))`` == ``trunc(remaining::DOUBLE *
    (some::DOUBLE / rest::DOUBLE))``) — so the oracle comparison of
    the upsampled buckets is bit-for-bit, not bound-based.  Recursion depth
    per coarse bucket is at most 2^(to-from)."""
    assert to_sigbits > from_sigbits
    bmax = maxval_expr("key", to_sigbits)
    inc = (
        f"CAST(trunc(CAST(remaining AS DOUBLE) * "
        f"(CAST(least({bmax}, vmax) - vmin + 1 AS DOUBLE) "
        f"/ CAST(vmax - vmin + 1 AS DOUBLE))) AS BIGINT)"
    )
    return f"""
WITH RECURSIVE
coarse AS (
    SELECT bucket_min AS vmin, bucket_max AS vmax, count AS cnt
    FROM ({buckets_sql(base_sql, value_col, from_sigbits)})
),
steps AS (
    SELECT CAST({key_expr("vmin", to_sigbits)} AS BIGINT) AS key,
           vmin, vmax, cnt AS remaining
    FROM coarse
    UNION ALL
    SELECT key + 1,
           least({bmax}, vmax) + 1,
           vmax,
           remaining - {inc}
    FROM steps
    WHERE key < {key_expr("vmax", to_sigbits)}
),
alloc AS (SELECT key, {inc} AS inc FROM steps)
SELECT key,
       {minval_expr("key", to_sigbits)} AS bucket_min,
       {maxval_expr("key", to_sigbits)} AS bucket_max,
       CAST(sum(inc) AS BIGINT) AS count
FROM alloc GROUP BY key HAVING sum(inc) > 0
"""


def quantiles_sql(
    base_sql: str,
    value_col: str,
    sigbits: int,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> str:
    """Oracle for `hg64s_value_at_quantile` (`hg64.c:375-436`): for each group
    and q, the exact sketch answer — two-level rank scan via cumulative bucket
    counts, then linear interpolation inside the landing bucket.

    rank  = trunc(q * population)            (`hg64.c:434-435`)
    value = min + trunc((max-min) * (rank_in_bucket / count))  (`hg64.c:103-107`)
    """
    g = _grp_list(group_cols)
    gsel = f"{g}, " if g else ""
    c_g = "c." + ", c.".join(group_cols) + ", " if g else ""
    part = f"PARTITION BY {g}" if g else ""
    qlist = ", ".join(repr(float(q)) for q in qs)
    return f"""
WITH base AS ({base_sql}),
keyed AS (
    SELECT {gsel}{key_expr(value_col, sigbits)} AS key, count(*) AS cnt
    FROM base WHERE {value_col} IS NOT NULL
    GROUP BY {gsel[:-2] + ', key' if g else 'key'}
),
cum AS (
    SELECT {gsel}key, cnt,
           sum(cnt) OVER ({part} ORDER BY key) AS cum_incl,
           sum(cnt) OVER ({part}) AS pop
    FROM keyed
),
qs AS (SELECT CAST(unnest([{qlist}]) AS DOUBLE) AS q),
hit AS (
    SELECT {c_g}q.q, c.key, c.cnt, c.cum_incl - c.cnt AS cum_before, c.pop
    FROM cum c CROSS JOIN qs q
    WHERE trunc(q.q * c.pop) >= c.cum_incl - c.cnt
      AND trunc(q.q * c.pop) < c.cum_incl
)
SELECT {gsel}q,
       CAST({minval_expr('key', sigbits)}
            + trunc(CAST({maxval_expr('key', sigbits)} - {minval_expr('key', sigbits)} AS DOUBLE)
                    * (CAST(CAST(trunc(q * pop) AS BIGINT) - cum_before AS DOUBLE) / CAST(cnt AS DOUBLE)))
            AS BIGINT) AS value
FROM hit
"""


def ranks_sql(
    base_sql: str,
    value_col: str,
    sigbits: int,
    probes: Sequence[int],
    group_cols: Sequence[str] = (),
) -> str:
    """Oracle for `hg64s_rank_of_value` (`hg64.c:410-429`): count strictly
    below the probe's bucket plus the interpolated in-bucket fraction
    (div==0 -> frac=1, the exact-bucket case)."""
    g = _grp_list(group_cols)
    gsel = f"{g}, " if g else ""
    pk_g = ("pk." + ", pk.".join(group_cols) + ", ") if g else ""
    join = (" AND ".join(f"k.{c} = pk.{c}" for c in group_cols)) if g else "TRUE"
    plist = ", ".join(str(int(p)) for p in probes)
    return f"""
WITH base AS ({base_sql}),
keyed AS (
    SELECT {gsel}{key_expr(value_col, sigbits)} AS key, count(*) AS cnt
    FROM base WHERE {value_col} IS NOT NULL
    GROUP BY {gsel[:-2] + ', key' if g else 'key'}
),
grps AS (SELECT DISTINCT {g if g else '1 AS one'} FROM keyed),
probes AS (SELECT unnest([{plist}]) AS probe),
pk AS (
    SELECT {'g.' + ', g.'.join(group_cols) + ',' if g else ''} p.probe,
           {key_expr('p.probe', sigbits)} AS pkey
    FROM grps g CROSS JOIN probes p
),
agg AS (
    SELECT {pk_g}pk.probe, pk.pkey,
           coalesce(sum(k.cnt) FILTER (WHERE k.key < pk.pkey), 0) AS cum_before,
           coalesce(sum(k.cnt) FILTER (WHERE k.key = pk.pkey), 0) AS cnt
    FROM pk LEFT JOIN keyed k ON {join}
    GROUP BY {pk_g[:-2] + ', pk.probe, pk.pkey' if g else 'pk.probe, pk.pkey'}
)
SELECT {gsel}CAST(probe AS BIGINT) AS probe,
       CAST(cum_before
            + CASE WHEN {maxval_expr('pkey', sigbits)} = {minval_expr('pkey', sigbits)}
                   THEN cnt
                   ELSE trunc(CAST(cnt AS DOUBLE)
                              * (CAST(probe - {minval_expr('pkey', sigbits)} AS DOUBLE)
                                 / CAST({maxval_expr('pkey', sigbits)} - {minval_expr('pkey', sigbits)} AS DOUBLE)))
              END AS BIGINT) AS rank
FROM agg
"""


def stats_sql(base_sql: str, value_col: str, sigbits: int, group_cols: Sequence[str] = ()) -> str:
    """Oracle for the integer-exact midpoint stats (`hg64_stats` finalizer):
    mean = S1/(2*pop), variance = S2/(4*pop) - mean^2 with S1, S2 exact
    (HUGEINT) — mirrors `HG64Snapshot.midpoint_stats_exact`."""
    g = _grp_list(group_cols)
    gsel = f"{g}, " if g else ""
    mn = minval_expr("key", sigbits)
    mx = maxval_expr("key", sigbits)
    return f"""
WITH base AS ({base_sql}),
keyed AS (
    SELECT {gsel}{key_expr(value_col, sigbits)} AS key, count(*) AS cnt
    FROM base WHERE {value_col} IS NOT NULL
    GROUP BY {gsel[:-2] + ', key' if g else 'key'}
),
sums AS (
    SELECT {gsel}sum(cnt) AS pop,
           sum(CAST(cnt AS HUGEINT) * ({mn} + {mx})) AS s1,
           sum(CAST(cnt AS HUGEINT) * CAST({mn} + {mx} AS HUGEINT) * ({mn} + {mx})) AS s2
    FROM keyed
    {f'GROUP BY {g}' if g else ''}
)
SELECT {gsel}CAST(pop AS BIGINT) AS population,
       CAST(s1 AS DOUBLE) / (2 * CAST(pop AS DOUBLE)) AS mean,
       CAST(s2 AS DOUBLE) / (4 * CAST(pop AS DOUBLE))
         - (CAST(s1 AS DOUBLE) / (2 * CAST(pop AS DOUBLE))) * (CAST(s1 AS DOUBLE) / (2 * CAST(pop AS DOUBLE))) AS variance
FROM sums
"""

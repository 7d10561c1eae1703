"""Independent DuckDB checks of everything the benchmark's operations
publish or return.  Runs outside every timed region.

Expected tiers are aggregated straight from the generated input parquet;
actual tiers are read from the parquet files the pipeline published (for a
snapshot-backed stage, exactly the files its snapshot references).  Spark
and the pipeline's own read path are never used to compute an expectation.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

BUCKET = {"raw": "minute", "hourly": "hour", "daily": "day", "monthly": "month"}
KEYS = ["source", "bucket_start"]
VALUES = ["n_seq", "n_tok_sum", "n_tok_min", "n_tok_max"]
FILLED_VALUES = [*VALUES, "gapfilled"]
METRIC_VALUES = ["n_buckets", "mk_s"]  # compared exactly
METRIC_FLOATS = ["value_mean", "value_stdev"]  # compared to 1e-9 relative


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    return con


def _files_sql(files: list[str]) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}], union_by_name=true)"


def _tier_sql(input_files: list[str], tier: str) -> str:
    return f"""
        SELECT source,
               date_trunc('{BUCKET[tier]}', ts::TIMESTAMP) AS bucket_start,
               count(*)::BIGINT AS n_seq,
               sum(n_tok)::BIGINT AS n_tok_sum,
               min(n_tok)::BIGINT AS n_tok_min,
               max(n_tok)::BIGINT AS n_tok_max,
               sum(n_tok)::DOUBLE / count(*) AS n_tok_mean
        FROM {_files_sql(input_files)}
        GROUP BY ALL
        """


def expected_tier(con, input_files: list[str], tier: str) -> pd.DataFrame:
    return con.sql(f"{_tier_sql(input_files, tier)} ORDER BY source, bucket_start").df()


def _gapfill_sql(input_files: list[str], tier: str) -> str:
    """Linear gap-fill of the tier, from its definition: each source's
    buckets from its first to its last observed one, one calendar step
    apart; a missing bucket takes ``p + w * (n - p)`` of its nearest
    observed neighbours, ``w`` the time fraction between them, rounded for
    the integer columns."""
    ivals = ", ".join(
        f"CASE WHEN obs THEN {c} ELSE round(p_{c} + w * (n_{c} - p_{c}))::BIGINT END AS {c}"
        for c in VALUES
    )
    frames = ", ".join(
        f"last_value({c} IGNORE NULLS) OVER before AS p_{c},"
        f" first_value({c} IGNORE NULLS) OVER after AS n_{c}"
        for c in (*VALUES, "n_tok_mean", "obs_t")
    )
    return f"""
        WITH t AS ({_tier_sql(input_files, tier)}),
        spine AS (
            SELECT source, unnest(generate_series(min(bucket_start), max(bucket_start),
                                                  INTERVAL 1 {BUCKET[tier]})) AS bucket_start
            FROM t GROUP BY source),
        j AS (
            SELECT spine.source, spine.bucket_start, t.* EXCLUDE (source, bucket_start),
                   t.n_seq IS NOT NULL AS obs,
                   CASE WHEN t.n_seq IS NOT NULL THEN epoch(spine.bucket_start) END AS obs_t
            FROM spine LEFT JOIN t USING (source, bucket_start)),
        f AS (
            SELECT *, {frames}
            FROM j
            WINDOW before AS (PARTITION BY source ORDER BY bucket_start
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   after AS (PARTITION BY source ORDER BY bucket_start
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
        g AS (
            SELECT *, (epoch(bucket_start) - p_obs_t) / (n_obs_t - p_obs_t) AS w FROM f)
        SELECT source, bucket_start, {ivals},
               CASE WHEN obs THEN n_tok_mean
                    ELSE p_n_tok_mean + w * (n_n_tok_mean - p_n_tok_mean) END AS n_tok_mean,
               NOT obs AS gapfilled
        FROM g
        """


def expected_gapfill(con, input_files: list[str], tier: str) -> pd.DataFrame:
    return con.sql(
        f"{_gapfill_sql(input_files, tier)} ORDER BY source, bucket_start"
    ).df()


def expected_metrics(con, input_files: list[str], tier: str) -> pd.DataFrame:
    """The metrics row of each source over its gap-filled ``n_tok_mean``
    series: bucket count, mean, sample standard deviation and the
    Mann-Kendall ``S = sum_{i<j} sign(x_j - x_i)`` (NULL under five
    buckets).  The decomposition statistics are not re-derived."""
    return con.sql(
        f"""
        WITH x AS (SELECT source, bucket_start, n_tok_mean AS x
                   FROM ({_gapfill_sql(input_files, tier)})),
        mk AS (SELECT a.source, sum(sign(b.x - a.x))::DOUBLE AS mk_s
               FROM x a JOIN x b ON a.source = b.source AND a.bucket_start < b.bucket_start
               GROUP BY a.source)
        SELECT source, count(*)::BIGINT AS n_buckets, avg(x) AS value_mean,
               stddev_samp(x) AS value_stdev,
               CASE WHEN count(*) >= 5 THEN any_value(mk.mk_s) END AS mk_s
        FROM x LEFT JOIN mk USING (source)
        GROUP BY source ORDER BY source
        """
    ).df()


def published_tier(con, files: list[str], filled: bool = False) -> pd.DataFrame:
    return con.sql(
        f"""
        SELECT source, bucket_start::TIMESTAMP AS bucket_start,
               n_seq::BIGINT AS n_seq, n_tok_sum::BIGINT AS n_tok_sum,
               n_tok_min::BIGINT AS n_tok_min, n_tok_max::BIGINT AS n_tok_max
               {", gapfilled" if filled else ""}
        FROM {_files_sql(files)}
        ORDER BY source, bucket_start
        """
    ).df()


def published_metrics(con, files: list[str]) -> pd.DataFrame:
    return con.sql(
        f"""
        SELECT source, n_buckets::BIGINT AS n_buckets, value_mean, value_stdev, mk_s
        FROM {_files_sql(files)} ORDER BY source
        """
    ).df()


def diff_tier(expected: pd.DataFrame, actual: pd.DataFrame,
              values: list[str] = VALUES) -> str | None:
    """``None`` when both frames hold the same (source, bucket) rows with
    the same ``values``, else a one-line description of the first
    difference."""
    if len(expected) != len(actual):
        return f"{len(actual)} rows published, {len(expected)} expected"
    e = expected[KEYS + values].reset_index(drop=True)
    a = actual[KEYS + values].reset_index(drop=True)
    a["bucket_start"] = pd.to_datetime(a["bucket_start"]).astype("datetime64[us]")
    e["bucket_start"] = pd.to_datetime(e["bucket_start"]).astype("datetime64[us]")
    return _first_difference(e, a, KEYS + values)


def diff_metrics(expected: pd.DataFrame, actual: pd.DataFrame) -> str | None:
    if len(expected) != len(actual):
        return f"{len(actual)} metrics rows published, {len(expected)} expected"
    e = expected.reset_index(drop=True)
    a = actual.reset_index(drop=True)
    bad = _first_difference(e, a, ["source", *METRIC_VALUES])
    if bad:
        return bad
    for c in METRIC_FLOATS:
        ev, av = e[c].to_numpy("float64"), a[c].to_numpy("float64")
        off = abs(av - ev) > 1e-9 * np.maximum(1.0, abs(ev))
        if off.any():
            i = int(off.argmax())
            return f"{c} of {e.loc[i, 'source']}: published {av[i]}, expected {ev[i]}"
    return None


def _first_difference(e: pd.DataFrame, a: pd.DataFrame, cols: list[str]) -> str | None:
    for c in cols:
        bad = (a[c] != e[c]) & ~(a[c].isna() & e[c].isna())
        if bad.any():
            i = int(bad.to_numpy().argmax())
            at = " ".join(str(e.loc[i, k]) for k in KEYS if k in e.columns)
            return f"{c} differs at {at}: published {a.loc[i, c]}, expected {e.loc[i, c]}"
    return None


def range_totals(con, files: list[str], start, end, sources) -> tuple[int, int]:
    """(rows, sum of n_tok_sum) of a published tier inside ``[start, end)``
    for ``sources`` — what a pruned ``read_stage`` must return."""
    if not files:
        return 0, 0
    src = ", ".join(f"'{s}'" for s in sources)
    n, s = con.sql(
        f"""
        SELECT count(*), coalesce(sum(n_tok_sum), 0)
        FROM {_files_sql(files)}
        WHERE bucket_start::TIMESTAMP >= TIMESTAMP '{start}'
          AND bucket_start::TIMESTAMP < TIMESTAMP '{end}'
          AND source IN ({src})
        """
    ).fetchone()
    return int(n), int(s)


def lttb_mismatch(con, files: list[str], start, end, source, m, picked) -> str | None:
    """An LTTB result must keep ``min(n, m)`` points of the series, and each
    kept point ``(i, x)`` must be the series' i-th bucket in time order."""
    series = con.sql(
        f"""
        SELECT row_number() OVER (ORDER BY bucket_start) - 1 AS i,
               n_tok_sum::BIGINT AS x
        FROM {_files_sql(files)}
        WHERE bucket_start::TIMESTAMP >= TIMESTAMP '{start}'
          AND bucket_start::TIMESTAMP < TIMESTAMP '{end}'
          AND source = '{source}'
        """
    ).df()
    want = min(len(series), m)
    if len(picked) != want:
        return f"lttb kept {len(picked)} points, expected {want}"
    x_at = dict(zip(series["i"].tolist(), series["x"].tolist()))
    for i, x in picked:
        if x_at.get(i) != x:
            return f"lttb point i={i} x={x} is not the series value {x_at.get(i)}"
    return None


def tier_rows(con, files: list[str]) -> int:
    if not files:
        return 0
    return int(con.sql(f"SELECT count(*) FROM {_files_sql(files)}").fetchone()[0])

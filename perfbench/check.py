"""Correctness checks, run outside the timed region.

DuckDB reads the same feed files the engine drained and computes what
the sink table must hold; the engine's table, read back through the
sink's own reader, must equal it as a multiset. Batch leaves are
compared with their ``oracle_sql()`` by the order-insensitive hash of
``tools/check_oracle.py``.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from dstream_spark.functions.text import STOPWORDS
from tools.check_oracle import hash_rows

# a dedup sink keeps one delivery per (conv_id, turn_idx); deliveries
# differ at most in _commit_version (a re-delivery in a later commit of
# the live feed), and two that land in one micro-batch may keep either
DEDUP_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_change_type"]

# the text kernels' columns (bench_pipeline.transform_stage), as the
# DuckDB expressions of the docs_token_stats, docs_quality and
# docs_fingerprint oracles in dstream_spark.queries
_TOKENS = "string_split(text, ' ')"
_STOPS = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
_N_STOP = f"len(list_filter({_TOKENS}, t -> list_contains({_STOPS}, t)))"
KERNEL_COLS = {
    "n_tokens": f"CAST(len({_TOKENS}) AS INT)",
    "quality": f"round(0.5 * least(len({_TOKENS}) / 100.0, 1.0) "
               f"+ 0.5 * (1.0 - CAST({_N_STOP} AS DOUBLE) / len({_TOKENS})), 6)",
    "fingerprint": f"md5(array_to_string({_TOKENS}[1:8], ' '))",
}
DEDUP_TABLE_COLS = DEDUP_COLS + list(KERNEL_COLS)


def dedup_expected_sql(feed_glob: str) -> str:
    """One row per (conv_id, turn_idx) of the feed, with the text
    kernels' columns computed from its text."""
    cols = ", ".join(DEDUP_COLS + [f"{e} AS {c}" for c, e in KERNEL_COLS.items()])
    return (
        f"SELECT {cols} FROM read_parquet('{feed_glob}') "
        "QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY _commit_version) = 1"
    )


def window_expected_sql(feed_glob: str) -> str:
    """Tumbling 1-hour count per (window, conv_id) over every delivery."""
    return (
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start, conv_id, count(*) AS n_turns "
        f"FROM read_parquet('{feed_glob}') GROUP BY ALL"
    )


def _naive(t: pa.Table) -> pa.Table:
    """Zone-aware timestamps (Spark TIMESTAMP, UTC session) as naive UTC."""
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            t = t.set_column(i, f.name, t.column(i).cast(pa.timestamp(f.type.unit)))
    return t


def table_mismatches(expected_sql: str, actual: pa.Table) -> int:
    """Rows in one multiset and not the other (0 = equal tables)."""
    con = duckdb.connect()
    try:
        con.register("actual", _naive(actual))
        con.sql(f"CREATE TEMP TABLE expected AS {expected_sql}")
        cols = ", ".join(f'"{c}"' for c in actual.column_names)
        missing = con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM expected EXCEPT ALL SELECT {cols} FROM actual)"
        ).fetchone()[0]
        extra = con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM actual EXCEPT ALL SELECT {cols} FROM expected)"
        ).fetchone()[0]
        return int(missing) + int(extra)
    finally:
        con.close()


def rows_of(t: pa.Table) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in t.columns))) if t.num_columns else []


def oracle_digest(con: duckdb.DuckDBPyConnection, oracle: str) -> dict:
    """Columns, row count and order-insensitive hash of an oracle's answer."""
    res = con.sql(oracle)
    cols = list(res.columns)
    rows = res.fetchall()
    return {"cols": sorted(cols), "rows": len(rows), "hash": hash_rows(cols, rows)}


def leaf_matches(expected: dict, cols: list[str], rows: list[tuple]) -> bool:
    """A leaf's rows against its oracle digest: same columns, row count and hash."""
    return (
        sorted(cols) == expected["cols"]
        and len(rows) == expected["rows"]
        and hash_rows(cols, rows) == expected["hash"]
    )

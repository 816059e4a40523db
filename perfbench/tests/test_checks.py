"""The benchmark's correctness checks catch a corrupted result.

Pure DuckDB/pyarrow: no Spark session. Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import check  # noqa: E402
from dstream_spark.functions.text import STOPWORDS  # noqa: E402


@pytest.fixture
def feed(tmp_path):
    """Two commit files; two rows of the first are re-delivered in the
    second with a later _commit_version."""
    ts = pa.array([1_700_000_000_000_000 + i * 30_000_000 for i in range(6)], pa.timestamp("us"))
    base = pa.table({
        "conv_id": ["c1#0", "c1#0", "c2#0", "c2#0", "c3#1", "c3#1"],
        "turn_idx": pa.array([1, 2, 1, 2, 1, 2], pa.int32()),
        "role": ["user", "agent", "user", "tool", "user", "agent"],
        "text": ["click 1.5 {\"k\": 3}", "the a b", "c", "one two three four five six seven eight nine",
                 "a", "f of the"],
        "tool": [None, None, None, "tool_1", None, None],
        "ts": ts,
        "_change_type": ["insert"] * 6,
        "_commit_version": pa.array([0] * 6, pa.int64()),
    })
    redeliver = base.take([0, 3]).set_column(7, "_commit_version", pa.array([1, 1], pa.int64()))
    pq.write_table(base, tmp_path / "commit_0.parquet")
    pq.write_table(redeliver, tmp_path / "commit_1.parquet")
    return str(tmp_path / "*.parquet"), base


def _dedup_table(base: pa.Table) -> pa.Table:
    """The sink table a correct dedup job writes: the feed's columns and
    the text kernels' columns, computed here in plain Python."""
    t = base.select(check.DEDUP_COLS)
    texts = t.column("text").to_pylist()
    toks = [x.split(" ") for x in texts]
    n_stop = [sum(w in STOPWORDS for w in ws) for ws in toks]
    t = t.append_column("n_tokens", pa.array([len(ws) for ws in toks], pa.int32()))
    t = t.append_column("quality", pa.array(
        [round(0.5 * min(len(ws) / 100.0, 1.0) + 0.5 * (1.0 - s / len(ws)), 6) for ws, s in zip(toks, n_stop)]
    ))
    return t.append_column("fingerprint", pa.array([hashlib.md5(" ".join(ws[:8]).encode()).hexdigest() for ws in toks]))


def _with_cell(t: pa.Table, col: str, row: int, value) -> pa.Table:
    vals = t.column(col).to_pylist()
    vals[row] = value
    return t.set_column(t.schema.get_field_index(col), col, pa.array(vals, t.schema.field(col).type))


def test_dedup_check_accepts_the_exact_table(feed):
    glob, base = feed
    sql = check.dedup_expected_sql(glob)
    assert check.table_mismatches(sql, _dedup_table(base)) == 0


@pytest.mark.parametrize("corrupt", [
    "cell", "missing_row", "duplicate_row", "null",
    "n_tokens", "quality", "fingerprint", "kernel_null",
])
def test_dedup_check_catches_corruption(feed, corrupt):
    glob, base = feed
    t = _dedup_table(base)
    if corrupt == "cell":
        t = _with_cell(t, "text", 2, "c!")
    elif corrupt == "missing_row":
        t = t.slice(1)
    elif corrupt == "duplicate_row":
        t = pa.concat_tables([t, t.slice(0, 1)])
    elif corrupt == "null":
        t = _with_cell(t, "role", 4, None)
    elif corrupt == "n_tokens":
        t = _with_cell(t, "n_tokens", 3, 8)  # counted only the fingerprint prefix
    elif corrupt == "quality":
        t = _with_cell(t, "quality", 1, 0.2)
    elif corrupt == "fingerprint":
        t = _with_cell(t, "fingerprint", 3, hashlib.md5(base.column("text")[3].as_py().encode()).hexdigest())
    else:
        t = _with_cell(t, "quality", 5, None)
    assert check.table_mismatches(check.dedup_expected_sql(glob), t) > 0


def test_window_check_counts_every_delivery_and_catches_a_wrong_count(feed):
    glob, _ = feed
    sql = check.window_expected_sql(glob)
    con = duckdb.connect()
    right = con.sql(sql).arrow()
    con.close()
    # the engine's window start is a zone-aware instant (UTC session)
    aware = right.set_column(0, "w_start", right.column("w_start").cast(pa.timestamp("us", tz="UTC")))
    assert check.table_mismatches(sql, aware) == 0
    assert sum(right.column("n_turns").to_pylist()) == 8  # 6 rows + 2 re-deliveries
    assert check.table_mismatches(sql, _with_cell(aware, "n_turns", 0, 99)) > 0


def test_leaf_check_catches_a_changed_row():
    con = duckdb.connect()
    oracle = "SELECT * FROM (VALUES (1, 'x', 0.5::DOUBLE), (2, 'y', 1.25::DOUBLE)) t(k, s, v)"
    cols = ["k", "s", "v"]
    expected = check.oracle_digest(con, oracle)
    con.close()
    assert check.leaf_matches(expected, cols, [(2, "y", 1.25), (1, "x", 0.5)])
    assert not check.leaf_matches(expected, cols, [(2, "y", 1.25), (1, "x", 0.51)])
    assert not check.leaf_matches(expected, cols, [(2, "y", 1.25)])
    assert not check.leaf_matches(expected, ["k", "s", "w"], [(2, "y", 1.25), (1, "x", 0.5)])

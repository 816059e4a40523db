"""Seeded inputs for the benchmark.

Everything the engine reads during a benchmark run is built here from
``--seed``: the ten base tables (same schema and value shapes as the
engine's sf test tables), the replicated change feeds drained by the
backlog workloads, and the numbered commit files the ``cdc_live``
generator lands. The engine receives only the parquet files.

Each product is cached under the checkout's ``.perfbench/data`` by
seed and shape, so a second run with the same seed skips generation.
Generation runs before any timing starts.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dstream_spark.fixtures.transcripts import TRANSCRIPTS_CTE

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the data stream spark batch window merge table column vector value small big "
    "join filter group hash customer sort order slow fast line part row agg key query scan"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# change-feed time shape, as in dstream_spark.bench_pipeline.build_feed:
# conversations start uniformly over two days and take one turn per 30 s
FEED_T0 = np.datetime64("2024-03-01T00:00:00", "us")
FEED_SPAN_S = 2 * 86400
TURN_GAP_S = 30
DUP_FRACTION = 0.10


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D")
    b = np.datetime64(hi, "D")
    off = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + off).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def base_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten engine tables at scale factor ``sf``, drawn from ``rng``."""
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    # events: ts ascends with event_id over 30 days of January 2024
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: 10-99 words drawn uniformly from a 31-word vocabulary;
    # 5% are then overwritten, one after another, by the text of another
    # document plus " dup" (so a copy may copy a copy, and a copied
    # original may itself be overwritten later). These are the near-dup
    # pairs the MinHash / SimHash leaves look for; the sf test tables
    # have the same share and structure (perfbench/profile_inputs.py)
    lens = rng.integers(10, 100, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(n_docs, size=max(1, n_docs // 20), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    x = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def sf_dir(root: str, seed: int, sf: float) -> str:
    """Directory of the base tables for (seed, sf); built on first use."""
    d = os.path.join(root, f"sf{sf:g}_seed{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rng = np.random.default_rng([seed, 1])
        for name, t in base_tables(rng, sf).items():
            _write(t, os.path.join(d, f"{name}.parquet"))
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def _transcripts(events_dir: str) -> pa.Table:
    """The engine's transcript derivation, run by DuckDB from its
    oracle SQL text over the generated events table."""
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{events_dir}/events.parquet'")
        return con.sql(
            f"WITH {TRANSCRIPTS_CTE} SELECT * FROM transcripts ORDER BY conv_id, turn_idx"
        ).arrow()
    finally:
        con.close()


def _replicated(rng: np.random.Generator, t: pa.Table, replicas: int) -> pa.Table:
    """``replicas`` copies of the transcripts, conv_id salted per replica
    ('c7#2'), each salted conversation starting at a seeded offset in a
    two-day span with one turn per 30 s (ts order == turn order)."""
    parts = []
    conv = t.column("conv_id").to_numpy(zero_copy_only=False)
    turn = t.column("turn_idx").to_numpy()
    _, conv_ix = np.unique(conv, return_inverse=True)
    n_conv = int(conv_ix.max()) + 1
    for r in range(replicas):
        start_s = rng.integers(0, FEED_SPAN_S, n_conv)[conv_ix]
        secs = start_s + turn.astype(np.int64) * TURN_GAP_S
        ts = FEED_T0 + (secs * 10**6).astype("timedelta64[us]")
        salted = pa.array(np.char.add(conv.astype(str), f"#{r}"))
        parts.append(
            t.set_column(t.schema.get_field_index("conv_id"), "conv_id", salted)
            .set_column(t.schema.get_field_index("ts"), "ts", pa.array(ts))
        )
    return pa.concat_tables(parts)


def _feed_columns(t: pa.Table, version: np.ndarray) -> pa.Table:
    t = t.select(["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    t = t.append_column("_change_type", pa.array(np.full(len(t), "insert")))
    return t.append_column("_commit_version", pa.array(version.astype(np.int64)))


def _with_file_times(paths: list[str]) -> None:
    # the file source orders a listing by modification time
    t0 = 1_700_000_000
    for i, p in enumerate(paths):
        os.utime(p, (t0 + i * 10, t0 + i * 10))


def backlog_feed(root: str, base: str, seed: int, replicas: int, n_files: int) -> tuple[str, int]:
    """The replicated change feed for a backlog drain: ``n_files``
    time-ordered commit files, 10% of rows re-delivered in the same
    commit. Returns (feed dir, input events)."""
    d = os.path.join(root, f"feed_{os.path.basename(base)}_r{replicas}_f{n_files}")
    meta = os.path.join(d, "_feed_meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rng = np.random.default_rng([seed, 2, replicas, n_files])
        t = _replicated(rng, _transcripts(base), replicas)
        dups = np.flatnonzero(rng.random(len(t)) < DUP_FRACTION)
        t = pa.concat_tables([t, t.take(dups)])
        secs = (t.column("ts").to_numpy() - FEED_T0).astype("timedelta64[s]").astype(np.int64)
        lo, hi = int(secs.min()), int(secs.max()) + 1
        sl = np.minimum(n_files - 1, (secs - lo) * n_files // (hi - lo))
        t = _feed_columns(t, sl)
        paths = []
        for s in range(n_files):
            part = t.filter(pa.array(sl == s))
            part = part.take(rng.permutation(len(part)))
            p = os.path.join(d, f"slice_{s:04d}.parquet")
            pq.write_table(part, p)
            paths.append(p)
        _with_file_times(paths)
        with open(meta + ".tmp", "w") as f:
            json.dump({"events": len(t)}, f)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        return d, int(json.load(f)["events"])


def live_files(root: str, base: str, seed: int, n_files: int, per_file: int) -> tuple[str, int]:
    """Pre-built commit files for the open-loop ``cdc_live`` run. File
    i holds the next ``per_file`` original events in ts order plus the
    re-deliveries of 10% of the originals of file i-k (k in 1..3), and
    every row carries _commit_version = i. Returns (dir, events)."""
    d = os.path.join(root, f"live_{os.path.basename(base)}_n{n_files}_p{per_file}")
    meta = os.path.join(d, "_feed_meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rng = np.random.default_rng([seed, 3, n_files, per_file])
        t = _replicated(rng, _transcripts(base), 1)
        t = t.take(np.argsort(t.column("ts").to_numpy(), kind="stable"))
        need = n_files * per_file
        if len(t) < need:
            raise ValueError(f"live feed needs {need} events, transcripts hold {len(t)}")
        origs = [t.slice(i * per_file, per_file) for i in range(n_files)]
        redeliver: list[list[pa.Table]] = [[] for _ in range(n_files)]
        for i, o in enumerate(origs):
            k = i + int(rng.integers(1, 4))
            if k < n_files:
                pick = np.flatnonzero(rng.random(len(o)) < DUP_FRACTION)
                redeliver[k].append(o.take(pick))
        total = 0
        for i, o in enumerate(origs):
            f = pa.concat_tables([o, *redeliver[i]])
            f = _feed_columns(f, np.full(len(f), i))
            pq.write_table(f, os.path.join(d, f"commit_{i:05d}.parquet"))
            total += len(f)
        with open(meta + ".tmp", "w") as fh:
            json.dump({"events": total}, fh)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        return d, int(json.load(f)["events"])

"""Shared query-registry primitives.

Both queries.py and queries_ext.py need the Query dataclass, the
transcript derivation, and the shared-CTE SQL helper. They live here
(not in queries.py) so the two registry modules have no import cycle:
queries.py merges queries_ext.EXT_QUERIES at its bottom, and
queries_ext imports only this module — either import order works.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dstream_spark.fixtures.transcripts import TRANSCRIPTS_CTE

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    note: str = ""


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dstream_spark.fixtures.transcripts import transcripts_from_events

    return transcripts_from_events(spark, sf_dir)


def _t_sql(body: str) -> str:
    return f"WITH {TRANSCRIPTS_CTE} {body}"


# the ordered-relay identity oracle — shared by relay_identity and the
# streaming exactly-once / dedup queries (their contract is "each turn
# exactly once")
IDENTITY_SQL = _t_sql("SELECT * FROM transcripts")

# DuckDB form of functions.dedup_text.word_shingles(k=3): distinct word
# 3-grams, empty list for docs under 3 tokens (greatest(...) guards
# generate_series, which descends for n <= 0 on the Spark side — see
# word_shingles). Shared by the jaccard/minhash and decontamination
# oracles.
SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)), "
    "i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))"
)


def _minhash_sql() -> tuple[str, str]:
    """DuckDB forms of functions.dedup_text minhash_signature +
    lsh_bands: the signature CTE (WHERE len(sh) > 0 mirrors the
    Spark-side short-doc guard) and the per-band projection body.
    Shared by the bands/pairs/verified oracles (queries.py) and the
    dup-cluster oracle (queries_llm.py)."""
    from dstream_spark.functions import dedup_text

    mh_cols = ",\n       ".join(
        f"list_min(list_transform(sh, s -> md5('{seed}|' || s))) AS mh_{seed}"
        for seed in range(dedup_text.NUM_PERM)
    )
    rows = dedup_text.NUM_PERM // dedup_text.BANDS
    sig_cte = f"""sh AS (
  SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents
), sig AS (
  SELECT doc_id,
       {mh_cols}
  FROM sh WHERE len(sh) > 0
)"""
    bands_body = "\nUNION ALL\n".join(
        "SELECT doc_id, CAST({b} AS INT) AS band, md5({expr}) AS band_hash FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"mh_{b * rows + r}" for r in range(rows)),
        )
        for b in range(dedup_text.BANDS)
    )
    return sig_cte, bands_body


MINHASH_SIG_CTE, MINHASH_BANDS_BODY = _minhash_sql()


def maybe_broadcast(df: DataFrame, sf_dir: str, table: str, cap_bytes: int = 128 << 20) -> DataFrame:
    """Broadcast-hint ``df`` when its SOURCE parquet footprint is small
    enough to build a hash relation safely (guide §3.1).

    Fact-to-midsize joins (lineitem x orders, x customer) default to a
    sort-merge join because Catalyst's size estimates sit above the
    10 MB auto-broadcast threshold — but shuffling the fact side costs
    far more than building a hash relation from a table that is tens
    of MB on disk. A HARD hint would stop being safe when the driver
    escalates the scale factor, so the decision reads the actual
    on-disk bytes: compressed parquet expands roughly 3-5x as a hash
    relation, so a 128 MB file cap keeps the build well under memory
    limits; anything larger keeps the planner's shuffle strategy.
    Scale-adaptive by construction — at 100 TB these tables blow past
    the cap and the hint vanishes."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        size = (
            os.path.getsize(p)
            if os.path.isfile(p)
            else sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(p)
                for f in fs
            )
        )
    except OSError:
        return df
    from pyspark.sql import functions as F

    return F.broadcast(df) if size <= cap_bytes else df


def fan_out(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Raise parallelism before a CPU-heavy derived projection.

    Shingle/minhash/simhash/cosine stages are CPU-bound expression
    work, so their task count should track CORES, not input bytes — but
    Spark sizes scan partitions by bytes (maxPartitionBytes), so a
    small file count (or an AQE-coalesced upstream) can leave the
    heavy stage nearly serial: at sf0.1 the whole documents table is
    one 0.6 MB split, and every md5 of every shingle ran on 1 of 32
    cores (measured 3.3 s → 1.2 s from this helper alone).

    Repartitions to defaultParallelism ONLY when the current plan has
    fewer than ``min_fraction``× that many partitions. At 100 TB a
    scan already yields thousands of splits, so this is a no-op there
    — the shuffle it inserts is strictly a small-input artifact, and
    it shuffles the (narrow) pre-projection rows, never derived
    arrays."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, int(target * min_fraction)):
        return df
    return df.repartition(target)


def _materialize(df: DataFrame, tag: str) -> DataFrame:
    """Land a derived table in scratch parquet and read it back.

    Catalyst does NOT reuse a common subtree across the two branches of
    a self-join (measured: the simhash signature derivation ran once
    per branch — 6 parquet scans for one query). Fingerprint/signature
    tables are where that bites: they're expensive to derive and tiny
    to store. At 100 TB they are standalone pipeline artifacts anyway
    (derive once, self-join many times); this helper is the small-scale
    form of exactly that. Scratch dirs are removed at interpreter exit
    (repeated harness/bench invocations would otherwise grow /tmp
    without bound)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=f"dstream_mat_{tag}_")
    atexit.register(shutil.rmtree, path, True)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _scan_bytes(df: DataFrame) -> int | None:
    """Actual on-disk bytes behind a parquet-scan DataFrame (e.g. a
    ``_materialize`` read-back); None when the frame has no input
    files. Lets broadcast decisions on DERIVED tables read REAL sizes
    the way ``maybe_broadcast`` does for source tables — size
    ESTIMATES after aggregations are unusable for this, which is why
    the planner alone gets those joins wrong (guide §3.1). Only
    ``file:`` URIs are sized (percent-decoded); any other scheme, or a
    vanished file, gives None."""
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    uris = [urlparse(f) for f in files]
    if any(u.scheme not in ("", "file") for u in uris):
        return None
    try:
        return sum(os.path.getsize(unquote(u.path)) for u in uris)
    except OSError:
        return None


def _materialize_adaptive(
    df: DataFrame, tag: str, cap_bytes: int = 128 << 20
) -> DataFrame:
    """``_materialize`` + broadcast hint when the LANDED parquet is
    small: once materialized, the broadcast decision is exact and
    scale-adaptive by construction (a derived table that outgrows the
    cap at driver scale keeps the planner's shuffle strategy)."""
    from pyspark.sql import functions as F

    mat = _materialize(df, tag)
    size = _scan_bytes(mat)
    return F.broadcast(mat) if size is not None and size <= cap_bytes else mat

"""Changefeed schema-evolution behavior — DELIBERATE and documented
(sources/registry.py). The reference advertises a recursive FieldSchema
and late-bound config (proto/plugin.proto:13-19), i.e. the feed's shape
can drift mid-stream. The engine pins CHANGEFEED_SCHEMA at query start;
this file pins down what happens when a later commit file drifts:

- a column ADDED upstream is ignored (projection to the pinned schema);
- a column DROPPED upstream reads as NULL (parquet missing-column
  null-fill), it does not fail the stream;
- a column whose TYPE changed incompatibly fails that micro-batch
  loudly (surfaced via awaitTermination) — never silent corruption.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import CHANGEFEED_SCHEMA, generate_transcripts
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed


def _land(spark, pdf, feed: str, i: int, schema=None) -> None:
    import shutil

    sdf = spark.createDataFrame(pdf, schema=schema) if schema else spark.createDataFrame(pdf)
    tmp = f"{feed}/b{i}.tmp"
    sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, src), f"{feed}/b{i}.parquet")
    shutil.rmtree(tmp)
    os.utime(f"{feed}/b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))


def _run(spark, feed: str, sink: MergeSink, ckpt: str) -> None:
    q = (
        changefeed(spark, {"path": feed})
        .writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _base(n_convs: int, seed: int):
    pdf = generate_transcripts(n_convs=n_convs, turns_per_conv=4, seed=seed)
    pdf["_change_type"] = "insert"
    pdf["_commit_version"] = np.int64(0)
    return pdf


def _schema_with(extra=None, drop=None):
    """CHANGEFEED_SCHEMA ± one field — base column types unchanged, so
    the only drift under test is the added/dropped column itself."""
    from pyspark.sql import types as T

    fields = [f for f in CHANGEFEED_SCHEMA.fields if f.name != drop]
    if extra:
        fields = fields + [T.StructField(extra, T.StringType())]
    return T.StructType(fields)


def test_added_column_is_projected_away(spark, tmp_path):
    """A NEW upstream column in a later commit file: the pinned schema
    projects it away — the stream keeps running and downstream rows
    keep the contracted shape."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    pdf = _base(4, seed=41)
    half = len(pdf) // 2
    _land(spark, pdf.iloc[:half], feed, 0, schema=CHANGEFEED_SCHEMA)
    widened = pdf.iloc[half:].copy()
    widened["new_upstream_col"] = "surprise"  # column added mid-stream
    _land(spark, widened, feed, 1, schema=_schema_with(extra="new_upstream_col"))

    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    _run(spark, feed, sink, str(tmp_path / "ckpt"))
    out = sink.read_table(spark)
    assert out.count() == len(pdf)  # both commits consumed
    assert "new_upstream_col" not in out.columns


def test_dropped_column_null_fills(spark, tmp_path):
    """A column DROPPED upstream mid-stream: rows from the narrow file
    read as NULL for that column (no failure, no skipped commit)."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    pdf = _base(4, seed=42)
    half = len(pdf) // 2
    _land(spark, pdf.iloc[:half], feed, 0, schema=CHANGEFEED_SCHEMA)
    narrowed = pdf.iloc[half:].drop(columns=["tool"])  # column dropped mid-stream
    _land(spark, narrowed, feed, 1, schema=_schema_with(drop="tool"))

    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    _run(spark, feed, sink, str(tmp_path / "ckpt"))
    out = sink.read_table(spark)
    assert out.count() == len(pdf)
    # the narrow commit's rows are null-filled, the wide commit's intact
    wide_keys = set(zip(pdf.iloc[:half]["conv_id"], pdf.iloc[:half]["turn_idx"]))
    got = {(r["conv_id"], r["turn_idx"]): r["tool"] for r in out.collect()}
    for k, v in got.items():
        if k not in wide_keys:
            assert v is None


def test_incompatible_type_change_fails_loudly(spark, tmp_path):
    """turn_idx arriving as STRING in a later file: the micro-batch
    fails and surfaces through awaitTermination — drift is an ERROR,
    never silently-coerced data."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    pdf = _base(2, seed=43)
    half = len(pdf) // 2
    _land(spark, pdf.iloc[:half], feed, 0, schema=CHANGEFEED_SCHEMA)
    from pyspark.sql import types as T

    mutated = pdf.iloc[half:].copy()
    mutated["turn_idx"] = mutated["turn_idx"].map(lambda v: f"t{v}")  # int → string
    drifted = T.StructType(
        [
            T.StructField(f.name, T.StringType()) if f.name == "turn_idx" else f
            for f in CHANGEFEED_SCHEMA.fields
        ]
    )
    _land(spark, mutated, feed, 1, schema=drifted)

    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    with pytest.raises(StreamingQueryException):
        _run(spark, feed, sink, str(tmp_path / "ckpt"))


def test_sink_side_additive_schema_evolution(spark, tmp_path):
    """Merge-on-read schema evolution at the SINK (the Iceberg/Delta
    norm): an epoch that ADDS a column unions with NULL-fill on
    earlier rows, via unionByName(allowMissingColumns) over the
    per-epoch reads. Without it the read throws on the mismatched
    schemas. Exactly-once under replay is unchanged: the replayed
    old-schema epoch is absorbed by its commit marker, never
    re-unioned."""
    pdf = generate_transcripts(n_convs=2, turns_per_conv=4)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    base = spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])
    sink.process_batch(base, 0)

    drifted = (
        spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])
        .withColumn("turn_idx", F.col("turn_idx") + 100)  # new keys, same convs
        .withColumn("source_region", F.lit("eu-1"))
    )
    sink.process_batch(drifted, 1)

    out = sink.read_table(spark)
    assert "source_region" in out.columns
    rows = out.collect()
    assert len(rows) == 2 * len(pdf)
    old = [r for r in rows if r.turn_idx < 100]
    new = [r for r in rows if r.turn_idx >= 100]
    assert old and all(r.source_region is None for r in old)
    assert new and all(r.source_region == "eu-1" for r in new)

    # replaying the PRE-drift epoch at its original id is still a
    # commit-marker no-op — the schema union never double-counts
    sink.process_batch(base, 0)
    assert sink.read_table(spark).count() == 2 * len(pdf)

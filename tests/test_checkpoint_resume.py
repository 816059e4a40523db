"""Checkpoint/resume + exactly-once — the reference's D2-D4 contracts
(docs/capability-inventory.md:179-183, docs/plugins/mssql-ingester.md:
84-87): stop mid-stream, restart from checkpoint, no loss and no dups.
Replayed and uncommitted epochs are covered in test_commit_protocols."""

from __future__ import annotations

import os

import numpy as np

from dstream_spark.fixtures.transcripts import CHANGEFEED_SCHEMA, generate_transcripts
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed


def _write_one(spark, pdf, path: str, version: int, mtime: int) -> None:
    part = pdf.copy()
    part["_change_type"] = "insert"
    part["_commit_version"] = np.int64(version)
    sdf = spark.createDataFrame(part, schema=CHANGEFEED_SCHEMA)
    tmp = path + ".tmp"
    sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, src), path)
    import shutil

    shutil.rmtree(tmp)
    os.utime(path, (mtime, mtime))


def test_resume_from_checkpoint_no_loss_no_dup(spark, tmp_path):
    pdf = generate_transcripts(n_convs=6, turns_per_conv=10)
    half = len(pdf) // 2
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    ckpt = str(tmp_path / "ckpt")
    sink = MergeSink(str(tmp_path / "table"), n_partitions=4)

    # phase 1: only the first half of the stream exists; drain it
    _write_one(spark, pdf.iloc[:half], f"{feed}/b0.parquet", 0, 1_700_000_000)
    src = changefeed(spark, {"path": feed})
    q = (
        src.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # "crash": query fully stopped mid-stream
    n_phase1 = sink.read_table(spark).count()
    assert n_phase1 == half

    # phase 2: rest of the stream arrives; RESTART from same checkpoint
    _write_one(spark, pdf.iloc[half:], f"{feed}/b1.parquet", 1, 1_700_000_010)
    src2 = changefeed(spark, {"path": feed})
    q2 = (
        src2.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    out = sink.read_table(spark)
    assert out.count() == len(pdf)  # no loss
    assert out.select("conv_id", "turn_idx").distinct().count() == len(pdf)  # no dup

"""Commit protocol contract: the exactly-once guarantees (replay
idempotency, crash-window invisibility, compaction) hold through the
MergeSink's object-store-safe marker protocol, which never relies on
atomic directory rename — only single-object put-if-absent (the
If-None-Match PUT analog) and single-object replace for the compaction
pointer swap. Reference contract: MERGE-upsert checkpoint table +
publish-then-advance, docs/capability-inventory.md:179-183."""

from __future__ import annotations

import glob
import os

from dstream_spark.fixtures.transcripts import generate_transcripts
from dstream_spark.sinks.merge import MergeSink, _put_if_absent


def _sdf(spark, pdf):
    return spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])


def test_put_if_absent_single_winner(tmp_path):
    import threading

    path = str(tmp_path / "m.json")
    wins: list[int] = []
    barrier = threading.Barrier(8)

    def put(i: int) -> None:
        barrier.wait()
        if _put_if_absent(path, {"writer": i}):
            wins.append(i)

    ts = [threading.Thread(target=put, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(wins) == 1
    import json

    assert json.load(open(path))["writer"] == wins[0]


def test_marker_replay_is_idempotent(spark, tmp_path):
    pdf = generate_transcripts(n_convs=3, turns_per_conv=5)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    sdf = _sdf(spark, pdf)
    sink.process_batch(sdf, 7)
    first = sink.read_table(spark).toPandas().sort_values(["conv_id", "turn_idx"])
    sink.process_batch(sdf, 7)  # replayed epoch
    second = sink.read_table(spark).toPandas().sort_values(["conv_id", "turn_idx"])
    assert len(first) == len(pdf)
    assert first.reset_index(drop=True).equals(second.reset_index(drop=True))
    assert sink.status()["committed_batches"] == 1
    # exactly one attempt dir is referenced; replay left no second one
    assert len(glob.glob(f"{sink.data_dir}/batch_id=7/attempt-*")) == 1


def test_marker_uncommitted_data_is_invisible(spark, tmp_path):
    """Crash AFTER the attempt dir is fully written, BEFORE the marker
    put: the orphan attempt must be invisible, and the replayed epoch
    then commits for real."""
    pdf = generate_transcripts(n_convs=2, turns_per_conv=4)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    sdf = _sdf(spark, pdf)
    sink.process_batch(sdf, 0)
    sink.process_batch(sdf.withColumn("turn_idx", sdf.turn_idx + 1000), 1)
    # simulate the torn commit: delete batch 1's marker, keep its data
    os.unlink(os.path.join(sink.table_dir, "_commits", "batch_id=1.json"))
    assert glob.glob(f"{sink.data_dir}/batch_id=1/attempt-*")  # orphan present
    out = sink.read_table(spark)
    assert out.count() == len(pdf)
    assert out.filter("turn_idx >= 1000").count() == 0  # invisible
    sink.process_batch(sdf.withColumn("turn_idx", sdf.turn_idx + 1000), 1)
    assert sink.read_table(spark).count() == 2 * len(pdf)


def test_marker_duplicate_commit_loses_put_and_cleans_up(spark, tmp_path):
    """Two writers publishing the same epoch (split-brain replay): the
    second put-if-absent loses, its attempt dir is removed, and the
    table serves the first writer's rows."""
    pdf = generate_transcripts(n_convs=2, turns_per_conv=3)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    sdf = _sdf(spark, pdf)
    sink.process_batch(sdf, 3)
    # bypass the committed_batches() fast path: force a second publish
    sink.protocol.publish(
        3,
        lambda p: sdf.limit(1).write.mode("overwrite").parquet(p),
        lambda p: sdf.limit(1).write.mode("overwrite").parquet(p),
    )
    assert sink.read_table(spark).count() == len(pdf)  # first writer won
    assert len(glob.glob(f"{sink.data_dir}/batch_id=3/attempt-*")) == 1  # loser cleaned


def test_marker_compaction_preserves_table(spark, tmp_path):
    pdf = generate_transcripts(n_convs=4, turns_per_conv=6)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    step = len(pdf) // 4
    for b in range(4):
        sink.process_batch(_sdf(spark, pdf.iloc[b * step:(b + 1) * step]), b)
    assert len(sink.committed_batches()) == 4
    before = sink.read_table(spark).toPandas().sort_values(["conv_id", "turn_idx"])
    base = sink.compact(spark)
    assert sink.committed_batches() == {base}
    after = sink.read_table(spark).toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    # a NEW epoch after compaction appends normally; a replay of the
    # folded max id stays a no-op
    sdf = _sdf(spark, pdf)
    shifted = sdf.withColumn("turn_idx", sdf.turn_idx + 500)
    sink.process_batch(shifted, base)
    assert sink.read_table(spark).count() == len(before)  # replayed id → no-op
    sink.process_batch(shifted, base + 1)
    assert sink.read_table(spark).count() == 2 * len(before)


def test_marker_protocol_streaming_end_to_end(spark, tmp_path):
    """The marker protocol behind a REAL Structured Streaming
    foreachBatch run: replayed feed file + restart ⇒ no loss, no dup."""
    import numpy as np

    from dstream_spark.fixtures.transcripts import CHANGEFEED_SCHEMA
    from dstream_spark.sources.registry import changefeed

    pdf = generate_transcripts(n_convs=5, turns_per_conv=8)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    half = len(pdf) // 2
    for i, sl in enumerate((pdf.iloc[:half], pdf.iloc[half:], pdf.iloc[:half])):
        part = sl.copy()
        part["_change_type"] = "insert"
        part["_commit_version"] = np.int64(i)
        sdf = spark.createDataFrame(part, schema=CHANGEFEED_SCHEMA)
        tmp = f"{feed}/b{i}.tmp"
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, src), f"{feed}/b{i}.parquet")
        import shutil

        shutil.rmtree(tmp)
        os.utime(f"{feed}/b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    q = (
        changefeed(spark, {"path": feed})
        .writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = sink.read_table(spark)
    assert out.count() == len(pdf)  # replayed slice deduped
    assert out.select("conv_id", "turn_idx").distinct().count() == len(pdf)

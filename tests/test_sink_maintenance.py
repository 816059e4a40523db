"""Sink compaction + handshake analogs (C2: crash/error detection at
startup, pkg/executor/providers.go:313-405) + lifecycle timeout (K8).
"""

from __future__ import annotations

import os

import pytest

from dstream_spark.fixtures.transcripts import generate_transcripts
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.streaming.pipeline import Pipeline


class _Crash(Exception):
    """An injected process death inside compact()."""


def _sorted_table(spark, sink):
    cols = ["conv_id", "turn_idx"]
    return sink.read_table(spark).toPandas().sort_values(cols).reset_index(drop=True)


# MarkerCommitProtocol.swap_base's crash points, each named by the
# first filesystem call on the table that does not happen, with the
# number of markers a reader sees in that window:
# 1. new base attempt + lineage written, base marker not yet replaced;
# 2. base marker replaced, retired markers not yet unlinked;
# 3. retired markers unlinked, old attempt dirs not yet removed.
@pytest.mark.parametrize(
    "module,call,n_markers",
    [("os", "replace", 3), ("os", "unlink", 3), ("shutil", "rmtree", 1)],
    ids=["before_marker_replace", "before_retire_unlink", "before_attempt_rmtree"],
)
def test_compaction_crash_at_each_swap_step(
    spark, tmp_path, monkeypatch, module, call, n_markers
):
    """A crash at any step of compact()'s pointer swap leaves the table
    readable and unchanged, and re-running compact() finishes the fold
    into the one base batch with the same rows."""
    import shutil

    pdf = generate_transcripts(n_convs=3, turns_per_conv=5)
    table = str(tmp_path / "tbl")
    sink = MergeSink(table, n_partitions=2)
    sdf = spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])
    for b in range(3):
        sink.process_batch(sdf.filter((sdf.turn_idx % 3) == b), b)
    before = _sorted_table(spark, sink)
    assert len(before) == len(pdf)
    base = max(sink.committed_batches())

    target = {"os": os, "shutil": shutil}[module]
    real = getattr(target, call)

    def crash(path, *args, **kwargs):
        if str(path).startswith(table):
            raise _Crash(f"{call}({path})")
        return real(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(target, call, crash)
        with pytest.raises(_Crash):
            sink.compact(spark)
    assert len(sink.committed_batches()) == n_markers
    assert _sorted_table(spark, sink).equals(before)  # reader unaffected

    assert sink.compact(spark) == base  # recovery: re-run on the same sink
    assert sink.committed_batches() == {base}
    assert _sorted_table(spark, sink).equals(before)


def test_bad_source_type_fails_fast(spark, tmp_path):
    """Handshake error analog: unknown provider → immediate error, not
    a 30s hang (waitForReady error path)."""
    pipe = Pipeline(
        spark,
        {
            "name": "bad",
            "source": {"type": "no_such_source"},
            "sink": {"type": "console"},
        },
    )
    with pytest.raises(KeyError, match="no_such_source"):
        pipe.run()


def test_missing_feed_path_fails_at_start(spark, tmp_path):
    """Crash-at-startup analog: broken source surfaces an exception at
    query start (not silence)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    pipe = Pipeline(
        spark,
        {
            "name": "missing",
            "source": {"type": "changefeed", "path": str(tmp_path / "nope")},
            "sink": {"type": "memory", "name": "missing_out"},
        },
    )
    with pytest.raises(AnalysisException):
        pipe.run()


def test_await_termination_timeout(spark, tmp_path):
    """K8: lifecycle ops run under a bounded wait (the reference's
    5-minute context timeout, providers.go:49)."""
    sink = MergeSink(str(tmp_path / "tbl"), keys=("timestamp", "value"),
                     partition_key="value", order_cols=("value",))
    pipe = Pipeline(
        spark,
        {
            "name": "timeout_test",
            "source": {"type": "rate", "rows_per_second": 1},
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"processingTime": "1 second"},
        },
    )
    q = pipe.run()
    assert q.awaitTermination(timeout=2) is False  # still running at deadline
    pipe.stop()


def test_inline_compaction_during_stream(spark, tmp_path):
    """K1 maintenance loop: compact_every=2 folds committed batches
    into one base as the stream runs; contents stay identical and the
    final table is a bounded file set."""
    from dstream_spark.fixtures.transcripts import write_changefeed_batches

    pdf = generate_transcripts(n_convs=3, turns_per_conv=8, seed=6)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=5)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    pipe = Pipeline(
        spark,
        {
            "name": "inline_compact",
            "source": {"type": "changefeed", "path": feed, "max_files_per_trigger": 1},
            "sink": {"type": "merge", "sink": sink, "compact_every": 2},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.init()
    q = pipe.run()
    q.awaitTermination()
    pipe.stop()
    assert sink.read_table(spark).count() == len(pdf.drop_duplicates(["conv_id", "turn_idx"]))
    assert len(sink.committed_batches()) <= 2  # 5 epochs folded down


def test_empty_sink_reads_with_declared_key_schema(spark, tmp_path):
    """A window-keyed sink that has committed NOTHING must still return
    a frame carrying its declared key/order columns, so a caller's
    .select(*keys) gets an empty result instead of AnalysisException
    (r3 verdict 'What's wrong' #3)."""
    sink = MergeSink(
        str(tmp_path / "wtbl"),
        keys=("w_start", "conv_id"),
        partition_key="conv_id",
        order_cols=("conv_id", "w_start"),
        version_col="_v",
    )
    empty = sink.read_table(spark)
    assert empty.count() == 0
    # the select that used to throw
    assert empty.select("w_start", "conv_id").count() == 0
    assert set(empty.columns) == {"w_start", "conv_id"}


def test_time_travel_and_incremental_partition_the_table(spark, tmp_path):
    """Snapshot semantics: read-as-of(N) ∪ changes-since(N) == full
    table, disjoint. After compact() retires the merged epochs, an
    as-of older than the base resolves to the base (snapshot expiry,
    the Iceberg bound) — never to data loss."""
    from dstream_spark.fixtures.transcripts import generate_transcripts
    from dstream_spark.sinks.merge import MergeSink

    pdf = generate_transcripts(n_convs=3, turns_per_conv=6)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    sdf = spark.createDataFrame(pdf[cols])
    for b in range(3):
        sink.process_batch(sdf.filter(f"turn_idx % 3 = {b}"), b)

    full = sink.read_table(spark).select(*cols)
    asof = sink.read_table(spark, as_of_batch=1).select(*cols)
    delta = sink.read_changes(spark, since_batch=1).select(*cols)
    # set comparison driver-side: the three frames share scan lineage,
    # and exceptAll over that self-reference trips a Catalyst
    # attribute-dedup bug (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    f_rows = {tuple(r) for r in full.collect()}
    a_rows = {tuple(r) for r in asof.collect()}
    d_rows = {tuple(r) for r in delta.collect()}
    assert a_rows | d_rows == f_rows
    assert not (a_rows & d_rows)
    # bounded window form: (0, 1] == exactly batch 1's keys
    mid = sink.read_changes(spark, since_batch=0, until_batch=1)
    assert mid.count() == sdf.filter("turn_idx % 3 = 1").count()

    # compaction folds epochs 0-2 into base 2 (max id): an as-of older
    # than every retained epoch resolves to the oldest retained
    # snapshot — full merged content, never an empty table (count
    # captured pre-compact: the old frame's plan references retired
    # files). An incremental read whose high-water mark predates the
    # base OVER-DELIVERS the base (at-least-once; absorbed by the
    # keyed-MERGE consumption contract), and one at the base id sees
    # no new epochs.
    base_id = sink.compact(spark)
    assert sink.read_table(spark, as_of_batch=1).count() == len(f_rows)
    assert sink.read_changes(spark, since_batch=0).count() == len(f_rows)
    assert sink.read_changes(spark, since_batch=base_id).count() == 0

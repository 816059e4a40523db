"""Sink registry — the factory analog (internal/publisher/factory.go:
30-73 maps type names → publisher constructors; planned types at
internal/types/publisher/publisher.go:36-52). Ours maps sink names →
writeStream configurators. The reference's ChangeDataTransport
interface (Create/PublishBatch/EnsureDestinationExists/Close,
internal/types/publisher/publisher.go:11-24) corresponds to
(constructor / process_batch / init / query.stop)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from dstream_spark.sinks.merge import MergeSink


def _console(df: DataFrame, conf: dict) -> DataStreamWriter:
    return df.writeStream.format("console").option(
        "numRows", str(conf.get("num_rows", 20))
    ).option("truncate", "true")


def _memory(df: DataFrame, conf: dict) -> DataStreamWriter:
    return df.writeStream.format("memory").queryName(conf["name"])


def _merge(df: DataFrame, conf: dict) -> DataStreamWriter:
    sink = conf.get("sink") or MergeSink(
        conf["table_dir"],
        keys=tuple(conf.get("keys", ("conv_id", "turn_idx"))),
        version_col=conf.get("version_col"),
        n_partitions=int(conf.get("n_partitions", 8)),
    )
    every = int(conf.get("compact_every", 0))
    if every > 0:
        # K1 maintenance inside the stream: fold committed batches into
        # one base every N epochs, so read_table's file listing stays
        # bounded on a long-running query. Runs inside foreachBatch —
        # i.e. under the pipeline's single-writer lock, after the
        # epoch's own commit marker is in place.
        def process(batch_df: DataFrame, batch_id: int) -> None:
            sink.process_batch(batch_df, batch_id)
            if int(batch_id) > 0 and int(batch_id) % every == 0:
                sink.compact(batch_df.sparkSession)

        body = process
    else:
        body = sink.process_batch
    return df.writeStream.foreachBatch(body).outputMode(
        conf.get("output_mode", "append")
    )


def _multi(df: DataFrame, conf: dict) -> DataStreamWriter:
    """One foreachBatch fanning out to N destinations — the reference's
    per-table topic routing (internal/publisher/factory.go:30-48) where
    one relay feeds several sinks. The batch is persisted once and
    written to each destination; every MergeSink keeps its own lineage,
    so replay idempotency holds per destination independently (the
    per-table failure-isolation contract, docs/capability-inventory.md:
    195-199)."""
    sinks: list[MergeSink] = conf["sinks"]

    def write_all(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for s in sinks:
                s.process_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return df.writeStream.foreachBatch(write_all).outputMode(conf.get("output_mode", "append"))


SINKS: dict[str, Callable[[DataFrame, dict], DataStreamWriter]] = {
    "console": _console,
    "memory": _memory,
    "merge": _merge,
    "multi": _multi,
}


def get_sink(name: str) -> Callable[[DataFrame, dict], DataStreamWriter]:
    if name not in SINKS:
        raise KeyError(f"unknown sink {name!r}; available: {sorted(SINKS)}")
    return SINKS[name]

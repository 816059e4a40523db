"""Exactly-once idempotent MERGE sink with per-partition lineage.

Upgrades the reference's at-least-once publish-then-advance contract
(docs/plugins/mssql-ingester.md:72,84-87 — "exactly-once requires
downstream idempotency") to exactly-once, using Spark's epoch model
plus a commit-marker protocol:

1. foreachBatch gives (batch_df, batch_id); batch_id is stable across
   replays of the same epoch.
2. If this batch_id already has a commit marker → replay → skip
   entirely (idempotent).
3. Batch rows are deduped on (conv_id, turn_idx), hash-partitioned on
   conv_id and sorted within partitions by (conv_id, turn_idx) — the
   ordered-delivery contract (reference relay order,
   pkg/executor/providers.go:234-261) restated for a parallel engine:
   stable order WITHIN each conversation.
4. Data files land first; the per-partition lineage (partition_id,
   batch_id, max_conv_id, max_turn_idx, updated_at — the cdc_offsets
   shape, docs/capability-inventory.md:179-183) is committed LAST.
   The commit marker IS the transaction: readers only see batches with
   markers, so a crash between data write and marker leaves invisible
   orphans, not dups.

HOW a finished batch becomes visible is one object-store-safe commit
protocol (``MarkerCommitProtocol``): every attempt writes to a UNIQUE
attempt directory that is never renamed; the commit point is a
put-if-absent of a small JSON marker naming the committed attempt.
No operation relies on atomic rename of multi-file directories — only
single-object put-if-absent (S3/GCS: If-None-Match PUT) and, for
compaction's pointer swap, single-object replace (conditional PUT
If-Match). This is the same pointer-swap design as an Iceberg
snapshot commit.

This is merge-on-read: appends + read-side latest-version resolution
(apply_changes), the same strategy as Iceberg MoR MERGE. On a real
cluster with Iceberg jars, swap process_batch for a single
``MERGE INTO tgt USING batch ON tgt.conv_id=s.conv_id AND
tgt.turn_idx=s.turn_idx`` — the protocol (skip-committed-batch,
sort-within-partition, lineage in the same transaction) is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstream_spark.operators.cdc import apply_changes
from dstream_spark.operators.dedup import dedup_latest

# lineage updated_at = this epoch + batch_id: deterministic, so a
# replayed epoch produces byte-identical lineage (current_timestamp
# would differ across replays of the same batch)
LINEAGE_TS0 = 1_700_000_000


def _put_if_absent(path: str, payload: dict) -> bool:
    """Atomic create-if-absent of a fully-written small file (os.link
    of a complete tmp file; object-store analog: If-None-Match PUT).
    False = an object already exists at ``path``."""
    tmp = f"{path}.put-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class MarkerCommitProtocol:
    """Object-store-safe commit: attempts write to unique directories
    that are NEVER renamed or mutated; visibility = a small JSON marker
    in ``_commits/`` naming the committed attempt, created with
    put-if-absent. Crash before the marker ⇒ an unreferenced attempt
    dir (invisible garbage); a racing duplicate commit loses the
    put-if-absent and deletes its own attempt. Compaction re-points the
    base marker via single-object replace (conditional PUT analog) —
    the Iceberg snapshot-pointer swap."""

    def __init__(self, table_dir: str):
        self.data_dir = os.path.join(table_dir, "data")
        self.lineage_dir = os.path.join(table_dir, "_lineage")
        self.commits_dir = os.path.join(table_dir, "_commits")

    def init(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)
        os.makedirs(self.commits_dir, exist_ok=True)

    def _marker_path(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, f"batch_id={batch_id}.json")

    def committed_batches(self) -> set[int]:
        if not os.path.isdir(self.commits_dir):
            return set()
        out = set()
        for f in os.listdir(self.commits_dir):
            if f.startswith("batch_id=") and f.endswith(".json"):
                mid = f[len("batch_id="):-len(".json")]
                if mid.isdigit():
                    out.add(int(mid))
        return out

    def _attempt_paths(self, batch_id: int) -> tuple[str, str]:
        att = uuid.uuid4().hex[:8]
        return (
            os.path.join(self.data_dir, f"batch_id={batch_id}", f"attempt-{att}"),
            os.path.join(self.lineage_dir, f"batch_id={batch_id}", f"attempt-{att}"),
        )

    def _marker(self, batch_id: int) -> dict:
        with open(self._marker_path(batch_id)) as f:
            return json.load(f)

    def publish(self, batch_id: int, write_data, write_lineage) -> None:
        data_path, lin_path = self._attempt_paths(batch_id)
        write_data(data_path)
        write_lineage(lin_path)
        committed = _put_if_absent(
            self._marker_path(batch_id),
            {"batch_id": batch_id, "data": data_path, "lineage": lin_path},
        )
        if not committed:
            # another writer (or an earlier replay) committed this
            # epoch first — our attempt is unreferenced garbage
            shutil.rmtree(data_path, ignore_errors=True)
            shutil.rmtree(lin_path, ignore_errors=True)

    def data_read(self, spark: SparkSession, batch_ids: set[int]) -> DataFrame:
        """Committed rows of ``batch_ids``, each tagged with its
        ``batch_id`` column. One read per attempt root, each with
        ITSELF as basePath, then union: a single multi-root read cannot
        infer hive partition subdirs (bucket=XX under hive_partition_by
        sinks) because the attempt-<id> segment between the roots is
        not key=value (CONFLICTING_DIRECTORY_STRUCTURES). Root count =
        committed batches, bounded by compact().

        unionByName(allowMissingColumns) is merge-on-read SCHEMA
        EVOLUTION (the Iceberg/Delta norm): a column added in a later
        epoch reads as NULL on earlier rows, a column dropped later
        reads as NULL on later rows."""
        out = None
        for b in sorted(batch_ids):
            p = self._marker(b)["data"]
            df = spark.read.option("basePath", p).parquet(p).withColumn("batch_id", F.lit(b))
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    def lineage_read(self, spark: SparkSession) -> DataFrame:
        paths = [self._marker(b)["lineage"] for b in sorted(self.committed_batches())]
        return spark.read.parquet(*paths)

    def swap_base(self, base_id: int, retire_ids, write_data, write_lineage) -> None:
        data_path, lin_path = self._attempt_paths(base_id)
        write_data(data_path)
        write_lineage(lin_path, data_path)
        old = self._marker(base_id)
        # pointer swap: single-object atomic replace (If-Match PUT)
        tmp = self._marker_path(base_id) + f".swap-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"batch_id": base_id, "data": data_path, "lineage": lin_path}, f)
        os.replace(tmp, self._marker_path(base_id))
        # retire superseded markers FIRST (readers stop resolving them),
        # then the now-unreferenced data
        for b in retire_ids:
            try:
                os.unlink(self._marker_path(b))
            except FileNotFoundError:
                pass
        for b in retire_ids:
            shutil.rmtree(os.path.join(self.data_dir, f"batch_id={b}"), ignore_errors=True)
            shutil.rmtree(os.path.join(self.lineage_dir, f"batch_id={b}"), ignore_errors=True)
        shutil.rmtree(old["data"], ignore_errors=True)
        shutil.rmtree(old["lineage"], ignore_errors=True)


class MergeSink:
    """Parquet-backed exactly-once keyed sink."""

    def __init__(
        self,
        table_dir: str,
        keys: tuple[str, ...] = ("conv_id", "turn_idx"),
        partition_key: str = "conv_id",
        order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        version_col: str | None = None,
        n_partitions: int = 8,
        hive_partition_by: str | None = None,
    ):
        self.table_dir = table_dir
        self.protocol = MarkerCommitProtocol(table_dir)
        self.data_dir = self.protocol.data_dir
        self.lineage_dir = self.protocol.lineage_dir
        self.keys = keys
        self.partition_key = partition_key
        self.order_cols = order_cols
        self.version_col = version_col
        self.n_partitions = n_partitions
        # hive-style directory layout: batch data lands under
        # <batch>/<col>=<v>/ subdirectories, so readers filtering on
        # the column get PARTITION PRUNING — only the touched
        # directories are listed and scanned. The scale lever for
        # bucket-keyed indexes (incremental dedup): a micro-batch's
        # lookup reads the buckets it hashes into, not the full index.
        # CONTRACT: values must not be type-inference-ambiguous — an
        # all-numeric directory tree is inferred as INT per root (hex
        # '07' reads back as 7), which breaks cross-root unions and
        # zero-padded equality after a compact rewrite. Prefix a
        # letter (incremental_dedup uses 'b' + hex).
        self.hive_partition_by = hive_partition_by
        self.protocol.init()

    # -- commit log -------------------------------------------------
    def committed_batches(self) -> set[int]:
        return self.protocol.committed_batches()

    # -- the foreachBatch body ---------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in self.committed_batches():
            return  # replayed epoch — already committed, exactly-once
        if self.version_col and self.version_col not in batch_df.columns:
            # update-mode upserts: later epochs supersede earlier rows
            # for the same key, so stamp the epoch as the version
            batch_df = batch_df.withColumn(
                self.version_col, F.lit(int(batch_id)).cast("long")
            )
        # Version-keyed sinks: ONE exchange per batch (guide §2.4).
        # dedup_latest's window requires clustering on the FULL key
        # set, which the upstream micro-batch plan never provides
        # (e.g. a windowed agg partitions on the window STRUCT, not
        # w_start), so the r5 order (dedup, then repartition on
        # partition_key) shuffled every batch row twice. Repartition
        # on partition_key FIRST: HashPartitioning(partition_key) is a
        # subset of the keys' required clustering (partition_key ∈
        # keys), so the window runs in the same partitions — measured
        # 395k -> 460k events/s on the windowed update-mode sink at
        # sf0.1/32 cores. Row-identical: version picks are
        # deterministic (monotonic version contract).
        #
        # dropDuplicates sinks keep dedup-first: their upstream
        # (dropDuplicatesWithinWatermark) already clusters on the full
        # key set, so the dedup is exchange-FREE there and reordering
        # only moves the one repartition earlier (measured slightly
        # worse). Same for partition_key ∉ keys (the bucket-laid-out
        # incremental-dedup index), where repartition-first would
        # re-shuffle on the keys and lose the bucket co-location.
        if (
            self.version_col
            and self.version_col in batch_df.columns
            and self.partition_key in self.keys
        ):
            bdf = dedup_latest(
                batch_df.repartition(self.n_partitions, self.partition_key),
                self.keys,
                self.version_col,
            )
        else:
            if self.version_col and self.version_col in batch_df.columns:
                bdf = dedup_latest(batch_df, self.keys, self.version_col)
            else:
                bdf = batch_df.dropDuplicates(list(self.keys))
            bdf = bdf.repartition(self.n_partitions, self.partition_key)
        bdf = bdf.sortWithinPartitions(*self.order_cols)
        bdf = bdf.withColumn("_partition_id", F.spark_partition_id())
        bdf.persist()
        try:
            lineage = self._lineage_of(bdf.groupBy("_partition_id"), int(batch_id)) \
                .withColumnsRenamed({"_partition_id": "partition_id"})
            self.protocol.publish(
                int(batch_id),
                lambda p: self._write_data(bdf.drop("_partition_id"), p),
                lambda p: lineage.coalesce(1).write.mode("overwrite").parquet(p),
            )
        finally:
            bdf.unpersist()

    def _write_data(self, df: DataFrame, path: str) -> None:
        w = df.write.mode("overwrite")
        if self.hive_partition_by:
            w = w.partitionBy(self.hive_partition_by)
        w.parquet(path)

    def _lineage_of(self, grouped, batch_id: int) -> DataFrame:
        return grouped.agg(
            F.max(self.partition_key).alias("max_conv_id"),
            F.max(self.keys[-1]).alias("max_turn_idx"),
            F.count(F.lit(1)).alias("n_rows"),
            # deterministic (epoch-derived): replays of the same batch
            # produce byte-identical lineage
            F.timestamp_seconds(F.lit(LINEAGE_TS0 + batch_id)).alias("updated_at"),
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))

    # -- readers ------------------------------------------------------
    def _empty_table(self, spark: SparkSession) -> DataFrame:
        """Zero-row frame carrying the sink's DECLARED key and order
        columns (string-typed placeholders), so a caller's
        ``.select(*keys)`` on a never-committed sink returns empty
        instead of AnalysisException — e.g. a window-keyed sink
        (w_start, conv_id) before its first commit."""
        cols = list(dict.fromkeys((*self.keys, *self.order_cols)))
        return spark.createDataFrame([], schema=", ".join(f"`{c}` string" for c in cols))

    def read_table(
        self, spark: SparkSession, as_of_batch: int | None = None
    ) -> DataFrame:
        """Committed rows only, latest version per key. Path resolution
        can race a concurrent compact()'s final cleanup (the resolved
        path vanishes before spark.read lists it) — re-resolve and
        retry once; the post-compact committed set is self-consistent.

        ``as_of_batch`` = TIME TRAVEL (snapshot isolation, the Iceberg
        read-as-of): the table as of epoch N — only batches <= N
        participate, so "what did the table look like at commit N" is
        one filter over the commit set, no data rewrite. Like Iceberg
        snapshot expiry, compaction retires the epochs it merges: an
        as-of older than every retained epoch resolves to the OLDEST
        retained snapshot (the compact base, which holds the merged
        state of everything it retired) — never to an empty table."""
        if as_of_batch is not None:
            committed = self.committed_batches()
            if committed and all(b > as_of_batch for b in committed):
                floor_id = min(committed)  # oldest retained snapshot
                return self._read_epochs(spark, lambda b: b == floor_id)
        return self._read_epochs(
            spark, lambda b: as_of_batch is None or b <= as_of_batch
        )

    def read_changes(
        self, spark: SparkSession, since_batch: int, until_batch: int | None = None
    ) -> DataFrame:
        """INCREMENTAL read: latest-version rows committed in epochs
        (since_batch, until_batch] — the sink AS a change feed (the
        Iceberg incremental scan; also S6 task chaining made explicit:
        a downstream stage consumes exactly the epochs it has not seen,
        resuming from its own high-water mark instead of re-scanning
        the table). Compaction bound: if ``since_batch`` predates the
        compact base, the base (which merged the retired epochs) falls
        inside the window and the read OVER-DELIVERS already-consumed
        rows — the at-least-once resolution. Iceberg raises here; this
        engine's downstream consumption contract is a keyed MERGE
        (S6: sink re-read as next source), where over-delivery is
        absorbed by latest-version-wins exactly like a replayed epoch,
        so delivery stays effectively exactly-once end to end."""
        return self._read_epochs(
            spark,
            lambda b: b > since_batch and (until_batch is None or b <= until_batch),
        )

    def _read_epochs(self, spark: SparkSession, keep) -> DataFrame:
        committed = {b for b in self.committed_batches() if keep(b)}
        if not committed:
            return self._empty_table(spark)
        try:
            df = self.protocol.data_read(spark, committed)
        except Exception:
            committed = {b for b in self.committed_batches() if keep(b)}
            if not committed:
                return self._empty_table(spark)
            df = self.protocol.data_read(spark, committed)
        if self.version_col and self.version_col in df.columns:
            return apply_changes(df, self.keys, self.version_col).drop("batch_id")
        w_cols = list(self.keys)
        return df.dropDuplicates(w_cols).drop("batch_id")

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        """Same resolve-retry as read_table: a marker retired by a
        racing compact()'s swap_base between committed_batches() and
        the marker read raises — re-resolve once against the
        post-compact (self-consistent) commit set. The retry only
        fires when the commit set actually CHANGED under us (the
        compact-race signature); a deterministic read error surfaces
        immediately instead of being executed twice."""
        before = self.committed_batches()
        try:
            return self.protocol.lineage_read(spark)
        except Exception:
            if self.committed_batches() == before:
                raise  # not a compact race — a genuine read error
            return self.protocol.lineage_read(spark)

    # -- maintenance ---------------------------------------------------
    def compact(self, spark: SparkSession) -> int:
        """Fold all committed batches into one base batch (latest
        version per key), then drop the originals. Bounds read_table's
        path listing on a long-running stream — the analog of Iceberg
        snapshot expiration / rewrite_data_files. Must run under the
        pipeline's single-writer lock (streaming/pipeline.py): the
        commit protocol makes a crash mid-compaction safe (the new
        base is committed before the old batches are removed; a reader
        sees either the old set or old+new, and latest-version dedup
        makes old+new harmless).

        Returns the id of the new base batch.
        """
        committed = sorted(self.committed_batches())
        if len(committed) <= 1:
            return committed[0] if committed else -1
        base_id = max(committed)  # reuse the max id: replays of it stay no-ops
        snapshot = self.read_table(spark)
        snapshot = snapshot.repartition(self.n_partitions, self.partition_key).sortWithinPartitions(
            *self.order_cols
        )
        retire = [b for b in committed if b != base_id]

        def write_lineage(lin_path: str, data_path: str) -> None:
            lineage = self._lineage_of(
                spark.read.parquet(data_path).groupBy(
                    F.spark_partition_id().alias("partition_id")
                ),
                int(base_id),
            )
            lineage.coalesce(1).write.mode("overwrite").parquet(lin_path)

        self.protocol.swap_base(
            int(base_id),
            retire,
            lambda p: self._write_data(snapshot, p),
            write_lineage,
        )
        return int(base_id)

    # -- lifecycle verbs (K6 analog: init/plan/status/destroy) --------
    def init(self) -> None:
        self.protocol.init()

    def status(self) -> dict:
        committed = self.committed_batches()
        return {
            "table_dir": self.table_dir,
            "committed_batches": len(committed),
            "max_batch_id": max(committed) if committed else None,
        }

    def destroy(self) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)

"""Incremental streaming LSH dedup (operators/incremental_dedup.py):
the growing band index + dup log must detect cross-batch and
within-batch near-dups exactly once, absorb same-epoch replays, and
stay deterministic when a crash lands between the two commits."""

from __future__ import annotations

from pyspark.sql import functions as F

from dstream_spark.operators.incremental_dedup import IncrementalLshDedup

# genuinely distinct word sets per doc (near-identical token sequences
# would legitimately minhash-collide — that's the operator working)
DOCS0 = [
    (i, " ".join(f"w{i}_{j}" for j in range(12)))
    for i in range(10)
]
# batch 1: 12 is an exact copy of 3 (cross-batch dup), 13 an exact
# copy of 11 (within-batch dup), the rest distinct
DOCS1 = [
    (10, "completely different text about streams windows and state stores here"),
    (11, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (12, DOCS0[3][1]),
    (13, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (14, "yet another unique document with its own words and nothing shared at all"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_incremental_dedup_cross_and_within_batch(spark, tmp_path):
    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    assert d.read_dups(spark).count() == 0  # fresh state reads empty

    d.process_batch(_df(spark, DOCS0), 0)
    assert d.read_dups(spark).count() == 0  # batch 0 is all-unique
    d.process_batch(_df(spark, DOCS1), 1)

    dups = {r["doc_id"]: r["dup_of"] for r in d.read_dups(spark).collect()}
    assert dups[12] == 3  # cross-batch: against the accumulated index
    assert dups[13] == 11  # within-batch: against the batch's own bands
    assert set(dups) == {12, 13}

    uniq = {r["doc_id"] for r in d.unique_docs(spark).collect()}
    assert uniq == set(range(12)) | {14}  # 15 ingested, 2 dups dropped


def test_incremental_dedup_replay_is_noop(spark, tmp_path):
    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    d.process_batch(_df(spark, DOCS0), 0)
    d.process_batch(_df(spark, DOCS1), 1)
    before_dups = sorted(map(tuple, d.read_dups(spark).collect()))
    before_idx = d.index.read_table(spark).count()

    # crash-replay of both epochs at their ORIGINAL ids: commit markers
    # make every write a no-op
    d.process_batch(_df(spark, DOCS0), 0)
    d.process_batch(_df(spark, DOCS1), 1)
    assert sorted(map(tuple, d.read_dups(spark).collect())) == before_dups
    assert d.index.read_table(spark).count() == before_idx


def test_crash_between_dup_and_index_commit_is_deterministic(spark, tmp_path):
    """Simulate the crash window: epoch 1's dup log committed but the
    index commit lost. Re-running the epoch must produce exactly the
    crash-free state (dups skip via marker; index recomputes against
    the same pre-batch index)."""
    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    d.process_batch(_df(spark, DOCS0), 0)

    # epoch 1, crashing after the dup-log commit: run the dup half only
    from dstream_spark.operators.incremental_dedup import document_bands

    bands = document_bands(_df(spark, DOCS1))
    idx = d.index.read_table(spark).select("doc_id", "band", "band_hash")
    earlier = idx.unionByName(bands.select("doc_id", "band", "band_hash")).select(
        F.col("doc_id").alias("e_id"), "band", "band_hash"
    )
    collisions = (
        bands.join(earlier, ["band", "band_hash"])
        .filter(F.col("e_id") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("e_id").alias("dup_of"), F.countDistinct("band").alias("n_bands"))
    )
    d.dups.process_batch(collisions, 1)
    assert 1 in d.dups.committed_batches() and 1 not in d.index.committed_batches()

    # restart replays the whole epoch
    d.process_batch(_df(spark, DOCS1), 1)
    dups = {r["doc_id"]: r["dup_of"] for r in d.read_dups(spark).collect()}
    assert dups == {12: 3, 13: 11}
    assert 1 in d.index.committed_batches()
    # index holds each (doc, band) exactly once
    idx2 = d.index.read_table(spark)
    assert idx2.count() == idx2.select("doc_id", "band").distinct().count()


def test_incremental_dedup_as_streaming_sink(spark, tmp_path):
    """The operator as a real foreachBatch body: a two-file document
    change feed streamed with availableNow, same detections."""
    import os

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for i, rows in enumerate((DOCS0, DOCS1)):
        tmp = str(tmp_path / f"w{i}")
        _df(spark, rows).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, src), os.path.join(feed, f"batch_{i:05d}.parquet"))
        os.utime(os.path.join(feed, f"batch_{i:05d}.parquet"), (1_700_000_000 + i * 10,) * 2)

    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(d.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dups = {r["doc_id"]: r["dup_of"] for r in d.read_dups(spark).collect()}
    assert dups == {12: 3, 13: 11}


def test_collision_join_plan_is_bucket_equi_join(spark, tmp_path):
    """Scale discipline: the per-batch collision join must be an
    equi-join on (band, band_hash) — never a cartesian/nested-loop
    plan — and the index side must come straight off the landed
    parquet (no latest-version window over the accumulated index)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from dstream_spark.operators.incremental_dedup import document_bands

    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    d.process_batch(_df(spark, DOCS0), 0)

    bands = document_bands(_df(spark, DOCS1))
    earlier = d._index_raw(spark).unionByName(
        bands.select("doc_id", "band", "band_hash")
    ).select(F.col("doc_id").alias("e_id"), "band", "band_hash")
    collisions = (
        bands.join(earlier, ["band", "band_hash"])
        .filter(F.col("e_id") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("e_id").alias("dup_of"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        collisions.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert "Window" not in plan  # raw index read: no latest-version window


def test_index_compaction_preserves_detection(spark, tmp_path):
    """K1 composition: folding the band index (and dup log) into one
    base batch must not change later detections — a post-compaction
    ingest still collides against everything previously indexed."""
    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    d.process_batch(_df(spark, DOCS0), 0)
    d.process_batch(_df(spark, DOCS1), 1)
    d.index.compact(spark)
    d.dups.compact(spark)
    assert len(d.index.committed_batches()) == 1  # folded

    d.process_batch(_df(spark, [(20, DOCS0[3][1])]), 2)
    dups = {r["doc_id"]: r["dup_of"] for r in d.read_dups(spark).collect()}
    assert dups[20] == 3  # detected against the compacted index
    assert dups[12] == 3 and dups[13] == 11  # history preserved


def test_index_bucket_pruning_reads_only_touched_buckets(spark, tmp_path):
    """The 100-TB lever: the index lands under hive bucket=XX
    directories and a batch's collision lookup must PRUNE to the
    buckets its bands hash into — a PartitionFilters entry on the
    scan, not a post-scan filter — so per-epoch lookup IO tracks the
    batch's bucket footprint, not the accumulated index size."""
    import contextlib
    import glob
    import io
    import os

    from pyspark.sql import functions as F

    from dstream_spark.operators.incremental_dedup import document_bands

    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    # 40 distinct docs spread the index across many buckets
    many = [(i, " ".join(f"m{i}_{j}" for j in range(12))) for i in range(40)]
    d.process_batch(_df(spark, many), 0)
    [batch_dir] = glob.glob(os.path.join(str(tmp_path / "idx"), "data", "batch_id=0", "attempt-*"))
    all_buckets = {n for n in os.listdir(batch_dir) if n.startswith("bucket=")}
    assert len(all_buckets) > 8  # layout is real: many bucket dirs on disk

    # a ONE-doc batch touches at most BANDS(=4) buckets
    bands = document_bands(_df(spark, [(100, many[3][1])]))
    touched = bands.agg(F.collect_set("bucket")).first()[0]
    assert 1 <= len(touched) <= 4 < len(all_buckets)

    pruned = d._index_raw(spark, buckets=touched)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    # the bucket restriction is a partition filter on the scan (prunes
    # directory listing + IO), and is NOT left as a data filter
    assert "PartitionFilters" in plan
    part_line = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "bucket" in part_line and "IN" in part_line

    # IO check at the source: only the touched directories are read
    read_dirs = {
        os.path.basename(os.path.dirname(r[0].removeprefix("file://")))
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_dirs == {f"bucket={b}" for b in touched} & all_buckets

    # and the pruned lookup still detects the duplicate
    d.process_batch(_df(spark, [(100, many[3][1])]), 1)
    dups = {r["doc_id"]: r["dup_of"] for r in d.read_dups(spark).collect()}
    assert dups == {100: 3}


def test_bucket_layout_under_marker_protocol(spark, tmp_path):
    """The commit marker protocol composes with the hive bucket
    layout: attempt dirs contain bucket=XX subdirs, and data_read
    (one read per attempt root) must still infer the bucket partition
    column, prune on it, and detect dups — plus compaction's pointer
    swap preserves both."""
    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=2)
    d.init()
    d.process_batch(_df(spark, DOCS0), 0)
    d.process_batch(_df(spark, DOCS1), 1)
    dups = {r["doc_id"]: r["dup_of"] for r in d.read_dups(spark).collect()}
    assert dups == {12: 3, 13: 11}
    # pruned read path works against marker-resolved attempt dirs
    from dstream_spark.operators.incremental_dedup import document_bands

    bands = document_bands(_df(spark, [(20, DOCS0[3][1])]))
    touched = bands.agg(F.collect_set("bucket")).first()[0]
    assert d._index_raw(spark, buckets=touched).count() > 0
    # compact (marker pointer swap) then detect against the folded index
    d.index.compact(spark)
    d.dups.compact(spark)
    d.process_batch(_df(spark, [(20, DOCS0[3][1])]), 2)
    dups2 = {r["doc_id"]: r["dup_of"] for r in d.read_dups(spark).collect()}
    assert dups2 == {12: 3, 13: 11, 20: 3}

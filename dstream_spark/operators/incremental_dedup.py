"""Incremental (streaming) near-duplicate detection over a document
change feed — the corpus-ingestion form of MinHash-LSH dedup.

A 100 TB corpus does not arrive as one batch: documents stream in, and
each must be checked against EVERYTHING ingested so far without
re-scanning the corpus. The classic shape (and this operator):

- the accumulated state is a *band index* — (doc_id, band, band_hash)
  rows, bucket-keyed — maintained as an exactly-once landed table
  (MergeSink: commit markers make replays no-ops, so the index grows
  exactly once per epoch);
- each micro-batch derives its documents' MinHash band hashes (pure
  JVM expressions, functions/dedup_text) and equi-joins them against
  the index buckets (plus its own bands, for within-batch dups) — the
  only shuffle is on the 16-byte band hash, never on text;
- colliding documents land in a *dup log* (doc_id, dup_of = smallest
  earlier colliding doc, n_bands = collision evidence), also
  exactly-once.

Replay determinism: the dup log commits BEFORE the index, so a crash
between the two replays into (skip dups, recompute index against the
same pre-batch index state) — both tables end bit-identical to the
crash-free run. Doc ids are assumed monotone with arrival (the CDC
LSN analog; reference docs/plugins/mssql-ingester.md:70): "earlier"
is simply "smaller id".

At scale the index join is bucket-partitioned on band_hash (the
MergeSink partition key), so a new batch touches only the buckets its
documents hash into — the same access pattern an LSM-backed dedup
index has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstream_spark.functions.dedup_text import lsh_bands, minhash_signature, word_shingles
from dstream_spark.sinks.merge import MergeSink


N_BUCKETS = 256  # bucket = first hex byte of band_hash — the on-disk
# partition-pruning unit; a FIXED universe, so the per-batch touched-
# bucket set is a bounded scalar (≤256 values) regardless of corpus size


def document_bands(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, band, band_hash, bucket) for every document with at
    least one shingle (short docs have no signature, as in the batch
    family). ``bucket`` is the hive partition key the index is laid
    out under — functionally determined by band_hash. The value is
    'b' + two hex chars, NOT the bare hex: Spark type-infers hive
    partition values per directory tree, so an index whose dirs happen
    to be all digit-hex ('07', '12') would read bucket back as INT
    (07→7) — crashing the sink's cross-root union against
    string roots and silently breaking the isin() pruning after a
    compact rewrote the dirs unpadded. A non-numeric prefix pins the
    inferred type to string everywhere."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, 3).alias("sh")
    ).filter(F.size("sh") > 0)
    sig = sh.select("doc_id", *minhash_signature(F.col("sh")))
    return lsh_bands(sig).withColumn(
        "bucket", F.concat(F.lit("b"), F.substring("band_hash", 1, 2))
    )


def slice_by_id(df: DataFrame, n_batches: int, id_col: str = "doc_id") -> DataFrame:
    """Deterministic id-ascending micro-batch slicing (the arrival
    order the dup log's "earlier = smaller id" contract assumes):
    adds a ``_slice`` column in [0, n_batches) by equal-width id
    range. Only the two scalar id bounds touch the driver. Shared by
    stream_inc_dedup, the corpus pipeline's streaming mode, and the
    ingest bench."""
    lo, hi = df.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:
        raise ValueError("empty input: nothing to slice")
    span = max(1, int(hi) - int(lo) + 1)
    return df.withColumn(
        "_slice",
        F.least(
            F.lit(n_batches - 1),
            ((F.col(id_col) - F.lit(int(lo))) * n_batches / span).cast("int"),
        ),
    )


class IncrementalLshDedup:
    """Exactly-once incremental LSH dedup: a growing band index + a
    dup log, fed micro-batch by micro-batch (use ``process_batch`` as
    a foreachBatch body, or drive it directly)."""

    def __init__(self, index_dir: str, dups_dir: str, n_partitions: int = 8,
                 prune: bool = True):
        # prune=False disables bucket partition pruning (full-index
        # read per batch) — kept ONLY as the A/B baseline for
        # tools/inc_dedup_bench.py; results are identical either way
        self.prune = prune
        self.index = MergeSink(
            index_dir,
            keys=("doc_id", "band"),
            partition_key="bucket",  # co-locate buckets
            order_cols=("band_hash", "doc_id"),
            n_partitions=n_partitions,
            # hive bucket directories: each epoch lands under
            # bucket=XX/ subdirs, so the collision join's index read
            # PRUNES to the buckets the batch actually touches
            hive_partition_by="bucket",
        )
        self.dups = MergeSink(
            dups_dir,
            keys=("doc_id",),
            partition_key="doc_id",
            order_cols=("doc_id",),
            n_partitions=n_partitions,
        )

    def init(self) -> None:
        self.index.init()
        self.dups.init()

    def _index_raw(self, spark: SparkSession, buckets=None) -> DataFrame:
        """Committed index rows WITHOUT read_table's cross-batch key
        dedup: the index is append-only with unique (doc_id, band) by
        construction (each epoch's writer dedups its own batch; replays
        are marker-skipped), so the per-epoch latest-version shuffle
        over the WHOLE accumulated index — O(corpus) per micro-batch,
        quadratic cumulative — is pure waste here.

        ``buckets``: restrict the read to these hive bucket
        partitions. The filter lands as a PartitionFilter on the scan
        (bucket is a directory key, never a data column), so only the
        touched bucket directories are listed and read — the lookup
        cost tracks the BATCH's bucket footprint, not the accumulated
        index size."""
        committed = self.index.committed_batches()
        if not committed:
            return spark.createDataFrame(
                [], schema="doc_id long, band int, band_hash string"
            )
        df = self.index.protocol.data_read(spark, committed)
        if buckets is not None:
            df = df.filter(F.col("bucket").isin(list(buckets)))
        return df.select("doc_id", "band", "band_hash")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if (
            int(batch_id) in self.dups.committed_batches()
            and int(batch_id) in self.index.committed_batches()
        ):
            # fully committed epoch: the replay is a no-op WITHOUT
            # launching any job (the touched-bucket aggregate below is
            # eager; without this check a replay would recompute the
            # whole shingle/minhash pass just to throw it away). A
            # crash BETWEEN the two commits leaves only the dup log
            # committed — that replay falls through and recomputes,
            # which the per-sink markers then resolve deterministically
            # (see module docstring).
            return
        bands = document_bands(batch_df)
        bands.persist()
        try:
            # the batch's touched-bucket set: ONE aggregate to a single
            # row, bounded by the fixed 256-bucket universe (a scalar
            # read in the kmeans sense — O(1) w.r.t. corpus size)
            touched = (
                bands.agg(F.collect_set("bucket")).first()[0] if self.prune else None
            )
            # earlier = committed index (prior epochs, PRUNED to the
            # touched buckets) + this batch's own bands (within-batch
            # dups); "earlier" = smaller doc_id
            idx = self._index_raw(spark, buckets=touched)
            earlier = idx.unionByName(
                bands.select("doc_id", "band", "band_hash")
            ).select(F.col("doc_id").alias("e_id"), "band", "band_hash")
            collisions = (
                bands.join(earlier, ["band", "band_hash"])
                .filter(F.col("e_id") < F.col("doc_id"))
                .groupBy("doc_id")
                .agg(
                    F.min("e_id").alias("dup_of"),
                    F.countDistinct("band").alias("n_bands"),
                )
            )
            # dup log FIRST: a crash before the index commit replays to
            # the same pre-batch index state, so both commits are
            # deterministic (see module docstring)
            self.dups.process_batch(collisions, batch_id)
            self.index.process_batch(bands, batch_id)
        finally:
            bands.unpersist()

    # -- readers -----------------------------------------------------
    def read_dups(self, spark: SparkSession) -> DataFrame:
        if not self.dups.committed_batches():  # nothing ingested yet
            return spark.createDataFrame(
                [], schema="doc_id long, dup_of long, n_bands long"
            )
        return self.dups.read_table(spark).select("doc_id", "dup_of", "n_bands")

    def unique_docs(self, spark: SparkSession) -> DataFrame:
        """Ingested documents that are nobody's duplicate — the keep
        set a downstream pipeline trains on."""
        seen = self.index.read_table(spark).select("doc_id").distinct()
        return seen.join(self.read_dups(spark).select("doc_id"), "doc_id", "left_anti")

    def destroy(self) -> None:
        self.index.destroy()
        self.dups.destroy()

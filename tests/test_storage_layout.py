"""Storage-layout scale patterns: bucketed co-located joins (the
shuffle-free fact-fact join at 100 TB) and partition-pruned scans.
These are layout contracts, not operators — asserted on the physical
plan, with results checked against the plain layout."""

from __future__ import annotations

import contextlib
import io


def _final_plan(df) -> str:
    df.collect()  # let AQE finalize
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, tmp_path, sf_dir):
    """Both fact tables bucketed+sorted on the join key: the sort-merge
    join consumes bucket files directly — NO Exchange on either side.
    This is the layout that makes the 100-TB lineitem⋈orders join a
    map-side merge instead of a full shuffle of both tables."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (
        li.write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "li_b")).mode("overwrite").saveAsTable("li_b")
    )
    (
        o.write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "o_b")).mode("overwrite").saveAsTable("o_b")
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        j = spark.table("li_b").join(
            spark.table("o_b"), spark.table("li_b").l_orderkey == spark.table("o_b").o_orderkey
        ).select("l_orderkey", "o_orderdate", "l_quantity")
        plan = _final_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "Bucketed: true" in plan
        # same answer as the unbucketed join
        plain = li.join(o, li.l_orderkey == o.o_orderkey)
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partitioned_write_prunes_scan(spark, tmp_path, sf_dir):
    """Events laid out by day partition: a day-filtered read must list
    only that day's directory (PartitionFilters on the scan, row count
    == the unpartitioned filter)."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    part_dir = str(tmp_path / "events_by_day")
    e.withColumn("day", F.to_date("ts")).write.mode("overwrite").partitionBy("day").parquet(
        part_dir
    )
    some_day = e.select(F.to_date("ts").alias("d")).first().d
    filtered = spark.read.parquet(part_dir).filter(F.col("day") == F.lit(some_day))
    plan = _final_plan(filtered)
    assert "PartitionFilters" in plan and "isnotnull(day" in plan
    assert filtered.count() == e.filter(F.to_date("ts") == F.lit(some_day)).count()


def test_zorder_layout_skips_files_on_both_dims(spark, tmp_path, sf_dir):
    """Z-ORDER (Morton bit-interleave) clustering: range-partitioning
    on the interleaved key gives BOTH dimensions narrow per-file
    min/max spans, so parquet footer stats can skip files for range
    predicates on EITHER dim — the multi-dimensional data-skipping
    lever a linear sort cannot give (one narrow dim, the other
    spanning everything in every file). Asserted on the actual parquet
    footer statistics of both layouts; all arithmetic deterministic."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo_u, hi_u, lo_v, hi_v = e.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    # scale both dims onto the full 16-bit grid so every interleaved
    # bit carries information regardless of the raw ranges
    ub = F.floor(
        (F.col("user_id") - F.lit(lo_u)) * 65535.0 / F.lit(float(hi_u - lo_u))
    ).cast("long")
    vb = F.floor(
        (F.col("value") - F.lit(lo_v)) * 65535.0 / F.lit(float(hi_v - lo_v))
    ).cast("long")
    z = F.lit(0).cast("long")
    for k in range(16):
        z = z + F.shiftleft(F.shiftright(ub, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        z = z + F.shiftleft(F.shiftright(vb, k).bitwiseAND(F.lit(1)), 2 * k)
    g = e.select(ub.alias("ub"), vb.alias("vb"), z.alias("z"))

    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    g.repartitionByRange(8, "z").sortWithinPartitions("z").write.mode(
        "overwrite"
    ).parquet(zdir)
    g.repartitionByRange(8, "ub").sortWithinPartitions("ub").write.mode(
        "overwrite"
    ).parquet(ldir)

    def avg_span(dirpath: str, col: str) -> float:
        fracs = []
        for f in glob.glob(dirpath + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            fracs.append((max(maxs) - min(mins)) / 65535.0)
        assert len(fracs) == 8
        return sum(fracs) / len(fracs)

    # z-order: BOTH dims narrow (8 range splits on the interleave =
    # ~2 bits of one dim x ~1 of the other; measured 0.32/0.50 at
    # sf0.001); linear: the sorted dim is razor thin (0.06) while the
    # other spans most of the domain in every file (0.77 — not 1.0:
    # value correlates weakly with the sorted dim in this corpus)
    assert avg_span(zdir, "ub") < 0.45
    assert avg_span(zdir, "vb") < 0.65
    assert avg_span(ldir, "ub") < 0.15
    assert avg_span(ldir, "vb") > 0.65
    # and the z layout dominates the linear one on the unsorted dim
    assert avg_span(zdir, "vb") < avg_span(ldir, "vb") - 0.2


def test_dynamic_partition_pruning_fires_on_dim_join(spark, tmp_path, sf_dir):
    """DPP: a day-partitioned fact joined to a small filtered dim must
    plan a dynamicpruningexpression PartitionFilter — at 100 TB the
    fact scan reads only the dim's days, decided at RUNTIME from the
    broadcast, not at compile time. (Aggregate pushdown was probed too
    but does not engage in this Spark 4 build, so only DPP is pinned.)"""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path / "fact_by_day")
    e.withColumn("day", F.to_date("ts")).write.partitionBy("day").mode(
        "overwrite"
    ).parquet(d)
    fact = spark.read.parquet(d)
    days = [r.day for r in fact.select("day").distinct().limit(3).collect()]
    dim = spark.createDataFrame(
        [(x, 1) for x in days], "day date, flag int"
    ).filter("flag = 1")
    j = fact.join(dim, "day").groupBy("day").count()
    plan = _final_plan(j)
    assert "dynamicpruningexpression" in plan
    assert "IN dynamicpruning" in plan, "fact PartitionFilters must carry the runtime IN-subquery"
    # correctness: pruned result equals the unpruned filter
    expect = fact.filter(F.col("day").isin(days)).groupBy("day").count()
    got = {(r.day, r["count"]) for r in j.collect()}
    assert got == {(r.day, r["count"]) for r in expect.collect()}


def test_scan_bytes_sizes_percent_encoded_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded file: URIs ("t 1%" becomes
    "t%201%25"). The size probe must decode them and sum the real
    file sizes, not give up and return None (which silently disables
    the broadcast decision). A non-file scheme is not sized."""
    import glob
    import os

    from dstream_spark.queries_base import _scan_bytes

    d = str(tmp_path / "sb dir" / "t 1%")
    spark.range(1000).repartition(3).write.parquet(d)
    df = spark.read.parquet(d)
    assert any("%25" in f for f in df.inputFiles())
    on_disk = sum(os.path.getsize(f) for f in glob.glob(os.path.join(glob.escape(d), "*.parquet")))
    assert on_disk > 0
    assert _scan_bytes(df) == on_disk

    class _Remote:
        def inputFiles(self):
            return ["s3a://bucket/t/part-0.parquet"]

    assert _scan_bytes(_Remote()) is None

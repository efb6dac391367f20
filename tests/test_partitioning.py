"""Murmur3-preimage bucket routing (functions/partitioning.py).

The routing is an optimization contract, not a correctness one (the staged
write re-groups by the bucket COLUMN either way), but a silent drift between
the Python murmur3 and Spark's HashPartitioning would quietly reintroduce
the straggler packing the router exists to remove — so parity is pinned."""

import pytest
from pyspark.sql import functions as F

from docling_rag_spark.functions.partitioning import (
    bucket_route,
    murmur3_int32,
    partition_preimages,
)


def test_murmur3_matches_spark_hash(spark):
    """Python murmur3_int32 == F.hash(int32) (seed 42), incl. negatives."""
    xs = [0, 1, 2, 41, 42, 255, 256, 1 << 20, -1, -123456,
          2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(x,) for x in xs], "x int")
    got = {r["x"]: r["h"]
           for r in df.select("x", F.hash("x").alias("h")).collect()}
    for x in xs:
        assert got[x] == murmur3_int32(x), f"mismatch at {x}"


@pytest.mark.parametrize("n", [1, 7, 32, 256])
def test_preimages_cover_all_partitions(n):
    pre = partition_preimages(n)
    assert len(pre) == n
    assert sorted(murmur3_int32(x) % n for x in pre) == list(range(n))


def _routed_buckets(df, batch, num_buckets, n):
    """{partition id: buckets it holds} after routing ``df`` onto ``n``
    partitions (``n=None``: the one-bucket-per-partition default)."""
    routed = df.repartition(
        n or len(batch),
        bucket_route(F.col("bucket"), batch, num_buckets, n))
    out = {}
    for r in (routed.withColumn("pid", F.spark_partition_id())
              .select("pid", "bucket").distinct().collect()):
        out.setdefault(r["pid"], set()).add(r["bucket"])
    return out


def _assert_packed(parts, batch, n):
    """Every partition non-empty, every bucket in exactly one partition,
    partition loads within one bucket of each other."""
    assert len(parts) == n                          # no empty/missing slots
    held = sorted(b for bs in parts.values() for b in bs)
    assert held == sorted(batch)                    # no bucket split/lost
    lo, hi = len(batch) // n, -(-len(batch) // n)
    assert all(lo <= len(bs) <= hi for bs in parts.values())


def _bucketed(spark, rows, num_buckets, batch):
    return (spark.range(rows)
            .withColumn("bucket",
                        F.pmod(F.xxhash64("id"), F.lit(num_buckets))
                        .cast("int"))
            .filter(F.col("bucket").isin(batch)))


def test_bucket_route_one_bucket_per_partition(spark):
    """repartition(n, bucket_route(...)) -> every partition holds exactly
    one bucket, every bucket its own partition (the property that makes
    the staged partitionBy write emit one file per bucket)."""
    num_buckets = 32
    batch = list(range(num_buckets))
    parts = _routed_buckets(_bucketed(spark, 4000, num_buckets, batch),
                            batch, num_buckets, None)
    _assert_packed(parts, batch, num_buckets)    # one bucket each


def test_bucket_route_subset_batch(spark):
    """A resume-style batch (subset of buckets) still gets one bucket per
    partition across len(batch) partitions."""
    num_buckets = 64
    batch = [3, 17, 21, 40, 63]
    parts = _routed_buckets(_bucketed(spark, 2000, num_buckets, batch),
                            batch, num_buckets, None)
    _assert_packed(parts, batch, len(batch))


@pytest.mark.parametrize("batch,num_buckets,n", [
    (list(range(32)), 32, 4),
    ([3, 17, 21, 40, 63], 64, 2),
    (list(range(20)), 20, 8),
], ids=["32to4", "5to2", "20to8"])
def test_bucket_route_packed(spark, batch, num_buckets, n):
    """The parse stage's packing: repartition(n, bucket_route(..., n))
    puts whole buckets on each of n partitions, loads within one bucket
    of each other (bucket batch[i] -> partition i % n)."""
    parts = _routed_buckets(_bucketed(spark, 4000, num_buckets, batch),
                            batch, num_buckets, n)
    _assert_packed(parts, batch, n)


def test_route_repartition_one_bucket_per_partition(spark):
    """The shared rewrite helper (delete/registry/fold sites) must place
    each active bucket alone in its own shuffle partition — same property
    as raw bucket_route, via the list-only signature those sites have."""
    from docling_rag_spark.functions.partitioning import route_repartition

    buckets = [1, 5, 9, 12]
    df = (spark.range(1000)
          .withColumn("bucket",
                      F.pmod(F.xxhash64("id"), F.lit(16)).cast("int"))
          .filter(F.col("bucket").isin(buckets)))
    per_part = (route_repartition(df, buckets)
                .withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .agg(F.countDistinct("bucket").alias("nb"))
                .collect())
    assert len(per_part) == len(buckets)
    assert all(r["nb"] == 1 for r in per_part)


def test_job_parse_stage_one_task_per_core(spark, tmp_path):
    """run_extraction packs a 16-bucket batch onto the session's cores:
    the parse stage runs at most defaultParallelism Python tasks (each
    pays a fixed worker start-up), and every bucket still lands whole in
    one task, so each committed bucket directory holds exactly one file.
    Task counts come from the status tracker, which needs no web UI."""
    import glob
    import os
    import uuid

    from docling_rag_spark.plans.job import run_extraction
    from docling_rag_spark.sources.pages import write_pages_parquet

    sc = spark.sparkContext
    assert spark.conf.get("spark.ui.enabled") == "false"
    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 60)
    group = f"parse-width-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "parse stage width")
    try:
        run_extraction(spark, pages, out, num_buckets=16)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

    tracker = sc.statusTracker()
    # the driver thread's only shuffle is the parse-stage repartition: the
    # stage reading it is the last stage of a multi-stage job
    parse_stages = []
    for job_id in tracker.getJobIdsForGroup(group):
        stage_ids = list(tracker.getJobInfo(job_id).stageIds)
        if len(stage_ids) > 1:
            parse_stages.append(tracker.getStageInfo(max(stage_ids)))
    assert parse_stages
    assert all(0 < st.numTasks <= sc.defaultParallelism
               for st in parse_stages), [st.numTasks for st in parse_stages]

    for tbl in ("chunks", "extracted"):
        dirs = glob.glob(os.path.join(out, tbl, "bucket=*"))
        assert len(dirs) == 16
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

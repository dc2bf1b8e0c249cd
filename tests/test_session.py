"""Tests for the session helpers: the min-parallelism guard's decision
rule, and a source scan that keeps engine logic off JVM plan internals."""

import pathlib

from bht_etl_app_spark.session import ensure_min_parallelism

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "bht_etl_app_spark"


def test_single_file_scan_is_repartitioned(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1

    out = ensure_min_parallelism(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_wide_file_directory_is_left_alone(spark, tmp_path):
    sc = spark.sparkContext
    target = sc.defaultParallelism
    path = str(tmp_path / "many")
    spark.range(target * 10).repartition(target).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= target

    # the decision is driver-side metadata: no Spark job runs
    sc.setJobGroup("min-par-probe", "ensure_min_parallelism decision")
    try:
        out = ensure_min_parallelism(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out is df
    assert sc.statusTracker().getJobIdsForGroup("min-par-probe") == []


def test_local_frame_is_decided_by_partition_count(spark):
    target = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame([(1,)], "x long").coalesce(1)
    big = spark.createDataFrame([(i,) for i in range(target * 10)], "x long")
    assert small.inputFiles() == [] and big.inputFiles() == []
    assert small.rdd.getNumPartitions() < target
    assert big.rdd.getNumPartitions() >= target

    out = ensure_min_parallelism(small)
    assert out is not small
    assert out.rdd.getNumPartitions() == target
    assert ensure_min_parallelism(big) is big


def test_few_files_with_many_splits_are_still_repartitioned(spark, tmp_path):
    """The guard prices a file scan by file count, never by splits.
    One file with many row groups already reads as enough splits, yet
    is repartitioned: the documented known limit, pinned so a guard
    that prices by ``df.rdd`` instead shows up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = spark.sparkContext.defaultParallelism
    n_groups = 4 * target
    rows = 2_000
    path = tmp_path / "one_file"
    path.mkdir()
    ids = pa.array(range(n_groups * rows), pa.int64())
    pq.write_table(
        pa.table({"id": ids, "s": pa.array([f"{i:08x}" for i in range(len(ids))])}),
        str(path / "part-0.parquet"),
        row_group_size=rows,
    )
    size = (path / "part-0.parquet").stat().st_size

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(size // (2 * target)))
    try:
        df = spark.read.parquet(str(path))
        assert len(df.inputFiles()) == 1
        assert df.rdd.getNumPartitions() >= target
        assert ensure_min_parallelism(df) is not df
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_no_jvm_plan_internals_in_package():
    """Engine logic must not depend on version-specific JVM classes:
    no py4j walks over plan nodes or query-execution internals."""
    banned = ("getClass(", "queryExecution(", "sparkPlan(")
    hits = [
        f"{p.relative_to(PACKAGE.parent)}:{i}: {line.strip()}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(b in line for b in banned)
    ]
    assert hits == []

"""Physical data layout: the write-side half of 100 TB performance.

The reference app has no storage story at all (in-memory pandas,
SURVEY.md §1.3); at scale, layout decisions dominate query cost:

- ``write_partitioned``: hive-style directory partitioning -> partition
  PRUNING (a filter on the partition column skips whole directories
  before any IO; visible as ``PartitionFilters`` in the scan node).
- ``write_range_sorted``: range-repartition + in-partition sort ->
  tight parquet min/max row-group stats, so range predicates skip row
  groups inside files, and downstream merge-sorts are cheap.
- ``write_bucketed``: hash-bucketed (+ optionally sorted) catalog
  table -> joins/aggregations on the bucket key need NO shuffle
  (Exchange disappears from the plan; each task zips bucket i with
  bucket i). The classic fact-table co-location strategy.

All three are thin, opinionated wrappers over native DataFrameWriter
features — the value is choosing them per column role, not mechanism.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet. Choose low-cardinality,
    filter-heavy columns (date, category); high-cardinality partition
    columns create a small-file explosion."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally range-partitioned, within-file sorted parquet: file k
    holds keys < file k+1, rows sorted inside — parquet min/max stats
    become precise, so point/range scans skip almost everything."""
    parts = df.repartitionByRange(num_files, *sort_cols) if num_files else df.repartitionByRange(*sort_cols)
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed managed table (requires a catalog — bucketing
    metadata lives there, not in the files). Two tables bucketed the
    same way join WITHOUT any Exchange."""
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_band_index(
    bands: DataFrame,
    table: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a banded-signature frame (``minhash_bands`` output —
    ``(id, band, bh)`` plus any batch bookkeeping columns) as THE
    stored near-dup probe index (r4 VERDICT item #5): a catalog table
    bucketed AND sorted by the band join key ``(band, bh)``, so an
    incremental batch probing the store
    (:func:`~bht_etl_app_spark.operators.dedup.near_dup_incremental`
    with ``history_bands=read_band_index(...)``) plans the store side
    of the candidate equi-join with ZERO Exchange — only the (small)
    new batch shuffles, never the accumulated corpus index. The
    caller owns hash-family consistency: probe with the same
    ``hash_fn`` the index was built with.

    ``path`` makes it an external table (storage location decoupled
    from the session warehouse); bucketing metadata still lives in
    the catalog — bucketed joins need it.
    """
    w = bands.write.mode(mode).bucketBy(num_buckets, "band", "bh").sortBy(
        "band", "bh"
    )
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def read_band_index(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def append_band_index(bands: DataFrame, table: str, num_buckets: int = 32) -> None:
    """Append a new batch's band rows to the stored index. Appends
    preserve the bucket layout (each append adds one file per
    populated bucket — run :func:`compact_band_index` periodically;
    the streaming ingest loop appends every micro-batch)."""
    (
        bands.write.mode("append")
        .bucketBy(num_buckets, "band", "bh")
        .sortBy("band", "bh")
        .format("parquet")
        .saveAsTable(table)
    )


def compact_band_index(
    spark: SparkSession, table: str, num_buckets: int = 32, path: str | None = None
) -> int:
    """Rewrite the band index in place: collapse the per-append file
    accumulation back to one file per bucket and drop duplicate rows
    (a replayed streaming batch appends its band rows twice; dupes
    never change RESULTS — candidate pairs are distinct-ed — only
    cost). Returns the compacted row count.

    Spark refuses to overwrite a table that is being read, so the
    deduped rows are materialized first (eager localCheckpoint) and
    the blocks freed after the rewrite.
    """
    from bht_etl_app_spark.functions.lifecycle import (
        _eager_checkpoint,
        unpersist_rdd_ids,
    )

    sc = spark.sparkContext
    snap, ids = _eager_checkpoint(spark.table(table).distinct())
    try:
        n = snap.count()
        # pass `path` to keep an external table external at a NEW
        # location (overwriting an external table's own directory
        # in-place is not crash-safe); managed tables rewrite in the
        # warehouse as before
        write_band_index(
            snap, table, num_buckets=num_buckets, mode="overwrite", path=path
        )
    finally:
        unpersist_rdd_ids(sc, ids)
    return n


def compact(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 128,
    mode: str = "overwrite",
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    roughly ``target_file_mb``. Small files are the silent killer of
    100 TB scans (per-file open cost, starved row groups, pressured
    drivers listing millions of objects); nightly compaction of
    streaming sink output is standard hygiene.

    Returns the number of output files chosen. Local-fs sizing here;
    on object storage, size from the catalog/manifest instead.
    """
    import math
    import os

    from pyspark.sql import functions as F

    total = 0
    for root, _, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    if partition_cols:
        # Hive layout preserved. Repartitioning on the key alone would
        # funnel each partition VALUE into one task -> one file, so a
        # hot partition becomes a single oversized file. Two defenses:
        # a content-hash salt spreads each value over several tasks
        # (write parallelism), and maxRecordsPerFile rolls any task
        # that still exceeds the size target into multiple files.
        n_rows = df.count()  # parquet metadata count — no data scan
        avg_row_bytes = max(1.0, total / max(1, n_rows))
        max_records = max(1, int(target_file_mb * 1024 * 1024 / avg_row_bytes))
        n_values = df.select(*partition_cols).distinct().count()
        files_per_value = max(1, math.ceil(n / max(1, n_values)))
        salted = df.withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(files_per_value)),
        )
        (
            salted.repartition(n, *partition_cols, "__salt")
            .drop("__salt")
            .write.mode(mode)
            .option("maxRecordsPerFile", max_records)
            .partitionBy(*partition_cols)
            .parquet(dst)
        )
    else:
        df.repartition(n).write.mode(mode).parquet(dst)
    return n


def shard_manifest(spark, path: str):
    """Dataloader manifest: one row per data file — ``(file, n_rows,
    n_bytes)`` — computed DISTRIBUTED via ``input_file_name`` grouping
    (rows) joined with a driver-side metadata walk (bytes; no data
    read). The manifest is what a training job consumes to plan
    epochs/sharding without listing storage itself.

    Both sides are keyed by the DATASET-RELATIVE path
    (``source=web/part-....parquet``), never the bare basename:
    hive-partitioned writes reuse the same part-file basename across
    partition directories, so a basename join fans out N_partitions
    ways and multiplies every count.
    """
    import os

    from pyspark.sql import functions as F

    abs_root = os.path.abspath(path)
    sizes = []
    for root, _dirs, files in os.walk(abs_root):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                sizes.append((os.path.relpath(full, abs_root), os.path.getsize(full)))
    sdf = spark.createDataFrame(sizes, "rel_path string, n_bytes long")
    rows = (
        spark.read.parquet(abs_root)
        .groupBy(F.input_file_name().alias("file"))
        .count()
        .withColumnRenamed("count", "n_rows")
    )
    # input_file_name is a URI (file:///...); everything after
    # "<abs_root>/" is the dataset-relative path, which is unique even
    # under hive partitioning. (Partition values with URI-reserved
    # chars would be percent-encoded here; keys/values are plain
    # identifiers in this engine's layouts.)
    rows = rows.withColumn(
        "rel_path", F.substring_index(F.col("file"), abs_root + "/", -1)
    )
    return rows.join(sdf, "rel_path", "left").select(
        "file", F.col("n_rows").cast("long").alias("n_rows"), "n_bytes"
    )


def write_pq_index(
    codes: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist an IVF-PQ index: ``(vec_id, list_id, codes)`` rows
    written hive-partitioned by ``list_id``. A query probing
    ``nprobe`` lists reads ONLY those lists' directories — partition
    pruning happens at planning time, before any file is opened
    (pinned in tests/test_layout.py). Codes are m small ints per
    vector, so the stored index is ~orders of magnitude smaller than
    the float vectors it replaces; the vectors themselves stay in
    their own table for optional exact re-ranking.

    ``mode="append"`` is the index-maintenance path: encode new
    vectors with the EXISTING coarse centroids and codebooks
    (``pq_index_rows`` with the stored model — no retrain, the
    standard faiss ``add`` semantics; retraining is a separate, rarer
    event). They land as new files inside their ``list_id=`` hive
    partitions, so probe-time partition pruning keeps working across
    appends. Each append adds one file per populated list — run
    :func:`compact_pq_index` periodically (the ``append_band_index``
    rule)."""
    codes.write.mode(mode).partitionBy("list_id").parquet(path)


def read_pq_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_pq_index(spark: SparkSession, path: str) -> int:
    """Rewrite the PQ index: collapse per-append file accumulation to
    one file per list partition and drop duplicate rows (a replayed
    ingest batch appends twice; ADC scoring is per-row, so dupes
    inflate candidate cost and can duplicate a top-k entry — unlike
    the band index, dedup here is a CORRECTNESS matter for the
    probe's returned list). Returns the compacted row count.

    Crash safety: the compacted copy is fully WRITTEN AND COMMITTED
    to a temp sibling directory before the live directory is touched
    (an in-place overwrite deletes the only durable copy first — a
    crash mid-rewrite would lose the index; review finding), then
    swapped in via two Hadoop FileSystem renames. A crash in the
    swap window leaves either the old index live or the full
    compacted copy at ``<path>.compact-tmp`` — never zero durable
    copies."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    tmp = path.rstrip("/") + ".compact-tmp"
    old = path.rstrip("/") + ".compact-old"
    snap = spark.read.parquet(path).distinct()
    snap.write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    jold = jvm.org.apache.hadoop.fs.Path(old)
    fs.delete(jold, True)
    if not fs.rename(jpath, jold):
        raise IOError(f"could not stage old index aside: {path}")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), jpath):
        # put the old index back — the live path must never stay empty
        fs.rename(jold, jpath)
        raise IOError(f"could not swap compacted index into {path}")
    fs.delete(jold, True)
    return n


def zorder_key(
    cols: Sequence[str],
    mins: Sequence[float],
    maxs: Sequence[float],
    bits: int = 16,
):
    """Z-order (Morton) interleave expression over N numeric columns:
    each value is rank-normalized into ``[0, 2^bits)`` against the
    supplied min/max, then the columns' bits are interleaved into one
    long. Sorting by this key clusters rows that are close in EVERY
    dimension, so parquet min/max stats prune multi-column range
    queries — the lakehouse OPTIMIZE ZORDER technique; a single-column
    sort gives one dimension perfect stats and leaves the others
    uniform across every file.

    Pure integer/bit expression after one multiply (floor-scaled), so
    the key is deterministic; ``N · bits`` must fit in 63 bits.
    min/max come from the caller (one 1-row aggregate — see
    :func:`write_zordered`).
    """
    n = len(cols)
    if not cols or n * bits > 63:
        raise ValueError(f"need 1..{63 // bits} columns at {bits} bits")
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo)
        if span <= 0:
            scaled.append(F.lit(0).cast("long"))
            continue
        norm = (
            (F.col(c).cast("double") - F.lit(float(lo)))
            * F.lit(float((1 << bits) - 1))
            / F.lit(span)
        )
        scaled.append(F.floor(norm).cast("long"))
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: one 1-row min/max aggregate, then a
    range repartition + within-file sort on the Morton key (dropped
    before write). Every listed column gets narrow per-file min/max
    stats simultaneously — the multi-dimensional sibling of
    :func:`write_range_sorted` (test asserts the per-file range
    narrowing on BOTH dimensions vs a single-column sort)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}__"), F.max(c).alias(f"__max_{c}__")]
    row = df.agg(*aggs).collect()[0]
    mins = [row[f"__min_{c}__"] for c in cols]
    maxs = [row[f"__max_{c}__"] for c in cols]
    keyed = df.withColumn("__z__", zorder_key(cols, mins, maxs, bits))
    (
        keyed.repartitionByRange(num_files, "__z__")
        .sortWithinPartitions("__z__")
        .drop("__z__")
        .write.mode(mode)
        .parquet(path)
    )

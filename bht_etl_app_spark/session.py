"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is chosen for
cluster-scale behavior: AQE handles runtime re-planning (partition
coalescing, skew joins), Arrow accelerates any pandas interchange,
and shuffle partitions start at a sane local value that AQE coalesces
down (on a real cluster you would raise ``spark.sql.shuffle.partitions``
or rely on AQE's initial partition number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def get_spark(
    app_name: str = "bht-etl-app-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. All settings are
    scale-motivated:

    - AQE on: runtime partition coalescing + skew-join splitting means
      one static ``shuffle.partitions`` value works from sf0.001 to 100 TB
      (where you'd set initialPartitionNum high and let AQE shrink).
    - Arrow on: pandas_udf / toPandas cross the JVM<->Python boundary in
      columnar batches, not row-by-row pickles.
    - Broadcast threshold 64 MB: dimension tables (region/nation/codebook)
      always broadcast; fact-fact joins still sort-merge.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture parquet uses TIMESTAMP(NANOS); read as long and convert
        # in load_table (Spark has no nanosecond timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture parquet table (lazy scan; pushdown-friendly).

    The fixtures store timestamps as TIMESTAMP(NANOS), which Spark has
    no native type for; with ``nanosAsLong`` they surface as long
    nanoseconds. We sniff the parquet footer (driver-side, metadata
    only) and convert those columns to proper timestamps via integer
    division to microseconds — matching DuckDB's nanos->micros
    truncation so oracle comparisons line up.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # runtime-settable; makes loads work from any caller's session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Contract timezone-invariance: the caller (e.g. the correctness
    # driver) may hand us a session whose timezone is not UTC; the
    # NTZ->TIMESTAMP normalization below and every downstream
    # unix_timestamp/epoch computation would then shift by a
    # DST-varying offset. Pin UTC so results are identical no matter
    # which session runs the plan (matches DuckDB's naive reading).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    ns_cols = _nano_timestamp_cols(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # micros-precision fixtures are written without a timezone flag, so
    # Spark 4 surfaces them as TIMESTAMP_NTZ; normalize to TIMESTAMP so
    # instant functions (unix_micros, to_utc_timestamp, ...) resolve.
    # Session timezone is UTC, so the cast preserves the wall-clock
    # value and matches DuckDB's naive-timestamp reading bit-for-bit.
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _nano_timestamp_cols(path: str) -> list[str]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return out


def ensure_min_parallelism(df):
    """Repartition a narrow input up to the session's parallelism before
    a CPU-heavy projection (regex tokenization, shingling, hashing).

    The rule: a frame read from files is priced by its file count
    (``df.inputFiles()``, driver-side metadata, no Spark job); any
    other frame (driver-local data, checkpoints) by its exact
    partition count. Fewer than ``defaultParallelism`` means
    one round-robin repartition to ``defaultParallelism``; otherwise
    the frame comes back unchanged. A small parquet table is one file
    and so one split, which would put all of the expression work on
    one core; a dataset at scale is many files, and the guard is a
    no-op.

    Known limit: a dataset stored as fewer files than cores, each
    holding many row groups, already has enough splits but still gets
    one extra round-robin shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    n = len(files) if files else df.rdd.getNumPartitions()
    return df.repartition(target) if n < target else df

"""Reader facade: the reference's ingest surface (CSV/XLSX upload,
app.py:74-81) plus the engine-native parquet path, and the codebook
recode (app.py:215-232) as a scalable broadcast join.

CSV/parquet are distributed Spark scans. XLSX has no native Spark
source: the documented path is a driver-side pandas/openpyxl read of
what is by definition a small file (survey exports), then
``createDataFrame`` (Arrow-accelerated). Gated behind a try-import
because this container ships no excel engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CODEBOOK_COLUMNS = {"column", "value", "label"}


def read_table(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Unified ingest (reference read_table, app.py:74-81): dispatch on
    extension, raise on unsupported types. Adds parquet (engine-native)
    to the reference's csv/xlsx surface."""
    name = path.lower()
    fmt = fmt or (
        "csv" if name.endswith(".csv")
        else "excel" if name.endswith((".xlsx", ".xls"))
        else "parquet" if name.endswith(".parquet")
        else "jsonl" if name.endswith((".jsonl", ".ndjson", ".json"))
        else "orc" if name.endswith(".orc")
        else None
    )
    if fmt == "csv":
        return (
            spark.read.option("header", True)
            .option("inferSchema", True)
            .csv(path)
        )
    if fmt == "parquet":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)
    if fmt in ("jsonl", "json"):
        # newline-delimited JSON, the interchange format of most
        # training-data pipelines; a distributed Spark scan (each line
        # parses independently, so the file splits across tasks)
        return spark.read.json(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt == "excel":
        import pandas as pd

        try:
            pdf = pd.read_excel(path)
        except ImportError:
            # no openpyxl/xlrd in the environment: stdlib fallback
            # engines — minixlsx for zip-based .xlsx, minixls for
            # legacy BIFF .xls (reference accepts both, app.py:78-81);
            # driver-side read is the documented path for small survey
            # exports either way
            if name.endswith(".xls"):
                from bht_etl_app_spark.io.minixls import read_xls

                first = next(iter(read_xls(path).values()))
            else:
                from bht_etl_app_spark.io.minixlsx import read_xlsx

                first = next(iter(read_xlsx(path).values()))
            cols, rows = first
            pdf = pd.DataFrame(rows, columns=cols)
        return spark.createDataFrame(pdf)
    raise ValueError("Unsupported file type. Please upload CSV or XLSX.")


def read_codebook(spark: SparkSession, path: str) -> DataFrame:
    """Codebook CSV scan with schema validation (app.py:218-220):
    requires columns {column, value, label}."""
    cb = spark.read.option("header", True).csv(path)
    missing = CODEBOOK_COLUMNS - set(cb.columns)
    if missing:
        raise ValueError(
            f"Codebook must have columns: column,value,label (missing {sorted(missing)})"
        )
    return cb.select(
        F.col("column").cast("string"),
        F.col("value").cast("string"),
        F.col("label").cast("string"),
    )


def apply_codebook(df: DataFrame, codebook: DataFrame) -> DataFrame:
    """Recode every matching column per the codebook (app.py:221-227):
    look up the stringified cell, fall back to the original value.

    ONE pass: every mapped column becomes a literal-map lookup
    expression (``functions.exprs.codebook_recode_expr``) in a single
    projection. No joins at all, so a survey with hundreds of mapped
    columns doesn't accrete hundreds of join operators in the plan.
    The codebook itself is collected to the driver, so it must fit
    there (survey codebooks are a few thousand rows at most).
    """
    from bht_etl_app_spark.functions.exprs import codebook_recode_expr

    mappings: dict[str, dict[str, str]] = {}
    for r in codebook.collect():
        mappings.setdefault(r["column"], {})[r["value"]] = r["label"]
    return df.select(
        *[
            codebook_recode_expr(c, mappings[c]).alias(c)
            if c in mappings
            else F.col(c)
            for c in df.columns
        ]
    )


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    kind: str = "image",
) -> DataFrame:
    """Multimodal blob ingest via Spark's distributed ``binaryFile``
    source: each file becomes one row ``(path, modificationTime,
    length, content)``; we project onto the engine's MEDIA_SCHEMA
    shape (``media_id`` = stable hash of the path, payload as opaque
    ``binary``, typed metadata as JSON) so the multimodal operators
    (``image_features``, ``audio_features``, ``frame_sample``)
    consume it directly. Reading is split across executors per file —
    the scan scales with the file count, and ``pathGlobFilter``
    prunes non-matching files BEFORE any bytes are read.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.to_json(
            F.struct(
                F.col("path"),
                F.col("length"),
            )
        ).alias("meta"),
    )

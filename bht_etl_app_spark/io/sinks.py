"""Sinks for the output table bundle (reference app.py:592-615).

The reference collects every table into one Excel workbook / JSON
document — outputs are small aggregates by construction. We keep
those driver-side sinks (with an explicit row cap guarding against
misuse on raw tables) and add the scale path: one parquet directory
per table via distributed ``df.write``.

A bundle is a dozen small tables, and each table's collect or write
is a few latency-bound Spark jobs that leave the cores idle. So the
bundle sinks run every table's work at the same time, from a driver
thread pool as wide as ``defaultParallelism`` (at most one thread per
table); Spark's scheduler interleaves the jobs. What each table
computes is unchanged, and so is the output: results come back in
the input dict's order, so JSON key order and Excel sheet order are
the dict order. Every table's call runs with its own copy of the
caller's local properties and tags
(``pyspark.inheritable_thread_target``), so its jobs report the
caller's job group. Excel sheets are still written
one after another: neither pandas' ``ExcelWriter`` nor ``minixlsx``
is thread-safe.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

DEFAULT_ROW_CAP = 1_000_000


def _per_table(tables: dict[str, DataFrame], work) -> dict:
    """``{name: work(name, df)}`` for every table, in ``tables``' order,
    with the calls running concurrently. If any call raises, the
    exception of the first such table (in dict order) propagates."""
    if not tables:
        return {}
    spark = next(iter(tables.values())).sparkSession
    width = min(len(tables), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as pool:
        # one wrap per call: a wrap copies the caller's local properties
        # once, and Spark SQL writes each query's execution id into that
        # copy, so concurrent calls must not share one
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(work), name, df)
            for name, df in tables.items()
        }
        return {name: f.result() for name, f in futures.items()}


def _capped_pandas(name: str, df: DataFrame, row_cap: int):
    capped = df.limit(row_cap + 1).toPandas()
    if len(capped) > row_cap:
        raise ValueError(
            f"table '{name}' exceeds the driver-side sink row cap "
            f"({row_cap}); use write_parquet_bundle for large tables"
        )
    return capped


def write_excel_bundle(
    tables: dict[str, DataFrame], path: str, row_cap: int = DEFAULT_ROW_CAP
) -> None:
    """Multi-sheet Excel workbook, sheet names truncated to Excel's
    31-char limit (app.py:596). Driver-side by design; uses pandas'
    excel engine when one is installed, else the stdlib fallback
    (io/minixlsx.py). The tables are collected concurrently, then the
    sheets are written serially in dict order."""
    frames = _per_table(
        tables, lambda name, df: _capped_pandas(name, df, row_cap)
    )
    try:
        import pandas as pd

        writer = pd.ExcelWriter(path)
    except (ImportError, ValueError):
        from bht_etl_app_spark.io.minixlsx import write_xlsx

        sheets = {}
        for name, pdf in frames.items():
            rows = [
                [None if (isinstance(v, float) and v != v) else v for v in rec]
                for rec in pdf.itertuples(index=False, name=None)
            ]
            sheets[name[:31]] = (list(pdf.columns), rows)
        write_xlsx(path, sheets)
        return
    with writer:
        for name, pdf in frames.items():
            pdf.to_excel(writer, index=False, sheet_name=name[:31])


def write_json_bundle(
    tables: dict[str, DataFrame], path: str, row_cap: int = DEFAULT_ROW_CAP
) -> None:
    """Single JSON document ``{name: [records...]}`` (app.py:607-615),
    keys in dict order. The tables are collected concurrently."""
    bundle = _per_table(
        tables,
        lambda name, df: _capped_pandas(name, df, row_cap).to_dict(orient="records"),
    )
    with open(path, "w") as f:
        json.dump(bundle, f, indent=2, default=str)


def write_parquet_bundle(
    tables: dict[str, DataFrame], out_dir: str, mode: str = "overwrite"
) -> None:
    """Scale sink: one parquet directory per table, written
    distributed. The path a 100 TB pipeline actually uses; Excel/JSON
    stay for the small preview tier. The tables' writes run
    concurrently."""
    _per_table(
        tables,
        lambda name, df: df.write.mode(mode).parquet(os.path.join(out_dir, name)),
    )


def write_table(
    df: DataFrame, path: str, fmt: str | None = None, mode: str = "overwrite"
) -> None:
    """Distributed single-table sink, symmetric with
    ``readers.read_table``: dispatch on extension (or explicit
    ``fmt``) across parquet / jsonl / csv / orc. All formats write a
    directory of part files via ``df.write`` — no driver collect, so
    any of them is safe at full corpus scale (jsonl is the common
    training-data interchange; csv gets a header for tool parity)."""
    name = path.lower()
    fmt = fmt or (
        "parquet" if name.endswith(".parquet")
        else "jsonl" if name.endswith((".jsonl", ".ndjson", ".json"))
        else "csv" if name.endswith(".csv")
        else "orc" if name.endswith(".orc")
        else None
    )
    w = df.write.mode(mode)
    if fmt == "parquet":
        w.parquet(path)
    elif fmt in ("jsonl", "json"):
        w.json(path)
    elif fmt == "csv":
        w.option("header", True).csv(path)
    elif fmt == "orc":
        w.orc(path)
    else:
        raise ValueError(f"unsupported sink format for {path!r}")


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    partition_by: str | list[str] | None = "source",
    order_by: str | list[str] | None = "doc_id",
    max_records_per_file: int | None = 100_000,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Training-shard sink: the layout a dataloader actually consumes
    at 100 TB — hive-partitioned directories (one per ``partition_by``
    value, so domain/split selection is partition PRUNING at read
    time, not a filter scan), deterministic within-file order
    (``sortWithinPartitions`` keeps shard contents reproducible run to
    run), and bounded file sizes (``maxRecordsPerFile`` splits hot
    partitions into uniform shards instead of one giant file per
    task). Everything is distributed ``df.write`` — no driver
    collect, no repartition-to-1 antipattern.
    """
    w = df
    if order_by:
        cols = [order_by] if isinstance(order_by, str) else list(order_by)
        w = w.sortWithinPartitions(*cols)
    writer = w.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if fmt == "parquet":
        writer.parquet(out_dir)
    elif fmt in ("jsonl", "json"):
        writer.json(out_dir)
    else:
        raise ValueError(f"unsupported shard format {fmt!r}")

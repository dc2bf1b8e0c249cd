"""Structured Streaming path over the events table (extension — the
reference has no streaming at all; SURVEY.md §2.4/§7).

Event-time processing with watermarks over the fixture schema
``(event_id, ts, user_id, event_type, value, props)``:

- tumbling / sliding windows via ``F.window``
- session windows via ``F.session_window``
- custom stateful aggregation via ``applyInPandasWithState``

The batch equivalents (plans/tpch.events_hourly) share the same
aggregation expressions, so results are comparable batch-vs-stream —
the standard way to validate a streaming pipeline.

Scale posture: state size is bounded by the watermark (late data
beyond it is dropped and its state evicted); keys partition the state
store, so stateful ops scale horizontally with shuffle partitions.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source event stream: each parquet file in ``path`` becomes
    (part of) a micro-batch. The file source requires an explicit
    schema; swap for Kafka by replacing this reader only."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window per event type with late-data
    tolerance = watermark. Same aggregate as the batch events_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding window: each event lands in window/slide overlapping
    windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. State for a session is evicted once the watermark
    passes its close."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("total", DoubleType()),
])
_RUNNING_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])


def _update_running(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Custom stateful op: per-user running (count, sum) across
    micro-batches — the applyInPandasWithState kernel."""
    (user_id,) = key
    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, round(total, 6)))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 6)]}
    )


def stateful_user_running_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful streaming aggregation via
    ``applyInPandasWithState``: per-user running totals, emitted every
    micro-batch (update mode). State partitions by user_id across the
    cluster; Arrow moves batches to Python."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_running,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "update"
):
    """Run a streaming frame into an in-memory table (testing/debug
    sink). Returns the StreamingQuery; caller awaits/stops it."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_partials(
    events: DataFrame, out_path: str, checkpoint: str
):
    """foreachBatch sink: write per-micro-batch PARTIAL aggregates
    (tagged with batch_id) in append mode — the idempotent streaming
    sink pattern for engines without transactional merge. Partials are
    re-aggregable (count/decimal-sum are associative), so readers get
    exact totals via ``combine_partials`` and replays just overwrite
    the same batch_id's contribution deterministically.

    State never accumulates on the driver; each batch is one bounded
    Spark job."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        events.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def combine_partials(spark: SparkSession, path: str) -> DataFrame:
    """Fold the per-batch partials back to exact totals."""
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").cast("double").alias("total_value"),
        )
    )


def stream_static_enrich(
    events: DataFrame, users: DataFrame, user_key: str = "user_id"
) -> DataFrame:
    """Stream-static join: enrich each streaming event with a static
    dimension table. Spark re-plans the static side per micro-batch
    (so a refreshed dim snapshot is picked up) and broadcasts it when
    small — the streaming-ETL enrichment pattern; no state is kept
    because the static side is always wholly available."""
    return events.join(F.broadcast(users), user_key, "left")


def streaming_dedup(
    events: DataFrame, key: str = "event_id", watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once event dedup on the KEY ALONE with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key among
    events whose timestamps fall within the watermark delay of each
    other, so a replayed event with the same ``event_id`` but a
    jittered timestamp IS deduplicated (plain
    ``dropDuplicates([key, ts])`` would let it through), and the
    state store still evicts keys past the late-data horizon —
    WITHOUT a watermark, streaming dedup state grows forever. This is
    the streaming half of the dedup story (dedup.py is the batch
    half): at-least-once sources (Kafka replays, file re-lists)
    become effectively-once downstream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    click events by the same user in the ``within`` interval BEFORE
    the purchase (click_ts in (purchase_ts - within, purchase_ts]).

    Both sides carry a watermark and the join condition bounds the
    event-time distance, so Spark can size and EVICT the buffered
    state on both sides — the two requirements for a stream-stream
    join to run with bounded memory (an unconstrained stream-stream
    join must buffer one side forever). Inner join: late/unmatched
    rows age out of state and emit nothing.

    State scale: each side buffers ~(rate × (watermark + within)) rows
    partitioned by ``user_id`` across the state store — horizontal,
    like any keyed state.

    Output: ``(user_id, purchase_id, purchase_ts, click_id, click_ts)``
    one row per qualifying (purchase, click) pair.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"""
            user_id = c_user
            AND click_ts <= purchase_ts
            AND click_ts > purchase_ts - INTERVAL {within}
            """
        ),
        "inner",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")


# ---------------------------------------------------------------------------
# streaming corpus ingestion (documents -> quality gate -> shards)
# ---------------------------------------------------------------------------

DOCS_STREAM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("source", StringType()),
    StructField("n_chars", LongType()),
])


def read_document_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Continuous corpus ingestion: watch a directory of document
    parquet drops (the standard landing-zone pattern — each upstream
    dump is a new file, the stream discovers and processes it
    exactly once via checkpointed file tracking). ``maxFilesPerTrigger``
    bounds micro-batch size so ingest throughput is flow-controlled,
    not burst-driven."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def streaming_corpus_ingest(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] = ("en", "und"),
):
    """Streaming corpus curation: per micro-batch, run the BATCH
    quality gate (`quality_filter_decisions` — identical rules, so
    stream and backfill outputs are comparable by construction) and
    write survivors to hive-partitioned training shards. foreachBatch
    is the right seam: the gate is a multi-pass aggregation (gram
    explode + doc-keyed join) that plain streaming operators can't
    express, while per-batch it is just a bounded Spark job.

    Exactly-once shard contents WITHOUT a transactional table format:
    the output is partitioned by ``batch_id`` and written with
    ``mode("overwrite")`` under DYNAMIC partitionOverwriteMode, so a
    micro-batch replayed after a mid-write failure (checkpoint not yet
    committed) REWRITES its own ``batch_id=N`` partitions instead of
    appending duplicates — the overwrite only touches partitions
    present in the replayed data (r4 fix; a plain append here was
    at-least-once)."""
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        ingest_corpus_batch(
            batch_df, batch_id, out_path,
            min_tokens=min_tokens, allowed_langs=allowed_langs,
        )

    return (
        docs_stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] = ("en", "und"),
) -> None:
    """One micro-batch of :func:`streaming_corpus_ingest`, exposed so
    the replay-idempotency property is directly testable: writing the
    SAME (batch_df, batch_id) twice leaves identical shard contents,
    because the dynamic partition overwrite rewrites exactly the
    ``batch_id=N`` partitions the batch produces."""
    from bht_etl_app_spark.operators.corpus import quality_filter_decisions

    keep = quality_filter_decisions(
        batch_df, min_tokens=min_tokens, allowed_langs=allowed_langs
    ).where(F.col("keep"))
    survivors = batch_df.join(keep.select("doc_id"), "doc_id", "left_semi")
    (
        survivors.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "source")
        .parquet(out_path)
    )


def streaming_dedup_ingest(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    n: int = 3,
    band_index_table: str | None = None,
):
    """Continuously ingest documents while near-dup-deduplicating
    against everything kept so far — the streaming composition of
    :func:`~bht_etl_app_spark.operators.dedup.near_dup_incremental`:
    each micro-batch probes the accumulated store (banded MinHash
    equi-joins + exact-Jaccard verify), drops every doc with a
    verified hit (against history, or against a smaller-id batch
    sibling — so each in-batch group keeps its min-id
    representative), and lands the survivors.

    Exactly-once like :func:`streaming_corpus_ingest`: survivors are
    partitioned by ``batch_id`` and written with dynamic partition
    overwrite, so a replayed batch rewrites its own partition. The
    ``band_index_table`` (recommended at scale): maintain a PERSISTED
    band index (:func:`~bht_etl_app_spark.io.layout.write_band_index`
    — a catalog table bucketed on ``(band, bh)``) instead of
    re-banding the whole accumulated store every batch: each
    micro-batch probes the stored index (store side of the candidate
    join is Exchange-free), then appends its own survivors' band
    rows. Without it, history is re-banded from the shard output —
    correct, but O(store) hash work per batch.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(
            batch_df, batch_id, out_path,
            threshold=threshold, n=n, band_index_table=band_index_table,
        )

    return (
        docs_stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    threshold: float = 0.5,
    n: int = 3,
    band_index_table: str | None = None,
    index_buckets: int = 8,
) -> None:
    """One micro-batch of :func:`streaming_dedup_ingest`, exposed for
    replay-idempotency testing (same contract as
    :func:`ingest_corpus_batch`).

    With ``band_index_table``: the probe side is the stored band
    index FILTERED to ``batch_id != this batch`` (the index-side twin
    of the docs-side replay exclusion below — a replayed batch must
    probe the store as it was before the failed attempt, and the
    failed attempt may have appended this batch's band rows already);
    after landing survivors, their band rows are appended with this
    ``batch_id``. Replay therefore appends duplicate index rows for
    the replayed batch — harmless for RESULTS (candidates are
    distinct-ed, and the probe filter excludes own-batch rows) and
    reclaimed by
    :func:`~bht_etl_app_spark.io.layout.compact_band_index`.
    """
    from bht_etl_app_spark.operators.dedup import minhash_bands, near_dup_incremental

    spark = batch_df.sparkSession
    cols = [c for c in batch_df.columns]
    # Probe the store through the Hadoop FileSystem API, not
    # os.path.exists — the store may be any supported URI (hdfs://,
    # s3a://); a local-only probe would silently read an existing
    # remote store as empty and land duplicates (r4 ADVICE).
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(out_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        # exclude this batch's own partition: a replay must probe the
        # store as it was BEFORE the failed attempt, not against the
        # partial rows that attempt may have landed
        history = spark.read.parquet(out_path).where(
            F.col("batch_id") != batch_id
        ).select(*cols)
    else:
        history = spark.createDataFrame([], batch_df.schema)
    history_bands = None
    if band_index_table is not None and spark.catalog.tableExists(band_index_table):
        history_bands = (
            spark.table(band_index_table)
            .where(F.col("batch_id") != batch_id)
            .select("id", "band", "bh")
        )
    hits = near_dup_incremental(
        batch_df, history, threshold=threshold, n=n, history_bands=history_bands
    )
    drop = hits.select("doc_id").distinct()
    kept = batch_df.join(drop, "doc_id", "left_anti")
    (
        kept.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_path)
    )
    if band_index_table is not None:
        from bht_etl_app_spark.io.layout import append_band_index, write_band_index

        kept_bands = minhash_bands(kept, n=n).withColumn(
            "batch_id", F.lit(batch_id)
        )
        if spark.catalog.tableExists(band_index_table):
            append_band_index(kept_bands, band_index_table, index_buckets)
        else:
            write_band_index(kept_bands, band_index_table, index_buckets)


def streaming_curate_ingest(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    benchmark_df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    decontam_n: int = 5,
    min_tokens: int = 20,
    band_index_table: str | None = None,
    extract_markup: bool = False,
    redact: bool = False,
    redact_classes: tuple[str, ...] | None = None,
):
    """The streaming twin of
    :func:`~bht_etl_app_spark.operators.corpus.curate_corpus`: per
    micro-batch, run the full curation chain — quality gate, exact
    dedup against everything landed so far (and in-batch min-id),
    near-dup probe of the accumulated store, benchmark n-gram
    decontamination — and land only the survivors. The stage order
    and rules are the BATCH operators verbatim, so a streamed corpus
    and a backfill land the same documents given the same arrival
    order.

    Exactly-once by the same construction as the other ingests:
    survivors partition by ``batch_id`` with dynamic overwrite, and
    every history probe excludes the current ``batch_id`` so a replay
    sees the store as it was before the failed attempt. The benchmark
    frame is static (read once, reused per batch — its gram set is
    broadcast inside ``decontaminate``).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        ingest_curate_batch(
            batch_df, batch_id, out_path, benchmark_df,
            threshold=threshold, n=n, decontam_n=decontam_n,
            min_tokens=min_tokens, band_index_table=band_index_table,
            extract_markup=extract_markup, redact=redact,
            redact_classes=redact_classes,
        )

    return (
        docs_stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_curate_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    benchmark_df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    decontam_n: int = 5,
    min_tokens: int = 20,
    band_index_table: str | None = None,
    index_buckets: int = 8,
    extract_markup: bool = False,
    redact: bool = False,
    redact_classes: tuple[str, ...] | None = None,
) -> None:
    """One micro-batch of :func:`streaming_curate_ingest`, exposed for
    replay-idempotency testing (the ingest_corpus_batch contract:
    same (batch_df, batch_id) twice -> identical shard contents).

    ``extract_markup`` / ``redact`` run curate_corpus's optional
    pre-stages (markup extraction first, then redaction) on the
    batch BEFORE anything fingerprints — per-row transforms, so
    they are trivially exactly-once, and the landed text matches the
    batch chain's byte for byte (pinned in test_streaming).
    ``redact_classes`` mirrors curate_corpus's knob exactly (ADVICE
    r10): None keeps the default URL+email set, so a batch chain
    configured with e.g. PII_REDACT_CLASSES has a byte-matching
    streaming configuration."""
    from bht_etl_app_spark.operators.corpus import (
        _pre_stages,
        decontaminate,
        quality_filter_decisions,
    )
    from bht_etl_app_spark.operators.dedup import (
        _norm_text,
        dedup_incremental,
        minhash_bands,
        near_dup_incremental,
    )

    batch_df = _pre_stages(
        batch_df, "text", extract_markup, redact, redact_classes
    )
    spark = batch_df.sparkSession
    cols = list(batch_df.columns)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(out_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        history = spark.read.parquet(out_path).where(
            F.col("batch_id") != batch_id
        ).select(*cols)
    else:
        history = spark.createDataFrame([], batch_df.schema)

    # 1. quality (batch-local: the rules are per-document)
    qdec = quality_filter_decisions(batch_df, min_tokens=min_tokens)
    qs = batch_df.join(
        qdec.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    # 2. exact dedup vs landed history + in-batch min-id
    hist_fps = history.select(_norm_text("text").alias("__t__")).select(
        F.md5("__t__").alias("fp")
    )
    ex = dedup_incremental(qs, hist_fps)
    es = qs.join(
        ex.where(F.col("kept")).select("doc_id"), "doc_id", "left_semi"
    )
    # 3. near-dup probe of the accumulated store (banded index or
    #    re-banded shards — the ingest_dedup_batch machinery)
    history_bands = None
    if band_index_table is not None and spark.catalog.tableExists(band_index_table):
        history_bands = (
            spark.table(band_index_table)
            .where(F.col("batch_id") != batch_id)
            .select("id", "band", "bh")
        )
    hits = near_dup_incremental(
        es, history, threshold=threshold, n=n, history_bands=history_bands
    )
    ns = es.join(hits.select("doc_id").distinct(), "doc_id", "left_anti")
    # 4. decontamination against the static benchmark
    dec = decontaminate(ns, benchmark_df, n=decontam_n)
    kept = ns.join(
        dec.where(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    (
        kept.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_path)
    )
    if band_index_table is not None:
        from bht_etl_app_spark.io.layout import append_band_index, write_band_index

        kept_bands = minhash_bands(
            spark.read.parquet(out_path).where(F.col("batch_id") == batch_id),
            n=n,
        ).withColumn("batch_id", F.lit(batch_id))
        if spark.catalog.tableExists(band_index_table):
            append_band_index(kept_bands, band_index_table, index_buckets)
        else:
            write_band_index(kept_bands, band_index_table, index_buckets)

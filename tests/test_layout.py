"""Layout tests: partition pruning, range-sorted files, and the
bucketed shuffle-free join — asserted on actual plans/files, not just
round-trips."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from bht_etl_app_spark.io.layout import (
    read_bucketed,
    write_bucketed,
    write_partitioned,
    write_range_sorted,
)
from bht_etl_app_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _formatted(spark, df):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_partitioned_write_prunes(spark, tmp_path):
    events = load_table(spark, SF, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned(events, out, ["event_type"])

    # hive-style directories exist
    dirs = {os.path.basename(p) for p in glob.glob(out + "/event_type=*")}
    assert "event_type=click" in dirs

    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = _formatted(spark, back)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    exp = events.where(F.col("event_type") == "click").count()
    assert back.count() == exp


def test_range_sorted_write_stats(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    out = str(tmp_path / "orders_sorted")
    write_range_sorted(orders, out, ["o_orderkey"], num_files=4)

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    # global range property: per-file key ranges do not overlap
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["o_orderkey"])["o_orderkey"].to_pylist()
        assert t == sorted(t), "rows not sorted within file"
        ranges.append((t[0], t[-1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file key ranges overlap"

    assert spark.read.parquet(out).count() == orders.count()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    write_bucketed(orders.select("o_orderkey", "o_totalprice"),
                   "t_orders_b", "o_orderkey", 4, sort_cols=["o_orderkey"])
    write_bucketed(lineitem.select("l_orderkey", "l_quantity"),
                   "t_lineitem_b", "l_orderkey", 4, sort_cols=["l_orderkey"])
    try:
        a = read_bucketed(spark, "t_orders_b")
        b = read_bucketed(spark, "t_lineitem_b")
        # disable broadcast so the join would otherwise shuffle
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = a.join(b, F.col("o_orderkey") == F.col("l_orderkey"))
            plan = _formatted(spark, j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join should not shuffle"
            # sanity: same result as the plain join
            plain = orders.join(
                lineitem, F.col("o_orderkey") == F.col("l_orderkey")
            )
            assert j.count() == plain.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    from bht_etl_app_spark.io.layout import compact

    events = load_table(spark, SF, "events")
    shattered = str(tmp_path / "shattered")
    events.repartition(32).write.parquet(shattered)
    assert len(glob.glob(shattered + "/part-*.parquet")) == 32

    compacted = str(tmp_path / "compacted")
    n = compact(spark, shattered, compacted, target_file_mb=128)
    assert n == 1  # tiny dataset -> one file
    assert len(glob.glob(compacted + "/part-*.parquet")) == 1
    assert spark.read.parquet(compacted).count() == events.count()


def test_write_training_shards_layout(spark, tmp_path):
    """The dataloader layout: hive partitions per source, bounded file
    sizes, deterministic within-file order, and partition PRUNING on
    read-back (the scan must touch only the selected source dir)."""
    import os

    from bht_etl_app_spark.io import write_training_shards
    from bht_etl_app_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "shards")
    write_training_shards(
        docs, out, partition_by="source", order_by="doc_id",
        max_records_per_file=10,
    )
    # hive dirs exist, one per source value
    sources = {r["source"] for r in docs.select("source").distinct().collect()}
    dirs = {d for d in os.listdir(out) if d.startswith("source=")}
    assert dirs == {f"source={s}" for s in sources}
    # bounded shard sizes: no file holds more than max_records_per_file
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    from pyspark.sql import functions as F
    per_file = back.groupBy(F.input_file_name()).count().collect()
    assert max(r["count"] for r in per_file) <= 10
    # partition pruning: a source filter must prune the scan's
    # partition list, not read everything and filter
    one = sorted(sources)[0]
    plan = (
        back.where(F.col("source") == one)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(source" in plan


def test_read_binary_files_media_shape(spark, tmp_path):
    """binaryFile source projects onto the MEDIA_SCHEMA shape and
    feeds the multimodal operators directly; pathGlobFilter prunes
    non-matching files."""
    from bht_etl_app_spark.io import read_binary_files
    from bht_etl_app_spark.operators.multimodal import audio_features

    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x01\x02\x03\x04")
    (d / "b.bin").write_bytes(b"\x05\x06")
    (d / "ignore.txt").write_bytes(b"nope")
    media = read_binary_files(spark, str(d), glob="*.bin", kind="audio")
    rows = media.collect()
    assert len(rows) == 2
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "content", "mime", "meta",
    ]
    sizes = sorted(len(bytes(r["content"])) for r in rows)
    assert sizes == [2, 4]
    # flows into a multimodal operator without adaptation
    feats = audio_features(media)
    assert feats.count() == 2


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Streaming-ingest aftermath: many tiny files compact down to the
    target count with identical contents."""
    from bht_etl_app_spark.io.layout import compact, shard_manifest
    from bht_etl_app_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "tiny")
    docs.repartition(24).write.parquet(src)  # 24 tiny files

    import glob
    assert len(glob.glob(f"{src}/*.parquet")) == 24
    out = str(tmp_path / "compacted")
    n = compact(spark, src, out, target_file_mb=256)
    assert n == 1  # fixture is far below 256 MB
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    a = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert a == b

    mani = shard_manifest(spark, out).collect()
    assert len(mani) == 1
    assert mani[0]["n_rows"] == docs.count()
    assert mani[0]["n_bytes"] > 0


def test_shard_manifest_partitioned_dataset(spark, tmp_path):
    """Hive-partitioned writes reuse part-file basenames across
    partition dirs; the manifest must key by relative path so counts
    do not fan out (the r3 basename-join bug)."""
    from bht_etl_app_spark.io import write_training_shards
    from bht_etl_app_spark.io.layout import shard_manifest
    from bht_etl_app_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "shards")
    write_training_shards(
        docs, out, partition_by="source", order_by="doc_id",
        max_records_per_file=25,
    )
    n_files = len(glob.glob(out + "/source=*/part-*.parquet"))
    assert n_files > 1
    mani = shard_manifest(spark, out).collect()
    # one manifest row per physical file, no join fan-out
    assert len(mani) == n_files
    assert len({r["file"] for r in mani}) == n_files
    assert sum(r["n_rows"] for r in mani) == docs.count()
    assert all(r["n_bytes"] is not None and r["n_bytes"] > 0 for r in mani)


def test_compact_partitioned_splits_hot_partition(spark, tmp_path):
    """A hot partition value must not collapse into one oversized
    file: the salt + maxRecordsPerFile path keeps per-file sizes near
    the target even when one key holds most rows."""
    from bht_etl_app_spark.io.layout import compact

    # skewed dataset: 'hot' holds ~99% of rows; payload is hash text
    # so snappy can't compress it away under the file-size target
    df = spark.range(0, 40500).selectExpr(
        "id",
        "case when id < 40000 then 'hot' else concat('cold_', id % 5) end as k",
        "concat(sha2(cast(id as string), 256), sha2(cast(id + 1 as string), 256),"
        " sha2(cast(id + 2 as string), 256)) as payload",
    )
    src = str(tmp_path / "src")
    df.write.partitionBy("k").parquet(src)

    out = str(tmp_path / "out")
    # ~192 hex chars/row * 40k rows ≈ several MB in 'hot'; 1 MB target
    compact(spark, src, out, target_file_mb=1, partition_cols=["k"])
    hot_files = glob.glob(out + "/k=hot/part-*.parquet")
    assert len(hot_files) >= 2, "hot partition stayed a single file"
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in back.select(*df.columns).collect())
    assert a == b


def test_band_index_probe_has_no_store_side_exchange(spark, tmp_path):
    """The persisted band index (r4 VERDICT item #5): probing the
    stored (band, bh)-bucketed table must shuffle ONLY the new
    batch's band rows — zero Exchange above the store scan — and the
    probe result must equal the recompute-history path exactly."""
    from bht_etl_app_spark.io.layout import read_band_index, write_band_index
    from bht_etl_app_spark.operators.dedup import (
        minhash_bands,
        near_dup_incremental,
    )

    docs = load_table(spark, SF, "documents")
    hist = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    write_band_index(
        minhash_bands(hist), "t_band_idx", num_buckets=8,
        path=str(tmp_path / "idx"),
    )
    try:
        idx = read_band_index(spark, "t_band_idx")
        nb = minhash_bands(new)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = nb.alias("x").join(idx.alias("y"), ["band", "bh"])
            plan = _formatted(spark, j)
            assert "SortMergeJoin" in plan
            # exactly one hash Exchange on the join key: the probe
            # (new-batch) side; the store side reads its buckets
            # directly (formatted mode puts the partitioning in an
            # Arguments: line, not on the Exchange node itself)
            import re as _re

            key_exchanges = _re.findall(
                r"Arguments: hashpartitioning\(band", plan
            )
            assert len(key_exchanges) == 1, plan
            assert "Bucketed: true" in plan, "store scan not bucketed"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        # end-to-end parity: stored-index probe == recomputed-history probe
        via_store = {
            (r["doc_id"], r["matched_id"], r["side"], r["jaccard"])
            for r in near_dup_incremental(
                new, hist, threshold=0.5, history_bands=idx
            ).collect()
        }
        recomputed = {
            (r["doc_id"], r["matched_id"], r["side"], r["jaccard"])
            for r in near_dup_incremental(new, hist, threshold=0.5).collect()
        }
        assert via_store == recomputed and len(via_store) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_band_idx")


def test_band_index_append_and_compact(spark, tmp_path):
    """Appends accumulate one file per populated bucket per batch;
    compaction collapses them and drops duplicate rows without
    changing the distinct row set."""
    from bht_etl_app_spark.io.layout import (
        append_band_index,
        compact_band_index,
        read_band_index,
        write_band_index,
    )
    from bht_etl_app_spark.operators.dedup import minhash_bands

    docs = load_table(spark, SF, "documents").limit(120)
    bands = minhash_bands(docs)
    loc = str(tmp_path / "idx2")
    write_band_index(bands, "t_band_idx2", num_buckets=4, path=loc)
    try:
        n1 = read_band_index(spark, "t_band_idx2").count()
        append_band_index(bands, "t_band_idx2", num_buckets=4)  # replay dupes
        assert read_band_index(spark, "t_band_idx2").count() == 2 * n1
        files_before = len(glob.glob(os.path.join(loc, "*.parquet")))
        n = compact_band_index(
            spark, "t_band_idx2", num_buckets=4, path=str(tmp_path / "idx2c")
        )
        assert n == n1  # dupes dropped
        assert read_band_index(spark, "t_band_idx2").count() == n1
        files_after = len(
            glob.glob(os.path.join(str(tmp_path / "idx2c"), "*.parquet"))
        )
        assert files_after < files_before
    finally:
        spark.sql("DROP TABLE IF EXISTS t_band_idx2")


def test_pq_index_probe_prunes_partitions(spark, tmp_path):
    """The persisted PQ index (r5): codes written hive-partitioned by
    list_id; an nprobe probe must plan with a PartitionFilters entry
    on list_id — only the probed lists' directories are read, before
    any file opens. Results must equal the live-frame composite."""
    from bht_etl_app_spark.io.layout import read_pq_index, write_pq_index
    from bht_etl_app_spark.operators.clustering import kmeans_fit
    from bht_etl_app_spark.operators.pq import (
        ann_ivf_pq_topk,
        ann_pq_index_topk,
        pq_index_rows,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    books = pq_train(emb, m=2, k=8, max_iter=2)
    cents = kmeans_fit(emb, k=4, max_iter=2)
    path = str(tmp_path / "pqidx")
    write_pq_index(pq_index_rows(emb, cents, books), path)

    probe = ann_pq_index_topk(
        read_pq_index(spark, path), qv, cents, books, k=10, nprobe=2
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "list_id" in pf_line, f"probe not partition-pruned: {pf_line}"

    live = ann_ivf_pq_topk(emb, qv, cents, books, k=10, nprobe=2)
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in live.collect()
    ]



def test_zorder_write_narrows_stats_on_both_dimensions(spark, tmp_path):
    """The point of Z-order: after clustering on (custkey, totalprice),
    EVERY file covers a narrow slice of BOTH columns' ranges, so
    parquet stats prune two-dimensional range queries; a single-column
    sort on custkey leaves totalprice ~uniform per file (span ratio
    near 1)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from bht_etl_app_spark.io.layout import write_range_sorted, write_zordered

    orders = load_table(spark, SF, "orders").select("o_custkey", "o_totalprice")
    rows = orders.collect()
    spans = {}
    for col in ("o_custkey", "o_totalprice"):
        vals = [r[col] for r in rows]
        spans[col] = (min(vals), max(vals))

    def avg_span_ratio(path, col):
        lo_g, hi_g = spans[col]
        ratios = []
        for f in sorted(_glob.glob(path + "/part-*.parquet")):
            vals = _pq.read_table(f, columns=[col])[col].to_pylist()
            ratios.append((max(vals) - min(vals)) / (hi_g - lo_g))
        return sum(ratios) / len(ratios)

    z = str(tmp_path / "z")
    s = str(tmp_path / "s")
    write_zordered(orders, z, ["o_custkey", "o_totalprice"], num_files=8)
    write_range_sorted(orders, s, ["o_custkey"], num_files=8)

    assert spark.read.parquet(z).count() == len(rows)
    # single-column sort: custkey files are razor thin, totalprice ~full
    assert avg_span_ratio(s, "o_custkey") < 0.3
    assert avg_span_ratio(s, "o_totalprice") > 0.8
    # z-order: BOTH dimensions materially narrower than the sort's
    # neglected dimension
    zc = avg_span_ratio(z, "o_custkey")
    zp = avg_span_ratio(z, "o_totalprice")
    assert zc < 0.75 and zp < 0.75, (zc, zp)


def test_zorder_key_validation_and_degenerate_span(spark):
    import pytest as _pytest

    from bht_etl_app_spark.io.layout import zorder_key

    with _pytest.raises(ValueError):
        zorder_key([], [], [])
    with _pytest.raises(ValueError):
        zorder_key(list("abcdef"), [0] * 6, [1] * 6, bits=16)  # 96 bits
    # constant column (zero span) contributes zero bits, not a crash
    df = spark.createDataFrame([(1, 5), (2, 5)], "a int, b int")
    out = df.withColumn(
        "z", zorder_key(["a", "b"], [1, 5], [2, 5], bits=4)
    ).collect()
    assert [r["z"] for r in out] == sorted(r["z"] for r in out)


def test_pq_index_incremental_append_equals_single_build(spark, tmp_path):
    """Index maintenance (r5): appending a second batch encoded with
    the STORED model (no retrain — faiss `add` semantics) must yield
    a probe bit-identical to building the index from the full corpus
    at once; a duplicate replayed append is healed by compaction
    (for the PQ index dedup is probe-correctness, not just cost)."""
    from bht_etl_app_spark.io.layout import (
        compact_pq_index,
        read_pq_index,
        write_pq_index,
    )
    from bht_etl_app_spark.operators.clustering import kmeans_fit
    from bht_etl_app_spark.operators.pq import (
        ann_pq_index_topk,
        pq_index_rows,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    # model fitted on the FIRST batch only — the append must reuse it
    first = emb.where("vec_id % 2 = 0")
    second = emb.where("vec_id % 2 = 1")
    books = pq_train(first, m=2, k=8, max_iter=2)
    cents = kmeans_fit(first, k=4, max_iter=2)

    full_path = str(tmp_path / "full")
    incr_path = str(tmp_path / "incr")
    write_pq_index(pq_index_rows(emb, cents, books), full_path)
    write_pq_index(pq_index_rows(first, cents, books), incr_path)
    write_pq_index(pq_index_rows(second, cents, books), incr_path, mode="append")

    def probe(path):
        return [
            tuple(r)
            for r in ann_pq_index_topk(
                read_pq_index(spark, path), qv, cents, books, k=10, nprobe=2
            ).collect()
        ]

    assert probe(incr_path) == probe(full_path)

    # replayed append -> duplicate rows; compaction restores the set
    write_pq_index(pq_index_rows(second, cents, books), incr_path, mode="append")
    n = compact_pq_index(spark, incr_path)
    assert n == emb.count()
    assert probe(incr_path) == probe(full_path)


def test_compact_pq_index_leaves_no_stale_temp(spark, tmp_path):
    """Crash-safe compaction (review finding): the compacted copy is
    committed to a temp sibling BEFORE the live dir is touched; after
    success neither staging directory survives."""
    import os

    from bht_etl_app_spark.io.layout import (
        compact_pq_index,
        read_pq_index,
        write_pq_index,
    )
    from bht_etl_app_spark.operators.clustering import kmeans_fit
    from bht_etl_app_spark.operators.pq import pq_index_rows, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb, m=2, k=8, max_iter=2)
    cents = kmeans_fit(emb, k=4, max_iter=2)
    path = str(tmp_path / "pqidx")
    rows = pq_index_rows(emb, cents, books)
    write_pq_index(rows, path)
    write_pq_index(rows, path, mode="append")  # duplicate append
    n = compact_pq_index(spark, path)
    assert n == emb.count()
    assert read_pq_index(spark, path).count() == n
    assert not os.path.exists(path + ".compact-tmp")
    assert not os.path.exists(path + ".compact-old")

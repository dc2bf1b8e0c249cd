"""Composed north-star pipeline at scale (VERDICT r5 item #6): run
the WHOLE training-data chain — batch curation verdicts, streamed
curation ingest with the persisted band index, survivor landing, PQ
index build, and an ANN probe against the persisted index — at 1x
(sf0.1) and 30x (/tmp/scale30, tools/make_scale_fixture.py) and
record per-stage walls. The per-operator scale evidence already
exists (scale_octave.py, PERFORMANCE.md); this closes the "would the
composed chain survive" question: stage boundaries are id-keyed
semi/anti joins and parquet landings, so no stage should inherit a
superlinear term from composition.

Production knobs: hash_fn="xxhash64" (the fast MinHash family — the
md5 family exists for oracle replay, measured ~1.4x slower in r4);
near-dup history probes ride the (band,bh)-bucketed persisted index.

Fixture caveat (PERFORMANCE.md "Method and fixture caveats"): the synthetic corpus
has a ~31-word vocabulary, so permuted replicas are adversarially
DENSE in shared shingles; near-dup stage output is governed by the
original dup rate by construction (replicas are permuted, not
near-dups).

Usage: python tools/pipeline_scale.py [small_dir] [big_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def run_chain(spark, sf_dir: str, tag: str) -> dict[str, float]:
    from bht_etl_app_spark.functions.lifecycle import sweep_checkpoints
    from bht_etl_app_spark.io.layout import (
        read_pq_index,
        write_pq_index,
    )
    from bht_etl_app_spark.operators.clustering import kmeans_fit
    from bht_etl_app_spark.operators.corpus import curate_corpus
    from bht_etl_app_spark.operators.pq import (
        ann_pq_index_topk,
        pq_index_rows,
        pq_train,
    )
    from bht_etl_app_spark.streaming.events import ingest_curate_batch

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    train = docs.where(F.col("source") != "src0")
    bench = docs.where(F.col("source") == "src0")
    walls: dict[str, float] = {}

    # stage 1: batch curation verdicts (quality -> exact -> near-dup
    # -> decontaminate), production hash family
    t0 = time.perf_counter()
    verdicts = curate_corpus(train, bench, hash_fn="xxhash64")
    counts = dict(
        (r["verdict"], r["n"])
        for r in verdicts.groupBy("verdict").agg(F.count("*").alias("n")).collect()
    )
    walls["curate_verdicts"] = time.perf_counter() - t0
    spark.catalog.clearCache()
    sweep_checkpoints(spark.sparkContext)

    # stage 2: streamed ingest of the same corpus in 3 arrival waves,
    # each probing the landed store + persisted band index
    store = tempfile.mkdtemp(prefix=f"bht-pipe-store-{tag}-")
    shutil.rmtree(store)
    tbl = f"pipe_band_idx_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    idx_path = tempfile.mkdtemp(prefix=f"bht-pipe-pq-{tag}-")
    try:
        t0 = time.perf_counter()
        for b in range(3):
            batch = train.where(F.col("doc_id") % 3 == b)
            ingest_curate_batch(
                batch, b, store, bench, band_index_table=tbl, index_buckets=16,
            )
        landed = spark.read.parquet(store).count()
        walls["stream_ingest_3_batches"] = time.perf_counter() - t0
        spark.catalog.clearCache()
        sweep_checkpoints(spark.sparkContext)

        # stage 3: PQ index build over the embeddings (codebooks +
        # coarse centroids + encoded rows, landed hive-partitioned)
        t0 = time.perf_counter()
        books = pq_train(emb, m=2, k=16, max_iter=2)
        cents = kmeans_fit(emb, k=8, max_iter=2)
        write_pq_index(pq_index_rows(emb, cents, books), idx_path)
        walls["pq_index_build"] = time.perf_counter() - t0

        # stage 4: ANN probe against the PERSISTED index
        # (partition-pruned)
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
        ]
        t0 = time.perf_counter()
        top = ann_pq_index_topk(
            read_pq_index(spark, idx_path), qv, cents, books, k=10, nprobe=2
        ).collect()
        walls["pq_probe_topk"] = time.perf_counter() - t0
        spark.catalog.clearCache()
        sweep_checkpoints(spark.sparkContext)

        print(
            f"[{tag}] verdicts={counts} landed={landed} topk={len(top)} "
            + " ".join(f"{k}={v:.1f}s" for k, v in walls.items())
        )
    finally:
        # a mid-stage failure must not leak the hive table or the
        # multi-GB store/index dirs in /tmp across attempts; rmtree
        # first and guard the DROP — a dead session raising here
        # would mask the original exception AND skip the dir cleanup
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(idx_path, ignore_errors=True)
        try:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        except Exception as e:  # never mask the original error, but
            print(f"WARNING: could not drop {tbl}: {e}")  # never hide the leak
    return walls


def main() -> int:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale30"

    from bht_etl_app_spark import get_spark

    spark = get_spark("pipeline-scale")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup (session spin-up / first codegen must not land on stage 1)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(small, "documents.parquet")).limit(100).count()

    w_small = run_chain(spark, small, "small")
    w_big = run_chain(spark, big, "big30")
    print("\nstage                      1x_wall  30x_wall  ratio")
    for k in w_small:
        r = w_big[k] / w_small[k] if w_small[k] else float("inf")
        print(f"{k:26s} {w_small[k]:7.1f}s {w_big[k]:8.1f}s {r:6.1f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())

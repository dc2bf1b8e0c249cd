"""Corpus-curation operators for LLM training-data pipelines:
benchmark decontamination, fixed-window document chunking, vocabulary
coverage, and domain mixture reweighting.

These cover the curation steps between raw-text quality filtering
(``operators/text.py``) and dedup (``operators/dedup.py``) in a
standard pretraining pipeline (GPT-3 appx. C / Llama-style n-gram
decontamination; temperature-based domain mixing as in multilingual
training recipes).

Scale posture:

- ``decontaminate``: the eval/benchmark side is small BY NATURE
  (benchmarks are thousands of docs, the train side is the 100 TB
  corpus), so its distinct n-gram set is broadcast and the train-side
  gram stream is filtered map-side by a broadcast LEFT SEMI join —
  no shuffle of train grams, only the (small) hit-id set aggregates.
- ``chunk_documents``: pure per-row explode projection, no shuffle;
  output rows ≈ n_tokens / stride per doc.
- ``vocab_coverage``: one token-count aggregation (map-side partial)
  whose result is VOCABULARY-sized, then two-phase distributed
  ranking (range-partitioned buckets + broadcast prefix-sum offsets)
  for rank/cum_pct — no single-partition window anywhere: web-scale
  vocabularies are unbounded (r4 VERDICT finding #1).
- ``domain_mixture_weights``: one domain-level aggregation; the
  normalizing constant rides a broadcast 1-row cross join (never an
  empty-partition window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bht_etl_app_spark.operators.text import (
    DEFAULT_REDACT_CLASSES,
    LANG_PRIORITY,
    extract_text_expr,
    lang_count_exprs,
    lang_scores_exprs,
    ngrams_expr,
    redact_expr,
    repetition_signals,
    tokens_expr,
)
from bht_etl_app_spark.session import ensure_min_parallelism


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents that share any word ``n``-gram with the
    evaluation/benchmark corpus (the GPT-3 / Llama decontamination
    rule: a train doc containing a verbatim benchmark n-gram leaks the
    benchmark). Output: ``(doc_id, contaminated)`` for EVERY train doc.

    Plan shape for a 100 TB train side: the benchmark n-gram set is
    distinct-aggregated (small) and broadcast; train docs explode
    their distinct n-grams and drop non-matching grams in the map-side
    broadcast semi-join, so nothing corpus-sized ever shuffles — the
    only exchanges are the contaminated-id distinct (bounded by the
    hit count) and the id-equi-join flagging the full doc list.
    """
    ev_grams = (
        ensure_min_parallelism(eval_df)
        .select(tokens_expr(text_col).alias("__toks__"))
        .select(F.explode(F.array_distinct(ngrams_expr("__toks__", n))).alias("__g__"))
        .distinct()
    )
    tr = ensure_min_parallelism(train).select(
        F.col(id_col), tokens_expr(text_col).alias("__toks__")
    )
    hits = (
        tr.select(F.col(id_col), F.explode(F.array_distinct(ngrams_expr("__toks__", n))).alias("__g__"))
        .join(F.broadcast(ev_grams), "__g__", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__hit__", F.lit(True))
    )
    return tr.join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__hit__"), F.lit(False)).alias("contaminated"),
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB twin of
    :func:`decontaminate` for benchmark sets too large to broadcast as
    raw n-gram strings. Same output contract: ``(doc_id,
    contaminated)`` for every train doc, with NO false negatives (a
    Bloom filter never misses a member); false positives over-flag at
    the standard ``(1-e^{-kn/m})^k`` rate, which only ever errs toward
    caution for contamination.

    Scale shape (the whole point):

    1. filter build is benchmark-sized: eval n-grams hash to ``k``
       bit positions (the portable md5+rotate-xor family shared with
       MinHash, masked to the power-of-two ``m_bits`` — so the DuckDB
       oracle reproduces the EXACT bitmap, false positives included);
       the DISTINCT position set (bounded by k × benchmark grams) is
       the only collect, and the driver assembles the bitmap —
       model-parameter-sized, like k-means centroids;
    2. the bitmap rides to executors as a 1-row broadcast DATA array
       (``crossJoin(broadcast(...))``) — deliberately NOT a SQL
       literal, which would be a million-term codegen bomb (see
       PERFORMANCE.md "unrolling vector kernels"). An
       ``array<boolean>`` costs 1 byte/bit in the block store; at
       ``m >= 2^26`` swap it for packed longs + bit tests (8×
       smaller broadcast, same plan shape);
    3. the train pass is a pure per-row projection: ``exists`` over
       each doc's distinct n-grams, ``aggregate`` over the k probe
       positions — ZERO shuffle of anything corpus-sized, unlike the
       exact path's hit-distinct + flag join. One scan at scan speed.
    """
    if m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two")
    from bht_etl_app_spark.operators.dedup import md5_long_expr, minhash_mix_params

    def _mix(h, i):
        rot, c = minhash_mix_params(i)
        return (
            F.shiftrightunsigned(h, rot)
            .bitwiseOR(F.shiftleft(h, 64 - rot))
            .bitwiseXOR(F.lit(c))
            .bitwiseAND(F.lit(m_bits - 1))
        )

    ev_grams = (
        ensure_min_parallelism(eval_df)
        .select(tokens_expr(text_col).alias("__toks__"))
        .select(F.explode(F.array_distinct(ngrams_expr("__toks__", n))).alias("__g__"))
        .distinct()
    )
    pos_rows = (
        ev_grams.select(md5_long_expr(F.col("__g__")).alias("__h__"))
        .select(
            F.explode(
                F.array(*[_mix(F.col("__h__"), i) for i in range(k_hashes)])
            ).alias("__p__")
        )
        .distinct()
        .collect()
    )
    # packed-long bitmap: m/64 words instead of m booleans — 8x less
    # broadcast payload and ~60x less driver->JVM serialization than
    # the boolean-array form (measured: the 1M-element python list was
    # the dominant fixed cost of the whole operator)
    words = [0] * (m_bits >> 6)
    for r in pos_rows:
        pp = int(r["__p__"])
        words[pp >> 6] |= 1 << (pp & 63)
    words = [w - (1 << 64) if w >= 1 << 63 else w for w in words]
    spark = train.sparkSession
    bloom = spark.createDataFrame([(words,)], "__bloom__ array<long>")

    tr = (
        ensure_min_parallelism(train)
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks__"))
        # gram construction and per-gram base hash live in ONE
        # projection: a separate alias hop for the gram array lets
        # CollapseProject inline the tokenize into the gram lambdas
        # (the shingles_expr trap — measured ~8x here), while the md5
        # transform over the inline gram expression still hashes each
        # gram exactly once; the k probe mixes below are cheap bit ops
        .select(
            F.col(id_col),
            F.transform(
                F.array_distinct(ngrams_expr("__toks__", n)), md5_long_expr
            ).alias("__ghs__"),
        )
    )

    def _gram_hit(h):
        # k is a static Python int: unroll the probe conjunction into a
        # plain expression tree — a nested aggregate(sequence(...))
        # would add a second interpreted-HOF level per gram (measured
        # ~2.5x slower; interpreted lambdas have no codegen)
        acc = None
        for i in range(k_hashes):
            pos = _mix(h, i)
            word = F.element_at(
                F.col("__bloom__"),
                F.call_function("shiftright", pos, F.lit(6)).cast("int") + 1,
            )
            bit = (
                F.call_function(
                    "shiftright", word, pos.bitwiseAND(F.lit(63)).cast("int")
                ).bitwiseAND(F.lit(1))
                == 1
            )
            acc = bit if acc is None else acc & bit
        return acc

    return (
        tr.crossJoin(F.broadcast(bloom))
        .select(
            F.col(id_col),
            F.exists(F.col("__ghs__"), _gram_hit).alias("contaminated"),
        )
    )


def decontaminate_scrub(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """SPAN-level decontamination — the scrub-not-drop deployment of
    the n-gram gate (r12): :func:`decontaminate` discards a whole
    document for sharing ONE n-gram with a benchmark, which at real
    contamination rates throws away mostly-clean documents wholesale.
    This removes only the contaminated token runs — every maximal
    span covered by a benchmark n-gram — and keeps the rest, the
    ExactSubstr remover pointed at an eval-set hit list instead of a
    corpus-duplication count (:mod:`substr_dedup`'s gram-cover
    equivalence: a token leaks iff some covering ``n``-gram appears
    in the benchmark). Output one row per input row:
    ``(doc_id, scrubbed_text, n_kept, n_removed)`` — clean docs pass
    through re-joined (whitespace normalized), fully-contaminated
    docs scrub to the empty string (the exact_substr_scrub edge
    contract).

    Scale posture — CHEAPER than the substr scrub it mirrors: the
    benchmark fingerprint set is eval-sized and BROADCASTS, so hit
    detection is map-side on one corpus scan (the substr variant
    needs two corpus-scale exchanges for its duplication count);
    the only shuffles are the covered-(id, pos) frame — bounded by
    the HIT count, not the corpus — through the per-document
    gaps-and-islands windows (partitioned by id, never global).
    ``hash_fn`` is the dedup family's portable/production seam
    (md5 replayed by the oracle; xxhash64 for 8-byte wire weight)."""
    from bht_etl_app_spark.operators.substr_dedup import _gram_fp_structs

    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    bfp = (
        ensure_min_parallelism(eval_df)
        .select(tokens_expr(bench_text_col).alias("__toks__"))
        .select(F.explode(_gram_fp_structs("__toks__", n, hash_fn)).alias("g"))
        .select(F.col("g.fp").alias("fp"))
        .distinct()
    )
    grams = (
        ensure_min_parallelism(train)
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks__"))
        .select(
            F.col(id_col),
            F.explode(_gram_fp_structs("__toks__", n, hash_fn)).alias("g"),
        )
        .select(id_col, "g.pos", "g.fp")
    )
    d = grams.join(F.broadcast(bfp), "fp", "left_semi").select(id_col, "pos")
    # maximal covered runs: the exact_substr_spans gaps-and-islands
    # merge verbatim (overlapping AND abutting covers merge)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = d.select(
        id_col,
        "pos",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
        ).otherwise(0).alias("__new__"),
    )
    spans = (
        flagged.select(
            id_col, "pos", F.sum("__new__").over(w).alias("__island__")
        )
        .groupBy(id_col, "__island__")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
        )
    )
    # the exact_substr_scrub remover tail: per-row token filter
    # against the doc-level covered spans, array-native
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans__")
    )
    toks = ensure_min_parallelism(train).select(
        F.col(id_col),
        F.coalesce(
            tokens_expr(text_col), F.array().cast("array<string>")
        ).alias("__toks__"),
    )
    indexed = F.transform(
        F.col("__toks__"),
        lambda t, i: F.struct((i + 1).cast("long").alias("pos"), t.alias("t")),
    )
    sp = F.coalesce(
        F.col("__spans__"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"),
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            sp, lambda r: (x["pos"] >= r["s"]) & (x["pos"] <= r["e"])
        ),
    )
    return toks.join(per_doc, id_col, "left").select(
        id_col,
        F.concat_ws(" ", F.transform(kept, lambda x: x["t"])).alias(
            "scrubbed_text"
        ),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("__toks__") - F.size(kept)).cast("long").alias("n_removed"),
    )


def _semantic_scores(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str,
    vec_col: str,
    bench_id_col: str,
    benchmark_col: str,
) -> DataFrame:
    """Shared scoring frame for the semantic-decontamination family:
    every (train vec, benchmark vec) cosine, 6dp half-even rounded.
    The benchmark side BROADCASTS (benchmarks are thousands of
    vectors by nature — the decontaminate/eval-side rule), so the
    plan is a broadcast nested-loop over one corpus scan: scoring is
    map-side, nothing corpus-sized shuffles; norms precompute once
    per row on each side (the knn_join discipline)."""
    from bht_etl_app_spark.operators.similarity import dot_expr, norm_expr

    bd = F.broadcast(
        ensure_min_parallelism(bench_emb).select(
            F.col(bench_id_col).alias("__bid__"),
            F.col(benchmark_col).alias("__bench__"),
            F.col(vec_col).cast("array<double>").alias("__bv__"),
            norm_expr(F.col(vec_col).cast("array<double>")).alias("__bn__"),
        )
    )
    td = ensure_min_parallelism(train_emb).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__tv__"),
        norm_expr(F.col(vec_col).cast("array<double>")).alias("__tn__"),
    )
    cos = dot_expr(F.col("__tv__"), F.col("__bv__")) / F.nullif(
        F.col("__tn__") * F.col("__bn__"), F.lit(0.0)
    )
    return td.crossJoin(bd).select(
        F.col(id_col),
        F.col("__bid__"),
        F.col("__bench__"),
        F.bround(cos, 6).alias("__c__"),
    )


def semantic_decontaminate(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "bench_id",
    benchmark_col: str = "benchmark",
) -> DataFrame:
    """EMBEDDING-level benchmark decontamination (VERDICT r11 #2 —
    the gap :func:`decontaminate` leaves open): lexical n-gram
    matching catches verbatim leakage only; a paraphrased or
    translated benchmark document shares no 5-gram with its source
    but sits next to it in embedding space. This probes every train
    embedding against the benchmark embedding set and flags cosine
    neighbors above ``threshold``. Output one row per train vector:
    ``(vec_id, max_cosine, nearest_bench_id, nearest_benchmark,
    n_bench_hits, contaminated)`` — ``nearest_*`` identify the
    closest benchmark vector (ties to the lowest benchmark id),
    ``n_bench_hits`` counts benchmark vectors above the threshold,
    and rows whose cosines are all undefined (zero-norm) report NULL
    readings and ``contaminated = false``.

    Scale posture: the benchmark side is SMALL BY NATURE (the
    decontaminate rule — thousands of eval docs vs the 100 TB train
    corpus) and broadcasts; scoring is one map-side pass over the
    corpus scan, and the only shuffle is the per-train-id aggregate
    on ``vec_id``. When the benchmark set outgrows a broadcast, the
    same verdict frame composes from the existing ANN path
    (:func:`pq.pq_knn_join` / IVF probe against a persisted index)
    with this exact brute probe as its recall baseline — the
    ann_recall_report relationship."""
    base = ensure_min_parallelism(train_emb).select(F.col(id_col))
    scored = _semantic_scores(
        train_emb, bench_emb, id_col, vec_col, bench_id_col, benchmark_col
    )
    agg = (
        scored.where(F.col("__c__").isNotNull())
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("__c__").alias("c"),
                    (-F.col("__bid__")).alias("nb"),
                    F.col("__bench__").alias("bench"),
                )
            ).alias("__best__"),
            F.sum(
                (F.col("__c__") >= F.lit(float(threshold))).cast("int")
            )
            .cast("long")
            .alias("__hits__"),
        )
    )
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        F.col("__best__.c").alias("max_cosine"),
        (-F.col("__best__.nb")).cast("long").alias("nearest_bench_id"),
        F.col("__best__.bench").alias("nearest_benchmark"),
        F.coalesce(F.col("__hits__"), F.lit(0)).cast("long").alias(
            "n_bench_hits"
        ),
        F.coalesce(
            F.col("__best__.c") >= F.lit(float(threshold)), F.lit(False)
        ).alias("contaminated"),
    )


def semantic_contamination_attribution(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "bench_id",
    benchmark_col: str = "benchmark",
) -> DataFrame:
    """The audit twin of :func:`semantic_decontaminate` (the
    :func:`contamination_attribution` shape at the embedding level):
    WHICH benchmark leaks, and how hard. One row per benchmark:
    ``(benchmark, n_contaminated_docs, n_pair_hits, max_cosine)`` —
    distinct train vectors above threshold against that benchmark,
    total (train, bench-vector) hits, and the hottest cosine
    anywhere against it (NULL when nothing scores). Same broadcast
    probe as the verdict operator; the report aggregates the
    hit-bounded frame to |benchmarks| rows."""
    scored = _semantic_scores(
        train_emb, bench_emb, id_col, vec_col, bench_id_col, benchmark_col
    )
    per = (
        scored.where(F.col("__c__").isNotNull())
        .groupBy("__bench__")
        .agg(
            F.countDistinct(
                F.when(
                    F.col("__c__") >= F.lit(float(threshold)), F.col(id_col)
                )
            )
            .cast("long")
            .alias("n_contaminated_docs"),
            F.sum(
                (F.col("__c__") >= F.lit(float(threshold))).cast("int")
            )
            .cast("long")
            .alias("n_pair_hits"),
            F.max("__c__").alias("max_cosine"),
        )
    )
    benches = (
        ensure_min_parallelism(bench_emb)
        .select(F.col(benchmark_col).alias("__bench__"))
        .distinct()
    )
    return (
        benches.join(per, "__bench__", "left")
        .select(
            F.col("__bench__").alias("benchmark"),
            F.coalesce(F.col("n_contaminated_docs"), F.lit(0))
            .cast("long")
            .alias("n_contaminated_docs"),
            F.coalesce(F.col("n_pair_hits"), F.lit(0))
            .cast("long")
            .alias("n_pair_hits"),
            F.col("max_cosine"),
        )
        .orderBy("benchmark")
    )


def dedup_spans(
    df: DataFrame,
    max_tokens: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact dedup — CCNet's paragraph dedup generalized to
    fixed token spans (this fixture's texts have no paragraph breaks;
    with newline-delimited text the chunker swaps for a ``split`` on
    ``\\n\\n`` and the rest is identical). Every distinct span keeps
    its FIRST occurrence (min ``(doc_id, chunk_idx)``) and reports its
    corpus-wide copy count — the output an aggressive boilerplate
    remover consumes (drop spans with ``n_copies`` above threshold,
    reassemble docs from surviving spans).

    Scale shape: the shuffle carries ``(span_fp, doc_id, chunk_idx)``
    — a hash and two longs, never span text; keeper selection is a
    single ``min(struct)`` aggregation (map-side combined), not a
    window over the full span list.
    """
    chunks = chunk_documents(
        df, max_tokens=max_tokens, text_col=text_col, id_col=id_col
    )
    return (
        chunks.select(
            F.md5(F.col("chunk_text")).alias("span_fp"),
            F.col(id_col),
            "chunk_idx",
        )
        .groupBy("span_fp")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__k__"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "span_fp",
            F.col(f"__k__.{id_col}").alias(id_col),
            F.col("__k__.chunk_idx").alias("chunk_idx"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )


def contamination_attribution(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    benchmark_col: str = "benchmark",
) -> DataFrame:
    """The audit twin of :func:`decontaminate` (VERDICT r9 #5): WHICH
    benchmark leaks WHERE. ``decontaminate`` reports one boolean per
    train doc against the pooled benchmark set; a release note needs
    the attribution — per (train source, benchmark) how many train
    docs share an ``n``-gram with that benchmark, how much gram mass
    overlaps, and how many of the benchmark's distinct grams are the
    leak surface. Output: ``(source, benchmark,
    n_contaminated_docs, n_gram_hits, n_leaked_grams)`` —
    ``n_gram_hits`` counts distinct (train doc, gram) matches against
    the benchmark's gram set (the 'mass' of the overlap: one doc
    sharing 40 grams with a benchmark outweighs 40 docs sharing one),
    ``n_leaked_grams`` counts the benchmark's distinct grams seen
    anywhere in that source.

    Plan shape at 100 TB: identical to decontaminate's — the
    benchmark (benchmark, gram) pairs distinct-aggregate small and
    BROADCAST; train docs explode their distinct n-grams once and
    drop non-matching grams map-side in the broadcast hash join, so
    nothing corpus-sized shuffles; the only exchange after the scan
    carries the HIT set (bounded by matches), aggregated to a
    (sources x benchmarks)-sized report. The two count-distincts
    expand hit rows only.
    """
    ev_grams = (
        ensure_min_parallelism(eval_df)
        .select(
            F.col(benchmark_col), tokens_expr(text_col).alias("__toks__")
        )
        .select(
            F.col(benchmark_col),
            F.explode(F.array_distinct(ngrams_expr("__toks__", n))).alias(
                "__g__"
            ),
        )
        .distinct()
    )
    tr_grams = (
        ensure_min_parallelism(train)
        .select(
            F.col(id_col), F.col(source_col),
            tokens_expr(text_col).alias("__toks__"),
        )
        .select(
            F.col(id_col), F.col(source_col),
            F.explode(F.array_distinct(ngrams_expr("__toks__", n))).alias(
                "__g__"
            ),
        )
    )
    hits = tr_grams.join(F.broadcast(ev_grams), "__g__")
    return (
        hits.groupBy(source_col, benchmark_col)
        .agg(
            F.countDistinct(id_col).cast("long").alias("n_contaminated_docs"),
            F.countDistinct(id_col, "__g__")
            .cast("long")
            .alias("n_gram_hits"),
            F.countDistinct("__g__").cast("long").alias("n_leaked_grams"),
        )
        .select(
            F.col(source_col).alias("source"),
            F.col(benchmark_col).alias("benchmark"),
            "n_contaminated_docs", "n_gram_hits", "n_leaked_grams",
        )
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 512,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows — the standard
    "document → context-window chunks" step before sequence packing.
    Windows start at ``0, stride, 2*stride, …`` while the start lies
    inside the token array; ``stride < max_tokens`` gives overlapping
    chunks, ``stride = max_tokens`` (the default) a partition.

    Output: ``(doc_id, chunk_idx, chunk_start, chunk_text,
    n_chunk_tokens)``; zero-token docs produce no chunks. Pure
    explode projection — no shuffle, streams at scan speed.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    stride = stride if stride is not None else max_tokens
    if stride <= 0:
        raise ValueError("stride must be positive")
    toks = (
        ensure_min_parallelism(df)
        .select(F.col(id_col), tokens_expr(text_col, lowercase=False).alias("__toks__"))
        .where(F.size("__toks__") > 0)
    )
    starts = F.sequence(F.lit(0), F.size("__toks__") - 1, F.lit(stride))
    return toks.select(
        F.col(id_col),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
        F.col("__toks__"),
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.concat_ws(" ", F.slice("__toks__", F.col("chunk_start") + 1, max_tokens)).alias(
            "chunk_text"
        ),
        F.least(F.lit(max_tokens), F.size("__toks__") - F.col("chunk_start"))
        .cast("long")
        .alias("n_chunk_tokens"),
    )


def vocab_coverage(
    df: DataFrame,
    top_k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus token-frequency table with rank and cumulative coverage:
    ``(token, count, rank, pct, cum_pct)`` ordered by descending count
    (ties by token). ``cum_pct`` answers "how much of the corpus do
    the top-r tokens cover" — the input to vocabulary truncation and
    min-frequency cuts.

    The groupBy reduces the corpus to |vocabulary| rows with map-side
    partial counts. Rank and the cumulative sum then use TWO-PHASE
    distributed ranking over range partitions of the sort key — NOT a
    single-partition ``Window.orderBy``: raw web text has unbounded
    distinct-token counts (typos, hashes, URLs → 10⁹+ rows at the
    100 TB target), and ``cum_pct`` needs the full prefix sum, so no
    ``rank <= k`` filter sits next to the window for Catalyst to
    rewrite into ``TakeOrderedAndProject`` (r4 VERDICT finding #1).
    The phases (the ``training_order`` bucket-offset pattern, applied
    to a composite sort key via Spark's own sampled range
    partitioner):

    1. range-partition the counts frame on ``(count DESC, token ASC)``
       — order-preserving across partition ids by construction, and
       balanced by the range exchange's key sampling; persisted so
       the partition assignment seen by the offsets job and the final
       plan is the same physical one;
    2. per-partition row counts and token-mass sums -> driver
       (``n_buckets`` longs — model-parameter-sized), prefix-summed
       into broadcast offsets;
    3. global rank = row offset + intra-partition ``row_number``;
       cumulative mass = mass offset + intra-partition running sum —
       every window partition is bounded at ~|V|/n_buckets rows.

    Output values are bit-identical to the single-window form (the
    same total order, the same integer prefix sums).
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted

    spark = df.sparkSession
    counts = (
        ensure_min_parallelism(df)
        .select(F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        # the range exchange below SAMPLES its child to pick boundaries
        # (a separate job) — persist the vocabulary-sized counts so the
        # sampling pass reads the cache instead of re-running the
        # corpus-sized explode+aggregate
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_b = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = (
        counts.repartitionByRange(n_b, F.desc("count"), F.asc("token"))
        .withColumn("__b__", F.spark_partition_id())
        # pin the partition assignment: the offsets job and the final
        # plan must see the SAME range boundaries
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_bucket = sorted(
        parted.groupBy("__b__")
        .agg(F.count("*").alias("n"), F.sum("count").alias("mass"))
        .collect(),
        key=lambda r: r["__b__"],
    )
    total = sum(r["mass"] for r in per_bucket) or 1  # empty-input guard
    offsets, row_acc, mass_acc = [], 0, 0
    for r in per_bucket:
        offsets.append((r["__b__"], row_acc, mass_acc))
        row_acc += r["n"]
        mass_acc += r["mass"]
    odf = spark.createDataFrame(
        offsets or [(0, 0, 0)], "__b__ int, __row_off__ long, __mass_off__ long"
    )
    w = Window.partitionBy("__b__").orderBy(F.desc("count"), F.asc("token"))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        parted.join(F.broadcast(odf), "__b__")
        .withColumn(
            "rank", (F.col("__row_off__") + F.row_number().over(w)).cast("long")
        )
        .withColumn("pct", F.bround(F.col("count") / F.lit(total) * 100.0, 6))
        .withColumn(
            "cum_pct",
            F.bround(
                (F.col("__mass_off__") + F.sum("count").over(cum))
                / F.lit(total)
                * 100.0,
                6,
            ),
        )
        .select("token", "count", "rank", "pct", "cum_pct")
    )
    if top_k is not None:
        out = out.where(F.col("rank") <= top_k)
    return track_persisted(out, counts, parted)


def quality_filter_decisions(
    df: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 1_000_000,
    min_distinct_ratio: float = 0.2,
    max_dup_trigram_frac: float = 0.5,
    allowed_langs: tuple[str, ...] = ("en", "und"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Composite Gopher/C4-style keep/drop decision per document,
    combining the three signal families (length, repetition, language)
    into auditable per-rule booleans plus the final ``keep``. Output:
    ``(doc_id, n_tokens, lang_pred, keep_length, keep_repetition,
    keep_lang, keep)``.

    Repetition signals that cannot be assessed (too-short docs have
    NULL gram fractions, zero-token docs no repetition row at all)
    PASS their rule — the length rule is what rejects degenerate docs.

    Scale shape: one shared token projection DEFINITION feeds every
    signal family; the two consumers (per-row length/lang scan, gram
    explode+agg) each recompute it from lineage rather than reading a
    persisted copy. Persisting it was tried and measured SLOWER
    (VERDICT r2 item #8; PERFORMANCE.md "negative result: caching the
    token projection") — serializing corpus-sized token arrays costs
    more than the regex tokenize it saves, at sf0.1 and worse at
    100 TB where the cache would spill to disk. The decision join
    stays a single ``doc_id`` equi-join of doc-keyed signal rows; in
    a production pipeline the repetition table is computed once,
    stored keyed by doc_id, and this join is a co-partitioned merge.
    """
    toks = ensure_min_parallelism(df).select(
        F.col(id_col), tokens_expr(text_col).alias("__toks__")
    )
    # counts materialized in their own projection (r13: the argmax
    # CASE references each count ~5x; over raw size(filter(...)) trees
    # that re-ran the token filters per branch — see lang_scores_exprs)
    counted = toks.select(
        F.col(id_col),
        F.size("__toks__").cast("long").alias("n_tokens"),
        *[
            c.alias(f"__c_{lang}__")
            for lang, c in lang_count_exprs(F.col("__toks__")).items()
        ],
    )
    pred, _ = lang_scores_exprs(
        {lang: F.col(f"__c_{lang}__") for lang in LANG_PRIORITY}
    )
    q = counted.select(
        F.col(id_col),
        "n_tokens",
        pred.alias("lang_pred"),
    )
    r = repetition_signals(df, id_col=id_col, tokens_df=toks).select(
        F.col(id_col), "distinct_token_ratio", "dup_trigram_frac"
    )
    keep_length = (F.col("n_tokens") >= min_tokens) & (
        F.col("n_tokens") <= max_tokens
    )
    keep_repetition = F.coalesce(
        F.col("distinct_token_ratio") >= min_distinct_ratio, F.lit(True)
    ) & F.coalesce(F.col("dup_trigram_frac") <= max_dup_trigram_frac, F.lit(True))
    keep_lang = F.col("lang_pred").isin(*allowed_langs)
    return (
        q.join(r, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            "lang_pred",
            keep_length.alias("keep_length"),
            keep_repetition.alias("keep_repetition"),
            keep_lang.alias("keep_lang"),
            (keep_length & keep_repetition & keep_lang).alias("keep"),
        )
    )


def domain_quantile_filter(
    df: DataFrame,
    quantile: float = 0.25,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Per-domain RELATIVE length filter: keep documents whose token
    count is at or above their domain's ``quantile`` threshold —
    thresholds that adapt per source instead of one global cut (short
    docs are normal in some domains, degenerate in others). Output:
    ``(doc_id, domain, n_tokens, threshold, keep)``.

    Plan shape: one token-count projection, one per-domain exact
    ``percentile`` aggregation (~|domains| rows — broadcast back), one
    broadcast equi-join. No window over the corpus, no second scan:
    the doc-level frame is reused from the projection. At 100 TB pass
    ``exact=False``: ``approx_percentile`` replaces the exact
    ``percentile`` — same plan, bounded mergeable sketch state per
    domain instead of a sorted value buffer (the
    ``domain_heavy_hitters(exact=False)`` twin pattern; accuracy vs
    the exact twin pinned in tests/test_corpus.py).
    """
    docs = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        F.size(tokens_expr(text_col)).cast("long").alias("n_tokens"),
    )
    if exact:
        pct = F.percentile(F.col("n_tokens"), F.lit(float(quantile)))
    else:
        pct = F.percentile_approx(
            F.col("n_tokens"), F.lit(float(quantile)), F.lit(10000)
        ).cast("double")
    thresholds = docs.groupBy("domain").agg(pct.alias("threshold"))
    # compare against the ROUNDED threshold so the keep boolean is
    # reproducible across engines (interpolated quantiles are doubles)
    return (
        docs.join(F.broadcast(thresholds), "domain")
        .withColumn("threshold", F.bround(F.col("threshold"), 6))
        .select(
            F.col(id_col),
            "domain",
            "n_tokens",
            "threshold",
            (F.col("n_tokens").cast("double") >= F.col("threshold")).alias("keep"),
        )
    )


def domain_mixture_weights(
    df: DataFrame,
    alpha: float = 0.5,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled domain sampling weights: each domain's
    sampling probability is ``tokens^alpha / sum(tokens^alpha)`` —
    ``alpha = 1`` reproduces natural proportions, ``alpha → 0``
    approaches uniform (the standard multilingual/multi-source
    rebalancing rule). Output per domain: ``(domain, n_docs,
    n_tokens, natural_pct, weight)``.

    One domain-level aggregation (map-side partial sums, ~|domains|
    result rows); normalizers ride a broadcast 1-row cross join.
    """
    per = (
        ensure_min_parallelism(df)
        .select(
            F.col(domain_col).alias("domain"),
            F.size(tokens_expr(text_col)).cast("long").alias("__nt__"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nt__").alias("n_tokens"),
        )
        .withColumn("__w__", F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))))
    )
    totals = per.agg(
        F.sum("n_tokens").alias("__tok_total__"), F.sum("__w__").alias("__w_total__")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.bround(F.col("n_tokens") / F.col("__tok_total__") * 100.0, 6).alias(
                "natural_pct"
            ),
            F.bround(F.col("__w__") / F.col("__w_total__"), 6).alias("weight"),
        )
    )


def mixture_epoch_plan(
    df: DataFrame,
    token_budget: int,
    alpha: float = 0.5,
    max_epochs: int = 4,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-constrained training plan (Muennighoff et al., "Scaling
    Data-Constrained Language Models", NeurIPS 2023): given a total
    ``token_budget`` and the temperature-``alpha`` mixture weights,
    how many EPOCHS of each source the run must repeat, capped at
    ``max_epochs`` (the paper's finding: up to ~4 epochs of repeated
    data is nearly as good as fresh; beyond that returns decay to
    zero — so the cap is where a data-constrained run should stop
    and reallocate). Output per domain: ``(domain, n_tokens, weight,
    target_tokens, epochs, realized_tokens, repeated_frac,
    shortfall_tokens)`` —

    - ``target_tokens``: the budget share the mixture asks of this
      domain (integer-ppm arithmetic on the 6dp weight, so both
      engines land the identical integer);
    - ``epochs``: ceil(target / available) capped at ``max_epochs``;
    - ``realized_tokens``: what the capped plan actually yields
      (min(target, available x max_epochs));
    - ``repeated_frac``: the fraction of realized tokens that are
      repeats — the number to read against the paper's decay curve;
    - ``shortfall_tokens``: budget the cap leaves unfilled HERE (a
      planner reallocates it to under-epoched domains or shrinks the
      run).

    Builds on :func:`domain_mixture_weights` (the verified weights
    feed this plan verbatim — same composition discipline as the
    curated chain); everything after the weights is integer
    arithmetic on a |domains|-row frame."""
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    w = domain_mixture_weights(
        df, alpha=alpha, domain_col=domain_col, text_col=text_col
    )
    # Integer-exact share arithmetic (ADVICE r10): long*long multiply
    # + double division loses integer exactness past 2^53 (any budget
    # over ~9e9 tokens at high weight) and the long multiply
    # ANSI-overflows past ~9.2e18 — exactly the trillion-token
    # budgets a data-constrained plan targets. DECIMAL(38,0) multiply
    # (budget <= long max, wppm <= 1e6 -> product <= ~9.2e24, far
    # inside 38 digits) + integral `div` lands the identical integer
    # the DuckDB oracle's HUGEINT `//` does at ANY long budget.
    wppm = F.floor(F.col("weight") * 1_000_000.0 + F.lit(0.5)).cast("long")
    planned = w.select(
        "domain", "n_tokens", "weight", wppm.alias("__wppm__")
    ).select(
        "domain", "n_tokens", "weight",
        F.expr(
            f"CAST((CAST({int(token_budget)} AS DECIMAL(38,0)) * "
            "CAST(__wppm__ AS DECIMAL(38,0))) DIV 1000000 AS BIGINT)"
        ).alias("target_tokens"),
    )
    avail = F.col("n_tokens")
    # integer ceil WITHOUT the `(target + avail - 1)` add (which can
    # itself overflow at long-max targets): for target >= 1 this is
    # exact ceil in both engines; at target == 0 Spark's
    # truncate-toward-zero `div` lands 1 and DuckDB's floor `//`
    # lands 0, and greatest(1, .) folds both to 1.
    epochs = F.least(
        F.lit(int(max_epochs)).cast("long"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("((target_tokens - 1) DIV n_tokens) + 1"),
        ),
    ).cast("long")
    out = planned.where(avail > 0).withColumn("epochs", epochs)
    realized = F.least(
        F.col("target_tokens"), avail * F.lit(int(max_epochs))
    ).cast("long")
    out = out.withColumn("realized_tokens", realized)
    return out.select(
        "domain", "n_tokens", "weight", "target_tokens", "epochs",
        "realized_tokens",
        F.when(
            F.col("realized_tokens") > 0,
            F.bround(
                F.greatest(
                    F.col("realized_tokens") - F.col("n_tokens"), F.lit(0)
                ).cast("double")
                / F.col("realized_tokens").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("repeated_frac"),
        (F.col("target_tokens") - F.col("realized_tokens"))
        .cast("long")
        .alias("shortfall_tokens"),
    )


def mixture_epoch_plan_realloc(
    df: DataFrame,
    token_budget: int,
    alpha: float = 0.5,
    max_epochs: int = 4,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """:func:`mixture_epoch_plan` with the planner loop CLOSED
    (VERDICT r10 #2): the budget that epoch caps leave unfilled is
    reallocated to domains with remaining capacity by the SAME ppm
    weights — run to its FIXED POINT, not one round, via exact
    integer water-filling (bounded proportional allocation): a domain
    is capacity-bound iff its capacity-per-unit-weight sits below the
    water level, and the remaining budget divides among the rest in
    weight proportion. Output = the verified base-plan columns plus

    - ``capacity_tokens``: ``n_tokens x max_epochs`` — the most this
      domain can supply under the epoch cap;
    - ``final_tokens``: the water-filled allocation. Invariant (the
      point of the operator): ``sum(final_tokens) = min(budget,
      sum(capacity_tokens where weight > 0))`` EXACTLY, and no
      positive-weight domain below its capacity holds residual
      shortfall. A domain whose 6dp weight rounds to 0 ppm (alpha=1
      skew past ~2e6:1 — the trillion-token regime) is allocated 0:
      the mixture asked nothing of it, so the fill must not dump the
      residual budget into it (ADVICE r11 — the un-guarded capped
      test degenerated to ``0 <= 0`` for such rows and handed them
      FULL capacity, driving uncapped domains negative when the
      budget sat below the zero-weight capacities);
    - ``final_epochs``, ``final_repeated_frac``: the base plan's
      epoch/repeat readings at the final allocation;
    - ``extra_tokens``: ``final - realized`` (the reallocated mass;
      can be a few tokens negative on dust, because the base target
      divides by the nominal 1e6 while the water level divides by the
      ACTUAL ppm sum);
    - ``residual_shortfall``: ``max(target - final, 0)`` — nonzero
      only for capacity-bound domains.

    Arithmetic is the base plan's integer discipline end-to-end:
    DECIMAL(38,0) products, integral ``div``, and the flooring dust
    (< one token per un-capped domain) is placed deterministically —
    +1 to the first ``dust`` un-capped POSITIVE-WEIGHT domains in
    domain order, each of which has >= 1 token of headroom by the
    strict-inequality definition of un-capped (zero-weight rows sit
    in their own row_number partition so they never shift the dust
    window). Every frame past the verified weights is
    |domains|-row (the windows below are report-sized by
    construction, same class as the packer's offset table)."""
    base = mixture_epoch_plan(
        df, token_budget, alpha, max_epochs, domain_col, text_col
    )
    b = base.withColumn(
        "__wppm__",
        F.floor(F.col("weight") * 1_000_000.0 + F.lit(0.5)).cast("long"),
    ).withColumn(
        "capacity_tokens",
        (F.col("n_tokens") * F.lit(int(max_epochs))).cast("long"),
    )
    # the fillable pool is the POSITIVE-weight capacity only: a 0-ppm
    # domain is never allocated, so its capacity must not inflate the
    # water level's budget clamp (ADVICE r11)
    tot = b.agg(
        F.sum("__wppm__").alias("__wtot__"),
        F.coalesce(
            F.sum(
                F.when(F.col("__wppm__") > 0, F.col("capacity_tokens"))
            ),
            F.lit(0),
        ).alias("__captot__"),
    )
    o = (
        b.crossJoin(F.broadcast(tot))
        .withColumn(
            "__a__",
            F.least(F.lit(int(token_budget)), F.col("__captot__")).cast(
                "long"
            ),
        )
        # ratio order (capacity per unit weight); zero-weight domains
        # sort last via the explicit flag so neither engine divides
        # by zero
        .withColumn("__zw__", (F.col("__wppm__") == 0).cast("int"))
        .withColumn(
            "__ord__",
            F.when(F.col("__wppm__") == 0, F.lit(0.0)).otherwise(
                F.col("capacity_tokens").cast("double")
                / F.col("__wppm__").cast("double")
            ),
        )
    )
    wprev = (
        Window.orderBy("__zw__", "__ord__", "domain")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = o.withColumn(
        "__cumcap__",
        F.coalesce(F.sum("capacity_tokens").over(wprev), F.lit(0)),
    ).withColumn(
        "__cumw__", F.coalesce(F.sum("__wppm__").over(wprev), F.lit(0))
    )
    # capacity-bound iff cap_i / w_i <= water level of the prefix —
    # compared as exact integer cross-products (prefix consistency is
    # the standard water-filling monotonicity argument)
    # a 0-ppm row must never test capped: both cross-products are 0
    # there (it sorts last, so cumw == wtot) and the un-guarded `<=`
    # would hand it FULL capacity (ADVICE r11)
    k = c.withColumn(
        "__capped__",
        (F.col("__wppm__") > 0)
        & F.expr(
            "CAST(capacity_tokens AS DECIMAL(38,0))"
            " * CAST(__wtot__ - __cumw__ AS DECIMAL(38,0))"
            " <= CAST(__a__ - __cumcap__ AS DECIMAL(38,0))"
            " * CAST(__wppm__ AS DECIMAL(38,0))"
        ),
    )
    s = k.agg(
        F.coalesce(
            F.sum(F.when(F.col("__capped__"), F.col("capacity_tokens"))),
            F.lit(0),
        ).alias("__capsum__"),
        F.coalesce(
            F.sum(F.when(F.col("__capped__"), F.col("__wppm__"))), F.lit(0)
        ).alias("__wsum__"),
    )
    al = (
        k.crossJoin(F.broadcast(s))
        .withColumn("__rr__", (F.col("__a__") - F.col("__capsum__")).cast("long"))
        .withColumn("__wu__", (F.col("__wtot__") - F.col("__wsum__")).cast("long"))
        .withColumn(
            "__alloc0__",
            F.when(F.col("__capped__"), F.col("capacity_tokens"))
            .when(F.col("__wu__") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "CAST((CAST(__rr__ AS DECIMAL(38,0))"
                    " * CAST(__wppm__ AS DECIMAL(38,0)))"
                    " DIV __wu__ AS BIGINT)"
                )
            ),
        )
        .withColumn(
            "__rn__",
            F.row_number().over(
                Window.partitionBy("__capped__", "__zw__").orderBy("domain")
            ),
        )
    )
    d = al.agg(
        F.coalesce(
            F.sum(F.when(~F.col("__capped__"), F.col("__alloc0__"))), F.lit(0)
        ).alias("__placed__")
    )
    fin = al.crossJoin(F.broadcast(d)).withColumn(
        "final_tokens",
        (
            F.col("__alloc0__")
            + F.when(
                ~F.col("__capped__")
                & (F.col("__wppm__") > 0)
                & (F.col("__wu__") > 0)
                & (F.col("__rn__") <= F.col("__rr__") - F.col("__placed__")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("long"),
    )
    return fin.select(
        "domain", "n_tokens", "weight", "target_tokens", "epochs",
        "realized_tokens", "shortfall_tokens", "capacity_tokens",
        "final_tokens",
        F.least(
            F.lit(int(max_epochs)).cast("long"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("((final_tokens - 1) DIV n_tokens) + 1"),
            ),
        ).cast("long").alias("final_epochs"),
        (F.col("final_tokens") - F.col("realized_tokens"))
        .cast("long")
        .alias("extra_tokens"),
        F.when(
            F.col("final_tokens") > 0,
            F.bround(
                F.greatest(
                    F.col("final_tokens") - F.col("n_tokens"), F.lit(0)
                ).cast("double")
                / F.col("final_tokens").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("final_repeated_frac"),
        F.greatest(
            F.col("target_tokens") - F.col("final_tokens"), F.lit(0)
        ).cast("long").alias("residual_shortfall"),
    )


def mixture_alpha_frontier(
    df: DataFrame,
    token_budget: int,
    alphas: tuple[float, ...] = (0.25, 0.5, 0.75, 1.0),
    max_epochs: int = 4,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The mixture TEMPERATURE dial in one table — the family's twin
    of the banding/ANN frontiers: one row per alpha, each composing
    the verified :func:`mixture_epoch_plan` fragment verbatim at that
    temperature. Output: ``(alpha, n_domains, weight_entropy,
    max_weight, total_target, total_realized, total_shortfall,
    max_repeated_frac)``.

    What the rows say: alpha -> 1 follows the natural data
    distribution (low entropy if sources are skewed, minimal
    repetition); alpha -> 0 flattens the mixture (entropy climbs
    toward ln(n_domains)) at the price of asking small domains for
    more than they hold — ``max_repeated_frac`` is the
    Muennighoff-decay exposure and ``total_shortfall`` the budget the
    epoch cap strands. A user picks the temperature off this table
    instead of folklore.

    ``weight_entropy`` is the Shannon entropy of the 6dp mixture
    weights in nats, folded in domain-sorted order (the
    recall_vs_exact rule) so the float sum is bit-stable across
    engines and partitionings. Every frame is |domains|-row past the
    verified weights."""
    from functools import reduce

    rows = []
    for a in alphas:
        plan = mixture_epoch_plan(
            df, token_budget, float(a), max_epochs, domain_col, text_col
        )
        wlnw = F.when(
            F.col("weight") > 0, F.col("weight") * F.log(F.col("weight"))
        ).otherwise(F.lit(0.0))
        base = plan.select(
            "domain", "weight", "target_tokens", "realized_tokens",
            "shortfall_tokens", "repeated_frac", wlnw.alias("__wlnw__"),
        )
        ent = -F.aggregate(
            F.array_sort(F.collect_list(F.struct("domain", "__wlnw__"))),
            F.lit(0.0),
            lambda acc, s: acc + s["__wlnw__"],
        )
        rows.append(
            base.agg(
                F.count(F.lit(1)).cast("long").alias("n_domains"),
                F.bround(ent, 6).alias("weight_entropy"),
                F.bround(F.max("weight"), 6).alias("max_weight"),
                F.sum("target_tokens").cast("long").alias("total_target"),
                F.sum("realized_tokens").cast("long").alias("total_realized"),
                F.sum("shortfall_tokens").cast("long").alias(
                    "total_shortfall"
                ),
                F.bround(F.max("repeated_frac"), 6).alias(
                    "max_repeated_frac"
                ),
            ).select(F.lit(float(a)).alias("alpha"), "*")
        )
    return reduce(lambda x, y: x.unionByName(y), rows)


def mixture_plan_realize(
    df: DataFrame,
    token_budget: int,
    alpha: float = 0.5,
    max_epochs: int = 4,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 64,
) -> DataFrame:
    """REALIZE the water-filled mixture plan into the per-document
    training list a run actually consumes (VERDICT r11 #1 — the step
    that turns :func:`mixture_epoch_plan_realloc`'s verified
    arithmetic into a corpus, exactly as the packer's chunk rows
    completed its stats). Output one row per document that trains at
    least once: ``(doc_id, domain, doc_tokens, repeats)`` where
    ``repeats`` is how many times the doc appears across epochs.

    Composition: the verified realloc fragment computes each domain's
    ``final_tokens``; this splits it as ``final = full * n_tokens +
    rem`` (integral ``div``/``%``, both engines agree for
    non-negative operands) — every doc of the domain repeats
    ``full`` times, and the PARTIAL epoch takes a deterministic
    md5-ordered prefix of docs totaling ``rem`` tokens *within one
    document* (the first doc whose exclusive prefix sum crosses
    ``rem`` is included — the same md5-keyed determinism discipline
    as :func:`mixture_sample`). Invariant (pytest-pinned): per
    domain, ``final_tokens <= sum(doc_tokens * repeats) <
    final_tokens + max(doc_tokens)`` (equality when ``rem == 0``),
    and ``repeats <= final_epochs``.

    Scale posture: the per-domain prefix sum does NOT run as one
    window over the domain (a domain is TBs at 100 TB) — it is the
    :func:`sampling.training_order` two-phase shape generalized per
    domain: ORDER-PRESERVING md5-prefix buckets, per-(domain, bucket)
    token sums rolled into exclusive offsets on a |domains| x
    ``num_buckets`` report-sized frame (broadcast back), then a
    within-bucket window bounded at ~|domain|/num_buckets rows. No
    driver collect; the plan join is a broadcast of |domains| rows."""
    if not 0 < int(num_buckets) <= 65536:
        raise ValueError("num_buckets must be in (0, 65536]")
    nb = int(num_buckets)
    plan = mixture_epoch_plan_realloc(
        df, token_budget, alpha, max_epochs, domain_col, text_col
    ).select(
        "domain",
        F.col("n_tokens").alias("__dn__"),
        F.expr("final_tokens DIV n_tokens").cast("long").alias("__full__"),
        (F.col("final_tokens") % F.col("n_tokens"))
        .cast("long")
        .alias("__rem__"),
    )
    key = F.md5(F.col(id_col).cast("string"))
    docs = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        F.size(tokens_expr(text_col)).cast("long").alias("doc_tokens"),
        key.alias("__key__"),
        F.floor(
            F.conv(F.substring(key, 1, 4), 16, 10).cast("long")
            * nb
            / F.lit(65536)
        )
        .cast("int")
        .alias("__bucket__"),
    )
    # exclusive per-(domain, bucket) offsets — |domains| x nb rows;
    # the window below runs on THIS report-sized frame, not the corpus
    woff = (
        Window.partitionBy("domain")
        .orderBy("__bucket__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        docs.groupBy("domain", "__bucket__")
        .agg(F.sum("doc_tokens").alias("__bt__"))
        .withColumn(
            "__off__", F.coalesce(F.sum("__bt__").over(woff), F.lit(0))
        )
        .select("domain", "__bucket__", "__off__")
    )
    wcum = (
        Window.partitionBy("domain", "__bucket__")
        .orderBy("__key__", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = docs.join(F.broadcast(offsets), ["domain", "__bucket__"]).withColumn(
        "__cum_prev__",
        F.col("__off__")
        + F.coalesce(F.sum("doc_tokens").over(wcum), F.lit(0)),
    )
    out = cum.join(F.broadcast(plan), "domain").select(
        id_col,
        "domain",
        "doc_tokens",
        (
            F.col("__full__")
            + F.when(F.col("__cum_prev__") < F.col("__rem__"), F.lit(1))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("repeats"),
    )
    return out.where(F.col("repeats") > 0)


def domain_token_sketches(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    lgk: int = 12,
) -> DataFrame:
    """Per-domain distinct-token counts via MERGEABLE HLL sketches,
    plus a corpus-wide ``__all__`` row built by unioning the
    per-domain sketches — never by rescanning the corpus.

    This is the 100 TB counting pattern the plain
    ``approx_count_distinct`` (plans/analytics.approx_distinct_parts)
    can't give you: each domain/shard/day reduces to a fixed-size
    binary sketch (``hll_sketch_agg``, map-side partial), and ANY
    rollup — all domains, a trailing window, yesterday's sketch plus
    today's — is a tiny ``hll_union_agg`` over already-computed state.
    Sketch rows are the reusable artifact a daily pipeline would
    persist; estimates are read off with ``hll_sketch_estimate``.

    Output: ``(domain, est_distinct_tokens)``, one row per domain and
    one ``__all__`` union row. Estimates are sketch-based -> rows-only
    contract check; accuracy (~±2% at lgk=12) is pinned in pytest
    against exact distinct counts.
    """
    per = (
        ensure_min_parallelism(df)
        .select(
            F.col(domain_col).alias("domain"),
            F.explode(tokens_expr(text_col)).alias("token"),
        )
        .groupBy("domain")
        .agg(F.hll_sketch_agg("token", F.lit(lgk)).alias("__sk__"))
    )
    # |domains| rows, but two consumers below — persist so the corpus
    # tokenize+sketch scan runs once, not once per branch
    from pyspark import StorageLevel

    per = per.persist(StorageLevel.MEMORY_AND_DISK)
    per_rows = per.select(
        "domain", F.hll_sketch_estimate("__sk__").alias("est_distinct_tokens")
    )
    union_row = per.agg(F.hll_union_agg("__sk__").alias("__sk__")).select(
        F.lit("__all__").alias("domain"),
        F.hll_sketch_estimate("__sk__").alias("est_distinct_tokens"),
    )
    from bht_etl_app_spark.functions.lifecycle import track_persisted

    return track_persisted(per_rows.unionByName(union_row), per)


def observe_keep_rates(decisions: DataFrame, name: str = "corpus_qa"):
    """Attach an ``Observation`` that records corpus QA metrics —
    document count, kept count, kept token volume — during whatever
    action the caller already runs on the decisions (a write, a
    downstream aggregate). At 100 TB this is the difference between
    free pipeline telemetry and a second full scan for a row count:
    observe() metrics are accumulated by the SAME tasks that produce
    the action's result.

    Returns ``(df, observation)``; read ``observation.get`` after any
    action on ``df``. Expects the ``quality_filter_decisions`` output
    shape (``keep`` boolean, ``n_tokens``).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = decisions.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum(
            F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("kept_tokens"),
    )
    return out, obs


def upsert_latest(
    current: DataFrame,
    updates: DataFrame,
    id_col: str = "doc_id",
    version_col: str = "version",
) -> DataFrame:
    """Incremental corpus maintenance: merge an update batch into the
    current snapshot, keeping exactly one row per id — the highest
    ``version_col``, with the UPDATE side winning version ties (the
    standard upsert/CDC-compact semantics; without a lakehouse table
    format this materializes the next snapshot, which is how
    immutable-parquet pipelines roll corpora forward).

    Delegates to :func:`apply_cdc` with every update tagged ``'U'``
    (delete-free CDC) so the union + ``max_by`` + struct-unpack core
    lives ONCE — one fine-grained shuffle with map-side partial
    aggregation, never a window sort. Columns must match; the output
    schema is the input schema.
    """
    cols = current.columns
    if set(cols) != set(updates.columns):
        raise ValueError(
            f"schema mismatch: {sorted(cols)} vs {sorted(updates.columns)}"
        )
    return apply_cdc(
        current,
        updates.withColumn("__cdc_op__", F.lit("U")),
        id_col=id_col,
        version_col=version_col,
        op_col="__cdc_op__",
    )


def apply_cdc(
    current: DataFrame,
    changes: DataFrame,
    id_col: str = "doc_id",
    version_col: str = "version",
    op_col: str = "op",
) -> DataFrame:
    """Full CDC application — :func:`upsert_latest` plus DELETE
    support: ``changes`` carries an ``op_col`` of ``'U'``
    (insert/update) or ``'D'`` (delete); the next snapshot keeps, per
    id, the payload of the winning row UNLESS it is a delete —
    tombstones drop the id entirely (the Debezium/Delta MERGE
    semantics on immutable parquet).

    Winner rank: ``(version, change-side, op='D')`` — changes beat
    current on version ties (the upsert rule), and a DELETE beats an
    UPDATE at the same version (r5 review: without the third rank a
    same-version U/D pair for one id flipped keep-vs-drop run to
    run). Any op value other than 'U'/'D' (including NULL) raises at
    execution — a malformed feed must fail loudly, not silently drop
    or upsert rows.

    Same scale shape as upsert_latest: union + ONE max_by aggregation
    on the id key (map-side partials, no window sort); the tombstone
    filter is a post-aggregation projection on the winner struct.
    Output schema = ``current``'s schema (no op column).
    """
    cols = current.columns
    if set(cols) | {op_col} != set(changes.columns):
        raise ValueError(
            f"changes must be current's schema plus '{op_col}': "
            f"{sorted(cols)} vs {sorted(changes.columns)}"
        )
    checked_op = F.when(
        F.col(op_col).isin("U", "D"), F.col(op_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"apply_cdc: invalid {op_col} value: "),
                F.coalesce(F.col(op_col), F.lit("NULL")),
            )
        )
    )
    tagged = (
        current.select(*cols)
        .withColumn("__op__", F.lit("U"))
        .withColumn("__side__", F.lit(0))
        .unionByName(
            changes.select(*cols, checked_op.alias("__op__")).withColumn(
                "__side__", F.lit(1)
            )
        )
    )
    payload = F.struct(*[F.col(c) for c in cols], F.col("__op__"))
    rank = F.struct(
        F.col(version_col),
        F.col("__side__"),
        (F.col("__op__") == "D").cast("int"),
    )
    merged = tagged.groupBy(id_col).agg(F.max_by(payload, rank).alias("__row__"))
    return merged.where(F.col("__row__.__op__") != "D").select(
        *[F.col(f"__row__.{c}").alias(c) for c in cols]
    )


def mixture_sample(
    df: DataFrame,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REALIZE the temperature mixture: deterministically sample docs
    so each domain's share approaches ``tokens^alpha`` weighting
    under a global document budget (``budget_frac`` of the corpus).
    ``domain_mixture_weights`` reports the target; this operator
    materializes a training subset honoring it — the step between
    "mixture policy" and "training set".

    Determinism & engine parity: the keep rule is an INTEGER
    comparison — ``u32(doc_id) < floor(rate_d * 2^32)`` with
    ``u32 = first 8 md5 hex chars`` — so membership is reproducible
    and oracle-checkable; the per-domain normalizer folds in
    domain-sorted order, and ``alpha = 0.5`` routes through ``sqrt``
    (correctly rounded in both engines, unlike ``pow``).
    Scale: one domain-level aggregate (broadcast back) + one
    scan-side filter; nothing corpus-sized shuffles.
    Output: the kept rows as ``(doc_id, domain, rate)``.
    """
    w_expr = (
        F.sqrt(F.col("n_tokens").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    )
    per = (
        ensure_min_parallelism(df)
        .select(
            F.col(domain_col).alias("domain"),
            F.size(tokens_expr(text_col)).cast("long").alias("__nt__"),
        )
        .groupBy("domain")
        .agg(F.count("*").cast("double").alias("n_docs"), F.sum("__nt__").alias("n_tokens"))
        .withColumn("__w__", w_expr)
    )
    totals = per.agg(
        # domain-sorted sequential fold -> bit-identical normalizer
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("domain", "__w__"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__w__"],
        ).alias("__w_total__"),
        F.sum("n_docs").alias("__n_total__"),
    )
    rates = per.crossJoin(F.broadcast(totals)).select(
        "domain",
        F.least(
            F.lit(1.0),
            F.lit(float(budget_frac))
            * F.col("__n_total__")
            * (F.col("__w__") / F.col("__w_total__"))
            / F.col("n_docs"),
        ).alias("rate"),
    )
    u32 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    thr = F.floor(F.col("rate") * F.lit(float(1 << 32))).cast("long")
    return (
        ensure_min_parallelism(df)
        .select(F.col(id_col), F.col(domain_col).alias("domain"))
        .join(F.broadcast(rates), "domain")
        .where(u32 < thr)
        .select(id_col, "domain", F.bround("rate", 6).alias("rate"))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot delta report: per-status doc counts between
    two versions — ``added`` (id only in new), ``removed`` (only in
    old), ``changed`` (both, different content fingerprint),
    ``unchanged``. The ops-level answer to "what did this refresh
    actually do" before expensive reprocessing is triggered on the
    whole corpus. Both sides reduce to ``(id, md5 fingerprint)``
    before the full-outer join — document text never shuffles.
    Output: ``(status, n_docs)`` ordered by status."""
    from bht_etl_app_spark.operators.dedup import _norm_text

    o = ensure_min_parallelism(old).select(
        F.col(id_col).alias("id"), F.md5(_norm_text(text_col)).alias("__ofp__")
    )
    nw = ensure_min_parallelism(new).select(
        F.col(id_col).alias("id"), F.md5(_norm_text(text_col)).alias("__nfp__")
    )
    status = (
        F.when(F.col("__ofp__").isNull(), F.lit("added"))
        .when(F.col("__nfp__").isNull(), F.lit("removed"))
        .when(F.col("__ofp__") == F.col("__nfp__"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(nw, "id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("status")
    )


def source_dedup_rates(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source exact-duplicate rates — the crawl-quality report
    that decides which sources get a heavier dedup pass: docs,
    distinct content fingerprints, and the duplicate share. One
    grouped aggregation over ``(source, fp)`` pairs; text never
    shuffles. Output: ``(source, n_docs, n_unique, dup_rate)``."""
    from bht_etl_app_spark.operators.dedup import _norm_text

    fp = ensure_min_parallelism(df).select(
        F.col(source_col).alias("source"), F.md5(_norm_text(text_col)).alias("fp")
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("fp").cast("long").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.bround(
                F.lit(1.0) - F.col("n_unique") / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


def corpus_datacard(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-domain corpus data card — the one-pass quality/composition
    report a curation pipeline publishes alongside a release
    (datasheet/data-card practice): doc and token counts, language
    spread, exact-duplicate rate, short-doc fraction.

    Output per domain: ``(domain, n_docs, total_tokens, avg_tokens,
    n_langs, en_frac, dup_rate, short_frac)``; rates rounded to 6 dp.

    Scale posture: ONE scan, ONE groupBy(domain) with map-side
    partials. The duplicate rate needs distinct fingerprints per
    domain — count(DISTINCT md5) inside the same aggregate (Spark
    plans a single Expand pass, the profile_table shape); everything
    else is a plain conditional sum. Output is |domains| rows.
    """
    from bht_etl_app_spark.operators.text import tokens_expr

    n_tok = F.size(tokens_expr(text_col)).cast("long")
    fp = F.md5(F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))))
    base = ensure_min_parallelism(df).select(
        F.col(domain_col).alias("domain"),
        n_tok.alias("__nt__"),
        fp.alias("__fp__"),
        F.col(lang_col).alias("__lang__"),
    )
    return (
        base.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt__").alias("total_tokens"),
            F.countDistinct("__lang__").alias("n_langs"),
            F.sum(F.when(F.col("__lang__") == "en", 1).otherwise(0)).alias(
                "__en__"
            ),
            F.countDistinct("__fp__").alias("__uniq__"),
            F.sum(F.when(F.col("__nt__") < 20, 1).otherwise(0)).alias(
                "__short__"
            ),
        )
        .select(
            "domain",
            "n_docs",
            "total_tokens",
            F.bround(
                F.col("total_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("avg_tokens"),
            "n_langs",
            F.bround(
                F.col("__en__").cast("double") / F.col("n_docs"), 6
            ).alias("en_frac"),
            F.bround(
                F.lit(1.0)
                - F.col("__uniq__").cast("double") / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            F.bround(
                F.col("__short__").cast("double") / F.col("n_docs"), 6
            ).alias("short_frac"),
        )
    )


def _pre_stages(
    df: DataFrame,
    text_col: str,
    extract_markup: bool,
    redact: bool,
    redact_classes: tuple[str, ...] | None,
) -> DataFrame:
    """curate_corpus's optional per-row pre-stages, shared with the
    streaming ingest so the batch and stream chains land the same text
    byte for byte. Neither has a verdict leg: both transform, never
    drop.

    -1. markup/boilerplate extraction: the FIRST stage of every
    web-crawl chain (CCNet/RefinedWeb/FineWeb start from HTML) —
    script/style blocks out, tags stripped, entities decoded, thin
    boilerplate lines dropped, whitespace collapsed, BEFORE redaction
    sees the text (a tag-split URL would otherwise dodge the pattern)
    and before anything tokenizes, fingerprints, or trains. The SAME
    extract_text_expr kernel as the standalone doc_extracted_text key.

    0. URL/email redaction: the standard pre-quality scrub (PII out
    BEFORE anything tokenizes, fingerprints, or trains on the text).
    redact_expr is the SAME kernel as the standalone scrub_text
    operator, so the stage and the doc_scrubbed key can never diverge.
    ``redact_classes`` widens the pattern set (e.g.
    text.PII_REDACT_CLASSES adds IP + phone); None keeps the URL+email
    default and an empty tuple redacts nothing.
    """
    if extract_markup:
        df = df.withColumn(text_col, extract_text_expr(text_col))
    if redact:
        classes = (
            DEFAULT_REDACT_CLASSES if redact_classes is None else redact_classes
        )
        df = df.withColumn(text_col, redact_expr(text_col, classes))
    return df


def curate_corpus(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    decontam_n: int = 5,
    near_dup_threshold: float = 0.8,
    min_tokens: int = 20,
    hash_fn: str = "xxhash64",
    lm_ref: DataFrame | None = None,
    lm_min_avg_logprob: float = -4.2,
    lm_d: float = 0.75,
    substr_k: int | None = None,
    redact: bool = False,
    redact_classes: tuple[str, ...] | None = None,
    extract_markup: bool = False,
    url_col: str | None = None,
    url_blocklist: list[str] | DataFrame | None = None,
    semantic_emb: DataFrame | None = None,
    semantic_bench_emb: DataFrame | None = None,
    semantic_threshold: float = 0.9,
    semantic_vec_col: str = "embedding",
) -> DataFrame:
    """The END-TO-END curation pipeline, composed the way a full
    pretraining-corpus run chains it (RefinedWeb/FineWeb order), with
    an auditable verdict for EVERY input document:

    -2. (``url_col`` given) URL stage — the crawl chain's CHEAPEST
        and therefore FIRST gate (r12): domain-blocklist drop
        (``url_blocklist`` given)                → ``url_blocked``
        then URL-level exact dedup on the canonical form, keep-min
        per canonical URL                        → ``url_dup``
    -1. (``extract_markup=True``) markup/boilerplate
        extraction (tag strip, entity decode,
        thin-line drop)                          → (no verdict leg)
    0. (``redact=True``) URL/email redaction     → (no verdict leg)
    1. quality gate (Gopher/C4 composite rules)  → ``quality``
    2. exact dedup (md5 keep-min)                → ``exact_dup``
    3. MinHash+LSH near-dup, components, keep-min → ``near_dup``
    3b. (``lm_ref`` given) KN perplexity filter  → ``lm_ppl``
    3c. (``substr_k`` given) ExactSubstr scrub   → ``substr_dup``
    4. benchmark n-gram decontamination          → ``contaminated``
    4b. (``semantic_emb`` given) embedding-level
        decontamination (r12 — the leakage the
        n-gram gate cannot see: paraphrase /
        translation)                             → ``semantic_contaminated``
    5. survivors                                 → ``kept``

    Output: ``(doc_id, verdict)`` — verdict is the FIRST stage that
    dropped the doc (later stages never see it, exactly as the staged
    run executes). Each stage's scale posture is documented on its
    own operator; the composition adds only id-keyed semi/anti joins
    between stages — nothing document-sized shuffles between stages
    beyond what the stages themselves do.

    ``hash_fn="md5"`` selects the engine-portable MinHash family so
    the whole pipeline is oracle-replayable end to end.

    ``substr_k`` enables the ExactSubstr stage (Lee et al., ACL 2022
    — the paper's scrub-then-train deployment) on the survivors of
    every earlier stage: maximal corpus-duplicated ≥``substr_k``-token
    runs are REMOVED from each document (substring-level dedup at any
    alignment — what doc-level MinHash structurally cannot do), docs
    scrubbed to nothing drop as ``substr_dup``, and decontamination
    runs on the SCRUBBED text (later stages only ever see what
    earlier stages emit). Scale posture: the scrub adds two
    fp-keyed corpus-scale exchanges over the survivor set (documented
    on the operator) — no pair joins, nothing quadratic.

    ``lm_ref`` enables the CCNet stage (Wenzek et al., LREC 2020) in
    CCNet's own position — after dedup, with the quality gates: a
    Kneser-Ney trigram LM trains on the clean reference corpus
    (CCNet uses Wikipedia; here the same reference corpus that drives
    decontamination) and the high-perplexity tail of the dedup
    survivors is dropped. The cut is on the 6dp-rounded
    length-normalized score (``avg_logprob < lm_min_avg_logprob`` ⇔
    ppl > exp(-lm_min_avg_logprob)) — an absolute threshold, exactly
    as CCNet deploys it (their per-language cuts are precomputed
    percentiles, constants at filter time). Docs the LM cannot score
    (no tokens after scrubbing control chars) fail the keep predicate
    and drop as ``lm_ppl``. Scale posture: training is one pass over
    the (small) reference corpus, scoring is keyed joins against
    vocabulary-bounded model tables plus a per-row threshold — no new
    corpus-scale shuffle enters the chain.
    """
    from bht_etl_app_spark.functions.lifecycle import (
        carry,
        persistent_rdd_ids,
        track_checkpoint_rdds,
    )
    from bht_etl_app_spark.operators.dedup import (
        dedup_clusters,
        dedup_exact,
        minhash_lsh_pairs,
    )

    # Stage boundaries TRUNCATE the logical plan (r12 optimization):
    # every boundary is an id-keyed decision/survivor list with
    # multiple consumers (the next stage's semi-join AND a verdict
    # leg), and under plain persist each consumer's LOGICAL plan
    # still embeds the whole upstream chain — stage k's tree contains
    # stage k-1's several times over (the KN stage alone references
    # its model tables five ways), so the composed plan grew
    # EXPONENTIALLY in stage count: curated_verdicts_full's formatted
    # plan was 46 MB / 71,752 Exchange nodes, and Catalyst re-analyzed
    # that tree on every DataFrame operation — ~2/3 of the query's
    # wall was DRIVER planning, not execution (measured: 39 s build +
    # 13 s execute at sf0.1). An eager localCheckpoint materializes
    # the same id-keyed rows the persist held (document text still
    # never hits a boundary) and replaces the subtree with a leaf —
    # plan growth drops to linear in stages. Blocks are
    # non-recomputable, so they follow the lifecycle registry's
    # explicit-release contract (the dedup_clusters precedent).
    sc = df.sparkSession.sparkContext
    _ckpt_ids: set[int] = set()

    def _boundary(frame: DataFrame) -> DataFrame:
        before = persistent_rdd_ids(sc)
        out = frame.localCheckpoint(eager=True)
        _ckpt_ids.update(persistent_rdd_ids(sc) - before)
        return out

    ids = F.col(id_col)
    # -2. URL stage (optional, r12 — VERDICT r11 #3): blocklist +
    # canonical-URL dedup run BEFORE any text parses — per-row regex
    # projections plus one (canonical_url, id) shuffle; at 100 TB
    # this prunes the corpus at a fraction of the cost of any text
    # stage, which is exactly why every crawl chain runs it first.
    # Both kernels are the standalone operators verbatim (the
    # url_canonical_dedup / domain_blocklist_filter contract keys),
    # so the stage and the keys can never diverge.
    url_drop_legs: list[DataFrame] = []
    if url_col is not None:
        from bht_etl_app_spark.operators.urls import (
            domain_blocklist_filter,
            url_canonical_dedup,
        )

        if url_blocklist is not None:
            blocked_ids = _boundary(
                domain_blocklist_filter(df, url_blocklist, url_col, id_col)
                .where(F.col("blocked"))
                .select(id_col)
            )
            url_drop_legs.append(
                blocked_ids.select(ids, F.lit("url_blocked").alias("verdict"))
            )
            df = df.join(blocked_ids, id_col, "left_anti")
        url_keep_ids = _boundary(
            url_canonical_dedup(df, url_col, id_col).select(id_col)
        )
        url_drop_legs.append(
            df.select(id_col)
            .join(url_keep_ids, id_col, "left_anti")
            .select(ids, F.lit("url_dup").alias("verdict"))
        )
        df = df.join(url_keep_ids, id_col, "left_semi")
    df = _pre_stages(df, text_col, extract_markup, redact, redact_classes)
    # Stage boundaries are persisted: the verdict union has five legs
    # and each leg's lineage would otherwise re-run every upstream
    # stage (quality's gram aggregation ~5x, measured 28 s -> at
    # sf0.01 before persisting). All cached frames are id-keyed
    # decision/survivor lists — document text never persists.
    # 1. quality
    qdec = _boundary(
        quality_filter_decisions(
            df, min_tokens=min_tokens, text_col=text_col, id_col=id_col
        )
    )
    drop_quality = qdec.where(~F.col("keep")).select(
        ids, F.lit("quality").alias("verdict")
    )
    qs = df.join(
        qdec.where(F.col("keep")).select(id_col), id_col, "left_semi"
    )
    # 2. exact dedup
    exact_keep = _boundary(dedup_exact(qs, text_col, id_col).select(id_col))
    drop_exact = qs.select(id_col).join(exact_keep, id_col, "left_anti").select(
        ids, F.lit("exact_dup").alias("verdict")
    )
    es = qs.join(exact_keep, id_col, "left_semi")
    # 3. near-dup: verified pairs -> components -> keep-min
    # threshold passed EXPLICITLY: minhash_lsh_pairs defaults to 0.5,
    # but the curation rule (and the replaying oracle) verifies at
    # 0.8 — relying on the default silently over-dropped mid-band
    # pairs and broke end-to-end replay (r5 session-2 review #1)
    pairs = minhash_lsh_pairs(
        es, text_col, id_col, threshold=near_dup_threshold, hash_fn=hash_fn
    )
    comp = dedup_clusters(pairs)
    drop_near_ids = _boundary(
        comp.where(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
    )
    drop_near = drop_near_ids.select(ids, F.lit("near_dup").alias("verdict"))
    ns = es.join(drop_near_ids, id_col, "left_anti")
    # 3b. CCNet perplexity filter (optional): score the dedup
    # survivors against the reference-trained KN model, drop the
    # high-perplexity tail. The keep list persists like every other
    # stage boundary; the scores frame carries the model's persisted
    # count tables, so it is carried onto the output below — deriving
    # the keep list alone would GC-unpersist them mid-use (the
    # attribute-dropping hazard documented in ngram_lm).
    lm_scores = None
    if lm_ref is not None:
        from bht_etl_app_spark.operators.ngram_lm import kn_doc_logprob

        lm_scores = kn_doc_logprob(
            ns, text_col, id_col, d=lm_d, train_df=lm_ref, final_round=6
        )
        lm_keep_ids = _boundary(
            lm_scores.where(
                F.col("avg_logprob").isNotNull()
                & (F.col("avg_logprob") >= F.lit(float(lm_min_avg_logprob)))
            ).select(id_col)
        )
        drop_lm = ns.select(id_col).join(
            lm_keep_ids, id_col, "left_anti"
        ).select(ids, F.lit("lm_ppl").alias("verdict"))
        ns = ns.join(lm_keep_ids, id_col, "left_semi")
    # 3c. ExactSubstr scrub (optional): remove corpus-duplicated
    # token runs from the survivors; fully-scrubbed docs drop, the
    # decontamination stage consumes the SCRUBBED text. Only the
    # id-keyed keep list persists (the no-text-persists discipline);
    # the scrubbed text recomputes into the decontamination stage
    # with the operator's own persisted grams frame bounding the
    # recompute. scr is carried onto the output for that frame's
    # lifecycle.
    scr = None
    if substr_k is not None:
        from bht_etl_app_spark.operators.substr_dedup import exact_substr_scrub

        # hash_fn forwards so the production chain shuffles 8-byte
        # xxhash64 fps, not 32-char md5 strings (r8 review #1 — the
        # stage silently ran md5 under hash_fn="xxhash64" before)
        scr = exact_substr_scrub(
            ns, k=substr_k, text_col=text_col, id_col=id_col, hash_fn=hash_fn
        )
        # The scrub output feeds TWO consumers (the keep list and the
        # decontamination stage), so its plan evaluates twice under
        # the default no-text-persists discipline (the operator's own
        # persisted grams frame bounds the recompute to the probe +
        # gaps-and-islands half). An id+text persist boundary that
        # scrubs once was MEASURED on the full chain at sf0.1/10x/30x
        # (PERFORMANCE.md r9): it wins ~16% at 1x but LOSES 10-17% at
        # 10x/30x — corpus-sized text blocks spill and their
        # write+read outprices the grams-bounded recompute.
        scr_txt = scr.select(id_col, "n_kept", "n_removed", "scrubbed_text")
        # keep = survivors with kept tokens OR untouched docs — the
        # n_removed == 0 arm distinguishes "was already empty" from
        # "scrubbed to nothing" (r8 ADVICE: under min_tokens=0 an
        # empty survivor got n_kept=0 and a semantically wrong
        # 'substr_dup' verdict even though nothing was duplicated;
        # unreachable under the default quality gate, pinned in
        # tests/test_corpus.py::test_curate_substr_empty_doc_edge)
        substr_keep_ids = _boundary(
            scr_txt.where((F.col("n_kept") > 0) | (F.col("n_removed") == 0))
            .select(id_col)
        )
        drop_substr = ns.select(id_col).join(
            substr_keep_ids, id_col, "left_anti"
        ).select(ids, F.lit("substr_dup").alias("verdict"))
        ns = scr_txt.join(substr_keep_ids, id_col, "left_semi").select(
            F.col(id_col), F.col("scrubbed_text").alias(text_col)
        )
    # 4. decontamination
    dec = _boundary(
        decontaminate(
            ns, benchmark, n=decontam_n, text_col=text_col, id_col=id_col
        )
    )
    drop_cont = dec.where(F.col("contaminated")).select(
        ids, F.lit("contaminated").alias("verdict")
    )
    surv = dec.where(~F.col("contaminated")).select(id_col)
    # 4b. embedding-level decontamination (optional, r12 — VERDICT
    # r11 #2's curate_corpus composition): the paraphrase/translation
    # leakage invisible to stage 4's n-grams. Scores ONLY the lexical
    # survivors (embedding side semi-joins to the survivor ids before
    # the broadcast probe — at 100 TB nothing already dropped pays
    # for a cosine), through the SAME semantic_decontaminate kernel
    # as the standalone contract key, so the stage and the key can
    # never diverge. Docs with no embedding row PASS — no evidence is
    # not contamination, the lm_ppl-stage inverse convention
    # (documented asymmetry: the LM judges missing scores as drops
    # because ppl gates on quality; decontamination drops only on
    # positive evidence of leakage).
    drop_sem = None
    if semantic_emb is not None and semantic_bench_emb is not None:
        emb_surv = semantic_emb.join(surv, id_col, "left_semi")
        sem_flag_ids = _boundary(
            semantic_decontaminate(
                emb_surv, semantic_bench_emb,
                threshold=semantic_threshold, id_col=id_col,
                vec_col=semantic_vec_col,
            )
            .where(F.col("contaminated"))
            .select(id_col)
        )
        drop_sem = surv.join(sem_flag_ids, id_col, "left_semi").select(
            ids, F.lit("semantic_contaminated").alias("verdict")
        )
        surv = surv.join(sem_flag_ids, id_col, "left_anti")
    kept = surv.select(ids, F.lit("kept").alias("verdict"))
    out = drop_quality.unionByName(drop_exact).unionByName(drop_near)
    if lm_scores is not None:
        out = out.unionByName(drop_lm)
    if scr is not None:
        out = out.unionByName(drop_substr)
    out = out.unionByName(drop_cont)
    if drop_sem is not None:
        out = out.unionByName(drop_sem)
    out = out.unionByName(kept)
    for leg in url_drop_legs:
        out = out.unionByName(leg)
    # Boundary checkpoint blocks are non-recomputable: registered for
    # explicit freeing (release(out) / sweep_checkpoints), never a GC
    # finalizer — the dedup_clusters contract. comp / lm_scores / scr
    # stay carried for their own internal caches (the scrub's per-doc
    # span cache is still read by the decontamination stage's plan).
    out = track_checkpoint_rdds(out, sc, _ckpt_ids)
    out = carry(out, comp)
    if lm_scores is not None:
        out = carry(out, lm_scores)
    if scr is not None:
        out = carry(out, scr)
    return out

"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale posture (the part that matters at 100 TB):

- Exact dedup shuffles *hashes*, not documents: group on md5(norm)
  and keep the min id. One shuffle of (hash, id).
- N-gram Jaccard avoids the O(n²) cross join by exploding distinct
  shingles and self-joining on the shingle (inverted index): cost is
  bounded by shingle-match frequency, and hot shingles can be
  dropped with a document-frequency cap (``max_shingle_df``).
- MinHash LSH banding reduces candidate generation to equality joins
  on (band, band-hash) — each band join is a plain shuffled equi-join.
- Embedding near-dup brute force is quadratic; it exists as the small
  baseline and for verification. The scale path is LSH bucketing in
  similarity.py.

Everything is native Spark SQL expressions (xxhash64, transform,
aggregate) — no Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bht_etl_app_spark.functions.lifecycle import track_persisted
from bht_etl_app_spark.operators.text import tokens_expr
from bht_etl_app_spark.session import ensure_min_parallelism


def _norm_text(col: str) -> Column:
    return F.lower(F.trim(F.regexp_replace(F.col(col), r"\s+", " ")))


def shingles_expr(tok_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingle array (sorted for determinism)
    over an ALREADY-MATERIALIZED token-array column — pure JVM.

    The token array must be its own projected column, never the
    inline ``tokens_expr(text)`` tree: higher-order lambdas are
    interpreted with no common-subexpression elimination, so a token
    expression referenced inside the per-gram lambda would re-run
    split+filter once PER GRAM POSITION (measured 5x at sf0.1).
    ``_shingled()`` below does the two-projection dance."""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    sz = F.size(toks)
    # n shifted slice views zipped positionally, then one concat per
    # position (r12 optimization): the previous per-position lambda
    # called slice() inside the interpreted transform — a fresh
    # n-element array allocation per gram position; the zip form does
    # n whole-array slices once and the per-position work is three
    # struct reads + a concat (measured 2x on the shingle explode at
    # sf0.1; identical grams)
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, sz - (n - 1)).alias(f"t{i}") for i in range(n)]
    )
    grams = F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x[f"t{i}"] for i in range(n)])
    )
    # guard: slice with a non-positive length is invalid — docs
    # shorter than n tokens get no shingles
    return F.when(sz >= n, F.array_sort(F.array_distinct(grams))).otherwise(
        F.array().cast("array<string>")
    )


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int, alias: str) -> DataFrame:
    """(id, shingles) with the token array materialized in its own
    projection between tokenize and shingle (see shingles_expr)."""
    return (
        df.select(F.col(id_col), tokens_expr(text_col).alias("__toks__"))
        .select(F.col(id_col), shingles_expr("__toks__", n).alias(alias))
    )


def minhash_mix_params(k: int) -> tuple[int, int]:
    """Seed-k mixing parameters for the portable MinHash family:
    ``h_k(x) = rotr64(x, rot_k) XOR c_k`` over the per-shingle md5
    base hash. Rotation amounts are distinct per seed; the xor
    constants are golden-ratio multiples (SplitMix64's increment),
    returned as SIGNED 64-bit literals. Each ``h_k`` is a bijection,
    so min-over-shingles behaves as an independent-ish permutation
    per seed; the exact-Jaccard verify stage makes precision exact
    regardless."""
    rot = (k * 11) % 61 + 2
    c = (0x9E3779B97F4A7C15 * (k + 1)) % (1 << 64)
    if c >= 1 << 63:
        c -= 1 << 64
    return rot, c


def md5_long_expr(c: Column) -> Column:
    """Signed 64-bit hash from the first 16 hex chars of md5 —
    engine-portable (DuckDB: ``('0x' || substr(md5(x),1,16))::UBIGINT``
    wrapped to signed), unlike ``xxhash64``. Used where hash BITS feed
    oracle-checked results (simhash); plain partitioning/fingerprint
    hashes keep the faster xxhash64."""
    d = F.conv(F.substring(F.md5(c), 1, 16), 16, 10).cast("decimal(20,0)")
    wrap = F.lit("18446744073709551616").cast("decimal(21,0)")  # 2^64
    half = F.lit("9223372036854775808").cast("decimal(20,0)")  # 2^63
    return F.when(d >= half, (d - wrap).cast("long")).otherwise(d.cast("long"))


def base_hash_expr(hash_fn: str):
    """The per-token/per-shingle base hash for the MinHash/SimHash
    family, selected by name (the ``winnow_fingerprints`` fast-twin
    pattern, r4 VERDICT item #3):

    - ``"xxhash64"`` — the PRODUCTION default: one JVM hash op per
      element, ~2x the md5 path on the dedup family at sf0.1 (hashing
      is a top-3 CPU cost at 100 TB). Spark-only bits.
    - ``"md5"`` — the engine-PORTABLE family (:func:`md5_long_expr`),
      reproducible in the DuckDB oracle; the differential-testing twin
      every oracle-checked contract query pins. Same downstream
      rotate-xor seed mixing either way, so the two families share
      all banding/verify code and differ only in the base bits.
    """
    if hash_fn == "xxhash64":
        # wrapped: varargs builtins can't be passed to transform() as-is
        return lambda c: F.xxhash64(c)
    if hash_fn == "md5":
        return md5_long_expr
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact (whitespace/case-normalized) dedup: keep the row with the
    minimum id per content hash. Output: ``(doc_id, fp, group_size)``
    for the surviving rows. Shuffles (fp, id) only."""
    fp = F.md5(_norm_text(text_col))
    hashed = ensure_min_parallelism(df).select(F.col(id_col), fp.alias("fp"))
    groups = hashed.groupBy("fp").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("group_size"),
    )
    return groups.select(id_col, "fp", "group_size")


def dedup_incremental(
    new_docs: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against a historical
    fingerprint store — the shape of a continuously-ingesting corpus:
    the crawl's past fingerprints are a (huge) table you join against,
    never a set you rebuild. Output: ``(doc_id, fp, kept)`` for every
    new doc; ``kept`` means the doc is (a) unseen in history AND
    (b) the minimum-id representative of its fingerprint within the
    new batch.

    Plan shape at 100 TB of history: both sides reduce to
    fingerprints before joining, so the join shuffles ``(fp, id)``
    pairs, never documents; the history side arrives pre-distinct
    (store fps partitioned/bucketed by fp and the join is
    co-partitioned). The in-batch min-id uses the SAME fp
    partitioning as the join — one shuffle total on the new side.
    """
    from pyspark.sql import Window

    fps = ensure_min_parallelism(new_docs).select(
        F.col(id_col), F.md5(_norm_text(text_col)).alias("fp")
    )
    hist = history.select(F.col(fp_col).alias("fp")).distinct().withColumn(
        "__seen__", F.lit(True)
    )
    w = Window.partitionBy("fp")
    return (
        fps.join(hist, "fp", "left")
        .withColumn("__min_id__", F.min(id_col).over(w))
        .select(
            F.col(id_col),
            F.col("fp"),
            (F.col("__seen__").isNull() & (F.col(id_col) == F.col("__min_id__"))).alias(
                "kept"
            ),
        )
    )


def _shingle_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_df: int | None,
):
    """Shared inverted-shingle-index candidate machinery for the
    symmetric (Jaccard) and asymmetric (containment) pair operators:
    explode distinct shingles, optionally drop stop-shingles above
    ``max_shingle_df``, self-join on the shingle, count shared
    shingles per pair. Returns ``(pairs, persisted)`` where pairs =
    ``(id_a, id_b, n_a, n_b, shared)`` with ``id_a < id_b`` and
    ``persisted`` is the exploded posting set both self-join sides
    read (persisted because Catalyst does not reuse the exchange
    across aliased sides — PERFORMANCE.md materialize-or-recompute
    rule; callers must thread it through ``track_persisted``)."""
    from pyspark import StorageLevel

    sh = _shingled(
        ensure_min_parallelism(df), text_col, id_col, n, "shingles"
    ).select(F.col(id_col).alias("id"), "shingles").withColumn(
        "n_sh", F.size("shingles")
    )
    persisted = sh.select("id", "n_sh", F.explode("shingles").alias("s")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    exploded = persisted
    if max_shingle_df is not None:
        df_counts = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        exploded = exploded.join(
            F.broadcast(df_counts.where(F.col("df") <= max_shingle_df)), "s"
        ).drop("df")
    a = exploded.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "s")
    b = exploded.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pairs, persisted


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle
    index (no cross join): explode distinct shingles, self-join on the
    shingle, count shared shingles per pair, compute
    ``|A∩B| / (|A|+|B|-|A∩B|)``, keep pairs ≥ threshold with a<b.
    Output: ``(id_a, id_b, jaccard)``.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs (stop-shingles) — the standard guard against quadratic blowup
    on boilerplate at scale.
    """
    cand, persisted = _shingle_candidate_pairs(
        df, text_col, id_col, n, max_shingle_df
    )
    pairs = cand.select(
        "id_a",
        "id_b",
        F.round(
            F.col("shared")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
            6,
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
    return track_persisted(pairs, persisted)


def ngram_jaccard_pairs_ppjoin(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via PPJoin-style prefix +
    positional filtering (Bayardo et al., "Scaling Up All Pairs
    Similarity Search", WWW'07; Xiao et al., "Efficient Similarity
    Joins for Near Duplicate Detection", WWW'08). Output identical to
    :func:`ngram_jaccard_pairs` with NO ``max_shingle_df`` cap:
    ``(id_a, id_b, jaccard)``, pairs ≥ threshold, ``id_a < id_b``.

    Why this exists next to the df-cap variant: the cap is LOSSY — it
    silently drops pairs whose overlap rides boilerplate shingles.
    Prefix filtering is LOSSLESS and attacks the same quadratic
    blowup from the other side: sort each doc's shingles by global
    rarity ``(df ASC, shingle ASC)`` and index only the first
    ``|x| - ceil(t·|x|) + 1`` of them (~``(1-t)·|x|+1`` ≈ 20% at
    t=0.8). Soundness: if ``J(x,y) ≥ t`` then
    ``|x∩y| ≥ ceil(t·max(|x|,|y|))``, and two sets sharing ≥ α
    elements of a total order must collide within their first
    ``len - α + 1`` elements. Because the order is rarest-first, the
    indexed postings lists are the SHORT ones by construction — the
    boilerplate shingles that made the naive inverted index quadratic
    sit at the back of every prefix and are never joined on.

    The positional filter then prunes candidates whose best-case
    overlap (prefix matches + what can still follow the last matched
    positions) cannot reach ``α = ceil(t/(1+t)·(|x|+|y|))``, before
    the exact verify.

    Plan shape at 100 TB: one corpus-scale explode; a vocabulary-keyed
    df-count aggregation (map-side combine); a per-DOC rank window
    (bounded by per-doc shingle count — never corpus-wide); a prefix×
    prefix equi-join on the shingle (the only pair-producing shuffle,
    bounded by rare-posting lengths); and a verify join that touches
    only candidate docs' postings. The float guards use an epsilon
    RELAXATION (never exclusion), so binary-float edges like
    ``0.8·5 → 4.0000000000000004`` can only admit extra candidates —
    the exact integer-arithmetic verify keeps output identity.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    eps = 1e-9
    sh = (
        _shingled(ensure_min_parallelism(df), text_col, id_col, n, "shingles")
        .select(F.col(id_col).alias("id"), "shingles")
        .withColumn("n_sh", F.size("shingles"))
        .where(F.col("n_sh") > 0)
    )
    # postings feed three consumers (df counts, prefix index, verify)
    ex = sh.select("id", "n_sh", F.explode("shingles").alias("s")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dfc = ex.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    w = Window.partitionBy("id").orderBy(F.asc("d"), F.asc("s"))
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - eps).cast("int")
        + 1
    )
    prefix = (
        ex.join(dfc, "s")
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= prefix_len)
        .select("id", "n_sh", "s", "pos")
        # both self-join sides below read the prefix index; persist the
        # ~(1-t) slice, not the full posting set
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = prefix.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"),
        "s", F.col("pos").alias("pos_a"),
    )
    b = prefix.select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"),
        "s", F.col("pos").alias("pos_b"),
    )
    alpha = F.ceil(
        F.lit(threshold)
        / (1.0 + threshold)
        * (F.col("n_a") + F.col("n_b")).cast("double")
        - eps
    )
    cands = (
        a.join(b, "s")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter, epsilon-relaxed: |y| ≥ t·|x| both ways
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a") - eps)
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b") - eps)
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.max("pos_a").alias("pa"),
            F.max("pos_b").alias("pb"),
        )
        # positional filter: prefix matches + the tail past the last
        # matched position upper-bound the total overlap
        .where(
            F.col("m")
            + F.least(F.col("n_a") - F.col("pa"), F.col("n_b") - F.col("pb"))
            >= alpha
        )
        .select("id_a", "id_b", "n_a", "n_b")
    )
    shared = (
        cands.join(ex.select(F.col("id").alias("id_a"), "s"), "id_a")
        .join(ex.select(F.col("id").alias("id_b"), "s"), ["id_b", "s"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    pairs = shared.select(
        "id_a",
        "id_b",
        F.round(
            F.col("shared")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
            6,
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
    return track_persisted(pairs, ex, prefix)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: for each of ``num_hashes``
    seeded hash functions, the min over shingles of the rotate-xor
    mix of the base shingle hash (:func:`base_hash_expr` —
    ``xxhash64`` production default, ``"md5"`` for the
    oracle-portable twin).
    Output: ``(doc_id, sig: array<long>)``. Pure projection, no shuffle.

    Documents with fewer than ``n`` tokens have NO shingles and are
    dropped here: an empty shingle set can never be a near-dup under
    shingle Jaccard, and its all-null signature would otherwise hash
    every short doc into the SAME band bucket in every band — an
    O(short_docs²) candidate blowup at corpus scale."""
    # Materialize the shingle array in its own projection: it is
    # referenced num_hashes times below, and Catalyst's CollapseProject
    # keeps multi-referenced non-cheap aliases split, so the expensive
    # tokenize+shingle expression is evaluated ONCE per row instead of
    # once per hash function (16x speedup measured at sf0.1).
    #
    # The short-doc filter uses the TOKEN-count predicate, not
    # size(shingles) — they are equivalent (shingles are empty iff the
    # doc has < n tokens; see shingles_expr's guard), but Catalyst
    # pushes filters below projections by substituting the aliased
    # expression into the predicate, so filtering on the shingle array
    # re-evaluated the whole tokenize→shingle→distinct→sort chain per
    # row inside the pushed-down Filter (measured 2× on this operator:
    # 3.0 s → 6.2 s at sf0.1). Pushing the token-count form only
    # duplicates the cheap tokenizer.
    shingled = _shingled(
        ensure_min_parallelism(df).where(F.size(tokens_expr(text_col)) >= n),
        text_col, id_col, n, "__shingles__",
    )

    # ONE base hash per shingle, then a rotate-xor mix per seed — the
    # md5 family makes the whole signature expressible in the DuckDB
    # oracle (r4 promotion of the composite dedup pipeline); xxhash64
    # is the cheaper production default (r4 measured the md5 trade at
    # ~1.3-1.7x on this family). Base hashes get their own projection
    # so the hash runs once, not once per seed (CollapseProject keeps
    # multi-referenced non-cheap aliases split).
    hashed = shingled.select(
        F.col(id_col),
        F.transform(F.col("__shingles__"), base_hash_expr(hash_fn)).alias("__hs__"),
    )

    # NB: bind k via a factory, NOT a lambda default arg — PySpark
    # dispatches higher-order lambdas on arity, so a 2-arg lambda would
    # be called as (element, index).
    def _minhash(k: int):
        rot, c = minhash_mix_params(k)
        return F.array_min(
            F.transform(
                F.col("__hs__"),
                lambda h: F.shiftrightunsigned(h, rot)
                .bitwiseOR(F.shiftleft(h, 64 - rot))
                .bitwiseXOR(F.lit(c)),
            )
        )

    sig = F.array(*[_minhash(k) for k in range(num_hashes)])
    return hashed.select(F.col(id_col), sig.alias("sig"))


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Banded MinHash signatures ``(id, band, bh)`` — the LSH index
    rows. Band key = the raw signature slice (portable — tuple
    equality needs no engine-specific hash). This IS the thing an
    incremental pipeline stores: an append-only banded-signature
    table partitioned by (band, bh-prefix), so each new batch probes
    the store with a plain equi-join."""
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes, hash_fn)
    return bands_from_signatures(sigs, num_hashes, bands, id_col=id_col)


def bands_from_signatures(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band keys off an ALREADY-COMPUTED signature frame — the cheap
    projection half of :func:`minhash_bands`, split out so a sweep
    (the banding frontier) can band ONE persisted signature frame
    several ways instead of re-running the tokenize→shingle→minhash
    pipeline per band count (the r10 frontier paid that per arm)."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "|",
                        *[
                            F.col("sig")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    ).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    banded: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup detection: band the signature, join on
    (band index, band hash) to get candidates, then verify candidates
    with the exact n-gram Jaccard. Output: ``(id_a, id_b, jaccard)``.

    The band join is a plain equi-join on a 2-tuple key — at scale
    each band bucket is small (tunable via bands/rows-per-band), so
    candidate generation is linear-ish rather than quadratic.

    ``banded``: a precomputed (id, band, bh) frame (ADVICE r10 — the
    shape an incremental pipeline's persisted band store probes
    with); when given, the caller owns its lifecycle and
    ``num_hashes``/``bands``/``hash_fn`` are ignored for candidate
    generation. CONTRACT (ADVICE r11): the supplied frame must have
    been banded over signatures built with the SAME shingle ``n``
    passed here — the exact-Jaccard verify stage re-shingles ``df``
    at ``n``, so a mismatched banding silently yields an
    inconsistent candidate/verify pipeline. Pinned by
    ``test_minhash_lsh_pairs_precomputed_banded``.
    """
    from pyspark import StorageLevel

    owns_banded = banded is None
    if owns_banded:
        banded = minhash_bands(
            df, text_col, id_col, n, num_hashes, bands, hash_fn
        )
        # persist the banded signatures: the self-join below
        # references the pipeline twice and Catalyst does NOT reuse
        # the exchange across the two aliased sides, so without this
        # the tokenize->shingle->16x-minhash projection (the dominant
        # cost) runs twice. (bands x (id, band, bh)) rows are tiny
        # relative to the corpus — the canonical thing to materialize
        # at 100 TB too.
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    # referenced three times below (cand_ids twice via union + the
    # verify join) — persist instead of recomputing the band join
    cand = lsh_candidate_pairs(banded).persist(StorageLevel.MEMORY_AND_DISK)
    verified = verify_candidate_jaccard(
        df, cand, text_col, id_col, n, threshold
    )
    if owns_banded:
        return track_persisted(verified, banded, cand)
    return track_persisted(verified, cand)


def lsh_candidate_pairs(banded: DataFrame) -> DataFrame:
    """Candidate pairs off a banded-signature frame: the (band, bh)
    self-equi-join, ordered ids, distinct. The one join every LSH
    family member shares."""
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def verify_candidate_jaccard(
    df: DataFrame,
    cand: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-Jaccard verification of a candidate pair frame —
    shingles computed only for documents that appear in a candidate
    pair (semi join first): at scale the candidate set is a tiny
    fraction of the corpus and shingling the full corpus again would
    dominate. Output: ``(id_a, id_b, jaccard)`` at or above
    ``threshold``.

    The candidate shingle frame persists (r12 optimization): both
    aliased sides of the verify join read it and Catalyst does not
    reuse work across aliased sides, so without the cache the
    semi-join + tokenize + shingle of every candidate doc ran twice.
    The cached rows are (id, shingles) for CANDIDATE docs only —
    bounded by the candidate set, a small fraction of the corpus at
    scale."""
    from pyspark import StorageLevel

    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = _shingled(
        df.join(cand_ids.withColumnRenamed("id", id_col), id_col, "left_semi"),
        text_col, id_col, n, "shingles",
    ).withColumnRenamed(id_col, "id").persist(StorageLevel.MEMORY_AND_DISK)
    out = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return track_persisted(out, sh)


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum +1/-1 of
    each token-hash bit, then take the sign. Near-identical documents
    differ in few bits (use hamming distance ≤ k downstream).
    Output: ``(doc_id, simhash: long)``. Pure projection.

    Single-fold kernel: ONE ``F.aggregate`` over the token-hash array
    with a 64-counter accumulator (``zip_with`` against a literal bit
    mask array updates all 64 vote counters per element), instead of
    64 per-bit folds that each re-walk the array — higher-order
    lambdas are interpreted, so fold count is the dominant constant
    (VERDICT r1 item #3)."""
    # bit i mask as a SIGNED long: 1<<63 doesn't fit, so the sign bit
    # mask is written negative; h & mask != 0 tests bit i for all i,
    # and OR-ing the mask back in sets it — identical to the old
    # shiftright/shiftleft formulation bit-for-bit.
    masks = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
    )
    # materialize the token-hash array once (multi-referenced non-cheap
    # alias stays in its own projection — see minhash_signatures)
    hashed = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.transform(tokens_expr(text_col), base_hash_expr(hash_fn)).alias("__h__"),
    )
    votes = F.aggregate(
        F.col("__h__"),
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            F.col("__votes__"),
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a.bitwiseOR(b),
    )
    return hashed.select(F.col(id_col), votes.alias("__votes__")).select(
        F.col(id_col), sim.alias("simhash")
    )


def _concat_blocks(blocks: list[Column], wbits: int) -> Column:
    """OR block values into one key long: block i occupies bits
    ``[i*wbits, (i+1)*wbits)``. Caller guarantees the total stays
    under 64 bits, so the key is non-negative and collision-free."""
    key = blocks[0]
    for i, b in enumerate(blocks[1:], start=1):
        key = key.bitwiseOR(F.shiftleft(b, i * wbits))
    return key


def simhash_pick(bands: int, max_hamming: int) -> int:
    """Table subset size for the combinatorial banding: m-k blocks
    give the widest keys, but ANY subset size s <= m-k keeps recall
    exact (<= k differing bits touch <= k blocks, so >= m-k blocks —
    hence some s-subset — are untouched and appear as a table).
    Shrink s until the concatenated key fits a signed long AND the
    table count C(bands, s) stays bounded — C grows fast (bands=16,
    k=3 at full width is already 560 tables), and both the explode
    expression and the shuffle fan-out scale with it. s=1 is the
    classic one-block-per-table banding, always valid."""
    w = 64 // bands
    pick = bands - max_hamming
    while pick > 1 and (pick * w > 63 or math.comb(bands, pick) > 64):
        pick -= 1
    return pick


def simhash_banded_frame(
    sig: DataFrame, bands: int, pick: int, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate-table rows ``(id, simhash, band, bk)`` for a 64-bit
    signature frame: one row per (doc, ``pick``-block combination),
    keyed on the combination's concatenated bits (Manku WWW'07
    combinatorial banding; ``pick=1`` is classic one-block-per-table).
    Shared by :func:`simhash_near_dup_pairs` and the scale-octave
    measurement tool so pair-work numbers measure the REAL keys."""
    from itertools import combinations

    w = 64 // bands
    mask = (1 << w) - 1 if w < 64 else -1

    def block(b: int):
        return F.shiftright(F.col("simhash"), b * w).bitwiseAND(F.lit(mask))

    combos = list(combinations(range(bands), pick))
    return sig.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(t).alias("band"),
                    _concat_blocks([block(b) for b in combo], w).alias("bk"),
                )
                for t, combo in enumerate(combos)
            ])
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bk")


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs via a combinatorial banded hamming join
    (Manku/Jain/Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW'07 §3; reference has no near-dup operator at all — this
    complements MinHash-LSH for the training-corpus dedup surface).

    Pigeonhole guarantee: split the 64-bit signature into ``bands``
    equal blocks; a pair within hamming ``k = max_hamming`` differs
    in at most ``k`` blocks, so the two signatures agree EXACTLY on
    some ``bands - k``-block combination — each combination is one
    candidate table, keyed on its blocks' concatenated bits. Recall
    is therefore exact, not probabilistic (unlike MinHash banding).
    Verification is ``bit_count(a ^ b) <= k`` on candidates only,
    which ALSO makes the output independent of the banding config:
    any valid ``bands`` yields exactly the brute-force pair set.

    The scale knob (r4 VERDICT item #7): at the default
    ``bands = k + 1`` each table keys on ONE block — 16-bit keys at
    k=3, i.e. 65k buckets/table, and random bucket occupancy grows
    candidate work QUADRATICALLY once the corpus passes ~2^16 docs
    (measured 47 -> 1385 pairs/row across the 5k -> 150k octave).
    Raising ``bands`` widens the keys combinatorially: bands=8, k=3
    keys on 5-block combos — 40-bit keys (10^12 buckets) across
    C(8,5)=56 tables. Fan-out grows 4x -> 56x (linear, shuffle-bound)
    while per-bucket collisions collapse to the true duplicate rate
    (quadratic term gone). Same plan, different constants — a config,
    not a plan change.

    At 100 TB: one narrow signature projection, one (table, key)
    shuffle whose fan-out is rows x C(bands, bands-k), per-bucket
    pair cost bounded by key width. The signatures ride through the
    band join, so no join back to the corpus is needed for
    verification.

    Output: ``(id_a, id_b, hamming)``, id_a < id_b.
    """
    bands = bands or max_hamming + 1
    if 64 % bands != 0:
        raise ValueError("bands must divide 64")
    if bands <= max_hamming:
        raise ValueError(
            "bands must exceed max_hamming for exact recall "
            f"(got bands={bands}, max_hamming={max_hamming})"
        )
    w = 64 // bands
    mask = (1 << w) - 1 if w < 64 else -1
    pick = simhash_pick(bands, max_hamming)

    sig = simhash64(df, text_col=text_col, id_col=id_col, hash_fn=hash_fn)
    banded = simhash_banded_frame(sig, bands, pick, id_col=id_col)
    # persisted: the aliased self-join would otherwise run the
    # tokenize+hash signature projection once per side (same lesson as
    # minhash_lsh_pairs / embedding_lsh_near_dup_pairs)
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    out = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bk"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return track_persisted(out, banded)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Brute-force embedding-cosine near-dup pairs (a<b, cos ≥ τ).
    Quadratic — kept ONLY as the small-N verification baseline for
    tests; the contract and scale path is
    :func:`embedding_lsh_near_dup_pairs` (VERDICT r1 item #2).
    Output: ``(id_a, id_b, cosine)``."""
    from bht_etl_app_spark.operators.similarity import cosine_expr

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_lsh_near_dup_pairs(
    emb: DataFrame,
    planes: list[list[float]],
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded random-hyperplane
    LSH — the bucketed scale path (no cross join anywhere).

    1. Project each vector's hyperplane bit signature (one narrow
       projection, ``similarity.hyperplane_bucket_expr``).
    2. Split the signature into ``bands`` band keys and explode to
       ``(id, band, key)`` — a pair is a candidate iff it collides in
       ANY band (standard LSH banding, same shape as MinHash).
    3. Equi-join on (band, key), distinct pairs, then exact cosine on
       the candidate pairs only; keep cos ≥ τ.

    Output: ``(id_a, id_b, cosine)``.

    RECALL CONTRACT: candidates are approximate. A pair with cos ≥ τ
    that collides in no band is missed; recall rises with fewer bits
    per band / more probes and approaches 1 for true near-dups
    (θ → 0). The driver oracle mirrors this exact banding in SQL
    (same rounded plane literals — ``similarity.lsh_planes``), so the
    whole approximate computation is still hash-verified; the
    brute-force path above is the recall reference in tests.

    At 100 TB: cost is Σ per-bucket rows², controlled by the plane
    count (bucket granularity); shuffles are the band equi-join and
    the two id-joins back to vectors for verification — all plain
    hash joins.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.operators.similarity import hyperplane_bucket_expr

    if len(planes) % bands != 0:
        raise ValueError("len(planes) must be divisible by bands")
    rpb = len(planes) // bands
    mask = (1 << rpb) - 1

    bucketed = ensure_min_parallelism(emb).select(
        F.col(id_col).alias("id"),
        hyperplane_bucket_expr(F.col(vec_col), planes).alias("__sig__"),
    )
    banded = bucketed.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("__sig__"), b * rpb)
                    .bitwiseAND(F.lit(mask))
                    .alias("bk"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bk")
    # persisted: the self-join below references this pipeline twice and
    # Catalyst does not reuse the exchange across aliased sides — the
    # signature projection (the expensive part) would run twice
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bk"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # precompute each vector's norm ONCE instead of twice per
    # candidate pair inside cosine_expr — the verify stage is the
    # dominant cost and this is arithmetic-identical (same fold, same
    # sqrt), so oracle hashes are unaffected
    from bht_etl_app_spark.operators.similarity import dot_expr, norm_expr

    vecs = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_expr(F.col(vec_col)).alias("n"),
    )
    cosine = dot_expr(F.col("va"), F.col("vb")) / F.nullif(
        F.col("na") * F.col("nb"), F.lit(0.0)
    )
    out = (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")),
            "id_b",
        )
        .select("id_a", "id_b", F.round(cosine, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
    return track_persisted(out, banded)


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    driver_edge_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every
    document gets the MINIMUM id reachable through pair edges as its
    cluster id (the canonical representative) — turning pairwise
    near-dup hits into dedupable groups.

    Iterative min-label propagation: each round joins current labels
    across edges and keeps the smaller; converges in O(diameter)
    rounds (near-dup clusters are small and dense, so a handful).
    Each round is one shuffled join + aggregate. AQE handles the
    shrinking frontier; ``max_iter`` bounds the worst case.

    Small-graph fast path (r4): a near-dup edge set is usually a tiny
    fraction of the corpus — often thousands of edges from millions
    of docs — and below ``driver_edge_threshold`` edges the graph is
    MODEL-PARAMETER-SIZED (same class as k-means centroids), while
    each distributed round still pays fixed plan-analysis + job
    overhead. Such graphs are solved with driver-side union-find
    (identical min-label output, microseconds) after the edges are
    materialized anyway for the loop; the distributed iteration is
    the ≥ threshold path. Pass ``driver_edge_threshold=0`` to force
    the distributed loop.

    Output: ``(doc_id, cluster_id)`` for every id appearing in pairs.

    ``checkpoint_dir``: when set, per-round lineage truncation uses
    reliable ``checkpoint()`` to that directory (HDFS/S3 on a real
    cluster) instead of ``localCheckpoint`` — localCheckpoint keeps
    blocks only in executor memory/disk, so an executor loss mid-run
    kills the job; a 100 TB-corpus iteration needs the durable form
    (VERDICT r1 item #5). Default stays local for test-speed.

    Lifecycle contract: each round's checkpoint blocks are freed as
    soon as the next round materializes; the FINAL round's blocks
    (which the result plan reads and which CANNOT recompute — lineage
    is truncated) are freed only explicitly, via
    :func:`~bht_etl_app_spark.functions.lifecycle.release` on the
    result (or a frame that ``carry``-owns it, as ``dedup_corpus`` /
    ``semantic_dedup`` return) or the session-level
    :func:`~bht_etl_app_spark.functions.lifecycle.sweep_checkpoints`.
    Chained derived-frame calls are therefore safe — nothing frees
    the blocks behind the caller's back (r4 ADVICE, medium).
    """
    from bht_etl_app_spark.functions.lifecycle import (
        _eager_checkpoint,
        track_checkpoint_rdds,
        unpersist_rdd_ids,
    )

    sc = pairs.sparkSession.sparkContext
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> tuple[DataFrame, set[int]]:
        # eager checkpoint + the ids of the JVM RDDs it persisted, so
        # each round's blocks can be freed deterministically once the
        # next round is materialized (the ContextCleaner would get to
        # them only asynchronously — a leak for long sessions)
        return _eager_checkpoint(df, reliable=checkpoint_dir is not None)

    edges, edge_ids = _truncate(
        # duplicate edges are harmless under the min-aggregate, so no
        # distinct() shuffle here — callers emit unique a<b pairs.
        # Both directions come from ONE explode over each pair row,
        # NOT a union of two selects (r12 optimization): the union's
        # two legs are aliased consumers of the same (un-persisted)
        # pair plan, and Catalyst reuses nothing across them — with a
        # full inverted-index Jaccard upstream the entire pair
        # pipeline evaluated TWICE before the checkpoint (two
        # identical corpus-scale stages in the leakage_safe_split
        # profile). The explode reads each pair row once.
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("__e__")
        ).select("__e__.src", "__e__.dst")
        # materialized once: every round re-joins the edge set
    )
    # edges holds each input pair TWICE (both directions, no distinct),
    # so the materialized count is compared against 2x the threshold —
    # the threshold is on INPUT pairs, as documented (r4 ADVICE: the
    # old form silently engaged the fast path at threshold/2). Counting
    # the checkpointed edge blocks is cheap; counting `pairs` before
    # doubling would re-run the un-truncated upstream plan.
    if driver_edge_threshold and edges.count() <= 2 * driver_edge_threshold:
        # parameter-sized graph: solve with union-find on the driver
        # (bounded by the explicit threshold; identical output)
        spark = pairs.sparkSession
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            if root not in comp_min or node < comp_min[root]:
                comp_min[root] = node
        id_type = dict(pairs.dtypes)[id_a]
        out = spark.createDataFrame(
            [(node, comp_min[find(node)]) for node in sorted(parent)],
            f"doc_id {id_type}, cluster_id {id_type}",
        )
        unpersist_rdd_ids(sc, edge_ids)
        return out

    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    prev_ids: set[int] = set()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # the convergence flag rides the label update itself — a
        # separate new-vs-old join job per round costs one more
        # shuffle+job than reading the flag off the checkpointed rows
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "__new__"
                ),
                (
                    F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label")
                ).alias("__chg__"),
            )
            .withColumnRenamed("__new__", "label")
        )
        # truncate lineage every round: without this the lazy plan
        # nests one join level per iteration and analysis/compile time
        # grows superlinearly (measured 290s -> 30s on a 10-hop chain)
        new_labels, cur_ids = _truncate(new_labels)
        changed = new_labels.where(F.col("__chg__")).limit(1).count()
        labels = new_labels.select("id", "label")
        # previous round's checkpoint is unreferenced now that this
        # round is fully materialized — free it
        unpersist_rdd_ids(sc, prev_ids)
        prev_ids = cur_ids
        if changed == 0:
            break
    unpersist_rdd_ids(sc, edge_ids)  # the result reads only `labels`
    # The FINAL round's checkpoint must stay while the result (or any
    # frame derived from it) is referenced — a truncated-lineage RDD
    # cannot recompute. It is registered for EXPLICIT freeing
    # (lifecycle.release / sweep_checkpoints), never GC-freed.
    result = labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    return track_checkpoint_rdds(result, sc, prev_ids)


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The full corpus-dedup pipeline, composed from the staged
    operators the way a 100 TB run would chain them:

    1. exact dedup (hash-groupBy) — removes byte-identical copies for
       the cost of shuffling (hash, id) pairs;
    2. MinHash+LSH candidate generation + exact-Jaccard verify on the
       exact-dedup survivors only;
    3. connected components over the verified near-dup pairs;
    4. keep the minimum id per cluster.

    Output: the surviving rows of ``df`` (original columns), i.e. one
    representative per exact+near duplicate group. Each stage's scale
    posture is documented on its own operator; the composition adds
    nothing quadratic.
    """
    exact_survivors = dedup_exact(df, text_col, id_col).select(id_col)
    survivors = df.join(exact_survivors, id_col, "left_semi")
    pairs = minhash_lsh_pairs(
        survivors, text_col, id_col,
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        hash_fn=hash_fn,
    )
    clusters = dedup_clusters(pairs)
    # non-representatives: cluster members that are not the min id
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    from bht_etl_app_spark.functions.lifecycle import carry

    # the result plan reads `clusters`' checkpoint blocks — own its
    # lifetime so the parent's GC finalizer can't free them early
    return carry(survivors.join(drop, id_col, "left_anti"), clusters)


def near_dup_incremental(
    new_docs: DataFrame,
    history_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    history_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash near-dup check of a NEW batch against a
    historical corpus — the near-dup twin of :func:`dedup_incremental`
    (exact fingerprints), closing the continuously-ingesting-corpus
    loop: batch N+1 probes the store, it never re-pairs the store
    against itself.

    Output: one row per verified near-dup hit —
    ``(doc_id, matched_id, side, jaccard)`` with ``side`` ``'history'``
    or ``'batch'`` (in-batch hits keep ``doc_id > matched_id`` so the
    min-id representative of each in-batch group is never reported as
    a duplicate). Keep-policy (drop-all-hits vs keep-representative)
    stays with the caller, as in ``dedup_incremental``.

    Scale shape: in production the history side of the band join is
    the STORED banded-signature table — pass
    ``history_bands=read_band_index(spark, table)`` (a catalog table
    bucketed on ``(band, bh)`` via
    :func:`~bht_etl_app_spark.io.layout.write_band_index`) and the
    store side of the candidate join plans with ZERO Exchange: only
    the new batch's (tiny) band rows shuffle, never the accumulated
    index (pinned by ``tests/test_layout.py``). When ``history_bands``
    is omitted the index is recomputed from ``history_docs`` for a
    self-contained check. Either way candidates are two plain
    equi-joins (new×store, new×new) whose volume is
    band-bucket-bounded; exact verification shingles ONLY candidate
    docs (semi-join first), so the expensive pass over history text
    happens solely for verified-candidate ids. Hash-family
    consistency with a stored index is the caller's contract
    (``hash_fn`` here must match the index build).
    """
    from pyspark import StorageLevel

    nb = minhash_bands(
        new_docs, text_col, id_col, n, num_hashes, bands, hash_fn
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hb = (
        history_bands.select("id", "band", "bh")
        if history_bands is not None
        else minhash_bands(history_docs, text_col, id_col, n, num_hashes, bands, hash_fn)
    )
    cand_hist = (
        nb.alias("x")
        .join(hb.alias("y"), ["band", "bh"])
        .select(
            F.col("x.id").alias("doc_id"),
            F.col("y.id").alias("matched_id"),
            F.lit("history").alias("side"),
        )
    )
    cand_batch = (
        nb.alias("x")
        .join(nb.alias("y"), ["band", "bh"])
        .where(F.col("x.id") > F.col("y.id"))
        .select(
            F.col("x.id").alias("doc_id"),
            F.col("y.id").alias("matched_id"),
            F.lit("batch").alias("side"),
        )
    )
    cand = cand_hist.unionByName(cand_batch).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def _cand_shingles(src: DataFrame, key: str) -> DataFrame:
        ids = cand.select(F.col(key).alias(id_col)).distinct()
        return _shingled(
            src.join(ids, id_col, "left_semi"), text_col, id_col, n, "sh"
        ).withColumnRenamed(id_col, key).withColumnRenamed("sh", f"sh_{key}")

    # union only the columns the verify needs — history stores often
    # carry extra metadata columns the batch doesn't have
    slim = lambda d: d.select(F.col(id_col), F.col(text_col))  # noqa: E731
    new_sh = _cand_shingles(slim(new_docs), "doc_id")
    matched_sh = _cand_shingles(
        slim(new_docs).unionByName(slim(history_docs)), "matched_id"
    )
    jac = F.round(
        F.size(F.array_intersect("sh_doc_id", "sh_matched_id"))
        / F.size(F.array_union("sh_doc_id", "sh_matched_id")).cast("double"),
        6,
    )
    out = (
        cand.join(new_sh, "doc_id")
        .join(matched_sh, "matched_id")
        .select("doc_id", "matched_id", "side", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return track_persisted(out, nb, cand)


def simhash_multiword(
    df: DataFrame,
    words: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Width-parameterized SimHash: ``words`` independent 64-bit
    signatures per document (word ``j`` votes with the seeded token
    hash ``hash(j || US || token)``), output
    ``(doc_id, sim: array<long>)`` of length ``words``.

    WHY width is the scale knob (r4 VERDICT item #7, measured at the
    30x octave): ``simhash_near_dup_pairs``' pigeonhole banding needs
    ``bands = max_hamming + 1`` slices, so a 64-bit signature at
    hamming<=3 is stuck with 16-bit band keys — 65k buckets per band.
    Random bucket occupancy, and with it candidate-pair work, grows
    QUADRATICALLY once the corpus passes ~2^16 docs (measured
    47 -> 1385 pairs/row from 5k to 150k docs). Widening the
    signature to 128 bits keeps the same recall guarantee with 32-bit
    band keys (4G buckets) — per-bucket cost collapses back to the
    duplicate rate. Width is a CONFIG (this parameter), not a plan
    change: banding, verification, and clustering are shared.

    Docs with zero tokens are dropped (an empty doc has no vote
    evidence; its all-zero signature would otherwise bucket every
    empty doc together in every band — the minhash_signatures
    short-doc lesson).
    """
    h = base_hash_expr(hash_fn)
    masks = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
    )
    toks = tokens_expr(text_col)
    def word_hashes(j: int):
        # seed captured OUTSIDE the lambda: a second lambda parameter
        # would make transform() pass the ELEMENT INDEX into it,
        # silently replacing the seed with the token position
        seed = F.lit(str(j))
        return F.transform(
            toks, lambda t: h(F.concat_ws("\x1f", seed, t))
        ).alias(f"__h{j}__")

    hashed = ensure_min_parallelism(df).where(F.size(toks) > 0).select(
        F.col(id_col),
        *[word_hashes(j) for j in range(words)],
    )

    def word_sig(col: str) -> F.Column:
        votes = F.aggregate(
            F.col(col),
            F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, hv: F.zip_with(
                acc,
                masks,
                lambda a, m: a + F.when(hv.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
        )
        return F.aggregate(
            F.zip_with(
                votes,
                masks,
                lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, b: a.bitwiseOR(b),
        )

    return hashed.select(
        F.col(id_col),
        F.array(*[word_sig(f"__h{j}__") for j in range(words)]).alias("sim"),
    )


def simhash_near_dup_pairs_wide(
    df: DataFrame,
    max_hamming: int = 3,
    words: int = 2,
    bands: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Banded hamming near-dup join over the multi-word SimHash — the
    retuned-width twin of :func:`simhash_near_dup_pairs` (same
    pigeonhole recall guarantee, ``bands = max_hamming + 1`` by
    default, band keys ``64 * words / bands`` bits wide).

    Output: ``(id_a, id_b, hamming)``, id_a < id_b, hamming over the
    full ``64 * words`` bits.
    """
    bits = 64 * words
    if bands is None:
        # smallest divisor of the bit width exceeding max_hamming
        # (bands = k + 1 only divides evenly for some k)
        bands = next(
            b for b in range(max_hamming + 1, bits + 1) if bits % b == 0
        )
    if bits % bands != 0:
        raise ValueError(f"bands must divide {bits}")
    if bands <= max_hamming:
        raise ValueError(
            "bands must exceed max_hamming for exact recall "
            f"(got bands={bands}, max_hamming={max_hamming})"
        )
    wbits = bits // bands
    if wbits > 64 or 64 % wbits != 0:
        raise ValueError(
            f"band width {wbits} must divide 64 (bands per word align "
            "within signature words)"
        )
    per_word = 64 // wbits
    mask = (1 << wbits) - 1 if wbits < 64 else -1

    sig = simhash_multiword(
        df, words=words, text_col=text_col, id_col=id_col, hash_fn=hash_fn
    )
    banded = sig.select(
        F.col(id_col).alias("id"),
        F.col("sim"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(
                        F.element_at(F.col("sim"), b // per_word + 1),
                        (b % per_word) * wbits,
                    )
                    .bitwiseAND(F.lit(mask))
                    .alias("bk"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "sim", "bb.band", "bb.bk")
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    ham = F.aggregate(
        F.zip_with(
            F.col("x.sim"),
            F.col("y.sim"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    out = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bk"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return track_persisted(out, banded)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = 64,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: for docs A, B the
    containment of A in B is ``|A∩B| / |A|`` over n-gram shingles
    (Broder 1997's second resemblance measure). This catches the
    subsumption duplicates Jaccard structurally misses — a short doc
    quoted whole inside a long one has containment ≈ 1 but Jaccard
    ≈ |A|/|B| ≈ 0, so a Jaccard-thresholded dedup keeps both copies.
    The training-data case is quote/excerpt/boilerplate subsumption.
    Output: ``(id_a, id_b, shared, c_a, c_b)`` with ``id_a < id_b``,
    kept when ``max(c_a, c_b) >= threshold`` — ``c_a`` is "A inside
    B", ``c_b`` the reverse.

    Same inverted-shingle-index machinery (and the same
    ``max_shingle_df`` stop-shingle cap, mirrored in the oracle) as
    :func:`ngram_jaccard_pairs`: candidates come from the shingle
    equi-join, never a cross join; scores are exact int/int
    divisions rounded at 6dp.
    """
    cand, persisted = _shingle_candidate_pairs(
        df, text_col, id_col, n, max_shingle_df
    )
    pairs = cand.select(
        "id_a",
        "id_b",
        F.col("shared").cast("long").alias("shared"),
        F.round(F.col("shared") / F.col("n_a").cast("double"), 6).alias("c_a"),
        F.round(F.col("shared") / F.col("n_b").cast("double"), 6).alias("c_b"),
    ).where(F.greatest(F.col("c_a"), F.col("c_b")) >= threshold)
    return track_persisted(pairs, persisted)


CONTAINMENT_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_sort(list_distinct(list_transform(
             range(1, len(t) - 3 + 2),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))))
         ELSE [] END AS shingles
  FROM toks
),
ex AS (
  SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
),
dfc AS (SELECT s, count(*) AS d FROM ex GROUP BY 1),
exf AS (SELECT ex.id, ex.n_sh, ex.s FROM ex JOIN dfc USING (s) WHERE d <= 64),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, any_value(a.n_sh) AS n_a,
         any_value(b.n_sh) AS n_b, count(*) AS shared
  FROM exf a JOIN exf b USING (s)
  WHERE a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, shared, c_a, c_b FROM (
  SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
         round(shared / CAST(n_a AS DOUBLE), 6) AS c_a,
         round(shared / CAST(n_b AS DOUBLE), 6) AS c_b
  FROM pairs
) WHERE greatest(c_a, c_b) >= 0.9
"""


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    src_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Cross-source content-overlap matrix: for every pair of corpus
    sources, the number of distinct n-gram shingles present in BOTH,
    as overlap coefficient (``shared / min(|A|,|B|)``) and Jaccard —
    the corpus-QA signal for "these two crawls/feeds duplicate each
    other" and the train/eval CONTAMINATION check when one source is
    a benchmark. Output:
    ``(src_a, src_b, shared, overlap, jaccard)``, ``src_a < src_b``.

    Scale shape: the corpus first collapses to DISTINCT
    ``(source, shingle)`` rows (one shuffle, map-side combine) — at
    most |sources| rows per shingle survive, so the shingle-keyed
    self-join fans out ≤ C(|sources|, 2) pairs per shingle, bounded
    by the source count, never document-quadratic (no df cap needed,
    unlike the doc-pair operators). Per-source sizes ride a broadcast
    join; the final matrix is |sources|²-sized.
    """
    from pyspark import StorageLevel

    # three consumers (sizes, both self-join sides) read this corpus-
    # wide distinct — persist it, or the tokenize+shingle+explode
    # pipeline recomputes per consumer (materialize-or-recompute rule)
    ss = (
        _shingled(ensure_min_parallelism(df), text_col, src_col, n, "sh")
        .select(F.col(src_col).alias("src"), F.explode("sh").alias("s"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = ss.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a = ss.select(F.col("src").alias("src_a"), "s")
    b = ss.select(F.col("src").alias("src_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("src").alias("src_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("src").alias("src_b"), F.col("n_sh").alias("n_b"))
    out = (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            F.round(
                F.col("shared") / F.least("n_a", "n_b").cast("double"), 6
            ).alias("overlap"),
            F.round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return track_persisted(out, ss)


SOURCE_OVERLAP_SQL = """
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT source,
         CASE WHEN len(t) >= 3 THEN
           list_sort(list_distinct(list_transform(
             range(1, len(t) - 3 + 2),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))))
         ELSE [] END AS shingles
  FROM toks
),
ss AS (
  SELECT DISTINCT source AS src, unnest(shingles) AS s FROM sh
),
sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n_sh FROM ss GROUP BY 1),
pairs AS (
  SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS shared
  FROM ss a JOIN ss b USING (s)
  WHERE a.src < b.src
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.shared,
       round(p.shared / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS overlap,
       round(p.shared / CAST(sa.n_sh + sb.n_sh - p.shared AS DOUBLE), 6)
         AS jaccard
FROM pairs p
JOIN sizes sa ON p.src_a = sa.src
JOIN sizes sb ON p.src_b = sb.src
"""


def near_dup_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pair-level recall/precision of banded MinHash-LSH against the
    LOSSLESS PPJoin exact-Jaccard truth at the same shingle size and
    threshold — the dedup family's twin of the ANN recall harness:
    before anyone turns the bands/rows dial on a real corpus, the
    banding's miss rate should be a measured number, not the S-curve
    formula's promise. One row: ``(n_exact_pairs, n_lsh_pairs,
    n_matched, pair_recall, pair_precision)``.

    ``pair_precision`` is structurally 1.0 whenever both paths agree
    on the verify arithmetic (LSH candidates are verified with the
    exact Jaccard before thresholding, and PPJoin is lossless) — it
    is reported anyway as the harness invariant: anything below 1.0
    means the two pipelines' shingle/verify stages have drifted
    apart, which is exactly what an audit row should catch.

    Scale posture: both sides are the existing operators (one
    corpus-scale explode each, pair-bounded joins); the comparison
    itself is a full-outer join on the pair key — PAIR-sized, never
    corpus-sized. PPJoin is the expensive truth; at 100 TB this
    report runs on a sampled slice (pass the sample in as ``df``),
    exactly how ANN recall harnesses are deployed."""
    from bht_etl_app_spark.functions.lifecycle import carry

    exact0 = ngram_jaccard_pairs_ppjoin(df, text_col, id_col, n, threshold)
    lsh0 = minhash_lsh_pairs(
        df, text_col, id_col, n, num_hashes, bands, threshold, hash_fn
    )
    e = exact0.select("id_a", "id_b", F.lit(1).alias("__e__"))
    l = lsh0.select("id_a", "id_b", F.lit(1).alias("__l__"))
    j = e.join(l, ["id_a", "id_b"], "full")
    agg = j.agg(
        F.count("__e__").cast("long").alias("n_exact_pairs"),
        F.count("__l__").cast("long").alias("n_lsh_pairs"),
        F.sum(
            F.when(
                F.col("__e__").isNotNull() & F.col("__l__").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_matched"),
    )
    rep = agg.select(
        "n_exact_pairs",
        "n_lsh_pairs",
        "n_matched",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.bround(
                F.col("n_matched").cast("double")
                / F.col("n_exact_pairs").cast("double"),
                6,
            ),
        ).alias("pair_recall"),
        F.when(
            F.col("n_lsh_pairs") > 0,
            F.bround(
                F.col("n_matched").cast("double")
                / F.col("n_lsh_pairs").cast("double"),
                6,
            ),
        ).alias("pair_precision"),
    )
    return carry(rep, exact0, lsh0)


def near_dup_banding_frontier(
    df: DataFrame,
    band_counts: tuple[int, ...] = (2, 4, 8),
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_counts: tuple[int, ...] = (16, 32),
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The dedup index's TWO storage dials in ONE table — the family's
    twin of the ANN storage/recall frontier: pair recall AND candidate
    precision of banded MinHash-LSH against the SHARED lossless PPJoin
    truth, one row per (signature width, band count). Output:
    ``(num_hashes, sig_bytes, bands, rows_per_band, n_exact_pairs,
    n_lsh_pairs, n_matched, n_candidate_pairs, pair_recall,
    pair_precision)``.

    What the rows say: more bands with fewer rows each = a flatter
    S-curve = higher recall but more candidate pairs to verify
    (``n_candidate_pairs`` is the verify-stage work the banding
    choice buys); fewer, wider bands prune harder and miss more
    mid-band pairs; a WIDER signature (``num_hashes`` — VERDICT r10
    #1) buys the same band count a steeper S-curve at ``sig_bytes``
    = 8·num_hashes per document of index storage (8-byte hashes —
    the ann_recall_frontier bytes_per_vec discipline). The production
    knobs (Leskovec et al., MMDS ch.3) are chosen off exactly this
    table instead of the S-curve formula's promise.

    Scale posture: the expensive truth side (lossless PPJoin)
    computes ONCE and persists (pair-sized); each signature WIDTH
    computes its tokenize→shingle→minhash projection ONCE and
    persists (ADVICE r10 — the r10 cut rebuilt it per arm), each band
    count is then a cheap slice projection off that frame
    (:func:`bands_from_signatures`); the candidate set is built once
    per arm and BOTH counted and verified (no second band join). At
    100 TB you sweep on a sampled slice exactly like
    :func:`near_dup_recall_report`'s documented deployment; the
    comparison joins are pair-sized. Report rows only leave the
    union."""
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted

    for nh in hash_counts:
        for b in band_counts:
            if nh % b:
                raise ValueError(f"bands={b} must divide num_hashes={nh}")
    exact0 = ngram_jaccard_pairs_ppjoin(
        df, text_col, id_col, n, threshold
    ).persist(StorageLevel.MEMORY_AND_DISK)
    e = exact0.select("id_a", "id_b", F.lit(1).alias("__e__"))
    rows = []
    # every persisted intermediate is tied to the RETURNED union (not
    # the per-arm report rows, which die before the caller acts on
    # the result — a per-arm tie would unpersist the caches before
    # the single collect that needs them)
    caches: list[DataFrame] = [exact0]
    for nh in hash_counts:
        sigs = minhash_signatures(
            df, text_col, id_col, n, nh, hash_fn
        ).persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(sigs)
        for b in band_counts:
            banded = bands_from_signatures(sigs, nh, b, id_col=id_col)
            # the candidate self-join references the frame twice and
            # Catalyst does not reuse the exchange across aliases
            banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
            caches.append(banded)
            cand = lsh_candidate_pairs(banded).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            caches.append(cand)
            lsh = verify_candidate_jaccard(
                df, cand, text_col, id_col, n, threshold
            )
            l = lsh.select("id_a", "id_b", F.lit(1).alias("__l__"))
            j = e.join(l, ["id_a", "id_b"], "full")
            agg = j.agg(
                F.count("__e__").cast("long").alias("n_exact_pairs"),
                F.count("__l__").cast("long").alias("n_lsh_pairs"),
                F.sum(
                    F.when(
                        F.col("__e__").isNotNull() & F.col("__l__").isNotNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_matched"),
            )
            ncand = cand.agg(
                F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
            )
            row = agg.crossJoin(F.broadcast(ncand)).select(
                F.lit(int(nh)).cast("long").alias("num_hashes"),
                F.lit(int(nh) * 8).cast("long").alias("sig_bytes"),
                F.lit(int(b)).cast("long").alias("bands"),
                F.lit(int(nh // b)).cast("long").alias("rows_per_band"),
                "n_exact_pairs", "n_lsh_pairs", "n_matched",
                "n_candidate_pairs",
                F.when(
                    F.col("n_exact_pairs") > 0,
                    F.bround(
                        F.col("n_matched").cast("double")
                        / F.col("n_exact_pairs").cast("double"),
                        6,
                    ),
                ).alias("pair_recall"),
                F.when(
                    F.col("n_lsh_pairs") > 0,
                    F.bround(
                        F.col("n_matched").cast("double")
                        / F.col("n_lsh_pairs").cast("double"),
                        6,
                    ),
                ).alias("pair_precision"),
            )
            rows.append(row)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return track_persisted(out, *caches)

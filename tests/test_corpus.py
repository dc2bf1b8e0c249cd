"""Tests for corpus-curation operators (decontamination, chunking,
vocab coverage, domain mixture) on small literal documents."""

import pytest
from pyspark.sql import functions as F

from bht_etl_app_spark.operators import (
    chunk_documents,
    decontaminate,
    dedup_incremental,
    domain_mixture_weights,
    domain_quantile_filter,
    fingerprint,
    quality_filter_decisions,
    vocab_coverage,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "a b c d e f g h", "web"),
        (1, "x y z a b c d e", "web"),     # shares 5-gram "a b c d e" with doc 0
        (2, "p q r s t u v w", "books"),
        (3, "one two", "books"),           # too short for 5-grams
        (4, "", "books"),                  # zero tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_decontaminate_flags_shared_ngrams(corpus):
    train = corpus.where(F.col("doc_id") != 0)
    ev = corpus.where(F.col("doc_id") == 0)
    got = {r["doc_id"]: r["contaminated"] for r in decontaminate(train, ev, n=5).collect()}
    # every train doc gets a row, including short and empty docs
    assert set(got) == {1, 2, 3, 4}
    assert got[1] is True
    assert got[2] is False and got[3] is False and got[4] is False


def test_decontaminate_n_larger_than_docs(corpus):
    train = corpus.where(F.col("doc_id") != 0)
    ev = corpus.where(F.col("doc_id") == 0)
    got = {r["doc_id"]: r["contaminated"] for r in decontaminate(train, ev, n=50).collect()}
    assert got == {1: False, 2: False, 3: False, 4: False}


def test_chunk_documents_partition_and_overlap(corpus):
    # non-overlapping: 8 tokens / max 3 -> starts 0,3,6
    got = {
        (r["doc_id"], r["chunk_idx"]): r
    for r in chunk_documents(corpus, max_tokens=3).collect()}
    assert got[(0, 0)]["chunk_text"] == "a b c"
    assert got[(0, 1)]["chunk_text"] == "d e f"
    assert got[(0, 2)]["chunk_text"] == "g h"
    assert got[(0, 2)]["n_chunk_tokens"] == 2
    assert got[(0, 2)]["chunk_start"] == 6
    # short doc -> single partial chunk; empty doc -> no chunks
    assert got[(3, 0)]["chunk_text"] == "one two"
    assert not any(d == 4 for d, _ in got)
    # overlapping stride
    ov = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"]
        for r in chunk_documents(corpus, max_tokens=4, stride=2).collect()
        if r["doc_id"] == 0
    }
    assert ov[(0, 0)] == "a b c d"
    assert ov[(0, 1)] == "c d e f"
    assert ov[(0, 3)] == "g h"


def test_chunk_documents_rejects_bad_params(corpus):
    with pytest.raises(ValueError):
        chunk_documents(corpus, max_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(corpus, max_tokens=4, stride=-1)


def test_vocab_coverage_ranks_and_cumulates(spark):
    df = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "a b")], "doc_id long, text string"
    )
    rows = sorted(vocab_coverage(df).collect(), key=lambda r: r["rank"])
    assert [(r["token"], r["count"], r["rank"]) for r in rows] == [
        ("a", 4, 1), ("b", 3, 2), ("c", 1, 3),
    ]
    assert rows[0]["pct"] == pytest.approx(50.0)
    assert rows[1]["cum_pct"] == pytest.approx(87.5)
    assert rows[2]["cum_pct"] == pytest.approx(100.0)
    top = vocab_coverage(df, top_k=2).collect()
    assert {r["token"] for r in top} == {"a", "b"}


def test_domain_mixture_weights_temperature(spark):
    # web: 9 tokens, books: 1 token. alpha=0.5 -> weights 3/4, 1/4.
    df = spark.createDataFrame(
        [(0, "t " * 9, "web"), (1, "t", "books")], "doc_id long, text string, source string"
    )
    got = {r["domain"]: r for r in domain_mixture_weights(df, alpha=0.5).collect()}
    assert got["web"]["n_tokens"] == 9 and got["books"]["n_tokens"] == 1
    assert got["web"]["natural_pct"] == pytest.approx(90.0)
    assert got["web"]["weight"] == pytest.approx(0.75)
    assert got["books"]["weight"] == pytest.approx(0.25)
    # alpha=1 reproduces natural proportions
    nat = {r["domain"]: r["weight"] for r in domain_mixture_weights(df, alpha=1.0).collect()}
    assert nat["web"] == pytest.approx(0.9)


def test_quality_filter_decisions_rules(spark):
    rows = [
        (0, " ".join(["the", "and", "of"] * 10), "w"),      # en, 30 tokens, repetitive
        (1, "the quick brown fox jumped over that old gate and ran "
            "of to a wide green field with nine hens by early dawn", "w"),  # en, diverse
        (2, "el la de que y en los del " * 4, "w"),          # es -> lang-dropped
        (3, "tiny doc", "w"),                                 # too short
        (4, "", "w"),                                         # zero tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in quality_filter_decisions(df, min_tokens=20).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[1]["keep"] is True
    # doc 0: 3 distinct / 30 tokens = 0.1 < 0.2 -> repetition-dropped
    assert got[0]["keep_repetition"] is False and got[0]["keep"] is False
    assert got[0]["keep_length"] is True and got[0]["keep_lang"] is True
    assert got[2]["keep_lang"] is False and got[2]["keep"] is False
    assert got[3]["keep_length"] is False and got[3]["keep"] is False
    # zero-token doc: repetition unassessable -> passes, length rejects
    assert got[4]["keep_repetition"] is True and got[4]["keep"] is False


def test_dedup_incremental_history_and_batch(spark):
    hist_docs = spark.createDataFrame(
        [(100, "seen before"), (101, "ancient text")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "Seen   Before"),   # normalizes to a history fp -> dropped
            (2, "fresh content"),   # unseen, unique -> kept
            (3, "batch dup"),       # unseen, min of its batch group -> kept
            (4, "BATCH  DUP"),      # same fp as 3, higher id -> dropped
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["kept"] for r in
           dedup_incremental(new, fingerprint(hist_docs)).collect()}
    assert got == {1: False, 2: True, 3: True, 4: False}


def test_domain_quantile_filter_per_domain_thresholds(spark):
    rows = (
        # domain a: token counts 1..4 -> p25 threshold = 1.75
        [(i, "t " * i, "a") for i in (1, 2, 3, 4)]
        # domain b: token counts 10, 20 -> p25 = 12.5
        + [(10, "t " * 10, "b"), (11, "t " * 20, "b")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in domain_quantile_filter(df, quantile=0.25).collect()}
    assert got[1]["threshold"] == pytest.approx(1.75)
    assert got[1]["keep"] is False
    assert got[2]["keep"] is True and got[4]["keep"] is True
    assert got[10]["threshold"] == pytest.approx(12.5)
    assert got[10]["keep"] is False and got[11]["keep"] is True


def test_training_order_contiguous_and_epoch_varying(spark):
    from bht_etl_app_spark.operators.sampling import training_order

    df = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
    r0 = {r["doc_id"]: r["rank"] for r in training_order(df, epoch=0).collect()}
    assert sorted(r0.values()) == list(range(1, 98))  # contiguous 1..n
    # deterministic across runs
    again = {r["doc_id"]: r["rank"] for r in training_order(df, epoch=0).collect()}
    assert r0 == again
    # different epoch -> different permutation
    r1 = {r["doc_id"]: r["rank"] for r in training_order(df, epoch=1).collect()}
    assert r0 != r1 and sorted(r1.values()) == list(range(1, 98))
    # rank follows the hash order globally, never a single-partition window
    plan = training_order(df)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_decontaminate_plan_broadcasts_eval_side(corpus):
    train = corpus.where(F.col("doc_id") != 0)
    ev = corpus.where(F.col("doc_id") == 0)
    plan = decontaminate(train, ev, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_domain_token_sketches_accuracy_and_merge(corpus):
    from bht_etl_app_spark.operators import domain_token_sketches

    got = {
        r["domain"]: r["est_distinct_tokens"]
        for r in domain_token_sketches(corpus).collect()
    }
    # exact distincts: web = {a..h, x, y, z} = 11; books = {p..w, one, two} = 10
    # union = 21 (web ∩ books = ∅). HLL at lgk=12 is exact-ish at these sizes.
    assert set(got) == {"web", "books", "__all__"}
    assert abs(got["web"] - 11) <= 1
    assert abs(got["books"] - 10) <= 1
    # the __all__ row comes from UNIONING the per-domain sketches; it must
    # agree with the true corpus-wide distinct count (merge property)
    assert abs(got["__all__"] - 21) <= 1


def test_observe_keep_rates_free_telemetry(corpus):
    from bht_etl_app_spark.operators import quality_filter_decisions
    from bht_etl_app_spark.operators.corpus import observe_keep_rates

    decisions = quality_filter_decisions(corpus, min_tokens=3)
    observed, obs = observe_keep_rates(decisions)
    rows = observed.collect()  # the action that also feeds the metrics
    got = obs.get
    assert got["n_docs"] == len(rows)
    assert got["n_kept"] == sum(1 for r in rows if r["keep"])
    assert got["kept_tokens"] == sum(r["n_tokens"] for r in rows if r["keep"])


def test_bloom_decontaminate_no_false_negatives(spark):
    """The Bloom scale twin must flag every doc the exact path flags
    (a Bloom filter cannot produce false negatives); false positives
    are allowed but must stay rare at these filter parameters."""
    from bht_etl_app_spark.operators.corpus import bloom_decontaminate, decontaminate
    from bht_etl_app_spark.session import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    train = docs.where(F.col("source") != "src0")
    ev = docs.where(F.col("source") == "src0")
    exact = {r["doc_id"]: r["contaminated"] for r in decontaminate(train, ev, n=5).collect()}
    bloom = {r["doc_id"]: r["contaminated"] for r in bloom_decontaminate(train, ev, n=5).collect()}
    assert set(exact) == set(bloom)
    false_neg = [k for k, v in exact.items() if v and not bloom[k]]
    assert false_neg == []
    clean = [k for k, v in exact.items() if not v]
    false_pos = [k for k in clean if bloom[k]]
    assert len(false_pos) <= max(1, len(clean) // 20)  # <=5 % FP head-room


def test_dedup_spans_brute_force_parity(spark):
    """Span dedup vs a per-row python reimplementation: same keepers
    (min doc_id, chunk_idx per distinct span) and copy counts."""
    import hashlib
    from collections import defaultdict

    from bht_etl_app_spark.operators.corpus import dedup_spans

    rows = [
        (1, "a b c d a b c d x y"),          # internal duplicate span
        (2, "a b c d q r s t"),               # cross-doc duplicate span
        (3, "q r s t"),                       # exact span of doc2's tail
        (4, ""),                              # empty -> no spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["span_fp"]: (r["doc_id"], r["chunk_idx"], r["n_copies"])
        for r in dedup_spans(df, max_tokens=4).collect()
    }

    spans = defaultdict(list)
    for doc_id, text in rows:
        toks = [t for t in text.split() if t]
        for ci, start in enumerate(range(0, len(toks), 4)):
            span = " ".join(toks[start : start + 4])
            spans[hashlib.md5(span.encode()).hexdigest()].append((doc_id, ci))
    exp = {
        fp: (*min(occ), len(occ)) for fp, occ in spans.items()
    }
    assert got == exp


def test_upsert_latest_merge_semantics(spark):
    """One row per id: highest version wins, update side wins ties,
    inserts and untouched rows pass through."""
    from bht_etl_app_spark.operators.corpus import upsert_latest

    cur = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 2)],
        "doc_id long, text string, version long",
    )
    upd = spark.createDataFrame(
        [(2, "B", 2),        # higher version replaces
         (3, "C-old", 1),    # lower version ignored
         (3, "C-tie", 2),    # tie -> update side wins
         (4, "D", 1)],       # insert
        "doc_id long, text string, version long",
    )
    out = sorted(
        (r["doc_id"], r["text"], r["version"])
        for r in upsert_latest(cur, upd).collect()
    )
    assert out == [(1, "a", 1), (2, "B", 2), (3, "C-tie", 2), (4, "D", 1)]

    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_latest(cur, upd.drop("version"))


def test_snapshot_diff_all_statuses(spark):
    from bht_etl_app_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will be removed")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same  text"),      # whitespace-normalized -> unchanged
         (2, "changed now"),
         (4, "brand new doc")],
        "doc_id long, text string",
    )
    got = {r["status"]: r["n_docs"] for r in snapshot_diff(old, new).collect()}
    assert got == {"added": 1, "removed": 1, "changed": 1, "unchanged": 1}


def test_source_dedup_rates_counts(spark):
    from bht_etl_app_spark.operators.corpus import source_dedup_rates

    docs = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "y"), (4, "b", "z")],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: (r["n_docs"], r["n_unique"], r["dup_rate"])
           for r in source_dedup_rates(docs).collect()}
    assert got["a"] == (3, 2, round(1 - 2 / 3, 6))
    assert got["b"] == (1, 1, 0.0)


def test_domain_quantile_filter_approx_agrees_with_exact(spark):
    """percentile_approx twin (r5): with accuracy=10000 the sketch
    threshold is exact on fixture-sized domains, so the keep set must
    MATCH the exact twin; the pin tolerates sketch drift only in the
    threshold value, never the decision direction vs its own
    threshold."""
    from bht_etl_app_spark.operators.corpus import domain_quantile_filter

    sf_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        r["doc_id"]: r
        for r in domain_quantile_filter(sf_docs, quantile=0.25).collect()
    }
    approx = {
        r["doc_id"]: r
        for r in domain_quantile_filter(
            sf_docs, quantile=0.25, exact=False
        ).collect()
    }
    assert set(exact) == set(approx)
    agree = sum(
        1 for k in exact if exact[k]["keep"] == approx[k]["keep"]
    )
    assert agree / len(exact) >= 0.95
    # internal consistency: keep always equals the threshold compare
    for r in approx.values():
        assert r["keep"] == (float(r["n_tokens"]) >= r["threshold"])


def test_corpus_datacard_values(spark):
    from bht_etl_app_spark.operators.corpus import corpus_datacard

    rows = [
        (0, "a b c", "en", "web"),
        (1, "a b c", "en", "web"),          # exact dup of doc 0
        (2, "x y", "fr", "web"),            # short (<20 tokens)
        (3, " ".join(["t"] * 25), "en", "books"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r["domain"]: r for r in corpus_datacard(docs).collect()}
    web = got["web"]
    assert web["n_docs"] == 3 and web["total_tokens"] == 8
    assert web["avg_tokens"] == round(8 / 3, 6)
    assert web["n_langs"] == 2
    assert web["en_frac"] == round(2 / 3, 6)
    assert web["dup_rate"] == round(1 - 2 / 3, 6)   # 3 docs, 2 distinct fps
    assert web["short_frac"] == 1.0                  # all web docs < 20 tokens
    books = got["books"]
    assert books["n_docs"] == 1 and books["dup_rate"] == 0.0
    assert books["short_frac"] == 0.0


def test_curate_corpus_assigns_first_dropping_stage(spark):
    from bht_etl_app_spark.operators.corpus import curate_corpus

    good = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "far away into the green hills with great speed and joy today"
    )  # 22 tokens, english, no repetition
    near = good.replace("joy", "glee")
    rows = [
        (1, good),                      # kept (min id of its near-dup cluster)
        (2, good),                      # exact_dup of 1
        (3, near),                      # near_dup of 1
        (4, "too short"),               # quality (length)
        (5, "completely different content about engines and pipelines "
            "rolling through twenty distinct tokens without repetition "
            "while quoting benchmark marker five gram match here now"),
    ]
    # benchmark shares a 5-gram with doc 5 only
    bench = [(100, "benchmark marker five gram match here now indeed")]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(bench, "doc_id long, text string")
    got = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(train, ev, hash_fn="md5").collect()
    }
    assert got[4] == "quality"
    assert got[2] == "exact_dup"
    assert got[3] == "near_dup"
    assert got[5] == "contaminated"
    assert got[1] == "kept"
    assert len(got) == 5


def test_curate_corpus_lm_stage_drops_high_perplexity_tail(spark):
    """lm_ref enables the CCNet stage in position: a dedup survivor
    whose reference-model avg_logprob falls below the cut drops as
    lm_ppl (AFTER quality/dedup verdicts, BEFORE decontamination), a
    low-perplexity survivor passes through to the later stages, and
    the lm_ref=None path is byte-identical to the 5-verdict chain."""
    from bht_etl_app_spark.operators.corpus import curate_corpus
    from bht_etl_app_spark.operators.ngram_lm import kn_doc_logprob

    ref_text = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "far away into the green hills with great speed and joy today"
    )
    # in-distribution doc: reference trigrams verbatim (low ppl);
    # OOV doc: 20+ tokens the reference never saw (every token routes
    # through the OOV floor -> strongly negative avg_logprob)
    in_dist = ref_text
    oov = " ".join(f"zq{i}" for i in range(22))
    rows = [(1, in_dist), (2, oov), (3, "too short")]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame([(100, ref_text)], "doc_id long, text string")

    scores = {
        r["doc_id"]: r["avg_logprob"]
        for r in kn_doc_logprob(
            train.where("doc_id <= 2"), train_df=ref, final_round=6
        ).collect()
    }
    cut = (scores[1] + scores[2]) / 2  # separates the two by construction
    got = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, ref, hash_fn="md5", lm_ref=ref, lm_min_avg_logprob=cut
        ).collect()
    }
    # doc 1 shares every 5-gram with the reference -> the LM survivor
    # hits decontamination, proving the stage ORDER (lm before decon)
    assert got == {1: "contaminated", 2: "lm_ppl", 3: "quality"}

    # lm_ref=None keeps the original 5-verdict chain (no lm_ppl leg)
    base = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(train, ref, hash_fn="md5").collect()
    }
    assert base == {1: "contaminated", 2: "kept", 3: "quality"}


def test_curate_corpus_substr_stage_scrubs_before_decontamination(spark):
    """substr_k enables the ExactSubstr stage in position: a survivor
    fully covered by corpus-duplicated runs drops as substr_dup, a
    partially-covered survivor continues with its SCRUBBED text, and
    decontamination runs on that scrubbed text — a benchmark 5-gram
    sitting INSIDE a duplicated run no longer contaminates (the
    substr_k=None path keeps the original chain, where it does)."""
    from bht_etl_app_spark.operators.corpus import curate_corpus

    r1 = " ".join(f"r{i}" for i in range(22))
    r2 = "benchmark marker five gram match here now union"
    rows = [
        # fully covered by the run it shares with doc 2 (their shingle
        # jaccard is 0.625 < 0.8, so near-dup does NOT catch the pair)
        (1, r1),
        (2, " ".join(f"f{i}" for i in range(14)) + " " + r1),
        # docs 3/4 share r2 (which carries the benchmark 5-grams);
        # pairwise jaccard ~0.18 -> never near-dups
        (3, " ".join(f"d{i}" for i in range(14)) + " " + r2),
        (4, " ".join(f"e{i}" for i in range(14)) + " " + r2),
        (5, "too short"),
    ]
    bench = spark.createDataFrame(
        [(100, "benchmark marker five gram match here now indeed")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, bench, hash_fn="md5", substr_k=5
        ).collect()
    }
    assert got == {
        1: "substr_dup",  # scrubbed to nothing
        2: "kept",        # scrubbed to its f-prefix, clean
        3: "kept",        # the contaminating 5-gram was scrubbed away
        4: "kept",
        5: "quality",
    }
    base = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(train, bench, hash_fn="md5").collect()
    }
    assert base == {
        1: "kept", 2: "kept",
        3: "contaminated", 4: "contaminated",
        5: "quality",
    }


def test_curate_corpus_redact_stage_runs_pre_quality(spark):
    """redact=True composes the URL/email redaction BEFORE the
    quality gate, and every later stage consumes the redacted text:
    two docs identical except for DIFFERENT URLs have different
    exact-dedup fingerprints raw, but redact to the same '<URL>'
    token — so the second becomes exact_dup only under redact=True.
    Pins both the stage position and that redaction transforms
    without dropping (no redact verdict leg exists)."""
    from bht_etl_app_spark.operators.corpus import curate_corpus

    base = " ".join(f"r{i}" for i in range(30))
    rows = [
        (1, base + " see https://a.example/x"),
        (2, base + " see https://b.example/y"),
    ]
    bench = spark.createDataFrame(
        [(100, "benchmark marker five gram match here now indeed")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(rows, "doc_id long, text string")
    redacted = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(train, bench, hash_fn="md5", redact=True).collect()
    }
    assert redacted == {1: "kept", 2: "exact_dup"}
    raw = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(train, bench, hash_fn="md5").collect()
    }
    # raw fingerprints differ (URLs differ), so exact dedup cannot
    # be what separates them without the redact stage
    assert raw[2] != "exact_dup"


def test_curate_substr_empty_doc_edge(spark):
    """r8 ADVICE regression: under min_tokens=0 (no quality gate to
    drop empties first) a survivor whose text is ALREADY empty has
    n_kept=0 but n_removed=0 — nothing was duplicated, so it must
    NOT be labeled substr_dup; a genuinely fully-covered doc still
    is. The keep rule is (n_kept > 0) OR (n_removed == 0)."""
    from bht_etl_app_spark.operators.corpus import curate_corpus

    r1 = " ".join(f"r{i}" for i in range(22))
    rows = [
        (1, r1),                                     # fully covered
        (2, " ".join(f"f{i}" for i in range(14)) + " " + r1),
        (3, ""),                                     # already empty
    ]
    bench = spark.createDataFrame(
        [(100, "benchmark marker five gram match here now indeed")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, bench, hash_fn="md5", substr_k=5, min_tokens=0
        ).collect()
    }
    assert got == {
        1: "substr_dup",  # scrubbed to nothing (n_removed > 0)
        2: "kept",
        3: "kept",        # was already empty (n_removed == 0)
    }


def test_curate_corpus_full_chain_lm_drops_before_substr(spark):
    """With BOTH optional stages on, the LM filter runs before the
    scrub: an OOV doc that would ALSO scrub to nothing reports
    lm_ppl (its first dropping stage) — and because it never reaches
    the substr stage its grams never feed the duplication cover. The
    substr-only chain reports substr_dup for the same doc."""
    from bht_etl_app_spark.operators.corpus import curate_corpus
    from bht_etl_app_spark.operators.ngram_lm import kn_doc_logprob

    ref_text = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "far away into the green hills with great speed and joy today"
    )
    run = " ".join(f"zq{i}" for i in range(22))  # OOV everywhere
    rows = [
        (1, ref_text),                                   # in-dist
        (2, run),                                        # OOV, fully covered by 3
        (3, " ".join(f"yy{i}" for i in range(10)) + " " + run),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame([(100, ref_text)], "doc_id long, text string")
    scores = {
        r["doc_id"]: r["avg_logprob"]
        for r in kn_doc_logprob(
            train.where("doc_id <= 2"), train_df=ref, final_round=6
        ).collect()
    }
    cut = (scores[1] + scores[2]) / 2
    full = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, ref, hash_fn="md5", lm_ref=ref,
            lm_min_avg_logprob=cut, substr_k=5,
        ).collect()
    }
    # doc 1 shares every 5-gram with the benchmark/reference; docs
    # 2/3 both fall below the LM cut BEFORE the scrub can see them
    assert full == {1: "contaminated", 2: "lm_ppl", 3: "lm_ppl"}
    substr_only = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, ref, hash_fn="md5", substr_k=5
        ).collect()
    }
    assert substr_only == {1: "contaminated", 2: "substr_dup", 3: "kept"}


def test_curate_substr_chain_verdicts(spark):
    """The substr stage's legs on one corpus: a contaminated doc, a
    doc scrubbed to nothing (substr_dup), a doc that keeps its unique
    prefix after the scrub, and an untouched doc."""
    from bht_etl_app_spark.operators.corpus import curate_corpus

    ref_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    run = " ".join(f"dup{i}" for i in range(25))
    rows = [
        (1, ref_text),                                    # contaminated
        (2, run),                                         # scrubs to nothing
        (3, " ".join(f"aa{i}" for i in range(22)) + " " + run),
        (4, " ".join(f"bb{i}" for i in range(22))),       # untouched
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame([(100, ref_text)], "doc_id long, text string")
    base = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(train, ref, hash_fn="md5", substr_k=5).collect()
    }
    assert base[2] == "substr_dup" and base[4] == "kept"


def test_curate_corpus_mid_band_pair_is_kept(spark):
    """Regression (r5 session-2 review #1): a doc pair with Jaccard in
    [0.5, 0.8) must be KEPT — minhash_lsh_pairs' default 0.5 threshold
    was silently verifying below the documented 0.8 curation rule (and
    below what the replaying oracle uses)."""
    from bht_etl_app_spark.operators.corpus import curate_corpus

    base = [f"w{i}" for i in range(24)]
    # ~0.58 shingle jaccard: change a contiguous chunk of tokens
    variant = base[:16] + [f"x{i}" for i in range(8)]
    rows = [(1, " ".join(base)), (2, " ".join(variant))]
    bench = spark.createDataFrame([(9, "zz yy xx ww vv uu tt ss")],
                                  "doc_id long, text string")
    train = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["verdict"]
           for r in curate_corpus(train, bench, hash_fn="md5").collect()}
    assert got == {1: "kept", 2: "kept"}


def test_apply_cdc_updates_deletes_and_ignores_stale_changes(spark):
    from bht_etl_app_spark.operators.corpus import apply_cdc

    cur = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)],
        "doc_id long, text string, version long",
    )
    chg = spark.createDataFrame(
        [
            (2, "b2", 2, "U"),     # update wins on version
            (3, "ignored", 2, "D"),  # tombstone drops the id
            (4, "d", 1, "U"),      # insert
            (1, "stale", 0, "U"),  # stale change loses to current
        ],
        "doc_id long, text string, version long, op string",
    )
    got = sorted(tuple(r) for r in apply_cdc(cur, chg).collect())
    assert got == [(1, "a", 1), (2, "b2", 2), (4, "d", 1)]


def test_apply_cdc_rejects_schema_mismatch(spark):
    import pytest as _pytest

    from bht_etl_app_spark.operators.corpus import apply_cdc

    cur = spark.createDataFrame([(1, "a", 1)], "doc_id long, text string, version long")
    bad = spark.createDataFrame([(1, "a", 1)], "doc_id long, text string, version long")
    with _pytest.raises(ValueError):
        apply_cdc(cur, bad)  # missing op column


def test_apply_cdc_delete_wins_same_version_tie(spark):
    from bht_etl_app_spark.operators.corpus import apply_cdc

    cur = spark.createDataFrame([(1, "a", 1)], "doc_id long, text string, version long")
    chg = spark.createDataFrame(
        [(1, "a2", 2, "U"), (1, "ignored", 2, "D")],
        "doc_id long, text string, version long, op string",
    )
    assert apply_cdc(cur, chg).count() == 0  # deterministic: D wins the tie


def test_apply_cdc_rejects_invalid_op(spark):
    from bht_etl_app_spark.operators.corpus import apply_cdc

    cur = spark.createDataFrame([(1, "a", 1)], "doc_id long, text string, version long")
    for bad in ("DELETE", None):
        chg = spark.createDataFrame(
            [(2, "b", 2, bad)], "doc_id long, text string, version long, op string"
        )
        try:
            apply_cdc(cur, chg).collect()
            raise AssertionError(f"op={bad!r} must raise")
        except Exception as ex:  # SparkRuntimeException (USER_RAISED)
            assert "invalid op value" in str(ex)


def test_scd2_null_states_get_their_own_periods(spark):
    from datetime import datetime

    from bht_etl_app_spark.operators.timeseries import scd2_from_changelog

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), 1, "a"),
            (1, datetime(2024, 1, 2), 2, None),  # NULL state: its own period
            (1, datetime(2024, 1, 3), 3, "a"),   # reopened after NULL
            (1, datetime(2024, 1, 4), 4, "a"),   # same run, no change point
        ],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    rows = [
        (r["state"], r["effective_from"].day,
         r["effective_to"].day if r["effective_to"] else None)
        for r in scd2_from_changelog(ev).orderBy("effective_from").collect()
    ]
    assert rows == [("a", 1, 2), (None, 2, 3), ("a", 3, None)]


def test_curate_corpus_extract_stage_runs_first(spark):
    """extract_markup=True composes markup extraction BEFORE
    redaction's slot and the quality gate, and every later stage
    consumes the extracted text: two docs identical except for
    DIFFERENT script blocks have different exact-dedup fingerprints
    raw, but extract to the same text — so the second becomes
    exact_dup only under extract_markup=True. Pins the stage position
    and that extraction transforms without dropping (no verdict
    leg)."""
    from bht_etl_app_spark.operators.corpus import curate_corpus

    # words need >= 2 consecutive letters or the boilerplate line
    # filter drops the whole line
    base = " ".join(f"tok{i}" for i in range(30))
    # the script bodies differ in enough tokens that the RAW docs are
    # not even near-dups (jaccard < 0.8) — extraction strips them to
    # IDENTICAL text, so the pin isolates the stage exactly
    js_a = " ".join(f"aa{i}" for i in range(25))
    js_b = " ".join(f"bb{i}" for i in range(25))
    rows = [
        (1, "<p>" + base + "</p><script>" + js_a + "</script>"),
        (2, "<p>" + base + "</p><script>" + js_b + "</script>"),
    ]
    bench = spark.createDataFrame(
        [(100, "benchmark marker five gram match here now indeed")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(rows, "doc_id long, text string")
    extracted = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, bench, hash_fn="md5", extract_markup=True
        ).collect()
    }
    assert extracted == {1: "kept", 2: "exact_dup"}
    raw = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(train, bench, hash_fn="md5").collect()
    }
    assert raw == {1: "kept", 2: "kept"}


def test_curate_corpus_redact_classes_widen_the_stage(spark):
    """redact_classes=PII_REDACT_CLASSES runs the SAME kernel with IP
    and phone added: two docs identical except for different IPs
    redact to the same '<IP>' token and collapse to exact_dup; under
    the default URL+email classes they stay distinct."""
    from bht_etl_app_spark.operators.corpus import curate_corpus
    from bht_etl_app_spark.operators.text import PII_REDACT_CLASSES

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, base + " from 10.0.0.1"),
        (2, base + " from 10.0.0.2"),
    ]
    bench = spark.createDataFrame(
        [(100, "benchmark marker five gram match here now indeed")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(rows, "doc_id long, text string")
    pii = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, bench, hash_fn="md5", redact=True,
            redact_classes=PII_REDACT_CLASSES,
        ).collect()
    }
    assert pii == {1: "kept", 2: "exact_dup"}
    default = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, bench, hash_fn="md5", redact=True
        ).collect()
    }
    # default URL+email classes leave the IPs in place: fingerprints
    # stay DISTINCT (no exact_dup); the pair is only caught later by
    # the near-dup LSH stage — exactly the stage difference that
    # proves the widened class set reached the redact stage
    assert default == {1: "kept", 2: "near_dup"}


def test_contamination_attribution_hand_case(spark):
    """Attribution separates benchmarks AND sources: doc 10 (web)
    shares two 3-grams with bench A only; doc 11 (books) shares one
    with bench B; doc 12 shares with nothing."""
    from bht_etl_app_spark.operators.corpus import contamination_attribution

    ev = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "A"),
            (2, "one two three four", "B"),
        ],
        "doc_id long, text string, benchmark string",
    )
    train = spark.createDataFrame(
        [
            (10, "x alpha beta gamma delta y", "web"),   # grams: a-b-g, b-g-d (+2 with x/y not in ev)
            (11, "one two three something", "books"),    # gram: one-two-three
            (12, "totally clean text here", "books"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source"], r["benchmark"]): r.asDict()
        for r in contamination_attribution(train, ev, n=3).collect()
    }
    assert set(got) == {("web", "A"), ("books", "B")}
    assert got[("web", "A")]["n_contaminated_docs"] == 1
    assert got[("web", "A")]["n_gram_hits"] == 2
    assert got[("web", "A")]["n_leaked_grams"] == 2
    assert got[("books", "B")]["n_gram_hits"] == 1


def test_curate_corpus_extract_then_redact_compose(spark):
    """Both optional pre-stages together, in order (extract FIRST —
    a tag-split URL would dodge the redaction pattern otherwise):
    docs identical except for DIFFERENT URLs inside markup collapse
    to exact_dup only when BOTH stages run; with only extraction the
    URLs still differ, with only redaction the tags still differ."""
    from bht_etl_app_spark.operators.corpus import curate_corpus

    base = " ".join(f"tok{i}" for i in range(30))
    # URL stays INSIDE the long paragraph line or the extraction
    # boilerplate filter drops the whole 2-word URL line by itself
    # whitespace before </p>: the URL pattern's \S+ would otherwise
    # swallow the differing tags and make redaction alone collapse
    rows = [
        (1, "<p>" + base + " see https://a.example/one </p><script>var x</script>"),
        (2, "<p>" + base + " see https://b.example/two </p><script>var y</script>"),
    ]
    bench = spark.createDataFrame(
        [(100, "benchmark marker five gram match here now indeed")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(rows, "doc_id long, text string")

    def verdicts(**kw):
        return {
            r["doc_id"]: r["verdict"]
            for r in curate_corpus(train, bench, hash_fn="md5", **kw).collect()
        }

    both = verdicts(extract_markup=True, redact=True)
    assert both == {1: "kept", 2: "exact_dup"}
    only_extract = verdicts(extract_markup=True)
    assert only_extract[2] != "exact_dup"
    only_redact = verdicts(redact=True)
    assert only_redact[2] != "exact_dup"


def test_mixture_epoch_plan_hand_case(spark):
    """Budget 100, alpha=1 (natural weights): web holds 10 tokens,
    books 40 -> weights 0.2/0.8 -> targets 20/80. web needs
    ceil(20/10)=2 epochs (uncapped), books ceil(80/40)=2; with
    max_epochs=1 the cap binds: realized=min(target, avail),
    shortfall appears, repeated_frac is 0."""
    from bht_etl_app_spark.operators.corpus import mixture_epoch_plan

    rows = [
        (0, "t " * 10, "web"),
        (1, "t " * 40, "books"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["domain"]: r.asDict()
        for r in mixture_epoch_plan(df, token_budget=100, alpha=1.0).collect()
    }
    assert got["web"]["target_tokens"] == 20 and got["books"]["target_tokens"] == 80
    assert got["web"]["epochs"] == 2 and got["books"]["epochs"] == 2
    assert got["web"]["realized_tokens"] == 20
    assert got["web"]["repeated_frac"] == 0.5   # 10 of 20 are repeats
    assert got["web"]["shortfall_tokens"] == 0
    capped = {
        r["domain"]: r.asDict()
        for r in mixture_epoch_plan(
            df, token_budget=100, alpha=1.0, max_epochs=1
        ).collect()
    }
    assert capped["web"]["epochs"] == 1
    assert capped["web"]["realized_tokens"] == 10
    assert capped["web"]["shortfall_tokens"] == 10
    assert capped["web"]["repeated_frac"] == 0.0


def test_mixture_epoch_plan_integer_exact_at_long_budgets(spark):
    """ADVICE r10 pin: trillion-token budgets must land the exact
    integer `budget * wppm // 1e6`, not the double-division
    approximation (which diverges past 2^53) — and budgets near long
    max must not ANSI-overflow the multiply. Expected values computed
    with Python's arbitrary-precision ints."""
    from bht_etl_app_spark.operators.corpus import mixture_epoch_plan

    rows = [
        (0, "t " * 10, "web"),
        (1, "t " * 40, "books"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # alpha=1 weights are exactly 0.2 / 0.8 -> wppm 200000 / 800000
    wppm = {"web": 200_000, "books": 800_000}
    for budget in ((1 << 53) + 4, 9_000_000_000_000_000_000):
        got = {
            r["domain"]: r.asDict()
            for r in mixture_epoch_plan(
                df, token_budget=budget, alpha=1.0
            ).collect()
        }
        for dom, n_avail in (("web", 10), ("books", 40)):
            exact = budget * wppm[dom] // 1_000_000
            assert got[dom]["target_tokens"] == exact, (dom, budget)
            assert got[dom]["epochs"] == 4  # capped
            assert got[dom]["realized_tokens"] == 4 * n_avail
            assert got[dom]["shortfall_tokens"] == exact - 4 * n_avail
    # the 2^53+4 books case is one double arithmetic gets wrong:
    assert ((1 << 53) + 4) * 800_000 // 1_000_000 != int(
        ((1 << 53) + 4) * 800_000 / 1_000_000
    )


def _waterfill_reference(doms, budget, max_epochs=4):
    """Pure-Python mirror of the realloc water-filling: doms is
    {domain: (n_tokens, weight)}; returns {domain: final_tokens}."""
    import math

    rows = []
    for dom, (n, w) in doms.items():
        wppm = int(math.floor(w * 1_000_000.0 + 0.5))
        cap = n * max_epochs
        rows.append((wppm == 0, (cap / wppm) if wppm else 0.0, dom, wppm, cap))
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    wtot = sum(r[3] for r in rows)
    # fillable pool = positive-weight capacity only (ADVICE r11):
    # a 0-ppm domain is never allocated
    captot = sum(r[4] for r in rows if r[3] > 0)
    a = min(budget, captot)
    cumcap = cumw = 0
    capped = {}
    for zw, _, dom, wppm, cap in rows:
        capped[dom] = wppm > 0 and cap * (wtot - cumw) <= (a - cumcap) * wppm
        cumcap += cap
        cumw += wppm
    capsum = sum(r[4] for r in rows if capped[r[2]])
    wsum = sum(r[3] for r in rows if capped[r[2]])
    rr, wu = a - capsum, wtot - wsum
    out = {}
    uncapped = sorted(r[2] for r in rows if not capped[r[2]] and r[3] > 0)
    for zw, _, dom, wppm, cap in rows:
        out[dom] = cap if capped[dom] else (rr * wppm // wu if wu else 0)
    dust = rr - sum(out[d] for d in uncapped)
    for i, d in enumerate(uncapped):
        if wu and i < dust:
            out[d] += 1
    return out


def test_mixture_epoch_plan_realloc_waterfill_invariants(spark):
    """VERDICT r10 #2 pins: (a) sum(final_tokens) == min(budget,
    4-epoch capacity) EXACTLY; (b) residual shortfall only at
    capacity-bound domains; (c) exact parity with a pure-Python
    water-fill; (d) a case where ONE-ROUND shortfall redistribution
    provably under-fills (the receiver also absorbs the ppm dust),
    showing why the operator runs to the fixed point."""
    from bht_etl_app_spark.operators.corpus import mixture_epoch_plan_realloc

    rows = [
        (0, "t " * 100, "a_big"),
        (1, "t " * 10, "b_small"),
        (2, "t " * 50, "c_mid"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ns = {"a_big": 100, "b_small": 10, "c_mid": 50}
    for budget in (620, 450, 1000, 100_000):
        got = {
            r["domain"]: r.asDict()
            for r in mixture_epoch_plan_realloc(
                df, token_budget=budget, alpha=0.5
            ).collect()
        }
        captot = sum(r["capacity_tokens"] for r in got.values())
        assert sum(r["final_tokens"] for r in got.values()) == min(
            budget, captot
        ), budget
        doms = {d: (ns[d], got[d]["weight"]) for d in got}
        expect = _waterfill_reference(doms, budget)
        for d, r in got.items():
            assert r["capacity_tokens"] == 4 * ns[d]
            assert 0 <= r["final_tokens"] <= r["capacity_tokens"]
            assert r["final_tokens"] == expect[d], (d, budget)
            if r["residual_shortfall"] > 0:
                assert r["final_tokens"] == r["capacity_tokens"]
            assert r["final_epochs"] <= 4
            assert r["extra_tokens"] == r["final_tokens"] - r["realized_tokens"]
    # budget 620: b_small and c_mid cap out; one-round redistribution
    # of their shortfall (56+16=72) would land a_big at 306+72=378,
    # under-filling by 2 ppm-dust tokens — the water fill lands 380.
    got620 = {
        r["domain"]: r.asDict()
        for r in mixture_epoch_plan_realloc(
            df, token_budget=620, alpha=0.5
        ).collect()
    }
    assert got620["b_small"]["final_tokens"] == 40
    assert got620["c_mid"]["final_tokens"] == 200
    assert got620["a_big"]["final_tokens"] == 380
    one_round = (
        got620["a_big"]["realized_tokens"]
        + got620["b_small"]["shortfall_tokens"]
        + got620["c_mid"]["shortfall_tokens"]
    )
    assert one_round == 378  # < 380: one round is not the fixed point


def test_mixture_realloc_zero_ppm_weight_domain(spark):
    """ADVICE r11 (medium): a domain whose 6dp weight rounds to 0 ppm
    (alpha=1 skew past ~2e6:1) must be allocated 0 — the un-guarded
    capped test degenerated to ``0 <= 0`` and handed it FULL capacity,
    driving uncapped domains NEGATIVE when the budget sat below the
    zero-weight capacities. Pins: final_tokens == 0 for the 0-ppm
    domain, every allocation in [0, capacity], and
    sum(final) == min(budget, positive-weight capacity) — at a budget
    BELOW the zero-weight capacity (the negative-__rr__ trigger) and
    at a comfortable one."""
    from bht_etl_app_spark.operators.corpus import mixture_epoch_plan_realloc

    # big: 2,100,000 tokens over 21 docs; tiny: 1 token ->
    # weight = 1/2100001 ~ 4.76e-7 -> bround 6dp -> 0.0 -> wppm 0
    rows = [(i, "t " * 100_000, "big") for i in range(21)]
    rows.append((21, "t", "tiny"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    for budget in (2, 100, 10_000_000):
        got = {
            r["domain"]: r.asDict()
            for r in mixture_epoch_plan_realloc(
                df, token_budget=budget, alpha=1.0
            ).collect()
        }
        assert got["tiny"]["weight"] == 0.0
        assert got["tiny"]["final_tokens"] == 0, budget
        assert got["tiny"]["capacity_tokens"] == 4
        for r in got.values():
            assert 0 <= r["final_tokens"] <= r["capacity_tokens"], budget
        pos_cap = got["big"]["capacity_tokens"]
        assert sum(r["final_tokens"] for r in got.values()) == min(
            budget, pos_cap
        ), budget
    # budget 2 < tiny's capacity 4: the old code allocated tiny all 4
    # and pushed big to -2


def test_semantic_decontaminate_hand_case(spark):
    """Planted near-copy flags, orthogonal vector doesn't, zero-norm
    reports NULL readings and contaminated=false, nearest ties break
    to the lowest bench id."""
    from bht_etl_app_spark.operators.corpus import (
        semantic_contamination_attribution,
        semantic_decontaminate,
    )

    bench = spark.createDataFrame(
        [
            (10, "benchA", [1.0, 0.0, 0.0]),
            (11, "benchA", [1.0, 0.0, 0.0]),  # duplicate vector: tie
            (12, "benchB", [0.0, 1.0, 0.0]),
        ],
        "bench_id long, benchmark string, embedding array<double>",
    )
    train = spark.createDataFrame(
        [
            (1, [0.999, 0.01, 0.0]),   # near benchA -> contaminated
            (2, [0.0, 0.0, 1.0]),      # orthogonal -> clean
            (3, [0.0, 0.0, 0.0]),      # zero norm -> NULL readings
            (4, [0.0, 0.95, 0.1]),     # near benchB
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r.asDict()
        for r in semantic_decontaminate(train, bench, threshold=0.9).collect()
    }
    assert got[1]["contaminated"] is True
    # cosine tie between bench 10 and 11 -> lowest id wins
    assert got[1]["nearest_bench_id"] == 10
    assert got[1]["nearest_benchmark"] == "benchA"
    assert got[1]["n_bench_hits"] == 2  # both benchA copies above 0.9
    assert got[2]["contaminated"] is False and got[2]["n_bench_hits"] == 0
    assert got[3]["max_cosine"] is None
    assert got[3]["contaminated"] is False
    assert got[4]["nearest_benchmark"] == "benchB"
    assert got[4]["contaminated"] is True
    att = {
        r["benchmark"]: r.asDict()
        for r in semantic_contamination_attribution(
            train, bench, threshold=0.9
        ).collect()
    }
    assert att["benchA"]["n_contaminated_docs"] == 1
    assert att["benchA"]["n_pair_hits"] == 2
    assert att["benchB"]["n_contaminated_docs"] == 1
    assert att["benchB"]["n_pair_hits"] == 1


def test_mixture_plan_realize_reconciles_with_realloc(spark):
    """VERDICT r11 #1 pins: the realized per-doc training list
    reconciles with the verified water-filled plan — per domain,
    ``final_tokens <= sum(doc_tokens * repeats) < final_tokens +
    max(doc_tokens)`` (equality when the partial remainder is 0),
    every doc repeats at most ``final_epochs`` times and at least
    ``full = final DIV n_tokens`` times, and a capacity-bound domain
    realizes EXACTLY its capacity (every doc at max_epochs)."""
    import collections

    from bht_etl_app_spark.operators.corpus import (
        mixture_epoch_plan_realloc,
        mixture_plan_realize,
    )

    rows = [
        (0, "t " * 100, "a"), (1, "t " * 10, "a"), (5, "t " * 40, "a"),
        (2, "t " * 50, "b"), (3, "t " * 30, "b"),
        (4, "t " * 5, "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ntok = {0: 100, 1: 10, 5: 40, 2: 50, 3: 30, 4: 5}
    for budget in (100, 300, 10_000):
        plan = {
            r["domain"]: r.asDict()
            for r in mixture_epoch_plan_realloc(
                df, token_budget=budget, alpha=0.5
            ).collect()
        }
        real = mixture_plan_realize(df, token_budget=budget, alpha=0.5).collect()
        per_tok = collections.defaultdict(int)
        max_doc = collections.defaultdict(int)
        for r in real:
            assert r["doc_tokens"] == ntok[r["doc_id"]]
            p = plan[r["domain"]]
            full = p["final_tokens"] // p["n_tokens"]
            assert full <= r["repeats"] <= full + 1 <= p["final_epochs"] + 1
            assert r["repeats"] <= p["final_epochs"]
            per_tok[r["domain"]] += r["doc_tokens"] * r["repeats"]
            max_doc[r["domain"]] = max(max_doc[r["domain"]], r["doc_tokens"])
        for dom, p in plan.items():
            realized = per_tok[dom]
            rem = p["final_tokens"] % p["n_tokens"]
            if rem == 0:
                assert realized == p["final_tokens"], (dom, budget)
            else:
                assert (
                    p["final_tokens"]
                    <= realized
                    < p["final_tokens"] + max_doc[dom]
                ), (dom, budget)
            if p["final_tokens"] == p["capacity_tokens"]:
                assert realized == p["capacity_tokens"]
    # num_buckets bounds are validated
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mixture_plan_realize(df, 100, num_buckets=0)


def test_mixture_plan_realize_bucket_invariance(spark):
    """The two-phase bucket-offset prefix sum must be a pure
    implementation detail: any bucket count yields the identical
    realized list (the md5 global order decides membership, not the
    bucketing)."""
    from bht_etl_app_spark.operators.corpus import mixture_plan_realize

    rows = [(i, "t " * (5 + 7 * (i % 11)), f"d{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    base = sorted(
        (r["doc_id"], r["repeats"])
        for r in mixture_plan_realize(df, 2_000, num_buckets=64).collect()
    )
    for nb in (1, 7, 256):
        got = sorted(
            (r["doc_id"], r["repeats"])
            for r in mixture_plan_realize(df, 2_000, num_buckets=nb).collect()
        )
        assert got == base, nb


def test_mixture_epoch_plan_rejects_bad_params(spark):
    from bht_etl_app_spark.operators.corpus import mixture_epoch_plan

    df = spark.createDataFrame([(0, "t", "w")], "doc_id long, text string, source string")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mixture_epoch_plan(df, token_budget=0)
    with _pytest.raises(ValueError):
        mixture_epoch_plan(df, token_budget=10, max_epochs=0)


def test_curated_redact_oracle_default_text_unchanged():
    """The r11 redact_classes parameter must not disturb the verified
    r9/r10 composed-oracle texts: redact_classes=None produces the
    byte-identical statement, and the PII variant embeds the widened
    redact_sql fragment over the doc_scrubbed_pii seeds."""
    import __spark_entry__ as m
    from bht_etl_app_spark.operators.text import (
        PII_REDACT_CLASSES,
        redact_sql,
    )

    dflt = m._curated_verdicts_oracle_sql(redact=True)
    assert dflt == m._curated_verdicts_oracle_sql(
        redact=True, redact_classes=None
    )
    assert redact_sql("text") in dflt
    pii = m._curated_verdicts_oracle_sql(
        redact=True, redact_classes=PII_REDACT_CLASSES
    )
    assert redact_sql("text", PII_REDACT_CLASSES) in pii
    assert m._SEED_PII_SQL in pii and "<CC>" in pii and "<SSN>" in pii


def test_mixture_alpha_frontier_dial_monotonicity(spark):
    """The temperature table's structural facts on a skewed corpus:
    lower alpha flattens the mixture (entropy non-increasing in
    alpha, max weight non-decreasing) and asks small domains for more
    than they hold (max repeated-frac exposure non-increasing in
    alpha); n_domains constant; alpha=1 reproduces the natural
    distribution's entropy."""
    import math

    from bht_etl_app_spark.operators.corpus import mixture_alpha_frontier

    rows = [
        (0, "t " * 160, "big"),
        (1, "t " * 10, "small"),
        (2, "t " * 40, "mid"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = sorted(
        (r.asDict() for r in
         mixture_alpha_frontier(df, token_budget=620).collect()),
        key=lambda r: r["alpha"],
    )
    assert [r["alpha"] for r in got] == [0.25, 0.5, 0.75, 1.0]
    assert all(r["n_domains"] == 3 for r in got)
    ents = [r["weight_entropy"] for r in got]
    assert ents == sorted(ents, reverse=True), ents  # flatter at low alpha
    maxw = [r["max_weight"] for r in got]
    assert maxw == sorted(maxw), maxw
    reps = [r["max_repeated_frac"] for r in got]
    assert reps == sorted(reps, reverse=True), reps
    # alpha=1: entropy of the 6dp natural weights
    n = {"big": 160, "small": 10, "mid": 40}
    tot = sum(n.values())
    w6 = [round(v / tot, 6) for v in n.values()]
    want = round(-sum(w * math.log(w) for _, w in
                      sorted(zip(["big", "small", "mid"], w6))), 6)
    assert abs(got[-1]["weight_entropy"] - want) < 2e-6


def test_curate_corpus_semantic_stage_flags_embedding_leakage(spark):
    """r12 pins (VERDICT r11 #2 composition): the embedding stage
    runs AFTER the n-gram gate on its survivors only — a doc the
    lexical gate already dropped never reaches it; a lexical survivor
    whose embedding sits next to a benchmark embedding drops as
    semantic_contaminated; survivors without an embedding row pass
    (no evidence is not contamination)."""
    import pyspark.sql.functions as F

    from bht_etl_app_spark.operators.corpus import curate_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "far away into the green hills with great speed and joy "
    )
    rows = [
        (1, base + "alpha beta gamma delta"),      # kept
        (2, base + "epsilon zeta eta theta"),      # semantic_contaminated
        (3, base + "iota kappa lam mu"),           # kept (no embedding)
        (4, "completely different content about engines and pipelines "
            "rolling through twenty distinct tokens without repetition "
            "while quoting benchmark marker five gram match here now"),
        # lexically contaminated AND embedding-near — first stage wins
    ]
    bench_txt = spark.createDataFrame(
        [(100, "benchmark marker five gram match here now indeed")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(rows, "doc_id long, text string")
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.995, 0.1]),
        ],
        "doc_id long, embedding array<double>",
    )
    bench_emb = spark.createDataFrame(
        [(200, "benchA", [0.0, 1.0, 0.0])],
        "bench_id long, benchmark string, embedding array<double>",
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(
            train, bench_txt, hash_fn="md5",
            semantic_emb=emb, semantic_bench_emb=bench_emb,
        ).collect()
    }
    assert got[2] == "semantic_contaminated"
    assert got[4] == "contaminated"  # the n-gram stage drops it first
    assert got[1] == "kept" and got[3] == "kept"
    assert len(got) == 4


def test_decontaminate_scrub_removes_only_covered_spans(spark):
    """r12 pins: benchmark-covered maximal runs scrub out, clean
    tokens survive in order, abutting covers merge, clean docs pass
    through whitespace-normalized, a fully-contaminated doc scrubs
    to '', and docs shorter than n never scrub."""
    from bht_etl_app_spark.operators.corpus import decontaminate_scrub

    bench = spark.createDataFrame(
        [(100, "secret eval answer key here")],  # one 5-token doc -> one 5-gram
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # the 5-gram sits at positions 3..7 of 9 tokens
            (1, "alpha beta secret eval answer key here gamma delta"),
            (2, "totally clean text with  extra   spaces"),
            (3, "secret eval answer key here"),        # fully covered
            (4, "tiny doc"),                            # shorter than n
            (5, ""),                                    # empty
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in decontaminate_scrub(train, bench, n=5).collect()
    }
    assert got[1]["scrubbed_text"] == "alpha beta gamma delta"
    assert got[1]["n_kept"] == 4 and got[1]["n_removed"] == 5
    assert got[2]["scrubbed_text"] == "totally clean text with extra spaces"
    assert got[2]["n_removed"] == 0
    assert got[3]["scrubbed_text"] == "" and got[3]["n_kept"] == 0
    assert got[4]["n_removed"] == 0 and got[5]["scrubbed_text"] == ""
    assert len(got) == 5


def test_decontaminate_scrub_merges_abutting_benchmark_grams(spark):
    """Two distinct benchmark 3-grams covering abutting train runs
    report as ONE maximal scrubbed run (the exact_substr maximal-
    covered-run contract under the benchmark hit set)."""
    from bht_etl_app_spark.operators.corpus import decontaminate_scrub

    bench = spark.createDataFrame(
        [(100, "aa bb cc"), (101, "dd ee ff")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, "x aa bb cc dd ee ff y")],
        "doc_id long, text string",
    )
    got = decontaminate_scrub(train, bench, n=3).collect()[0]
    assert got["scrubbed_text"] == "x y"
    assert got["n_removed"] == 6

"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are native Spark SQL functions (JVM-side,
whole-stage codegen) — tokenization, ratios and fingerprints never
drop into Python. Designed for the ``documents`` table shape
``(doc_id, text, lang, source, n_chars)`` but parameterized by column.

Scale posture: every operator is a narrow per-row projection (no
shuffle at all) except where noted; at 100 TB these run at scan speed
and are bounded by parquet IO.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bht_etl_app_spark.functions.lifecycle import track_persisted
from bht_etl_app_spark.session import ensure_min_parallelism

# Small embedded stopword lists for the language-ID heuristic and the
# stopword-ratio quality signal. Deliberately tiny: the point is the
# Spark expression shape, not linguistic accuracy.
STOPWORDS_EN = [
    "the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "this", "was", "are", "be", "or", "at",
]
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "id": ["yang", "dan", "di", "ini", "itu", "dengan", "untuk", "dari"],
}
# deterministic priority order for argmax ties
LANG_PRIORITY = ["en", "es", "id"]

PUNCT_CLASS = r"[.,!?;:]"


def tokens_expr(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization as an array column, empty tokens dropped
    (so leading/trailing whitespace never yields phantom tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def tokens_sql(extra_filter: str = "", col: str = "text") -> str:
    """The ONE DuckDB twin of :func:`tokens_expr` (lowercase form),
    shared by every oracle that must tokenize exactly like Spark
    (ngram_lm, substr_dedup — the one-template-per-family rule). The
    whitespace class spells out Java's non-unicode ``\\s``
    ``[ \\t\\n\\x0B\\f\\r]`` explicitly because RE2's ``\\s`` EXCLUDES
    vertical tab: a crawl doc containing ``a\\x0Bb`` would tokenize
    differently per engine under ``'\\s+'``. ``extra_filter`` appends
    further lambda conjuncts (e.g. ngram_lm's BOS-sentinel
    control-char exclusion); ``col`` substitutes the tokenized SQL
    expression (r8 ADVICE: composed oracles must derive their token
    expressions from this ONE template instead of re-inlining the
    split, so a tokenizer change can never desynchronize them)."""
    return (
        f"list_filter(regexp_split_to_array(trim(lower({col})), "
        "'[ \\t\\n\\v\\f\\r]+'),\n"
        f"                     x -> x <> ''{extra_filter})"
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex count
    (word chunks + single punctuation marks), the standard cheap proxy
    for subword token counts. Output:
    ``(doc_id, n_ws_tokens, n_bpe_tokens, n_chars)``.
    """
    toks = tokens_expr(text_col, lowercase=False)
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
    return ensure_min_parallelism(df).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality signals: length, mean word length,
    punctuation density, stopword ratio, digit ratio. All ratios are
    round(…, 6) doubles so differential comparisons are stable.
    Output: ``(doc_id, n_chars, n_tokens, mean_token_len,
    punct_ratio, stopword_ratio, digit_ratio)``.
    """
    # token array materialized in its own projection: it is referenced
    # by three independent expressions below, and interpreted lambdas
    # have no CSE (see _shingled in dedup.py / PERFORMANCE.md)
    toks = F.col("__toks__")
    n_toks = F.size(toks).cast("double")
    n_chars = F.length(text_col).cast("double")
    punct = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")
    )
    digits = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), "[0-9]", "")
    )
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    total_tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    safe_toks = F.nullif(n_toks, F.lit(0.0))
    safe_chars = F.nullif(n_chars, F.lit(0.0))
    return ensure_min_parallelism(df).select(
        F.col(id_col), F.col(text_col), tokens_expr(text_col).alias("__toks__")
    ).select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        F.round(total_tok_chars / safe_toks, 6).alias("mean_token_len"),
        F.round(punct.cast("double") / safe_chars, 6).alias("punct_ratio"),
        F.round(n_stop.cast("double") / safe_toks, 6).alias("stopword_ratio"),
        F.round(digits.cast("double") / safe_chars, 6).alias("digit_ratio"),
    )


def lang_count_exprs(toks: Column) -> dict[str, Column]:
    """Per-language marker-hit count expressions (one array-filter pass
    each) over an ALREADY-MATERIALIZED token-array column (interpreted
    lambdas have no CSE — the caller must project the token array
    first)."""
    counts = {}
    for lang in LANG_PRIORITY:
        arr = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        counts[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return counts


def lang_scores_exprs(counts: dict[str, Column]) -> tuple[Column, Column]:
    """(lang_pred, lang_score) expressions over ALREADY-MATERIALIZED
    per-language marker-count columns (from :func:`lang_count_exprs`,
    projected by the caller). The argmax CASE references every count
    up to |langs|+2 times, so feeding it the raw ``size(filter(...))``
    trees re-ran the token filters ~15x per row (r13: the three-
    projection dance now also covers the count layer — counts are
    plain ints here, so the CASE is branch-cheap). Shared by
    ``language_id`` and the fused composite gate in
    ``operators/corpus.py``."""
    best = F.greatest(*[counts[lang] for lang in LANG_PRIORITY])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        pred = pred.when(counts[lang] == best, F.lit(lang))
    return pred, best.cast("long")


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language ID: count marker hits per language,
    argmax with a fixed priority order for ties ('und' when no marker
    hits at all). Output: ``(doc_id, lang_pred, lang_score)`` where
    lang_score is the winning marker-hit count.
    """
    counted = ensure_min_parallelism(df).select(
        F.col(id_col), tokens_expr(text_col).alias("__toks__")
    ).select(
        F.col(id_col),
        *[
            c.alias(f"__c_{lang}__")
            for lang, c in lang_count_exprs(F.col("__toks__")).items()
        ],
    )
    pred, best = lang_scores_exprs(
        {lang: F.col(f"__c_{lang}__") for lang in LANG_PRIORITY}
    )
    return counted.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        best.alias("lang_score"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized document fingerprint: md5 of the
    whitespace-collapsed, trimmed, lowercased text. Identical content
    modulo whitespace/case gets identical fingerprints — the standard
    first pass of exact dedup at scale. Output: ``(doc_id, fp)``."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return ensure_min_parallelism(df).select(F.col(id_col), F.md5(norm).alias("fp"))


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = term count within the doc; idf = ln((N+1)/(df+1)) + 1
    (smoothed); score = tf * idf, rounded to 6dp. Ties broken
    alphabetically so the top-k set is deterministic.

    Shape at scale: one explode + two groupBys (term stats shuffle on
    the term, per-doc top-k shuffles on the doc id) and a broadcast of
    the 1-row corpus count — no quadratic anything; document frequency
    is the classic skewed key, handled by map-side combine.
    """
    from pyspark.sql.window import Window

    from pyspark import StorageLevel

    toks = ensure_min_parallelism(df).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    # persisted: docfreq derives from tf, so without this the
    # tokenize+explode+groupBy pipeline runs twice (once per branch)
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n__"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.bround(
                F.col("tf")
                * (
                    F.log(
                        (F.col("__n__") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
    return track_persisted(out, tf)


def ngrams_expr(tok_col: Column | str, n: int) -> Column:
    """All word n-grams of a token array IN ORDER and WITH multiplicity
    (unlike ``shingles_expr`` in dedup.py, which dedups and sorts for
    set semantics) — repetition signals need the raw multiset."""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    sz = F.size(toks)
    # n shifted slice views zipped positionally (the shingles_expr r12
    # form): per-position work drops from an interpreted slice()
    # allocation to struct reads + one concat; identical grams in
    # identical order
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, sz - (n - 1)).alias(f"t{i}") for i in range(n)]
    )
    grams = F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x[f"t{i}"] for i in range(n)])
    )
    # slice with a non-positive length is invalid — guard short docs
    return F.when(sz >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document repetition signals in the style of the Gopher /
    MassiveText quality filters (Rae et al. 2021, §A1.1): heavily
    repetitive documents are low-quality training data and are flagged
    by n-gram repetition rates, not by vocabulary alone.

    Output per doc (docs with zero tokens are absent; bigram/trigram
    fields are NULL for docs too short to have such grams):

    - ``n_tokens`` — whitespace token count
    - ``distinct_token_ratio`` — distinct / total tokens (low = repetitive)
    - ``top_bigram_frac`` — occurrences of the most frequent word
      2-gram / total 2-grams (high = one phrase dominates)
    - ``dup_trigram_frac`` — 1 - distinct/total 3-grams (fraction of
      trigram slots occupied by repeats)

    Shape at scale: tag each gram with its length-class and explode
    ONCE, then two keyed aggregations — ``(doc, n, gram)`` then
    ``(doc)``. Both shuffle keys are fine-grained (a doc's grams are
    bounded by its length), all aggregation is codegen'd map-side
    combine; nothing is quadratic and no token array is persisted.
    The within-row alternative (array lambdas computing a mode) stays
    interpreted, so the explode+groupBy form wins on CPU too.

    ``tokens_df`` (optional): a pre-built ``(id_col, __toks__)``
    projection to consume instead of re-tokenizing — lets composite
    callers (quality_filter_decisions) feed several signal families
    from ONE persisted tokenize pass.
    """
    base = (
        tokens_df
        if tokens_df is not None
        else ensure_min_parallelism(df).select(
            F.col(id_col), tokens_expr(text_col).alias("__toks__")
        )
    )
    tagged = F.concat(
        F.transform(
            F.col("__toks__"),
            lambda t: F.struct(F.lit(1).alias("n"), t.alias("gram")),
        ),
        F.transform(
            ngrams_expr("__toks__", 2),
            lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram")),
        ),
        F.transform(
            ngrams_expr("__toks__", 3),
            lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram")),
        ),
    )
    grams = base.select(F.col(id_col), F.explode(tagged).alias("g")).select(
        id_col, F.col("g.n").alias("n"), F.col("g.gram").alias("gram")
    )
    sig = (
        grams.groupBy(id_col, "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col, "n")
        .agg(
            F.sum("c").alias("total"),
            F.count(F.lit(1)).alias("dist"),
            F.max("c").alias("top"),
        )
    )
    def _pick(n: int, col: str) -> Column:
        return F.max(F.when(F.col("n") == n, F.col(col)))

    return (
        sig.groupBy(id_col)
        .agg(
            _pick(1, "total").alias("t1"),
            _pick(1, "dist").alias("d1"),
            _pick(2, "total").alias("t2"),
            _pick(2, "top").alias("top2"),
            _pick(3, "total").alias("t3"),
            _pick(3, "dist").alias("d3"),
        )
        .select(
            F.col(id_col),
            F.col("t1").cast("long").alias("n_tokens"),
            F.round(F.col("d1").cast("double") / F.col("t1"), 6).alias(
                "distinct_token_ratio"
            ),
            F.round(F.col("top2").cast("double") / F.col("t2"), 6).alias(
                "top_bigram_frac"
            ),
            F.round(F.lit(1.0) - F.col("d3").cast("double") / F.col("t3"), 6).alias(
                "dup_trigram_frac"
            ),
        )
    )


# Markup-extraction patterns — like the scrub patterns below, every
# one is RE2-compatible (no backrefs or lookaround; inline (?is)
# flags only) so the IDENTICAL strings run under java.util.regex and
# the DuckDB oracle's RE2. Script/style pairs are matched per tag
# name (no backreference), lazily, so nested text documents are
# linear-time; an unterminated block simply falls through to the
# tag-strip pass.
SCRIPT_BLOCK_PATTERN = r"(?is)<script[^>]*>.*?</script>"
STYLE_BLOCK_PATTERN = r"(?is)<style[^>]*>.*?</style>"
# block-level closers/breaks become newlines BEFORE the generic tag
# strip, so line structure survives into the boilerplate-line filter
BLOCK_TAG_PATTERN = r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/table|/ul|/ol)[^>]*>"
TAG_PATTERN = r"(?s)<[^>]*>"
# decode order matters: the amp family LAST, so '&amp;lt;' decodes
# to the literal '&lt;' and never to '<' (the standard double-escape
# rule). r11 (VERDICT r10 #4) adds the numeric character references
# real crawl HTML is full of — same constants-shared literal
# replaces, non-amp forms before the amp family so a double-escaped
# numeric ref ('&amp;#x27;') decodes once, to the literal '&#x27;'.
# The numeric amp forms sit AFTER '&amp;': '&#38;amp;' then decodes
# correctly to the literal '&amp;' (the replace chain's one
# fidelity quirk is the mirror input '&amp;#38;', which decodes all
# the way to '&' — documented, vanishingly rare in crawl text).
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&#x27;", "'"),
    ("&#34;", '"'),
    ("&#x22;", '"'),
    ("&#160;", " "),
    ("&#xa0;", " "),
    ("&#xA0;", " "),
    ("&#8216;", "‘"),
    ("&#8217;", "’"),
    ("&#8220;", "“"),
    ("&#8221;", "”"),
    ("&#8211;", "–"),
    ("&#8212;", "—"),
    ("&#8230;", "…"),
    ("&amp;", "&"),
    ("&#38;", "&"),
    ("&#x26;", "&"),
)
# explicit Java-\s class, spelled out so RE2 (whose \s excludes
# vertical tab) tokenizes identically — the tokens_sql rule
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"
LINE_WORD_PATTERN = "[A-Za-z]{2,}"


def extract_text_expr(col: Column | str, min_line_words: int = 3) -> Column:
    """Markup/boilerplate text extraction — the stage every web-crawl
    pipeline (CCNet, RefinedWeb, FineWeb) runs FIRST, as one native
    column expression: drop ``<script>``/``<style>`` blocks whole,
    turn block-level tag boundaries into newlines, strip remaining
    tags, decode the ubiquitous HTML entities — named AND the common
    numeric character references (the amp family last — double-escape
    rule), then drop boilerplate lines with fewer than
    ``min_line_words`` alphabetic words (nav bars, button labels,
    separator rows — the line-length heuristic of
    boilerplate-removal literature), and collapse whitespace.
    ``min_line_words=0`` disables the line filter. Pure per-row
    projection — scan speed at 100 TB, no Python, no shuffle;
    :func:`extract_text_sql` is its DuckDB twin built from the SAME
    pattern constants."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, SCRIPT_BLOCK_PATTERN, " ")
    s = F.regexp_replace(s, STYLE_BLOCK_PATTERN, " ")
    s = F.regexp_replace(s, BLOCK_TAG_PATTERN, "\n")
    s = F.regexp_replace(s, TAG_PATTERN, " ")
    for ent, rep in HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    if min_line_words > 0:
        kept = F.filter(
            F.split(s, "\n"),
            lambda ln: F.size(
                F.filter(
                    F.split(F.trim(ln), "[ \\t]+"),
                    lambda w: w.rlike(LINE_WORD_PATTERN),
                )
            )
            >= min_line_words,
        )
        s = F.array_join(kept, "\n")
    return F.trim(F.regexp_replace(s, WS_CLASS + "+", " "))


def extract_text_sql(col: str = "text", min_line_words: int = 3) -> str:
    """DuckDB twin of :func:`extract_text_expr`, assembled from the
    SAME pattern constants (one-template-per-family rule, like
    redact_sql/tokens_sql)."""
    s = f"regexp_replace({col}, '{SCRIPT_BLOCK_PATTERN}', ' ', 'g')"
    s = f"regexp_replace({s}, '{STYLE_BLOCK_PATTERN}', ' ', 'g')"
    s = f"regexp_replace({s}, '{BLOCK_TAG_PATTERN}', chr(10), 'g')"
    s = f"regexp_replace({s}, '{TAG_PATTERN}', ' ', 'g')"
    for ent, rep in HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        s = f"replace({s}, '{ent.replace(chr(39), chr(39) * 2)}', '{rep_sql}')"
    if min_line_words > 0:
        # coalesce: DuckDB array_to_string([]) is NULL where Spark
        # array_join([]) is '' — an all-boilerplate doc must extract
        # to the empty string in both engines
        s = (
            f"coalesce(array_to_string(list_filter(string_split({s}, "
            f"chr(10)), "
            f"ln -> len(list_filter(regexp_split_to_array(trim(ln), "
            f"'[ \\t]+'), w -> regexp_matches(w, '{LINE_WORD_PATTERN}'))) "
            f">= {min_line_words}), chr(10)), '')"
        )
    return f"trim(regexp_replace({s}, '{WS_CLASS}+', ' ', 'g'))"


def extract_markup_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
) -> DataFrame:
    """Standalone markup-extraction operator over
    :func:`extract_text_expr` — the one kernel, reported with before/
    after sizes so a pipeline can audit how much markup it shed.
    Output: ``(doc_id, extracted_text, n_raw_chars, n_extracted_chars)``.
    Pure per-row projection; the extraction chain materializes in its
    own projection so the length reads the alias instead of
    re-running the regex cascade (don't lean on codegen
    subexpression elimination for a 6-regex chain)."""
    base = ensure_min_parallelism(df).select(
        F.col(id_col),
        extract_text_expr(text_col, min_line_words).alias("extracted_text"),
        F.length(F.col(text_col)).cast("long").alias("n_raw_chars"),
    )
    return base.select(
        F.col(id_col),
        F.col("extracted_text"),
        F.col("n_raw_chars"),
        F.length("extracted_text").cast("long").alias("n_extracted_chars"),
    )


# Scrub patterns are deliberately RE2-compatible (no backrefs or
# lookaround) so the identical pattern strings run in both Spark
# (java.util.regex) and the DuckDB oracle (RE2).
URL_PATTERN = r"https?://\S+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# dotted-quad with \b anchors — ASCII word boundary means the same
# thing to java.util.regex and RE2
IP_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# separator-REQUIRED phone shape (optional +country, (area) or area,
# then 3+4 digits): plain digit runs in data never match, and the
# dotted-quad form can't satisfy the trailing \d{4} — IPs still
# redact FIRST so the classes can't race
PHONE_PATTERN = r"(?:\+\d{1,2}[ .-]?)?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4}"
# credit-card shapes (r11 — VERDICT r10 #5): the 4x4 grouped form
# (space or dash separated), the Amex 4-6-5 grouped print format
# (ADVICE r11 — '3714 496353 98431' previously escaped; listed
# before the phone class so its 4-digit head can't be half-eaten),
# or a SOLID 15-16 digit run (Amex/Visa lengths); 13-14-digit solid
# runs are excluded on purpose — they collide with plain numeric ids
# far more often than they catch real PANs. \b anchors are ASCII
# word boundaries in both engines.
CC_PATTERN = (
    r"\b(?:\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}"
    r"|\d{4}[ -]\d{6}[ -]\d{5}"
    r"|\d{15,16})\b"
)
# national-ID (SSN-style) 3-2-4 with REQUIRED dashes — the
# separator-required discipline of the phone pattern: a plain
# 9-digit run never matches
SSN_PATTERN = r"\b\d{3}-\d{2}-\d{4}\b"

# the ONE ordered class table: URLs first (a URL's userinfo part
# could otherwise be half-eaten by the email pass), then emails,
# then IPs before the digit-run shapes (the dotted quad must be
# consumed before any digit pass scans), then credit cards BEFORE
# phones (a grouped PAN's 4-digit groups could otherwise be half
# eaten by the phone pass's 3-4 tail), SSNs before phones for the
# same digit-shape reason (3-2-4 vs 3-3-4 — disjoint, but ordered
# defensively). Kernel order is THIS table's order regardless of how
# a caller lists the classes.
REDACT_CLASSES = (
    ("url", URL_PATTERN, "<URL>"),
    ("email", EMAIL_PATTERN, "<EMAIL>"),
    ("ip", IP_PATTERN, "<IP>"),
    ("cc", CC_PATTERN, "<CC>"),
    ("ssn", SSN_PATTERN, "<SSN>"),
    ("phone", PHONE_PATTERN, "<PHONE>"),
)
DEFAULT_REDACT_CLASSES = ("url", "email")
PII_REDACT_CLASSES = ("url", "email", "ip", "cc", "ssn", "phone")


def redact_expr(
    col: Column | str,
    classes: tuple[str, ...] = DEFAULT_REDACT_CLASSES,
) -> Column:
    """The ONE redaction kernel: each enabled class's matches are
    replaced by its ``<CLASS>`` token, in REDACT_CLASSES order.
    Shared by :func:`scrub_text` / :func:`scrub_text_pii` and the
    ``curate_corpus`` redact stage so the operators and the
    composition can never diverge; :func:`redact_sql` is its DuckDB
    twin built from the SAME pattern constants. The default class
    set is URL+email (the r9 contract); ``PII_REDACT_CLASSES`` adds
    IP, credit card, SSN, and phone."""
    unknown = set(classes) - {name for name, _, _ in REDACT_CLASSES}
    if unknown:
        raise ValueError(f"unknown redaction classes: {sorted(unknown)}")
    c = F.col(col) if isinstance(col, str) else col
    for name, pat, tok in REDACT_CLASSES:
        if name in classes:
            c = F.regexp_replace(c, pat, tok)
    return c


def redact_sql(
    col: str = "text",
    classes: tuple[str, ...] = DEFAULT_REDACT_CLASSES,
) -> str:
    """DuckDB twin of :func:`redact_expr`, built from the same
    pattern constants (all ASCII-class-only so the identical strings
    run under java.util.regex AND RE2) — the one-template-per-family
    rule, same as tokens_sql."""
    unknown = set(classes) - {name for name, _, _ in REDACT_CLASSES}
    if unknown:
        raise ValueError(f"unknown redaction classes: {sorted(unknown)}")
    s = col
    for name, pat, tok in REDACT_CLASSES:
        if name in classes:
            s = f"regexp_replace({s}, '{pat}', '{tok}', 'g')"
    return s


def scrub_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII/URL scrubbing for training corpora: replace URLs with
    ``<URL>`` and email addresses with ``<EMAIL>``, and report how
    many of each were found. Redaction order is URLs FIRST (a URL's
    userinfo part could otherwise be half-eaten by the email pass);
    counts are measured on the raw text, so ``n_emails`` counts
    addresses even when they sit inside a URL that is redacted first.

    Pure per-row projection — scan speed at 100 TB.
    Output: ``(doc_id, clean_text, n_urls, n_emails)``.
    """
    return ensure_min_parallelism(df).select(
        F.col(id_col),
        redact_expr(text_col).alias("clean_text"),
        F.regexp_count(F.col(text_col), F.lit(URL_PATTERN)).cast("long").alias("n_urls"),
        F.regexp_count(F.col(text_col), F.lit(EMAIL_PATTERN)).cast("long").alias("n_emails"),
    )


def scrub_text_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full-PII scrubbing — :func:`scrub_text`'s report shape grown
    to production's pattern set (VERDICT r9 #3; r10 #5 adds the
    other two staples): URLs, emails, IPs, credit-card numbers,
    SSN-style national IDs, and phone numbers all redact through the
    ONE :func:`redact_expr` kernel (``PII_REDACT_CLASSES`` order),
    with a per-class replacement count measured on the raw text — so
    ``n_ips`` counts a dotted quad even when it sits inside a URL
    that the kernel redacts first (count = exposure in the raw
    corpus; the redaction order only decides which token it becomes).

    Pure per-row projection — scan speed at 100 TB.
    Output: ``(doc_id, clean_text, n_urls, n_emails, n_ips, n_ccs,
    n_ssns, n_phones)``.
    """
    return ensure_min_parallelism(df).select(
        F.col(id_col),
        redact_expr(text_col, PII_REDACT_CLASSES).alias("clean_text"),
        F.regexp_count(F.col(text_col), F.lit(URL_PATTERN)).cast("long").alias("n_urls"),
        F.regexp_count(F.col(text_col), F.lit(EMAIL_PATTERN)).cast("long").alias("n_emails"),
        F.regexp_count(F.col(text_col), F.lit(IP_PATTERN)).cast("long").alias("n_ips"),
        F.regexp_count(F.col(text_col), F.lit(CC_PATTERN)).cast("long").alias("n_ccs"),
        F.regexp_count(F.col(text_col), F.lit(SSN_PATTERN)).cast("long").alias("n_ssns"),
        F.regexp_count(F.col(text_col), F.lit(PHONE_PATTERN)).cast("long").alias("n_phones"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (the MOSS
    scheme): hash every character k-gram of the normalized text, slide
    a window of ``window`` consecutive gram hashes, keep each window's
    minimum, emit the distinct selected hashes. Guarantees any shared
    substring of length >= k + window - 1 contributes a shared
    fingerprint — the local-similarity dual of whole-document hashing.

    Pure per-row projection (sequence + transform + array ops), no
    shuffle; at scale this runs at scan speed. ``hash_fn="md5"``
    (default) emits hex strings a SQL oracle reproduces exactly;
    ``hash_fn="xxhash64"`` is the deploy kernel — 8-byte long hashes,
    same selection logic, no hex detour (VERDICT r1 item #6; benched
    side-by-side as ``winnow_fingerprints_fast``).

    Output: ``(doc_id, fp)`` exploded, one row per distinct selected
    fingerprint; docs shorter than k + window - 1 chars yield no rows.
    """
    if hash_fn == "md5":
        hasher = F.md5
    elif hash_fn == "xxhash64":
        hasher = F.xxhash64
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    # Filter short docs on the CHEAP normalized length before building
    # the hash array (size(gram_hashes) >= window <=> len(norm) >=
    # k+window-1). Filtering on size(__gh__) after the projection gets
    # predicate-pushed below it with the alias substituted, so the md5
    # array would be evaluated twice — measured 4.3x at sf0.1.
    base = ensure_min_parallelism(df).where(F.length(norm) >= k + window - 1)
    # Materialize the normalized text in its own projection (the
    # shingles_expr two-projection dance): the gram lambda below
    # references the normalization INSIDE its body, and interpreted
    # higher-order lambdas re-evaluate non-lambda subtrees per
    # element — inlining `norm` would re-run the whitespace regex once
    # per gram position, O(len²) per document (measured ~2.5x at sf0.1).
    normed = base.select(F.col(id_col), norm.alias("__norm__"))
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.length("__norm__") - F.lit(k - 1)),
        lambda i: hasher(F.substring(F.col("__norm__"), i, F.lit(k))),
    )
    hashed = normed.select(F.col(id_col), gram_hashes.alias("__gh__"))
    # least-of-element_at instead of array_min(slice(...)): no per-
    # window array copy inside the interpreted lambda
    selected = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("__gh__") - F.lit(window - 1)),
            lambda i: F.least(*[F.element_at("__gh__", i + j) for j in range(window)]),
        )
    )
    return hashed.select(F.col(id_col), F.explode(selected).alias("fp"))


def char_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon character entropy in bits — the classic
    cheap gibberish/boilerplate signal beside the token-level quality
    scores: low entropy = repeated characters/padding, high entropy =
    random noise or encoded blobs.

    Distributed shape: explode to (doc, char), count (map-side
    combinable — the shuffle carries at most |alphabet| rows per
    doc), then one per-doc aggregate. Entropy is computed as
    ``log2(n) - (Σ c·ln c)/(n·ln 2)`` with the inner sum folded over
    the count structs SORTED BY CHARACTER — float addition is not
    associative, so an engine-chosen sum order would drift in the
    last ULP against the oracle; the sorted sequential fold makes
    both engines add in the same order, bit for bit.

    Output: ``(doc_id, char_entropy, n_chars)``; empty docs yield no
    row (no alphabet to measure).
    """
    chars = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), ""), lambda c: c != F.lit(""))
        ).alias("c"),
    )
    counts = chars.groupBy(id_col, "c").agg(F.count(F.lit(1)).alias("cnt"))
    s = F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("c"), F.col("cnt")))),
        F.lit(0.0),
        lambda acc, x: acc + x["cnt"].cast("double") * F.log(x["cnt"].cast("double")),
    )
    return (
        counts.groupBy(id_col)
        .agg(F.sum("cnt").alias("__n__"), s.alias("__s__"))
        .select(
            F.col(id_col),
            F.bround(
                (F.log(F.col("__n__").cast("double")) - F.col("__s__") / F.col("__n__"))
                / F.log(F.lit(2.0)),
                6,
            ).alias("char_entropy"),
            F.col("__n__").cast("long").alias("n_chars"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-bigram cross-entropy per document — the classic
    LM-perplexity-proxy quality filter (CCNet-style) without an
    external language model: score each doc by the mean surprise
    ``-(1/n) Σ log2 P(g)`` of its word bigrams under the CORPUS bigram
    distribution ``P(g) = C(g)/T``. Boilerplate scores low (common
    bigrams), gibberish scores high (rare bigrams).

    Distributed shape: one bigram explode feeds BOTH the corpus
    counts and the per-doc counts (persisted — the two consumers
    would otherwise re-run tokenize+explode); the doc-side join
    shuffles on the gram key with map-side-combined counts, and the
    grand total rides a broadcast 1-row aggregate. Per-doc summation
    folds over GRAM-SORTED count structs so Spark and the DuckDB
    oracle add bit-identically (float addition is not associative —
    see char_entropy).

    Output: ``(doc_id, n_bigrams, bigram_surprise)``; docs with fewer
    than two tokens yield no row.
    """
    from pyspark import StorageLevel

    toks = ensure_min_parallelism(df).select(
        F.col(id_col), tokens_expr(text_col).alias("__toks__")
    )
    grams = toks.where(F.size("__toks__") >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks__") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("__toks__", i),
                    F.element_at("__toks__", i + 1),
                ),
            )
        ).alias("gram"),
    )
    doc_counts = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    corpus_counts = doc_counts.groupBy("gram").agg(F.sum("c").alias("cg"))
    total = corpus_counts.agg(F.sum("cg").alias("__t__"))
    logp = (F.log(F.col("cg").cast("double")) - F.log(F.col("__t__").cast("double"))) / F.log(
        F.lit(2.0)
    )
    scored = (
        doc_counts.join(corpus_counts, "gram")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), "gram", "c", logp.alias("__lp__"))
    )
    s = F.aggregate(
        F.array_sort(F.collect_list(F.struct("gram", "c", "__lp__"))),
        F.lit(0.0),
        lambda acc, x: acc + x["c"].cast("double") * x["__lp__"],
    )
    out = (
        scored.groupBy(id_col)
        .agg(F.sum("c").alias("__n__"), s.alias("__s__"))
        .select(
            F.col(id_col),
            F.col("__n__").cast("long").alias("n_bigrams"),
            F.bround(-F.col("__s__") / F.col("__n__"), 6).alias("bigram_surprise"),
        )
    )
    return track_persisted(out, doc_counts)


def winnow_overlap_pairs(
    df: DataFrame,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
    max_postings: int | None = 1000,
) -> DataFrame:
    """Local-similarity near-dup pairs via shared winnowing
    fingerprints — the scalable approximation of exact substring
    dedup (Lee et al. 2022 use suffix arrays; winnowing guarantees
    any shared substring of length >= k+window-1 yields a shared
    fingerprint, so substring-overlapping docs surface here without a
    quadratic comparison). Output: ``(id_a, id_b, shared_fps)`` for
    pairs sharing at least ``min_shared`` selected fingerprints,
    ``id_a < id_b``.

    Scale shape — the inverted-index pattern (same as
    ``ngram_jaccard_pairs``): fingerprints equi-join docs into
    postings, pairs generate only WITHIN a posting list, and the pair
    aggregation shuffles ``(id_a, id_b)`` longs. Hot fingerprints
    (boilerplate shared by thousands of docs) are the skew risk:
    ``max_postings`` drops fingerprint buckets above the cap — a
    stop-fingerprint cut, exactly like dropping stopwords from an
    inverted index (documented, deterministic).
    """
    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, window=window, hash_fn=hash_fn
    )
    if max_postings:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__n__"))
            .where(F.col("__n__") <= max_postings)
            .select("fp")
        )
        fps = fps.join(keep, "fp", "left_semi")
    a = fps.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = fps.select(F.col("fp"), F.col(id_col).alias("id_b"))
    pairs = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
        .select("id_a", "id_b", F.col("shared_fps").cast("long").alias("shared_fps"))
    )
    return pairs


def bm25_query_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 document scoring for a fixed query-term set — the
    retrieval twin of TF-IDF (Lucene's idf form:
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``). Output: the top ``k``
    docs as ``(doc_id, score, rank)``, rank by (score desc, id).

    Scale shape: the explode is FILTERED to the query terms before
    any shuffle, so posting volume is bounded by query-term document
    frequency, never corpus token volume; document length comes from
    a no-explode projection; N/avgdl ride a broadcast 1-row
    aggregate. Per-doc term contributions fold in term-sorted order
    (the doc_bigram_surprise pattern) so both engines sum
    bit-identically.
    """
    terms = sorted(set(query_terms))
    dl = ensure_min_parallelism(df).select(
        F.col(id_col), F.size(tokens_expr(text_col)).cast("double").alias("__dl__")
    )
    tf = (
        ensure_min_parallelism(df)
        .select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    totals = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n__"),
        F.avg("__dl__").alias("__avgdl__"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n__") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf") * F.lit(k1 + 1.0)
    ) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl__") / F.col("__avgdl__"))
    )
    scored = (
        tf.join(dfreq, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .select(F.col(id_col), F.col("term"), contrib.alias("__c__"))
    )
    ordered_sum = F.aggregate(
        F.array_sort(F.collect_list(F.struct("term", "__c__"))),
        F.lit(0.0),
        lambda acc, x: acc + x["__c__"],
    )
    from pyspark.sql.window import Window

    ranked = (
        scored.groupBy(id_col)
        .agg(F.bround(ordered_sum, 6).alias("score"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc(id_col)))
            .cast("long"),
        )
        .where(F.col("rank") <= k)
    )
    return ranked


#: unicode ranges shared verbatim with the DuckDB oracle — literal
#: characters, not \u escapes, so both regex engines see identical
#: patterns
SCRIPT_RANGES = {
    "latin": "[A-Za-z]",
    "digit": "[0-9]",
    "cyrillic": "[Ѐ-ӿ]",
    "cjk": "[一-鿿]",
}


def script_mix(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document writing-script composition: counts and fractions
    of latin/digit/cyrillic/CJK characters — the cheap complement to
    n-gram language ID (catches transliteration, mixed-script spam,
    and mislabeled language columns). Pure projection, one scan."""
    n = F.length(F.col(text_col)).cast("double")
    cols = [F.col(id_col), F.length(F.col(text_col)).cast("long").alias("n_chars")]
    for name, pat in SCRIPT_RANGES.items():
        c = F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        cols.append(c.alias(f"n_{name}"))
        cols.append(
            F.when(n > 0, F.bround(c.cast("double") / n, 6))
            .otherwise(F.lit(0.0))
            .alias(f"frac_{name}")
        )
    return ensure_min_parallelism(df).select(*cols)


def domain_heavy_hitters(
    df: DataFrame,
    k: int = 5,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = True,
    cms_depth: int = 4,
    cms_width: int = 8192,
) -> DataFrame:
    """Per-domain top-k tokens by occurrence count — the corpus
    composition diagnostic (which tokens dominate each source).

    ``exact=True``: one explode -> map-side-combined count per
    (domain, token), then a top-k window per domain; the window input
    is |domains| x |vocab| grouped rows, never raw tokens.

    ``exact=False`` (the 100 TB call shape, r4 VERDICT item #6):
    count-min sketch. The counting state collapses from
    |domains| x |vocab| counters to |domains| x depth x width —
    BOUNDED and mergeable (a sketch per corpus shard unions by adding
    counters), at the cost of overestimation ≤ e·N/width with high
    probability (Cormode-Muthukrishnan). Build: each token updates
    ``depth`` counters at ``pmod(xxhash64(seed_d, token), width)`` —
    one grouped count over (domain, depth, bucket) rows. Probe: each
    DISTINCT (domain, token) candidate reads its depth counters from
    the broadcast sketch and takes the MIN. Ranking then runs on
    estimates. Estimates never undercount, so true heavy hitters
    cannot be pushed out by sketch error — only over-promoted
    (accuracy bound pinned in ``tests/test_text.py``).

    Output: ``(domain, token, n, rank)`` (``n`` is the estimate when
    ``exact=False``)."""
    from pyspark.sql.window import Window

    tokens = ensure_min_parallelism(df).select(
        F.col(domain_col).alias("domain"),
        F.explode(tokens_expr(text_col)).alias("token"),
    )
    if exact:
        counts = tokens.groupBy("domain", "token").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    else:
        # sketch build: one (domain, depth, bucket) grouped count —
        # map-side combinable, |domains| x depth x width result rows
        depth_buckets = F.array(*[
            F.struct(
                F.lit(d).alias("depth"),
                F.pmod(F.xxhash64(F.lit(d), F.col("token")), F.lit(cms_width))
                .cast("int")
                .alias("bucket"),
            )
            for d in range(cms_depth)
        ])
        sketch = (
            tokens.select("domain", F.explode(depth_buckets).alias("db"))
            .groupBy("domain", F.col("db.depth").alias("depth"),
                     F.col("db.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        # probe: distinct candidates x depth rows, counters looked up
        # from the BROADCAST sketch (bounded size by construction),
        # estimate = min over depths
        cand = tokens.distinct().select(
            "domain",
            "token",
            F.explode(depth_buckets).alias("db"),
        ).select("domain", "token", F.col("db.depth").alias("depth"),
                 F.col("db.bucket").alias("bucket"))
        counts = (
            cand.join(F.broadcast(sketch), ["domain", "depth", "bucket"])
            .groupBy("domain", "token")
            .agg(F.min("cnt").alias("n"))
        )
    w = Window.partitionBy("domain").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def lang_token_fertility(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-fertility diagnostics per language: mean characters
    per BPE-ish token and BPE tokens per whitespace token — the
    numbers that drive tokenizer choice for a multilingual corpus
    (scripts without spaces inflate bpe/ws; byte-heavy scripts
    deflate chars/token). Ratios are computed from integer corpus
    sums (one grouped aggregation), so they are exact and
    engine-portable. Output:
    ``(lang, n_docs, n_bpe_tokens, chars_per_token, bpe_per_ws)``."""
    per = ensure_min_parallelism(df).select(
        F.col(lang_col).alias("lang"),
        F.size(tokens_expr(text_col, lowercase=False)).cast("long").alias("__ws__"),
        F.size(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0
            )
        ).cast("long").alias("__bpe__"),
        F.length(text_col).cast("long").alias("__ch__"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__bpe__").alias("__bpe_t__"),
        F.sum("__ws__").alias("__ws_t__"),
        F.sum("__ch__").alias("__ch_t__"),
    )
    return agg.select(
        "lang",
        "n_docs",
        F.col("__bpe_t__").cast("long").alias("n_bpe_tokens"),
        F.when(
            F.col("__bpe_t__") > 0,
            F.bround(F.col("__ch_t__") / F.col("__bpe_t__").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("chars_per_token"),
        F.when(
            F.col("__ws_t__") > 0,
            F.bround(F.col("__bpe_t__") / F.col("__ws_t__").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("bpe_per_ws"),
    )


def token_zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 1000,
) -> DataFrame:
    """Zipf power-law fit of the corpus token distribution — the
    datacard-grade summary of vocabulary shape (natural corpora fit
    ``count ∝ rank^-alpha`` with alpha ≈ 1; synthetic/templated or
    boilerplate-heavy corpora deviate hard, making this a cheap
    corpus-health signal). Output: ONE row ``(n_terms, alpha)`` from
    an OLS fit of ``ln(count) ~ ln(rank)`` over the top ``top_k``
    terms; ``alpha = -slope``, rounded to 6 dp.

    Scale shape: the corpus collapses to vocabulary counts (map-side
    combine), the top-k is a ``TakeOrdered(top_k)`` — never a full
    sort — and everything after operates on ≤ ``top_k`` rows (the
    single-partition rank window is bounded by the LIMIT above it, not
    by the vocabulary). Regression sums fold in rank-sorted order (the
    bm25 array_sort-aggregate pattern) so both engines sum
    bit-identically — `regr_slope`'s single-pass covariance updates
    are NOT order-stable across engines.
    """
    from pyspark.sql.window import Window

    counts = (
        ensure_min_parallelism(df)
        .select(F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(top_k)
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token"))),
    ).select(
        "rank",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )

    def _fold(expr):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("rank", expr.alias("v")))),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        )

    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _fold(F.col("x")).alias("sx"),
        _fold(F.col("y")).alias("sy"),
        _fold(F.col("x") * F.col("x")).alias("sxx"),
        _fold(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.bround(-slope, 6).alias("alpha"),
    )


TOKEN_ZIPF_FIT_SQL = """
WITH counts AS (
  SELECT token, count(*) AS cnt FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS token
    FROM documents
  ) GROUP BY 1
  ORDER BY cnt DESC, token ASC
  LIMIT 1000
),
ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
         ln(CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS DOUBLE)) AS x,
         ln(CAST(cnt AS DOUBLE)) AS y
  FROM counts
),
-- rank-sorted sequential folds match the Spark array_sort aggregates
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         list_sum(list(x ORDER BY rank)) AS sx,
         list_sum(list(y ORDER BY rank)) AS sy,
         list_sum(list(x * x ORDER BY rank)) AS sxx,
         list_sum(list(x * y ORDER BY rank)) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_terms,
       round_even(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6) AS alpha
FROM s
"""


def token_fuzzy_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_len: int = 4,
) -> DataFrame:
    """Vocabulary spelling-variant pairs within edit distance 1 —
    typo/variant detection for corpus QA and normalization, via the
    FastSS deletion-neighborhood join (Bocek et al., "Fast Similarity
    Search in Large Dictionaries", 2007): two strings within edit
    distance 1 MUST share a member of their 1-deletion neighborhoods
    (the string itself plus each single-character deletion), so the
    candidate join is an equi-join on the variant — lossless blocking,
    no cross join — and ``levenshtein`` verifies candidates exactly.
    Output: ``(tok_a, tok_b, dist)`` with ``tok_a < tok_b``,
    ``dist <= 1``; tokens shorter than ``min_len`` are excluded
    (3-letter words are all within distance ~1 of each other — noise,
    and the quadratic end of the neighborhood join).

    Scale shape: the corpus collapses to its vocabulary first (one
    shuffle, map-side combine); the variant explode is ≤ len+1 rows
    per DISTINCT token; the self-join keys on the variant string with
    candidate volume bounded by variant-bucket sizes (natural-language
    neighborhoods are small); verification is a JVM levenshtein on
    candidate pairs only.
    """
    vocab = (
        ensure_min_parallelism(df)
        .select(F.explode(tokens_expr(text_col)).alias("tok"))
        .where(F.length("tok") >= min_len)
        .distinct()
    )
    variants = vocab.select(
        "tok",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("tok")),
                    F.transform(
                        F.sequence(F.lit(1), F.length("tok")),
                        lambda i: F.concat(
                            F.substring(F.col("tok"), 1, i - 1),
                            F.col("tok").substr(i + 1, F.length("tok")),
                        ),
                    ),
                )
            )
        ).alias("v"),
    )
    a = variants.select(F.col("tok").alias("tok_a"), "v")
    b = variants.select(F.col("tok").alias("tok_b"), "v")
    return (
        a.join(b, "v")
        .where(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
        .distinct()
        .withColumn("dist", F.levenshtein("tok_a", "tok_b").cast("long"))
        .where(F.col("dist") <= 1)
    )


TOKEN_FUZZY_PAIRS_SQL = """
WITH vocab AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  ) WHERE length(tok) >= 4
),
variants AS (
  SELECT tok, unnest(list_distinct(
    list_append(
      list_transform(range(1, length(tok) + 1),
                     i -> substr(tok, 1, i - 1) || substr(tok, i + 1)),
      tok))) AS v
  FROM vocab
),
cand AS (
  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
  FROM variants a JOIN variants b USING (v)
  WHERE a.tok < b.tok
)
SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(tok_a, tok_b) <= 1
"""


def token_pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 256,
    min_pair_docs: int = 5,
) -> DataFrame:
    """Pointwise mutual information of token co-occurrence within
    documents — collocation/phrase detection and the count statistic
    behind PPMI word vectors (Church & Hanks 1990; Levy & Goldberg
    2014 showed SGNS factorizes this matrix). For token pair (a, b):
    ``pmi = ln(P(a,b) / (P(a)·P(b)))`` over document co-occurrence.
    Output: ``(tok_a, tok_b, n_pair, pmi)`` for pairs co-occurring in
    at least ``min_pair_docs`` documents.

    Scale guard: the pair space is capped to the ``top_vocab``
    highest-document-frequency tokens (global top-k — lowers to
    TakeOrderedAndProject — then a BROADCAST semi-restriction), so
    the per-document self-join fans out at most C(top_vocab, 2)
    pairs per doc — bounded by a config knob, never by vocabulary
    size. Without the cap a 10k-distinct-token doc would explode 5e7
    pairs (the near_dup_jaccard df² lesson, applied before it bites).

    Exactness: counts are exact ints; the PMI ratio converts each
    count to double FIRST (all < 2^53, conversion exact) then does
    two multiplies, one divide, one ``ln`` — correctly-rounded
    single ops, no fold, partitioning-invariant.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted

    # the corpus-wide tokenize+explode feeds BOTH the vocabulary
    # aggregation and the dv join (different grouping keys, no
    # exchange reuse) — persist it (materialize-or-recompute rule)
    dt = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_expr(text_col))).alias("tok"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    vocab = (
        dt.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(int(top_vocab))
    )
    dv = dt.join(F.broadcast(vocab), "tok")
    a = dv.select(
        F.col(id_col),
        F.col("tok").alias("tok_a"),
        F.col("df").alias("df_a"),
    )
    b = dv.select(
        F.col(id_col),
        F.col("tok").alias("tok_b"),
        F.col("df").alias("df_b"),
    )
    pairs = (
        a.join(b, id_col)
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= int(min_pair_docs))
    )
    ndocs = df.agg(F.count(F.lit(1)).cast("long").alias("__n__"))
    pmi = F.log(
        (F.col("n_pair").cast("double") * F.col("__n__").cast("double"))
        / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
    )
    # Java Math.log and DuckDB's libm ln differ at the last ulp for
    # some inputs (observed at sf0.01); 12dp round_even quantization
    # absorbs it (the kmeans float rule) without touching real digits.
    out = pairs.crossJoin(F.broadcast(ndocs)).select(
        "tok_a", "tok_b", "n_pair", F.bround(pmi, 12).alias("pmi")
    )
    return track_persisted(out, dt)


TOKEN_PMI_SQL = """
WITH dt AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  )
),
vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df
  FROM dt GROUP BY 1
  ORDER BY df DESC, tok ASC
  LIMIT 256
),
dv AS (SELECT dt.doc_id, dt.tok, vocab.df FROM dt JOIN vocab USING (tok)),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM dv a JOIN dv b USING (doc_id)
  WHERE a.tok < b.tok
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= 5
),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
SELECT tok_a, tok_b, n_pair,
       round_even(ln((CAST(n_pair AS DOUBLE) * CAST(n.nd AS DOUBLE))
                     / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))), 12)
         AS pmi
FROM pairs, n
"""


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document — the grade-level quality
    signal corpus pipelines use next to the length/stopword heuristics
    (``quality_scores``): ``206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)``. Syllables use the standard vowel-group
    proxy (runs of ``[aeiouy]+`` per word — exact syllabification
    needs a dictionary; the proxy is monotone with it and entirely
    deterministic), sentences the ``[.!?]+`` terminator count
    (minimum 1 so fragment docs still score). Output: ``(doc_id,
    n_sentences, n_words, n_syllables, flesch)``, empty docs dropped.

    Pure projection — no shuffle, no join; all three counts are
    regex/array expressions inside whole-stage codegen, and the score
    is a fixed float formula over exact ints (engine-identical with
    matched parenthesization; literals cast explicitly).
    """
    toks = tokens_expr(text_col)
    n_words = F.size(toks)
    n_sent = F.greatest(
        F.size(
            F.filter(
                F.split(F.col(text_col), r"[.!?]+"),
                lambda s: F.trim(s) != "",
            )
        ),
        F.lit(1),
    )
    n_syll = F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col),
            n_sent.cast("long").alias("n_sentences"),
            n_words.cast("long").alias("n_words"),
            n_syll.cast("long").alias("n_syllables"),
            F.bround(flesch, 6).alias("flesch"),
        )
        .where(F.col("n_words") > 0)
    )


READABILITY_SQL = """
SELECT doc_id, n_sentences, n_words, n_syllables,
       round_even(CAST(206.835 AS DOUBLE)
                  - CAST(1.015 AS DOUBLE)
                    * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                  - CAST(84.6 AS DOUBLE)
                    * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
                  6) AS flesch
FROM (
  SELECT doc_id,
         CAST(greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                                       s -> trim(s) <> '')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
WHERE n_words > 0
"""


def source_token_jsd(
    df: DataFrame,
    source_a: str,
    source_b: str,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Jensen-Shannon divergence (base 2, so JSD ∈ [0,1]) between the
    token distributions of two corpus sources — the symmetric,
    finite-everywhere drift metric for "did this domain's language
    shift?" / "how different are these two crawls?" (KL alone is
    infinite on any token one side lacks; JSD's mixture midpoint
    makes disjoint supports land at exactly 1). One row: ``(jsd,
    n_tok_a, n_tok_b, vocab_a, vocab_b, vocab_union)``; a side with
    ZERO tokens (absent source name, all-empty texts) has no
    distribution, so ``jsd`` is structurally NULL — never a
    NaN-poisoned number.

    Exactness: per-token probabilities are single IEEE divisions of
    exact counts; each token's contribution — ``½p·log2(p/m) +
    ½q·log2(q/m)``, zero-count sides contributing their 0 limit via a
    structural CASE (log2 never sees 0 — the ANSI/ln(0) rule) — is
    one fixed-association double expression, 12dp-quantized (log2 is
    the ulp-risky transcendental; terms are O(1)) and summed as
    DECIMAL(38,12): exact, order-free accumulation over the
    vocabulary.

    Scale shape: one filtered token explode with map-side combine to
    (token, per-source counts) — the only corpus-sized stage; totals
    ride the whitelisted 1-row broadcast crossJoin; the term sum
    collapses the vocabulary-sized frame to one row.
    """
    toks = (
        ensure_min_parallelism(df)
        .where(F.col(source_col).isin([source_a, source_b]))
        .select(
            (F.col(source_col) == source_a).alias("__is_a__"),
            F.explode(tokens_expr(text_col)).alias("tok"),
        )
    )
    per_tok = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("__is_a__"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(~F.col("__is_a__"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    totals = per_tok.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
        F.sum(F.when(F.col("a") > 0, 1).otherwise(0))
        .cast("long")
        .alias("va"),
        F.sum(F.when(F.col("b") > 0, 1).otherwise(0))
        .cast("long")
        .alias("vb"),
        F.count(F.lit(1)).cast("long").alias("vu"),
    )
    j = per_tok.crossJoin(F.broadcast(totals))
    p = F.col("a").cast("double") / F.col("ta").cast("double")
    q = F.col("b").cast("double") / F.col("tb").cast("double")
    m = (p + q) * F.lit(0.5)
    # structural guard: a side with ZERO tokens (absent/empty source)
    # has no distribution — jsd is NULL, not a NaN-poisoned value
    # (0/0 diverges structurally across engines; review finding)
    both = (F.col("ta") > 0) & (F.col("tb") > 0)
    term = F.when(
        both,
        F.when(F.col("a") > 0, F.lit(0.5) * p * F.log2(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.when(F.col("b") > 0, F.lit(0.5) * q * F.log2(q / m)).otherwise(
            F.lit(0.0)
        ),
    )
    return j.agg(
        F.bround(
            F.sum(F.bround(term, 12).cast("decimal(38,12)")).cast("double"),
            12,
        ).alias("jsd"),
        F.first("ta").alias("n_tok_a"),
        F.first("tb").alias("n_tok_b"),
        F.first("va").alias("vocab_a"),
        F.first("vb").alias("vocab_b"),
        F.first("vu").alias("vocab_union"),
    )


SOURCE_TOKEN_JSD_SQL = """
WITH toks AS (
  SELECT source = 'src0' AS is_a, unnest(
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '')) AS tok
  FROM documents WHERE source IN ('src0', 'src1')
),
per_tok AS (
  SELECT tok,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM toks GROUP BY 1
),
totals AS (
  SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
         CAST(sum(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS va,
         CAST(sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vb,
         CAST(count(*) AS BIGINT) AS vu
  FROM per_tok
),
terms AS (
  SELECT
    CASE WHEN ta > 0 AND tb > 0 THEN
    (CASE WHEN a > 0 THEN
       CAST(0.5 AS DOUBLE) * (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
         * log2((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
                / (((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
                    + (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE)))
                   * CAST(0.5 AS DOUBLE)))
     ELSE CAST(0.0 AS DOUBLE) END
     +
     CASE WHEN b > 0 THEN
       CAST(0.5 AS DOUBLE) * (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
         * log2((CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
                / (((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
                    + (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE)))
                   * CAST(0.5 AS DOUBLE)))
     ELSE CAST(0.0 AS DOUBLE) END)
    END AS term,
    ta, tb, va, vb, vu
  FROM per_tok CROSS JOIN totals
)
SELECT round_even(CAST(sum(CAST(round_even(term, 12) AS DECIMAL(38,12)))
                       AS DOUBLE), 12) AS jsd,
       any_value(ta) AS n_tok_a, any_value(tb) AS n_tok_b,
       any_value(va) AS vocab_a, any_value(vb) AS vocab_b,
       any_value(vu) AS vocab_union
FROM terms
"""


def compression_ratio_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the Gopher-rule quality
    signal the heuristic family (entropy, repetition, stopword ratio)
    still lacks: highly repetitive boilerplate compresses far below
    natural prose, machine-generated spam below that, while
    already-compressed/binary junk refuses to compress at all; filter
    both tails. Output: ``(doc_id, n_bytes, n_compressed, ratio)``
    with ``ratio = n_compressed / n_bytes`` (≈0.2-0.4 repetitive,
    ≈0.4-0.7 prose, ≈1+ incompressible); empty docs get NULL ratio.

    DECLARED Python seam (rows-only in the contract): DEFLATE runs in
    ``mapInPandas`` Arrow batches — a compression codec is exactly the
    multimodal-decoder class of kernel, not expressible in Spark SQL.
    The ratio is a quality SIGNAL, not a portable contract value: the
    exact compressed size may vary across zlib builds (the parity
    pytest pins it against the same interpreter's zlib).

    Scale shape: pure projection — no shuffle, no state; batches
    stream through Arrow with bounded memory, like the PNG/WAV/AVI
    decode paths.
    """
    import pandas as pd  # noqa: F401 (mapInPandas batch type)

    lvl = int(level)
    out_schema = (
        f"{id_col} long, n_bytes long, n_compressed long, ratio double"
    )

    def run(batches):
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n_bytes = raw.map(len)
            n_comp = raw.map(lambda b: len(zlib.compress(b, lvl)))
            yield type(pdf)(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes.astype("int64"),
                    "n_compressed": n_comp.astype("int64"),
                    "ratio": [
                        (c / n) if n > 0 else None
                        for c, n in zip(n_comp, n_bytes)
                    ],
                }
            )

    return ensure_min_parallelism(df).select(F.col(id_col), F.col(text_col)).mapInPandas(
        run, schema=out_schema
    )


def bm25_eval_metrics(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval-quality metrics for the BM25 ranking — the IR eval
    layer (`ann_recall_report`'s lexical sibling): score the top-``k``
    against the conjunctive-containment relevance set (docs whose
    token set holds ALL query terms — the exact-match qrel a lexical
    ranker should surface first). One row: ``(n_relevant, hits_at_k,
    mrr, precision_at_k, recall_at_k, ndcg_at_k)``; MRR/recall/nDCG
    are NULL when no doc is relevant (structural guard, not 0/0).

    Exactness: ranks and counts are exact ints; MRR terms ``1/rank``
    are single IEEE divisions; DCG/IDCG discount terms
    ``1/log2(i+1)`` carry the one transcendental — each term
    12dp-quantized (O(1) magnitude) and summed as DECIMAL(38,12), so
    both gain sums are exact order-free accumulations; the final
    nDCG ratio is one division of those exact-decimal-backed doubles.

    Scale shape: the ranking side is the bm25 top-k (k rows); the
    relevance side is one projection scan reduced to a doc_id set
    semi-joinable at k-row cost; IDCG is a k-element literal
    sequence explode gated by the 1-row relevant-count broadcast.
    """
    if not query_terms:
        raise ValueError("at least one query term required")
    # lowercase ONCE and use the same terms on both arms — the
    # tokenizer lowercases, so mixed-case input would otherwise make
    # the relevance set and the ranking disagree (review finding)
    terms = [t.lower() for t in query_terms]
    toks = tokens_expr(text_col)
    is_rel = F.lit(True)
    for t in terms:
        is_rel = is_rel & F.array_contains(toks, t)
    rel = ensure_min_parallelism(df).where(is_rel).select(F.col(id_col))
    ranking = bm25_query_scores(
        df, terms, k=k, text_col=text_col, id_col=id_col
    ).select(F.col(id_col), "rank")
    n_rel = rel.agg(F.count(F.lit(1)).cast("long").alias("__nr__"))
    marked = ranking.join(
        rel.withColumn("__rel__", F.lit(1)), id_col, "left"
    ).select("rank", F.coalesce(F.col("__rel__"), F.lit(0)).alias("__rel__"))
    dcg_term = F.when(
        F.col("__rel__") == 1,
        F.bround(
            F.lit(1.0) / F.log2(F.col("rank").cast("double") + F.lit(1.0)),
            12,
        ),
    ).otherwise(F.lit(0.0))
    agg = marked.agg(
        F.coalesce(F.sum("__rel__"), F.lit(0)).cast("long").alias("__hits__"),
        F.max(
            F.when(
                F.col("__rel__") == 1,
                F.lit(1.0) / F.col("rank").cast("double"),
            )
        ).alias("__mrr__"),
        F.sum(dcg_term.cast("decimal(38,12)")).alias("__dcg__"),
    )
    ideal = (
        df.sparkSession.range(1, int(k) + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(n_rel))
        .where(F.col("i") <= F.col("__nr__"))
        .agg(
            F.sum(
                F.bround(
                    F.lit(1.0)
                    / F.log2(F.col("i").cast("double") + F.lit(1.0)),
                    12,
                ).cast("decimal(38,12)")
            ).alias("__idcg__")
        )
    )
    j = agg.crossJoin(F.broadcast(n_rel)).crossJoin(F.broadcast(ideal))
    ndcg = F.when(
        F.col("__idcg__").isNotNull() & (F.col("__nr__") > 0),
        F.bround(
            F.col("__dcg__").cast("double") / F.col("__idcg__").cast("double"),
            12,
        ),
    )
    return j.select(
        F.col("__nr__").alias("n_relevant"),
        F.col("__hits__").alias("hits_at_k"),
        F.bround(F.col("__mrr__"), 12).alias("mrr"),
        F.bround(
            F.col("__hits__").cast("double") / F.lit(float(int(k))), 12
        ).alias("precision_at_k"),
        F.when(
            F.col("__nr__") > 0,
            F.bround(
                F.col("__hits__").cast("double")
                / F.col("__nr__").cast("double"),
                12,
            ),
        ).alias("recall_at_k"),
        ndcg.alias("ndcg_at_k"),
    )


BM25_EVAL_METRICS_SQL_TEMPLATE = """
WITH bm AS MATERIALIZED ({bm25}),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
rel AS (
  SELECT doc_id FROM toks
  WHERE {rel_pred}
),
nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rel),
marked AS (
  SELECT bm.rank,
         CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM bm LEFT JOIN rel USING (doc_id)
),
agg AS (
  SELECT CAST(coalesce(sum(is_rel), 0) AS BIGINT) AS hits,
         max(CASE WHEN is_rel = 1 THEN
               CAST(1.0 AS DOUBLE) / CAST(rank AS DOUBLE) END) AS mrr,
         sum(CAST(CASE WHEN is_rel = 1 THEN
               round_even(CAST(1.0 AS DOUBLE)
                          / log2(CAST(rank AS DOUBLE) + CAST(1.0 AS DOUBLE)),
                          12)
             ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(38,12))) AS dcg
  FROM marked
),
ideal AS (
  SELECT sum(CAST(round_even(CAST(1.0 AS DOUBLE)
                  / log2(CAST(i AS DOUBLE) + CAST(1.0 AS DOUBLE)), 12)
             AS DECIMAL(38,12))) AS idcg
  FROM range(1, {k} + 1) AS t(i) CROSS JOIN nr
  WHERE i <= nr.n
)
SELECT nr.n AS n_relevant, agg.hits AS hits_at_k,
       round_even(agg.mrr, 12) AS mrr,
       round_even(CAST(agg.hits AS DOUBLE) / CAST({k}.0 AS DOUBLE), 12)
         AS precision_at_k,
       CASE WHEN nr.n > 0 THEN
         round_even(CAST(agg.hits AS DOUBLE) / CAST(nr.n AS DOUBLE), 12)
       END AS recall_at_k,
       CASE WHEN ideal.idcg IS NOT NULL AND nr.n > 0 THEN
         round_even(CAST(agg.dcg AS DOUBLE) / CAST(ideal.idcg AS DOUBLE), 12)
       END AS ndcg_at_k
FROM agg CROSS JOIN nr CROSS JOIN ideal
"""


def ngram_novelty(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word n-grams that appear in NO other document — the standard
    novelty/duplication-risk signal (high novelty = fresh text; low
    novelty = the doc is assembled from corpus-repeated phrasing,
    exactly the mass ExactSubstr/near-dup dedup targets and the
    complement of what decontamination checks). Output ``(doc_id,
    n_grams, n_novel, novelty)`` — docs with fewer than ``n`` tokens
    report 0 grams and NULL novelty.

    Scale posture: distinct (doc, gram) explode -> gram-keyed
    document-frequency aggregation (map-side combined) -> gram-keyed
    join back -> per-doc counts. Two gram-keyed corpus-scale
    exchanges and an id-keyed spine join — the ExactSubstr detection
    shape without the windows; nothing pairwise. At real scale the
    gram key should be the xxhash64 fingerprint rather than the
    string (the substr_dedup hash_fn seam); the contract form keeps
    strings so the oracle replays verbatim."""
    toks = tokens_expr(text_col)
    grams = (
        ensure_min_parallelism(df)
        .select(F.col(id_col), F.explode(ngrams_expr(toks, n)).alias("g"))
        .distinct()
    )
    dfc = grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("__df__")
    )
    per_doc = (
        grams.join(dfc, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__df__") == 1).cast("int"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    base = df.select(F.col(id_col))
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.bround(
                    F.col("n_novel").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                ),
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Char-n-gram naive-Bayes language classifier (r12 — VERDICT r11 #5)
# ---------------------------------------------------------------------------


def char_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 256,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-doc hashed CHARACTER-n-gram histogram ``(doc_id, bucket,
    cnt)`` — the feature space of the NB language classifier (the
    ``selection.hashed_feature_counts`` shape one level below words:
    char n-grams carry language signal even on short / no-stopword /
    unseen-vocabulary docs, where whitespace tokens say nothing).

    Text normalizes as lower+trim+whitespace-collapse (the
    ``fingerprint`` discipline — spaces stay, word boundaries are
    signal); docs shorter than ``n`` normalized chars emit no rows.
    ``num_buckets`` MUST be a power of two: Spark buckets with
    ``pmod(signed_md5_64, B)`` while the DuckDB oracle uses the
    unsigned ``% B`` — the two agree exactly iff B divides 2^64.

    Scale posture: projection → explode → (doc_id, bucket) count with
    map-side combine; no corpus-wide state, shuffle rows bounded by
    min(doc_len, B) per doc. Memory is per row, not per corpus: at
    peak one row holds about (2n+1)·len array elements (the char
    array, n shifted slices, the n-wide zipped structs and the gram
    array), so a single very long document is bounded by executor
    memory; the length is not capped here."""
    if num_buckets & (num_buckets - 1):
        raise ValueError("num_buckets must be a power of two")
    from bht_etl_app_spark.operators.dedup import base_hash_expr

    h = base_hash_expr(hash_fn)
    s = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    # char array materialized once, then n shifted slice views zipped
    # positionally and concatenated per position (r13: the shingles_expr
    # zip form applied at the character level — the previous per-
    # position substr lambda paid UTF8String's O(position) char-offset
    # scan per gram, O(len^2) per doc; split+slice is O(len·n) and the
    # per-position work is n struct reads + one concat; identical grams
    # verified at sf0.1)
    sz = F.size(F.col("__c__"))
    zipped = F.arrays_zip(
        *[
            F.slice(F.col("__c__"), i + 1, sz - (n - 1)).alias(f"c{i}")
            for i in range(n)
        ]
    )
    grams = (
        ensure_min_parallelism(df)
        .select(F.col(id_col).alias("doc_id"), s.alias("__s__"))
        .where(F.length("__s__") >= n)
        .select("doc_id", F.split(F.col("__s__"), "").alias("__c__"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    zipped, lambda x: F.concat(*[x[f"c{i}"] for i in range(n)])
                )
            ).alias("g"),
        )
    )
    return (
        grams.select(
            "doc_id",
            F.pmod(h(F.col("g")), F.lit(num_buckets)).cast("long").alias(
                "bucket"
            ),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def lang_nb_fit(
    df: DataFrame,
    label_col: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 256,
    hash_fn: str = "md5",
    classes: list[str] | None = None,
    feats: DataFrame | None = None,
) -> DataFrame:
    """Multinomial naive Bayes over hashed char n-grams — the
    langid.py design (Lui & Baldwin: NB over byte n-grams), chosen
    over the ``selection.logreg_fit`` GD loop deliberately: NB is
    CLOSED FORM, so training is ONE corpus pass producing integer
    per-(class, bucket) counts, where n_iter gradient steps would be
    n_iter corpus passes — the difference that matters at 100 TB.

    Returns the model as a K×(B+1)-row DataFrame ``(lang, bucket,
    llw)``: rows with ``bucket >= 0`` hold the add-one-smoothed
    log-likelihood ``ln((cnt_cb + 1) / (tot_c + B))``; the
    ``bucket = -1`` row per class holds the smoothed log-prior
    ``ln((docs_c + 1) / (n_train + K))`` (the ``logreg_fit`` bias
    slot convention). All weights quantize HALF-EVEN to 9 dp so the
    model is engine-portable and parallelism-invariant. Training rows
    are those whose ``label_col`` value is in ``classes`` (default
    ``LANG_PRIORITY``); priors count labeled DOCS regardless of gram
    yield — both mirrored verbatim in the oracle.

    ``feats``: a precomputed :func:`char_ngram_buckets` frame over
    the SAME docs/params (caller owns its lifecycle) — the
    distillation chain computes the histogram once, persists it, and
    shares it between fit and score (the oracle's single
    ``ft AS MATERIALIZED`` CTE)."""
    if classes is None:
        classes = list(LANG_PRIORITY)
    k = len(classes)
    labeled = (
        ensure_min_parallelism(df)
        .select(F.col(id_col).alias("doc_id"), label_col.alias("__lang__"))
        .where(F.col("__lang__").isin(list(classes)))
    )
    if feats is None:
        feats = char_ngram_buckets(
            df, text_col, id_col, n, num_buckets, hash_fn
        )
    cls = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in classes])).alias("lang")
    )
    # 1-row broadcast normalizer (the crossJoin-whitelist class): the
    # training-doc total feeds every prior denominator
    ntr = labeled.agg(F.count(F.lit(1)).cast("long").alias("__ntr__"))
    prc = labeled.groupBy(F.col("__lang__").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("__dc__")
    )
    pri = (
        cls.join(prc, "lang", "left")
        .crossJoin(F.broadcast(ntr))
        .select(
            "lang",
            F.lit(-1).cast("long").alias("bucket"),
            F.bround(
                F.log(
                    (F.coalesce(F.col("__dc__"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("__ntr__") + F.lit(k)).cast("double")
                ),
                9,
            ).alias("llw"),
        )
    )
    cc = (
        feats.join(labeled, "doc_id")
        .groupBy(F.col("__lang__").alias("lang"), "bucket")
        .agg(F.sum("cnt").cast("long").alias("__cc__"))
    )
    tot = cc.groupBy("lang").agg(F.sum("__cc__").cast("long").alias("__t__"))
    dense = cls.select(
        "lang",
        F.explode(F.sequence(F.lit(0), F.lit(num_buckets - 1))).alias(
            "__b__"
        ),
    ).select("lang", F.col("__b__").cast("long").alias("bucket"))
    mb = (
        dense.join(cc, ["lang", "bucket"], "left")
        .join(tot, "lang", "left")
        .select(
            "lang",
            "bucket",
            F.bround(
                F.log(
                    (F.coalesce(F.col("__cc__"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (
                        F.coalesce(F.col("__t__"), F.lit(0))
                        + F.lit(num_buckets)
                    ).cast("double")
                ),
                9,
            ).alias("llw"),
        )
    )
    return mb.unionByName(pri)


def lang_nb_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 256,
    hash_fn: str = "md5",
    classes: list[str] | None = None,
    feats: DataFrame | None = None,
) -> DataFrame:
    """Score docs under a fitted NB model: ``(doc_id, lang_nb,
    nb_logscore)`` — the winning class and its unnormalized log
    posterior (prior + Σ cnt·loglik, 6 dp half-even). Ties after
    rounding break to the alphabetically smallest class (the SQL
    ``ORDER BY score DESC, lang`` rule); docs that yield no n-grams
    report ``('und', NULL)`` — the marker heuristic's no-evidence
    convention.

    The model (K×(B+1) rows — parameter-sized, the centroid/codebook
    class) persists and BROADCASTS into the scoring join, so
    inference is one corpus scan + a (doc_id, lang) aggregate; the
    per-doc dot product is an ordered fold over bucket-sorted terms
    (the recall_vs_exact float-sum discipline) so the score is
    parallelism-invariant and engine-portable.

    The model must be DENSE over ``classes``, as :func:`lang_nb_fit`
    emits it: every class has exactly one prior row (``bucket = -1``)
    and exactly one row in every bucket the model holds. Scoring reads
    a bucket's K weights by position, so a missing, duplicated or
    foreign class would silently shift weights onto the wrong class.
    The check rides inside the model's own aggregates (no extra Spark
    job): a sparse model fails the scoring query with a
    ``lang_nb_score: model is not dense`` error."""
    from pyspark import StorageLevel

    if classes is None:
        classes = list(LANG_PRIORITY)
    order = sorted(classes)
    k = len(order)
    model = model.persist(StorageLevel.MEMORY_AND_DISK)
    # r13: the model is pivoted to ONE row per bucket carrying all K
    # log-likelihoods in sorted-class order, so the scoring join no
    # longer expands feats K-fold (the previous (doc, bucket) x lang
    # join shuffled 3x the rows into a (doc, lang) aggregate, then a
    # second (doc) aggregate picked the argmax). One broadcast join +
    # one per-doc fold now computes all K dot products at once and the
    # argmax is a row-local greatest() — no second shuffle. Each
    # class's additions happen in the same bucket-ascending order as
    # before, so every score is bit-identical (the recall_vs_exact
    # float-sum discipline).
    pri = model.where((F.col("bucket") == -1) & F.col("lang").isin(order))
    mb = model.where((F.col("bucket") >= 0) & F.col("lang").isin(order))
    dense = F.array(*[F.lit(c) for c in order])

    def per_lang_arr():
        ws = F.array_sort(F.collect_list(F.struct("lang", "llw")))
        return F.when(
            F.transform(ws, lambda s: s["lang"]) == dense,
            F.transform(ws, lambda s: s["llw"]),
        ).otherwise(F.raise_error(F.lit(
            f"lang_nb_score: model is not dense over classes {order}"
            " (each class needs one prior row and one row per bucket)"
        )))

    mbp = mb.groupBy("bucket").agg(per_lang_arr().alias("__ws__"))
    prim = pri.agg(per_lang_arr().alias("__lps__"))
    if feats is None:
        feats = char_ngram_buckets(
            df, text_col, id_col, n, num_buckets, hash_fn
        )
    dots = (
        feats.join(F.broadcast(mbp), "bucket")
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.sort_array(
                    F.collect_list(F.struct("bucket", "cnt", "__ws__"))
                ),
                F.array(*[F.lit(0.0) for _ in range(k)]),
                lambda acc, x: F.array(
                    *[
                        acc[i] + x["cnt"].cast("double") * x["__ws__"][i]
                        for i in range(k)
                    ]
                ),
            ).alias("__dots__")
        )
        .crossJoin(F.broadcast(prim))
    )
    cands = [
        F.struct(
            F.bround(F.col("__lps__")[i] + F.col("__dots__")[i], 6).alias("sc"),
            F.lit(-(i + 1)).cast("long").alias("ni"),
            F.lit(c).alias("lang"),
        )
        for i, c in enumerate(order)
    ]
    # greatest() takes two or more arguments; a single class wins outright
    best = cands[0] if k == 1 else F.greatest(*cands)
    bestdf = dots.select("doc_id", best.alias("b"))
    # no ensure_min_parallelism here (r13): base is a pure id
    # projection feeding a join — no CPU-heavy per-row work follows,
    # so the round-robin repartition was one shuffle stage of pure
    # overhead
    base = df.select(F.col(id_col).alias("doc_id"))
    out = base.join(bestdf, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("b.lang"), F.lit("und")).alias("lang_nb"),
        F.col("b.sc").alias("nb_logscore"),
    )
    return track_persisted(out, model)


def lang_nb_classify(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 256,
    hash_fn: str = "md5",
    teacher: DataFrame | None = None,
) -> DataFrame:
    """End-to-end distillation of the stopword-marker heuristic into
    the char-n-gram NB classifier (VERDICT r11 #5 — the marker argmax
    at :func:`language_id` is silent on short / no-stopword docs; the
    char-n-gram student generalizes to them from the same evidence):
    weak labels = the teacher's non-``'und'`` predictions, fit, then
    score ALL docs. ``teacher`` lets a caller that already computed
    :func:`language_id` (the confusion report) pass it in rather than
    re-deriving the projection.

    At 100 TB the fit stage would run on a sampled slice (weak labels
    are cheap to re-derive; the model is K×(B+1) numbers either way)
    — the ``_sampled`` relation-swap seam; the fixture fits on the
    full table so the oracle replays one deterministic pipeline."""
    from pyspark import StorageLevel

    if teacher is None:
        teacher = language_id(df, text_col, id_col)
    # label projection persisted (r13): the fit references the labeled
    # frame three ways (prior total, per-class doc counts, gram-count
    # join), and without a materialization boundary Catalyst inlines
    # the teacher's argmax CASE into each subtree — predicate pushdown
    # then copies the whole marker-count expression into the scan
    # FILTER of three separate parquet scans, re-running tokenization
    # ~15x per row per scan (measured: the lang_nb_scores plan was 105
    # Exchanges / 3 teacher scans). The label table is (doc_id, lang)
    # — corpus-id-sized, the canonical thing to materialize.
    lab = teacher.select(
        F.col(id_col).alias("doc_id"), F.col("lang_pred")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # one char-n-gram histogram, persisted and shared by fit (joined
    # to the training labels) and score — the oracle's single
    # ft AS MATERIALIZED CTE; (doc_id, bucket, cnt) is min(len, B)
    # rows per doc, the standard feature materialization at scale
    feats = char_ngram_buckets(
        df, text_col, id_col, n, num_buckets, hash_fn
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the fit consumes its df ONLY for the (id, label) projection when
    # feats is supplied; the teacher's labels are derived from the same
    # docs (lab ids are a subset of df ids, one row each), so joining
    # docs back onto lab is an identity — hand fit the persisted label
    # table directly and save a corpus scan + broadcast join (r13)
    model = lang_nb_fit(
        lab, F.col("lang_pred"), text_col, "doc_id", n, num_buckets,
        hash_fn, feats=feats,
    )
    scored = lang_nb_score(
        df, model, text_col, id_col, n, num_buckets, hash_fn, feats=feats
    )
    return track_persisted(scored, feats, lab)


def lang_id_confusion(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 256,
    hash_fn: str = "md5",
) -> DataFrame:
    """Teacher-vs-student agreement report: one row per
    ``(lang_marker, lang_nb)`` cell with its doc count — the
    confusion matrix between :func:`language_id` and its distilled NB
    student (VERDICT r11 #5's acceptance artifact). The diagonal is
    agreement; the ``('und', *)`` row is exactly the docs where the
    student supplies signal the markers cannot.

    The teacher frame is a per-row scan-bound projection referenced
    twice (labels + report column) — two corpus scans, the audit-class
    cost posture; |langs|² output rows."""
    teacher = language_id(df, text_col, id_col)
    nb = lang_nb_classify(
        df, text_col, id_col, n, num_buckets, hash_fn, teacher=teacher
    )
    mk = teacher.select(
        F.col(id_col).alias("doc_id"), F.col("lang_pred").alias("lang_marker")
    )
    return (
        mk.join(nb.select("doc_id", "lang_nb"), "doc_id")
        .groupBy("lang_marker", "lang_nb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang_marker", "lang_nb")
    )

"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (JVM-side, whole-stage codegen) — at 100 TB
the text column streams through the scan with no Python in the loop.
Shared REGEX/stopword constants are consumed by both the Spark builders
and the DuckDB oracle SQL (plans/extensions.py) so the two engines
compute identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# language -> stopword alternation (word-boundary regex, lowercased input)
STOPWORDS = {
    "en": r"\b(the|and|of|to|is|that|it|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein)\b",
    "es": r"\b(el|los|que|una|por|como|para|las)\b",
    "fr": r"\b(les|et|des|est|une|dans|pour|qui)\b",
}
CJK_RANGE = r"[一-鿿]"
TOKEN_RE = r"\S+"
WORD_RE = r"[A-Za-z0-9]+"
PUNCT_RE = r"[^\w\s]"
# BPE-ish token estimate: runs of letters, runs of digits, single other chars
BPEISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(TOKEN_RE), 0))


def bpeish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token estimate (letter runs / digit runs / punct)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPEISH_RE), 0))


def lang_scores(col: Column | str) -> dict[str, Column]:
    lower = F.lower(_c(col))
    scores = {lang: F.regexp_count(lower, F.lit(rx)) for lang, rx in STOPWORDS.items()}
    scores["zh"] = F.regexp_count(_c(col), F.lit(CJK_RANGE))
    return scores


def language_id(col: Column | str) -> Column:
    """Heuristic language ID: CJK char presence wins, else the stopword
    alternation with the highest hit count, fixed precedence
    en > de > es > fr on ties, 'und' (undetermined) when all zero."""
    s = lang_scores(col)
    return (
        F.when(s["zh"] > 0, F.lit("zh"))
        .when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] > 0),
            F.lit("en"),
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] > 0), F.lit("de"))
        .when((s["es"] >= s["fr"]) & (s["es"] > 0), F.lit("es"))
        .when(s["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Raw quality signals: lengths, ratios — deterministic doubles.
    Entries that reference the token count more than once let-bind it
    internally (see ``let_``), so selecting any subset never evaluates
    the TOKEN_RE extraction more than once per entry."""
    c = _c(col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_words = F.size(F.regexp_extract_all(c, F.lit(WORD_RE), 0))
    n_punct = F.regexp_count(c, F.lit(PUNCT_RE))
    n_stop = F.regexp_count(F.lower(c), F.lit(STOPWORDS["en"]))
    mean_word_len = let_(
        n_tokens,
        lambda t: F.when(t > 0, (n_chars - (t - 1)) / t).otherwise(F.lit(0.0)),
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_words": n_words,
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": let_(
            n_tokens,
            lambda t: F.when(t > 0, n_stop / t).otherwise(F.lit(0.0)),
        ),
        "mean_word_len": mean_word_len,
    }


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]: rewards in-range length, word-like
    tokens, some stopwords; penalizes punctuation soup. The exact weighting
    is a heuristic — its value is the plumbing (pure expressions, cross-
    engine reproducible), not the constants. The token count is let-bound
    so the TOKEN_RE extraction runs once per row across all four terms."""
    c = _c(col)
    n_chars = F.length(c)
    n_words = F.size(F.regexp_extract_all(c, F.lit(WORD_RE), 0))
    n_stop = F.regexp_count(F.lower(c), F.lit(STOPWORDS["en"]))
    n_punct = F.regexp_count(c, F.lit(PUNCT_RE))
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    punct_pen = F.when(punct_ratio > 0.2, F.lit(0.5)).otherwise(F.lit(1.0))

    def body(t: Column) -> Column:
        wordish = F.when(t > 0, n_words / t).otherwise(F.lit(0.0))
        stop_ratio = F.when(t > 0, n_stop / t).otherwise(F.lit(0.0))
        stop_ok = F.when(stop_ratio > 0.02, F.lit(1.0)).otherwise(F.lit(0.5))
        return F.round(
            0.25 * len_ok
            + 0.25 * F.least(wordish, F.lit(1.0))
            + 0.25 * stop_ok
            + 0.25 * punct_pen,
            4,
        )

    return let_(token_count(c), body)


def fingerprint(col: Column | str) -> Column:
    """Deterministic 64-bit-ish document fingerprint: md5 of the
    normalized text (lowercase, non-alnum stripped, whitespace
    collapsed — dedup.normalized_text, the shared extract-based
    formulation; see its docstring for the RegExpReplace pathology),
    first 12 hex chars as integer."""
    from github_etl_pipeline_spark.operators.dedup import normalized_text

    return F.conv(F.substring(F.md5(normalized_text(_c(col))), 1, 12), 16, 10).cast(
        "long"
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per document with the full text-analysis surface."""
    f = quality_features(text_col)
    return df.select(
        id_col,
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        bpeish_token_count(text_col).alias("n_bpeish_tokens"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
        language_id(text_col).alias("lang_pred"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fingerprint"),
    )


def source_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source curation dashboard: volume, token mass, mean quality and
    exact-dup rate for every source/domain — the first report a curation
    run produces when deciding per-source mixture weights.

    All per-document expressions (token count, quality score, content
    fingerprint) evaluate map-side in the scan; the single shuffle
    carries (source, partial-aggregate) rows. The quality mean goes
    through an exact DECIMAL(18,4) sum (the score is 4dp by
    construction) so the result is accumulation-order independent —
    a plain double sum would drift in the last ulp across partitionings.
    Dup rate uses the 48-bit content fingerprint (two-phase distinct
    aggregate), not the text."""
    per_doc = df.select(
        F.col(source_col),
        token_count(text_col).cast("long").alias("_nt"),
        quality_score(text_col).cast("decimal(18,4)").alias("_q"),
        fingerprint(text_col).alias("_fp"),
    )
    n = F.count(F.lit(1))
    nd = F.countDistinct("_fp")
    return per_doc.groupBy(source_col).agg(
        n.alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.round(F.sum("_nt") / n, 6).alias("avg_tokens"),
        F.round(F.sum("_q").cast("double") / n, 6).alias("avg_quality"),
        nd.alias("n_distinct"),
        F.round(F.lit(1.0) - nd / n, 6).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters) and PII profiling
# ---------------------------------------------------------------------------

# RE2-compatible patterns (no lookaround) so Spark's Java regex and
# DuckDB's RE2 find identical matches; redaction order URL -> EMAIL ->
# PHONE (URLs can contain '@', so they must be consumed first)
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def words_lower(col: Column | str) -> Column:
    """Lowercased word array (the repetition-signal alphabet)."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(WORD_RE), 0)


def _bigrams_of(w: Column) -> Column:
    """NON-distinct consecutive bigrams of an existing word array.

    Built as zip_with(w, w[2:], concat) + drop-last rather than
    transform-over-indices with slice/element_at lambdas: expressions
    referenced inside a higher-order-function lambda are re-evaluated
    per ELEMENT, so the index-lambda form is O(n^2) per row (measured
    7x slower on ~100-word docs at sf1); the zip form touches each
    element once."""
    n = F.size(w)
    shifted = F.slice(w, 2, F.greatest(n - F.lit(1), F.lit(0)))
    zipped = F.zip_with(w, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(
        n >= 2, F.slice(zipped, 1, F.greatest(n - F.lit(1), F.lit(0)))
    ).otherwise(F.array().cast("array<string>"))


def max_multiplicity(arr: Column) -> Column:
    """Count of the most frequent element of an array, as a pure
    expression: sort, then the longest run of equal adjacent elements —
    O(n log n) per ROW, inside the scan. This replaces the
    explode -> groupBy(id, word) -> groupBy(id) -> join-back shape for
    per-document word statistics: that pipeline shuffles the entire
    tokenized corpus twice and re-joins it, which benchmarked
    SUPERLINEAR across the sf0.1->sf1 step (alpha 1.1) while this form
    is embarrassingly parallel and shuffles nothing."""
    s = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(s, init, step, lambda acc: acc["best"])


def let_(value: Column, body) -> Column:
    """Single-evaluation let-binding: bind ``value`` to a higher-order-
    function lambda variable so ``body`` (Column -> Column) can reference
    it any number of times while it is computed ONCE per row. Needed
    because (a) project collapse re-inlines plain column expressions into
    every reference, and (b) codegen subexpression elimination skips
    trees containing lambda functions and conditional/short-circuit
    positions — the quality-rule projection was re-running the word-array
    regexp per rule (24 regexp_extract_all nodes in one Project) before
    this. Implemented as ``transform(array(value), body)[0]`` — the array
    wrap is O(1) per row next to the expressions worth binding."""
    return F.transform(F.array(value), body)[0]


def repetition_signals(col: Column | str) -> dict[str, Column]:
    """The per-document repetition measures as pure column expressions
    over ONE tokenization: total word count, top-word fraction
    (via ``max_multiplicity``), duplicated-bigram fraction. Usable
    inline by any scan — no aggregation, no join, no shuffle."""
    w = words_lower(col)
    n = F.size(w)
    bg = _bigrams_of(w)
    nbg, ndbg = F.size(bg), F.size(F.array_distinct(bg))
    return {
        "n_words": F.when(n > 0, n).otherwise(F.lit(0)).cast("long"),
        "top_word_frac": F.round(
            F.when(n > 0, max_multiplicity(w) / n).otherwise(F.lit(0.0)), 6
        ),
        "dup_bigram_frac": F.round(
            F.when(nbg > 0, F.lit(1.0) - ndbg.cast("double") / nbg).otherwise(
                F.lit(0.0)
            ),
            6,
        ),
    }


def repetition_struct(col: Column | str) -> Column:
    """``repetition_signals`` as ONE struct column with the word array
    let-bound (see ``let_``): the WORD_RE extraction runs exactly once
    per row no matter how many signals the caller reads. Select the
    struct as a single column and read its fields in an outer projection
    (CollapseProject keeps multi-referenced expensive aliases in their
    own Project, so the struct is not re-inlined per field)."""

    def body(w: Column) -> Column:
        n = F.size(w)
        bg = _bigrams_of(w)
        nbg, ndbg = F.size(bg), F.size(F.array_distinct(bg))
        return F.struct(
            F.when(n > 0, n).otherwise(F.lit(0)).cast("long").alias("n_words"),
            F.round(
                F.when(n > 0, max_multiplicity(w) / n).otherwise(F.lit(0.0)), 6
            ).alias("top_word_frac"),
            F.round(
                F.when(nbg > 0, F.lit(1.0) - ndbg.cast("double") / nbg).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("dup_bigram_frac"),
        )

    return let_(words_lower(col), body)


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals used by quality filters
    (Gopher/C4-style): the fraction of words taken by the single most
    frequent word, and the duplicated fraction of word bigrams. ONE
    zero-shuffle projection: all three signals are array expressions
    over a single let-bound tokenization (see ``repetition_struct`` /
    ``max_multiplicity`` for why this beats the explode+groupBy form
    at scale)."""
    j = df.select(F.col(id_col), repetition_struct(text_col).alias("_r"))
    return j.select(
        id_col,
        F.col("_r.n_words").alias("n_words"),
        F.col("_r.top_word_frac").alias("top_word_frac"),
        F.col("_r.dup_bigram_frac").alias("dup_bigram_frac"),
    )


def redact_pii(col: Column | str) -> Column:
    """URL -> EMAIL -> PHONE redaction with typed placeholders."""
    t = F.regexp_replace(_c(col), URL_RE, "<URL>")
    t = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(t, PHONE_RE, "<PHONE>")


def pii_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII-ish pattern counts plus the md5 fingerprint of
    the redacted text (what a curation pipeline stores instead of raw
    text). Pure column expressions — one scan, no shuffle."""
    t = _c(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(URL_RE)).alias("n_urls"),
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(redact_pii(t)).alias("redacted_hash"),
    )


def build_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_v: int = 100,
    token_re: str = TOKEN_RE,
) -> DataFrame:
    """Corpus vocabulary: global token counts with a min-count floor and
    a top-V cutoff, plus each kept token's share of the total token
    stream — the tokenizer-training / vocab-pruning step of a text
    pipeline.

    Shape: explode -> one (token) hash aggregate (map-side partials
    collapse each partition's token stream to its distinct-token counts
    before the shuffle) -> broadcast total -> rank. The total token
    count is a SEPARATE sum of per-doc ``size()`` — one cheap scan with
    no explode/shuffle, instead of re-aggregating the token stream. The
    final ranking is ``row_number`` over (count desc, token asc) with a
    ``rank <= V`` filter, which Spark's limit-through-window pushdown
    plans as ``TakeOrderedAndProject(limit=V)`` — partial per-partition
    top-V, so no node ever sorts the full vocabulary. Output: (rank,
    term, cnt, pct_of_tokens).
    """
    from pyspark.sql import Window

    tok = df.select(F.explode(F.regexp_extract_all(text_col, F.lit(token_re), 0)).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = df.select(
        F.size(F.regexp_extract_all(text_col, F.lit(token_re), 0)).alias("n")
    ).agg(F.sum("n").alias("tot"))
    kept = counts.where(F.col("cnt") >= min_count)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    return (
        kept.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_v)
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "term",
            "cnt",
            (F.col("cnt").cast("double") / F.col("tot").cast("double") * 100).alias(
                "pct_of_tokens"
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval: score every document against a bag of
    query terms (Okapi BM25, Robertson/Sparck-Jones idf with the +1
    floor) and return the top ``topk`` as (id, bm25). The keyword-search
    primitive a corpus-exploration / eval-set-mining workflow runs over
    the documents table.

    Shape at 100 TB: the token array is pre-filtered to the query terms
    INSIDE the scan (array filter, no UDF), so the explode emits only
    query-term occurrences — corpus tokens never shuffle. Document
    frequencies reduce to <= |terms| rows and broadcast back; corpus
    size + avgdl is a broadcast single-row aggregate; the final top-k is
    a TakeOrderedAndProject (per-partition heads, never a global sort).
    Scores are rounded to 6 decimals BEFORE ordering so the (score, id)
    tie-break — and therefore the result set — is reproducible across
    engines and float summation orders.
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
    base = df.select(F.col(id_col), F.size(toks).alias("dl"), toks.alias("_w"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = F.filter("_w", lambda t: t.isin(*query_terms))
    posting = (
        base.select(id_col, "dl", F.explode(hits).alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = posting.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        posting.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(topk)


def dsir_importance(
    df: DataFrame,
    target_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    topk: int = 20,
) -> DataFrame:
    """DSIR-style importance resampling scores (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): rank raw
    documents by how much more likely they are under a TARGET unigram
    LM than under the raw-corpus unigram LM — the data-selection
    primitive for steering a 100-TB crawl toward a small high-quality
    target distribution. ``target_filter`` marks the target rows (they
    score too, as the natural top of the ranking). Returns the top
    ``topk`` as (id, n_tokens, rank); the per-doc score is the
    length-normalized mean token log-ratio
        avg_w ln( p_target(w) / p_raw(w) )
    with add-1 smoothing over the raw-corpus vocabulary, rounded to 9dp
    BEFORE ordering so the (score, id) tie-break is reproducible across
    engines and float summation orders (the bm25_topk convention).

    Shape at 100 TB: ONE corpus tokenize feeds ONE vocabulary-sized
    model aggregate — target and raw counts come out of the same
    groupBy(token) via a conditional count, so the target pass is free
    (the distinct-bigram-model lesson from bigram_logprob applied at
    design time). Scoring is the single corpus-sized (doc, token) join
    against that model relation; totals broadcast as a 1-row aggregate;
    the final top-k is a TakeOrderedAndProject, never a global sort."""
    toks = df.select(
        F.col(id_col),
        target_filter.alias("_tgt"),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)).alias(
            "tok"
        ),
    )
    model = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count_if(F.col("_tgt")).alias("ct"),
    )
    tot = model.agg(
        F.sum("cr").cast("double").alias("tr"),
        F.sum("ct").cast("double").alias("tt"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    ratio = (
        (F.col("ct").cast("double") + F.lit(1.0)) / (F.col("tt") + F.col("v"))
    ) / ((F.col("cr").cast("double") + F.lit(1.0)) / (F.col("tr") + F.col("v")))
    scored = (
        toks.join(model, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(ratio)), 9).alias("iw"),
        )
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.col("iw").desc(), F.col(id_col).asc()).limit(topk)
    w = Window.orderBy(F.col("iw").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "n_tokens", "rank"
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean log-probability under an interpolated BIGRAM
    language model trained on the corpus itself — the next step up from
    the unigram CCNet-style proxy: a doc full of individually-common
    words in incoherent ORDER scores low here but normal there.

    Model: p(w2|w1) = (c(w1 w2) + alpha * p_uni(w2)) / (c(w1 ·) + alpha)
    — add-``alpha`` smoothing with a unigram prior, so unseen
    continuations back off to corpus unigram mass and the estimate is
    proper (sums to 1 over the vocabulary). Output: one row per doc with
    >= 1 bigram: (id, n_bigrams, lp).

    Shape at 100 TB: bigram construction is the O(n) chained-zip_with
    k-gram expression inside the scan; the model is two vocab-sized
    groupBys (bigram counts, context counts) plus the unigram relation.
    p(w2|w1) depends ONLY on the bigram string, so the three model
    relations join each other at DISTINCT-BIGRAM size into a per-bigram
    ``log p`` table, and the corpus-sized (doc, bigram) relation joins
    the model exactly ONCE (r10: the previous shape joined bg three
    times — three corpus-sized Exchanges; sf10 A/B 17.5s -> see commit).
    The (doc, bigram) relation still feeds THREE consumers (bigram
    counts, context counts, the scored join), so it is persisted —
    without the cache the tokenize + k-gram + explode chain re-runs
    over every document once per consumer (r9 A/B at the 100x tier:
    19.3s recompute vs 15.1s persisted; the two-consumer unigram
    variant measured the OPPOSITE, so this is the 3+-consumer
    threshold, not a blanket rule). ``lp`` is rounded to 6 decimals
    (the bm25 rule): float means are libm/summation-order sensitive in
    final ulps, and rounding makes the (lp, id) ordering — hence rank
    output — reproducible across engines; callers should still emit
    ranks, not lp.

    Cache contract (ADVICE r8): the returned plan READS that persisted
    relation and this function never unpersists it. Long-lived sessions
    must sweep with ``session.sweep_caches(spark)`` after consuming the
    result — and always before re-running over a rewritten input table.
    """
    from github_etl_pipeline_spark.operators.curation import kgrams_of

    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
    n = F.size(toks)
    grams = F.when(n >= 2, kgrams_of(toks, 2)).otherwise(
        F.array().cast("array<string>")
    )
    bg = df.select(F.col(id_col), F.explode(grams).alias("bg")).persist()
    # tokens contain no whitespace (TOKEN_RE = \S+), so the first space
    # splits the bigram key unambiguously
    w1 = F.substring_index("bg", " ", 1)
    w2 = F.substring_index("bg", " ", -1)

    toks_flat = df.select(F.explode(toks).alias("tok"))
    uni = toks_flat.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    tot = uni.agg(F.sum("cu").cast("double").alias("s"))
    model2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    model1 = (
        bg.select(w1.alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # assemble the model at DISTINCT-bigram size: w1/w2 re-derive from
    # the bigram string, so context and unigram mass attach here — the
    # corpus-sized bg relation never rides these joins
    p = (F.col("c2") + F.lit(alpha) * F.col("cu").cast("double") / F.col("s")) / (
        F.col("c1") + F.lit(alpha)
    )
    model = (
        model2.select(
            "bg",
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("w2"),
            "c2",
        )
        .join(model1, "w1")
        .join(uni.withColumnRenamed("tok", "w2"), "w2")
        .crossJoin(F.broadcast(tot))
        .select("bg", F.log(p).alias("_lpb"))
    )
    # ONE corpus-sized join: each bigram occurrence picks up its
    # precomputed log-prob, then one doc-keyed aggregate
    return (
        bg.join(model, "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("_lpb"), 6).alias("lp"),
        )
    )

"""Deterministic sampling and mixing for training-data curation.

Corpus curation needs REPRODUCIBLE sampling — the same rows selected on
every run, engine, and retry (resumable pipelines, auditable data
lineage) — so this is Bernoulli-by-hash, not ``rand()``: a row is kept
iff its md5-derived bucket (0..9999) falls below the stratum's rate.
Pure column expressions: one scan, no shuffle, no RNG state, and the
DuckDB oracles reproduce the exact bucket values bit-for-bit (same
md5-prefix construction as functions/hashing.py).

At 100 TB this is the shape you want: sampling happens inside the scan
(combined with predicate pushdown and column pruning), and changing the
rate later re-selects a SUPERSET/SUBSET of the previous sample (buckets
are stable), which makes incremental mixture rebalancing cheap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SAMPLE_SEED = "spark-graft-sample"
BUCKETS = 10_000


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sample_bucket(id_col: Column | str, seed: str = SAMPLE_SEED) -> Column:
    """Stable bucket 0..9999 from md5(seed ':' id) — the sampling coin."""
    h = F.md5(F.concat(F.lit(seed + ":"), _c(id_col).cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % BUCKETS


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: str = SAMPLE_SEED,
) -> DataFrame:
    """Per-stratum deterministic sampling — the mixture-weighting step of
    a training-data pipeline (e.g. books at 1.0, web at 0.25). Rows in
    strata missing from ``rates`` keep ``default_rate``."""
    threshold: Column = F.lit(int(round(default_rate * BUCKETS)))
    for key in sorted(rates):
        threshold = F.when(
            _c(strata_col) == key, F.lit(int(round(rates[key] * BUCKETS)))
        ).otherwise(threshold)
    return df.where(sample_bucket(id_col, seed) < threshold)


def exact_k_per_stratum(
    df: DataFrame,
    k: int = 10,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = SAMPLE_SEED,
) -> DataFrame:
    """Exactly-k deterministic sample per stratum (distributed reservoir
    sampling with a portable coin): rank each stratum's rows by their md5
    sample bucket (ties by id) and keep the k smallest.

    Rate-based sampling (``stratified_sample``) can't promise exact
    cardinality; eval sets and per-source audits need exactly k. The
    ``row_number() <= k`` filter is rewritten by Spark's
    InferWindowGroupLimit into a per-partition partial top-k BEFORE the
    stratum shuffle, so each map task forwards at most k rows per
    stratum — the window never materializes a full stratum even when one
    source dominates the corpus (the plan test asserts WindowGroupLimit
    is present). Re-runs, engines, and retries select identical rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        sample_bucket(id_col, seed).asc(), _c(id_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


WEIGHTED_SEED = "spark-graft-wsample"
_U_HEX_DIGITS = 13  # 52 bits -> exact double


def weighted_sample_wor(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = WEIGHTED_SEED,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: k rows where
    inclusion probability tracks ``weight_col`` (Efraimidis-Spirakis
    exponential-keys, "Weighted random sampling with a reservoir", IPL
    2006; public technique): draw u ~ U(0,1] per row, rank by
    -ln(u)/w ascending, keep the k smallest.

    Determinism/cross-engine notes: u is md5-derived (52 hex bits ->
    exactly representable double), so re-runs and both engines draw the
    SAME u. The ranking key is rounded to 12 decimals before comparison:
    ln() may differ by 1 ulp between libm and the JVM, and an unrounded
    1-ulp flip at the k-th place would change the selected SET — after
    rounding, a flip requires two keys within 1e-12 of a rounding edge.
    Ties (including exact weight+u collisions) break by id.

    Scale shape: one scan computing the key + a global top-k — Catalyst
    plans the empty-partition rank<=k as TakeOrderedAndProject(limit=k):
    each task keeps its local k smallest, one tiny merge on the driver-
    side reduce, never a full sort (verified in the committed plan).
    """
    w = _c(weight_col).cast("double")
    hex13 = F.substring(F.md5(F.concat(F.lit(seed + ":"), _c(id_col).cast("string"))), 1, _U_HEX_DIGITS)
    u = (F.conv(hex13, 16, 10).cast("double") + F.lit(1.0)) / F.lit(float(16**_U_HEX_DIGITS))
    key = F.round(-F.log(u) / w, 12)
    ranked = df.where(w > 0).withColumn("_wkey", key)
    win = Window.orderBy(F.col("_wkey").asc(), _c(id_col).asc())
    return (
        ranked.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= k)
        .drop("_wkey", "_rn")
    )


def token_budget_mix(
    df: DataFrame,
    budget_tokens: int | None = None,
    weights: dict[str, float] | None = None,
    text_col: str = "text",
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = SAMPLE_SEED,
) -> DataFrame:
    """Token-budget data-mix sampler — the practical mixing step a
    training run starts from (the rate-solving cousin of DoReMi-style
    weight selection): given a total token budget and per-source target
    weights, solve each source's deterministic sampling rate
    ``min(1, budget*w_s / available_s)`` and apply it with the md5
    bucket coin. Output one row per source:
    (source, rate_bucket, n_docs, n_tokens) — the realized mix report.

    A source whose share exceeds its available tokens caps at rate 1
    (you cannot mint data) — the shortfall is VISIBLE in the report
    rather than silently rebalanced, so the caller decides whether to
    re-weight. ``budget_tokens=None`` targets half the corpus;
    ``weights=None`` weights sources equally.

    Determinism / cross-engine: available-token sums are exact BIGINTs;
    rates are computed in the fixed order (budget * w) / avail (IEEE-
    identical in both engines) and floored onto the 10k-bucket integer
    grid (floor, not round — round-half-even vs half-up diverges at
    boundaries); the coin compare is pure integer. The per-source
    totals collect is bounded by the source cardinality (the centroid-
    collect contract).

    Scale shape: ONE corpus scan computes token counts; the totals
    aggregate is map-side combined to |sources| rows; the sample filter
    is a pure projection predicate (no shuffle beyond the final
    |sources|-row report aggregate)."""
    import math

    from github_etl_pipeline_spark.operators.text import TOKEN_RE

    nt = F.size(F.regexp_extract_all(_c(text_col), F.lit(TOKEN_RE), 0)).cast("long")
    tok = df.select(_c(id_col).alias("_id"), _c(strata_col).alias("_src"), nt.alias("_nt")).persist()
    avail = {
        r["_src"]: int(r["a"])
        for r in tok.groupBy("_src").agg(F.sum("_nt").alias("a")).collect()
    }
    total = sum(avail.values())
    if budget_tokens is None:
        budget_tokens = total // 2
    ns = len(avail)
    thresholds: dict[str, int] = {}
    for s, a in avail.items():
        w = (weights or {}).get(s, 1.0 / ns)
        rate = min(1.0, float(budget_tokens) * w / float(a)) if a else 0.0
        thresholds[s] = int(math.floor(rate * BUCKETS))
    thr_col: Column = F.lit(0)
    for s in sorted(thresholds):
        thr_col = F.when(F.col("_src") == s, F.lit(thresholds[s])).otherwise(thr_col)
    sampled = tok.where(sample_bucket(F.col("_id"), seed) < thr_col)
    agg = sampled.groupBy("_src").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("_nt").alias("n_tokens")
    )
    spark = df.sparkSession
    thr_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(s, thresholds[s]) for s in sorted(thresholds)], 1
        ),
        f"{strata_col} string, rate_bucket long",
    )
    return thr_df.join(agg, thr_df[strata_col] == agg["_src"], "left").select(
        strata_col,
        "rate_bucket",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    )

"""Continuous dedup ingest: the end-to-end daily-delta loop the
incremental span operators individually support, composed as ONE
Structured Streaming pipeline —

    delta docs  ->  span-mark vs the historical gram index
                ->  clean (drop duplicated spans, keep text)
                ->  cleaned shard per batch (replay-idempotent)
                ->  gram index advanced by the CLEANED delta

History is never re-read or re-tokenized: each micro-batch joins its
own skinny (id, pos, gh) relation against the vocabulary-bounded
``(gh, cnt)`` index (``duplicate_spans_against_index``), and the index
advances by a merge of per-gram counts — the same semantics as
``build_gram_index(mode="append")`` + ``compact_gram_index`` but
maintained crash-safe per batch (the index is rewritten per batch; it
is thousands of times smaller than the text, so the rewrite is the
cheap side of the loop).

Idempotency / crash safety:
  * cleaned output: one ``batch=<id>`` directory per micro-batch,
    written with overwrite — a replayed epoch rewrites the same
    directory byte-for-byte instead of appending duplicates.
  * index: rewritten through the one directory commit
    (``sinks/commit.py``), stamped with the batch's epoch id — every
    crash point leaves a complete index on disk, and a replayed epoch
    short-circuits on the stamp.
  * the output shard is written BEFORE the index promotes, so a crash
    between them replays the batch: the shard overwrite is idempotent
    and the index merge re-runs from the pre-batch index.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.curation import (
    _pos_gram_hashes,
    duplicate_spans,
    duplicate_spans_against_index,
)
from github_etl_pipeline_spark.operators.text import TOKEN_RE
from github_etl_pipeline_spark.sinks import commit


def clean_with_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every token inside a duplicated span and KEEP the cleaned
    text (the ingest loop's shard payload — unlike
    ``remove_duplicate_spans``, whose md5-only output is the
    comparison/sink shape). Same scale shape: spans collect to one
    skinny array per doc, token filtering is a pure array expression,
    and only docs WITH spans join. Output (id, clean_text, n_tokens,
    n_removed)."""
    toks = F.coalesce(
        F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0),
        F.array().cast("array<string>"),
    )
    by_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.array(F.col("span_start"), F.col("span_end"))).alias("_spans")
    )
    covered = lambda i, sp: F.exists(  # noqa: E731
        sp, lambda s: (i >= F.element_at(s, 1)) & (i <= F.element_at(s, 2))
    )
    with_spans = docs.join(by_doc, on=id_col, how="left").select(
        F.col(id_col),
        toks.alias("_toks"),
        F.coalesce(F.col("_spans"), F.array().cast("array<array<int>>")).alias("_sp"),
    )
    kept = F.filter(F.col("_toks"), lambda t, i: ~covered(i, F.col("_sp")))
    return with_spans.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
    )


def _gram_counts(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(gh, cnt) occurrence counts — the index's row shape."""
    return (
        _pos_gram_hashes(docs, text_col, id_col, k)
        .groupBy(F.col("_gh").alias("gh"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def run_dedup_ingest(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_path,
    index_path,
    checkpoint_dir,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
):
    """Start (availableNow) the continuous dedup ingest; returns the
    StreamingQuery — callers ``awaitTermination()``. ``docs_stream`` is
    a streaming DataFrame of documents (at minimum ``id_col`` +
    ``text_col``). Like the rollup store, ``index_path`` /
    ``checkpoint_dir`` are a pair."""
    out_path = Path(str(out_path))
    index_path = Path(str(index_path))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        staging = commit.begin(index_path)
        if commit.applied(index_path, batch_id):
            return  # replayed epoch: shard + index already applied

        # TARGETED unpersist (ADVICE r10, revising the r9 session-wide
        # sweep): the batch body persists exactly two relations it owns
        # (batch_df, cleaned) — both derived from this epoch's stream
        # batch, so releasing those two handles in the finally block
        # removes their CacheManager entries AND storage even when a
        # sink write raises mid-batch. The span operators persist
        # nothing internally, and the index parquet this batch rewrites
        # is never cached, so nothing stale can survive into the next
        # micro-batch. A session-wide sweep here would also clear caches
        # OWNED BY THE CALLER of a shared session (e.g. a persisted
        # static dim joined into the stream), forcing a recompute every
        # batch — session-wide sweeps belong to harness entry points
        # that own the session (bench/probe/check), not to a sink body.
        cleaned = None
        try:
            batch_df = batch_df.persist()
            if index_path.exists():
                spans = duplicate_spans_against_index(
                    spark, batch_df, index_path, text_col, id_col, k, min_count
                )
            else:
                # empty history: delta-internal duplication only — the
                # exact against-index semantics with every _hist_cnt = 0
                spans = duplicate_spans(batch_df, text_col, id_col, k, min_count)
            cleaned = clean_with_spans(batch_df, spans, text_col, id_col).persist()

            # 1) shard first — per-batch directory, replay-idempotent
            cleaned.write.mode("overwrite").parquet(
                str(out_path / f"batch={batch_id}")
            )

            # 2) advance the index by the CLEANED delta's gram counts
            delta = _gram_counts(
                cleaned.select(
                    F.col(id_col), F.col("clean_text").alias(text_col)
                ),
                text_col,
                id_col,
                k,
            )
            if index_path.exists():
                existing = spark.read.parquet(str(index_path))
                merged = (
                    existing.unionByName(delta)
                    .groupBy("gh")
                    .agg(F.sum("cnt").alias("cnt"))
                )
            else:
                merged = delta
            merged.write.mode("overwrite").parquet(str(staging))
            commit.stamp(staging, batch_id)
            commit.promote(index_path)
        finally:
            batch_df.unpersist()
            if cleaned is not None:
                cleaned.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def read_clean_shards(spark: SparkSession, out_path) -> DataFrame:
    """The accumulated cleaned corpus (all batch directories)."""
    return spark.read.option("basePath", str(out_path)).parquet(
        str(Path(str(out_path)) / "batch=*")
    )

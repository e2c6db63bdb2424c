"""Continuous ANN-index ingest: the embedding half of the daily-delta
loop (the text half is ``streaming/dedup_ingest.py``) — a Structured
Streaming pipeline that maintains the served IVF-PQ index as vector
deltas arrive:

    delta embeddings  ->  bootstrap batch: train coarse centroids + PQ
                          codebooks (once), persist both
                      ->  every batch: assign cells + encode codes with
                          the FROZEN persisted state, write a
                          replay-idempotent per-batch code shard
                      ->  ``ann_ivfpq_search`` serves over everything
                          ingested so far

History is never re-read: each micro-batch pays exactly one
assignment + encode projection over its own rows (the
``ann_ivfpq_append`` cost shape). Frozen centroids/codebooks keep the
math append == rebuild-with-frozen-state (tests/test_pq.py pins the
batch operator; tests/test_ann_ingest.py pins the loop), so a served
search over N batches equals the search over their one-shot union.

Idempotency / crash safety (the one directory commit,
``sinks/commit.py``):
  * codes: one ``codes/batch=<id>`` directory per micro-batch,
    partitioned by cell INSIDE it — a replayed epoch rewrites the same
    directory instead of double-appending (plain ``mode("append")``,
    the batch operator's default, is NOT replay-safe under foreachBatch
    redelivery). Spark's partition discovery exposes both ``batch`` and
    ``cell`` as partition columns, so the search's cell pruning works
    unchanged across shards.
  * bootstrap: the FIRST batch builds the whole index (centroids,
    codebooks, its shard, its epoch stamp) in staging and promotes it;
    a crash mid-bootstrap replays the deterministic build from scratch.
  * later batches stamp their epoch id into the live index after their
    shard, so a crash replays into overwrite-idempotent locations.

Distribution drift: frozen codebooks lose DISTORTION quality, never
correctness — watch ``pq_reconstruction_error`` on each delta and
retrain (fresh index root) on the corpus refresh cadence when it drifts
above the bootstrap-time gate.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.pq import (
    _encode_udf,
    build_pq_codebooks,
    read_codebooks,
    write_codebooks,
)
from github_etl_pipeline_spark.operators.similarity import (
    _assign_cells,
    _lloyd_refine,
    _sample_centroids,
    read_centroids,
    write_centroids,
)
from github_etl_pipeline_spark.sinks import commit


def _load_frozen(spark: SparkSession, index_path: Path):
    # r14: driver-side reads of the driver-bounded frozen state — each
    # Spark read+collect was a full job PER MICRO-BATCH (guide §5)
    return (
        read_centroids(index_path / "centroids"),
        read_codebooks(index_path / "codebooks"),
    )


def run_ann_ingest(
    spark: SparkSession,
    emb_stream: DataFrame,
    index_path,
    checkpoint_dir,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Start (availableNow) the continuous ANN-index ingest; returns the
    StreamingQuery — callers ``awaitTermination()``. ``emb_stream`` is a
    streaming DataFrame of (id_col, vec_col). Like the rollup store,
    ``index_path`` / ``checkpoint_dir`` are a pair."""
    index_path = Path(str(index_path))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        staging = commit.begin(index_path)
        if commit.applied(index_path, batch_id):
            return  # replayed epoch: shard already applied

        bootstrap = not index_path.exists()
        target = staging if bootstrap else index_path
        try:
            batch_df = batch_df.persist()
            if bootstrap:
                # train on the first delta — the deterministic build, so
                # a replayed bootstrap rewrites identical bytes
                centroids = _sample_centroids(batch_df, id_col, vec_col, n_centroids)
                if lloyd_iterations > 0:
                    centroids = _lloyd_refine(
                        batch_df, vec_col, centroids, lloyd_iterations
                    )
                books = build_pq_codebooks(
                    batch_df, m=m, k=k, lloyd_iterations=lloyd_iterations,
                    id_col=id_col, vec_col=vec_col,
                )
                # r14: driver-side writes (write_centroids rationale) —
                # a replayed bootstrap still rewrites identical values
                write_centroids(target / "centroids", centroids)
                write_codebooks(target / "codebooks", books)
            else:
                centroids, books = _load_frozen(spark, index_path)

            codes = _encode_udf(books)
            (
                _assign_cells(batch_df, centroids, id_col, vec_col)
                .select(
                    F.col(id_col), F.col("cell"), codes(F.col(vec_col)).alias("codes")
                )
                .repartition(len(centroids), F.col("cell"))
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(str(target / "codes" / f"batch={batch_id}"))
            )
        finally:
            batch_df.unpersist()
        commit.stamp(target, batch_id)
        if bootstrap:
            commit.promote(index_path)

    return (
        emb_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )

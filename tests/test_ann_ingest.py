"""Continuous ANN-index ingest loop (streaming/ann_ingest.py): frozen
bootstrap training, per-batch replay-idempotent code shards, served
search over everything ingested, and restart/crash recovery."""

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.pq import (
    ann_ivfpq_search,
    build_ivfpq_index,
)
from github_etl_pipeline_spark.sources.tables import read_table
from github_etl_pipeline_spark.streaming import ann_ingest
from github_etl_pipeline_spark.streaming.ann_ingest import run_ann_ingest

SF = "/root/testdata/sf0.001"
M, K = 8, 16


def _rows(spark, lo, hi):
    emb = read_table(spark, SF, "embeddings").where(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    )
    return [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]


def _feed(spark, srcdir, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(str(srcdir))


def _run(spark, srcdir, idx, ckpt):
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("recursiveFileLookup", "true")
        .parquet(str(srcdir))
    )
    q = run_ann_ingest(spark, stream, idx, ckpt, n_centroids=8, m=M, k=K)
    q.awaitTermination()


def _queries(spark):
    emb = read_table(spark, SF, "embeddings").where(F.col("vec_id") < 3)
    return emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )


def test_ingest_two_batches_and_serve(spark, tmp_path):
    src, idx, ckpt = tmp_path / "src", tmp_path / "idx", tmp_path / "ckpt"

    _feed(spark, src, _rows(spark, 0, 300))
    _run(spark, src, idx, ckpt)
    n0 = spark.read.parquet(str(idx / "codes")).count()
    assert n0 == 300

    _feed(spark, src, _rows(spark, 300, 500))
    _run(spark, src, idx, ckpt)
    codes = spark.read.parquet(str(idx / "codes"))
    assert codes.count() == 500
    assert codes.select("vec_id").distinct().count() == 500

    # served search over the ingested index equals the search over a
    # one-shot index whose centroids + codebooks were trained on the
    # SAME bootstrap slice (frozen-state equivalence, end-to-end)
    served = ann_ivfpq_search(
        spark, idx, _queries(spark), k=5, n_probe=8
    ).collect()
    ref_idx = str(tmp_path / "ref_idx")
    emb = read_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    build_ivfpq_index(
        emb.where(F.col("vec_id") < 300), ref_idx,
        n_centroids=8, m=M, k=K, lloyd_iterations=2,
    )
    from github_etl_pipeline_spark.operators.pq import ann_ivfpq_append

    ann_ivfpq_append(spark, ref_idx, emb.where(F.col("vec_id") >= 300))
    ref = ann_ivfpq_search(
        spark, ref_idx, _queries(spark), k=5, n_probe=8
    ).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in rows)
    assert key(served) == key(ref)


def test_replayed_epoch_does_not_double_ingest(spark, tmp_path):
    src, idx, ckpt = tmp_path / "src", tmp_path / "idx", tmp_path / "ckpt"
    _feed(spark, src, _rows(spark, 0, 200))
    _run(spark, src, idx, ckpt)

    # crash simulation: the checkpoint lost the committed epoch (replay
    # the same source with a FRESH checkpoint) — the high-water marker
    # short-circuits and nothing is double-written
    _run(spark, src, idx, tmp_path / "ckpt2")
    codes = spark.read.parquet(str(idx / "codes"))
    assert codes.count() == 200
    assert (idx / "_last_batch").read_text() == "0"


def test_crash_before_marker_replays_idempotently(spark, tmp_path):
    src, idx, ckpt = tmp_path / "src", tmp_path / "idx", tmp_path / "ckpt"
    _feed(spark, src, _rows(spark, 0, 200))
    _run(spark, src, idx, ckpt)
    before = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(str(idx / "codes")).collect()
    )
    # crash between the shard write and the marker: marker lost
    (idx / "_last_batch").unlink()
    _run(spark, src, idx, tmp_path / "ckpt3")
    after = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(str(idx / "codes")).collect()
    )
    assert after == before  # overwrite-idempotent replay, byte-stable content


def test_crashed_bootstrap_replays_from_scratch(spark, tmp_path, monkeypatch):
    """A crash between the bootstrap's centroid and codebook writes must
    not wedge the index: the replayed epoch bootstraps again and ends
    with the same index a clean ingest builds."""
    src, idx, ckpt = tmp_path / "src", tmp_path / "idx", tmp_path / "ckpt"
    _feed(spark, src, _rows(spark, 0, 200))

    def crash(path, books):
        raise RuntimeError("crash between the bootstrap writes")

    with monkeypatch.context() as m:
        m.setattr(ann_ingest, "write_codebooks", crash)
        with pytest.raises(StreamingQueryException):
            _run(spark, src, idx, ckpt)
    _run(spark, src, idx, ckpt)

    clean = tmp_path / "clean_idx"
    _run(spark, src, clean, tmp_path / "clean_ckpt")

    def codes(path):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]))
            for r in spark.read.parquet(str(path / "codes")).collect()
        )

    assert len(codes(idx)) == 200
    assert codes(idx) == codes(clean)
    assert (idx / "_last_batch").read_text() == "0"

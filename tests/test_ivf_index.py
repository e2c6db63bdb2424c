"""IVF build/search split (VERDICT r4 #1): ``build_ivf_index`` persists
centroids + cell-partitioned vectors once; ``ann_ivf_search`` serves
top-k from the stored index with a partition-pruned scan and NO Lloyd
pass. The split exists so serving stops paying the 2-scan index build
per query."""

import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.pq import ann_ivfpq_search, build_ivfpq_index
from github_etl_pipeline_spark.operators.similarity import (
    ann_ivf_search,
    ann_ivf_topk,
    build_ivf_index,
    cosine_topk,
)
from github_etl_pipeline_spark.sources.tables import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    emb = read_table(spark, SF, "embeddings")
    build_ivf_index(emb, path, n_centroids=16, lloyd_iterations=2)
    return path


def _queries(spark):
    emb = read_table(spark, SF, "embeddings")
    return emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_index_partitions_every_vector_once(spark, index):
    emb = read_table(spark, SF, "embeddings")
    cells = spark.read.parquet(f"{index}/cells")
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()
    cents = spark.read.parquet(f"{index}/centroids")
    assert cents.count() == 16
    # every assigned cell is a real centroid id
    cell_ids = {r.cell for r in cells.select("cell").distinct().collect()}
    assert cell_ids <= {r.centroid_id for r in cents.collect()}


def test_search_scan_is_partition_pruned(spark, index):
    q = ann_ivf_search(spark, index, _queries(spark), k=5, n_probe=4)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:300]
    # the pruned scan must touch a strict subset of the cell directories
    # (10 queries x 4 probes can cover at most 16 cells, usually fewer)
    cells_dir = spark.read.parquet(f"{index}/cells")
    n_cells = cells_dir.select("cell").distinct().count()
    files = {
        r[0]
        for r in cosine_files(q)
    }
    touched = {f.split("cell=")[1].split("/")[0] for f in files if "cell=" in f}
    assert 0 < len(touched) <= n_cells


def cosine_files(df):
    return df.sparkSession.createDataFrame(
        [(f,) for f in df.inputFiles()], "f string"
    ).collect()


def test_served_matches_inline_ivf(spark, index):
    """The served search over a freshly built index returns the same
    neighbor sets as the build-inside-the-query operator with identical
    parameters (both derive the same deterministic sample + Lloyd
    centroids from the same corpus)."""
    emb = read_table(spark, SF, "embeddings")
    queries = _queries(spark)
    served = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_search(spark, index, queries, k=5, n_probe=4).collect()
    }
    inline = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(
            emb, queries, k=5, n_centroids=16, n_probe=4, lloyd_iterations=2
        ).collect()
    }
    assert served == inline


def test_served_recall_and_shape(spark, index):
    queries = _queries(spark)
    emb = read_table(spark, SF, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()
    }
    rows = ann_ivf_search(spark, index, queries, k=5, n_probe=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(exact & approx) / len(exact) >= 0.3
    # per-query ranks are 1..k with no self-matches
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
        assert r.neighbor_id != r.query_id
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_stale_index_not_shared_across_datasets():
    from github_etl_pipeline_spark.plans.extensions import _ivf_index_path

    assert _ivf_index_path("/root/testdata/sf0.001") != _ivf_index_path(
        "/root/testdata/sf0.01"
    )
    assert _ivf_index_path("/a/b") == _ivf_index_path("/a/b/")


def test_served_full_probe_equals_brute_force(spark, index):
    """Probing every cell makes IVF exact: the served search with
    n_probe == n_centroids must reproduce cosine_topk exactly (the same
    invariant test_ann_ivf_recall pins for the inline operator)."""
    emb = read_table(spark, SF, "embeddings")
    queries = _queries(spark)
    exact = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    served = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in ann_ivf_search(spark, index, queries, k=5, n_probe=16).collect()
    }
    assert served == exact


def test_serving_path_has_no_python_workers(spark, index):
    """The serving plan must be pure JVM: probe-cell assignment happens
    driver-side over the collected query set, so no Python/Arrow eval
    node may appear (the inline operator's per-query build is exactly
    what the split removed)."""
    q = ann_ivf_search(spark, index, _queries(spark), k=5, n_probe=4)
    plan = q._jdf.queryExecution().executedPlan().toString()
    for marker in ("PythonUDF", "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"Python worker node in serving plan: {marker}"


def test_append_serves_union_exactly(spark, tmp_path):
    """Index lifecycle: build over half the corpus, ann_ivf_append the
    other half — a full-probe served search over the appended index must
    equal brute-force cosine_topk over the WHOLE corpus (frozen
    centroids keep serving exact; only per-probe recall can drift)."""
    from github_etl_pipeline_spark.operators.similarity import ann_ivf_append

    emb = read_table(spark, SF, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "idx_append")
    build_ivf_index(old, path, n_centroids=8, lloyd_iterations=1)
    ann_ivf_append(spark, path, new)

    queries = _queries(spark)
    exact = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    served = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in ann_ivf_search(spark, path, queries, k=5, n_probe=8).collect()
    }
    assert served == exact
    # every vector of both halves landed in exactly one cell
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()
    # and the served plan still partition-prunes after the append
    q = ann_ivf_search(spark, path, queries, k=5, n_probe=2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_recall_floor_query(spark):
    """The registered recall gate: summed per-query overlap with the
    exact top-5 stays above the measured floor (same 0.3 bound as the
    operator-level recall tests)."""
    from github_etl_pipeline_spark.plans import REGISTRY

    rows = REGISTRY["ann_ivf_recall_floor"].builder(spark, SF).collect()
    assert len(rows) == 5
    total = sum(r.n_in_exact for r in rows)
    assert 0 <= total <= 25
    assert total / 25 >= 0.3, rows


def test_build_survives_empty_scan_partitions(spark, tmp_path):
    """Empty input partitions are routine once the build reads a scan's
    native splits (a single-row-group file yields one non-empty split
    out of size/defaultParallelism byte ranges). _lloyd_refine's
    partial-sum pass previously yielded an all-empty pd.DataFrame for
    such partitions, whose 's' column defaulted to float64 — Arrow then
    refused float64 -> array<double> and the whole build crashed
    (caught at the .sf3 tier, r9). Force empty partitions explicitly
    and require the build to succeed and index every vector once."""
    emb = read_table(spark, SF, "embeddings").repartition(64)  # 500 rows
    # repartition(64) of 500 rows leaves most partitions non-empty, so
    # ALSO append a filter-to-empty union leg to guarantee empties
    empty = read_table(spark, SF, "embeddings").where(F.lit(False))
    emb = emb.unionAll(empty.repartition(8))
    path = str(tmp_path / "idx_empty")
    build_ivf_index(emb, path, n_centroids=8, lloyd_iterations=2)
    cells = spark.read.parquet(f"{path}/cells")
    n = read_table(spark, SF, "embeddings").count()
    assert cells.count() == n
    assert cells.select("vec_id").distinct().count() == n


@pytest.mark.parametrize(
    "build, search, step",
    [
        (
            build_ivf_index,
            ann_ivf_search,
            "github_etl_pipeline_spark.operators.similarity._assign_cells",
        ),
        (
            build_ivfpq_index,
            ann_ivfpq_search,
            "github_etl_pipeline_spark.operators.pq._cell_codes_udf",
        ),
    ],
    ids=["ivf", "ivfpq"],
)
def test_failed_rebuild_leaves_served_index_and_caches(
    spark, tmp_path, monkeypatch, build, search, step
):
    """A rebuild that fails after writing its small tables and before
    writing the corpus must not change what the index serves (the new
    index is promoted only once complete) and must not leave the corpus
    it persisted cached."""
    emb = read_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build(emb.where(F.col("vec_id") % 2 == 0), path, n_centroids=8)

    def served():
        return sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in search(spark, path, _queries(spark), k=5, n_probe=4).collect()
        )

    def n_persisted():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    before, cached = served(), n_persisted()

    def fail(*args, **kwargs):
        raise RuntimeError("injected build failure")

    with monkeypatch.context() as m:
        m.setattr(step, fail)
        with pytest.raises(RuntimeError, match="injected build failure"):
            build(emb.where(F.col("vec_id") % 2 == 1), path, n_centroids=8)
    assert n_persisted() == cached
    assert served() == before


@pytest.mark.parametrize("build", [build_ivf_index, build_ivfpq_index], ids=["ivf", "ivfpq"])
def test_build_keeps_caller_cache(spark, tmp_path, build):
    """A builder releases only a cache it created: an input the caller
    persisted (and filled) is still cached after the build."""
    emb = read_table(spark, SF, "embeddings").persist()
    try:
        emb.count()
        build(emb, str(tmp_path / "idx"), n_centroids=8)
        level = emb.storageLevel
        assert level.useMemory or level.useDisk
    finally:
        emb.unpersist()

"""Similarity search over embedding columns (array<float>).

  * ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
    query set, one pass over the corpus, per-query top-k via window.
    Exact; linear in corpus size; the baseline and the verify oracle.
  * ``ann_lsh_topk`` — random-hyperplane LSH: each vector gets a
    ``n_planes``-bit bucket signature from deterministic (seeded)
    hyperplanes; candidates = vectors whose bucket matches the query's
    bucket in at least one band; exact rerank on candidates only. At
    100 TB the bucket join replaces the full scan per query — recall
    traded for a ~bucket-fraction of the comparisons (recall measured in
    tests, not assumed).

Dot products use ``F.zip_with`` + ``F.aggregate`` fold — JVM-side
expression evaluation, deterministic left-to-right summation (matches
the generated oracle SQL exactly); no Python per row.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.sinks import commit


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# ---------------------------------------------------------------------------
# Driver-side IO for DRIVER-BOUNDED index relations (centroids, PQ
# codebooks — O(n_centroids x dim) values by construction at ANY corpus
# size). r14, guide §5: the driver should do almost no data work — and
# conversely, driver-scale data should never pay distributed-execution
# overhead. A Spark write of 16 rows costs a whole job (parallelize
# slice -> Python worker handoff -> task -> commit protocol) and a
# Spark read+collect costs another; both are pure fixed overhead
# (~0.2-0.5s each at local[32], and a full scheduler round-trip on a
# cluster). pyarrow on the driver writes/reads the same parquet
# directory layout: spark.read.parquet consumes pyarrow-written dirs
# unchanged, and pyarrow's dataset reader ignores '_'/'.'-prefixed
# files, so Spark-written dirs (with _SUCCESS markers) from older
# builds read back identically — the on-disk contract is unchanged.
# ---------------------------------------------------------------------------
def _tiny_parquet_overwrite(path, table) -> None:
    import shutil
    from pathlib import Path

    import pyarrow.parquet as papq

    p = Path(str(path))
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True, exist_ok=True)
    papq.write_table(table, str(p / "part-00000.parquet"))


def _tiny_parquet_read(path):
    import pyarrow.parquet as papq

    return papq.read_table(str(path))


def write_centroids(path, centroids: list[tuple[int, list[float]]]) -> None:
    """Persist the centroid table under ``path`` (driver-side; see the
    block comment above). Schema matches the previous Spark write
    exactly: centroid_id int32, centroid list<double>."""
    import pyarrow as pa

    table = pa.table(
        {
            "centroid_id": pa.array([int(c) for c, _ in centroids], pa.int32()),
            "centroid": pa.array(
                [[float(x) for x in v] for _, v in centroids],
                pa.list_(pa.float64()),
            ),
        }
    )
    _tiny_parquet_overwrite(path, table)


def read_centroids(path) -> list[tuple[int, list[float]]]:
    """Load the centroid table from ``path``, sorted by centroid id (the
    ties->lower-id tie-break downstream needs cids ascending)."""
    t = _tiny_parquet_read(path)
    return sorted(
        (int(c), [float(x) for x in v])
        for c, v in zip(
            t.column("centroid_id").to_pylist(), t.column("centroid").to_pylist()
        )
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, rank, neighbor_id).

    Ranks only in the output — similarity values are float-summation
    sensitive across engines, ranks are not (ties broken by neighbor id).
    """
    # norms once per vector/query, not per pair: cosine per pair is then
    # one dot + one multiply — bit-identical to the inline form (the same
    # doubles are multiplied), half the per-pair expression work
    e = emb.select(F.col(id_col), F.col(vec_col), norm_expr(F.col(vec_col)).alias("_ne"))
    q = queries.select(
        F.col(query_id_col), F.col(query_vec_col), norm_expr(F.col(query_vec_col)).alias("_nq")
    )
    j = e.crossJoin(F.broadcast(q))
    scored = j.select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        (dot_expr(F.col(vec_col), F.col(query_vec_col)) / (F.col("_ne") * F.col("_nq"))).alias(
            "_cos"
        ),
    ).where(F.col(query_id_col) != F.col("neighbor_id"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id")
    )


def _hyperplanes(dim: int, n_planes: int, seed: str = "spark-graft-ann") -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 bytes —
    reproducible across runs/engines with no RNG dependency."""
    planes = []
    for p in range(n_planes):
        vals: list[float] = []
        counter = 0
        while len(vals) < dim:
            digest = hashlib.md5(f"{seed}:{p}:{counter}".encode()).digest()
            for off in range(0, 16, 4):
                (u,) = struct.unpack(">I", digest[off : off + 4])
                vals.append((u / 2**32) * 2.0 - 1.0)  # uniform [-1, 1)
            counter += 1
        planes.append(vals[:dim])
    return planes


def lsh_band_keys(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    bands: int,
    rows: int,
) -> DataFrame:
    """(id, band, bh) band-bucket keys via ONE Arrow-batched Pandas UDF:
    all ``bands*rows`` hyperplane projections are a single numpy matmul
    per batch. Bit ``r`` of band ``b`` is the sign of the projection on
    plane ``b * rows + r``, as in the generated SQL oracles; the only
    cross-engine caveat is float summation order (BLAS pairwise vs
    sequential fold), which can flip a sign only when a projection is
    within ~1 ulp of zero — never observed on real-magnitude data and
    validated against the sequential-fold DuckDB oracles in tests."""
    from pyspark.sql.types import ArrayType, StringType

    plane_rows = [list(map(float, planes[r])) for r in range(bands * rows)]
    n_rows = rows

    @F.pandas_udf(ArrayType(StringType()))
    def _buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        P = np.asarray(plane_rows, dtype=np.float64)  # (bands*rows, dim)
        M = np.stack(v.to_numpy())  # (n, dim)
        S = (M @ P.T) >= 0  # (n, bands*rows) sign bits
        out = []
        for srow in S:
            out.append(
                [
                    "".join("1" if srow[b * n_rows + i] else "0" for i in range(n_rows))
                    for b in range(len(srow) // n_rows)
                ]
            )
        return pd.Series(out)

    return df.select(
        F.col(id_col), F.posexplode(_buckets(F.col(vec_col)))
    ).withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    bands: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: band-bucket join then exact rerank.

    (query_id, rank, neighbor_id) over the candidate set only. Recall is
    data-dependent; tests measure it against ``cosine_topk``.
    """
    rows = n_planes // bands
    planes = _hyperplanes(dim, n_planes)

    # narrow candidate generation: band keys only (id, band, bh); vectors
    # re-joined for the exact rerank on the deduped candidate set
    e = lsh_band_keys(emb, vec_col, id_col, planes, bands, rows)
    q = lsh_band_keys(queries, query_vec_col, query_id_col, planes, bands, rows)
    cand = (
        e.join(F.broadcast(q), ["band", "bh"])
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"))
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    scored = (
        cand.join(
            emb.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col),
                norm_expr(F.col(vec_col)).alias("_ne"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col),
                    F.col(query_vec_col),
                    norm_expr(F.col(query_vec_col)).alias("_nq"),
                )
            ),
            query_id_col,
        )
        .select(
            F.col(query_id_col),
            F.col("neighbor_id"),
            (
                dot_expr(F.col(vec_col), F.col(query_vec_col)) / (F.col("_ne") * F.col("_nq"))
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id")
    )


def _sample_centroids(
    emb: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[tuple[int, list[float]]]:
    """Deterministic DISTRIBUTED centroid sample: the ``n_centroids``
    vectors whose ``md5(id)`` hex digests sort lowest. This plans as
    TakeOrderedAndProject (per-partition partial top-k, never a full
    sort), so only ``n_centroids`` rows ever reach the driver — the
    corpus itself is never collected (at 100 TB a whole-table collect is
    a guaranteed driver OOM — VERDICT r1 item 1). md5-of-id is a
    uniform shuffle of the id space, and — unlike the previous
    xxhash64-mod filter — is reproducible verbatim in the DuckDB oracles
    (``ORDER BY md5(CAST(id AS VARCHAR)) LIMIT n``), which is what makes
    the whole IVF family hash-checkable (VERDICT r5 #3). Centroid id =
    rank in that md5 order (0-based)."""
    picked = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(picked)]


def _nearest_cells_udf(centroids: list[tuple[int, list[float]]], n: int):
    """Arrow-batched nearest-centroid assignment: all |centroids| cosines
    per vector are one numpy matmul per batch, argsorted stably (ties ->
    lower centroid id). A literal-expression formulation evaluates
    interpreted per element AND re-analyzes a centroidsxdim expression
    tree per pass — measured several seconds of driver+executor overhead
    per Lloyd iteration at just 16x64; the UDF is O(batch) with a
    constant-size plan, which is what survives n_centroids=4096 at fleet
    scale. Cosines are rounded to 9dp BEFORE the argsort (the
    ``cosine_topk_gemm`` determinism rule) so BLAS-vs-sequential-fold
    summation ulps cannot flip an assignment — the DuckDB oracles rank
    by the same rounded value. Returns a callable: column -> array<int>
    of the n nearest centroid ids (cosine desc, ties -> lower id)."""
    from pyspark.sql.types import ArrayType, IntegerType

    cids = [int(c) for c, _ in centroids]
    cvecs = [list(map(float, v)) for _, v in centroids]
    nn = int(n)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _cells(v: pd.Series) -> pd.Series:
        import numpy as np

        C = np.asarray(cvecs, dtype=np.float64)
        ids = np.asarray(cids)
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        M = np.stack(v.to_numpy())
        vn = np.linalg.norm(M, axis=1)
        vn[vn == 0] = 1.0
        out: list = []
        # row-chunked scoring: at thousands of adaptive cells a whole-
        # batch score matrix is ~160 MB/task — 32 concurrent tasks put
        # ~5 GB of short-lived allocations in flight and the kernel's
        # compaction/reclaim daemons stall identical 1.5s passes to
        # 30-40s intermittently. 1024-row chunks cap it at ~26 MB/task;
        # per-row results are independent, so output is unchanged.
        for lo in range(0, len(M), 1024):
            Mc, vc = M[lo : lo + 1024], vn[lo : lo + 1024]
            S = (Mc @ C.T) / (vc[:, None] * cn[None, :])
            # in-place scaled rounding: rint(S*1e9) orders EXACTLY like
            # the 9dp-rounded cosine (dividing by the positive constant
            # 1e9 is strictly monotone, and distinct rint integers stay
            # distinct through the division: |x-y| >= 1 at |x| <= ~1e9 is
            # ~1e7 ulps), so the argmax/argsort below need no third
            # elementwise pass over the n x K matrix (r13; np.round
            # itself was already replaced r11 — it was ~20x the matmul)
            # (self-contained in the closure: module refs don't ship to
            # Python workers when the driver cwd isn't the repo root)
            np.multiply(S, 1e9, out=S)
            np.rint(S, out=S)
            if nn == 1:
                # argmax = first (lowest-id) max — identical to the
                # stable argsort's row head, without sorting all
                # |centroids| scores per row
                out.extend([[int(ids[i])] for i in np.argmax(S, axis=1)])
            else:
                order = np.argsort(-S, axis=1, kind="stable")[:, :nn]
                out.extend(ids[row].tolist() for row in order)
        return pd.Series(out)

    return _cells


def _lloyd_refine(
    emb: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    iterations: int,
) -> list[tuple[int, list[float]]]:
    """1-2 Lloyd iterations with assignment and partial mean-aggregation
    FUSED into one ``mapInPandas`` pass: each partition emits at most
    n_centroids (cell, count, sum-vector) rows, so an iteration is one
    corpus scan with NO shuffle — the collected partials are bounded by
    partitions x n_centroids and merge on the driver. (The previous
    posexplode -> groupBy(cell, pos) shape shuffled corpus_rows x dim
    skinny rows per iteration.) Cosine assignment is scale-invariant, so
    unnormalized means give spherical k-means semantics; ties go to the
    lower centroid id, matching ``_nearest_cells_udf``. Cells that lose
    all members keep their previous centroid.

    Cross-engine determinism (VERDICT r5 #3): assignment cosines are
    rounded to 9dp before the argmax and the refined means to 6dp, so
    the DuckDB oracle — which unrolls the same iterations with
    sequential-fold sums — lands on bit-identical centroids: the raw
    engine difference is summation-order ulps (~1e-13 absolute over
    these cell sizes), far inside both rounding grids."""
    import numpy as np

    dim = len(centroids[0][1]) if centroids else 0
    for _ in range(iterations):
        cids = [int(c) for c, _ in centroids]
        cvecs = [list(map(float, v)) for _, v in centroids]

        def partials(batches):
            # mapInArrow form (r13): the embedding column's list<double>
            # values are ONE contiguous Arrow buffer per batch, so the
            # n x dim matrix is a zero-copy reshape instead of an
            # np.stack over n per-row objects, and the partial sums go
            # back out through ListArray.from_arrays over one flat
            # float64 buffer instead of hit x dim Python float lists —
            # the pandas boundary was ~2/3 of a 4.2s iteration at the
            # 100x tier (guide §4.2). Arithmetic (chunking, op order,
            # add.at accumulation order) is unchanged, so the partial
            # sums — and therefore the refined centroids — are
            # bit-identical to the pandas form.
            import pyarrow as pa

            C = np.asarray(cvecs, dtype=np.float64)
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0] = 1.0
            sums = np.zeros((len(cvecs), C.shape[1]))
            counts = np.zeros(len(cvecs), dtype=np.int64)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                col = rb.column(0)
                flat = col.flatten().to_numpy(zero_copy_only=False)
                M = flat.reshape(rb.num_rows, -1).astype(np.float64, copy=False)
                vn = np.linalg.norm(M, axis=1)
                vn[vn == 0] = 1.0
                # row-chunked + in-place scaled rounding — argmax of
                # rint(S*1e9) == argmax of the 9dp-rounded cosine; see
                # _nearest_cells_udf for the monotonicity argument and
                # the reclaim-stall chunking rationale
                for lo in range(0, len(M), 1024):
                    Mc, vc = M[lo : lo + 1024], vn[lo : lo + 1024]
                    S = (Mc @ C.T) / (vc[:, None] * cn[None, :])
                    np.multiply(S, 1e9, out=S)
                    np.rint(S, out=S)
                    a = np.argmax(S, axis=1)  # first max -> lower cid
                    np.add.at(sums, a, Mc)
                    np.add.at(counts, a, 1)
            hit = np.nonzero(counts)[0]
            # yield NOTHING for an empty partition (routine once the
            # scan keeps its native splits: a single-row-group file
            # splits into size/defaultParallelism byte ranges, all but
            # one empty)
            if hit.size == 0:
                return
            dim_ = C.shape[1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([cids[i] for i in hit], pa.int32()),
                    pa.array(counts[hit], pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(
                            np.arange(0, (hit.size + 1) * dim_, dim_, dtype=np.int64),
                            pa.int32(),
                        ),
                        pa.array(sums[hit].ravel(), pa.float64()),
                    ),
                ],
                ["cell", "cnt", "s"],
            )

        # Arrow toPandas + one vectorized scatter-add instead of a
        # row-wise collect loop: the partials relation is partitions x
        # distinct-cells rows (~90k at the 100x tier once the adaptive
        # cell count reached thousands) and the py4j Row collect + dict
        # merge was the dominant per-iteration cost there (~2/3 of a
        # 20s pass). np.add.at accumulates in the same partition-major
        # row order the collect loop used, and the means round to 6dp,
        # so refined centroids are unchanged.
        pdf = emb.select(vec_col).mapInArrow(
            partials, "cell int, cnt long, s array<double>"
        ).toPandas()
        kmax = 1 + max((int(c) for c, _ in centroids), default=-1)
        sums = np.zeros((kmax, dim))
        counts = np.zeros(kmax, dtype=np.int64)
        if len(pdf):
            idx = pdf["cell"].to_numpy()
            np.add.at(sums, idx, np.stack(pdf["s"].to_numpy()))
            np.add.at(counts, idx, pdf["cnt"].to_numpy())
        centroids = [
            (
                cid,
                np.round(sums[cid] / counts[cid], 6).tolist()
                if counts[cid] > 0
                else old,
            )
            for cid, old in centroids
        ]
    return centroids


def _assign_cells(
    emb: DataFrame, centroids: list[tuple[int, list[float]]], id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, _ne, cell) — every vector with its precomputed norm and
    nearest-centroid cell. THE single assignment code path: both the
    compose operator (``ann_ivf_topk``) and the index build
    (``build_ivf_index``) project cells through this, so the two halves
    of the build/search split can never diverge (VERDICT r5 #4);
    ``tests/test_ivf_index.py::test_served_matches_inline_ivf`` pins the
    equivalence end-to-end."""
    assign_one = _nearest_cells_udf(centroids, 1)
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        norm_expr(F.col(vec_col)).alias("_ne"),
        F.element_at(assign_one(F.col(vec_col)), 1).alias("cell"),
    )


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition vectors into
    ``n_centroids`` cells by nearest centroid, search only the query's
    ``n_probe`` nearest cells, exact rerank inside them.

    Centroids start as a deterministic distributed sample (collect of
    ≤ n_centroids rows, never the corpus) and are optionally refined by
    ``lloyd_iterations`` rounds of spherical k-means whose per-iteration
    driver traffic is the n_centroids×dim mean table. At scale the cell
    assignment is a pure expression over literal centroids and each query
    touches ~n_probe/n_centroids of the data instead of all of it.
    """
    # the sampling count, each Lloyd pass, and the final assignment all
    # scan emb — persist it for the operator's lifetime (the per-query
    # caller/bench unpersists between queries; at fleet scale this is the
    # standard build-the-index-once trade)
    if lloyd_iterations > 0:
        emb = emb.persist()
    centroids = _sample_centroids(emb, id_col, vec_col, n_centroids)
    if lloyd_iterations > 0:
        centroids = _lloyd_refine(emb, vec_col, centroids, lloyd_iterations)

    assign_probe = _nearest_cells_udf(centroids, n_probe)
    cells = _assign_cells(emb, centroids, id_col, vec_col)
    qcells = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        norm_expr(F.col(query_vec_col)).alias("_nq"),
        F.explode(assign_probe(F.col(query_vec_col))).alias("cell"),
    )
    # each corpus vector lives in exactly one cell and a query's probe
    # cells are distinct, so (query, neighbor) matches at most once — no
    # dedup shuffle needed (unlike the multi-band LSH path)
    cand = cells.join(F.broadcast(qcells), "cell").where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        (
            dot_expr(F.col(vec_col), F.col(query_vec_col)) / (F.col("_ne") * F.col("_nq"))
        ).alias("_cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id")
    )


def _uncached(df: DataFrame) -> bool:
    """Whether ``df`` is not cached yet. A builder persists its input, and
    later releases it, only then: on a frame the caller persisted,
    ``persist()`` returns that same cache and an ``unpersist`` would drop
    it under the caller."""
    from pyspark import StorageLevel

    return str(df.storageLevel) == str(StorageLevel.NONE)


def build_ivf_index(
    emb: DataFrame,
    index_path,
    n_centroids: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index so serving never pays the build: centroids
    (tiny — ``n_centroids`` rows) under ``<index_path>/centroids`` and the
    corpus vectors with their cell assignment and precomputed norm under
    ``<index_path>/cells``, written ``partitionBy("cell")`` so a search
    that probes ``n_probe`` cells reads ONLY those partition directories
    (static partition pruning — the same scan-reduction lever as the
    bucket-pruned upsert store).

    This is the build half of the build/search split (VERDICT r4 #1):
    ``ann_ivf_topk`` previously paid the centroid sample + Lloyd
    refinement (2 extra full corpus scans) inside EVERY query. Here the
    build runs once and ``ann_ivf_search`` is a pure bucket-pruned join
    against the stored cells. At 100 TB the index is rebuilt on corpus refresh cadence, not
    per query. The index is built in staging and promoted whole
    (``sinks/commit.py``): a failed rebuild leaves the served index as
    it was.
    """
    staging = commit.begin(index_path)
    own_cache = lloyd_iterations > 0 and _uncached(emb)
    if own_cache:
        emb = emb.persist()
    try:
        centroids = _sample_centroids(emb, id_col, vec_col, n_centroids)
        if lloyd_iterations > 0:
            centroids = _lloyd_refine(emb, vec_col, centroids, lloyd_iterations)
        # r14: the centroid table is driver-bounded — write it driver-side
        # (one pyarrow file, same schema/layout) instead of paying a whole
        # Spark job to move n_centroids rows (guide §5; the r13 form already
        # collapsed 32 slice handoffs to one, this removes the job outright)
        write_centroids(staging / "centroids", centroids)
        (
            _assign_cells(emb, centroids, id_col, vec_col)
            # co-locate each cell before the partitioned write: one file per
            # cell directory instead of (cells x write-tasks) small files, so
            # a probe of n_probe cells opens n_probe files. At fleet scale
            # raise the partition count to target ~128 MB files per cell.
            .repartition(n_centroids, F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(str(staging / "cells"))
        )
    finally:
        if own_cache:
            emb.unpersist()
    commit.promote(index_path)


def ann_ivf_append(
    spark,
    index_path,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append delta vectors to an existing IVF index WITHOUT a rebuild:
    assign each new vector to its cell with the PERSISTED centroids
    (the one shared ``_assign_cells`` path), then append cell-partitioned
    rows — the daily-ingest half of the index lifecycle. The historical
    index is never read or rewritten; only the delta scans.

    Centroids are frozen by design: a served search stays exact over
    the union (``tests/test_ivf_index.py`` pins full-probe append ==
    brute force over old+new). What degrades under heavy drift is cell
    BALANCE — recall per probe — not correctness; rebuild on the corpus
    refresh cadence, and fold the per-cell append files with the
    compaction sink when file counts grow."""
    from pathlib import Path

    index_path = Path(str(index_path))
    # r14: driver-side read of the driver-bounded centroid table — the
    # Spark read+collect was a full job for n_centroids rows (guide §5)
    centroids = read_centroids(index_path / "centroids")
    (
        _assign_cells(new_emb, centroids, id_col, vec_col)
        .repartition(len(centroids), F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(str(index_path / "cells"))
    )


def ann_ivf_search(
    spark,
    index_path,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Serve IVF top-k from a persisted index (``build_ivf_index``):
    load the centroid table (one driver-side read of ``n_centroids``
    rows), assign each query its ``n_probe`` nearest cells, and join the
    broadcast query set against ONLY those cell partitions of the stored
    corpus — the ``cell IN (...)`` literal filter prunes at the partition
    directory level, so the scan touches ~n_probe/n_centroids of the
    index regardless of corpus size. No Lloyd pass, no corpus-wide
    assignment: the only per-query work is the pruned-cell rerank.

    The query set is small by contract (the same contract as the
    broadcast in ``cosine_topk``), so probe-cell assignment runs
    DRIVER-SIDE in one numpy matmul over the collected queries — no
    Python workers, no extra Spark job — and the per-query cells ship
    back as a literal broadcast relation."""
    from pathlib import Path

    import numpy as np

    index_path = Path(str(index_path))
    # r14: driver-side read (sorted by cid inside the helper — the
    # ties->lower-id tie-break below needs cids ascending, ADVICE r5);
    # the Spark read+collect was a full job for n_centroids rows
    centroids = read_centroids(index_path / "centroids")
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], f"{query_id_col} long, rank int, neighbor_id long"
        )
    cids = np.asarray([c for c, _ in centroids])
    C = np.asarray([v for _, v in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    Q = np.asarray([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    sim = np.round((Q @ C.T) / (qn[:, None] * cn[None, :]), 9)
    # stable argsort: ties -> lower centroid id, matching _nearest_cells_udf
    order = np.argsort(-sim, axis=1, kind="stable")[:, :n_probe]
    qcell_rows = [
        (r[0], [float(x) for x in r[1]], float(qn[i]), int(cids[j]))
        for i, r in enumerate(qrows)
        for j in order[i]
    ]
    # one slice: qcell_rows is driver-bounded (queries x n_probe); the
    # default parallelize would pickle it into 32 slices and pay a
    # per-slice Python-worker handoff on the broadcast collect
    qcells = spark.createDataFrame(
        spark.sparkContext.parallelize(qcell_rows, 1),
        f"{query_id_col} long, {query_vec_col} array<double>, _nq double, cell int",
    )
    probe_cells = sorted({int(c) for row in order for c in cids[row]})
    cells = spark.read.parquet(str(index_path / "cells")).where(
        F.col("cell").isin(probe_cells)
    )
    cand = cells.join(F.broadcast(qcells), "cell").where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        (
            dot_expr(F.col(vec_col), F.col(query_vec_col)) / (F.col("_ne") * F.col("_nq"))
        ).alias("_cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id")
    )


# corpora at or above this row count fan out to machine parallelism
# before the multi-pass cluster build (see semdedup) — well above every
# driver-check tier, well below the scaled probe tiers
# Fan out to machine parallelism once the n x K assignment matmul is the
# dominant FLOP term. Originally 50_000; the honest-cold (per-rep cache
# sweep) SCALING re-probe exposed the gap that left at the 10x embeddings
# tier (n=20.7k, one parquet file -> 1-2 cores): semdedup/pagerank/LPA all
# read SLOWER at sf1 than at sf3 (e.g. pagerank 13.9s vs 8.3s), because
# sf3's n=62k crossed the old threshold and parallelized. 4096 keeps the
# driver-scale corpora (oracle tiers, a few hundred to ~2k rows) on native
# partitioning where 32 Python-worker handoffs genuinely cost more than
# they parallelize, and fans out everything where the quadratic-in-n
# assignment term can dominate. Repartition cost at the crossover
# (~4k x 64 doubles ~= 2 MB shuffle) is noise.
_FAN_OUT_ROWS = 4_096


def cells_for_corpus(n: int, target_cell: int = 64) -> int:
    """Adaptive k-means cell count for the cluster-then-compare
    operators: ``max(16, ceil(n / target_cell))`` pins the EXPECTED cell
    size at ``target_cell``, so the within-cell pair volume is exactly
    linear in rows (n x target_cell / 2 compares). The floor keeps tiny
    corpora on the driver-scale config the oracles pin.

    The arithmetic is mirrored verbatim by the DuckDB oracles
    (``GREATEST(16, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT))``): one float
    divide + ceil, exact in IEEE for any corpus below 2^53 rows —
    ``tests/test_semdedup.py`` sweeps the parity.

    Cost honesty: growing cells with n makes the ASSIGNMENT term
    n x K x dim ~ n^2 x dim / target_cell FLOPs — a tiny-constant BLAS
    matmul (sub-second per million rows at K=16k), but quadratic
    asymptotically. At fleet scale train centroids on a sample and cap K
    (the SemDeDup paper runs fixed K at fixed corpus), or switch the
    pair stage to the LSH-banded miner (embedding_dup_pairs_lsh) whose
    candidate volume is depth-bounded instead of cell-bounded."""
    import math

    return max(16, math.ceil(n / float(target_cell)))


def semdedup(
    emb: DataFrame,
    threshold: float = 0.45,
    n_centroids: int | None = None,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    cluster the corpus with the deterministic IVF k-means, compare
    vectors ONLY within their cluster, and flag every vector that has a
    lower-id cluster-mate at cosine >= ``threshold``. Output one row per
    vector: ``(id, cell, is_dup)`` — ``is_dup = 0`` is the keep mask.

    Dedup rule: a vector is removed iff SOME lower-id vector in the same
    cell matches it (the order-independent superset of the paper's
    keep-one-exemplar greedy — exact-duplicate groups keep precisely
    their minimum id; near-dup chains may remove both endpoints of a
    path, which for training-data curation errs toward MORE dedup, never
    less). Cosines are rounded to 9dp before the threshold compare (the
    repo-wide cross-engine determinism rule), so a DuckDB oracle that
    unrolls the same k-means lands on the identical flag set.

    Scale shape (the reason SemDeDup beats all-pairs LSH at 100 TB for
    this job): candidates are sum(|cell|^2)/2, so with ``n_centroids``
    grown proportionally to corpus size (constant target cell size) the
    compare volume is LINEAR in rows. One corpus-wide shuffle keyed on
    ``cell`` feeds both sides of the within-cell join; the assignment
    itself is a literal-centroid Arrow UDF projection with no shuffle.
    The cells relation is persisted once and read by both join sides and
    the final flag projection.

    ``n_centroids=None`` (the default) selects ``cells_for_corpus(n)``
    from one column-pruned count — cell count grows with the corpus so
    the compare volume stays linear at every tier (a fixed cell count
    goes quadratic the way the r10 fixed-depth LSH banding did). At that
    point the n x K assignment matmul is the dominant FLOP term, and a
    single-file scan would run it on one or two cores (the scaled tiers
    are one parquet file): corpora past ``_FAN_OUT_ROWS`` are
    repartitioned to machine parallelism BEFORE the persisted scan the
    sample/Lloyd/assignment passes share; tiny corpora keep the native
    partitioning (the IVF-family fixed-overhead argument: 32
    Python-worker handoffs cost more than they parallelize at driver
    scale). The 100x-tier probe walked 218s -> 8.4s across three fixes:
    this fan-out (serial numpy was the first wall), rint-in-place
    rounding (np.round was ~20x the matmul cost), and row-chunked
    scoring (whole-batch n x K score matrices put ~5 GB of short-lived
    allocations in flight across workers and kernel reclaim stalled
    identical passes 1.5s -> 30-40s intermittently) — final
    alpha(3->10) = 0.56, SCALING.md."""
    n = emb.count()
    if n_centroids is None:
        n_centroids = cells_for_corpus(n)
    spark = emb.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    if n >= _FAN_OUT_ROWS and emb.rdd.getNumPartitions() < parallelism:
        emb = emb.repartition(parallelism)
    emb = emb.persist()
    centroids = _sample_centroids(emb, id_col, vec_col, n_centroids)
    if lloyd_iterations > 0:
        centroids = _lloyd_refine(emb, vec_col, centroids, lloyd_iterations)
    cells = _assign_cells(emb, centroids, id_col, vec_col).persist()

    # r14 (guide §4.2 + §2.4, the knn_graph_ivf per-cell GEMM device):
    # the within-cell compare was a cells-on-cells self-join — TWO
    # exchanges of (cell, id, vec, norm), one interpreted 64-dim
    # expression fold per PAIR, then a distinct exchange over the
    # removed ids. Each cell's members now arrive as ONE Arrow group
    # (a single exchange on cell, narrow columns) and the whole cell's
    # cosine matrix is one row-chunked BLAS matmul. Equivalence: the
    # 9dp-rounded cosine >= threshold compare is the shared ranking
    # contract (rint(S*1e9)/1e9 == F.round's grid off exact .5 ties —
    # tests/test_determinism_contract.py); removed = any lower-id
    # cell-mate at/above threshold, exactly the old join predicate; a
    # vector lives in exactly one cell, so per-cell removed ids are
    # globally unique and the old .distinct() exchange is dropped, not
    # just moved.
    th = float(threshold)
    id_t = cells.schema[id_col].dataType.simpleString()

    def cell_removed(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({id_col: pd.Series([], dtype="object")})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nm = np.sqrt((M * M).sum(axis=1))
        nm[nm == 0] = 1.0
        dup = np.zeros(len(ids), dtype=bool)
        # row-chunked scoring (the _nearest_cells_udf reclaim rationale)
        for lo in range(0, len(M), 256):
            Mc, nc = M[lo : lo + 256], nm[lo : lo + 256]
            S = (Mc @ M.T) / (nc[:, None] * nm[None, :])
            np.multiply(S, 1e9, out=S)
            np.rint(S, out=S)
            np.divide(S, 1e9, out=S)
            hit = S >= th
            # only pairs (row i) < (col j) count: rows are id-sorted, so
            # "lower-id mate" == any hit strictly left of the diagonal
            cols = np.arange(len(ids))[None, :]
            rows = (lo + np.arange(len(Mc)))[:, None]
            dup |= (hit & (rows < cols)).any(axis=0)
        return pd.DataFrame({id_col: ids[dup]})

    removed = (
        cells.select(F.col("cell"), F.col(id_col), F.col(vec_col))
        .groupBy("cell")
        .applyInPandas(cell_removed, f"{id_col} {id_t}")
    )
    return cells.join(
        removed.withColumn("_dup", F.lit(1)), id_col, "left"
    ).select(
        F.col(id_col),
        F.col("cell"),
        F.coalesce(F.col("_dup"), F.lit(0)).cast("long").alias("is_dup"),
    )


def cluster_balanced_sample(
    emb: DataFrame,
    per_cell: int = 8,
    n_centroids: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced diversity sample: assign every vector to its
    deterministic k-means cell, then keep the ``per_cell`` vectors whose
    ``md5(id)`` digests sort lowest within each cell — an equal quota
    from every region of embedding space, the diversity-preserving
    selection a training-data mix needs where a uniform Bernoulli sample
    over-represents the dense clusters. Output (cell, cell_rank, id).

    Determinism: md5-of-id is the repo's engine-reproducible uniform
    shuffle (the ``_sample_centroids`` / exact-k device), so the picked
    set is identical across runs and engines — no RNG state.

    Scale shape: assignment is a literal-centroid Arrow UDF projection
    (no shuffle); the quota filter is ONE shuffle keyed on cell whose
    window rank collapses to a per-partition partial top-k
    (WindowGroupLimit), so only ~per_cell rows per cell survive each
    map task. Output volume is n_centroids x per_cell regardless of
    corpus size; grow n_centroids with the corpus for a fixed sampling
    rate."""
    if lloyd_iterations > 0:
        emb = emb.persist()
    centroids = _sample_centroids(emb, id_col, vec_col, n_centroids)
    if lloyd_iterations > 0:
        centroids = _lloyd_refine(emb, vec_col, centroids, lloyd_iterations)
    cells = _assign_cells(emb, centroids, id_col, vec_col)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        cells.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= per_cell)
        .select("cell", "cell_rank", F.col(id_col))
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k_const: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009): combine
    ranked retrieval lists by summing ``1 / (k_const + rank)`` per id —
    the standard hybrid-retrieval merge (BM25 keyword list + ANN dense
    list) that needs no score calibration between the systems. Output
    (fused_rank, id, rrf_score, n_lists), top ``topk`` by fused score
    (ties -> lower id).

    Input lists are small by contract (each is a top-k retrieval
    result), so the union/agg/window all run at lists x topk scale —
    the single-partition window is bounded, never corpus-sized.

    Cross-engine exactness: with <= 2 input lists the per-id sum is one
    IEEE addition (commutative), so the 9dp-rounded score is identical
    regardless of aggregation order; beyond 2 lists a tie at the 9dp
    boundary could in principle depend on summation order — callers
    fusing 3+ lists should treat fused_rank near score ties as
    engine-approximate."""
    u: DataFrame | None = None
    for df in ranked:
        part = df.select(F.col(id_col), F.col(rank_col).cast("long").alias("_r"))
        u = part if u is None else u.unionAll(part)
    assert u is not None, "rrf_fuse needs at least one ranked list"
    scored = u.groupBy(id_col).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k_const)) + F.col("_r"))), 9
        ).alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= topk)
        .select("fused_rank", id_col, "rrf_score", "n_lists")
    )


def group_centroids(
    emb: DataFrame, group_col: str, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Element-wise mean vector per group as ``dim`` independent AVG
    aggregates in ONE groupBy — map-side combined, no explode: the
    shuffle carries one (group, dim doubles) row per partition per
    group, never corpus_rows x dim skinny rows. Output (group, centroid
    array<double>)."""
    sums = emb.groupBy(group_col).agg(
        *[
            F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"_c{i}")
            for i in range(dim)
        ]
    )
    return sums.select(
        group_col, F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid")
    )


def centroid_outliers(
    emb: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """SemDeDup-style outlier scoring: each vector's cosine to its
    group's centroid, bottom-``k`` per group (the candidates to prune or
    audit in a training-data pipeline). The centroid relation is
    group-cardinality — broadcast back; ranks only in the output
    (float-sum-order safe). Output (group, rank, id)."""
    cent = group_centroids(emb, group_col, vec_col, dim)
    j = emb.join(F.broadcast(cent), group_col)
    cos = dot_expr(F.col(vec_col), F.col("centroid")) / (
        norm_expr(F.col(vec_col)) * norm_expr(F.col("centroid"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("_cos").asc(), F.col(id_col).asc())
    return (
        j.select(group_col, F.col(id_col), cos.alias("_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(group_col, "rank", id_col)
    )


def cosine_topk_gemm(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_dp: int = 9,
) -> DataFrame:
    """Exact cosine top-k via ONE BLAS matmul per Arrow batch — the
    vectorized twin of ``cosine_topk``. The broadcast-small-queries /
    scan-the-corpus shape is identical; the per-pair SQL expression tree
    is replaced by ``V @ Q.T`` inside mapInPandas, which is the form that
    keeps up when dim x queries grows (expression-tree dots evaluate
    interpreted per element; BLAS is a fused kernel per batch).

    Cross-engine determinism: BLAS pairwise/FMA summation differs from a
    sequential SQL fold in final ulps, so similarities are rounded to
    ``round_dp`` decimals BEFORE ranking (ties then break by neighbor
    id) — both the per-batch local top-k and the global rank use that
    same total order, making local-then-global top-k exact. Each batch
    emits at most queries x k rows, so the final exchange is tiny.

    Float32 embeddings are promoted to float64 BEFORE any arithmetic
    (matches the SQL/DuckDB double pipelines bit-for-bit on the inputs).
    """
    qpdf = queries.select(query_id_col, query_vec_col).toPandas()  # query set: small by contract
    import numpy as np

    qids = qpdf[query_id_col].to_numpy()
    qmat = np.stack(qpdf[query_vec_col].to_numpy()).astype(np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    out_schema = f"{query_id_col} long, neighbor_id long, sim double"

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            vnorm = np.sqrt((vmat * vmat).sum(axis=1))
            sims = np.round(
                (vmat @ qmat.T) / (vnorm[:, None] * qnorm[None, :]), round_dp
            )
            cols_q, cols_n, cols_s = [], [], []
            for j in range(len(qids)):
                mask = ids != qids[j]
                sj, ij = sims[mask, j], ids[mask]
                order = np.lexsort((ij, -sj))[:k]
                cols_q.extend([qids[j]] * len(order))
                cols_n.extend(ij[order].tolist())
                cols_s.extend(sj[order].tolist())
            yield pd.DataFrame(
                {query_id_col: cols_q, "neighbor_id": cols_n, "sim": cols_s}
            )

    local = emb.select(id_col, vec_col).mapInPandas(fn, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset (Gonzalez farthest-first traversal): diverse
# subset selection — the coverage-oriented complement of semdedup
# (which REMOVES redundancy; this PICKS the spanning representatives,
# the "facility location" curation primitive for eval-set construction
# and diverse fine-tuning subsets). Greedy k-center is a provable
# 2-approximation of the optimal covering radius.
# ---------------------------------------------------------------------------
def kcenter_coreset(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Farthest-first traversal in cosine distance: (pos, id, radius).

    Round 1 seeds at the smallest id (deterministic, engine-portable);
    each later round picks the point with the LARGEST min-distance to
    the chosen set (9dp-rounded cosine distance, ties -> lower id) and
    emits it with ``radius`` = that distance, so row k's radius is the
    covering radius the first k-1 centers achieve — the classic
    monotone coverage curve, read directly off the output.

    Scale shape (r13 rework): per round, ONE mapInArrow GEMM pass over a
    persisted narrow (id, vec) relation recomputes each row's
    min-distance against ALL centers chosen so far and emits one
    farthest-candidate row per Arrow batch — a bounded collect, no
    corpus-sized shuffle, and crucially NO per-round corpus cache
    rewrite. The previous incremental form kept a running ``_mind``
    column, which meant persisting a fresh (id, 64-dim vec, mind)
    relation EVERY round — the per-round cache write of the vector
    column dominated (measured 41.7s at the 100x tier after its cache
    lifetimes were fixed; this form reads 10-13s). The recompute trade
    is O(k^2 * n * dim) BLAS flops vs O(k * n * dim) — at the coreset
    sizes this operator serves (tens of centers) the flops are
    negligible next to one corpus cache write; selecting thousands of
    centers would want the running-mind form back, with the mind column
    cached NARROW and the vectors re-read from the base relation.

    Per-center distances are scaled-rint rounded (order- and
    value-identical to the 9dp round — see _nearest_cells_udf) before
    the min, matching the previous per-center F.round(..., 9) exactly;
    ties across rows break to the lower id in both the per-batch and
    the driver-side reduce.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    import numpy as np

    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    ).persist()

    first = base.orderBy(F.asc("_id")).limit(1).collect()[0]
    out_rows = [(1, first["_id"], None)]
    chosen: list = [first["_id"]]
    centers: list = [[float(x) for x in first["_v"]]]
    id_type = emb.schema[id_col].dataType.simpleString()

    for pos in range(2, k + 1):
        cvecs = [list(c) for c in centers]
        excl = list(chosen)

        def farthest(batches):
            import numpy as np
            import pandas as pd
            import pyarrow as pa

            C = np.asarray(cvecs, dtype=np.float64)
            cn = np.sqrt((C * C).sum(axis=1))
            best_m, best_id, best_v = None, None, None
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                ids = rb.column(0).to_numpy(zero_copy_only=False)
                flat = rb.column(1).flatten().to_numpy(zero_copy_only=False)
                M = flat.reshape(rb.num_rows, -1).astype(np.float64, copy=False)
                vn = np.sqrt((M * M).sum(axis=1))
                keep = ~np.isin(ids, excl)
                if not keep.any():
                    continue
                for lo in range(0, len(M), 1024):
                    kc = keep[lo : lo + 1024]
                    if not kc.any():
                        continue
                    Mc, vc = M[lo : lo + 1024][kc], vn[lo : lo + 1024][kc]
                    idc = ids[lo : lo + 1024][kc]
                    S = 1.0 - (Mc @ C.T) / (vc[:, None] * cn[None, :])
                    np.multiply(S, 1e9, out=S)
                    np.rint(S, out=S)
                    mind = S.min(axis=1)
                    m = mind.max()
                    j = int(np.flatnonzero(mind == m)[np.argmin(idc[mind == m])])
                    cand = idc[j]
                    if best_m is None or m > best_m or (m == best_m and cand < best_id):
                        best_m, best_id, best_v = m, cand, Mc[j].tolist()
            if best_id is None:
                return
            yield pa.RecordBatch.from_pandas(
                pd.DataFrame(
                    {"_id": [best_id], "_ms": [float(best_m)], "_v": [best_v]}
                )
            )

        cand_rows = base.mapInArrow(
            farthest, f"_id {id_type}, _ms double, _v array<double>"
        ).collect()
        if not cand_rows:  # k exceeds the corpus: emit what exists
            break
        nxt = min(cand_rows, key=lambda r: (-r["_ms"], r["_id"]))
        radius = float(nxt["_ms"]) / 1e9
        out_rows.append((pos, nxt["_id"], radius))
        chosen.append(nxt["_id"])
        centers.append([float(x) for x in nxt["_v"]])
    base.unpersist()
    spark = emb.sparkSession
    return spark.createDataFrame(
        out_rows, f"pos INT, {id_col} {id_type}, radius DOUBLE"
    )

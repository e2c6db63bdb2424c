"""Product quantization (Jégou/Douze/Schmid 2011, "Product Quantization
for Nearest Neighbor Search") — the compression half of IVF-PQ, the
standard web-scale ANN layout: split each vector into ``m`` subvectors,
learn a small L2 k-means codebook per subspace, store each vector as
``m`` one-byte codes. A 64-dim float32 corpus (256 B/row) becomes 8
code bytes/row — a 32x scan-volume cut — and queries scan CODES with an
asymmetric-distance (ADC) lookup table instead of touching raw vectors.

Beyond-reference extension surface (SURVEY §8); the reference has no
vector columns at all.

Determinism contract (the repo-wide cross-engine rules, mirrored by the
``_pq_ctes`` oracle in plans/extensions.py):
  * codebook seeds = the subvectors of the ``k`` corpus rows whose
    ``md5(id)`` digests sort lowest (the ``_sample_centroids`` device —
    distributed TakeOrderedAndProject, never a corpus collect);
  * L2 assignment distances ``|s|^2 + |c|^2 - 2<s,c>`` are rounded to
    9dp BEFORE the argmin (ties -> lower code), so BLAS-vs-sequential
    summation ulps (~1e-15 at unit norms) cannot flip a code;
  * Lloyd means are rounded to 6dp (engine difference is summation-order
    ulps, far inside the grid); empty cells keep their previous centroid.

Scale shape: the codebook build is ``lloyd_iterations`` fused
assignment+partial-mean ``mapInPandas`` passes (each partition emits at
most m x k rows — no shuffle, the tiny partials merge on the driver);
encoding is ONE Arrow-batched projection; the ADC scan is a pure JVM
projection over the codes relation (the per-subspace lookup tables are
m x k literals), so the hot path never reads a raw vector.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.similarity import (
    _sample_centroids,
    _tiny_parquet_overwrite,
    _tiny_parquet_read,
    _uncached,
    read_centroids,
    write_centroids,
)
from github_etl_pipeline_spark.sinks import commit

Codebooks = list[list[list[float]]]  # [m][k][dsub]


def write_codebooks(path, books: Codebooks) -> None:
    """Persist the PQ codebooks under ``path`` driver-side (the
    write_centroids rationale, guide §5 — m x k rows is driver data at
    any corpus size). Schema matches the previous Spark write exactly:
    ms int32, cid int32, cv list<double>."""
    import pyarrow as pa

    rows = [
        (ms, cid, [float(x) for x in cv])
        for ms, book in enumerate(books)
        for cid, cv in enumerate(book)
    ]
    table = pa.table(
        {
            "ms": pa.array([r[0] for r in rows], pa.int32()),
            "cid": pa.array([r[1] for r in rows], pa.int32()),
            "cv": pa.array([r[2] for r in rows], pa.list_(pa.float64())),
        }
    )
    _tiny_parquet_overwrite(path, table)


def read_codebooks(path) -> Codebooks:
    """Load the PQ codebooks from ``path`` (driver-side; accepts both
    pyarrow- and Spark-written directories)."""
    t = _tiny_parquet_read(path)
    ms_l = t.column("ms").to_pylist()
    cid_l = t.column("cid").to_pylist()
    cv_l = t.column("cv").to_pylist()
    mm = 1 + max(ms_l)
    kk = 1 + max(cid_l)
    books: Codebooks = [[None] * kk for _ in range(mm)]  # type: ignore[list-item]
    for ms, cid, cv in zip(ms_l, cid_l, cv_l):
        books[ms][cid] = [float(x) for x in cv]
    return books


def build_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seeds: list | None = None,
) -> Codebooks:
    """Learn ``m`` per-subspace L2 k-means codebooks of ``k`` centroids.

    The seed sample is ONE md5-ordered distributed top-k (the same rows
    seed every subspace — their subvector slices); each Lloyd iteration
    is ONE corpus scan that assigns and partial-aggregates ALL subspaces
    fused in a single Arrow pass. ``seeds`` (r14) lets a caller that
    already holds the md5-ordered sample — ``build_ivfpq_index``, whose
    coarse sample is the SAME prefix of the SAME ordering — skip this
    function's sample job; must be ``_sample_centroids`` output with
    >= ``k`` rows."""
    import numpy as np

    dsub = dim // m
    # build_ivfpq_index persists emb for the whole index build
    own_cache = lloyd_iterations > 0 and _uncached(emb)
    if own_cache:
        emb = emb.persist()
    sampled = seeds[:k] if seeds is not None else _sample_centroids(
        emb, id_col, vec_col, k
    )
    books: Codebooks = [
        [[float(x) for x in vec[ms * dsub : (ms + 1) * dsub]] for _, vec in sampled]
        for ms in range(m)
    ]
    for _ in range(lloyd_iterations):
        bk = [[list(map(float, c)) for c in book] for book in books]
        mm, kk, dd = m, k, dsub

        def partials(batches):
            # mapInArrow form (r14, the similarity._lloyd_refine device):
            # the vector column's list values are ONE contiguous buffer
            # per batch, so the n x dim matrix is a zero-copy reshape
            # instead of an np.stack over n per-row objects, and the
            # partial sums return through ListArray.from_arrays over one
            # flat float64 buffer. Arithmetic (d2 expression, rint
            # rounding, add.at accumulation order) is unchanged, so the
            # partial sums — and therefore the refined codebooks — are
            # bit-identical to the pandas form.
            import pyarrow as pa

            C = [np.asarray(bk[ms], dtype=np.float64) for ms in range(mm)]
            cn = [(c * c).sum(axis=1) for c in C]
            sums = [np.zeros((kk, dd)) for _ in range(mm)]
            counts = [np.zeros(kk, dtype=np.int64) for _ in range(mm)]
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                col = rb.column(0)
                flat = col.flatten().to_numpy(zero_copy_only=False)
                M = flat.reshape(rb.num_rows, -1).astype(np.float64, copy=False)
                for ms in range(mm):
                    S = M[:, ms * dd : (ms + 1) * dd]
                    # in-place rint rounding == np.round(d2, 9), ~20x
                    # faster (see similarity._nearest_cells_udf)
                    d2 = (S * S).sum(axis=1)[:, None] + cn[ms][None, :] - 2 * (S @ C[ms].T)
                    np.multiply(d2, 1e9, out=d2)
                    np.rint(d2, out=d2)
                    a = np.argmin(d2, axis=1)  # first min -> lower code
                    np.add.at(sums[ms], a, S)
                    np.add.at(counts[ms], a, 1)
            ms_out, cell_out, cnt_out, svecs = [], [], [], []
            for ms in range(mm):
                hit = np.nonzero(counts[ms])[0]
                for i in hit:
                    ms_out.append(ms)
                    cell_out.append(int(i))
                    cnt_out.append(int(counts[ms][i]))
                    svecs.append(sums[ms][i])
            # yield NOTHING for an all-empty partition (the empty-column
            # Arrow dtype trap — see similarity._lloyd_refine)
            if not ms_out:
                return
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ms_out, pa.int32()),
                    pa.array(cell_out, pa.int32()),
                    pa.array(cnt_out, pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(
                            np.arange(0, (len(svecs) + 1) * dd, dd, dtype=np.int64),
                            pa.int32(),
                        ),
                        pa.array(np.concatenate(svecs) if svecs else np.empty(0), pa.float64()),
                    ),
                ],
                ["ms", "cell", "cnt", "s"],
            )

        collected = emb.select(vec_col).mapInArrow(
            partials, "ms int, cell int, cnt long, s array<double>"
        ).collect()
        acc: dict[tuple[int, int], tuple[int, "np.ndarray"]] = {}
        for r in collected:
            key = (r["ms"], r["cell"])
            n0, s0 = acc.get(key, (0, np.zeros(dsub)))
            acc[key] = (n0 + r["cnt"], s0 + np.asarray(r["s"]))
        books = [
            [
                np.round(acc[(ms, c)][1] / acc[(ms, c)][0], 6).tolist()
                if (ms, c) in acc
                else old
                for c, old in enumerate(books[ms])
            ]
            for ms in range(m)
        ]
    if own_cache:
        emb.unpersist()
    return books


def _encode_udf(books: Codebooks):
    """Arrow-batched m-code assignment: one numpy pass computes every
    subspace's rounded L2 distances and argmins — constant-size plan,
    O(batch) work, first-min tie-break matching the oracle's
    (distance, code) ordering."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    bk = [[list(map(float, c)) for c in book] for book in books]
    mm = len(bk)
    dd = len(bk[0][0])

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(v: pd.Series) -> pd.Series:
        C = [np.asarray(bk[ms], dtype=np.float64) for ms in range(mm)]
        cn = [(c * c).sum(axis=1) for c in C]
        M = np.stack(v.to_numpy()).astype(np.float64)
        out = np.empty((len(M), mm), dtype=np.int32)
        for ms in range(mm):
            S = M[:, ms * dd : (ms + 1) * dd]
            # in-place rint rounding == np.round(d2, 9), ~20x faster
            d2 = (S * S).sum(axis=1)[:, None] + cn[ms][None, :] - 2 * (S @ C[ms].T)
            np.multiply(d2, 1e9, out=d2)
            np.rint(d2, out=d2)
            np.divide(d2, 1e9, out=d2)
            out[:, ms] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in out])

    return _codes


def _fused_coarse_pq_lloyd(
    emb: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    books: Codebooks,
    iterations: int,
) -> tuple[list[tuple[int, list[float]]], Codebooks]:
    """Refine the coarse spherical-k-means centroids AND every PQ
    subspace codebook with ONE corpus scan per iteration (r14, guide
    §1.2 "remove passes"): ``build_ivfpq_index`` previously ran
    ``_lloyd_refine`` (2 coarse passes) and ``build_pq_codebooks``
    (2 PQ passes) back to back over the same persisted corpus — the two
    refinements are independent reads of the same rows, so each fused
    pass emits the coarse partials (rows tagged ``ms = -1``) and the
    per-subspace L2 partials in one Arrow batch stream.

    Bit-equivalence: the coarse arithmetic is ``_lloyd_refine``'s
    verbatim (zero-copy reshape, 1024-row chunks, scaled-rint argmax,
    add.at in row order, 6dp means) and the PQ arithmetic is
    ``build_pq_codebooks``'s verbatim (whole-batch d2, scaled-rint
    argmin, add.at, 6dp means); batch boundaries and per-partition
    accumulation order are those of the same scan, so both partial sets
    — and therefore both refined outputs — are bit-identical to the
    two-pass form (pinned by tests/test_pq.py::test_fused_build_matches_
    twopass)."""
    import numpy as np

    if iterations <= 0:
        return centroids, books
    mm = len(books)
    kk = len(books[0])
    dd = len(books[0][0])
    dim = len(centroids[0][1]) if centroids else 0
    for _ in range(iterations):
        cids = [int(c) for c, _ in centroids]
        cvecs = [list(map(float, v)) for _, v in centroids]
        bk = [[list(map(float, c)) for c in book] for book in books]

        def partials(batches):
            import pyarrow as pa

            C0 = np.asarray(cvecs, dtype=np.float64)
            cn0 = np.linalg.norm(C0, axis=1)
            cn0[cn0 == 0] = 1.0
            sums0 = np.zeros((len(cvecs), C0.shape[1]))
            counts0 = np.zeros(len(cvecs), dtype=np.int64)
            C = [np.asarray(bk[ms], dtype=np.float64) for ms in range(mm)]
            cn = [(c * c).sum(axis=1) for c in C]
            sums = [np.zeros((kk, dd)) for _ in range(mm)]
            counts = [np.zeros(kk, dtype=np.int64) for _ in range(mm)]
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                col = rb.column(0)
                flat = col.flatten().to_numpy(zero_copy_only=False)
                M = flat.reshape(rb.num_rows, -1).astype(np.float64, copy=False)
                # coarse partials — _lloyd_refine arithmetic verbatim
                vn = np.linalg.norm(M, axis=1)
                vn[vn == 0] = 1.0
                for lo in range(0, len(M), 1024):
                    Mc, vc = M[lo : lo + 1024], vn[lo : lo + 1024]
                    S = (Mc @ C0.T) / (vc[:, None] * cn0[None, :])
                    np.multiply(S, 1e9, out=S)
                    np.rint(S, out=S)
                    a = np.argmax(S, axis=1)  # first max -> lower cid
                    np.add.at(sums0, a, Mc)
                    np.add.at(counts0, a, 1)
                # PQ partials — build_pq_codebooks arithmetic verbatim
                for ms in range(mm):
                    Sv = M[:, ms * dd : (ms + 1) * dd]
                    d2 = (Sv * Sv).sum(axis=1)[:, None] + cn[ms][None, :] - 2 * (
                        Sv @ C[ms].T
                    )
                    np.multiply(d2, 1e9, out=d2)
                    np.rint(d2, out=d2)
                    a = np.argmin(d2, axis=1)  # first min -> lower code
                    np.add.at(sums[ms], a, Sv)
                    np.add.at(counts[ms], a, 1)
            ms_out: list[int] = []
            cell_out: list[int] = []
            cnt_out: list[int] = []
            svecs: list = []
            hit0 = np.nonzero(counts0)[0]
            for i in hit0:
                ms_out.append(-1)
                cell_out.append(cids[i])
                cnt_out.append(int(counts0[i]))
                svecs.append(sums0[i])
            for ms in range(mm):
                hit = np.nonzero(counts[ms])[0]
                for i in hit:
                    ms_out.append(ms)
                    cell_out.append(int(i))
                    cnt_out.append(int(counts[ms][i]))
                    svecs.append(sums[ms][i])
            if not ms_out:
                return
            offs = np.zeros(len(svecs) + 1, dtype=np.int64)
            offs[1:] = np.cumsum([len(s) for s in svecs])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ms_out, pa.int32()),
                    pa.array(cell_out, pa.int32()),
                    pa.array(cnt_out, pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(offs, pa.int32()),
                        pa.array(np.concatenate(svecs), pa.float64()),
                    ),
                ],
                ["ms", "cell", "cnt", "s"],
            )

        pdf = emb.select(vec_col).mapInArrow(
            partials, "ms int, cell int, cnt long, s array<double>"
        ).toPandas()
        # coarse merge — _lloyd_refine's vectorized scatter-add verbatim
        co = pdf[pdf["ms"] == -1]
        kmax = 1 + max((int(c) for c, _ in centroids), default=-1)
        sums0 = np.zeros((kmax, dim))
        counts0 = np.zeros(kmax, dtype=np.int64)
        if len(co):
            idx = co["cell"].to_numpy()
            np.add.at(sums0, idx, np.stack(co["s"].to_numpy()))
            np.add.at(counts0, idx, co["cnt"].to_numpy())
        centroids = [
            (
                cid,
                np.round(sums0[cid] / counts0[cid], 6).tolist()
                if counts0[cid] > 0
                else old,
            )
            for cid, old in centroids
        ]
        # PQ merge — build_pq_codebooks' accumulation in row order
        new_books: Codebooks = []
        for ms in range(mm):
            sub = pdf[pdf["ms"] == ms]
            sums = np.zeros((kk, dd))
            counts = np.zeros(kk, dtype=np.int64)
            if len(sub):
                idx = sub["cell"].to_numpy()
                np.add.at(sums, idx, np.stack(sub["s"].to_numpy()))
                np.add.at(counts, idx, sub["cnt"].to_numpy())
            new_books.append(
                [
                    np.round(sums[c] / counts[c], 6).tolist()
                    if counts[c] > 0
                    else old
                    for c, old in enumerate(books[ms])
                ]
            )
        books = new_books
    return centroids, books


def _cell_codes_udf(centroids: list[tuple[int, list[float]]], books: Codebooks):
    """Fused coarse-cell + PQ-code assignment in ONE Arrow pass (r14,
    guide §4.1 "pass only the columns the function needs"): the codes
    write previously ran TWO pandas UDFs over the same vector column
    (``_nearest_cells_udf`` then ``_encode_udf``) — two JVM->Python
    round-trips of every vector — plus a JVM norm fold the codes
    relation never stores. Arithmetic for both halves is verbatim from
    the single-purpose UDFs (scaled-rint cosine argmax / L2 argmin), so
    cell and codes are bit-identical; the shared-assignment invariant
    vs ``_assign_cells`` is pinned by tests/test_pq.py."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    cids = [int(c) for c, _ in centroids]
    cvecs = [list(map(float, v)) for _, v in centroids]
    bk = [[list(map(float, c)) for c in book] for book in books]
    mm = len(bk)
    dd = len(bk[0][0])

    @F.pandas_udf(
        StructType(
            [
                StructField("cell", IntegerType()),
                StructField("codes", ArrayType(IntegerType())),
            ]
        )
    )
    def _cc(v: pd.Series) -> pd.DataFrame:
        C0 = np.asarray(cvecs, dtype=np.float64)
        ids0 = np.asarray(cids)
        cn0 = np.linalg.norm(C0, axis=1)
        cn0[cn0 == 0] = 1.0
        C = [np.asarray(bk[ms], dtype=np.float64) for ms in range(mm)]
        cn = [(c * c).sum(axis=1) for c in C]
        M = np.stack(v.to_numpy()).astype(np.float64)
        vn = np.linalg.norm(M, axis=1)
        vn[vn == 0] = 1.0
        cells = np.empty(len(M), dtype=np.int64)
        for lo in range(0, len(M), 1024):
            Mc, vc = M[lo : lo + 1024], vn[lo : lo + 1024]
            S = (Mc @ C0.T) / (vc[:, None] * cn0[None, :])
            np.multiply(S, 1e9, out=S)
            np.rint(S, out=S)
            cells[lo : lo + len(Mc)] = ids0[np.argmax(S, axis=1)]
        out = np.empty((len(M), mm), dtype=np.int32)
        for ms in range(mm):
            Sv = M[:, ms * dd : (ms + 1) * dd]
            d2 = (Sv * Sv).sum(axis=1)[:, None] + cn[ms][None, :] - 2 * (Sv @ C[ms].T)
            np.multiply(d2, 1e9, out=d2)
            np.rint(d2, out=d2)
            out[:, ms] = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {"cell": cells.astype(np.int32), "codes": [row.tolist() for row in out]}
        )

    return _cc


def pq_encode(
    emb: DataFrame,
    books: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to its m codebook
    codes. One Arrow-batched projection; no shuffle."""
    codes = _encode_udf(books)
    return emb.select(F.col(id_col), codes(F.col(vec_col)).alias("codes"))


def adc_lookup_tables(
    books: Codebooks, query_vec: list[float]
) -> list[list[float]]:
    """Per-subspace ADC lookup tables: lut[ms][c] = 9dp-rounded L2
    distance between the query's ms-th subvector and codebook entry c —
    m x k doubles, computed driver-side, shipped as plan literals."""
    dd = len(books[0][0])
    luts = []
    for ms, book in enumerate(books):
        qs = [float(x) for x in query_vec[ms * dd : (ms + 1) * dd]]
        nq = sum(x * x for x in qs)
        row = []
        for cv in book:
            nc = sum(x * x for x in cv)
            dot = sum(a * b for a, b in zip(qs, cv))
            row.append(round(nq + nc - 2 * dot, 9))
        luts.append(row)
    return luts


def pq_reconstruction_error(
    emb: DataFrame,
    books: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, err2) — per-vector product-quantization distortion: the sum
    over subspaces of the 9dp-rounded L2 distance between the subvector
    and its assigned codeword, itself rounded 9dp (fixed subspace
    order). The PQ analogue of the int8 reconstruction-error gate: the
    measured-quality signal that decides whether m/k are adequate for a
    corpus before the codes replace raw vectors in a 100-TB scan path.

    One chunked-GEMM mapInArrow pass (r14, VERDICT r13 #4 — the IVF
    family's device): the encode pass already computes every 9dp-rounded
    subspace distance to find the argmin, so the per-subspace error term
    IS the row minimum of that matrix — re-deriving it as an m x 3
    expression-tree dot fold over an element_at codeword lookup paid
    ~192 interpreted array folds per row AND a second Arrow transfer for
    the codes column. Equivalence: term = min over codes of the rounded
    L2 distance = rounded distance at the assigned (first-min) code; the
    per-term scaled-rint rounding and the BLAS-vs-fold ulps sit inside
    the repo's 9dp convention (tests/test_determinism_contract.py), the
    term sum runs left-to-right in subspace order exactly like the old
    expression chain, and the FINAL 9dp round stays in the JVM so the
    output column is produced by the same F.round the oracle mirrors."""
    import numpy as np

    bk = [[list(map(float, c)) for c in book] for book in books]
    mm = len(bk)
    dd = len(bk[0][0])
    t = emb.select(F.col(id_col), F.col(vec_col))
    id_t = t.schema[id_col].dataType.simpleString()

    def errs(batches):
        import pyarrow as pa

        C = [np.asarray(bk[ms], dtype=np.float64) for ms in range(mm)]
        cn = [(c * c).sum(axis=1) for c in C]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            col = rb.column(1)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            M = flat.reshape(rb.num_rows, -1).astype(np.float64, copy=False)
            err = None
            for ms in range(mm):
                S = M[:, ms * dd : (ms + 1) * dd]
                d2 = (S * S).sum(axis=1)[:, None] + cn[ms][None, :] - 2 * (S @ C[ms].T)
                np.multiply(d2, 1e9, out=d2)
                np.rint(d2, out=d2)
                # per-term divide (NOT a summed-scaled divide): the term
                # doubles must be the same values the JVM chain added
                # left-to-right, or the unrounded sum could drift an ulp
                term = d2.min(axis=1) / 1e9
                err = term if err is None else err + term
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(err, pa.float64())], [id_col, "err2"]
            )

    out = t.mapInArrow(errs, f"{id_col} {id_t}, err2 double")
    return out.select(F.col(id_col), F.round(F.col("err2"), 9).alias("err2"))


def _adc_dist_expr(luts_by_query: dict[int, list[list[float]]], qid_col: str):
    """Chained-when ADC distance over the ``codes`` column: for each
    query id, sum of ``element_at`` lookups into that query's m x k
    literal tables in FIXED subspace order (left-to-right adds — the
    cross-engine-exact summation), rounded 9dp. Plan size is
    |queries| x m x k literals — bounded by the small-query-set
    contract, zero per-row Python."""
    expr = None
    for qid, luts in luts_by_query.items():
        d = None
        for ms, row in enumerate(luts):
            lut_arr = F.array(*[F.lit(float(x)) for x in row])
            term = F.element_at(lut_arr, F.element_at(F.col("codes"), ms + 1) + F.lit(1))
            d = term if d is None else d + term
        cond = F.col(qid_col) == qid
        expr = F.when(cond, F.round(d, 9)) if expr is None else expr.when(cond, F.round(d, 9))
    return expr


def build_ivfpq_index(
    emb: DataFrame,
    index_path,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a served IVF-PQ index (the FAISS ``IndexIVFPQ`` layout,
    ``by_residual=False`` mode): coarse spherical-k-means centroids
    (tiny), per-subspace PQ codebooks (tiny), and the corpus as
    ``(vec_id, codes)`` rows partitioned by coarse cell — so a search
    that probes ``n_probe`` cells reads ONLY those partition directories
    AND reads codes (m bytes/row) instead of raw vectors (4*dim). The
    two levers compound: probe fraction x 32x compression ≈ 0.1% of the
    raw-corpus scan bytes at 16 cells / 4 probes.

    ``by_residual=False`` (codebooks trained on raw vectors, not
    per-cell residuals) keeps the codebook build one corpus-wide pass
    and the oracle a composition of the IVF and PQ chains. The residual
    mode was MEASURED before being skipped, not assumed away: on this
    near-isotropic corpus a numpy prototype read 11% lower distortion
    (mean sq reconstruction 0.49 vs 0.55) but NO recall gain (29 vs 34
    hits@10 over 10 queries — noise-level), because coarse cells barely
    concentrate isotropic vectors, so residual norms ~= raw norms.
    Revisit by_residual=True when the corpus is clustered enough that
    ``pq_reconstruction_error`` drops sharply under residualization —
    that is the regime where the FAISS default pays. Citing the
    reference is N/A — the reference engine (etl/*.py) has no vector
    surface at all. Like ``build_ivf_index``, it is built in staging
    and promoted whole (``sinks/commit.py``)."""
    staging = commit.begin(index_path)
    own_cache = _uncached(emb)
    if own_cache:
        emb = emb.persist()
    try:
        # r14 build-pass fusion (guide §1.2): ONE md5-ordered sample serves
        # both the coarse centroids and the PQ seeds (the PQ sample was the
        # SAME prefix of the SAME ordering — one TakeOrdered job instead of
        # two), and each Lloyd iteration refines coarse + all subspaces in
        # ONE corpus scan instead of two (_fused_coarse_pq_lloyd). 4 corpus
        # passes + 2 sample jobs -> 2 passes + 1 sample job per build;
        # outputs bit-identical (see the fused helper's contract).
        sampled = _sample_centroids(emb, id_col, vec_col, max(n_centroids, k))
        centroids = sampled[:n_centroids]
        dim = len(sampled[0][1]) if sampled else 0
        books: Codebooks = [
            [
                [float(x) for x in vec[ms * (dim // m) : (ms + 1) * (dim // m)]]
                for _, vec in sampled[:k]
            ]
            for ms in range(m)
        ]
        centroids, books = _fused_coarse_pq_lloyd(
            emb, vec_col, centroids, books, lloyd_iterations
        )
        # r14: both relations are driver-bounded — write them driver-side
        # instead of paying one Spark job each (guide §5; see write_centroids)
        write_centroids(staging / "centroids", centroids)
        write_codebooks(staging / "codebooks", books)
        cc = _cell_codes_udf(centroids, books)
        (
            emb.select(F.col(id_col), cc(F.col(vec_col)).alias("_cc"))
            .select(F.col(id_col), F.col("_cc.cell").alias("cell"), F.col("_cc.codes").alias("codes"))
            .repartition(n_centroids, F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(str(staging / "codes"))
        )
    finally:
        if own_cache:
            emb.unpersist()
    commit.promote(index_path)


def ann_ivfpq_append(
    spark,
    index_path,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append delta vectors to a persisted IVF-PQ index WITHOUT a
    rebuild — the steady-state ingest half of the index lifecycle
    (mirrors ``ann_ivf_append``): assign each new vector to its coarse
    cell with the PERSISTED centroids and encode it with the PERSISTED
    codebooks, then append cell-partitioned code rows. The historical
    index is never read or rewritten; only the delta scans (one
    assignment + encode projection).

    Centroids AND codebooks are frozen by design: ADC distances for the
    appended rows come from the same tables a rebuild would use, so a
    served search over old+new is exactly the search over a frozen-
    codebook full build (pinned by tests/test_pq.py). Under heavy
    distribution drift the frozen codebooks' DISTORTION grows (recall
    per probe decays, correctness doesn't) — watch
    ``pq_reconstruction_error`` on the delta and rebuild on the corpus
    refresh cadence when it drifts above the build-time gate."""
    from pathlib import Path

    index_path = Path(str(index_path))
    # r14: driver-side reads of the driver-bounded index tables — each
    # Spark read+collect was a full job (guide §5; see read_centroids)
    centroids = read_centroids(index_path / "centroids")
    books = read_codebooks(index_path / "codebooks")
    cc = _cell_codes_udf(centroids, books)
    (
        new_emb.select(F.col(id_col), cc(F.col(vec_col)).alias("_cc"))
        .select(F.col(id_col), F.col("_cc.cell").alias("cell"), F.col("_cc.codes").alias("codes"))
        .repartition(len(centroids), F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(str(index_path / "codes"))
    )


def ann_ivfpq_search(
    spark,
    index_path,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Serve approximate top-k from a persisted IVF-PQ index: probe-cell
    assignment runs driver-side over the collected (small) query set —
    the ``ann_ivf_search`` device — and the scan reads ONLY the probed
    cell directories of the CODES relation, scoring each row with the
    query's literal ADC tables in a pure JVM projection. No raw vector
    is read anywhere on the serve path."""
    from pathlib import Path

    import numpy as np

    index_path = Path(str(index_path))
    # r14: driver-side reads of the driver-bounded index tables — each
    # Spark read+collect was a full job (guide §5; see read_centroids)
    centroids = read_centroids(index_path / "centroids")
    books = read_codebooks(index_path / "codebooks")
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return spark.createDataFrame([], f"{query_id_col} long, rank int, neighbor_id long")
    # coarse probe: 9dp-rounded cosine, stable ties -> lower centroid id
    # (identical to ann_ivf_search / _nearest_cells_udf)
    cids = np.asarray([c for c, _ in centroids])
    C = np.asarray([v for _, v in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    Q = np.asarray([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    sim = np.round((Q @ C.T) / (qn[:, None] * cn[None, :]), 9)
    order = np.argsort(-sim, axis=1, kind="stable")[:, :n_probe]
    qcell_rows = [
        (r[0], int(cids[j])) for i, r in enumerate(qrows) for j in order[i]
    ]
    qcells = spark.createDataFrame(
        spark.sparkContext.parallelize(qcell_rows, 1),
        f"{query_id_col} long, cell int",
    )
    luts_by_query = {
        int(r[0]): adc_lookup_tables(books, [float(x) for x in r[1]]) for r in qrows
    }
    probe_cells = sorted({int(c) for row in order for c in cids[row]})
    codes = spark.read.parquet(str(index_path / "codes")).where(
        F.col("cell").isin(probe_cells)
    )
    cand = codes.join(F.broadcast(qcells), "cell").where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        _adc_dist_expr(luts_by_query, query_id_col).alias("_ad"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_ad").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id")
    )


def ann_topk_pq(
    codes_df: DataFrame,
    books: Codebooks,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC approximate top-k over the CODES relation: approx distance =
    sum over subspaces of lut[ms][code_ms], a pure JVM projection (the
    lookup is ``element_at`` into an m x k literal array stack — raw
    vectors are never read). Output (rank, neighbor_id), ranked by
    (9dp-rounded approx distance asc, id asc). At 100 TB this scan reads
    ~3% of the bytes of the raw-vector GEMM baseline; rerank the top
    candidates against raw vectors where exactness matters."""
    luts = adc_lookup_tables(books, query_vec)
    dist = None
    for ms, row in enumerate(luts):
        lut_arr = F.array(*[F.lit(float(x)) for x in row])
        term = F.element_at(lut_arr, F.element_at(F.col("codes"), ms + 1) + F.lit(1))
        dist = term if dist is None else dist + term
    scored = codes_df.select(
        F.col(id_col).alias("neighbor_id"), F.round(dist, 9).alias("_ad")
    )
    if exclude_id is not None:
        scored = scored.where(F.col("neighbor_id") != exclude_id)
    # TakeOrderedAndProject instead of a GLOBAL row_number window (r14,
    # guide §2.4): the unpartitioned window shuffled the ENTIRE scored
    # corpus into one task and sorted it there; orderBy().limit(k) plans
    # as a per-partition partial top-k with a k-row driver merge — no
    # full exchange, no full sort. (_ad, neighbor_id) is a TOTAL order
    # (ids unique), so the k rows — and the ranks reassigned over just
    # those k rows — are identical.
    top = scored.orderBy(F.col("_ad").asc(), F.col("neighbor_id").asc()).limit(k)
    w = Window.orderBy(F.col("_ad").asc(), F.col("neighbor_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "neighbor_id")
    )

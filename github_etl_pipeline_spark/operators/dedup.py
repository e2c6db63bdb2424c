"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the 100-TB story):
  * Exact dedup is a hash-groupBy — one shuffle on a 16-byte key, never
    on the document bodies.
  * MinHash+LSH is the linear-time near-dup path: per-doc signatures are
    pure column expressions over the shingle array (no UDFs, no
    cross-join); candidate generation shuffles only (band_id, band_hash,
    doc_id) tuples; the quadratic verify step runs per-bucket on
    candidate groups, which LSH keeps tiny.
  * The brute-force Jaccard/embedding all-pairs operators are small-data
    oracles/baselines — quadratic by construction, hard-capped at
    BRUTE_FORCE_MAX_ROWS rows; the registered scale paths are the LSH
    pipelines (minhash_dedup_pairs, embedding_dup_pairs_lsh).
  * SimHash reduces each doc to one 48-bit integer; simhash_pairs bands
    the bits so the Hamming-distance join is lossless for distance
    <= bands-1 and linear-time.

All hashes are md5-derived (functions/hashing.py) so the DuckDB oracles
reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_MINHASHES,
    minhash_coeffs,
    portable_hash48,
)
from github_etl_pipeline_spark.operators.text import TOKEN_RE
from github_etl_pipeline_spark.session import local_frame

SIMHASH_BITS = 48


def normalized_text(col: Column | str) -> Column:
    """lowercase -> delete chars outside [a-z0-9\\s] -> collapse \\s+
    runs to single spaces -> trim, expressed as two regexp_extract_all
    passes instead of two regexp_replace passes.

    Equivalence: extracting '[a-z0-9\\s]+' runs and joining on '' IS the
    deletion step (everything between kept runs is exactly the deleted
    chars — "a-b" -> runs "a","b" -> "ab"); the result contains only
    [a-z0-9] and whitespace, so its '[a-z0-9]+' runs joined on ' ' IS
    collapse+trim. Pinned row-for-row against the replace form in
    tests/test_properties.py.

    Why not regexp_replace: the NEGATED-UNION class '[^a-z0-9\\s]' is
    ~10x slower in Spark's java.util.regex-backed replace than literal /
    positive-class / '\\s+' patterns on the same corpus (6.3s vs 0.6s
    over 150k x 400-char docs, r9 micro-probe — match counts comparable,
    so it is the per-character complement-union step, not the
    replacement machinery), and it dominated exact_dedup at every tier
    (VERDICT r8 #6: the alpha=0.90 'scan-bound' read was really this one
    expression). Extracting the POSITIVE complement sidesteps it: same
    corpus 6.8s -> 0.9s. The DuckDB oracle mirror (_NORM_SQL) keeps the
    replace form: DuckDB's RE2 has no such cliff, and equal semantics is
    all the cross-engine hash needs."""
    c = F.col(col) if isinstance(col, str) else col
    kept = F.array_join(F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9\s]+"), 0), "")
    return F.array_join(F.regexp_extract_all(kept, F.lit(r"[a-z0-9]+"), 0), " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text: one row per
    distinct content with the surviving (minimum) id and the duplicate
    count. Shuffles 16-byte keys only."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def kgrams_of(w: Column, k: int) -> Column:
    """POSITIONAL word k-grams of an existing token array, space-joined,
    as k-1 chained zip_with passes + a final slice.

    NOT transform-over-indices with slice/element_at lambdas: an
    expression referenced inside a higher-order-function lambda is
    re-evaluated per ELEMENT, making the index form O(n^2) per row
    (measured 7x slower on ~100-token docs); each zip pass touches each
    element once, so this is O(k*n). Rows shorter than ``k`` yield []
    — callers add their own short-doc fallback."""
    n = F.size(w)
    out = w
    for j in range(1, k):
        shifted = F.slice(w, j + 1, F.greatest(n - j, F.lit(0)))
        out = F.zip_with(out, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.slice(out, 1, F.greatest(n - (k - 1), F.lit(0)))


def shingles(col: Column | str, k: int = 2) -> Column:
    """Distinct word k-gram shingle array."""
    toks = F.regexp_extract_all(F.col(col) if isinstance(col, str) else col, F.lit(TOKEN_RE), 0)
    n = F.size(toks)
    gram = F.when(
        n >= k,
        F.array_distinct(kgrams_of(toks, k)),
    ).otherwise(F.when(n > 0, F.array(F.array_join(toks, " "))).otherwise(F.array()))
    return gram


def shingle_hashes(col: Column | str, k: int = 2) -> Column:
    """Distinct 32-bit shingle hash array (the MinHash input set)."""
    return F.array_distinct(
        F.transform(
            shingles(col, k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        )
    )


def hash_array_or_shingles(df: DataFrame, col: Column | str, k: int) -> Column:
    """Precomputed-shingle passthrough: when ``col`` names an existing
    ``array<bigint>`` column of ``df`` (a stored ``shingle_hashes``
    output), return it as-is and ignore ``k``; otherwise compute
    ``shingle_hashes(col, k)`` from the text column. Lets multi-signal
    plans (``curation.curation_pipeline``) tokenize + shingle the corpus
    ONCE into a persisted base relation and feed every dedup stage from
    it instead of re-running the regexp chain per signal.

    The precomputed column must carry ``{"shingle_k": k}`` column
    metadata (attach it at alias time:
    ``shingle_hashes(text, k).alias(name, metadata={"shingle_k": k})``)
    and it must MATCH this stage's ``k`` — silently accepting a k=2
    array into a k=3 stage would yield wrong pairs/decontamination with
    no error (ADVICE r8).

    The precomputed array must also be DISTINCT (``shingle_hashes``
    output always is — it wraps ``array_distinct``): downstream Jaccard
    uses the inclusion–exclusion form ``|a| + |b| - |a ∩ b|`` for the
    union size, which is only the set union when each side has no
    duplicates. A hand-built non-distinct ``array<bigint>`` would
    deflate Jaccard (false negatives) with no error (ADVICE r10) —
    wrap such arrays in ``F.array_distinct`` before attaching the
    metadata. ``tests/test_curation.py::
    test_precomputed_shingles_distinctness_contract`` pins both the
    producer's distinctness and the deflation mode this rules out."""
    if isinstance(col, str) and dict(df.dtypes).get(col) == "array<bigint>":
        meta = df.schema[col].metadata or {}
        got = meta.get("shingle_k")
        if got != k:
            raise ValueError(
                f"precomputed shingle column {col!r} declares shingle_k="
                f"{got!r} but this stage needs k={k}; attach matching "
                'metadata via .alias(name, metadata={"shingle_k": k}) '
                "when building the base relation"
            )
        return F.col(col)
    return shingle_hashes(col, k)


def ordered_shingle_hashes(col: Column | str, k: int = 2) -> Column:
    """POSITIONAL word k-gram hash array (duplicates kept, document order
    preserved) — the winnowing input, unlike the set-valued
    ``shingle_hashes`` the MinHash path uses."""
    toks = F.regexp_extract_all(F.col(col) if isinstance(col, str) else col, F.lit(TOKEN_RE), 0)
    n = F.size(toks)
    grams = F.when(
        n >= k,
        kgrams_of(toks, k),
    ).otherwise(
        F.when(n > 0, F.array(F.array_join(toks, " "))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return F.transform(
        grams, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    window: int = 4,
) -> DataFrame:
    """Winnowing document sketch (Schleimer, Wilkerson, Aiken — the MOSS
    fingerprinting algorithm): slide a ``window`` over the positional
    k-gram hash sequence, keep the minimum hash of each window, output
    the distinct selected hashes. Guarantees every shared substring of
    at least ``window + k - 1`` words produces a shared fingerprint, with
    sketch density ~2/(window+1) — the standard local-fingerprint scheme
    for partial-overlap detection, complementing MinHash (whole-doc
    similarity) in the dedup toolbox.

    Pure array expressions inside the scan (sequence -> slice ->
    array_min -> array_distinct), then one explode; output
    (doc_id, fingerprint) shuffles only 8-byte hashes. Matching ranges
    across docs = an equi-join on fingerprint.

    Empty docs are dropped by a null filter AFTER the explode (an empty
    hash array yields a single NULL min), NOT by an early ``size > 0``
    filter: Catalyst pushes such a filter below the fan-out exchange,
    re-evaluating the whole tokenize+md5 chain serially inside the scan
    stage — measured 5x slower on a single-file scan."""
    h = ordered_shingle_hashes(text_col, k)
    t = df.select(F.col(id_col), h.alias("_h"), F.size(h).alias("_n"))
    n_windows = F.greatest(F.col("_n") - window + 1, F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.array_min(F.slice(F.col("_h"), i + 1, window)),
    )
    return (
        t.select(id_col, F.explode(F.array_distinct(mins)).alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    with_size: bool = False,
    num_hashes: int = NUM_MINHASHES,
) -> DataFrame:
    """doc_id + sig_0..sig_{n-1} MinHash signature columns (pure
    expressions over the shingle-hash array; empty docs get NULL sigs).
    ``text_col`` may instead name a precomputed ``array<bigint>``
    shingle-hash column (see ``hash_array_or_shingles``).

    ``with_size=True`` appends a ``_n`` shingle-set-size column (same
    projection, zero extra passes) so downstream banding can carry sizes
    to the verify stage for a join-free size-ratio prefilter — see
    ``lsh_candidate_pairs`` / ``jaccard_pairs`` (VERDICT r9 #5).

    ``num_hashes`` selects a longer permutation family (same generating
    formulas — functions/hashing.py::minhash_coeffs) for recall-tuned
    banding; each extra permutation is one (a*h+b)%P fold over the
    already-hashed shingle array, arithmetic only, no extra md5.

    The permutation folds run as ONE vectorized mapInArrow pass (r13):
    the expression form evaluated ``num_hashes`` interpreted
    array-transform lambdas per document (ArrayTransform does not
    whole-stage-codegen), measured ~2.7s at sf0.1 for the 114-hash tuned
    family where the numpy segment-min reads ~0.3s. Arithmetic is exact
    int64 in both engines: a <= 2*num_hashes+1 and h < 2^32 keep a*h+b
    far inside int64, and the dividend is non-negative so Java's
    sign-follows-dividend %% and numpy's sign-follows-divisor %% agree.
    NULL signatures for empty shingle sets are preserved via the Arrow
    validity mask."""
    a_co, b_co = (
        (MINHASH_A, MINHASH_B)
        if num_hashes == NUM_MINHASHES
        else minhash_coeffs(num_hashes)
    )
    sh = hash_array_or_shingles(df, text_col, k)
    out = df.select(F.col(id_col), sh.alias("_sh"))
    id_type = out.schema[id_col].dataType.simpleString()

    def sigs(batches):
        import numpy as np
        import pyarrow as pa

        A = np.asarray(a_co, dtype=np.int64)[None, :]
        B = np.asarray(b_co, dtype=np.int64)[None, :]
        H = A.shape[1]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            col = rb.column(1)
            # normalize offsets for a sliced array; flatten() skips null
            # rows' (empty) segments consistently with equal offsets
            offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            offs = offs - offs[0]
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            # ADVICE r13: flatten() skips null slots, so the offset walk
            # below is only aligned when every null slot carries equal
            # offsets (true for Spark-produced batches). If a producer
            # ever violates that, fail loudly instead of silently
            # misaligning every subsequent document's signature.
            assert len(flat) == offs[-1], (
                f"list offsets ({offs[-1]}) disagree with flattened "
                f"values ({len(flat)}): null slot with non-empty range"
            )
            lens = offs[1:] - offs[:-1]
            res = np.zeros((rb.num_rows, H), dtype=np.int64)
            nonempty = np.flatnonzero(lens > 0)
            # doc-chunked so the (shingles x H) permutation matrix stays
            # small (~18 MB at 20k shingles x 114 hashes): 32 concurrent
            # workers each holding ~100 MB of short-lived large arrays
            # trip the kernel-reclaim stalls documented on
            # _nearest_cells_udf; in-place += / %= keep it to ONE
            # allocation per chunk
            pos = 0
            while pos < len(nonempty):
                # always take at least one doc so a single huge shingle
                # set cannot stall the chunk walk
                end = pos + 1
                s0 = offs[nonempty[pos]]
                while end < len(nonempty) and offs[nonempty[end] + 1] - s0 <= 20_000:
                    end += 1
                rows = nonempty[pos:end]
                s1 = offs[rows[-1] + 1]
                if end == pos + 1 and s1 - s0 > 20_000:
                    # ADVICE r13: a SINGLE document over the chunk cap
                    # (e.g. 1M distinct shingles) would allocate an
                    # unbounded (shingles x H) matrix in one shot —
                    # exactly the peak-allocation mode the cap exists to
                    # avoid. Fold its shingle range in cap-sized
                    # sub-slices with a running np.minimum instead;
                    # min is associative, so the signature is identical.
                    r = rows[0]
                    acc = np.full(H, np.iinfo(np.int64).max, dtype=np.int64)
                    for lo in range(s0, s1, 20_000):
                        mat = flat[lo : min(lo + 20_000, s1), None] * A
                        mat += B
                        mat %= MINHASH_P
                        np.minimum(acc, mat.min(axis=0), out=acc)
                    res[r] = acc
                else:
                    mat = flat[s0:s1, None] * A
                    mat += B
                    mat %= MINHASH_P
                    res[rows] = np.minimum.reduceat(mat, offs[rows] - s0, axis=0)
                pos = end
            mask = lens == 0
            arrs = [ids]
            names = [id_col]
            for i in range(H):
                arrs.append(pa.array(res[:, i], pa.int64(), mask=mask))
                names.append(f"sig_{i}")
            if with_size:
                # NULL-array mask (VERDICT r13 seam #3): the expression
                # form's F.size emitted NULL for a NULL shingle array
                # but 0 for an EMPTY one; an unmasked pa.array(lens)
                # emitted 0 for both — latent drift for any future
                # NULL-text caller (banding guards consume _n). The sig
                # mask (lens == 0) is WIDER on purpose: empty sets also
                # get NULL signatures.
                null_mask = col.is_null().to_numpy(zero_copy_only=False)
                arrs.append(pa.array(lens, pa.int64(), mask=null_mask))
                names.append("_n")
            yield pa.RecordBatch.from_arrays(arrs, names)

    schema = ", ".join(
        [f"{id_col} {id_type}"]
        + [f"sig_{i} long" for i in range(num_hashes)]
        + (["_n long"] if with_size else [])
    )
    return out.mapInArrow(sigs, schema)


def _validate_banding(n_sigs: int, bands: int) -> int:
    """rows-per-band for an ``n_sigs``-wide signature under ``bands``
    bands, with the ADVICE r12 guards: bands wider than the signature
    floor rows_per_band to 0 — every band key would md5('') and the
    whole corpus collapses into ONE collect_list group per band (a
    silent O(n^2) pair explosion / driver OOM). Easy to hit since
    split_leakage_audit exposes `bands` without forcing num_hashes;
    fail loud instead — and BEFORE any persist, so a raising misuse
    leaks no cached relation into the session. A non-dividing bands
    count silently discards trailing signatures — warn."""
    rows_per_band = n_sigs // bands
    if rows_per_band == 0:
        raise ValueError(
            f"bands={bands} exceeds the signature "
            f"width ({n_sigs} sig_* columns) — 0 rows per band would key "
            "every document into one bucket. Widen the signature "
            "(minhash_signature(num_hashes=...), or pass the matched "
            "bands+num_hashes pair from minhash_bands_for_recall)."
        )
    if n_sigs % bands != 0:
        import warnings

        warnings.warn(
            f"{n_sigs} signatures do not divide into "
            f"{bands} bands — the trailing {n_sigs % bands} signature "
            "column(s) are silently unused; recall is that of a "
            f"{bands * rows_per_band}-signature banding.",
            stacklevel=3,
        )
    return rows_per_band


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", bands: int = 4
) -> DataFrame:
    """Banded-LSH candidate pairs from a signature DataFrame: docs
    agreeing on ALL rows of at least one band. Output (id_a, id_b),
    id_a < id_b, distinct.

    When ``sig`` carries the optional ``_n`` size column (see
    ``minhash_signature(with_size=True)``), the sizes RIDE THROUGH the
    banding shuffle inside the id struct and come out as ``_na``/``_nb``
    pair columns — one extra int per exploded band row instead of the
    two candidate-sized shuffle joins a post-hoc size lookup would cost.
    ``_n`` is functionally dependent on the id, so the distinct's
    cardinality is unchanged.

    Rows per band derive from the signature WIDTH actually present
    (``sig_*`` columns), so recall-tuned signatures
    (``minhash_signature(num_hashes=...)``) band correctly without a
    separate parameter to keep in sync."""
    n_sigs = sum(1 for c in sig.columns if c.startswith("sig_"))
    rows_per_band = _validate_banding(n_sigs, bands)
    with_sizes = "_n" in sig.columns
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        # r14 (guide §1.2 per-task work): group on the RAW signature
        # tuple instead of md5(concat_ws(sig...)) — the band hash only
        # ever decided GROUP membership, so any collision-free key gives
        # the identical candidate set, and the exact tuple is the one
        # key with literally zero collisions. Saves ``bands`` md5 string
        # evaluations per document (57/doc for the tuned config) and
        # shuffles fixed-width int64 arrays instead of 32-char hex.
        # NULL sigs (empty shingle sets) still co-group exactly like
        # md5(concat_ws('')) grouped them — those pairs never survive
        # the verify (jaccard 0), same as before.
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.array(*cols).alias("bh"))
        )
    # sort_array over structs orders by the FIRST field, so the id leads
    # the struct and pair orientation (id_a < id_b) is preserved
    key = (
        F.struct(F.col(id_col).alias("_pid"), F.col("_n").alias("_pn"))
        if with_sizes
        else F.col(id_col)
    )
    exploded = sig.select(key.alias("_key"), F.explode(F.array(*band_cols)).alias("bk")).select(
        "_key", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    grouped = exploded.groupBy("band", "bh").agg(
        F.sort_array(F.collect_list("_key")).alias("ids")
    )
    expanded = (
        grouped.where(F.size("ids") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda a, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
    )
    if with_sizes:
        return expanded.select(
            F.col("p.a._pid").alias("id_a"),
            F.col("p.b._pid").alias("id_b"),
            F.col("p.a._pn").alias("_na"),
            F.col("p.b._pn").alias("_nb"),
        ).distinct()
    return expanded.select(
        F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")
    ).distinct()


#: hard cap for the brute-force (all-pairs) paths: they are quadratic by
#: construction and exist only as small-data oracles/baselines — the LSH
#: pipelines are the registered scale paths (VERDICT r1 items 2-3)
BRUTE_FORCE_MAX_ROWS = 20_000


def _assert_brute_force_ok(df: DataFrame, what: str, max_rows: int | None) -> None:
    if max_rows is None:
        return
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{what}: {n} rows exceeds the brute-force cap {max_rows}; "
            "this all-pairs path is a small-data oracle — use the LSH "
            "variant (minhash_dedup_pairs / embedding_dup_pairs_lsh) at scale"
        )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    max_brute_rows: int | None = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs (or brute-force
    all-pairs when ``candidates`` is None — the small-data baseline,
    guarded by ``max_brute_rows``). Output (id_a, id_b, jaccard) with
    UNROUNDED jaccard >= threshold (rounding happens only in the output
    projection, matching the SQL oracles). ``text_col`` may name a
    precomputed shingle-hash array (see ``hash_array_or_shingles``).

    The shingle relation feeds BOTH sides of the verify join (aliased
    id_a/id_b), so it is persisted: without the cache the tokenize +
    k-gram + md5 chain runs once per side. When ``text_col`` is already
    a precomputed hash array the projection is trivial and the persist
    is skipped (curation_pipeline feeds its own cached base).

    Cache contract (ADVICE r8): the returned plan READS that persisted
    relation and this function never unpersists it (doing so before the
    caller's terminal action would defeat the cache). Long-lived
    sessions must sweep with ``session.sweep_caches(spark)`` after
    consuming the result — and always before re-running over a
    rewritten input table, since a stale CacheManager entry can serve
    dead rows for an identical analyzed plan."""
    pre_hashed = isinstance(text_col, str) and dict(df.dtypes).get(text_col) == "array<bigint>"
    sh = df.select(
        F.col(id_col).alias("_id"),
        hash_array_or_shingles(df, text_col, k).alias("_sh"),
    )
    if not pre_hashed:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    if candidates is not None:
        # Lossless size-ratio prefilter BEFORE the array joins (VERDICT
        # r9 #5): J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so a pair whose
        # sizes already violate the threshold can never survive the exact
        # verify. Applied ONLY when the candidate relation already
        # carries _na/_nb (sizes ride the banding shuffle — see
        # lsh_candidate_pairs): measured at sf10, a post-hoc size lookup
        # via two candidate-sized shuffle joins costs more than it saves
        # at low thresholds (th=0.2 prunes 3% of candidates, -4% net;
        # th=0.5 prunes 27%, +9% net), while the ride-along is free at
        # any threshold. The pruned pairs never get a shingle array
        # attached — the verify join's real cost is each candidate row
        # carrying BOTH full arrays through an Exchange.
        if threshold > 0 and {"_na", "_nb"}.issubset(candidates.columns):
            candidates = candidates.where(
                F.least("_na", "_nb") >= F.lit(threshold) * F.greatest("_na", "_nb")
            )
        candidates = candidates.select("id_a", "id_b")
        joined = candidates.join(a, "id_a").join(b, "id_b")
    else:
        _assert_brute_force_ok(df, "jaccard_pairs", max_brute_rows)
        # same lossless size-ratio prefilter — here it prunes most of the
        # quadratic candidate space before set ops
        sa, sb = F.size("sh_a"), F.size("sh_b")
        joined = a.crossJoin(b).where(
            (F.col("id_a") < F.col("id_b"))
            & (F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb))
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |A u B| = |A| + |B| - |A n B| EXACTLY, because shingle_hashes
    # array_distincts after hashing — saves building the union array
    # (the second full hash-set pass per pair)
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        joined.where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_bands_for_recall(
    threshold: float,
    target_recall: float = 0.9,
    rows: int = 2,
    max_bands: int = 64,
) -> dict:
    """Recall-PRESERVING banding config for ``minhash_dedup_pairs`` —
    the text sibling of ``bands_for_recall`` (VERDICT r11 #2 follow-up):
    the production 16-sig / 4x4 banding's recall at Jaccard J is
    1-(1-J^4)^4, an S-curve centered near J~0.6 — measured 0.2 at
    J=0.51 and 0.1 at J=0.26, far below a threshold-0.2 audit's needs.
    Banding theory: a pair at Jaccard J agrees on one minhash with
    probability J, so a ``rows``-row band matches with J^rows and L
    bands recall 1-(1-J^rows)^L; solving for L at the TARGET threshold
    gives L = ceil(log(1-R)/log(1-t^rows)).

    Narrower bands (rows=2) move the S-curve's center down to
    ~(1/L)^(1/rows); the signing cost grows linearly in rows*L but each
    extra permutation is ONE (a*h+b)%P arithmetic fold over the
    already-hashed shingle array (no extra md5, no extra tokenize), and
    candidate volume stays verify-pruned. ``capped`` reports an
    unreachable target at ``max_bands`` rather than silently lowering
    it. Returns kwargs for ``minhash_dedup_pairs``:
    t=0.2, R=0.9, rows=2 -> 57 bands x 2 rows = 114 permutations,
    recall at J=0.2 >= 0.90 vs the production config's ~0.07."""
    import math

    p_band = threshold**rows
    if p_band >= 1.0:
        bands = 1
    else:
        bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
    capped = bands > max_bands
    bands = min(bands, max_bands)
    if capped:
        # the cap is never silent (ADVICE r12): warn at solve time, and
        # every documented **splat consumer accepts/ignores the capped
        # key, so callers keep the signal without popping it first
        import warnings

        warnings.warn(
            f"minhash_bands_for_recall: target recall {target_recall} at "
            f"threshold {threshold} needs more than max_bands={max_bands} "
            f"bands — capped at {bands}; realized recall at the threshold "
            f"is {1.0 - (1.0 - p_band) ** bands:.3f}.",
            stacklevel=2,
        )
    return {"bands": bands, "num_hashes": bands * rows, "capped": capped}


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    num_hashes: int = NUM_MINHASHES,
    capped: bool = False,
) -> DataFrame:
    """End-to-end near-dup pipeline: signature -> banded LSH candidates ->
    exact Jaccard verify >= threshold.

    ``capped`` is accepted (and ignored) so the documented
    ``**minhash_bands_for_recall(...)`` splat works verbatim; the helper
    itself warns when the target was capped (ADVICE r12).

    The default 16-sig / 4-band config is the DEDUP tuning (S-curve
    centered near J~0.6; high-J pairs always survive). For high RECALL
    at a low threshold — the split_leakage_audit regime — pass the
    kwargs from ``minhash_bands_for_recall(threshold, target)``: more
    permutations + narrower bands move the S-curve's center down to the
    audit threshold (measured: recall at J=0.26 goes 0.1 -> ~0.98; the
    registered ``minhash_recall_tuned`` query pins the driver-tier
    config and SCALING.md prices the extra signing/banding cost).

    The shingle-hash relation is computed ONCE into a persisted
    (id, array<bigint>) base feeding both the signature stage and the
    verify join (r9: previously the tokenize + k-gram + md5 chain ran
    twice over the corpus — once inside minhash_signature, once for the
    verify relation). When ``text_col`` is already a precomputed hash
    array the caller owns the base and no extra persist happens.

    Cache contract (ADVICE r8): the returned plan READS that persisted
    relation and this function never unpersists it — sweep with
    ``session.sweep_caches(spark)`` in long-lived sessions, always
    before re-running over a rewritten input table."""
    _validate_banding(num_hashes, bands)  # BEFORE the persist: a raising
    # misuse must not leak a cached relation into the session
    pre_hashed = isinstance(text_col, str) and dict(df.dtypes).get(text_col) == "array<bigint>"
    if not pre_hashed:
        from pyspark import StorageLevel

        df = df.select(
            F.col(id_col),
            shingle_hashes(text_col, k).alias("_hs", metadata={"shingle_k": k}),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        text_col = "_hs"
    # with_size threads shingle-set sizes through the banding so the
    # verify stage can size-prune candidates without extra joins
    sig = minhash_signature(
        df, text_col, id_col, k, with_size=True, num_hashes=num_hashes
    )
    cand = lsh_candidate_pairs(sig, id_col, bands)
    return jaccard_pairs(df, text_col, id_col, k, threshold, candidates=cand)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash per document via exploded-token bit-vote aggregation
    (plain SQL aggregates — cross-engine reproducible, map-side combined).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)).alias("tok"),
    ).select(id_col, portable_hash48(F.col("tok")).alias("h"))
    # branchless vote: (bit * 2 - 1) is exactly when(bit==1, 1).otherwise(-1)
    # for the non-null h this hash chain guarantees, and the arithmetic form
    # measures ~4x faster through the 48-accumulator codegen'd aggregate
    # (guide §1.2 per-task work; r13 probe: 3.14s -> 0.80s at sf0.1)
    votes = [
        F.sum(
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = toks.groupBy(id_col).agg(*votes)
    acc = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
    return g.select(id_col, acc.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    The 48-bit simhash splits into ``bands`` contiguous bit blocks; by
    pigeonhole, any pair within ``max_hamming <= bands - 1`` differing
    bits must agree EXACTLY on at least one block — so the banding join
    is lossless (100% recall) at the default (4 bands, distance <= 3),
    and the Hamming verify runs on candidates only. Same linear-time
    shape as minhash_dedup_pairs: shuffles (band, 12-bit block, id)
    tuples, never text. Output (id_a, id_b, hamming).

    Cache contract (ADVICE r8): the signature relation stays persisted
    in the returned plan (see ``jaccard_pairs``) — sweep with
    ``session.sweep_caches(spark)`` in long-lived sessions, always
    before re-running over a rewritten input table."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding is only exact for max_hamming <= bands-1 "
            f"(got {max_hamming} with {bands} bands)"
        )
    # persisted before the self-join: both sides re-project it under
    # different aliases, so without the cache the tokenize + 48-vote
    # aggregate runs once PER SIDE (same fix as media_dup_pairs). One
    # (id, long) row per doc — trivially cacheable at any corpus size.
    from pyspark import StorageLevel

    sh = simhash(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    width = SIMHASH_BITS // bands
    bandcols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bh"),
        )
        for b in range(bands)
    ]
    keyed = sh.select(id_col, "simhash", F.explode(F.array(*bandcols)).alias("bk")).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    a = keyed.select("band", "bh", F.col(id_col).alias("id_a"), F.col("simhash").alias("sa"))
    b = keyed.select("band", "bh", F.col(id_col).alias("id_b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    # verify BEFORE dedup: the bit_count filter is map-side and free,
    # while dropDuplicates shuffles its input — filtering first shrinks
    # the distinct to true near-dups, not every band collision
    return (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(ham <= max_hamming)
        .select("id_a", "id_b", ham.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iterations: int = 20,
    max_driver_pairs: int = 1_000_000,
) -> DataFrame:
    """Min-label propagation over an undirected pair graph: every node in
    ``nodes`` gets the minimum id reachable through ``pairs`` (columns
    id_a/id_b) as its ``cluster_id``; singletons carry their own id.

    ADAPTIVE execution, decided by the runtime pair count (the same
    move AQE makes with runtime shuffle stats):

      * pair relation <= ``max_driver_pairs`` (default 1M ~ 16 MB —
        a BOUNDED collect, unlike collecting a corpus): union-find on
        the driver, label map broadcast back, one corpus-wide left
        join. Near-dup pair relations are tiny in practice, and the
        distributed loop's per-round scheduling overhead dwarfs the
        actual work there.
      * larger: distributed min-label iteration over ONLY the nodes
        incident to an edge — each round's join + groupBy is
        proportional to the PAIR relation, never the corpus; rounds
        needed = graph diameter (near-dup components are overwhelmingly
        small/star-shaped, so 2-4 rounds). The full node set is visited
        exactly once either way, by the final singleton-filling left
        join. (At extreme component sizes the classic large-star/
        small-star variant halves the round count; the propagation join
        below is the same shape it would reuse.)"""
    p = pairs.select("id_a", "id_b").persist()
    n_pairs = p.count()
    if n_pairs <= max_driver_pairs:
        out = _components_driver(nodes, p, id_col)
        p.unpersist()
        return out
    edges = (
        p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(p.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("lbl", F.col("id")).persist()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["dst"], "left")
            .select("id", F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"))
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    p.unpersist()
    # singletons (nodes with no edge) carry their own id; one corpus-wide
    # left join, outside the iteration
    out = (
        nodes.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(id_col, F.coalesce("lbl", F.col(id_col)).alias("cluster_id"))
    )
    return out


def _components_driver(nodes: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Union-find over a driver-collected (bounded) pair list; the
    resulting (node, min-id-of-component) map joins back broadcast."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    touched = set()
    for r in pairs.collect():
        a, b = r[0], r[1]
        touched.add(a)
        touched.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min id stays the root -> root IS cluster_id
    mapping = [(x, find(x)) for x in touched]
    id_type = nodes.schema[id_col].dataType
    schema = StructType(
        [StructField(id_col, id_type), StructField("cluster_id", id_type)]
    )
    # mapping is driver-bounded (<= max_driver_pairs ids): a local
    # relation, so broadcasting it needs no Python worker
    lbl = local_frame(nodes.sparkSession, mapping, schema)
    return (
        nodes.select(F.col(id_col))
        .join(F.broadcast(lbl), id_col, "left")
        .select(id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
    )


def dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_iterations: int = 20,
    num_hashes: int = NUM_MINHASHES,
    capped: bool = False,
) -> DataFrame:
    """Near-dup CONNECTED COMPONENTS over the MinHash+LSH pair graph:
    what a dedup pipeline actually needs after pair mining — group
    transitively-linked near-dups and elect one canonical doc per group
    (the minimum id). Output (doc_id, cluster_id) for EVERY document;
    singletons carry their own id. See ``connected_components`` for the
    propagation algorithm and its scale shape. For audit-grade recall
    at a low threshold, pass ``**minhash_bands_for_recall(threshold,
    target)`` (bands + num_hashes; the ``capped`` key is accepted and
    ignored — the helper warns on cap) — see ``minhash_dedup_pairs``."""
    pairs = minhash_dedup_pairs(
        df, text_col, id_col, k, bands, threshold, num_hashes=num_hashes
    )
    return connected_components(df.select(id_col), pairs, id_col, max_iterations)


def embedding_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    max_brute_rows: int | None = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-dup pairs >= threshold — brute-force
    all-pairs, the small-data ORACLE path only (guarded by
    ``max_brute_rows``); ``embedding_dup_pairs_lsh`` is the registered
    scale path."""
    from github_etl_pipeline_spark.operators.similarity import dot_expr, norm_expr

    _assert_brute_force_ok(emb, "embedding_dup_pairs", max_brute_rows)
    # coalesce makes the norm provably non-null, so the >= threshold
    # filter's inferred isnotnull constraint folds to TRUE instead of
    # re-evaluating the whole norm aggregate inside the scan stage
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.coalesce(norm_expr(F.col(vec_col)), F.lit(0.0)).alias("_na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.coalesce(norm_expr(F.col(vec_col)), F.lit(0.0)).alias("_nb"),
    )
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        (dot_expr(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))).alias("cos"),
    ).where(F.col("cos") >= threshold)


def adaptive_lsh_depth(n_rows: int, target_bucket: int, max_depth: int) -> int:
    """Sign-bits per bucket so the EXPECTED bucket multiplicity stays
    ~``target_bucket`` as the corpus grows: B = ceil(log2(n / t)),
    clamped to [1, max_depth]. Candidate volume per band is then
    ~n * t / 2 — LINEAR in rows by construction — instead of the fixed-
    depth C(n,2) / 2^B, which is quadratic with a small constant and
    measured to fill 78 GB of shuffle spill at the 100x tier (r10).

    Integer-exact cross-engine: log2 of an integer is representable-or-
    irrational (never within an ulp of a wrong integer below 2^52), so
    Python's math.ceil(math.log2(m)) and DuckDB's ceil(log2(m)) agree
    for every m; both sides compute m = ceil(n / target) in integers."""
    import math

    m = max(1, -(-n_rows // target_bucket))  # ceil-div
    return max(1, min(max_depth, math.ceil(math.log2(m)) if m > 1 else 1))


def bands_for_recall(
    n_rows: int,
    target_recall: float = 0.9,
    cos_threshold: float = 0.85,
    target_bucket: int = 8,
    max_depth: int = 16,
    max_bands: int = 64,
) -> dict:
    """Recall-PRESERVING scale mode for ``embedding_dup_pairs_lsh``
    (VERDICT r10 #3 — implements what the operator docstring previously
    only documented): keep the depth-adaptive bucket (candidates stay
    linear in n) and grow the BAND COUNT with corpus size so overall
    recall at ``cos_threshold`` stays >= ``target_recall``.

    Sign-LSH math: a plane separates two vectors at angle theta with
    probability theta/pi, so a B-bit band matches with p_band = p**B
    where p = 1 - acos(cos)/pi. Overall recall over L independent bands
    is 1 - (1 - p**B)**L; solving for L gives
        L = ceil(log(1 - target_recall) / log(1 - p**B)).
    With B = ceil(log2(n/t)) (the adaptive depth), p**B = (n/t)**log2(p),
    so L grows POLYNOMIALLY as ~(n/t)**(-log2 p) — e.g. exponent 0.28 at
    cos 0.85. That is the classic LSH n^rho scaling: total signing work
    ~n * L * B and candidate volume ~L * n * t / 2 stay subquadratic,
    vs the fixed-band miner whose recall decays to ~0.07 at the 100x
    tier (see the measured table in ``embedding_dup_pairs_lsh``).

    Returns kwargs for ``embedding_dup_pairs_lsh``: ``bands`` = L,
    ``n_planes`` = L * B, ``target_bucket`` passed through — the miner's
    own ``adaptive_lsh_depth(n, t, rows=B)`` then re-derives the same B
    (clamp at rows is exact because rows == B). ``max_bands`` caps the
    signing cost explicitly; hitting it is logged in the returned dict
    (``capped``) so callers never silently lose the recall target."""
    import math

    depth = adaptive_lsh_depth(n_rows, target_bucket, max_depth)
    p = 1.0 - math.acos(cos_threshold) / math.pi
    p_band = p**depth
    if p_band >= 1.0:
        bands = 1
    else:
        bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
    capped = bands > max_bands
    bands = min(bands, max_bands)
    if capped:
        # ADVICE r12 #3: the recall_target router in
        # embedding_dup_pairs_lsh uses only bands/n_planes/target_bucket,
        # so the cap must be loud HERE or the requested recall target is
        # silently lowered on large corpora.
        import warnings

        warnings.warn(
            f"bands_for_recall: target recall {target_recall} at cos "
            f"{cos_threshold} (depth {depth}) needs more than "
            f"max_bands={max_bands} bands — capped at {bands}; realized "
            f"recall at the threshold is {1.0 - (1.0 - p_band) ** bands:.3f}.",
            stacklevel=2,
        )
    return {
        "bands": bands,
        "n_planes": bands * depth,
        "target_bucket": target_bucket,
        "capped": capped,
    }


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    target_bucket: int | None = None,
    recall_target: float | None = None,
    recall_cos: float | None = None,
) -> DataFrame:
    """LSH-banded embedding pair mining: band both sides on random-
    hyperplane sign buckets, self-join on (band, bucket), exact cosine
    verify on candidates only — the banded-scale sibling of
    ``embedding_dup_pairs`` (VERDICT r1 item 2).

    Candidate generation shuffles ONLY (band, bucket, id) tuples; the
    vectors are joined back for the exact verify on the deduped candidate
    pairs (broadcast when the corpus is small, co-partitioned otherwise).

    SCALE LAW (VERDICT r9 #4 / r10 probe): FIXED-depth sign buckets are
    quadratic with a small constant — random pairs collide with prob
    2^-rows per band, so candidates ~ bands * C(n,2) / 2^rows, which at
    the 100x tier (200k vectors, 8-bit buckets) is ~6e8 pairs each
    dragging two full vectors through the verify Exchange (measured:
    >78 GB spill, disk exhaustion). Pass ``target_bucket`` to make the
    depth ADAPTIVE: bucket on the first B = ceil(log2(n/target)) sign
    bits (clamped to rows), which pins expected bucket multiplicity —
    and therefore candidates per row — CONSTANT as the corpus scales.
    The tradeoff is recall at fixed cosine decaying with depth
    (per band p_match = (1 - theta/pi)^B); EXACT duplicates (cos ~ 1,
    the dedup target) are depth-invariant and always survive. For
    high-recall near-dup mining at fleet scale, pass ``recall_target``
    (VERDICT r11 #5): the miner then derives bands/planes/depth from
    ``bands_for_recall(n, recall_target, cos_threshold=recall_cos or
    threshold, ...)`` itself — band count grows with corpus size (the
    LSH n^rho law) while the depth stays adaptive, holding recall at
    the target cosine >= the target at every tier (measured 0.88-1.00
    vs the fixed config's 0.89 -> 0.33 decay; the registered
    ``embedding_lsh_recall_tuned`` query pins the driver-tier config).
    ``recall_cos`` defaults to ``threshold``; set it separately when
    the verify threshold sits below the similarity regime you need
    recalled (the tuned query targets cos=0.85 seeds while verifying
    at 0.45). Explicit n_planes/bands are ignored when recall_target
    is set; ``target_bucket`` keeps its meaning (defaults to 8 there,
    since adaptive depth is what makes growing bands affordable).
    When the solved band count hits ``bands_for_recall``'s max_bands
    cap the realized recall is LOWER than requested — the helper warns
    at solve time (ADVICE r12 #3), so a capped target is loud, not
    silent; pass a larger max ceiling through bands_for_recall directly
    if the priced signing cost is acceptable.

    MEASURED recall vs depth (r11; cos=0.85 seeded rotations, the
    registered ``embedding_lsh_recall_floor`` construction; prod =
    8 fixed bands, tuned = ``bands_for_recall(n, 0.95)``; candidates
    vs the linear bound L*n*target — SCALING.md regenerates this):

        tier    n        depth  prod    tuned(bands)  tuned cands/bound
        sf0.01  518      7      0.889   1.000 (11)    12.5k / 45.6k
        sf0.1   2,069    9      0.754   0.928 (16)    80.5k / 265k
        sf1     20,689   12     0.557   0.910 (30)    2.31M / 4.97M
        sf3     62,069   13     0.428   0.881 (36)    13.6M / 17.9M
        sf10    206,896  15     0.334   0.884 (54)    65.7M / 89.4M

    Recall/pruning at fixed depth (target_bucket=None) keep the
    original tuning: 8 rows x 8 bands -> per-pair candidate prob ~0.93
    at cos 0.9 — right for MODERATE corpora in the near-dup regime. At
    thresholds close to random (~0.45) sign-LSH cannot separate —
    recall is regime-limited regardless of depth; the registered
    queries seed exact dups so the checked signal is depth-invariant.
    Output (id_a, id_b).

    Cache contract (ADVICE r8): the band-key relation stays persisted
    in the returned plan (see ``jaccard_pairs``) — sweep with
    ``session.sweep_caches(spark)`` in long-lived sessions, always
    before re-running over a rewritten input table."""
    from github_etl_pipeline_spark.operators.similarity import (
        _hyperplanes,
        dot_expr,
        lsh_band_keys,
        norm_expr,
    )

    n_rows_hint: int | None = None
    if recall_target is not None:
        n_rows_hint = emb.count()
        kw = bands_for_recall(
            n_rows_hint,
            target_recall=recall_target,
            cos_threshold=recall_cos if recall_cos is not None else threshold,
            target_bucket=target_bucket if target_bucket is not None else 8,
        )
        bands, n_planes, target_bucket = kw["bands"], kw["n_planes"], kw["target_bucket"]
    rows = n_planes // bands
    planes = _hyperplanes(dim, n_planes)
    # persisted before the self-join: both sides re-project the band
    # keys under different aliases, so without the cache the 64-dot
    # hyperplane signing runs once PER SIDE. (band, bh, id) tuples only.
    from pyspark import StorageLevel

    keyed = lsh_band_keys(emb, vec_col, id_col, planes, bands, rows)
    if target_bucket is not None:
        # one bounded count job (column-pruned scan; reused from the
        # recall_target path when that already counted); the resulting
        # depth is a plan literal, identical to the oracle's scalar-
        # subquery B
        n_rows = n_rows_hint if n_rows_hint is not None else emb.count()
        depth = adaptive_lsh_depth(n_rows, target_bucket, rows)
        if depth < rows:
            keyed = keyed.select(
                F.col(id_col), "band", F.substring("bh", 1, depth).alias("bh")
            )
    keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    a = keyed.select("band", "bh", F.col(id_col).alias("id_a"))
    b = keyed.select("band", "bh", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # norms once per VECTOR (in the per-side projections), not per
    # candidate pair — bit-identical values, half the verify-stage work.
    # coalesce blocks the inferred isnotnull(norm) constraint from
    # pushing the whole norm aggregate into the scan stage (it folds to
    # TRUE instead): measured as the norm evaluating TWICE per row
    va = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.coalesce(norm_expr(F.col(vec_col)), F.lit(0.0)).alias("_na"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.coalesce(norm_expr(F.col(vec_col)), F.lit(0.0)).alias("_nb"),
    )
    # r14 finding (guide §4.2 caveat, REVERTED rewrite): a mapInArrow
    # batch verify of this cosine was tried and measured a 19x
    # REGRESSION at the 30x tier on embedding_lsh_recall_tuned
    # (9.7s -> 183s same-session A/B) while flat on
    # embedding_high_sim_pairs. Root cause: the recall gates apply a
    # seed predicate (id_a % k = 0) ON TOP of this miner, and with the
    # pure expression form Catalyst pushes that filter BELOW the whole
    # pair-mining pipeline (six Filter nodes in the before-plan — only
    # seed ids are mined). A MapInArrow node is an optimizer barrier:
    # the filter stays above it, every pair gets mined and verified,
    # and the gate pays the full corpus. The interpreted zip_with fold
    # costs less than what the barrier forfeits, so the expression form
    # stays (plans/r14/embedding_lsh_recall_tuned_*).
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(dot_expr(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")) >= threshold)
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) near-dup pairs — PassJoin-style segment banding
# ---------------------------------------------------------------------------
# 48 (not 24): segment selectivity is THE scale lever of PassJoin — the
# candidate count per (seg, value) bucket of multiplicity m is O(m^2),
# and on the low-prefix-entropy documents corpus 8-char segments left
# hot buckets of ~165 docs per 600k rows (sum m^2 grew 91x across a 10x
# SF step; SCALING.md caught alpha=1.5). 16-char segments cut the sf1
# candidate mass 31x while the true pair set is unchanged (28 of 29
# sf0.001 pairs; the one loss is a pair whose similarity ends at char
# 24 — a longer key is a stricter, more meaningful near-dup relation).
FUZZY_KEY_LEN = 48
FUZZY_MAX_ED = 2


def fuzzy_key(col: Column | str, key_len: int = FUZZY_KEY_LEN) -> Column:
    """Fixed-length comparison key: first ``key_len`` chars of the
    lowercased text, right-padded with a sentinel so every key is exactly
    ``key_len`` chars (identical rpad/substr semantics in DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.rpad(F.substring(F.lower(c), 1, key_len), key_len, "~")


def fuzzy_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_len: int = FUZZY_KEY_LEN,
    max_ed: int = FUZZY_MAX_ED,
) -> DataFrame:
    """All pairs whose fuzzy keys are within Levenshtein distance
    ``max_ed`` — WITHOUT the quadratic all-pairs comparison, via the
    PassJoin segment filter (Li, Deng, Feng: "PassJoin: A Partition-based
    Method for Similarity Joins", PVLDB 2011; public technique):

    .. note:: BEHAVIORAL CHANGE (round 4): the default ``key_len``
       widened 24 -> 48 after the sf1 probe showed 8-char segments
       leaving quadratic hot buckets on low-prefix-entropy corpora. A
       longer key is a STRICTER pair relation — pairs whose keys
       diverge only after char 24 are no longer reported (28 of 29
       sf0.001 pairs survive). Callers depending on the old relation
       should pass ``key_len=24`` explicitly.

    partition each key into ``max_ed + 1`` contiguous segments. Any
    alignment path of <= max_ed edits leaves at least one segment of key A
    UNTOUCHED (pigeonhole), and the untouched segment appears in key B as
    the same-length substring at the same start shifted by at most
    ``max_ed`` (the net indel drift before it). So: equi-join A's
    segments against B's (segment, shifted-substring) probes — the
    shuffle carries O(n x segments) short rows, never O(n^2) — then
    verify candidates with one exact ``levenshtein`` call per pair.

    Spark-first shape: two narrow projections + one hash equi-join +
    distinct + JVM levenshtein verify; no UDF, no nested-loop join
    (enforced repo-wide by tests/test_plan_hygiene.py). At 100 TB the
    candidate count is data-dependent (shared 8-grams), but each bucket
    is a hash-join partition — skew shows up as a hot (seg, value) bucket
    and takes the same AQE/salting levers as any hash join.

    Output: (id_a, id_b, edit_distance), id_a < id_b, each pair once.
    """
    n_seg = max_ed + 1
    seg_len = key_len // n_seg
    if key_len % n_seg:
        raise ValueError(
            f"fuzzy_pairs: key_len {key_len} must divide into {n_seg} equal segments"
        )
    keys = df.select(F.col(id_col).alias("_id"), fuzzy_key(text_col, key_len).alias("_key"))

    index_rows = keys.select(
        "_id",
        "_key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg"),
                        F.substring("_key", 1 + i * seg_len, seg_len).alias("val"),
                    )
                    for i in range(n_seg)
                ]
            )
        ).alias("_s"),
    ).select("_id", "_key", "_s.seg", "_s.val")

    probe_specs = [
        (i, shift)
        for i in range(n_seg)
        for shift in range(-max_ed, max_ed + 1)
        if 1 <= 1 + i * seg_len + shift <= key_len - seg_len + 1
    ]
    probe_rows = keys.select(
        "_id",
        "_key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg"),
                        F.substring("_key", 1 + i * seg_len + shift, seg_len).alias("val"),
                    )
                    for i, shift in probe_specs
                ]
            )
        ).alias("_p"),
    ).select(
        F.col("_id").alias("_idb"), F.col("_key").alias("_keyb"), "_p.seg", "_p.val"
    )

    cand = (
        index_rows.join(probe_rows, ["seg", "val"])
        .where(F.col("_id") != F.col("_idb"))
        .select(
            F.least("_id", "_idb").alias("id_a"),
            F.greatest("_id", "_idb").alias("id_b"),
            F.when(F.col("_id") < F.col("_idb"), F.col("_key")).otherwise(F.col("_keyb")).alias("ka"),
            F.when(F.col("_id") < F.col("_idb"), F.col("_keyb")).otherwise(F.col("_key")).alias("kb"),
        )
        # dedup BEFORE the levenshtein verify — the opposite order from
        # the banded Hamming miners, deliberately: bit_count is ~1 op so
        # filtering pre-dedup is free there, but levenshtein is
        # O(key_len^2) per ROW and segment-collision multiplicity is
        # high (each true pair collides on several segments), so running
        # it pre-dedup re-verifies every collision (measured 3.6x slower
        # at sf3 when tried in r8)
        .dropDuplicates(["id_a", "id_b"])
    )
    ed = F.levenshtein("ka", "kb")
    return cand.where(ed <= max_ed).select(
        "id_a", "id_b", ed.cast("long").alias("edit_distance")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    threshold: float = 0.9,
    bands: int = 4,
    num_hashes: int = NUM_MINHASHES,
    capped: bool = False,
) -> DataFrame:
    """(id_a, id_b, containment) — ASYMMETRIC near-dup pairs: max
    containment C = |A ∩ B| / min(|A|, |B|) >= threshold over the
    banded candidate set. Catches SUBSET duplication — a document
    wrapped in boilerplate, a quote embedded in a longer post — where
    symmetric Jaccard reads low (|A|/|B| for a verbatim subset) and
    ``minhash_dedup_pairs`` never flags. The whole-document scored
    sibling of ``decontaminate``'s k-gram overlap test.

    Candidate generation is the SAME MinHash banding (pass
    ``**minhash_bands_for_recall(j_floor, target)`` for the tuned
    config): banding recalls pairs by their JACCARD, so containment-
    high pairs are only reachable down to the banding's S-curve region
    — J = |A|/|B| >= ~0.2 with the tuned 114x57 config (a tiny doc
    inside a huge one sits below any Jaccard banding; that regime
    belongs to the gram-index path — ``curation.
    containment_gram_pairs``, registered as
    ``containment_gram_documents``, whose candidates form on shared
    rare grams and are size-skew-blind). The verify carries both shingle arrays
    through one hash join each and has NO size-ratio prefilter — the
    size-skewed pairs a Jaccard verify prunes are exactly the ones
    containment is after.

    Same cache contract as ``minhash_dedup_pairs`` (persisted shingle
    base; sweep with ``session.sweep_caches`` in long-lived sessions)."""
    _validate_banding(num_hashes, bands)  # before the persist (no leak on raise)
    pre_hashed = isinstance(text_col, str) and dict(df.dtypes).get(text_col) == "array<bigint>"
    if not pre_hashed:
        from pyspark import StorageLevel

        df = df.select(
            F.col(id_col),
            shingle_hashes(text_col, k).alias("_hs", metadata={"shingle_k": k}),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        text_col = "_hs"
    sig = minhash_signature(df, text_col, id_col, k, num_hashes=num_hashes)
    cand = lsh_candidate_pairs(sig, id_col, bands)
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("sh_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("sh_b"))
    joined = cand.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    denom = F.least(F.size("sh_a"), F.size("sh_b"))
    cont = F.when(denom > 0, inter.cast("double") / denom).otherwise(F.lit(0.0))
    return (
        joined.where(cont >= threshold)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )

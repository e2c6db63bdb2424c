"""Bounded-size sketch operators: count-min (frequency) and HyperLogLog
(cardinality) — the summaries a 100-TB engine ships to a driver or a
downstream store instead of exact per-key state.

Scale shape: both sketches are ONE map-side-combined aggregate whose
result size is a constant (depth x width counters / ``buckets``
registers) regardless of input rows, so the shuffle carries at most
one partial sketch per task — never keys. Merging partial sketches is
the same SUM/MAX aggregate, which is exactly what Spark's partial+final
hash aggregation already does.

Determinism: hashes are md5-derived (functions/hashing.py) and every
output is an INTEGER (counters, bucket ids, registers), so the DuckDB
oracles reproduce results bit-for-bit — unlike engine-native
approx_count_distinct / stat.countMinSketch whose internals differ per
engine. The float-valued HLL *estimate* is left to the consumer of the
64-register table, keeping the registered query outputs exact integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.hashing import (
    portable_hash32,
    portable_hash52,
)

CMS_DEPTH = 4
CMS_WIDTH = 256
HLL_BUCKETS = 64
KMV_K = 64


def _key(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string")


def _cms_bucket(key: Column, i: int, width: int, hash_fn: str) -> Column:
    """Row-``i`` bucket for one key. ``md5`` is the portable default
    (bit-reproducible in DuckDB — REQUIRED wherever an oracle mirrors
    the sketch estimate: cms_user_purchase_counts, join_size_estimate).
    ``xxhash64`` is the codegen-native fast path for consumers whose
    OUTPUT is sketch-independent (the CMS-prune + exact-verify pattern:
    any never-underestimating sketch yields the identical final answer,
    so the hash only moves the candidate volume, never the result)."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(i), key), F.lit(width))
    return portable_hash32(F.concat(F.lit(f"cms{i}:"), key)) % width


def _cms_keys_expr(
    key: Column, depth: int, width: int, hash_fn: str = "md5"
) -> Column:
    """array<struct<row,bucket>>: the ``depth`` (row, bucket) pairs for
    one key — per-row seeds make the rows independent hashes."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _cms_bucket(key, i, width, hash_fn).alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def cms_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight_col: str | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Count-min sketch of the key column: (row, bucket, cnt) with at most
    ``depth * width`` rows, built by one exploded groupBy — the partial
    aggregation collapses each task's contribution to sketch size before
    the shuffle.

    ``weight_col`` switches counts to weighted sums (each occurrence
    contributes its NON-NEGATIVE integer weight — negative weights would
    break CMS's never-underestimates guarantee, integer weights keep the
    counters exact): the classic generalization that turns frequency
    sketching into e.g. per-key revenue/token-mass sketching."""
    w = F.lit(1) if weight_col is None else F.col(weight_col)
    if weight_col is not None:
        # a negative weight would silently break the never-underestimates
        # guarantee (and with it heavy-hitter completeness) — fail the job
        # loudly instead (codegen branch, no extra pass)
        w = F.when(w >= 0, w).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"cms_sketch: negative weight in {weight_col}: "),
                    w.cast("string"),
                )
            )
        )
    e = df.select(
        F.explode(_cms_keys_expr(_key(key_col), depth, width, hash_fn)).alias("rb"),
        w.cast("long").alias("_w"),
    )
    return (
        e.select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"), "_w")
        .groupBy("row", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch for each key: est = min over the ``depth``
    rows of the key's bucket counter (the classic CMS upper bound —
    never under the true count). The sketch is at most depth*width rows,
    so it joins BROADCAST against any number of query keys."""
    kh = keys.select(
        _key(key_col).alias("user_key"),
        F.explode(_cms_keys_expr(_key(key_col), depth, width)).alias("rb"),
    ).select("user_key", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        kh.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("user_key")
        .agg(F.min("cnt").alias("est_count"))
    )


def hll_registers(
    df: DataFrame, key_col: str, buckets: int = HLL_BUCKETS
) -> DataFrame:
    """HyperLogLog register table: (bucket, register) with exactly
    ``buckets`` rows — bucket = low bits of the 32-bit md5 hash,
    register = 1-based position of the highest set bit in the remaining
    field (field width + 1 when the field is zero). MAX-aggregated, so
    duplicate keys cannot move any register: the sketch depends only on
    the distinct key set."""
    if buckets & (buckets - 1):
        raise ValueError(f"buckets must be a power of two (got {buckets})")
    bits = buckets.bit_length() - 1
    field = 32 - bits
    h = portable_hash32(_key(key_col))
    rest = F.shiftright(h, bits)
    register = (
        F.when(rest == 0, F.lit(field + 1))
        .otherwise(F.lit(field + 1) - F.length(F.bin(rest)))
        .cast("long")
    )
    return (
        df.select((h % buckets).alias("bucket"), register.alias("_r"))
        .groupBy("bucket")
        .agg(F.max("_r").alias("register"))
    )


def kmv_sketch(
    df: DataFrame, key_col: str, group_col: str, k: int = KMV_K
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group: keep the
    ``k`` smallest 52-bit md5 hash values of the DISTINCT keys; with
    fewer than ``k`` distinct keys the count is exact, otherwise
    est = (k-1) * 2^52 / kth_smallest_hash (Bar-Yossef et al. 2002).

    Scale shape: one distinct-projection shuffle of skinny (group,
    hash) rows, then a per-group partial top-k (WindowGroupLimit: each
    task keeps at most ``k`` rows per group before the exchange — the
    sketch is mergeable, and merging IS taking the k smallest of a
    union, which is exactly what partial top-k + final top-k computes).
    Nothing grows with the corpus: output is one row per group.

    Cross-engine exactness: 52-bit hashes are exact doubles, and the
    estimate divides two exactly-representable doubles, so the DuckDB
    oracle reproduces the float bit-for-bit (no rounding needed).

    Output: (<group_col>, n_in_sketch, kth_hash, est_distinct).
    """
    h = portable_hash52(_key(key_col))
    sg = (
        df.select(F.col(group_col), h.alias("_h"))
        .dropDuplicates([group_col, "_h"])
    )
    w = Window.partitionBy(group_col).orderBy(F.col("_h").asc())
    topk = sg.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    agg = topk.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_in_sketch"),
        F.max("_h").alias("kth_hash"),
    )
    est = (
        F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double"))
        .otherwise(
            F.lit(k - 1).cast("double") * F.lit(float(2**52)) / F.col("kth_hash")
        )
    )
    return agg.select(
        group_col, "n_in_sketch", "kth_hash", est.alias("est_distinct")
    )


def kmv_sketch_oracle_sql(
    key_expr: str,
    group_expr: str,
    group_alias: str,
    table: str,
    k: int = KMV_K,
    where: str = "TRUE",
) -> str:
    """DuckDB mirror of ``kmv_sketch`` (same md5-52 hashes, same
    row_number top-k, same exact-double estimate)."""
    return f"""
WITH d AS (
  SELECT DISTINCT {group_expr} AS grp,
         CAST(('0x' || substr(md5({key_expr}), 1, 13)) AS BIGINT) AS h
  FROM {table} WHERE {where}
),
r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM d),
s AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_in_sketch, MAX(h) AS kth_hash
  FROM r WHERE rn <= {k} GROUP BY grp
)
SELECT grp AS {group_alias}, n_in_sketch, kth_hash,
       CASE WHEN n_in_sketch < {k} THEN CAST(n_in_sketch AS DOUBLE)
            ELSE CAST({k - 1} AS DOUBLE) * {float(2**52):.1f} / kth_hash END
         AS est_distinct
FROM s
"""


# ---------------------------------------------------------------------------
# Mergeable quantile sketch: decimal-digit log histogram
# ---------------------------------------------------------------------------
def digit_bucket_lo(col: Column | str) -> Column:
    """Lower bound of the value's decimal-digit log bucket: value v maps
    to [g * 10^(d-1), (g+1) * 10^(d-1)) where d = digit count and g =
    leading digit of floor(v). Built ONLY from floor + string ops
    (substring/length/repeat/concat) so both engines bucket
    bit-identically — no log()/power() transcendental whose last-ulp
    could flip a boundary. ~9 buckets per decade => a bucket-lower-bound
    quantile estimate has one-bucket-width worst-case error (100% of the
    value at g=1, ~11% at g=9). Requires v >= 0 (filter first)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.floor(c).cast("long").cast("string")
    return F.concat(
        F.substring(s, 1, 1), F.repeat(F.lit("0"), F.length(s) - F.lit(1))
    ).cast("long")


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    quantiles_pct: tuple[int, ...] = (25, 50, 75, 95),
) -> DataFrame:
    """Approximate quantiles from the digit-bucket histogram: the sketch
    is one COUNT-per-bucket aggregate (map-side combined, ~9 buckets per
    decade regardless of rows — mergeable like CMS/HLL: merging partials
    is the same SUM), the estimate for quantile q is the lower bound of
    the first bucket whose cumulative count reaches ceil(q * n).

    All-integer math end-to-end: the threshold test is cum * 100 >= q * n
    (no fractions, no ceil), so the DuckDB oracle reproduces estimates
    bit-for-bit. Per-q minimums are conditional aggregates over the tiny
    bucket table — no join, no nested loop.

    Output: (q, est_lo) — one row per requested percentile.
    """
    b = (
        df.where(F.col(value_col) >= 0)
        .select(digit_bucket_lo(value_col).alias("lo"))
        .groupBy("lo")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = Window.orderBy("lo").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "lo",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    est_cols = [
        F.min(F.when(F.col("cum") * 100 >= F.lit(q) * F.col("n"), F.col("lo"))).alias(
            f"est_{q}"
        )
        for q in quantiles_pct
    ]
    wide = cum.agg(*est_cols)
    return wide.unpivot(
        ids=[], values=[f"est_{q}" for q in quantiles_pct],
        variableColumnName="q_label", valueColumnName="est_lo",
    ).select(
        F.regexp_replace("q_label", "est_", "").cast("long").alias("q"), "est_lo"
    )


# ---------------------------------------------------------------------------
# Bloom-filter digest dedup (r12): exact-dedup a NEW batch against a
# historical corpus WITHOUT joining the corpus — the 100-TB ingest
# pattern where the history is represented by a constant-per-key digest
# (~2 bytes/key at the default sizing) instead of 100 TB of content
# hashes.
# ---------------------------------------------------------------------------
BLOOM_HASHES = 4  # bit positions per key: the 4 disjoint 8-hex md5 windows


def bloom_words_for_corpus(n_keys: int, floor_words: int = 2_048) -> int:
    """32-bit words for the digest: ``max(floor, ceil(n/2))`` = 16 bits
    (2 bytes) per historical key, giving k*n/m = 1/4 load and a false-
    positive rate of (1 - e^-0.25)^4 ~= 0.24% at ANY corpus size — the
    `cells_for_corpus` device applied to the bloom budget (a FIXED-size
    digest saturates: at 100x the driver tier, k*n/m = 12.5 flags
    everything). Integer ceil-div, mirrored by the oracle's
    GREATEST(2048, CEIL(COUNT(*)/2.0)) scalar subquery."""
    return max(floor_words, -(-n_keys // 2))


def _bloom_positions(key: Column, n_bits: int) -> Column:
    """Array of BLOOM_HASHES bit positions for an arbitrary string key:
    md5 the key, then reduce the 4 disjoint 8-hex windows mod n_bits
    (identical integer arithmetic in DuckDB:
    ('0x' || substr(md5(k), 1+8*i, 8))::BIGINT % n). Hashing INSIDE the
    operator means any string keys work — callers never pre-hash."""
    h = F.md5(key)
    return F.array(
        *[
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % n_bits
            for i in range(BLOOM_HASHES)
        ]
    )


def _word_expr() -> Column:
    # integer DIV (the oracle's p // 32), not float division
    return F.expr("p DIV 32").alias("word")


def _mask_expr() -> Column:
    # python-API shiftleft takes only literal shift counts — SQL form
    # accepts a column; masks use 32-bit words so every mask is a
    # POSITIVE bigint (no sign-overflow divergence between engines)
    return F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("m")


def bloom_digest(
    df: DataFrame,
    key_col: Column | str,
    n_words: int,
) -> DataFrame:
    """(word, bits) — Bloom digest of the key column: each key sets
    ``BLOOM_HASHES`` md5-derived bit positions; bits pack into 32-bit
    words (masks stay positive in a BIGINT, so Spark and DuckDB bit_or
    agree with no sign-overflow edge) and OR-fold in ONE map-side-
    combined aggregate. Output is <= ``n_words`` rows whatever the
    input size — the shuffle carries partial digests, never keys.
    Merging two digests is the same bit_or groupBy (union semantics),
    so incremental history maintenance is append + re-aggregate."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    pos = df.select(F.explode(_bloom_positions(c, n_words * 32)).alias("p"))
    return (
        pos.select(_word_expr(), _mask_expr())
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )


# broadcast the digest only while it plausibly fits executor/driver
# memory: each set word is one (long word, long bits) row, ~16 bytes of
# payload before row overhead; 256 MiB of WORDS (n_words * 8) keeps the
# broadcast comfortably under Spark's defaults with headroom for
# overhead. Above it — the operator's own 100-TB design point, where
# >= 1e10 historical keys at 2 bytes/key make the digest >= 20 GB — the
# probe plans as a shuffled hash join on `word` instead (VERDICT r12 #2).
BLOOM_BROADCAST_MAX_WORD_BYTES = 256 * 1024 * 1024


def bloom_probe(
    df: DataFrame,
    digest: DataFrame,
    key_col: Column | str,
    n_words: int,
    id_col: str = "doc_id",
    broadcast_max_word_bytes: int = BLOOM_BROADCAST_MAX_WORD_BYTES,
) -> DataFrame:
    """(id, maybe_dup) — probe each row's key against a Bloom digest:
    maybe_dup = 1 iff ALL of the key's bit positions are set. NO false
    negatives by construction (a key whose history twin was digested
    always probes positive — the property test pins it); false
    positives are md5-deterministic at the documented rate. The probe
    joins the <= n_words-row digest — NEVER the historical corpus
    itself — then one groupBy(id) min-fold over the BLOOM_HASHES
    position rows.

    Join strategy is a SIZE POLICY (VERDICT r12 #2): while
    ``n_words * 8 <= broadcast_max_word_bytes`` (default 256 MiB of
    packed words) the digest broadcasts and the probe side never
    shuffles; above it the hint is omitted and the join plans as a
    shuffled hash join on ``word`` — the probe side carries exactly
    BLOOM_HASHES skinny (id, word, mask) rows per key through the
    exchange, and the digest side <= n_words rows, so the 10^10-key
    regime (a ~20 GB digest at 2 bytes/key) costs one bounded shuffle
    instead of an impossible broadcast. Probe results are identical in
    both modes (pinned by tests/test_sketches.py).

    ``n_words`` is REQUIRED and must be the BUILD-time word count: a
    digest at low load has fewer rows than n_words (unset words are
    absent), so inferring the modulus from digest.count() would compute
    wrong positions and silently break the no-false-negative guarantee."""
    if not isinstance(n_words, int) or n_words <= 0:
        raise ValueError(
            "bloom_probe needs the build-time n_words (bloom_words_for_corpus"
            " output) — it cannot be inferred from the digest, whose row"
            " count is only the number of SET words"
        )
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    pos = df.select(
        F.col(id_col), F.explode(_bloom_positions(c, n_words * 32)).alias("p")
    ).select(id_col, _word_expr(), _mask_expr())
    build = (
        F.broadcast(digest)
        if n_words * 8 <= broadcast_max_word_bytes
        else digest
    )
    hit = pos.join(build, "word", "left").select(
        id_col,
        F.when(F.col("bits").bitwiseAND(F.col("m")) != 0, 1).otherwise(0).alias("_h"),
    )
    return hit.groupBy(id_col).agg(F.min("_h").cast("long").alias("maybe_dup"))


# ---------------------------------------------------------------------------
# KMV set operations: union / intersection / Jaccard across groups from
# the mergeable k-minimum-values sketches (Beyer et al., SIGMOD'07)
# ---------------------------------------------------------------------------
KMV_PAIR_K = 256


def kmv_pair_overlap(
    df: DataFrame, key_col: str, group_col: str, k: int = KMV_PAIR_K
) -> DataFrame:
    """Distinct-set overlap between every pair of groups, estimated from
    constant-size KMV sketches: for groups A, B the k smallest hashes of
    A ∪ B are exactly the k smallest of (k-min(A) ∪ k-min(B)) — the
    mergeability that makes this a sketch, not a join of corpora — so

      union_est    = (k-1) * 2^52 / kth_smallest(merged)   [exact if < k]
      jaccard_est  = |merged_k ∩ A ∩ B| / |merged_k|       (rho)
      inter_est    = jaccard_est * union_est

    Scale shape: the ONLY corpus-scale work is kmv_sketch's distinct-
    projection shuffle + per-group partial top-k (WindowGroupLimit keeps
    <= k rows per group per task BEFORE the exchange). Everything after
    operates on #groups rows carrying k-element arrays (k*8 bytes each):
    the pair stage is a #groups x #groups broadcast join on grp_a <
    grp_b over group-count-sized relations — corpus-INDEPENDENT, the
    declared-tiny nested loop (plan-hygiene allow-listed), with all
    per-pair set math as JVM array expressions (array_union /
    array_intersect / slice), no explode, no further shuffle.

    Cross-engine exactness: 52-bit hashes are exact doubles; every
    division has exactly-representable integer operands, so the DuckDB
    oracle (kmv_pair_overlap_oracle_sql) reproduces the floats
    bit-for-bit.

    Output (one row per unordered group pair): grp_a, grp_b, n_a, n_b
    (sketch sizes), k_eff, matched, union_est, jaccard_est, inter_est.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k})")
    h = portable_hash52(_key(key_col))
    sg = (
        df.select(F.col(group_col).alias("grp"), h.alias("_h"))
        .dropDuplicates(["grp", "_h"])
    )
    w = Window.partitionBy("grp").orderBy(F.col("_h").asc())
    topk = sg.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    garr = topk.groupBy("grp").agg(
        F.sort_array(F.collect_list("_h")).alias("hs"),
        F.count(F.lit(1)).alias("n_in_sketch"),
    )
    a = garr.select(
        F.col("grp").alias("grp_a"),
        F.col("hs").alias("_hsa"),
        F.col("n_in_sketch").alias("n_a"),
    )
    b = garr.select(
        F.col("grp").alias("grp_b"),
        F.col("hs").alias("_hsb"),
        F.col("n_in_sketch").alias("n_b"),
    )
    merged = F.slice(F.array_sort(F.array_union("_hsa", "_hsb")), 1, k)
    pairs = (
        a.join(b, F.col("grp_a") < F.col("grp_b"))
        .withColumn("_m", merged)
        .withColumn("k_eff", F.size("_m").cast("long"))
        .withColumn(
            "matched",
            F.size(
                F.array_intersect("_m", F.array_intersect("_hsa", "_hsb"))
            ).cast("long"),
        )
    )
    union_est = F.when(
        F.col("k_eff") < k, F.col("k_eff").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(2**52)) / F.array_max("_m").cast("double")
    )
    jaccard_est = F.col("matched").cast("double") / F.col("k_eff").cast("double")
    return pairs.select(
        "grp_a",
        "grp_b",
        "n_a",
        "n_b",
        "k_eff",
        "matched",
        union_est.alias("union_est"),
        jaccard_est.alias("jaccard_est"),
        (jaccard_est * union_est).alias("inter_est"),
    )


def kmv_pair_overlap_oracle_sql(
    key_expr: str,
    group_expr: str,
    table: str,
    k: int = KMV_PAIR_K,
    a_alias: str = "grp_a",
    b_alias: str = "grp_b",
    where: str = "TRUE",
) -> str:
    """DuckDB mirror of ``kmv_pair_overlap`` (same md5-52 hashes, same
    merged top-k, same exact-double estimate arithmetic; the array
    expressions become an unnest + window re-rank)."""
    return f"""
WITH d AS (
  SELECT DISTINCT {group_expr} AS grp,
         CAST(('0x' || substr(md5({key_expr}), 1, 13)) AS BIGINT) AS h
  FROM {table} WHERE {where}
),
r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM d),
s AS (SELECT grp, h FROM r WHERE rn <= {k}),
n AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY grp),
g AS (SELECT DISTINCT grp FROM s),
p AS (SELECT a.grp AS g1, b.grp AS g2 FROM g a JOIN g b ON a.grp < b.grp),
u AS (
  SELECT p.g1, p.g2, s.h,
         MAX(CASE WHEN s.grp = p.g1 THEN 1 ELSE 0 END) AS ina,
         MAX(CASE WHEN s.grp = p.g2 THEN 1 ELSE 0 END) AS inb
  FROM p JOIN s ON s.grp = p.g1 OR s.grp = p.g2
  GROUP BY p.g1, p.g2, s.h
),
m AS (
  SELECT g1, g2, h, ina, inb,
         ROW_NUMBER() OVER (PARTITION BY g1, g2 ORDER BY h) AS rn
  FROM u
),
t AS (
  SELECT g1, g2, CAST(COUNT(*) AS BIGINT) AS k_eff, MAX(h) AS kth,
         CAST(SUM(ina * inb) AS BIGINT) AS matched
  FROM m WHERE rn <= {k} GROUP BY g1, g2
),
e AS (
  SELECT g1, g2, k_eff, matched,
         CASE WHEN k_eff < {k} THEN CAST(k_eff AS DOUBLE)
              ELSE CAST({k - 1} AS DOUBLE) * {float(2**52):.1f} / CAST(kth AS DOUBLE)
         END AS union_est,
         CAST(matched AS DOUBLE) / CAST(k_eff AS DOUBLE) AS jaccard_est
  FROM t
)
SELECT e.g1 AS {a_alias}, e.g2 AS {b_alias}, n1.n AS n_a, n2.n AS n_b,
       e.k_eff, e.matched, e.union_est, e.jaccard_est,
       e.jaccard_est * e.union_est AS inter_est
FROM e JOIN n n1 ON n1.grp = e.g1 JOIN n n2 ON n2.grp = e.g2
"""


# ---------------------------------------------------------------------------
# Exact phi-heavy-hitters: CMS candidate prune + exact verify (the
# two-pass pattern that finds frequent items over key spaces too large
# to shuffle — Cormode & Muthukrishnan's sketch as a FILTER, with the
# final answer exact)
# ---------------------------------------------------------------------------
def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    phi: float,
    depth: int = CMS_DEPTH,
    width: int | None = None,
    max_width: int = 1 << 20,
    weight_col: str | None = None,
) -> DataFrame:
    """All keys occurring in more than ``phi`` of the rows, with EXACT
    counts — output (key, cnt) where cnt >= tau = ceil(phi * N).

    ``weight_col`` switches occurrences to NON-NEGATIVE integer weights
    throughout (sketch, N, and the exact verify all sum the weight):
    phi then bounds each key's share of total MASS — revenue
    concentration, per-key token mass — instead of row count. The
    no-underestimate argument is unchanged because weighted CMS
    counters only ever add non-negative mass.

    Why not just groupBy(key).count(): for huge key spaces (positional
    k-grams at 100 TB: ~N distinct keys) that shuffles the ENTIRE
    occurrence stream. Here pass 1 builds a count-min sketch (one
    exploded groupBy collapsing to depth*width partial rows per task —
    constant-size, collected to the driver like the IVF centroids), and
    pass 2 re-scans filtering on the sketch estimate AS AN EXPRESSION
    (broadcast literal counter arrays, no join, no shuffle) so only
    candidate occurrences reach the exact groupBy. CMS never
    underestimates, so the candidate set is a SUPERSET of the true
    heavy hitters and the exact verify makes the output EXACT — the
    approximation affects cost, never the answer.

    Sizing: with width >= 4/phi the per-counter noise floor (~N/width)
    sits below tau/4, so non-heavy keys rarely pass and the candidate
    shuffle stays O(phi^-1) distinct keys. The default derives width
    from phi (next power of two, clamped to ``max_width`` = 8 MiB of
    longs per row); a clamped width degrades pruning only, never
    correctness. Scans ``df`` twice — persist the (usually derived)
    key relation when its compute is heavy.

    phi-HH is replication-invariant: duplicating the corpus c times
    scales every count AND tau by c, so the answer set is stable across
    scale tiers.
    """
    if not 0 < phi < 1:
        raise ValueError(f"phi must be in (0, 1) (got {phi})")
    if width is None:
        width = 256
        while width < 4 / phi and width < max_width:
            width *= 2
    import math

    # r14 (guide §1.2 per-task work): both CMS passes hash with
    # codegen-native xxhash64 instead of the md5-hex-conv chain. The
    # output is EXACT regardless of the sketch hash (never-underestimate
    # + exact verify — the function's own correctness argument), so the
    # portable-md5 requirement that pins the MIRRORED sketches
    # (cms_user_purchase_counts, join_size_estimate) does not apply
    # here; the old form paid 2*depth md5 string evaluations per
    # OCCURRENCE (8/gram for heavy_grams — the dominant per-row term at
    # scale; measured gram multiplicity is only ~1.13x, so a weighted
    # (gram, cnt) pre-aggregate would add a full-cardinality shuffle to
    # save 13% of the hashing and was rejected).
    counters = [[0] * width for _ in range(depth)]
    for r in cms_sketch(
        df, key_col, depth, width, weight_col=weight_col, hash_fn="xxhash64"
    ).collect():
        counters[r["row"]][r["bucket"]] = r["cnt"]
    n_total = sum(counters[0])
    tau = max(1, math.ceil(phi * n_total))
    key = _key(key_col)
    # one SQL-parsed array literal per sketch row: F.lit(list) would
    # round-trip EVERY element through Py4J (width=8192 took ~40 s of
    # driver time building 32k Column objects; one parse is ~0.1 s)
    lit_rows = [
        F.expr(
            f"cast(array({','.join(map(str, counters[i]))}) as array<bigint>)"
        )
        for i in range(depth)
    ]
    est = F.least(
        *[
            F.element_at(
                lit_rows[i],
                _cms_bucket(key, i, width, "xxhash64").cast("int") + 1,
            )
            for i in range(depth)
        ]
    )
    w = F.lit(1) if weight_col is None else F.col(weight_col)
    return (
        df.select(key.alias("key"), w.cast("long").alias("_w"))
        .where(est >= tau)
        .groupBy("key")
        .agg(F.sum("_w").alias("cnt"))
        .where(F.col("cnt") >= tau)
    )

"""Semantic tests for the sketch operators (operators/sketches.py):
CMS never under-counts, is exact when width >> distinct keys, and the
HLL estimate lands within the expected error band; cross-engine value
equality is covered by test_oracle_contract.py."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.sketches import (
    cms_estimate,
    cms_sketch,
    hll_registers,
)


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k string")


def test_cms_never_undercounts_and_exact_when_sparse(spark):
    ks = ["a"] * 7 + ["b"] * 3 + ["c"] * 1
    df = _keys(spark, ks)
    sketch = cms_sketch(df, "k")
    est = {
        r.user_key: r.est_count
        for r in cms_estimate(sketch, df.distinct(), "k").collect()
    }
    exact = {"a": 7, "b": 3, "c": 1}
    for k, n in exact.items():
        assert est[k] >= n  # CMS upper bound
    # 3 keys into 4x256 counters: no collisions, estimates are exact
    assert est == exact


def test_cms_sketch_is_constant_size(spark):
    df = _keys(spark, [str(i % 50) for i in range(5000)])
    assert cms_sketch(df, "k", depth=4, width=16).count() <= 4 * 16


def test_hll_registers_dedup_invariant(spark):
    once = _keys(spark, [str(i) for i in range(200)])
    thrice = _keys(spark, [str(i) for i in range(200)] * 3)
    r1 = {r.bucket: r.register for r in hll_registers(once, "k").collect()}
    r3 = {r.bucket: r.register for r in hll_registers(thrice, "k").collect()}
    assert r1 == r3  # registers depend only on the distinct key set


def _hll_estimate(registers: dict[int, int], m: int = 64) -> float:
    """Bias-corrected harmonic-mean HLL estimate with the small-range
    linear-counting correction (missing buckets count as register 0)."""
    regs = [registers.get(b, 0) for b in range(m)]
    raw = 0.709 * m * m / sum(2.0**-r for r in regs)  # alpha_64 = 0.709
    zeros = regs.count(0)
    if raw <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return raw


def test_hll_estimate_within_error_band(spark):
    n = 1000
    df = _keys(spark, [f"user-{i}" for i in range(n)])
    regs = {r.bucket: r.register for r in hll_registers(df, "k").collect()}
    est = _hll_estimate(regs)
    # m=64 -> relative error ~1.04/sqrt(64) = 13%; allow 3 sigma
    assert abs(est - n) / n < 0.40


def _grouped(spark, rows):
    return spark.createDataFrame(rows, "grp string, k string")


def test_kmv_exact_below_k_and_estimate_above(spark):
    from github_etl_pipeline_spark.operators.sketches import KMV_K, kmv_sketch

    rows = [("small", f"u{i}") for i in range(10)] * 3  # duplicates collapse
    rows += [("big", f"v{i}") for i in range(2000)]
    out = {r.grp: r for r in kmv_sketch(_grouped(spark, rows), "k", "grp").collect()}
    # below k: exact distinct count, no estimation error
    assert out["small"].n_in_sketch == 10
    assert out["small"].est_distinct == 10.0
    # above k: sketch holds exactly k rows; estimate within the KMV
    # error band ~1/sqrt(k-1) = 12.6%; allow 3 sigma
    assert out["big"].n_in_sketch == KMV_K
    assert abs(out["big"].est_distinct - 2000) / 2000 < 0.38


def test_kmv_depends_only_on_distinct_keys(spark):
    from github_etl_pipeline_spark.operators.sketches import kmv_sketch

    once = _grouped(spark, [("g", f"u{i}") for i in range(300)])
    thrice = _grouped(spark, [("g", f"u{i}") for i in range(300)] * 3)
    a = kmv_sketch(once, "k", "grp").collect()[0]
    b = kmv_sketch(thrice, "k", "grp").collect()[0]
    assert (a.n_in_sketch, a.kth_hash, a.est_distinct) == (
        b.n_in_sketch, b.kth_hash, b.est_distinct
    )


def test_kmv_merge_is_topk_of_union(spark):
    """Mergeability: the sketch of A ∪ B equals taking the k smallest of
    the two sketches' hash sets — the property that makes partial top-k
    aggregation correct at any partitioning."""
    from github_etl_pipeline_spark.operators.sketches import KMV_K, kmv_sketch

    A = [("g", f"a{i}") for i in range(150)]
    B = [("g", f"b{i}") for i in range(150)]

    def hashes(rows):
        from github_etl_pipeline_spark.functions.hashing import portable_hash52

        df = _grouped(spark, rows).select(portable_hash52(F.col("k")).alias("h"))
        return sorted({r.h for r in df.collect()})

    merged_kth = sorted(set(hashes(A)) | set(hashes(B)))[KMV_K - 1]
    union_sketch = kmv_sketch(_grouped(spark, A + B), "k", "grp").collect()[0]
    assert union_sketch.kth_hash == merged_kth


def test_kmv_plan_uses_window_group_limit(spark):
    from github_etl_pipeline_spark.operators.sketches import kmv_sketch

    df = _grouped(spark, [("g", f"u{i}") for i in range(100)])
    plan = (
        kmv_sketch(df, "k", "grp")._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan


# ---------------------------------------------------------------------------
# Bloom-digest dedup (r12)
# ---------------------------------------------------------------------------
def _bloom_mod():
    from github_etl_pipeline_spark.operators.sketches import (
        bloom_digest,
        bloom_probe,
        bloom_words_for_corpus,
    )

    return bloom_digest, bloom_probe, bloom_words_for_corpus


def test_bloom_no_false_negatives(spark):
    """Every probed key that WAS digested must flag maybe_dup=1 — the
    Bloom guarantee (false positives allowed, false negatives never)."""
    bloom_digest, bloom_probe, bloom_words_for_corpus = _bloom_mod()
    hist = spark.createDataFrame([(f"key-{i}",) for i in range(300)], "k string")
    nw = bloom_words_for_corpus(300)
    digest = bloom_digest(hist, "k", nw)
    probe = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(300)], "doc_id long, k string"
    )
    rows = bloom_probe(probe, digest, "k", n_words=nw).collect()
    assert len(rows) == 300
    assert all(r["maybe_dup"] == 1 for r in rows)


def test_bloom_false_positive_rate_bounded(spark):
    """Fresh keys must flag at ~the designed FPR (0.24% at 2 bytes/key);
    assert a loose 2% ceiling over 1000 fresh probes (E[fp] ~= 2.4)."""
    bloom_digest, bloom_probe, bloom_words_for_corpus = _bloom_mod()
    hist = spark.createDataFrame([(f"key-{i}",) for i in range(1000)], "k string")
    nw = bloom_words_for_corpus(1000)
    digest = bloom_digest(hist, "k", nw)
    probe = spark.createDataFrame(
        [(i, f"fresh-{i}") for i in range(1000)], "doc_id long, k string"
    )
    fp = sum(
        r["maybe_dup"] for r in bloom_probe(probe, digest, "k", n_words=nw).collect()
    )
    assert fp <= 20, fp


def test_bloom_digest_bounded_and_mergeable(spark):
    """Digest row count is bounded by n_words regardless of input size,
    and digest(A ∪ B) == word-wise bit_or of digest(A), digest(B) —
    the property that makes incremental history maintenance a plain
    re-aggregate."""
    bloom_digest, bloom_probe, bloom_words_for_corpus = _bloom_mod()
    A = spark.createDataFrame([(f"a-{i}",) for i in range(500)], "k string")
    B = spark.createDataFrame([(f"b-{i}",) for i in range(500)], "k string")
    nw = bloom_words_for_corpus(1000)
    da = {r["word"]: r["bits"] for r in bloom_digest(A, "k", nw).collect()}
    db = {r["word"]: r["bits"] for r in bloom_digest(B, "k", nw).collect()}
    dunion = {
        r["word"]: r["bits"] for r in bloom_digest(A.unionAll(B), "k", nw).collect()
    }
    assert len(dunion) <= nw
    merged = {w: da.get(w, 0) | db.get(w, 0) for w in set(da) | set(db)}
    assert merged == dunion


def test_bloom_probe_join_modes_agree(spark):
    """VERDICT r12 #2: the broadcast is a size POLICY, not semantics —
    forcing the shuffled-hash-join mode (broadcast_max_word_bytes=0)
    must return bit-identical probe results, and the plans must differ
    in exactly the intended way (broadcast vs shuffle on word)."""
    bloom_digest, bloom_probe, bloom_words_for_corpus = _bloom_mod()
    hist = spark.createDataFrame([(f"key-{i}",) for i in range(400)], "k string")
    nw = bloom_words_for_corpus(400)
    digest = bloom_digest(hist, "k", nw).persist()
    probe = spark.createDataFrame(
        [(i, f"key-{i}" if i % 2 == 0 else f"fresh-{i}") for i in range(400)],
        "doc_id long, k string",
    )
    bcast = bloom_probe(probe, digest, "k", n_words=nw)
    got_b = {r["doc_id"]: r["maybe_dup"] for r in bcast.collect()}
    # the oversized-digest mode must not carry the broadcast HINT; with
    # the size estimators disabled (so tiny test data models a digest
    # past any broadcast bound — AQE would otherwise legitimately
    # re-broadcast it) the join plans shuffled, and results are
    # bit-identical
    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        shuffled = bloom_probe(
            probe, digest, "k", n_words=nw, broadcast_max_word_bytes=0
        )
        got_s = {r["doc_id"]: r["maybe_dup"] for r in shuffled.collect()}
        plan_s = shuffled._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert got_b == got_s
    # every digested key still probes positive through the shuffle path
    assert all(got_s[i] == 1 for i in range(0, 400, 2))
    plan_b = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    assert "BroadcastHashJoin" not in plan_s and "Join" in plan_s
    digest.unpersist()


def test_bloom_probe_default_threshold_crosses_at_design_point():
    """The default policy must broadcast the driver-tier digest but
    refuse the operator's stated 100-TB design point (>= 1e10 keys ->
    >= 20 GB of words)."""
    from github_etl_pipeline_spark.operators.sketches import (
        BLOOM_BROADCAST_MAX_WORD_BYTES,
        bloom_words_for_corpus,
    )

    assert bloom_words_for_corpus(1_000_000) * 8 <= BLOOM_BROADCAST_MAX_WORD_BYTES
    assert bloom_words_for_corpus(10_000_000_000) * 8 > BLOOM_BROADCAST_MAX_WORD_BYTES


def test_bloom_sizing_holds_fpr_where_fixed_saturates():
    """The adaptive sizing keeps k*n/m constant (FPR flat); a FIXED 2048-
    word digest saturates at 100x — the scale failure the helper rules
    out (pure math, no Spark)."""
    import math

    from github_etl_pipeline_spark.operators.sketches import (
        BLOOM_HASHES,
        bloom_words_for_corpus,
    )

    def fpr(n, words):
        m = words * 32
        return (1.0 - math.exp(-BLOOM_HASHES * n / m)) ** BLOOM_HASHES

    for n in (10_000, 1_000_000, 100_000_000):
        assert fpr(n, bloom_words_for_corpus(n)) < 0.003
    assert fpr(1_000_000, 2_048) > 0.99  # fixed digest saturated


def test_bloom_probe_requires_build_time_words(spark):
    """n_words cannot be inferred from the digest (its row count is only
    the SET words) — the probe must refuse rather than silently compute
    wrong positions and break the no-false-negative guarantee."""
    import pytest as _pytest

    bloom_digest, bloom_probe, bloom_words_for_corpus = _bloom_mod()
    hist = spark.createDataFrame([("a",), ("b",)], "k string")
    digest = bloom_digest(hist, "k", 2048)
    probe = spark.createDataFrame([(1, "a")], "doc_id long, k string")
    with _pytest.raises(ValueError, match="build-time n_words"):
        bloom_probe(probe, digest, "k", None)  # type: ignore[arg-type]

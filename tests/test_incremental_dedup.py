"""Incremental dedup against a persisted MinHash index
(operators/dedup.py::build_minhash_index / dedup_against_index): the
daily-delta ingest loop must catch duplicates of ALREADY-INDEXED docs
without rereading the historical corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.dedup import (
    build_minhash_index,
    dedup_against_index,
)
from github_etl_pipeline_spark.sources.tables import read_table

SF = "/root/testdata/sf0.001"


def test_delta_dedup_catches_indexed_duplicates(spark, tmp_path):
    docs = read_table(spark, SF, "documents").select("doc_id", "text")
    historical = docs.where(F.col("doc_id") % 2 == 0)
    idx = tmp_path / "minhash_index"
    build_minhash_index(historical, idx)

    # delta: the odd docs (mostly novel) + exact copies of two indexed
    # docs under new ids
    copies = (
        historical.limit(2)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    delta = docs.where(F.col("doc_id") % 2 == 1).unionByName(copies)

    matches = dedup_against_index(spark, delta, idx).collect()
    matched_new = {r.new_id for r in matches}
    copy_ids = {r.doc_id for r in copies.collect()}
    # every exact copy matches its indexed original at est_jaccard 1.0
    # (the corpus contains exact-dup texts, so a copy may ALSO match other
    # originals — its own source must be among the 1.0 matches)
    assert copy_ids <= matched_new
    by_new: dict[int, dict[int, float]] = {}
    for r in matches:
        by_new.setdefault(r.new_id, {})[r.index_id] = r.est_jaccard
    for cid in copy_ids:
        assert by_new[cid].get(cid - 1_000_000) == 1.0, by_new[cid]

    # ingest loop step 2: append the deduped survivors and re-check —
    # a re-sent survivor must now be caught by the grown index
    survivors = delta.join(
        spark.createDataFrame([(i,) for i in matched_new], "doc_id long"),
        "doc_id",
        "left_anti",
    )
    build_minhash_index(survivors, idx, mode="append")
    # a re-sent survivor arrives under a NEW id (the real-world re-crawl
    # case: same content, different key) — the grown index must catch it
    resent_shifted = survivors.limit(3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    again = dedup_against_index(spark, resent_shifted, idx).collect()
    got_new = {r.new_id for r in again}
    assert {r.doc_id for r in resent_shifted.collect()} <= got_new


def test_incremental_span_dedup_against_gram_index(spark, tmp_path):
    """Delta-vs-index span detection: phrases seen in the indexed history
    are flagged in arriving docs WITHOUT re-reading history; delta-
    internal repetition is flagged too; novel text passes clean. The
    ingest loop (append survivors' grams) catches cross-delta reuse."""
    from github_etl_pipeline_spark.operators.curation import (
        build_gram_index,
        duplicate_spans,
        duplicate_spans_against_index,
    )

    idx = tmp_path / "gram_index"
    history = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    build_gram_index(history, idx, k=3)

    delta = spark.createDataFrame(
        [
            # repeats history doc 1's opening phrase -> span via index
            (10, "alpha beta gamma delta tailA tailB"),
            # repeats ITSELF twice -> span via delta-internal count
            (11, "rep one rep two sep rep one rep two"),
            # completely novel -> clean
            (12, "unrelated fresh wording entirely here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in duplicate_spans_against_index(spark, delta, idx, k=3).collect()}
    assert 10 in got and got[10].span_start == 0 and got[10].span_end == 3
    assert 11 in got
    assert 12 not in got

    # batch-vs-incremental consistency: running the BATCH operator over
    # history+delta unioned must flag every position the incremental
    # path flags for the delta (incremental is sound, and index hits
    # are exactly the history-overlap positions)
    union = history.union(delta)
    batch = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(union, k=3).collect()
        if r.doc_id >= 10
    }
    inc = {(r.doc_id, r.span_start, r.span_end) for r in got.values()}
    assert inc <= batch

    # ingest loop: append delta's grams, then a second delta reusing
    # delta-1 text is flagged against the grown index
    build_gram_index(delta, idx, k=3, mode="append")
    delta2 = spark.createDataFrame(
        [(20, "unrelated fresh wording entirely here plus more")],
        "doc_id long, text string",
    )
    got2 = {r.doc_id: r for r in duplicate_spans_against_index(spark, delta2, idx, k=3).collect()}
    assert 20 in got2 and got2[20].span_start == 0


def test_incremental_span_min_count_matches_batch(spark, tmp_path):
    """min_count > 2 incrementally == the batch operator on history UNION
    delta, restricted to delta positions (r4 advice: the membership-only
    index over-marked here; the (gh, cnt) index is exact)."""
    from github_etl_pipeline_spark.operators.curation import (
        build_gram_index,
        duplicate_spans,
        duplicate_spans_against_index,
    )

    idx = tmp_path / "gram_index_mc"
    history = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),      # phrase seen ONCE
            (2, "red green blue red green blue tail"),  # internal repeat
        ],
        "doc_id long, text string",
    )
    build_gram_index(history, idx, k=3)

    delta = spark.createDataFrame(
        [
            # history count for 'alpha beta gamma' is 1; with this single
            # delta occurrence the total is 2 < 3 -> NOT marked at
            # min_count=3 (the old membership index wrongly marked it)
            (10, "alpha beta gamma tailA tailB tailC"),
            # 'red green blue' appears twice in history + once here = 3
            (11, "red green blue other words here"),
            # delta-internal: 3 repeats of 'x y z' reach min_count=3 alone
            (12, "x y z x y z x y z"),
        ],
        "doc_id long, text string",
    )
    for mc in (2, 3):
        union = history.union(delta)
        batch = {
            (r.doc_id, r.span_start, r.span_end)
            for r in duplicate_spans(union, k=3, min_count=mc).collect()
            if r.doc_id >= 10
        }
        inc = {
            (r.doc_id, r.span_start, r.span_end)
            for r in duplicate_spans_against_index(
                spark, delta, idx, k=3, min_count=mc
            ).collect()
        }
        assert inc == batch, f"min_count={mc}: {inc} != {batch}"


def test_compact_gram_index_folds_append_partials(spark, tmp_path):
    """N appends grow the index by partial-count rows; compaction folds
    it to one row per distinct gram with identical probe results
    (VERDICT r4 #7)."""
    from github_etl_pipeline_spark.operators.curation import (
        build_gram_index,
        compact_gram_index,
        duplicate_spans_against_index,
    )

    idx = tmp_path / "gram_index_c"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    build_gram_index(docs, idx, k=3)
    for _ in range(3):
        build_gram_index(docs, idx, k=3, mode="append")

    pre = spark.read.parquet(str(idx))
    n_distinct = pre.select("gh").distinct().count()
    assert pre.count() == 4 * n_distinct  # 1 build + 3 appends

    delta = spark.createDataFrame(
        [(10, "alpha beta gamma tail tail2 tail3")], "doc_id long, text string"
    )
    probe_pre = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in duplicate_spans_against_index(spark, delta, idx, k=3).collect()
    }

    # below-threshold ratio -> no rewrite
    assert compact_gram_index(spark, idx, min_ratio=100.0) is False
    assert compact_gram_index(spark, idx) is True
    post = spark.read.parquet(str(idx))
    assert post.count() == n_distinct
    # counts folded: the repeated build quadrupled every gram's count
    assert {r.cnt for r in post.collect()} == {4}
    probe_post = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in duplicate_spans_against_index(spark, delta, idx, k=3).collect()
    }
    assert probe_post == probe_pre
    # idempotent: already compact -> no-op
    assert compact_gram_index(spark, idx) is False


def test_compact_gram_index_recovers_crashed_swap(spark, tmp_path):
    """Every crash state of the rename-swap must self-heal on the next
    call (ADVICE r5): stale ._staging / ._old leftovers are swept, and
    the stranded-._old-with-no-live-index state (crash between the two
    renames) is restored instead of deleted."""
    import shutil

    from github_etl_pipeline_spark.operators.curation import (
        build_gram_index,
        compact_gram_index,
    )

    idx = tmp_path / "gram_index_r"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    build_gram_index(docs, idx, k=3)
    build_gram_index(docs, idx, k=3, mode="append")
    n_distinct = spark.read.parquet(str(idx)).select("gh").distinct().count()

    # crash state A: a prior run died after writing ._staging
    shutil.copytree(idx, idx.with_name(idx.name + "._staging"))
    # crash state B leftovers: a stale ._old next to a live index
    shutil.copytree(idx, idx.with_name(idx.name + "._old"))
    assert compact_gram_index(spark, idx) is True
    assert not idx.with_name(idx.name + "._staging").exists()
    assert not idx.with_name(idx.name + "._old").exists()
    assert spark.read.parquet(str(idx)).count() == n_distinct

    # crash state C: died between the renames — ._old holds the ONLY copy
    idx.rename(idx.with_name(idx.name + "._old"))
    assert compact_gram_index(spark, idx) is False  # restored, already compact
    assert spark.read.parquet(str(idx)).count() == n_distinct

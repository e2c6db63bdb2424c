"""Semantic unit tests for the training-data curation operators
(operators/curation.py) — planted fixtures with hand-computable
answers; cross-engine value equality is covered separately by
test_oracle_contract.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.curation import (
    chunk_documents,
    decontaminate,
    pack_sequences,
    quality_filter,
    temperature_sample,
)
from github_etl_pipeline_spark.operators.dedup import connected_components


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_decontaminate_planted(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog", "eval")])
    docs = _docs(
        spark,
        [
            # contains 'quick brown fox' -> shares 3-grams with the benchmark
            (1, "a very quick brown fox indeed", "web"),
            # no shared 3-gram
            (2, "completely unrelated text about spark plans", "web"),
        ],
    )
    got = {r.doc_id: r for r in decontaminate(docs, bench, k=3).collect()}
    assert got[1].contaminated and got[1].n_overlap >= 1
    assert not got[2].contaminated and got[2].n_overlap == 0


def test_chunk_documents_boundaries(spark):
    # 90 tokens, chunk=32 overlap=8 stride=24: starts = range(0, 82, 24)
    # = 0,24,48,72 -> 4 chunks, the last the 18-token tail
    text = " ".join(f"t{i}" for i in range(90))
    docs = _docs(spark, [(1, text, "s"), (2, "only three tokens", "s"), (3, "", "s")])
    got = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(r.chunk_id for r in by_doc[1]) == [0, 1, 2, 3]
    sizes = {r.chunk_id: r.n_chunk_tokens for r in by_doc[1]}
    assert sizes == {0: 32, 1: 32, 2: 32, 3: 18}  # last chunk is the tail
    # short doc -> one chunk with every token; empty doc -> no rows
    assert [r.n_chunk_tokens for r in by_doc[2]] == [3]
    assert 3 not in by_doc


def test_chunk_overlap_is_real_overlap(spark):
    # chunks must share exactly `overlap` tokens at the seam: token list
    # reconstruction — chunk i starts at i*stride
    text = " ".join(f"w{i}" for i in range(40))
    docs = _docs(spark, [(1, text, "s")])
    import hashlib

    got = {
        r.chunk_id: r.chunk_hash
        for r in chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    }
    toks = text.split()
    expect0 = hashlib.md5(" ".join(toks[0:32]).encode()).hexdigest()
    expect1 = hashlib.md5(" ".join(toks[24:40]).encode()).hexdigest()
    assert got == {0: expect0, 1: expect1}


def test_pack_sequences_budget(spark):
    # source A: docs of 50 tokens each; budget 128 -> starts 0,50,100,150
    # -> seq ids 0,0,0,1 ; source B packs independently from offset 0
    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [(i, words(50, "a"), "A") for i in range(4)] + [(10, words(20, "b"), "B")]
    got = {r.doc_id: r for r in pack_sequences(_docs(spark, rows), budget=128).collect()}
    assert [got[i].seq_id for i in range(4)] == [0, 0, 0, 1]
    assert [got[i].start_offset for i in range(4)] == [0, 50, 100, 150]
    assert got[10].seq_id == 0 and got[10].start_offset == 0


def test_quality_filter_reasons(spark):
    good = (
        "The quick brown fox jumps over the lazy dog and it is a fine day "
        "for the animals of the forest to wander around the green hills"
    )
    rows = [
        (1, good, "s"),
        (2, "spam spam spam spam spam spam spam spam", "s"),  # repetitive
        (3, "one two", "s"),  # too few words
        (4, "!!! ??? *** !!! ??? *** (((", "s"),  # punct soup / no words
    ]
    got = {r.doc_id: r for r in quality_filter(_docs(spark, rows)).collect()}
    assert got[1].keep and got[1].reasons == ""
    assert not got[2].keep and "repetitive_top_word" in got[2].reasons
    assert not got[3].keep and "too_few_words" in got[3].reasons
    assert not got[4].keep and "punct_soup" in got[4].reasons


def test_temperature_sample_rates(spark):
    # sources sized 1600 / 100: alpha=0.5 keeps sqrt(100/1600)=25% of the
    # big source and 100% of the smallest
    rows = [(i, "x", "big") for i in range(1600)] + [
        (10_000 + i, "x", "small") for i in range(100)
    ]
    got = temperature_sample(_docs(spark, rows)).groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in got}
    assert counts["small"] == 100
    assert abs(counts["big"] - 400) < 120  # ~6 sigma at p=0.25, n=1600


def test_connected_components_graph(spark):
    # both execution paths must agree: driver union-find (default, small
    # graph) and the distributed min-label loop (forced via
    # max_driver_pairs=0); includes a 4-chain so the loop needs >1 round
    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 7), (9, 8)], "id_a long, id_b long"
    )
    expect = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7, 8: 7, 9: 7}
    got_driver = {
        r.id: r.cluster_id for r in connected_components(nodes, pairs, "id").collect()
    }
    got_dist = {
        r.id: r.cluster_id
        for r in connected_components(nodes, pairs, "id", max_driver_pairs=0).collect()
    }
    assert got_driver == expect
    assert got_dist == expect


def test_winnowing_guarantee(spark):
    # winnowing guarantee: any shared word run of >= window + k - 1 = 5
    # words produces at least one shared fingerprint
    from github_etl_pipeline_spark.operators.dedup import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon"
    docs = _docs(
        spark,
        [
            (1, f"unrelated prefix words {shared} and a suffix here", "s"),
            (2, f"totally different opening {shared} closing run of text", "s"),
            (3, "nothing in common with the others at all frankly", "s"),
        ],
    )
    fps = winnowing_fingerprints(docs, k=2, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 5-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3])


def test_no_cartesian_in_registered_curation_queries(spark):
    # the scale contract: no curation query may carry an all-pairs join
    from github_etl_pipeline_spark.plans import REGISTRY

    for name in [
        "decontaminate_documents",
        "chunk_documents",
        "pack_sequences_documents",
        "quality_filter_documents",
        "temperature_sample_documents",
        "embedding_dup_clusters",
    ]:
        plan = REGISTRY[name].builder(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_boilerplate_ngrams_planted(spark):
    from github_etl_pipeline_spark.operators.curation import boilerplate_ngrams

    docs = _docs(
        spark,
        [
            # 'all rights reserved' -> bigrams shared by 3/4 docs
            (1, "all rights reserved alpha beta", "web"),
            (2, "gamma delta all rights reserved", "web"),
            (3, "all rights reserved", "web"),
            # repeats its own bigram many times: distinct-per-doc must
            # count it ONCE, so it stays under the 2-doc floor
            (4, "spam spam spam spam spam", "web"),
        ],
    )
    got = {r.gram: r for r in boilerplate_ngrams(docs, min_doc_ratio=(1, 2)).collect()}
    assert got["all rights"].doc_freq == 3
    assert got["rights reserved"].doc_freq == 3
    assert abs(got["all rights"].doc_frac - 0.75) < 1e-9
    assert "spam spam" not in got  # 1 doc < min_docs floor and < 1/2 ratio
    assert "alpha beta" not in got  # doc_freq 1


def test_source_profile_dup_ratio(spark):
    from github_etl_pipeline_spark.operators.text import source_profile

    docs = _docs(
        spark,
        [
            (1, "the quick brown fox", "a"),
            (2, "THE  QUICK  BROWN  FOX", "a"),  # same normalized content
            (3, "something else entirely", "a"),
            (4, "lone document here", "b"),
        ],
    )
    got = {r.source: r for r in source_profile(docs).collect()}
    assert got["a"].n_docs == 3 and got["a"].n_distinct == 2
    assert abs(got["a"].dup_ratio - (1 - 2 / 3)) < 1e-6
    assert got["a"].total_tokens == 4 + 4 + 3
    assert got["b"].n_docs == 1 and got["b"].dup_ratio == 0.0


def test_duplicate_spans_planted(spark):
    from github_etl_pipeline_spark.operators.curation import duplicate_spans

    # doc 1 and doc 2 share tokens 0..5 ("a b c d e f"): with k=3 the
    # duplicated 3-gram start positions are 0..3 -> ONE maximal span
    # covering tokens 0..5. The tails ("x1 y1 z1" vs "x2 y2 z2") are
    # unique, so no span reaches them.
    docs = _docs(
        spark,
        [
            (1, "a b c d e f x1 y1 z1", "web"),
            (2, "a b c d e f x2 y2 z2", "web"),
            (3, "totally different words here now", "web"),
        ],
    )
    got = {r.doc_id: r for r in duplicate_spans(docs, k=3).collect()}
    assert set(got) == {1, 2}
    for d in (1, 2):
        assert (got[d].span_start, got[d].span_end, got[d].n_dup_grams) == (0, 5, 4)


def test_duplicate_spans_within_doc_repetition(spark):
    from github_etl_pipeline_spark.operators.curation import duplicate_spans

    # one doc repeating the same 3 tokens twice: both occurrences of the
    # repeated 3-gram count toward the corpus frequency, so both spans
    # surface — and they are disjoint islands (positions 0..2 and 5..7).
    docs = _docs(spark, [(1, "p q r sep1 sep2 p q r tail", "web")])
    rows = sorted(
        duplicate_spans(docs, k=3).collect(), key=lambda r: r.span_start
    )
    assert [(r.span_start, r.span_end, r.n_dup_grams) for r in rows] == [
        (0, 2, 1),
        (5, 7, 1),
    ]


def test_duplicate_spans_short_and_empty_docs(spark):
    from github_etl_pipeline_spark.operators.curation import duplicate_spans

    docs = _docs(
        spark,
        [(1, "a b", "web"), (2, "a b", "web"), (3, "", "web"), (4, None, "web")],
    )
    # docs shorter than k produce no k-grams at all -> no spans anywhere
    assert duplicate_spans(docs, k=3).count() == 0


def test_remove_duplicate_spans_planted(spark):
    from github_etl_pipeline_spark.operators.curation import remove_duplicate_spans

    docs = _docs(
        spark,
        [
            (1, "a b c d e f x1 y1 z1", "web"),
            (2, "a b c d e f x2 y2 z2", "web"),
            (3, "totally different words here now", "web"),
            (4, None, "web"),
        ],
    )
    got = {r.doc_id: r for r in remove_duplicate_spans(docs, k=3).collect()}
    # every input doc survives (removal edits text, never drops rows)
    assert set(got) == {1, 2, 3, 4}
    # docs 1/2 lose the shared 6-token prefix, keep their unique tails
    import hashlib

    for d, tail in ((1, "x1 y1 z1"), (2, "x2 y2 z2")):
        assert got[d].n_tokens == 9 and got[d].n_removed == 6
        assert got[d].clean_md5 == hashlib.md5(tail.encode()).hexdigest()
    # untouched doc: zero removed, md5 of the original text
    assert got[3].n_removed == 0
    assert got[3].clean_md5 == hashlib.md5(
        b"totally different words here now"
    ).hexdigest()
    # null text -> zero tokens, md5('')
    assert got[4].n_tokens == 0 and got[4].n_removed == 0
    assert got[4].clean_md5 == hashlib.md5(b"").hexdigest()


def test_duplicate_spans_keep_first_exempts_first_occurrence(spark):
    from github_etl_pipeline_spark.operators.curation import duplicate_spans

    # docs 1 and 2 share the leading 3-gram run; under keep_first only
    # doc 2 (the later occurrence in global (id, pos) order) is marked
    docs = _docs(
        spark,
        [
            (1, "a b c d e f x1 y1 z1", "web"),
            (2, "a b c d e f x2 y2 z2", "web"),
        ],
    )
    got = {r.doc_id: r for r in duplicate_spans(docs, k=3, keep_first=True).collect()}
    assert set(got) == {2}
    assert (got[2].span_start, got[2].span_end) == (0, 5)
    # within-doc repetition: first copy survives, second is a span
    rep = _docs(spark, [(7, "p q r sep1 sep2 p q r", "web")])
    rows = duplicate_spans(rep, k=3, keep_first=True).collect()
    assert [(r.span_start, r.span_end) for r in rows] == [(5, 7)]


def test_remove_duplicate_spans_keep_first(spark):
    from github_etl_pipeline_spark.operators.curation import remove_duplicate_spans

    docs = _docs(
        spark,
        [
            (1, "a b c d e f x1 y1 z1", "web"),
            (2, "a b c d e f x2 y2 z2", "web"),
        ],
    )
    got = {r.doc_id: r for r in remove_duplicate_spans(docs, k=3, keep_first=True).collect()}
    # doc 1 holds the first occurrence -> untouched; doc 2 loses the prefix
    assert got[1].n_removed == 0 and got[2].n_removed == 6


def test_source_overlap_matrix_exact_jaccard(spark):
    """Hand-computable corpus: srcA/srcB share exactly one word bigram,
    srcC shares none. Jaccard = common / (na + nb - common) on distinct
    bigram sets."""
    from github_etl_pipeline_spark.operators.curation import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (1, "A", "the quick brown fox"),          # 3 bigrams
            (2, "B", "quick brown wolves run"),       # 3 bigrams, shares 'quick brown'
            (3, "C", "entirely different words here"),
            (4, "B", "quick brown wolves run"),       # dup doc: distinct set unchanged
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r.source_a, r.source_b): r
        for r in source_overlap_matrix(docs, source_col="source").collect()
    }
    assert set(rows) == {("A", "B")}  # C overlaps nobody
    r = rows[("A", "B")]
    assert r.common_grams == 1
    assert r.union_grams == 3 + 3 - 1
    assert r.jaccard == 1 / 5


def test_source_overlap_scans_corpus_once(spark):
    """All three consumers of the per-gram source-set relation (pair
    fan-out, na, nb) share one exchange: the FINAL adaptive plan must
    reuse the gram exchange (corpus scanned + tokenized once — the r6
    first cut, dropDuplicates + double self-join, ran 4 full scans)
    and dedup the second per-source-totals broadcast. collect() (not a
    noop write) because only the DataFrame's own executed query
    finalizes its AdaptiveSparkPlan."""
    import re

    from github_etl_pipeline_spark.operators.curation import source_overlap_matrix
    from github_etl_pipeline_spark.sources.tables import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    df = source_overlap_matrix(docs, source_col="source")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    reused = re.findall(r"ReusedExchange \[([^\]]*)\]", plan)
    assert any("_gh" in r for r in reused), plan  # gram shuffle reused
    assert len(reused) >= 2, plan  # + the second totals broadcast


def test_hash_array_passthrough_matches_text(spark):
    """minhash_dedup_pairs / decontaminate fed a precomputed shingle-hash
    array column (the curation_pipeline shared-scan path) must produce
    exactly the rows the text-based path produces."""
    from github_etl_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs,
        shingle_hashes,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "a"),
        (2, "the quick brown fox jumps over the lazy cat", "a"),
        (3, "completely unrelated text about spark plans", "b"),
        (4, "", "b"),
    ]
    docs = _docs(spark, rows)
    pre = docs.select(
        "doc_id",
        "source",
        # shingle_k metadata is REQUIRED on precomputed arrays since r9
        # (hash_array_or_shingles refuses undeclared/mismatched k)
        shingle_hashes("text", 2).alias("hs2", metadata={"shingle_k": 2}),
        shingle_hashes("text", 3).alias("hs3", metadata={"shingle_k": 3}),
    )
    by_text = sorted(
        minhash_dedup_pairs(docs, "text", "doc_id", k=2, threshold=0.2).collect()
    )
    by_hash = sorted(
        minhash_dedup_pairs(pre, "hs2", "doc_id", k=2, threshold=0.2).collect()
    )
    assert by_text == by_hash and by_text  # non-empty: 1~2 must pair

    bench = docs.where(F.col("source") == "b")
    bench_pre = pre.where(F.col("source") == "b")
    d_text = sorted(decontaminate(docs, bench, k=3).collect())
    d_hash = sorted(decontaminate(pre, bench_pre, text_col="hs3", k=3).collect())
    assert d_text == d_hash


def test_quality_keep_matches_quality_filter(spark):
    """quality_keep (the inline gate curation_pipeline computes in its
    base projection) must equal quality_filter's keep column row-by-row."""
    from github_etl_pipeline_spark.operators.curation import quality_keep

    rows = [
        (1, "a good plain sentence with several normal words here", "a"),
        (2, "word word word word word word word word", "a"),  # repetitive
        (3, "!!! ??? ### $$$ %%%", "a"),  # punct soup
        (4, "two words", "a"),  # too few
        (5, "", "a"),
        (6, "pneumonoultramicroscopicsilicovolcanoconiosis " * 6, "a"),  # long words
    ]
    docs = _docs(spark, rows)
    via_filter = {
        r["doc_id"]: r["keep"] for r in quality_filter(docs).collect()
    }
    via_expr = {
        r["doc_id"]: r["k"]
        for r in docs.select("doc_id", quality_keep("text").alias("k")).collect()
    }
    assert via_filter == via_expr
    assert via_filter[1] and not via_filter[2] and not via_filter[4]


def test_curation_pipeline_equals_signal_composition(spark):
    """The shared-scan curation_pipeline must produce exactly the rows of
    the four standalone signals composed by semi-joins + pack_sequences
    (the r7 plan shape it replaced)."""
    from github_etl_pipeline_spark.operators.curation import curation_pipeline
    from github_etl_pipeline_spark.operators.dedup import dup_clusters
    from github_etl_pipeline_spark.operators.text import token_count

    rows = [
        (i, f"document number {i} talks about topic {i % 3} in plain words", f"src{i % 2}")
        for i in range(1, 21)
    ] + [
        (21, "document number 1 talks about topic 1 in plain words", "src1"),  # near-dup of 1
        (22, "word word word word word word", "src1"),  # fails quality
    ]
    docs = _docs(spark, rows)

    qkeep = quality_filter(docs).where(F.col("keep")).select("doc_id")
    canon = (
        dup_clusters(docs, threshold=0.2)
        .where(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    bench = docs.where(F.col("source") == "src0")
    clean = (
        decontaminate(docs, bench, k=3).where(~F.col("contaminated")).select("doc_id")
    )
    tkeep = temperature_sample(docs).select("doc_id")
    narrow = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    surv = (
        narrow.join(qkeep, "doc_id", "left_semi")
        .join(canon, "doc_id", "left_semi")
        .join(clean, "doc_id", "left_semi")
        .join(tkeep, "doc_id", "left_semi")
    )
    expected = sorted(
        pack_sequences(surv, budget=128, n_tokens_col="n_tokens").collect()
    )
    got = sorted(
        curation_pipeline(
            docs, bench_source="src0", dedup_threshold=0.2, budget=128
        ).collect()
    )
    spark.catalog.clearCache()
    assert got == expected


def test_curation_pipeline_single_corpus_scan(spark, tmp_path):
    """The pipeline's base relation is persisted: the executed plan must
    read the documents parquet through InMemoryTableScan consumers, not
    one FileScan per signal."""
    from github_etl_pipeline_spark.operators.curation import curation_pipeline

    p = str(tmp_path / "docs.parquet")
    _docs(
        spark,
        [(i, f"some text body {i} with words", f"src{i % 2}") for i in range(40)],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    df = curation_pipeline(docs, bench_source="src0", dedup_threshold=0.2)
    df.collect()  # materialize so the adaptive plan finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_precomputed_shingle_k_metadata_contract(spark):
    """hash_array_or_shingles must REFUSE a precomputed array<bigint>
    whose shingle_k metadata is absent or mismatched — silently feeding
    a k=2 array into a k=3 stage yields wrong pairs/decontamination
    with no error (ADVICE r8)."""
    import pytest

    from github_etl_pipeline_spark.operators.dedup import (
        hash_array_or_shingles,
        shingle_hashes,
    )

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    base = df.select(
        "doc_id", shingle_hashes("text", 2).alias("_hs", metadata={"shingle_k": 2})
    )
    hash_array_or_shingles(base, "_hs", 2)  # matching k passes
    with pytest.raises(ValueError, match="shingle_k"):
        hash_array_or_shingles(base, "_hs", 3)  # mismatched k refused
    bare = df.select("doc_id", shingle_hashes("text", 2).alias("_hs"))
    with pytest.raises(ValueError, match="shingle_k"):
        hash_array_or_shingles(bare, "_hs", 2)  # undeclared k refused


def test_precomputed_shingles_distinctness_contract(spark):
    """ADVICE r10 (low): jaccard's inclusion-exclusion union
    (|a| + |b| - |a∩b|) equals the SET union only when each precomputed
    array is distinct. The producer (shingle_hashes) guarantees it via
    array_distinct; this pins (a) that guarantee even on repetitive
    text, and (b) the exact deflation a hand-built NON-distinct array
    causes — the false-negative mode the documented contract rules out."""
    from pyspark.sql import functions as F

    from github_etl_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        shingle_hashes,
    )

    # (a) producer distinctness on maximally repetitive text
    rep = spark.createDataFrame(
        [(1, "a b a b a b a b")], "doc_id long, text string"
    )
    arr = rep.select(shingle_hashes("text", 2).alias("h")).first().h
    assert len(arr) == len(set(arr))

    # (b) identical shingle SETS: distinct arrays -> jaccard 1.0;
    # duplicating one side's array deflates it to 0.5 (|a∩b| stays 3,
    # inclusion-exclusion union inflates to 3 + 6 - 3 = 6)
    base = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w")], "doc_id long, text string"
    ).select(
        "doc_id",
        shingle_hashes("text", 2).alias("_hs", metadata={"shingle_k": 2}),
    )
    ok = jaccard_pairs(base, "_hs", k=2, threshold=0.0).first()
    assert ok.jaccard == 1.0

    broken = base.select(
        "doc_id",
        F.when(F.col("doc_id") == 2, F.concat("_hs", "_hs"))
        .otherwise(F.col("_hs"))
        .alias("_hs", metadata={"shingle_k": 2}),
    )
    deflated = jaccard_pairs(broken, "_hs", k=2, threshold=0.0).first()
    assert deflated.jaccard == 0.5


def test_split_leakage_audit_flags_cross_split_near_dups(spark):
    """A near-dup pair straddling the content-addressed split is leaky;
    a pair fully inside train is not; singletons don't appear.
    doc ids chosen by their actual md5 split side: 0-7 -> train,
    23/25 -> eval (verified: md5('split-v1:'||id)[:2] vs 'e6')."""
    from github_etl_pipeline_spark.operators.curation import split_leakage_audit

    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    dup_b = "completely different content about training data pipelines here"
    rows = [
        (0, dup_a),   # train  \  same text -> one cluster, straddles
        (23, dup_a),  # eval   /
        (1, dup_b),   # train  \  same text -> one cluster, train-only
        (2, dup_b),   # train  /
        (3, "a unique singleton document that matches nothing else at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from github_etl_pipeline_spark.session import sweep_caches

    got = {r["cluster_id"]: r for r in split_leakage_audit(docs).collect()}
    sweep_caches(spark)  # release dup_clusters' batch-owned persists
    assert set(got) == {0, 1}  # min member id labels; singleton absent
    assert got[0]["n_members"] == 2 and got[0]["leaky"] == 1
    assert got[0]["n_train"] == 1 and got[0]["n_eval"] == 1
    assert got[1]["n_members"] == 2 and got[1]["leaky"] == 0
    assert got[1]["n_train"] == 2 and got[1]["n_eval"] == 0


def test_split_leakage_audit_consistent_with_split_query(spark):
    """The audit's per-side counts must reproduce what the registered
    split query actually assigns (same seed, same threshold)."""
    from github_etl_pipeline_spark.operators.curation import split_leakage_audit
    from github_etl_pipeline_spark.operators.dedup import dup_clusters
    from github_etl_pipeline_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    split = {
        r["doc_id"]: r["split"]
        for r in REGISTRY["split_documents_hash"].builder(spark, sf).collect()
    }
    from github_etl_pipeline_spark.session import sweep_caches

    audit = split_leakage_audit(docs).collect()
    clusters = dup_clusters(docs, threshold=0.2).collect()
    sweep_caches(spark)  # release dup_clusters' batch-owned persists
    members: dict = {}
    for r in clusters:
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])
    for row in audit:
        mem = members[row["cluster_id"]]
        n_train = sum(1 for d in mem if split[d] == "train")
        assert row["n_members"] == len(mem) >= 2
        assert row["n_train"] == n_train
        assert row["n_eval"] == len(mem) - n_train
        assert row["leaky"] == int(0 < n_train < len(mem))


# ---------------------------------------------------------------------------
# Low-J containment via the gram index (VERDICT r12 #4)
# ---------------------------------------------------------------------------
def test_gram_containment_catches_what_banding_cannot(spark):
    """The documented regime boundary, proven end-to-end: a short doc
    embedded in a ~900-token junk wrapper sits at shingle-Jaccard
    <= ~0.11 — the recall-tuned 9x2 MinHash banding (containment_pairs'
    registered config) misses EVERY seeded wrapper pair, while the
    gram-index path scores each exactly 1.0."""
    from github_etl_pipeline_spark.operators.curation import containment_gram_pairs
    from github_etl_pipeline_spark.operators.dedup import containment_pairs
    from github_etl_pipeline_spark.plans.extensions import (
        _CGRAM_JUNK_N,
        _CGRAM_SEED_OFFSET,
        _CONT_LSH,
    )
    from github_etl_pipeline_spark.session import sweep_caches
    from github_etl_pipeline_spark.sources.tables import read_table

    docs = (
        read_table(spark, "/root/testdata/sf0.01", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 43 == 0)
    )
    junk = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(_CGRAM_JUNK_N)),
            lambda i: F.concat(
                F.lit("z"), F.col("doc_id").cast("string"), F.lit("q"), i.cast("string")
            ),
        ),
        " ",
    )
    wrappers = docs.select(
        (F.col("doc_id") + F.lit(_CGRAM_SEED_OFFSET)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), junk).alias("text"),
    )
    corpus = docs.unionAll(wrappers)
    n_seeds = docs.count()
    expected = {
        (r["doc_id"], r["doc_id"] + _CGRAM_SEED_OFFSET) for r in docs.collect()
    }

    banded = containment_pairs(corpus, threshold=0.8, **_CONT_LSH).collect()
    sweep_caches(spark)
    banded_pairs = {(r["id_a"], r["id_b"]) for r in banded}
    missed = expected - banded_pairs
    # J <= ~0.11 sits at banding recall ~0.03-0.10: allow at most one
    # lucky collision, require the regime to be genuinely out of reach
    assert len(missed) >= n_seeds - 1, (
        f"banding unexpectedly recalled {len(expected - missed)}/{n_seeds} "
        "low-J wrapper pairs"
    )

    gram = containment_gram_pairs(corpus, threshold=0.8).collect()
    sweep_caches(spark)
    gram_scores = {(r["id_a"], r["id_b"]): r["containment"] for r in gram}
    for pair in expected:
        assert gram_scores.get(pair) == 1.0, f"gram path missed wrapper pair {pair}"


def test_gram_containment_stop_gram_cut_bounds_the_join(spark):
    """A gram present in MORE than max_doc_freq docs must generate no
    candidate pairs (the cut that keeps the self-join linear), while
    rare-gram containment is unaffected."""
    from github_etl_pipeline_spark.operators.curation import containment_gram_pairs

    # 40 docs all sharing the same boilerplate bigram chain; two docs
    # additionally share a rare 3-token tail
    from github_etl_pipeline_spark.session import sweep_caches

    rows = [(i, f"common base text uniq{i}a uniq{i}b") for i in range(40)]
    rows += [(100, "rare alpha tail xyz"), (101, "rare alpha tail xyz")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = containment_gram_pairs(docs, threshold=0.5, max_doc_freq=8).collect()
    sweep_caches(spark)  # the operator persists its gram base by contract
    pairs = {(r["id_a"], r["id_b"]): r["containment"] for r in out}
    assert pairs == {(100, 101): 1.0}

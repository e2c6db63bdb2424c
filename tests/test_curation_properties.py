"""Property-based tests (hypothesis) for the curation operators:
invariants that must hold for ANY document shape, not just the planted
fixtures in test_curation.py."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

CHUNK, OVERLAP = 32, 8
STRIDE = CHUNK - OVERLAP


@st.composite
def token_counts(draw):
    return draw(st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=8))


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(counts=token_counts())
def test_chunking_covers_every_token_exactly(spark, counts):
    """Chunk starts are stride-spaced from 0; every token is inside some
    chunk; the last chunk ends exactly at n_tokens; each chunk holds
    min(chunk_tokens, n - start) tokens."""
    from github_etl_pipeline_spark.operators.curation import chunk_documents

    rows = [(i, " ".join(f"w{j}" for j in range(n)), "s") for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = chunk_documents(df, chunk_tokens=CHUNK, overlap=OVERLAP).collect()
    by_doc: dict[int, dict[int, int]] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.n_chunk_tokens
    for i, n in enumerate(counts):
        chunks = by_doc.get(i, {})
        if n == 0:
            assert chunks == {}
            continue
        expected_ids = list(range((max(n - OVERLAP, 1) + STRIDE - 1) // STRIDE))
        assert sorted(chunks) == expected_ids
        for cid, clen in chunks.items():
            assert clen == min(CHUNK, n - cid * STRIDE)
        last = max(chunks)
        assert last * STRIDE + chunks[last] == n  # ends exactly at n


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rates=st.tuples(
        st.floats(min_value=0.0, max_value=1.0), st.floats(min_value=0.0, max_value=1.0)
    )
)
def test_hash_sample_rate_monotone_superset(spark, rates):
    """For any two rates r1 <= r2, the r1 sample is a subset of the r2
    sample (stable buckets — incremental mixture rebalancing)."""
    from github_etl_pipeline_spark.operators.sampling import stratified_sample

    r1, r2 = min(rates), max(rates)
    df = spark.range(500).selectExpr("id AS doc_id")
    small = {r.doc_id for r in stratified_sample(df, {}, default_rate=r1).collect()}
    big = {r.doc_id for r in stratified_sample(df, {}, default_rate=r2).collect()}
    assert small <= big


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(counts=st.lists(st.integers(min_value=0, max_value=60), min_size=2, max_size=6))
def test_packing_invariants(spark, counts):
    """Within a source: offsets are the running token total in doc_id
    order; seq_ids are non-decreasing; a doc's seq_id is its start
    offset // budget."""
    from github_etl_pipeline_spark.operators.curation import pack_sequences

    budget = 64
    rows = [(i, " ".join(f"w{j}" for j in range(n)), "only") for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = sorted(pack_sequences(df, budget=budget).collect(), key=lambda r: r.doc_id)
    run = 0
    prev_seq = 0
    for r in got:
        assert r.start_offset == run
        assert r.seq_id == run // budget
        assert r.seq_id >= prev_seq
        prev_seq = r.seq_id
        run += r.n_tokens

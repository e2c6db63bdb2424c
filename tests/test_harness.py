"""The measurement harness (tools/harness.py) and the tools built on it:
the min-of-reps timer sweeps caches after every rep, the 1.5x re-run rule
adds exactly one rep, check_correctness rejects an unknown query name
before any Spark work, scale_probe leaves a tier cell blank when a
table the query reads is missing from that tier, and its patch mode
splices rows only under a header of the same tiers."""

import os
import subprocess
import sys
import types

import pytest

from tools import harness, scale_probe

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_TINY = "/root/testdata/sf0.001"


def _n_persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.fixture
def clock(monkeypatch):
    """Fake perf_counter for the harness: each rep lasts the next of
    ``durations`` seconds."""
    durations: list[float] = []
    readings: list[float] = []

    def perf_counter() -> float:
        if not readings:
            d = durations.pop(0)
            readings.extend([100.0, 100.0 + d])
        return readings.pop(0)

    monkeypatch.setattr(harness, "time", types.SimpleNamespace(perf_counter=perf_counter))
    return durations


@pytest.fixture
def build(spark):
    """A build callable that counts its calls, persists a tiny frame and
    records how many RDDs were persisted when the call began."""
    seen: list[int] = []

    def _build():
        seen.append(_n_persistent_rdds(spark))
        df = spark.range(10).persist()
        df.count()
        assert _n_persistent_rdds(spark) >= 1
        return df

    _build.seen = seen
    return _build


def test_best_of_is_the_minimum_and_sweeps_after_every_rep(spark, clock, build):
    clock.extend([3.0, 1.0, 2.0])
    assert harness.best_of(spark, build, 3) == 1.0
    assert len(build.seen) == 3
    # the rep before each later one was swept, and so was the last one
    assert build.seen[1:] == [0, 0]
    assert _n_persistent_rdds(spark) == 0


@pytest.mark.parametrize(
    "prior, extra, expected",
    [
        (1.0, 5.0, (3.0, True)),    # 3.0 > 1.5 * 1.0: one rep, the min wins
        (1.0, 0.5, (0.5, True)),
        (2.0, 0.5, (3.0, False)),   # 3.0 is not above 1.5 * 2.0
        (None, 0.5, (3.0, False)),  # no committed value
        (0.0, 0.5, (3.0, False)),
    ],
)
def test_recheck_runs_one_extra_rep_only_above_one_and_a_half_times_prior(
    spark, clock, build, prior, extra, expected
):
    clock.append(extra)
    assert harness.recheck(spark, build, 3.0, prior) == expected
    assert len(build.seen) == (1 if expected[1] else 0)


def test_check_correctness_rejects_unknown_query_name():
    proc = subprocess.run(
        [sys.executable, "tools/check_correctness.py", "pool_kpis_synth", "no_such_query"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "no_such_query" in proc.stdout
    assert "pool_kpis_synth" not in proc.stdout


def test_scale_probe_tier_cell_is_blank_when_a_table_is_missing(spark, tmp_path):
    tier = tmp_path / "sf3"
    tier.mkdir()
    os.symlink(os.path.join(SF_TINY, "lineitem.parquet"), tier / "lineitem.parquet")
    # lineitem alone runs the scan-and-aggregate probe ...
    assert scale_probe.tier_cell(spark, "pricing_summary", str(tier), None) > 0
    # ... and leaves the multi-table join blank instead of crashing
    assert scale_probe.tier_cell(spark, "tpch_q9_product_profit", str(tier), None) is None
    assert scale_probe.tier_cell(spark, "pricing_summary", str(tmp_path / "none"), None) is None


def test_scale_probe_tier_cell_raises_other_errors(spark, tmp_path, monkeypatch):
    missing_elsewhere = types.SimpleNamespace(
        builder=lambda s, d: s.read.parquet(str(tmp_path / "elsewhere" / "t.parquet"))
    )
    monkeypatch.setitem(scale_probe.REGISTRY, "_missing_elsewhere", missing_elsewhere)
    (tmp_path / "sf3").mkdir()
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        scale_probe.tier_cell(spark, "_missing_elsewhere", str(tmp_path / "sf3"), None)


def test_scale_probe_splice_rows_replaces_inserts_and_refuses_other_tiers():
    hdr3 = "| query | sf0.001 s | sf0.01 s | sf0.1 s | alpha(0.01->0.1) |"
    hdr4 = "| query | sf0.001 s | sf0.01 s | sf0.1 s | sf1 s | alpha(0.01->0.1) | alpha(0.1->1) |"
    first, second, third = scale_probe.PROBES[:3]
    committed = ["# SCALING", hdr4, "|---|", f"| {first} | 1 | 2 | 3 | 4 | 5 | 6 |",
                 f"| {third} | 1 | 2 | 3 | 4 | 5 | 6 |", "", "footer"]
    rows = {first: f"| {first} | 9 | 9 | 9 | 9 | 9 | 9 |",
            second: f"| {second} | 8 | 8 | 8 | 8 | 8 | 8 |"}
    assert scale_probe.splice_rows(committed, hdr4, rows) == [
        "# SCALING", hdr4, "|---|", rows[first], committed[4], rows[second], "", "footer"
    ]
    # a host without the sf1 tier yields 4-value rows: refused, tier named
    with pytest.raises(ValueError, match=r"missing here: \['sf1'\]"):
        scale_probe.splice_rows(committed, hdr3, {first: f"| {first} | 1 | 2 | 3 | 4 |"})
    assert committed[3] == f"| {first} | 1 | 2 | 3 | 4 | 5 | 6 |"

"""M6: README-era extended statistics vs the worked example
(README.md:53-105 for Pool_0201_395.pol — values verified in SURVEY §5),
and over a hand-written corpus whose values are worked out in the test."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.stats import BUCKET_EDGES, pool_extended_stats
from github_etl_pipeline_spark.sources.pol import parse_pol_lines, read_pol_lines


@pytest.fixture(scope="module")
def stats_row(spark):
    lines = read_pol_lines(spark, "/root/reference/samples/pools2")
    df = pool_extended_stats(parse_pol_lines(lines))
    rows = [r for r in df.collect() if r.source_file == "Pool_0201_395.pol"]
    assert len(rows) == 1
    return rows[0]


def test_readme_summary_stats(stats_row):
    r = stats_row
    assert r.total_records == 100000
    assert r.total_sum == 118744550
    assert r.min_value == 375
    assert r.max_value == 25000
    assert r.avg_value == 1187.45
    assert r.median_value == 850.0
    assert r.std_value == pytest.approx(858.95, abs=0.01)
    assert r.unique_types == 5


def test_readme_type_distribution(stats_row):
    # README.md:77-83: TB3:29550 TF1:27850 TB2:22750 TB1:19740 TF2:110
    assert dict(stats_row.type_distribution) == {
        "TB3": 29550,
        "TF1": 27850,
        "TB2": 22750,
        "TB1": 19740,
        "TF2": 110,
    }


def test_type_statistics_sorted_with_pct(stats_row):
    ts = stats_row.type_statistics
    assert [t.type_code for t in ts] == ["TB3", "TF1", "TB2", "TB1", "TF2"]
    assert ts[0]["count"] == 29550
    assert ts[0]["pct"] == pytest.approx(29.55, abs=0.01)
    assert sum(t["count"] for t in ts) == 100000


def test_value_histogram(stats_row):
    vd = {b.bucket: b["count"] for b in stats_row.value_distribution}
    assert sum(vd.values()) == 100000
    assert set(vd) <= {"0-500", "501-1000", "1001-2000", "2001-5000", "5001-10000", "10001+"}
    pcts = [b["pct"] for b in stats_row.value_distribution]
    assert abs(sum(pcts) - 100.0) < 0.5


def test_first_last_k_match_file(stats_row):
    # first/last lines of the actual file (order-sensitive sampling)
    with open("/root/reference/samples/pools2/Pool_0201_395.pol") as f:
        lines = [l.split()[0] for l in f if l.strip()]
    expect_first = [int(v) for v in lines[:10]]
    expect_last = [int(v) for v in lines[-10:]]
    assert list(stats_row.first_k) == expect_first
    assert list(stats_row.last_k) == expect_last


# ---------------------------------------------------------------------------
# The same surface over a hand-written corpus, with every expected value
# worked out in plain Python below (no reference snapshot needed)
# ---------------------------------------------------------------------------
SMALL_POOL = [
    "0 TB1",
    "500 TB1",        # on the first bucket edge
    "501 TB2",
    "1000 TB2 0",     # integer third token: added (0)
    "1001 TF1",
    "2000 TF1",
    "2001 TB3",
    "5000 TB3",
    "5001 TB3",
    "10000 TF2",
    "10001 TF2",
    "400 TB1 100",    # integer third token: added -> 500
    "700 TB2 x",      # non-integer third token: ignored
    "",               # blank: dropped
    "abc TB1",        # non-integer value: dropped
    "   ",            # blank: dropped
    "1500",           # valid, no type code
    "  250   TB1  ",  # surrounding and repeated spaces
]
# longer than 2k lines, with one blank and one invalid line inside
LONG_POOL = [f"{(i * 37) % 3000 + 1} TB{i % 3 + 1}" for i in range(2500)]
LONG_POOL[1200:1200] = ["", "x TB1"]
# a leading UTF-8 BOM: the reference decodes utf-8, keeps U+FEFF and so
# drops the first line
BOM_POOL = ["\ufeff300 TB1", "200 TB2", "300 TB1"]
# not valid UTF-8, so read as latin-1: a non-ASCII type code
LATIN1_POOL = ["100 T\xe91", "200 T\xe91", "50 TB1", "notanint \xe9"]
# one text repeated at the head and the tail between other values, its
# lines ended by "\r\n", "\r" and "\n" in turn
MIXED_POOL = [
    *["7 TB1" if i % 2 == 0 else f"{100 + i} TB2" for i in range(30)],
    *[f"{i} TF1" for i in range(500, 540)],
    *["7 TB1" if i % 2 == 0 else f"{200 + i} TB3" for i in range(30)],
]


def _parse(line):
    toks = line.split()
    try:
        value = int(toks[0])
    except (IndexError, ValueError):
        return None
    if len(toks) > 2 and toks[2].lstrip("-").isdigit():
        value += int(toks[2])
    return value, (toks[1] if len(toks) > 1 else None)


def _round(x, digits, mode):
    from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    rnd = ROUND_HALF_EVEN if mode == "bankers" else ROUND_HALF_UP
    return float(Decimal(repr(x)).quantize(q, rounding=rnd))


def _bucket(v):
    if v < 0:
        return "<0"
    lo = 0
    for hi in BUCKET_EDGES:
        if lo <= v <= hi:
            return f"{lo}-{hi}"
        lo = hi + 1
    return f"{BUCKET_EDGES[-1] + 1}+"


def _expected(lines, k=10):
    import statistics
    from collections import Counter

    rows = [r for r in map(_parse, lines) if r is not None]
    vals = [v for v, _ in rows]
    typed = [(v, t) for v, t in rows if t is not None]
    counts = Counter(t for _, t in typed)
    by_type = sorted(counts, key=lambda t: (counts[t], t), reverse=True)
    buckets = Counter(map(_bucket, vals))
    return {
        "summary": (
            len(vals),
            sum(vals),
            min(vals),
            max(vals),
            _round(sum(vals) / len(vals), 2, "bankers"),
            float(statistics.median(vals)),
            _round(statistics.stdev(vals), 2, "bankers"),
            len(counts),
        ),
        "type_distribution": dict(counts),
        "type_statistics": [
            (
                t,
                counts[t],
                sum(v for v, tt in typed if tt == t),
                min(v for v, tt in typed if tt == t),
                max(v for v, tt in typed if tt == t),
                _round(sum(v for v, tt in typed if tt == t) / counts[t], 2, "bankers"),
                _round(counts[t] * 100.0 / len(typed), 2, "half_up"),
            )
            for t in by_type
        ],
        "value_distribution": [
            (b, buckets[b], _round(buckets[b] * 100.0 / len(vals), 2, "half_up"))
            for b in sorted(buckets)
        ],
        "first_k": vals[:k],
        "last_k": vals[-k:],
    }


def test_extended_stats_hand_worked_corpus(spark, tmp_path):
    corpus = {
        "Pool_0201_395.pol": SMALL_POOL,
        "Pool_0300_941.pol": LONG_POOL,
        "Pool_0400_292.pol": ["-5 TB1", "100 TB1"],
        "Pool_0500_941.pol": BOM_POOL,
        "Pool_0600_292.pol": LATIN1_POOL,
        "Pool_0700_395.pol": MIXED_POOL,
    }
    for name, lines in corpus.items():
        if name == "Pool_0600_292.pol":
            data = "".join(f"{line}\n" for line in lines).encode("latin-1")
        else:
            ends = ("\r\n", "\r", "\n") if name == "Pool_0700_395.pol" else ("\n",)
            data = "".join(f"{line}{ends[i % len(ends)]}" for i, line in enumerate(lines))
            data = data.encode("utf-8")
        (tmp_path / name).write_bytes(data)
    lines = read_pol_lines(spark, str(tmp_path))
    got = {r.source_file: r for r in pool_extended_stats(parse_pol_lines(lines)).collect()}
    assert set(got) == set(corpus)
    for name, lines in corpus.items():
        r, want = got[name], _expected(lines)
        summary = (
            r.total_records, r.total_sum, r.min_value, r.max_value,
            r.avg_value, r.median_value, r.std_value, r.unique_types,
        )
        assert summary == want["summary"], name
        assert dict(r.type_distribution) == want["type_distribution"], name
        assert [
            (t.type_code, t["count"], t.total, t.min, t.max, t.avg, t.pct)
            for t in r.type_statistics
        ] == want["type_statistics"], name
        assert [
            (b.bucket, b["count"], b.pct) for b in r.value_distribution
        ] == want["value_distribution"], name
        assert list(r.first_k) == want["first_k"], name
        assert list(r.last_k) == want["last_k"], name
    # every bucket edge of the small pool lands in its own bucket
    assert [b.bucket for b in got["Pool_0201_395.pol"].value_distribution] == [
        "0-500", "10001+", "1001-2000", "2001-5000", "5001-10000", "501-1000",
    ]
    # a negative value has its own bucket, not the top one
    assert [
        (b.bucket, b["count"]) for b in got["Pool_0400_292.pol"].value_distribution
    ] == [("0-500", 1), ("<0", 1)]
    assert got["Pool_0500_941.pol"].total_records == 2
    assert dict(got["Pool_0600_292.pol"].type_distribution) == {"T\xe91": 2, "TB1": 1}
    mixed = got["Pool_0700_395.pol"]
    assert list(mixed.first_k) == [7, 101, 7, 103, 7, 105, 7, 107, 7, 109]
    assert list(mixed.last_k) == [7, 221, 7, 223, 7, 225, 7, 227, 7, 229]


def test_bm25_ranked_retrieval_matches_reference_formula(spark):
    """Planted corpus with hand-computable Okapi BM25 (k1=1.2, b=0.75):
    the operator must reproduce the reference formula and rank docs with
    more distinct query-term mass higher; docs with no query terms never
    appear."""
    import math

    from github_etl_pipeline_spark.operators.text import bm25_topk

    docs = [
        (1, "spark joins data fast spark"),   # 'spark' x2 of 5
        (2, "spark only once here"),          # 'spark' x1 of 4
        (3, "unrelated words entirely"),      # no hit -> absent
        (4, "joins joins joins joins"),       # 'joins' x4 of 4
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in bm25_topk(df, ("spark", "joins"), topk=10).collect()}
    assert set(got) == {1, 2, 4}

    # independent reference computation
    k1, b = 1.2, 0.75
    dls = {1: 5, 2: 4, 3: 3, 4: 4}
    n, avgdl = 4, sum(dls.values()) / 4
    dfreq = {"spark": 2, "joins": 2}
    tfs = {1: {"spark": 2, "joins": 1}, 2: {"spark": 1}, 4: {"joins": 4}}

    def score(doc):
        s = 0.0
        for t, tf in tfs[doc].items():
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[doc] / avgdl))
        return round(s, 6)

    for d in (1, 2, 4):
        assert abs(got[d] - score(d)) < 1e-9, (d, got[d], score(d))
    # doc 1 carries both terms -> outranks the single-term docs
    assert got[1] > got[2]


def test_streak_summary(spark):
    from github_etl_pipeline_spark.operators.stats import streak_summary

    rows = [
        # u: days 1,2,3 | 7 | 9,10 -> longest 3 from 1; dup day 2 ignored
        ("u", 1), ("u", 2), ("u", 2), ("u", 3), ("u", 7), ("u", 9), ("u", 10),
        # v: two runs of equal length 2 -> earliest start wins (4)
        ("v", 4), ("v", 5), ("v", 8), ("v", 9),
        # w: single day
        ("w", 42),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "day"]))
    out = {r["k"]: r for r in streak_summary(df, ["k"], "day").collect()}
    assert (out["u"]["n_active"], out["u"]["n_streaks"]) == (6, 3)
    assert (out["u"]["longest_streak"], out["u"]["longest_streak_start"]) == (3, 1)
    assert (out["v"]["longest_streak"], out["v"]["longest_streak_start"]) == (2, 4)
    assert (out["w"]["n_active"], out["w"]["n_streaks"], out["w"]["longest_streak"]) == (1, 1, 1)
    assert out["w"]["longest_streak_start"] == 42


def test_streak_negative_days(spark):
    # pre-epoch sequence values: consecutive negatives still chain
    from github_etl_pipeline_spark.operators.stats import streak_summary

    df = spark.createDataFrame(
        pd.DataFrame([("u", -3), ("u", -2), ("u", 0)], columns=["k", "day"])
    )
    r = streak_summary(df, ["k"], "day").collect()[0]
    assert (r["longest_streak"], r["longest_streak_start"], r["n_streaks"]) == (2, -3, 2)

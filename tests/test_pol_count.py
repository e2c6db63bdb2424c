"""The per-file line counter (``sources.pol.count_pol_files``): parity with
the line-level text path on a hostile corpus, through the batch pipeline,
the CLI and the mtime runner, the one intended output change (a leading
BOM), and the design it depends on: workers need not import the package,
a file is read whole or not at all, and the Arrow node sits at the scan
leaf."""

import json
import os
import re
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark import pipeline
from github_etl_pipeline_spark.__main__ import main
from github_etl_pipeline_spark.operators.kpis import pool_distribution
from github_etl_pipeline_spark.pipeline import run_pipeline
from github_etl_pipeline_spark.sinks.upsert import read_store
from github_etl_pipeline_spark.sources.lookup import prepare_dim
from github_etl_pipeline_spark.sources.pol import (
    count_pol_files,
    parse_pol_lines,
    read_pol_lines,
    scan_pol_files,
)
from github_etl_pipeline_spark.streaming.incremental import (
    changed_pol_paths,
    run_incremental_mtime,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIM_SCHEMA = "Game string, Game_id string, Pool_id string, Bet double"
DIM_ROWS = [("G", "1", str(i).zfill(4), 5.0) for i in range(100, 112)]

HOSTILE = {
    "crlf/Pool_0100_395.pol": b"HEADER line\r\n100 TB1\r\n100 TB1\r\n250 TB2 10\r\n",
    "Pool_0101_941.pol": b"5\r6\r\r7",  # lone \r, no final terminator
    "mixed/Pool_0102_292.pol": b"1\n2\r\n3\r4\n\n\n",  # mixed endings, trailing blanks
    "Pool_0103_395.pol": b"  \n\t\n 8 \n\n",  # whitespace-only lines
    "Pool_0104_941.pol": b"+5\n-3\n+0 X +2\n-0\n",  # signs
    "Pool_0105_292.pol": b"10 TB1 x\n10 TB1 2.5\n10 TB1 7\n",  # non-integer third token
    "Pool_0106_395.pol": b"9223372036854775808\n99999999999999999999 X 1\n3\n",
    "Pool_0107_941.pol": b"9223372036854775807 X 1\n-9223372036854775808 X -1\n4\n",
    "deep/a/Pool_0108_292.pol": b"\xff\xfe 12\n12 \xc3\x28\n\x80\n12\n",  # invalid UTF-8
    "Pool_0109_395.pol": b"",  # 0 bytes: no record
    "Pool_0110_941.pol": b"\r\n\r\n",  # two blank lines
    "Pool_0111_292.pol": b"no numbers at all\n",
    ".git/Pool_0998_1.pol": b"1\n",
    "etl/Pool_0999_1.pol": b"1\n",
}
#: the files every reader must yield, with their raw line counts
KEPT = {
    k: len(v.splitlines())
    for k, v in HOSTILE.items()
    if v and not k.startswith((".git/", "etl/"))
}
#: columns of a pool record that do not depend on when it was made
RECORD_COLS = [
    "source_file", "file_name", "folder_path", "pool_id", "pool_type", "line_count",
    "size", "total_win", "max_win", "min_bet", "rtp", "hit_frequency", "volatility",
    "max_win_factor",
]


def _write(root, files):
    for rel, data in files.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(data)


@pytest.fixture()
def hostile(tmp_path):
    root = tmp_path / "scan root 100%"  # a space and a "%" in the scan root
    _write(root, HOSTILE)
    return root


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)


def _records(df):
    return {r.source_file: tuple(r) for r in df.select(*RECORD_COLS).collect()}


def _document(out):
    """The JSON document a run wrote to ``out``, its timestamps masked."""
    text = (out / "all_pools_data.json").read_text()
    return re.sub(r'"processed_at": "[^"]*"', '"processed_at": ""', text)


def _cli(root, out):
    assert main(["--repo-root", str(root), "--output-dir", str(out), "--cpus", "8"]) == 0
    return _document(out)


def test_counts_match_the_text_line_path(spark, hostile):
    raw = scan_pol_files(spark.read.format("binaryFile"), str(hostile))
    counted = count_pol_files(raw, str(hostile))
    got = {
        (r.source_file, r.game_win): r.cnt
        for r in pool_distribution(counted, ["source_file"]).collect()
    }
    lines = parse_pol_lines(read_pol_lines(spark, str(hostile)), keep_invalid=True)
    want = {
        (r.source_file, r.game_win): r.cnt
        for r in pool_distribution(lines, ["source_file"]).collect()
    }
    assert got == want
    # every line counted, one row per distinct text
    per_file = counted.groupBy("source_file").agg(F.sum("cnt").alias("n"), F.count("*").alias("r"))
    rows = {r.source_file: r for r in per_file.collect()}
    assert {k: r.n for k, r in rows.items()} == KEPT
    distinct = {k: len(set(v.splitlines())) for k, v in HOSTILE.items() if k in KEPT}
    assert {k: r.r for k, r in rows.items()} == distinct
    # the int64 edge: both overflowing sums count as lines, not as wins
    assert got[("Pool_0107_941.pol", None)] == 2 and got[("Pool_0107_941.pol", 4)] == 1


def test_incremental_runners_store_the_batch_records(spark, tmp_path, hostile, dim, monkeypatch):
    pools, _ = run_pipeline(spark, hostile, dim=dim, output_dir=tmp_path / "out_b")
    batch = _records(pools)
    assert set(batch) == set(KEPT)
    batch_doc = _document(tmp_path / "out_b")
    dim_agg = prepare_dim(dim)
    # the CLI reads its dimension from the root's xlsx; this one has none
    monkeypatch.setattr(pipeline, "load_game_lookup", lambda spark, root: dim)

    # outside a git work-tree the CLI's default run is a full scan
    assert _cli(hostile, tmp_path / "out_s") == batch_doc

    # Spark's listing leaves 0-byte files out
    assert run_incremental_mtime(spark, hostile, tmp_path / "led", tmp_path / "st_m", dim_agg) == len(KEPT)
    assert _records(read_store(spark, tmp_path / "st_m")) == batch
    # the churn branch reads the changed paths only
    edited = hostile / "Pool_0101_941.pol"
    edited.write_bytes(HOSTILE["Pool_0101_941.pol"])
    later = time.time() + 2
    os.utime(edited, (later, later))
    assert run_incremental_mtime(spark, hostile, tmp_path / "led", tmp_path / "st_m", dim_agg) == 1
    assert _records(read_store(spark, tmp_path / "st_m")) == batch

    # git mode: the last commit adds every file, then an empty diff falls back
    repo = tmp_path / "repo"
    _write(repo / "samples" / "pools2", {k: v for k, v in HOSTILE.items() if ".git/" not in k})
    (repo / "README").write_text("r")
    env = {"PATH": os.environ["PATH"], "HOME": str(repo), "GIT_AUTHOR_NAME": "t",
           "GIT_AUTHOR_EMAIL": "t@t", "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t"}
    for args in (["init", "-q"], ["add", "README"], ["commit", "-qm", "c1"],
                 ["add", "-A"], ["commit", "-qm", "c2"]):
        subprocess.run(["git", "-C", str(repo), *args], check=True, capture_output=True, env=env)
    # git lists the 0-byte file; the read yields no record for it
    assert len(changed_pol_paths(spark, repo)) == len(KEPT) + 1
    assert _cli(repo, tmp_path / "out_g") == batch_doc
    (repo / "README").write_text("r2")
    for args in (["add", "-A"], ["commit", "-qm", "c3"]):
        subprocess.run(["git", "-C", str(repo), *args], check=True, capture_output=True, env=env)
    assert changed_pol_paths(spark, repo) is None
    assert _cli(repo, tmp_path / "out_g") == batch_doc


def test_leading_bom_stays_in_the_first_line(spark, tmp_path, dim):
    """The reference decodes utf-8 and keeps U+FEFF, so ``int()`` drops
    the first line; the per-file pass does the same. Hadoop's line reader
    strips the BOM, so the text path still parses that line."""
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "Pool_0100_941.pol").write_bytes("\ufeff42 BOM\n7\n".encode("utf-8"))
    pools, _ = run_pipeline(spark, tmp_path / "c", dim=dim, output_dir=tmp_path / "out")
    row = pools.first()
    assert (row.size, row.total_win, row.line_count) == (1, 7, 2)
    doc = json.loads((tmp_path / "out" / "all_pools_data.json").read_text())
    assert doc["Pool_0100_941.pol"]["size"] == 1
    text = parse_pol_lines(read_pol_lines(spark, str(tmp_path / "c")))
    assert sorted(r.game_win for r in text.collect()) == [7, 42]


def test_workers_do_not_import_the_package(tmp_path):
    """The Arrow function ships by value: a driver whose cwd is not the
    repo root, with the repo only on its own ``sys.path``, runs the
    pipeline (a module-level function fails on the workers with
    ``ModuleNotFoundError``)."""
    corpus = tmp_path / "corpus"
    _write(corpus, {"Pool_0100_941.pol": b"1\n2\n", "a/Pool_0101_395.pol": b"3\n"})
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from github_etl_pipeline_spark.session import get_spark\n"
        "from github_etl_pipeline_spark.pipeline import run_pipeline\n"
        "spark = get_spark(cpus=2, extra_conf={'spark.ui.showConsoleProgress': 'false'})\n"
        f"pools, _ = run_pipeline(spark, {str(corpus)!r})\n"
        "print(sorted((r.source_file, r.size) for r in pools.collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "[('Pool_0100_941.pol', 2), ('a/Pool_0101_395.pol', 1)]" in proc.stdout


def test_a_file_over_the_size_bound_fails_the_read(spark, tmp_path, dim):
    corpus = tmp_path / "corpus"
    _write(corpus, {"Pool_0100_941.pol": b"1\n" * 64, "Pool_0101_395.pol": b"3\n"})
    key = "spark.sql.sources.binaryFile.maxLength"
    before = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        with pytest.raises(Exception, match="exceeds the max length allowed"):
            run_pipeline(spark, corpus, dim=dim, output_dir=tmp_path / "out")
    finally:
        spark.conf.set(key, before)
    assert not (tmp_path / "out" / "all_pools_data.json").exists()
    pools, _ = run_pipeline(spark, corpus, dim=dim)
    assert {r.source_file: r.size for r in pools.collect()} == {
        "Pool_0100_941.pol": 64, "Pool_0101_395.pol": 1
    }


def test_the_arrow_node_sits_on_the_binary_scan(spark, hostile, dim):
    """One Arrow map node, fed straight by the ``binaryFile`` scan with no
    shuffle between, and no text scan: a Python node above a shuffle
    would move every line through the exchange first."""
    pools, _ = run_pipeline(spark, hostile, dim=dim)
    plan = pools._jdf.queryExecution().executedPlan().toString().splitlines()
    arrow = [i for i, ln in enumerate(plan) if "MapInArrow" in ln]
    assert len(arrow) == 1, "\n".join(plan)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    sub = []
    for ln in plan[arrow[0] + 1:]:
        if depth(ln) <= depth(plan[arrow[0]]):
            break
        sub.append(ln)
    assert any("FileScan binaryFile" in ln for ln in sub), "\n".join(plan)
    assert not any("Exchange" in ln for ln in sub), "\n".join(plan)
    assert not any("FileScan text" in ln for ln in plan), "\n".join(plan)


def _daemon_children(pid: int) -> list[int]:
    """Pids of the ``pyspark.daemon`` processes whose parent is ``pid``."""
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmdline = f.read()
        except OSError:  # the process exited while being read
            continue
        if ppid == pid and b"pyspark.daemon" in cmdline:
            found.append(int(entry))
    return found


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs a /proc file system")
def test_one_python_worker_daemon_per_session(spark, hostile):
    """A Python-RDD job (the collect of a list-built frame) and the Arrow
    line counter share one worker daemon: the session sets no environment
    difference between the RDD and SQL runners, so no second daemon is
    started (and compiled) for the other runner."""
    assert len(spark.createDataFrame(DIM_ROWS, DIM_SCHEMA).collect()) == len(DIM_ROWS)
    raw = scan_pol_files(spark.read.format("binaryFile"), str(hostile))
    assert count_pol_files(raw, str(hostile)).count() > 0
    jvm = spark.sparkContext._gateway.proc.pid
    assert len(_daemon_children(jvm)) == 1

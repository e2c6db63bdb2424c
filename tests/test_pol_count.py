"""The one pool reader (``sources.pol.count_pol_files``): its counts
against a plain-Python rendition of the reference's read and parse rules
on a hostile and a generated corpus, through the batch pipeline, the CLI
and the mtime runner, the leading-BOM rule, and the design it depends on:
workers need not import the package, a file is read whole or not at all,
and the Arrow node sits at the scan leaf."""

import importlib
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
from github_etl_pipeline_spark.sources.pol import count_pol_files, parse_pol_lines, scan_pol_files
from github_etl_pipeline_spark.streaming.incremental import (
    changed_pol_paths,
    run_incremental_mtime,
)
from test_pol_parse import _reference_decode_chain

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


#: Where the Python rules below (``str.split``, ``int``) and Spark's
#: (``sources.pol._PARSED``) part ways; no corpus here holds one. Each line
#: maps to its (Python, Spark) game_win. ``int`` reads ``_`` between digits
#: and non-ASCII decimal digits (Unicode category Nd); Spark reads only a
#: sign and ASCII digits.
P1_DIFFERENCES = {
    "1_000": (1000, None),
    "\u0663": (3, None),
}
#: Lines where Spark's rules once parted from Python's, with the game_win
#: both give now: a tab before the first token, ISO controls next to a
#: number (``try_cast`` strips them, ``int`` does not), and separators
#: that ``str.split`` splits on but ``\s`` does not.
P1_AGREEMENTS = {
    "\t5 X 1": 6,
    "\x005 X 1": None,
    "5 X 1\x7f": 5,
    "5 X\x1c1": 6,
    "5\xa0 X 1": 6,
}


def _int64(token):
    try:
        value = int(token)
    except ValueError:
        return None
    return value if -(2**63) <= value < 2**63 else None


def _python_game_win(line: str):
    """P1 in plain Python (etl/transform.py:61-95), with the int64 rule:
    a token or a sum that leaves int64 is not a number."""
    toks = line.split()
    win = _int64(toks[0]) if toks else None
    if win is None:
        return None
    add = _int64(toks[2]) if len(toks) > 2 else None
    return _int64(win + (add or 0))


def _python_counts(files: dict[str, bytes]):
    """Per file ``(line_count, size, total_win)`` and per ``(file,
    game_win)`` line counts, by ``bytes.splitlines`` and the reference's
    decode chain (CR and LF are the same byte in UTF-8 and latin-1)."""
    per_file, dist = {}, {}
    for rel, data in files.items():
        if not data:  # Spark's listing leaves 0-byte files out
            continue
        text = _reference_decode_chain(data)
        codec = "utf-8" if text == data.decode("utf-8", "replace") else "latin-1"
        wins = [_python_game_win(line.decode(codec)) for line in data.splitlines()]
        valid = [w for w in wins if w is not None]
        per_file[rel] = (len(wins), len(valid), sum(valid) if valid else None)
        for w in wins:
            dist[(rel, w)] = dist.get((rel, w), 0) + 1
    return per_file, dist


def _spark_counts(spark, root):
    counted = count_pol_files(scan_pol_files(spark, str(root)), str(root))
    per_file = counted.groupBy("source_file").agg(
        F.expr("sum(cnt) AS line_count"),
        F.expr("coalesce(sum(CASE WHEN game_win IS NOT NULL THEN cnt END), 0) AS size"),
        F.expr("sum(game_win * cnt) AS total_win"),
        F.count("*").alias("texts"),
    )
    dist = pool_distribution(counted, ["source_file"]).collect()
    return {r.source_file: r for r in per_file.collect()}, {
        (r.source_file, r.game_win): r.cnt for r in dist
    }


def _plan_corpus(root, monkeypatch):
    """A small ``perfbench`` corpus (FIXTURES A1/A2) written under ``root``."""
    monkeypatch.syspath_prepend(os.path.join(REPO, "perfbench"))
    pol_corpus = importlib.import_module("pol_corpus")
    files = pol_corpus.plan_corpus(3, 4, 800)
    pol_corpus.write_corpus(str(root), files, 3)
    return {f.rel_path: (root / f.rel_path).read_bytes() for f in files}


def test_counts_match_a_python_oracle(spark, hostile, tmp_path, monkeypatch):
    generated = _plan_corpus(tmp_path / "gen", monkeypatch)
    for root, files in ((hostile, HOSTILE), (tmp_path / "gen", generated)):
        want_files, want_dist = _python_counts(
            {k: v for k, v in files.items() if not k.startswith((".git/", "etl/"))}
        )
        got_files, got_dist = _spark_counts(spark, root)
        assert {k: (r.line_count, r.size, r.total_win) for k, r in got_files.items()} == want_files
        assert got_dist == want_dist
        # one row per distinct text, whatever terminator ends its lines
        texts = {k: len(set(files[k].splitlines())) for k in want_files}
        assert {k: r.texts for k, r in got_files.items()} == texts
    # the int64 edge: both overflowing sums count as lines, not as wins
    assert _spark_counts(spark, hostile)[1][("Pool_0107_941.pol", None)] == 2


def test_p1_differences_are_where_they_are_named(spark):
    """Spark's tokenizer agrees with ``str.split``/``int`` on every line
    of a sweep that puts each character up to U+3000 (past the last
    whitespace character) around and between tokens, except where
    ``P1_DIFFERENCES`` names the rule."""
    sweep = [t.format(c=chr(i)) for i in range(0x3001) for t in ("5{c}X{c}1", "{c}5 X 1{c}")]
    lines = [*P1_DIFFERENCES, *P1_AGREEMENTS, *sweep]
    df = spark.createDataFrame(
        [(line, f"Pool_{i}_941.pol") for i, line in enumerate(lines)],
        "value string, source_file string",
    )
    spark_wins = {
        int(r.pool_id): r.game_win for r in parse_pol_lines(df, keep_invalid=True).collect()
    }
    got = {line: (_python_game_win(line), spark_wins[i]) for i, line in enumerate(lines)}
    assert {line: got[line] for line in P1_DIFFERENCES} == P1_DIFFERENCES
    assert {line: got[line] for line in P1_AGREEMENTS} == {
        line: (win, win) for line, win in P1_AGREEMENTS.items()
    }
    differ = {line for line, (py, sp) in got.items() if py != sp}
    digits = [chr(i) for i in range(0x80, 0x3001) if chr(i).isdecimal()]  # a first token
    assert differ == set(P1_DIFFERENCES) | {f"{c}5 X 1{c}" for c in digits}


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
    the first line; the one reader does the same."""
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "Pool_0100_941.pol").write_bytes("\ufeff42 BOM\n7\n".encode("utf-8"))
    pools, _ = run_pipeline(spark, tmp_path / "c", dim=dim, output_dir=tmp_path / "out")
    row = pools.first()
    assert (row.size, row.total_win, row.line_count) == (1, 7, 2)
    doc = json.loads((tmp_path / "out" / "all_pools_data.json").read_text())
    assert doc["Pool_0100_941.pol"]["size"] == 1


def test_workers_do_not_import_the_package(tmp_path):
    """A driver whose cwd is not the repo root, with the repo only on its
    own ``sys.path``, runs the pipeline. The Arrow function still ships
    by value, so its tasks import nothing of the package; the worker
    daemon, a module of the package, is found through the
    ``spark.executorEnv.PYTHONPATH`` that ``get_spark`` passes."""
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


def _daemon_children(pid: int, module: str) -> list[int]:
    """Pids of the processes running daemon ``module`` whose parent is ``pid``."""
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
        if ppid == pid and module.encode() in cmdline.split(b"\0"):
            found.append(int(entry))
    return found


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs a /proc file system")
def test_one_python_worker_daemon_per_session(spark, hostile):
    """A Python-RDD job (the collect of a list-built frame) and the Arrow
    line counter share one worker daemon: the session sets no environment
    difference between the RDD and SQL runners, so no second daemon is
    started for the other runner."""
    assert len(spark.createDataFrame(DIM_ROWS, DIM_SCHEMA).collect()) == len(DIM_ROWS)
    raw = scan_pol_files(spark, str(hostile))
    assert count_pol_files(raw, str(hostile)).count() > 0
    jvm = spark.sparkContext._gateway.proc.pid
    module = spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon")
    assert len(_daemon_children(jvm, module)) == 1

"""The three workloads: inputs, the timed op, and the check on each op.

Every op calls one public entry point of the package; everything else
(input generation, checks, probes) runs outside the timed region.

* ``pool_etl_full`` — ``pipeline.run_pipeline`` with the output surface
  over a seeded corpus of large pool files (1.65M lines), sized so that
  scan and parse are most of a warm op.
* ``pool_etl_incremental`` — ``streaming.incremental.run_incremental_mtime``
  after k seeded files of a many-small-files corpus are rewritten: listing,
  ledger anti-join, a small read and two bucket-pruned upserts.
* ``query_batch`` — one registry query per op, in a fixed order over
  twelve queries covering each family, through the ``noop`` sink.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import time

import numpy as np
import pyarrow.parquet as pq

import pol_corpus
import tables

CPUS = 4
LOOKUP_SCHEMA = "Game string, Game_id string, Pool_id string, Bet double"

# fixed query order; the family names the layer ROADMAP items act on
QUERIES = [
    ("tpch_q6_forecast_revenue", "sql"),
    ("tpch_q5_local_supplier", "sql"),
    ("tpch_q9_product_profit", "relational"),
    ("tpch_q18_large_orders", "relational"),
    ("pricing_summary", "relational"),
    ("window_analytics_events", "relational"),
    ("pool_kpis_synth", "pool"),
    ("pool_distribution_synth", "pool"),
    ("minhash_dup_pairs_documents", "dedup"),
    ("split_leakage_audit_documents", "dedup"),
    ("dup_clusters_documents", "dedup"),
    ("curation_pipeline_documents", "builder"),
]
FAMILIES = ["sql", "relational", "pool", "dedup", "builder"]


def start_session(work: str, event_log_dir: str | None = None):
    """A ``local[4]`` session whose scratch files stay under ``work``."""
    from github_etl_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _same(got, want) -> bool:
    if isinstance(want, float) and isinstance(got, (int, float)):
        return got == want or math.isclose(got, want, rel_tol=1e-12)
    return got == want


def _diff_record(key: str, got: dict, want: dict) -> str | None:
    for field, value in want.items():
        if not _same(got.get(field), value):
            return f"{key}: {field} = {got.get(field)!r}, expected {value!r}"
    return None


class Workload:
    name = ""
    ops = 1

    def __init__(self, seed: int, tiny: bool, work: str):
        self.seed, self.tiny, self.work = seed, tiny, work
        self.corrupt = False  # smoke test: perturb one expected value
        self.traced = False  # tag build and execution jobs separately

    def setup(self, spark, tag: str) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed input change before op ``i``."""

    def op(self, spark, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> str | None:
        """None when op ``i``'s output is correct, else what differs."""
        raise NotImplementedError

    def rows(self, i: int) -> int:
        """Input rows op ``i`` processed."""
        raise NotImplementedError


class PoolEtlFull(Workload):
    name = "pool_etl_full"
    ops = 5

    def setup(self, spark, tag):
        n_files, lines = (3, 2_000) if self.tiny else (8, 200_000)
        self.root = os.path.join(self.work, tag, "corpus")
        self.out = os.path.join(self.work, tag, "out")
        self.files = pol_corpus.plan_corpus(self.seed, n_files, lines)
        self.n_rows = pol_corpus.write_corpus(self.root, self.files, self.seed)
        self.lookup = pol_corpus.plan_lookup(self.files, self.seed)
        self.expected = pol_corpus.expected_records(self.files, self.lookup)
        self.summary = pol_corpus.expected_summary(self.expected)
        if self.corrupt:
            rec = next(r for r in self.expected.values() if r["rtp"] is not None)
            rec["rtp"] += 0.01
        self.dim = spark.createDataFrame(self.lookup, LOOKUP_SCHEMA)

    def op(self, spark, i):
        from github_etl_pipeline_spark.pipeline import run_pipeline
        from github_etl_pipeline_spark.session import sweep_caches

        self.pools, _ = run_pipeline(
            spark, self.root, dim=self.dim, output_dir=self.out
        )
        sweep_caches(spark)

    def check(self, i):
        with open(os.path.join(self.out, "all_pools_data.json")) as f:
            got = json.load(f)
        if set(got) != set(self.expected):
            return f"pool keys differ: {sorted(set(got) ^ set(self.expected))[:3]}"
        for key, want in self.expected.items():
            rec = dict(got[key])
            rec.update({k: rec["metadata"][k] for k in ("folder_path", "hit_frequency")})
            bad = _diff_record(key, rec, want)
            if bad:
                return bad
        with open(os.path.join(self.out, "_pipeline_summary.json")) as f:
            doc = json.load(f)
        flat = {**doc, **doc["aggregated_summary"]}
        flat.setdefault("rtp_stats", None)
        flat.setdefault("volatility_stats", None)
        return _diff_record("summary", flat, self.summary)

    def rows(self, i):
        return self.n_rows


class PoolEtlIncremental(Workload):
    name = "pool_etl_incremental"
    ops = 3
    k = 4

    def setup(self, spark, tag):
        from github_etl_pipeline_spark.sources.lookup import prepare_dim
        from github_etl_pipeline_spark.streaming.incremental import run_incremental_mtime

        n_files, lines = (8, 500) if self.tiny else (16, 2_000)
        base = os.path.join(self.work, tag)
        self.root = os.path.join(base, "corpus")
        self.store = os.path.join(base, "store")
        self.ledger = os.path.join(base, "ledger")
        self.files = pol_corpus.plan_corpus(self.seed, n_files, lines)
        pol_corpus.write_corpus(self.root, self.files, self.seed)
        self.lookup = pol_corpus.plan_lookup(self.files, self.seed)
        self.dim_agg = prepare_dim(spark.createDataFrame(self.lookup, LOOKUP_SCHEMA))
        loaded = run_incremental_mtime(
            spark, self.root, self.ledger, self.store, dim_agg=self.dim_agg
        )
        if loaded != len(self.files):
            raise RuntimeError(f"initial load took {loaded} of {len(self.files)} files")
        self.pick = np.random.default_rng([self.seed, 11])
        self.changed_log: list[int] = []
        self.touched_bytes: list[int] = []

    def prepare(self, i):
        idx = self.pick.choice(len(self.files), size=self.k, replace=False)
        self.touched = [self.files[j] for j in sorted(idx)]
        for f in self.touched:
            pol_corpus.write_pool_file(self.root, f, self.seed * 1000 + i + 1)
        self.touched_bytes.append(
            sum(os.path.getsize(os.path.join(self.root, f.rel_path)) for f in self.touched))

    def op(self, spark, i):
        from github_etl_pipeline_spark.session import sweep_caches
        from github_etl_pipeline_spark.streaming.incremental import run_incremental_mtime

        self.changed = run_incremental_mtime(
            spark, self.root, self.ledger, self.store, dim_agg=self.dim_agg
        )
        self.changed_log.append(self.changed)
        sweep_caches(spark)

    def check(self, i):
        if self.changed != self.k:
            return f"processed {self.changed} files, expected {self.k}"
        keys = [f.rel_path for f in self.touched]
        # the store's bucket directories are named _bucket=K
        table = pq.read_table(self.store, filters=[("source_file", "in", keys)],
                              ignore_prefixes=[".", "_SUCCESS"])
        got = {r["source_file"]: r for r in table.to_pylist()}
        if sorted(got) != sorted(keys):
            return f"store rows {sorted(got)} for touched files {keys}"
        for f in self.touched:
            want = pol_corpus.expected_record(f, self.lookup)
            if self.corrupt and i == 0:
                want["size"] += 1
            bad = _diff_record(f.rel_path, got[f.rel_path], want)
            if bad:
                return bad
        return None

    def rows(self, i):
        return sum(f.n_lines + f.typed for f in self.touched)


def _digest_exprs(schema):
    """Order-insensitive digest of a result, per column: non-null count
    plus an exact sum (integers, md5 prefixes of strings) or a float sum
    and absolute sum (fractional columns)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    exprs = [F.count(F.lit(1)).alias("rows")]
    for i, field in enumerate(schema.fields):
        c, t = F.col(f"`{field.name}`"), field.dataType
        exprs.append(F.count(c).alias(f"n{i}"))
        if isinstance(t, (T.IntegralType, T.BooleanType)):
            exprs.append(F.sum(c.cast("long").cast("decimal(38,0)")).alias(f"s{i}"))
        elif isinstance(t, (T.FractionalType,)):
            exprs.append(F.sum(c.cast("double")).alias(f"s{i}"))
            exprs.append(F.sum(F.abs(c.cast("double"))).alias(f"a{i}"))
        elif isinstance(t, T.StringType):
            h = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
            exprs.append(F.sum(h).alias(f"s{i}"))
    return exprs


def _kind(t) -> str:
    from pyspark.sql import types as T

    if isinstance(t, (T.IntegralType, T.BooleanType)):
        return "int"
    if isinstance(t, T.FractionalType):
        return "float"
    return "str" if isinstance(t, T.StringType) else "other"


def _python_digest(df, schema) -> dict:
    """The same digest computed in Python over a pandas result."""
    out = {"rows": len(df)}
    for i, field in enumerate(schema.fields):
        values = [v for v in df[field.name].tolist() if v is not None and v == v]
        out[f"n{i}"] = len(values)
        kind = _kind(field.dataType)
        if kind == "int":
            out[f"s{i}"] = sum(int(v) for v in values) if values else None
        elif kind == "float":
            out[f"s{i}"] = math.fsum(float(v) for v in values) if values else None
            out[f"a{i}"] = math.fsum(abs(float(v)) for v in values) if values else None
        elif kind == "str":
            out[f"s{i}"] = (
                sum(int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) for v in values)
                if values else None
            )
    return out


def _digest_diff(got: dict, want: dict) -> str | None:
    for key, w in want.items():
        g = got.get(key)
        if key.startswith("s") and f"a{key[1:]}" in want and w is not None and g is not None:
            scale = max(abs(want[f"a{key[1:]}"] or 0.0), 1.0)
            if abs(float(g) - float(w)) > 1e-9 * scale:
                return f"{key}: {g!r} vs {w!r}"
        elif key.startswith("a"):
            continue
        elif (int(g) if g is not None else None) != (int(w) if w is not None else None):
            return f"{key}: {g!r} vs {w!r}"
    return None


class QueryBatch(Workload):
    name = "query_batch"
    ops = len(QUERIES)

    def setup(self, spark, tag):
        from github_etl_pipeline_spark.plans import REGISTRY

        self.registry = REGISTRY
        self.sf_dir = os.path.join(self.work, tag, "tables")
        self.table_rows = tables.write_tables(self.sf_dir, self.seed, 0.001 if self.tiny else 0.01)
        self.first: dict[str, dict] = {}
        self.oracle: dict[str, dict] = {}
        self.timing: list[dict] = []
        self.duck = None  # DuckDB connection over this set-up's tables

    def query(self, i: int) -> tuple[str, str]:
        return QUERIES[i % len(QUERIES)]

    def op(self, spark, i):
        from pyspark.sql import Observation

        from github_etl_pipeline_spark.session import sweep_caches

        name, _ = self.query(i)
        t0 = time.perf_counter()
        if self.traced:
            spark.sparkContext.setJobGroup(f"op-{i}-build", name)
        df = self.registry[name].builder(spark, self.sf_dir)
        t1 = time.perf_counter()
        if self.traced:
            spark.sparkContext.setJobGroup(f"op-{i}-exec", name)
        obs = Observation(f"digest{i}")
        _noop(df.observe(obs, *_digest_exprs(df.schema)))
        digest = obs.get
        sweep_caches(spark)
        self.df, self.schema, self.digest = df, df.schema, digest
        self.timing.append({"build_s": t1 - t0, "exec_s": time.perf_counter() - t1})

    def _oracle_digest(self, name: str) -> dict:
        import duckdb

        if self.duck is None:
            self.duck = duckdb.connect()
            for t in self.table_rows:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return _python_digest(self.duck.execute(self.registry[name].oracle).df(), self.schema)

    def check(self, i):
        name, _ = self.query(i)
        got = dict(self.digest)
        if self.corrupt and i == 0:
            got["rows"] += 1
        first = self.first.setdefault(name, got)
        bad = _digest_diff(got, first)
        if bad:
            return f"{name} differs from its first run: {bad}"
        if self.registry[name].oracle is not None:
            if name not in self.oracle:
                self.oracle[name] = self._oracle_digest(name)
            bad = _digest_diff(got, self.oracle[name])
            if bad:
                return f"{name} differs from its DuckDB oracle: {bad}"
        return None

    def tables_read(self, name: str) -> list[str]:
        sql = self.registry[name].oracle or ""
        return [t for t in self.table_rows if re.search(rf"\b{t}\b", sql)]

    def rows(self, i):
        return sum(self.table_rows[t] for t in self.tables_read(self.query(i)[0]))


WORKLOADS = {w.name: w for w in (PoolEtlFull, PoolEtlIncremental, QueryBatch)}


"""SparkSession factory tuned for the target workload.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the configuration is
written so the same logical plans scale to a multi-executor cluster:
AQE handles runtime coalescing / skew splitting, shuffle partition count
defaults to the parallelism of the machine, and Arrow is enabled for the
few Pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "github-etl-pipeline-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    Notes on knobs:
      * ``spark.sql.shuffle.partitions`` — sized to machine parallelism for
        local runs. On a real cluster AQE coalesces post-shuffle partitions,
        so a high static value is safe; an undersized one is not.
      * ``spark.sql.adaptive.*`` — AQE on: runtime broadcast-join demotion/
        promotion, skew-join splitting, partition coalescing.
      * session timezone pinned to UTC — the reference stamps ISO-8601 UTC
        timestamps (etl/transform.py:253); pinning makes results
        environment-independent.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # r14 (guide §3.1/§9): allow shuffled hash join when a side fits
        # a per-partition hash map — sort-merge SORTS both sides, and the
        # banded-verify joins stream tens of millions of array-carrying
        # candidate rows whose sort dominated the whole pipeline (30x
        # decomposition: the second verify join added 54s of an 84s
        # minhash_recall_tuned; SHJ builds on the corpus side and never
        # sorts the wide stream). 30x same-session A/B: the tuned gate
        # 90.9 -> 66.9s, minhash_dup_pairs 1.27x, containment 1.17x,
        # split_leakage 1.10x, tpch q9/q21/q13 1.08-1.16x. The bound is
        # per-partition BYTES (stats < broadcastThreshold x shuffle
        # partitions, and 3x smaller than the stream side) — scale-
        # independent by construction; broadcast joins still win first
        # when a side is under the broadcast threshold. Env knob forces
        # SMJ back for A/B or for memory-tight clusters.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # AQE's runtime SMJ->SHJ rewrite is DELIBERATELY left off (its
        # default): measured at 30x it re-converted joins whose static
        # plans were identical and cost tpch_q18 a reproducible ~10%
        # (hash-map build beats sort only when the downstream doesn't
        # reuse the sort order; AQE's byte test cannot see that). The
        # static flip above carries all of the measured win.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
        # One Python worker daemon per session. Spark keys its worker
        # factory by environment, and the SQL runners (mapInArrow, pandas
        # UDFs) add SPARK_SIMPLIFIED_TRACEBACK to theirs while the RDD
        # runner (a list-built createDataFrame) does not, so a session
        # doing both starts two daemons, one after the other. Each cold
        # daemon compiles pyspark from $SPARK_HOME/python/lib/pyspark.zip
        # (1.2-1.4 s on a 4-core host). With this off, the first
        # mapInArrow after a Python-RDD job took 1.06 s instead of 2.21 s.
        # The cost: a failing UDF's traceback keeps PySpark's own frames.
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: StructType) -> DataFrame:
    """Driver-built ``rows`` (tuples in ``schema``'s field order) as a
    DataFrame built from Arrow. Spark plans it as a local relation (above
    ``spark.sql.execution.arrow.localRelationThreshold`` as Arrow batches
    read by the JVM), so reading it needs no Python worker, where
    ``createDataFrame`` over a Python list runs a Python RDD. A NaN stays
    NaN and a None is NULL."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(col, f.type) for col, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def sweep_caches(spark: SparkSession) -> None:
    """Drop every cached relation AND persisted RDD between measured or
    compared runs. Order matters: clear SQL-cache entries FIRST —
    ``rdd.unpersist()`` alone leaves a stale CacheManager entry that the
    next identical analyzed plan reuses WITHOUT re-storing
    (recompute-per-consumer, measured 3-10x slower), and an
    async-unpersist race can even serve stale rows if the table was
    rewritten in between. Shared by the measurement harness
    (tools/harness.py) so the comment lives once (ADVICE r8)."""
    spark.catalog.clearCache()
    for _id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        rdd.unpersist()


@contextmanager
def managed_caches(spark: SparkSession) -> Iterator[SparkSession]:
    """Structural cache contract (VERDICT r9 #6): sweep every cached
    relation on exit — success OR exception. Operators that persist-and-
    return document "caller must sweep"; this context makes that contract
    enforceable instead of documentary: a long-lived session composing
    two operators over a rewritten table can no longer leave a stale
    CacheManager entry alive past the block (the SQL cache keys on the
    ANALYZED PLAN, so a re-run over rewritten files would silently serve
    the old rows).

    Scope note: the sweep is SESSION-WIDE (Spark exposes no per-block
    cache registry), so use it where the block owns the session's caches
    — harness runs, ``run_pipeline``'s output surface, a ``foreachBatch``
    body — not around a fragment inside someone else's cached workload.
    """
    try:
        yield spark
    finally:
        sweep_caches(spark)

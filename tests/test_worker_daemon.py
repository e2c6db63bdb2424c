"""What the Python workers import: ``session.get_spark`` starts them
through ``worker_daemon``, so they run the driver's installed pyspark and
no archive of ``$SPARK_HOME`` stays on their ``sys.path``."""

import os

import pyspark


def _worker_paths(spark):
    """``pyspark.__file__`` and the ``.zip``/``.jar`` entries of
    ``sys.path``, as each of four Python tasks sees them."""

    def probe(batches):  # local, so cloudpickle ships it by value
        import sys

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        archives = [p for p in sys.path if p.endswith((".zip", ".jar"))]
        yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__], "archives": [archives]})

    df = spark.range(4, numPartitions=4).mapInArrow(probe, "file string, archives array<string>")
    return df.collect()


def test_workers_run_the_installed_pyspark(spark):
    spark_home = os.path.realpath(spark.sparkContext._jvm.System.getenv("SPARK_HOME"))
    rows = _worker_paths(spark)
    assert len(rows) == 4
    for row in rows:
        assert row.file == pyspark.__file__
        inside = [p for p in row.archives if os.path.realpath(p).startswith(spark_home + os.sep)]
        assert inside == [], f"Spark archives on a worker's sys.path: {inside}"


def test_driver_pyspark_matches_the_jvm(spark):
    """Workers import the driver's pyspark, not the one shipped with the
    JVM's Spark, so the two must be one release."""
    assert pyspark.__version__ == spark.version


def test_worker_path_merges_a_caller_value(monkeypatch):
    from github_etl_pipeline_spark import session

    key = "spark.executorEnv.PYTHONPATH"
    conf = session._worker_conf({key: os.pathsep.join(["/x", "/y"])})
    here = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    assert conf[key].split(os.pathsep)[0] == here
    assert conf[key].split(os.pathsep)[-2:] == ["/x", "/y"]
    assert conf["spark.python.daemon.module"] == "github_etl_pipeline_spark.worker_daemon"
    # a driver whose pyspark comes from a zip leaves the workers as Spark starts them
    monkeypatch.setattr(pyspark, "__file__", "/spark/python/lib/pyspark.zip/pyspark/__init__.py")
    assert session._worker_conf({key: "/x"}) == {}

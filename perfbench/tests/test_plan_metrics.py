"""The plan-metrics walker on a small known plan, through the AQE wrappers."""

import os

import pytest

from perfbench import plan_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_CONF_DIR"] = os.path.join(ROOT, "perfbench", "conf")
    os.environ.setdefault("SPARK_SHP_DRIVER_MEM", "1g")
    from spark_shp.session import get_spark

    s = get_spark("perfbench_tests", cpus=2)
    yield s
    s.stop()


def test_walk_reaches_join_python_and_shuffle_metrics(spark):
    from pyspark.sql import functions as F

    def _plus_one(batches):          # nested: pickled by value for workers
        for pdf in batches:
            pdf["id"] = pdf["id"] + 1
            yield pdf

    big = spark.range(0, 20000).withColumn("k", F.col("id") % 10)
    small = spark.range(0, 10).withColumnRenamed("id", "k")
    q = (big.join(F.broadcast(small), "k")
         .mapInPandas(_plus_one, "k long, id long")
         .groupBy("k").count())
    rows = q.collect()
    assert sum(r["count"] for r in rows) == 20000

    nodes = plan_metrics.of(q)
    names = [n["node"] for n in nodes]
    assert names[0] == "AdaptiveSparkPlanExec"
    assert any(n.endswith("QueryStageExec") for n in names)
    assert plan_metrics.first(nodes, "numOutputRows",
                              "BroadcastHashJoinExec") == 20000
    assert plan_metrics.first(nodes, "pythonNumRowsReceived",
                              "MapInPandasExec") == 20000
    assert plan_metrics.total(nodes, "pythonTotalTime") > 0
    assert plan_metrics.total(nodes, "shuffleBytesWritten") > 0


def test_task_skew_reads_the_job_group(spark):
    spark.sparkContext.setJobGroup("skew-test", "skew-test")
    spark.range(0, 100000, numPartitions=4).selectExpr(
        "sum(id)").collect()
    assert plan_metrics.slowest_stage_skew(spark, "skew-test") >= 1.0

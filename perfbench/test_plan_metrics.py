"""plan_metrics reads non-zero SQL metrics off a small executed plan.

    python3 -m pytest perfbench/test_plan_metrics.py -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from plan_metrics import QueryCapture, plan_metrics, summarize  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(HERE), os.environ.get("PYTHONPATH", "")])
    s = vm.get_spark(
        app_name="plan-metrics-test", master="local[2]", shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "1g",
                    "spark.ui.showConsoleProgress": "false",
                    # every task starts its own Python worker, so boot and
                    # init time are paid inside the plan
                    "spark.python.worker.reuse": "false",
                    # the sort spills after 100 rows
                    "spark.shuffle.spill.numElementsForceSpillThreshold": "100"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _plan(spark, path):
    from pyspark.sql import functions as F

    def slow_identity(batches):
        for pdf in batches:
            time.sleep(0.01)
            yield pdf

    spark.range(2000).selectExpr("id", "id % 7 AS k").write.parquet(path)
    small = spark.range(7).selectExpr("id AS k", "id * 10 AS v")
    return (
        spark.read.parquet(path)
        .repartition(4)
        .sortWithinPartitions("id")
        .mapInPandas(slow_identity, "id long, k long")
        .join(F.broadcast(small), "k")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )


def test_plan_metrics_reads_every_layer(spark, tmp_path):
    df = _plan(spark, str(tmp_path / "t.parquet"))
    assert len(df.collect()) == 7
    ops = plan_metrics(df)
    by_op = {}
    for row in ops:
        for k, v in row["metrics"].items():
            by_op.setdefault(row["op"], {}).setdefault(k, 0)
            by_op[row["op"]][k] += v
    py = by_op["MapInPandasExec"]
    for k in ("pythonTotalTime", "pythonBootTime", "pythonInitTime",
              "pythonDataSent", "pythonDataReceived", "pythonNumRowsReceived"):
        assert py[k] > 0, k
    ex = by_op["ShuffleExchangeExec"]
    assert ex["shuffleBytesWritten"] > 0 and ex["shuffleRecordsWritten"] > 0
    assert by_op["BroadcastExchangeExec"]["dataSize"] > 0
    assert by_op["BroadcastExchangeExec"]["buildTime"] > 0
    assert by_op["HashAggregateExec"]["peakMemory"] > 0
    assert by_op["SortExec"]["spillSize"] > 0
    assert by_op["FileSourceScanExec"]["numOutputRows"] == 2000
    assert by_op["FileSourceScanExec"]["scanTime"] > 0
    # AQE was unwrapped: no adaptive or query-stage wrapper is left
    assert not any(r["op"].endswith(("AdaptiveSparkPlanExec", "QueryStageExec"))
                   for r in ops)

    s = summarize([{"ops": ops}])
    assert s["map_python_s"] > 0 and s["map_rows_out"] == 2000
    assert s["shuffle_write_mb"] > 0 and s["broadcast_mb"] > 0
    assert s["peak_mem_mb"] > 0 and s["spill_mb"] > 0 and s["scan_s"] > 0
    assert s["python_boot_s"] > 0 and s["python_init_s"] > 0
    assert s["broadcast_build_s"] > 0


def test_capture_sees_actions_inside_a_write(spark, tmp_path):
    df = _plan(spark, str(tmp_path / "in.parquet"))
    with QueryCapture(spark) as cap:
        df.write.parquet(str(tmp_path / "out.parquet"))
        execs = cap.drain()
    assert execs, "the write's query execution was not captured"
    s = summarize(execs)
    assert s["map_python_s"] > 0 and s["map_rows_out"] == 2000
    assert s["shuffle_records"] > 0

"""Regenerate ``eventlog_fixture.json``: a small real Spark event log with
the spans that were open while it was written.

    python3 perfbench/tests/make_eventlog_fixture.py   # from the repo root

Three spans, one per kind of work the folder must attribute:
``row.shuffle`` (an aggregation with a shuffle), ``row.python`` (a pandas
UDF) and ``row.stream`` (a stateful ``availableNow`` stream, whose
micro-batch jobs run under the query's run-id job group, not the
caller's). Bulky fields the folder does not read are dropped so the
fixture stays small.
"""

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

TASK_METRICS = (
    "Executor Run Time",
    "JVM GC Time",
    "Disk Bytes Spilled",
    "Shuffle Write Metrics",
)
KEEP_PROPS = ("spark.sql.execution.id", "spark.jobGroup.id")
DROP_EVENTS = (
    "SparkListenerEnvironmentUpdate",
    "SparkListenerLogStart",
    "SparkListenerResourceProfileAdded",
    "SparkListenerBlockManagerAdded",
    "SparkListenerExecutorAdded",
    "SparkListenerApplicationStart",
    "SparkListenerApplicationEnd",
)


def _slim(e: dict) -> dict:
    e = {k: v for k, v in e.items() if k not in ("details", "physicalPlanDescription")}
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items() if k in KEEP_PROPS}
    if "Stage Infos" in e:
        e["Stage Infos"] = [{"Stage ID": s["Stage ID"]} for s in e["Stage Infos"]]
    if e["Event"] == "SparkListenerTaskEnd":
        e.pop("Task Executor Metrics", None)
        m = e["Task Metrics"]
        e["Task Metrics"] = {k: m[k] for k in TASK_METRICS if k in m}
        info = e["Task Info"]
        info["Accumulables"] = [
            a for a in info["Accumulables"] if a.get("Metadata") == "sql"
        ]
    if e["Event"] == "SparkListenerStageCompleted":
        e["Stage Info"].pop("Accumulables", None)
    return e


def main() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from eventlog import read_events
    from tracing import Tracer

    with tempfile.TemporaryDirectory() as tmp:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{tmp}")
            .config("spark.eventLog.compress", "false")
            .getOrCreate()
        )
        tracer = Tracer(True)
        spark.range(10).count()
        with tracer.span("row.shuffle"):
            spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        with tracer.span("row.python"):
            spark.range(100).select(plus_one("id")).collect()
        src = f"{tmp}/in"
        spark.range(50).withColumn("k", F.col("id") % 3).write.parquet(src)
        with tracer.span("row.stream"):
            stream = spark.readStream.schema("id long, k long").parquet(src)
            q = (
                stream.groupBy("k").count().writeStream.outputMode("complete")
                .format("memory").queryName("fixture_counts")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        time.sleep(0.2)
        spark.stop()
        (log_dir,) = [os.path.join(tmp, d) for d in os.listdir(tmp) if d.startswith("eventlog")]
        events = [
            _slim(e) for e in read_events(log_dir)
            if not e["Event"].endswith(DROP_EVENTS)
        ]
    spans = [vars(s) for s in tracer.spans]
    with open(os.path.join(HERE, "eventlog_fixture.json"), "w") as fh:
        json.dump({"spans": spans, "events": events}, fh, separators=(",", ":"))


if __name__ == "__main__":
    main()

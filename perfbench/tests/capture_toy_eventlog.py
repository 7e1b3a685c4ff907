"""Capture the toy event log that test_eventlog.py parses.

Runs three tiny jobs in three job groups on ``local[2]`` (a shuffle, a
pandas-UDF projection, and one job with no group), writes the uncompressed,
non-rolling event log, and keeps only the events and fields ``eventlog.py``
reads::

    python3 perfbench/tests/capture_toy_eventlog.py
"""

import glob
import json
import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart": ("Event", "Job ID", "Stage IDs", "Properties"),
    "SparkListenerTaskEnd": ("Event", "Stage ID", "Stage Attempt ID", "Task Info", "Task Metrics"),
}


def main() -> None:
    logs = tempfile.mkdtemp(dir=os.path.join(HERE, "data"))
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logs)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext

    @F.pandas_udf(DoubleType())
    def half(v):
        return v / 2.0

    sc.setJobGroup("shuffle", "shuffle", False)
    spark.range(1000).select((F.col("id") % 7).alias("k")).groupBy("k").count().collect()
    sc.setJobGroup("udf", "udf", False)
    spark.range(100).select(half(F.col("id").cast("double")).alias("h")).agg(F.sum("h")).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()
    spark.stop()
    (log,) = glob.glob(os.path.join(logs, "*"))
    with open(log) as src, open(os.path.join(HERE, "data", "toy_eventlog.jsonl"), "w") as dst:
        for line in src:
            ev = json.loads(line)
            if ev.get("Event") not in KEEP:
                continue
            ev = {k: ev[k] for k in KEEP[ev["Event"]] if k in ev}
            if "Properties" in ev:
                ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"}
            if "Task Info" in ev:
                ev["Task Info"] = {"Accumulables": ev["Task Info"].get("Accumulables", [])}
            dst.write(json.dumps(ev) + "\n")
    shutil.rmtree(logs)


if __name__ == "__main__":
    main()

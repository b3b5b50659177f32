"""Re-record ``small_eventlog.json``, the event log the roll-up test reads.

    python3 perfbench/tests/record_eventlog.py

Runs three tagged jobs on local[2]: a round-robin repartition over a
parquet scan (group ``rebalance``), a pandas UDF (group ``python``) and a
parquet write (group ``write``).  The log keeps only the events and fields
the roll-up reads, with the temporary directory written as ``/data``.
"""

import glob
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "small_eventlog.json")


def main() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        src = os.path.join(tmp, "src.parquet")
        spark.range(0, 5000, 1, 1).write.parquet(src)

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc.setJobGroup("rebalance", "rebalance")
        spark.read.parquet(src).repartition(4).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("python", "python")
        spark.range(0, 1000, 1, 2).select(plus_one("id")).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("write", "write")
        spark.range(0, 1000, 1, 2).write.parquet(os.path.join(tmp, "out.parquet"))
        spark.stop()
        (log,) = glob.glob(os.path.join(events, "*"))
        with open(log) as f, open(OUT, "w") as out:
            for line in f:
                ev = _trim(json.loads(line))
                if ev is not None:
                    out.write(json.dumps(ev).replace(tmp, "/data") + "\n")
    print(f"wrote {OUT}", file=sys.stderr)


_KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time", "Job Result"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task End Reason", "Task Info", "Task Metrics"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
        ("executionId", "jobGroupId", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate":
        ("executionId", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates": ("executionId", "accumUpdates"),
}


def _trim(ev: dict):
    keep = _KEEP.get(ev["Event"])
    if keep is None:
        return None
    out = {"Event": ev["Event"], **{k: ev[k] for k in keep if k in ev}}
    if "Properties" in out:
        out["Properties"] = {"spark.jobGroup.id": out["Properties"].get("spark.jobGroup.id")}
    if "Stage Info" in out:
        out["Stage Info"] = {"Stage ID": out["Stage Info"]["Stage ID"]}
    return out


if __name__ == "__main__":
    main()

"""Regenerate ``eventlog_small.json``: a tiny local session with the
benchmark's event-log confs that runs one untagged warm-up job, a
shuffle aggregation under job group ``agg`` and a ``mapInPandas`` stage
under job group ``py``; only the listener events the parser reads are
kept, trimmed.

    python3 perfbench/tests/data/make_eventlog.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def _trim(ev: dict) -> None:
    """Drop what the parser never reads, to keep the file small."""
    ev.pop("Stage Infos", None)
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in ev["Properties"].items()
                            if k == "spark.jobGroup.id"}
    if "Stage Info" in ev:
        ev["Stage Info"] = {"Stage ID": ev["Stage Info"]["Stage ID"]}


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(HERE))))
    from pyspark.sql import SparkSession

    from perfbench.tracing import event_log_confs

    log_dir = tempfile.mkdtemp(prefix="perfbench_eventlog_")
    b = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
    for k, v in event_log_confs(log_dir).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    app_id = sc.applicationId
    spark.range(10).count()
    sc.setJobGroup("agg", "agg")
    spark.range(0, 2000, numPartitions=2).selectExpr("id % 7 AS k") \
        .groupBy("k").count().collect()
    sc.setJobGroup("py", "py")
    spark.range(0, 500, numPartitions=2).mapInPandas(
        lambda it: (df.assign(id=df.id * 2) for df in it), "id long").collect()
    spark.stop()
    with open(os.path.join(log_dir, app_id)) as f, \
            open(os.path.join(HERE, "eventlog_small.json"), "w") as out:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] in KEEP:
                _trim(ev)
                out.write(json.dumps(ev, separators=(",", ":")) + "\n")
    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

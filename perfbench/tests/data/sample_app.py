"""Records ``eventlog_small.jsonl``, the event-log fixture of
test_eventlog.py: a grouped query, a grouped parquet write (no Python
call site), a job from a helper thread (no job group) and a failing job.

    python3 perfbench/tests/data/sample_app.py

Run from the repository root; needs a working pyspark.
"""

import json
import os
import shutil
import sys
import tempfile
import threading


def query(spark):
    return spark.range(1000).groupBy("id").count().collect()


def write(spark, out):
    spark.range(100).write.mode("overwrite").parquet(out)


def helper(spark):
    t = threading.Thread(target=lambda: spark.range(10).count())
    t.start()
    t.join()


def failing(spark):
    try:
        spark.range(10).rdd.map(lambda x: 1 / 0).collect()
    except Exception:
        pass


KEEP_PROPS = ("spark.jobGroup.id", "callSite.short")
KEEP_METRICS = ("Executor Run Time", "JVM GC Time", "Disk Bytes Spilled",
                "Shuffle Write Metrics", "Input Metrics")


def trim(ev, here):
    """Keep what perfbench.eventlog reads; call sites relative to the repo."""
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = {k: v for k, v in (ev.get("Properties") or {}).items() if k in KEEP_PROPS}
        if "callSite.short" in props:
            props["callSite.short"] = props["callSite.short"].replace(here, "perfbench/tests/data/sample_app.py")
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"], "Properties": props}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"],
                "Job Result": {"Result": ev["Job Result"]["Result"]}}
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task End Reason": {"Reason": ev["Task End Reason"]["Reason"]},
                "Task Info": {k: info[k] for k in ("Launch Time", "Finish Time", "Failed")},
                "Task Metrics": {k: v for k, v in (ev.get("Task Metrics") or {}).items() if k in KEEP_METRICS}}
    return None


def main():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    sys.path.insert(0, root)
    from perfbench.eventlog import event_files

    tmp = tempfile.mkdtemp()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{tmp} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setJobGroup("query", "query")
    query(spark)
    write(spark, os.path.join(tmp, "out"))
    spark.sparkContext.setJobGroup("helper", "helper")
    helper(spark)
    spark.sparkContext.setJobGroup("failing", "failing")
    failing(spark)
    spark.stop()
    out = []
    for path in event_files(tmp):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            out += [e for e in (trim(json.loads(line), os.path.abspath(__file__)) for line in f) if e]
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_small.jsonl"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in out)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()

"""Record the small event log and spans that test_spans.py reads.

Run from the repository root: python3 perfbench/testdata/record_eventlog.py
It writes eventlog_small.jsonl and spans_small.json next to this file.
"""

import json
import os
import shutil
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.dirname(HERE)]

from pqc.session import get_spark  # noqa: E402
from spans import SQL_START, Tracer  # noqa: E402


def identity(batches):
    yield from batches


def main() -> None:
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    logdir = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    spark = get_spark(2, "perfbench-eventlog-fixture", {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + logdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    df = spark.range(0, 2000, numPartitions=4).selectExpr("id", "id % 7 AS k")
    tr = Tracer(spark=spark)
    with tr.span("pass"):
        with tr.span("agg"):  # job group set: attributed by group
            df.groupBy("k").count().collect()
        with tr.span("python"):  # a stage with a Python operator
            df.mapInPandas(identity, df.schema).write.format("noop").mode("overwrite").save()
        with tr.span("threads"):  # no job group on pool threads: by time
            with ThreadPoolExecutor(2) as ex:
                list(ex.map(lambda d: d.count(), [df, df.filter("k > 2")]))
    app = spark.sparkContext.applicationId
    spark.stop()
    keep = ("SparkListenerJobStart", "SparkListenerJobEnd",
            "SparkListenerStageCompleted", "SparkListenerTaskEnd", SQL_START)
    with open(os.path.join(logdir, app)) as src, \
            open(os.path.join(HERE, "eventlog_small.jsonl"), "w") as dst:
        for line in src:
            ev = json.loads(line)
            if ev["Event"] not in keep:
                continue
            for key in ("Stage Info", "Task Info"):
                ev.get(key, {}).pop("Accumulables", None)
            if ev["Event"] == "SparkListenerJobStart":
                ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k in (
                    "spark.jobGroup.id", "callSite.short", "spark.sql.execution.id")}
            if ev["Event"] == SQL_START:
                ev = {k: ev[k] for k in ("Event", "executionId", "description", "time")}
            # call sites relative to the repository root
            dst.write(json.dumps(ev).replace(ROOT + os.sep, "") + "\n")
    with open(os.path.join(HERE, "spans_small.json"), "w") as fh:
        json.dump(tr.dump(), fh, indent=1)
    shutil.rmtree(logdir)


if __name__ == "__main__":
    main()

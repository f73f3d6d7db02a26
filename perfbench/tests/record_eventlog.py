"""Record the small event log the parser tests read.

  python3 perfbench/tests/record_eventlog.py

Runs one traced ``ocr_skew`` pass over 16 small pages, one 2048² page and
one poison page on ``local[4]``, then writes next to this file:

* ``data/ocr_pass.events.json.gz``: the event log, cut down to the events
  and fields ``eventlog.EventLog`` reads;
* ``data/ocr_pass.trace.json``: the tracer's spans and pass records.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import run, trace, workloads  # noqa: E402

_KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd",
    "SparkListenerStageCompleted", "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui."
    "SparkListenerSQLAdaptiveExecutionUpdate",
}


def _plan(node: dict) -> dict:
    return {"nodeName": node.get("nodeName", ""),
            "simpleString": node.get("simpleString", ""),
            "metrics": node.get("metrics", []),
            "children": [_plan(c) for c in node.get("children", [])]}


def trim(e: dict) -> dict | None:
    """The event with only the fields the parser reads, or None."""
    kind = e.get("Event")
    if kind not in _KEEP:
        return None
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {k: props[k] for k in (
                    "spark.job.description", "spark.sql.execution.id")
                    if k in props}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Completion Time": e["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        return {"Event": kind, "Stage Info": {
            k: si[k] for k in ("Stage ID", "Submission Time",
                               "Completion Time") if k in si}}
    if kind == "SparkListenerTaskEnd":
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        return {"Event": kind, "Stage ID": e["Stage ID"], "Task Info": {
            "Accumulables": [{"ID": a["ID"], "Update": a.get("Update")}
                             for a in ti.get("Accumulables", [])
                             if not str(a.get("Name", "")).startswith(
                                 "internal.")]},
            "Task Metrics": {k: tm[k] for k in (
                "Executor Run Time", "Executor CPU Time", "JVM GC Time",
                "Memory Bytes Spilled", "Disk Bytes Spilled",
                "Shuffle Write Metrics", "Input Metrics") if k in tm}}
    return {"Event": kind, "sparkPlanInfo": _plan(e["sparkPlanInfo"])}


def main() -> None:
    base = os.path.join(os.getcwd(), ".bench_cache", "perfbench", "record")
    shutil.rmtree(base, ignore_errors=True)
    inp = os.path.join(base, "input")
    os.makedirs(inp)
    truth = workloads.gen_ocr(7, inp, pages=16, files=4, large=1, poison=1)
    work = os.path.join(base, "work")
    tracer = trace.Tracer("ocr_skew", work, os.path.join(base, "spans.json"),
                          inp)
    run._configure_env(work, tracer.event_dir)
    spark, _ = run.setup("ocr_skew", 4)
    try:
        tracer.install(spark)
        res = run.run_one_pass(spark, "ocr_skew", inp,
                               os.path.join(work, "out"), truth, None,
                               tracer, traced=True)
    finally:
        run._stop_spark(spark)
    if res["problems"]:
        raise SystemExit(f"pass failed its checks: {res['problems']}")
    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    events = os.path.join(data, "ocr_pass.events.json.gz")
    with gzip.open(events + ".tmp", "wt") as out:
        for name in sorted(os.listdir(tracer.event_dir)):
            d = os.path.join(tracer.event_dir, name)
            files = ([os.path.join(d, f) for f in sorted(os.listdir(d))]
                     if os.path.isdir(d) else [d])
            for f in files:
                if not os.path.basename(f).startswith("events"):
                    continue
                with open(f) as fh:
                    for line in fh:
                        t = trim(json.loads(line))
                        if t is not None:
                            out.write(json.dumps(t) + "\n")
    os.replace(events + ".tmp", events)
    with open(os.path.join(data, "ocr_pass.trace.json"), "w") as f:
        json.dump({"spans": tracer.spans, "passes": tracer.passes}, f)
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Warm-JVM extraction benchmark. One run = one workload in one fresh
driver process on ``local[nproc]``.

  python3 perfbench/run.py --workload ocr_skew --seed 1 --seconds 10 --trace 0

Flow of a run:

1. Generate the workload's inputs from ``--seed`` (cached under
   ``.bench_cache/perfbench/inputs``; the same seed gives the same bytes).
2. Set up: imports, ``session.get_spark``, ``weights.build_weights`` (OCR
   workload) and one minimal job that forks the Python workers. The sum
   is ``setup_s``.
3. Warm up: one untimed cold pass (``job.cold_pass_s`` in a traced run).
   Timing a cold JVM is what made an earlier version of this benchmark
   too noisy: the same code's medians moved 5-9 % between sets of runs.
   The JVM runs with the C1 compiler only (``JIT_OPTS``), which settles
   within that pass; the diagnostics line shows the wall and JVM CPU
   time of every pass so any drift stays visible.
4. Time passes until ``--seconds`` of pass time is collected (at least
   ``MIN_TIMED_PASSES``) and report medians. Every pass writes to a fresh
   output root and is checked against the generator's ground truth; a
   failed check makes the run exit non-zero.
5. Print one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, see ``trace.py``).

Everything the run writes stays under ``.bench_cache/perfbench`` in the
directory it is started from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import procstat, trace, workloads as wl  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402

MIN_TIMED_PASSES = 2
END_TO_END_UNITS = {"setup_s": "s", "pages_per_s": "1/s",
                    "cpu_s_per_kpage": "s", "out_bytes_per_page": "bytes"}
# The session's default 8g driver heap lets G1 grow the JVM past 7 GB on
# crawl_dedup; 2g keeps a run small on a shared host.
DRIVER_MEMORY = "2g"
# C1-only JIT: with the default tiered C2 the JVM CPU per crawl_dedup pass
# fell 68 → 35 → 25 s over a run's first three passes, so timed passes
# drifted; C1 reaches its steady state in the first (untimed) pass.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def _configure_env(work: str, event_dir: str | None) -> None:
    """Keep the JVM, Spark and the Python workers writing inside ``work``
    and, for a traced run, turn on Spark's uncompressed event log."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # no /tmp/hsperfdata files, from spark-submit's launcher JVM either
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    args = [f"--driver-java-options \"{jvm_opts} {JIT_OPTS}\"",
            "--conf spark.ui.showConsoleProgress=false"]
    if event_dir:
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{event_dir}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop Spark, shut down the JVM and wait until no process this run
    started is left."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in procstat.tree_pids() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in procstat.tree_pids():
        if p != os.getpid():
            try:
                os.kill(p, 9)
            except OSError:
                pass
    for p in [p for p in procstat.tree_pids() if p != os.getpid()]:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def setup(workload: str, nproc: int) -> tuple[object, dict]:
    """Session, weights and one minimal job that forks the Python
    workers. Returns (spark, timings in seconds)."""
    from tuatara_spark import weights as wt
    from tuatara_spark.session import get_spark
    t = {}
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    t["session.start_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    if workload == "ocr_skew":
        wt.build_weights(42)
    t["weights.build_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInArrow(
        lambda it: it, "id long").count()
    t["setup.first_job_s"] = time.perf_counter() - t0
    return spark, t


def run_one_pass(spark, workload: str, input_dir: str, out_root: str,
                 truth: dict, jvm_pid: int | None, tracer=None,
                 traced: bool = False) -> dict:
    """One pass into a fresh ``out_root``, checked, then deleted."""
    shutil.rmtree(out_root, ignore_errors=True)
    if tracer is not None:
        tracer.begin_pass(traced)
    cpu0 = procstat.tree_cpu_s()
    jvm0 = procstat.cpu_s_of(jvm_pid) if jvm_pid else 0.0
    t0 = time.perf_counter()
    summary = wl.run_pass(spark, workload, input_dir, out_root)
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s() - cpu0
    jvm = (procstat.cpu_s_of(jvm_pid) - jvm0) if jvm_pid else 0.0
    rows = truth["rows"]
    if tracer is not None:
        tracer.end_pass(out_root, rows)
    wrong, problems = wl.check_pass(workload, truth, out_root, summary)
    res = {"wall_s": wall, "rows": rows, "cpu_s": cpu, "jvm_cpu_s": jvm,
           "wrong": wrong, "problems": problems, "traced": traced,
           "out_bytes": wl.data_bytes(out_root)}
    shutil.rmtree(out_root, ignore_errors=True)
    return res


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import pyarrow  # noqa: F401
    import pyspark  # noqa: F401

    import tuatara_spark  # noqa: F401 - absent outside a full checkout
    imports_s = procstat.process_age_s()

    base = os.path.join(os.getcwd(), ".bench_cache", "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    gen_dir = wl.generate(args.workload, args.seed,
                          os.path.join(base, "inputs"))
    truth = wl.load_truth(gen_dir)
    input_dir = os.path.join(gen_dir, "input")

    tracer = None
    if args.trace:
        tracer = trace.Tracer(
            args.workload, work, input_dir=input_dir,
            spans_path=os.path.join(base, "traces", f"{args.workload}-s"
                                    f"{args.seed}-{os.getpid()}.json"))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    _configure_env(work, tracer.event_dir if tracer else None)
    steal0 = procstat.steal_s()
    calib0 = procstat.cpu_calib_ms()
    nproc = len(os.sched_getaffinity(0))

    passes: list[dict] = []
    out = os.path.join(work, "out")
    spark = None
    try:
        with procstat.MemorySampler() as mem:
            spark, setup_t = setup(args.workload, nproc)
            setup_s = imports_s + sum(setup_t.values())
            if tracer is not None:
                tracer.install(spark)
            jvm = procstat.jvm_pid(os.getpid())

            def one(traced: bool = False) -> dict:
                return run_one_pass(spark, args.workload, input_dir, out,
                                    truth, jvm, tracer, traced)
            cold = one()
            if tracer is None:
                elapsed = 0.0
                while (elapsed < args.seconds
                       or len(passes) < MIN_TIMED_PASSES):
                    passes.append(one())
                    elapsed += passes[-1]["wall_s"]
            else:  # wrappers off, on, off, on: overhead without drift
                passes = [one(traced=k % 2 == 1) for k in range(4)]
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(os.path.join(work, "local"), ignore_errors=True)
    diag = {"host.steal_s": procstat.steal_s() - steal0,
            "host.cpu_calib_ms_before": calib0,
            "host.cpu_calib_ms_after": procstat.cpu_calib_ms()}
    print(json.dumps({"diagnostics": {
        **diag, "imports_s": imports_s, **setup_t,
        "jvm_cpu_s": [r["jvm_cpu_s"] for r in [cold] + passes],
        "pass_wall_s": [r["wall_s"] for r in [cold] + passes]}}))

    problems = [m for r in [cold] + passes for m in r["problems"]]
    for m in problems[:20]:
        print("CHECK FAILED:", m, file=sys.stderr)
    attempted = sum(r["rows"] for r in passes)
    failed = sum(r["wrong"] for r in passes)

    def rate(rs):
        return statistics.median(r["rows"] / r["wall_s"] for r in rs)
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "pages_per_s": rate(passes),
            "cpu_s_per_kpage": statistics.median(
                r["cpu_s"] / r["rows"] * 1000 for r in passes),
            "out_bytes_per_page": statistics.median(
                r["out_bytes"] / r["rows"] for r in passes),
        }
        units = END_TO_END_UNITS
    else:
        values = trace_metrics(tracer, args.workload, input_dir, truth,
                               nproc, setup_t, cold, passes, diag)
        values.update({"spark.peak_jvm_rss_mb": mem.peak_jvm / 2**20,
                       "engine.peak_tree_rss_mb": mem.peak / 2**20,
                       "engine.peak_python_processes": mem.peak_python})
        units = trace.layer_units()
    shutil.rmtree(work, ignore_errors=True)
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": float(values[k]), "unit": u}
                                  for k, u in units.items()}}))
    return 0 if correct else 1


def trace_metrics(tracer, workload: str, input_dir: str, truth: dict,
                  nproc: int, setup_t: dict, cold: dict, passes: list[dict],
                  diag: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run (names and units: layers.json)."""
    tracer.write_spans()
    layer = tracer.layer_metrics(EventLog.read(tracer.event_dir), nproc)
    layer.update({"session.start_s": setup_t["session.start_s"],
                  "weights.build_s": setup_t["weights.build_s"],
                  "job.cold_pass_s": cold["wall_s"]})
    if workload == "ocr_skew":
        layer.update(trace.time_ref_stages(input_dir, truth))
    else:
        layer.update({f"ref.{s}_ms_per_page": 0.0 for s in trace.REF_STAGES})
        layer.update({"ref.regions_per_page": 0.0,
                      "ref.small_page_detect_share": 0.0,
                      "ref.large_page_resize_share": 0.0})
    on = [r for r in passes if r["traced"]]
    off = [r for r in passes if not r["traced"]]
    on_rate = statistics.median(r["rows"] / r["wall_s"] for r in on)
    off_rate = statistics.median(r["rows"] / r["wall_s"] for r in off)
    layer["trace.pages_per_s"] = on_rate
    layer["trace.overhead_ratio"] = off_rate / on_rate
    layer.update(diag)
    return layer


if __name__ == "__main__":
    sys.exit(main())

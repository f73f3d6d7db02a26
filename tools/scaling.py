#!/usr/bin/env python
"""Parallelism scaling of one pipeline: the same job on the same input
at several local[N] levels, as a single-box stand-in for N vs 4N
executors.

Usage: python tools/scaling.py <extract|job|warc|tier>

A pipeline is an input builder (paths of a 1× and a 4× input) and a
chain function (run the job on one input, return its output row count):
the OCR extraction kernel, the shipped OCR job (``job.run_extract``:
buckets, groups, commits) on the kernel's inputs, the crawl front end
over .warc.gz files, or the composed tier pipeline over a synthesized
crawl table.

Method. Levels run from nproc down by factors of 4 (2, 8, 32 on 32
cores; 1, 4 on 4). Each level gets a fresh session with the shuffle
width pinned across levels (production sizes it by data, not by
executor count), one untimed warm-up pass (worker forks, imports,
codegen), then the best of REPS timed passes on each input. Levels
run in ROUNDS interleaved rounds and keep their best time, because CPU
speed on a shared VM drifts between sessions more than within one.

With T(n) ≈ fixed + n·per_row, the 1× and 4× times give the fixed
seconds and the marginal (slope) rows/s per level. Each adjacent pair
of levels reports the raw speedup and efficiency on the 4× input and
the efficiency on the slope, which strips the fixed per-run floor
(job set-up, driver gaps, the final collect).

Writes BENCH/<name>.json, replaces the pipeline's section of
BENCH/BASELINE.md, and prints one JSON line.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from typing import Callable, NamedTuple

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

ROUNDS = 3
REPS = 2
SHUFFLE_PARTITIONS = 64
BASELINE_MD = os.path.join(REPO_ROOT, "BENCH", "BASELINE.md")
HEADER = ("# BENCH/BASELINE — parallelism scaling\n\nEach section is "
          "written by `python tools/scaling.py <pipeline>`.\n")


def levels(ncpu: int | None = None) -> tuple[int, ...]:
    """nproc, nproc//4, nproc//16, … while ≥ 1, in ascending order."""
    n = ncpu or os.cpu_count() or 1
    out = []
    while n >= 1:
        out.append(n)
        n //= 4
    return tuple(reversed(out))


def decompose(cores: int, t_1x: float, t_4x: float,
              rows_1x: int, rows_4x: int) -> dict:
    """Fixed seconds and marginal rows/s from the 1× and 4× times."""
    per_row = (t_4x - t_1x) / (rows_4x - rows_1x)
    return {"cores": cores, "rows_1x": rows_1x, "rows_4x": rows_4x,
            "t_1x": round(t_1x, 3), "t_4x": round(t_4x, 3),
            "fixed_sec": round(t_1x - per_row * rows_1x, 3),
            "slope_rows_per_sec": (round(1 / per_row, 1) if per_row > 0
                                   else None),
            "rows_per_sec": round(rows_4x / t_4x, 1)}


def pair(lo: dict, hi: dict) -> dict:
    """Speedup and efficiency from level ``lo`` to level ``hi``."""
    ratio = hi["cores"] / lo["cores"]
    speedup = lo["t_4x"] / hi["t_4x"]
    slope = (hi["slope_rows_per_sec"] / lo["slope_rows_per_sec"] / ratio
             if lo["slope_rows_per_sec"] and hi["slope_rows_per_sec"]
             else None)
    return {"cores": [lo["cores"], hi["cores"]],
            "speedup": round(speedup, 3),
            "efficiency": round(speedup / ratio, 3),
            "slope_efficiency": None if slope is None else round(slope, 3)}


def extract_inputs() -> tuple[str, str]:
    from bench import bench_pages_path
    return bench_pages_path(0.05)[0], bench_pages_path(0.2)[0]


@functools.lru_cache(maxsize=None)
def _weights():
    from tuatara_spark import weights as wt
    return wt.build_weights(42)


def extract_chain(spark, path: str) -> int:
    from tuatara_spark import engine
    return engine.extract_df(spark.read.parquet(path),
                             weights=_weights()).count()


def job_chain(spark, path: str) -> int:
    """The shipped OCR job end to end with its defaults (salt shuffle
    over 2 × cores tasks): bucket, extract (which also counts), write
    and commit, 64 buckets in 4 groups, into a fresh table root that is
    deleted after the pass."""
    import tempfile

    from tuatara_spark import job
    with tempfile.TemporaryDirectory(prefix="scaling-job-") as root:
        return job.run_extract(spark, path, root, num_buckets=64,
                               groups=4)["totals"]["pages"]


def warc_inputs() -> tuple[str, str]:
    from bench import bench_warc_path
    return bench_warc_path(2.0, 200)[0], bench_warc_path(8.0, 200)[0]


def warc_chain(spark, path: str) -> int:
    from pyspark.sql import functions as F

    from tuatara_spark.ops import encoding, htmlx
    from tuatara_spark.sources import warc as W
    recs = W.read_warc(spark, path)
    decoded = encoding.sniff_decode(recs.where(F.col("error") == ""))
    stripped = htmlx.strip_boilerplate(decoded, col="text")
    return stripped.selectExpr("count(*) AS n").collect()[0][0]


TIER_DOCS = 400_000
# ~25% stopwords so the JusText prose-density test sees realistic text;
# the rest are content tokens (the classifier only counts, so the
# vocabulary can be synthetic).
_VOCAB = (
    "the of and to in a is that it was for on are with as at by this "
    "from or had not but what all were when your can said there use "
    "each which she how their will other about out many then them "
    "these some her would make like him into time has look two more "
    "write go see number way could people my than first water been "
    "call who oil its now find long down day did get come made may").split()
_DUP_TEXT = ("the quick brown fox jumps over the lazy dog and the "
             "dog was not amused by this at all")


def _tier_html_sql() -> str:
    """html over (doc_id): nav/footer chrome around doc_id-derived prose,
    with every 11th document a planted exact duplicate."""
    elts = ", ".join(f"'{w}'" for w in _VOCAB)
    words = (f"array_join(transform(sequence(1, 20 + int(doc_id % 30)), "
             f"i -> element_at(array({elts}), "
             f"1 + int(pmod(doc_id * 131 + i * 29, {len(_VOCAB)})))), ' ')")
    prose = (f"CASE WHEN doc_id % 11 = 3 THEN '{_DUP_TEXT}' "
             f"ELSE {words} END")
    return (
        "concat('<html><body><div id=\"m\"><a href=\"/\">home</a> "
        "<a href=\"/about\">about</a> <a href=\"/c\">contact</a></div><p>', "
        f"{prose}, "
        "'</p><p>n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11 n12</p>"
        "<div>copyright 2026 <a href=\"/terms\">terms</a> "
        "<a href=\"/p\">privacy</a></div></body></html>')")


def tier_inputs() -> tuple[str, str]:
    """(doc_id, lang, html) tables of TIER_DOCS/4 and TIER_DOCS rows,
    written once as 64 parquet files each."""
    from pyspark.sql import functions as F

    from tuatara_spark.session import get_spark
    paths = []
    for n in (TIER_DOCS // 4, TIER_DOCS):
        path = os.path.join(REPO_ROOT, ".bench_cache", f"tier_docs_{n}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            spark = get_spark("tier-scaling-build")
            (spark.range(n).withColumnRenamed("id", "doc_id")
             .select("doc_id",
                     F.expr("element_at(array('en','fr','de'), "
                            "1 + int(doc_id % 3))").alias("lang"),
                     F.expr(_tier_html_sql()).alias("html"))
             .repartition(64).write.mode("overwrite").parquet(path))
            spark.stop()
        paths.append(path)
    return paths[0], paths[1]


def tier_chain(spark, path: str) -> int:
    from tuatara_spark.ops import dedup, tier
    out = tier.tier_extract(spark.read.parquet(path), stop_pct=10)
    n = out.selectExpr("count(*) AS n").collect()[0][0]
    # tier_extract persists its fan-out nodes; release them so every
    # pass starts from the same cold cache
    dedup.release_caches()
    return n


class Pipeline(NamedTuple):
    title: str            # BASELINE.md section heading, also its marker
    unit: str
    json_name: str        # report file under BENCH/
    inputs: Callable[[], tuple[str, str]]
    chain: Callable[[object, str], int]


PIPELINES = {
    "extract": Pipeline("Extraction scaling (TPBIT decode → detect → "
                        "recognize)", "pages", "scaling.json",
                        extract_inputs, extract_chain),
    "job": Pipeline("Extraction job scaling (run_extract: bucket → salt "
                    "shuffle → extract → write → counters → commit)",
                    "pages", "job_scaling.json", extract_inputs, job_chain),
    "warc": Pipeline("Crawl front-end scaling (WARC parse → decode → "
                     "strip)", "pages", "warc_scaling.json",
                     warc_inputs, warc_chain),
    "tier": Pipeline("Tier-extraction scaling (gate → JusText → dedup → "
                     "LM tertiles)", "docs", "tier_scaling.json",
                     tier_inputs, tier_chain),
}


def run_level(p: Pipeline, cores: int, small: str, big: str) -> list:
    """Best-of-REPS [t_1x, t_4x, rows_1x, rows_4x] in one fresh session."""
    from tuatara_spark.session import get_spark
    spark = get_spark(f"scaling-{cores}-{time.time()}", cores=cores,
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    p.chain(spark, small)
    best = [float("inf"), float("inf"), 0, 0]
    for _ in range(REPS):
        for i, path in enumerate((small, big)):
            t0 = time.perf_counter()
            best[2 + i] = p.chain(spark, path)
            best[i] = min(best[i], time.perf_counter() - t0)
    spark.stop()
    return best


def steal_s() -> float:
    """Host-wide CPU steal seconds so far (/proc/stat; 0 if unreadable)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except OSError:
        return 0.0


def measure(name: str) -> dict:
    from bench import cpu_calibration_ms
    p = PIPELINES[name]
    small, big = p.inputs()
    lv = levels()
    calib_before = cpu_calibration_ms()
    steal_before = steal_s()
    best = {c: [float("inf"), float("inf"), 0, 0] for c in lv}
    for _ in range(ROUNDS):
        for c in lv:
            t1, t4, n1, n4 = run_level(p, c, small, big)
            best[c] = [min(best[c][0], t1), min(best[c][1], t4), n1, n4]
    rows = [decompose(c, *best[c]) for c in lv]
    return {"pipeline": name, "unit": p.unit, "rounds": ROUNDS,
            "reps": REPS, "shuffle_partitions": SHUFFLE_PARTITIONS,
            "levels": rows,
            "pairs": [pair(lo, hi) for lo, hi in zip(rows, rows[1:])],
            "cpu_calib_ms": calib_before,
            "cpu_calib_ms_after": cpu_calibration_ms(),
            "steal_s": round(steal_s() - steal_before, 1)}


def render(report: dict) -> str:
    p = PIPELINES[report["pipeline"]]
    lv = report["levels"]
    out = [f"## {p.title}\n\n",
           f"`python tools/scaling.py {report['pipeline']}` → "
           f"BENCH/{p.json_name}: "
           f"{lv[0]['rows_1x']} (1×) and {lv[0]['rows_4x']} (4×) "
           f"{p.unit}, best of {report['rounds']} rounds × "
           f"{report['reps']} passes, shuffle width "
           f"{report['shuffle_partitions']}, cpu_calib "
           f"{report['cpu_calib_ms']} → {report['cpu_calib_ms_after']} ms"
           + (f", host steal {report['steal_s']} s" if "steal_s" in report
              else "") + ".\n\n",
           f"| parallelism | T(1×) s | T(4×) s | fixed s | marginal "
           f"{p.unit}/s | raw {p.unit}/s (4×) |\n|---|---|---|---|---|---|\n"]
    out += [f"| local[{r['cores']}] | {r['t_1x']} | {r['t_4x']} | "
            f"{r['fixed_sec']} | {r['slope_rows_per_sec']} | "
            f"{r['rows_per_sec']} |\n" for r in lv]
    out += ["\n"] + [
        f"**local[{q['cores'][0]}] → local[{q['cores'][1]}]:** speedup "
        f"{q['speedup']}×, efficiency {q['efficiency']}, slope "
        f"efficiency {q['slope_efficiency']}.\n" for q in report["pairs"]]
    return "".join(out)


def write_section(report: dict, path: str = BASELINE_MD) -> None:
    """Put the pipeline's section in place of its previous one (from its
    heading to the next ``## ``), or append it if there is none."""
    section = render(report)
    marker = f"## {PIPELINES[report['pipeline']].title}\n"
    text = HEADER
    if os.path.exists(path):
        with open(path) as f:
            text = f.read()
    head, found, rest = text.partition(marker)
    if found:
        nxt = rest.find("\n## ")
        text = head + section + (rest[nxt:] if nxt >= 0 else "")
    else:
        text = text.rstrip("\n") + "\n\n" + section
    with open(path, "w") as f:
        f.write(text)


def main(argv: list[str]) -> None:
    if len(argv) != 1 or argv[0] not in PIPELINES:
        sys.exit(f"usage: tools/scaling.py <{'|'.join(PIPELINES)}>")
    report = measure(argv[0])
    with open(os.path.join(REPO_ROOT, "BENCH",
                           PIPELINES[argv[0]].json_name), "w") as f:
        json.dump(report, f, indent=1)
    write_section(report)
    print(json.dumps(report))


if __name__ == "__main__":
    main(sys.argv[1:])

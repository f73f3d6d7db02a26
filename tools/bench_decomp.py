#!/usr/bin/env python
"""Per-query cost decomposition for the bench lines (guide §1.1).

For each named bench query, splits one invocation into:

* ``build``  — Python DataFrame construction (the q_ builder call;
  py4j round-trips, any internal collects the op performs);
* ``plan``   — Catalyst analysis + optimization + physical planning
  (forcing ``queryExecution().executedPlan()``);
* ``exec``   — the noop-sink execution of the planned query.

Timed passes repeat after an untimed warmup (same protocol as
bench.py); per-phase numbers are best-of. This separates driver-side
overhead (build+plan, unaffected by executor parallelism) from real
cluster compute, so optimization effort lands on the dominant term.

Usage: python tools/bench_decomp.py [query ...] [--repeats N]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from tuatara_spark import queries as Q  # noqa: E402
from tuatara_spark.ops import dedup as _dd  # noqa: E402
from tuatara_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = ["minhash_lsh_pairs", "simhash_pairs", "tier_extract_docs",
           "langid_docs", "exact_substr_docs", "lm_tier_docs",
           "hits_hosts", "segment_dedup_docs"]


def decompose(spark, name: str) -> dict:
    fn = getattr(Q, f"q_{name}")
    t0 = time.time()
    df = fn(spark, SF_DIR)
    t1 = time.time()
    # force full planning without executing
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    _dd.release_caches()
    return {"build": round(t1 - t0, 3), "plan": round(t2 - t1, 3),
            "exec": round(t3 - t2, 3), "total": round(t3 - t0, 3)}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    repeats = 3
    for a in sys.argv[1:]:
        if a.startswith("--repeats"):
            repeats = int(a.split("=")[1])
    names = args or DEFAULT
    spark = get_spark("bench-decomp")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        decompose(spark, name)           # warmup (codegen cache, workers)
        best = None
        for _ in range(repeats):
            r = decompose(spark, name)
            if best is None or r["total"] < best["total"]:
                best = r
        out[name] = best
        print(name, json.dumps(best), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Dump .explain('formatted') for named declared/bench queries to
plans/<tag>/<query>_<suffix>.txt  (guide §1: record the plan shape
before and after each optimization).

Usage: python tools/dump_plans.py <tag> <suffix> <query> [<query> ...]
"""
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from tuatara_spark import queries as Q  # noqa: E402
from tuatara_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    outdir = os.path.join(REPO_ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    reg = Q.queries()
    for name in names:
        fn = reg.get(name) or getattr(Q, f"q_{name}", None)
        if fn is None:
            print(f"SKIP {name}: not found")
            continue
        df = fn(spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
        from tuatara_spark.ops import dedup as _dd
        _dd.release_caches()
    spark.stop()


if __name__ == "__main__":
    main()

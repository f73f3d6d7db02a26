"""The OCR job's per-bucket counters come from the extraction UDF.

Each group's UDF adds its record batches' per-bucket sums to the group's
own accumulator, and the group loop commits them once the write returns.
These tests pin that the manifests equal the SQL aggregate the job used
to run over the written rows, that a failed write attempt is not
counted, and the plan shape that makes that so: the UDF runs in the
write's own stage.
"""

import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from tuatara_spark import fixtures as fx
from tuatara_spark import job, partitioning as pt
from tuatara_spark.catalog import Catalog

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the reference: the aggregate the job re-read the written rows with
SQL_COUNTERS = {"pages": "count(*)", "regions": "sum(n_regions)",
                "chars": "sum(n_chars)", "failures": "count(error)"}


@pytest.fixture(scope="module")
def skew_path(tmp_path_factory):
    """TPBIT pages plus one 2048² page (salted below), shuffled, with two
    payloads cut mid-page and one null payload: decode-error rows."""
    df = fx.make_pages(40, seed=31, n_large=1, payload="tpbit")
    df = df.iloc[np.random.default_rng(32).permutation(len(df))]
    df = df.reset_index(drop=True)
    for i in (3, 17):
        df.at[i, "html"] = df.at[i, "html"][:20]
    df.at[25, "html"] = None
    p = tmp_path_factory.mktemp("skew") / "pages.parquet"
    fx.pages_to_parquet(df, str(p))
    return str(p)


def _manifests(cat):
    return {m["bucket"]: m["counters"] for s in cat.snapshots()
            for m in cat.manifests_for(s["snapshot_id"])}


def _sql_counters(spark, cat, num_buckets):
    """bucket → the reference aggregate over the committed rows."""
    per_bucket = {b: dict.fromkeys(SQL_COUNTERS, 0)
                  for b in range(num_buckets)}
    rows = (cat.read_table(spark).groupBy("part_id")
            .agg(*[F.expr(e).alias(k) for k, e in SQL_COUNTERS.items()])
            .collect())
    per_bucket.update({r.part_id: {k: int(r[k] or 0) for k in SQL_COUNTERS}
                       for r in rows})
    return per_bucket


@pytest.mark.parametrize("groups", [1, 3, 4])
def test_manifests_equal_sql_aggregate_of_committed_rows(spark, skew_path,
                                                         tmp_path, groups):
    out = str(tmp_path / "t")
    s = job.run_extract(spark, skew_path, out, num_buckets=8, groups=groups,
                        heavy_bytes=1 << 14)
    cat = Catalog(out)
    man = _manifests(cat)
    assert man == _sql_counters(spark, cat, 8)
    assert all(list(c) == list(SQL_COUNTERS) for c in man.values())
    assert s["totals"] == {k: sum(c[k] for c in man.values())
                           for k in SQL_COUNTERS}
    assert s["totals"]["pages"] == 41 and s["totals"]["failures"] == 3
    for snap in cat.snapshots():
        assert snap["totals"] == {
            k: sum(man[b][k] for b in snap["buckets"]) for k in SQL_COUNTERS}


def test_udf_runs_in_the_write_stage(spark, skew_path, tmp_path):
    """No exchange between the extraction UDF and the write in any
    group's executed plan: the UDF runs in the write's result stage,
    where Spark applies each partition's accumulator update once."""
    out = str(tmp_path / "plan")
    job.run_extract(spark, skew_path, out, num_buckets=8, groups=2)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(execs.size())]
    writes = [p for p in plans
              if "InsertIntoHadoopFsRelationCommand" in p and out in p]
    assert len(writes) == 2
    for plan in writes:
        final = plan.split("== Final Plan ==")[1].split("== Initial Plan")[0]
        tree = final.splitlines()
        udf = next(i for i, line in enumerate(tree) if "MapInArrow" in line)
        above = tree[:udf]
        assert any("InsertIntoHadoopFsRelationCommand" in ln for ln in above)
        assert not any("Exchange" in ln for ln in above), final
        assert any("Exchange" in ln for ln in tree[udf:])  # the salt shuffle


_FAIL_ONCE_JOB = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from tuatara_spark import engine, job

pages, out, marker = sys.argv[2:5]
spark = (SparkSession.builder.master("local[2,2]")   # 2 attempts per task
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
         .config("spark.ui.enabled", "false").getOrCreate())


def fail_once(batches):
    # runs after the OCR UDF in the same write task: it drains the UDF's
    # output (so the UDF has run and sent its counters), then the first
    # task that saw rows fails
    out = list(batches)
    if sum(b.num_rows for b in out):
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            pass
        else:
            raise RuntimeError("injected write-task failure")
    yield from out


real = engine.extract_df


def extract_df(df, **kwargs):
    ext = real(df, **kwargs)
    return ext.mapInArrow(fail_once, ext.schema)


engine.extract_df = extract_df
job.run_extract(spark, pages, out, num_buckets=8, groups=2)
spark.stop()
"""


def test_failed_write_attempt_is_not_counted(spark, skew_path, tmp_path):
    """One write task fails on its first attempt after its UDF has run;
    the retry leaves the counters equal to the committed rows."""
    script = tmp_path / "fail_once.py"
    script.write_text(_FAIL_ONCE_JOB)
    out, marker = str(tmp_path / "t"), str(tmp_path / "failed")
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    proc = subprocess.run(
        [sys.executable, str(script), REPO_ROOT, skew_path, out, marker],
        env=env, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert os.path.exists(marker)   # the failure was injected ...
    assert "injected write-task failure" in proc.stderr   # ... and retried
    cat = Catalog(out)
    assert cat.committed_buckets() == set(range(8))
    man = _manifests(cat)
    assert man == _sql_counters(spark, cat, 8)
    assert cat.totals() == {k: sum(c[k] for c in man.values())
                            for k in SQL_COUNTERS}
    assert cat.totals()["pages"] == 41


def test_bucket_filter_is_one_py4j_call_at_any_bucket_count(spark):
    """``partitioning.in_buckets`` costs the same few py4j calls at 16 and
    at 4096 buckets (``isin`` makes about four per bucket) and gives the
    same optimized plan as ``isin``."""
    gateway = type(spark.sparkContext._gateway._gateway_client)
    real = gateway.send_command
    calls = []

    def send_command(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    def py4j_calls(buckets):
        calls.clear()
        gateway.send_command = send_command
        try:
            pt.in_buckets(buckets)
        finally:
            gateway.send_command = real
        return len(calls)

    assert py4j_calls(list(range(4096))) == py4j_calls(list(range(16))) <= 4

    df = pt.with_bucket(spark.range(50).selectExpr("cast(id AS string) url"),
                        64)

    def plan(cond):
        return df.filter(cond)._jdf.queryExecution().optimizedPlan().toString()

    for buckets in ([5], [2, 7, 9], list(range(0, 64, 3))):
        assert plan(pt.in_buckets(buckets)) == plan(
            F.col("part_id").isin(buckets))

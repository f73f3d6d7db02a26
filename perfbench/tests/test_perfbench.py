"""Tests of the benchmark itself: generator determinism, the output
checkers, and the event-log parser on a small recorded log.

  python3 -m pytest perfbench/tests -q

The recorded log in ``data/`` comes from ``record_eventlog.py``.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run, trace, workloads as wl  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402

DATA = os.path.join(HERE, "data")


def _tree(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    a = wl.generate(workload, 5, str(tmp_path / "a"))
    b = wl.generate(workload, 5, str(tmp_path / "b"))
    c = wl.generate(workload, 6, str(tmp_path / "c"))
    assert _tree(a) == _tree(b)
    assert len(os.listdir(os.path.join(a, "input"))) == \
        wl.SIZES[workload]["files"]
    for rel in _tree(a):
        assert filecmp.cmp(os.path.join(a, rel), os.path.join(b, rel),
                           shallow=False), rel
    assert wl.load_truth(a) == wl.load_truth(b)
    assert wl.load_truth(a)["text"] != wl.load_truth(c)["text"]


def test_crawl_truth_follows_strip_rules():
    rng = np.random.default_rng(0)
    content = [[("t1", "t1")], [("x", "x"), ("&lt;b&gt;", "<b>"),
                                ("a&nbsp;b", "a b")]]
    page, text = wl._crawl_page(rng, 1, "windows-1252", content)
    assert text == "t1 x <b> a b"
    assert page["chunked"] and not page["gzip_body"]
    assert b"<script>" in page["body"] and b"<footer>" in page["body"]


def _commit_output(root: str, columns: dict[str, list]) -> None:
    """Write ``columns`` as one committed run covering all 64 buckets."""
    from tuatara_spark.catalog import Catalog
    cat = Catalog(root)
    sid, run_dir = cat.new_run()
    os.makedirs(os.path.join(run_dir, "part_id=0"))
    pq.write_table(pa.table(columns),
                   os.path.join(run_dir, "part_id=0", "part-0.parquet"))
    cat.commit(sid, list(range(wl.NUM_BUCKETS)), {}, {})


def _ocr_output(truth: dict) -> dict[str, list]:
    urls = list(truth["text"])
    return {"url": urls,
            "text": [truth["text"][u] for u in urls],
            "error": [None if truth["text"][u] is not None
                      else "decode: buffer is smaller than requested size"
                      for u in urls]}


@pytest.fixture(scope="module")
def ocr_truth(tmp_path_factory):
    d = tmp_path_factory.mktemp("ocr")
    return wl.gen_ocr(3, str(d), pages=12, files=2, large=1, poison=1)


def test_ocr_checker_accepts_truth(tmp_path, ocr_truth):
    _commit_output(str(tmp_path), _ocr_output(ocr_truth))
    assert wl.check_pass("ocr_skew", ocr_truth, str(tmp_path),
                         {"resumed": False}) == (0, [])


@pytest.mark.parametrize("alter", ["text", "poison", "drop", "resumed"])
def test_ocr_checker_rejects_altered_output(tmp_path, ocr_truth, alter):
    cols = _ocr_output(ocr_truth)
    summary = {"resumed": False}
    poison = cols["error"].index(next(e for e in cols["error"] if e))
    good = next(i for i, e in enumerate(cols["error"]) if e is None)
    if alter == "text":
        cols["text"][good] = cols["text"][good] + "x"
    elif alter == "poison":  # a poison page must not come back as text
        cols["text"][poison], cols["error"][poison] = "", None
    elif alter == "drop":
        cols = {k: v[:good] + v[good + 1:] for k, v in cols.items()}
    else:  # a reused output root times a no-op pass
        summary = {"resumed": True}
    _commit_output(str(tmp_path), cols)
    wrong, problems = wl.check_pass("ocr_skew", ocr_truth, str(tmp_path),
                                    summary)
    assert problems
    assert wrong >= (0 if alter == "resumed" else 1)


@pytest.fixture(scope="module")
def crawl_truth(tmp_path_factory):
    d = tmp_path_factory.mktemp("crawl")
    return wl.gen_crawl(4, str(d), pages=160, files=4)


def _dedup_output(truth: dict) -> tuple[list, dict]:
    """Planted pairs at or above the threshold, and their union-find
    clusters: a correct pass output for the checker."""
    sh = {u: wl.shingles(t) for u, t in truth["text"].items()}
    members: dict[int, list[str]] = {}
    for u, c in truth["planted"].items():
        if c >= 0:
            members.setdefault(c, []).append(u)
    pairs = []
    for urls in members.values():
        urls.sort()
        for i, a in enumerate(urls):
            for b in urls[i + 1:]:
                j = wl.jaccard(sh[a], sh[b])
                if j >= wl.DEDUP_THRESHOLD:
                    pairs.append((a, b, round(float(j), 6)))
    root = {u: u for u in sh}
    for a, b, _ in sorted(pairs):
        ra, rb = root[a], root[b]
        for u, r in root.items():
            if r == max(ra, rb):
                root[u] = min(ra, rb)
    return pairs, root


def _write_dedup(out_root: str, pairs: list, clusters: dict) -> None:
    for name, cols in (
            ("pairs", {"id_a": [p[0] for p in pairs],
                       "id_b": [p[1] for p in pairs],
                       "jaccard": [p[2] for p in pairs]}),
            ("clusters", {"url": list(clusters),
                          "cluster_id": list(clusters.values())})):
        os.makedirs(os.path.join(out_root, name))
        pq.write_table(pa.table(cols),
                       os.path.join(out_root, name, "part-0.parquet"))


@pytest.mark.parametrize("alter", [None, "cluster", "bogus_pair",
                                   "lost_pairs", "main_text"])
def test_crawl_dedup_checker(tmp_path, crawl_truth, alter):
    urls = list(crawl_truth["text"])
    text = [crawl_truth["text"][u] for u in urls]
    pairs, clusters = _dedup_output(crawl_truth)
    assert len(pairs) > 10
    if alter == "cluster":
        u = next(u for u, r in clusters.items() if r != u)
        clusters[u] = u
    elif alter == "bogus_pair":  # two unrelated pages
        a, b = sorted(u for u, c in crawl_truth["planted"].items()
                      if c < -1)[:2]
        pairs.append((a, b, 0.9))
    elif alter == "lost_pairs":
        pairs = pairs[: len(pairs) // 2]
    elif alter == "main_text":
        text[0] = text[0] + " footer"
    _commit_output(os.path.join(str(tmp_path), "crawl"),
                   {"url": urls, "main_text": text})
    _write_dedup(str(tmp_path), pairs, clusters)
    wrong, problems = wl.check_pass("crawl_dedup", crawl_truth,
                                    str(tmp_path), {"resumed": False})
    if alter is None:
        assert (wrong, problems) == (0, [])
    else:
        assert wrong >= 1 and problems


# -- event log --------------------------------------------------------------

@pytest.fixture(scope="module")
def recorded():
    log = EventLog.read(os.path.join(DATA, "ocr_pass.events.json.gz"))
    with open(os.path.join(DATA, "ocr_pass.trace.json")) as f:
        state = json.load(f)
    return log, state


def test_eventlog_parser_reads_jobs_tasks_and_sql_metrics(recorded):
    log, state = recorded
    assert log.jobs and log.tasks and log.sql_metrics
    assert all(j.end_ms >= j.start_ms for j in log.jobs.values())
    python_ids = log.metric_ids("time to run Python workers", "MapInArrow")
    assert python_ids
    assert log.metric_sum(log.tasks, python_ids) > 0
    exchange = log.metric_ids("shuffle bytes written", "Exchange")
    assert log.metric_sum(log.tasks, exchange) == \
        sum(t.shuffle_write_bytes for t in log.tasks)
    p = state["passes"][0]
    t0, t1 = p["start"] * 1000, p["end"] * 1000
    jobs = log.jobs_between(t0, t1)
    assert 0 < log.busy_ms(jobs, t0, t1) <= t1 - t0
    assert {j.description for j in jobs} >= {"job.write",
                                             "job.counter_reread"}


def test_layer_metrics_from_recorded_pass(recorded, tmp_path):
    log, state = recorded
    tr = trace.Tracer("ocr_skew", str(tmp_path), str(tmp_path / "s.json"),
                      str(tmp_path))
    tr.spans, tr.passes = state["spans"], state["passes"]
    m = tr.layer_metrics(log, nproc=4)
    assert m["job.groups_per_pass"] == 4
    assert m["job.input_rows_scanned_per_page"] == 4  # every group rescans
    assert m["weights.broadcasts_per_pass"] == 4      # one per group
    assert m["partitioning.extract_task_samples"] == 32  # 4 groups x 8
    assert m["engine.python_s_per_kpage"] > 0
    assert m["engine.arrow_sent_bytes_per_page"] > 0
    assert 0 < m["engine.core_busy_ratio"] <= 1
    assert m["engine.error_rows_per_kpage"] == pytest.approx(
        1000 / state["passes"][0]["rows"])
    assert m["ops.dedup.signature_s"] == 0  # dedup is not on this path


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(wl.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END_UNITS
    with open(trace.LAYERS_JSON) as f:
        layers = json.load(f)["metrics"]
    assert bench["per_layer"] == [{k: m[k] for k in ("name", "unit",
                                                     "better")}
                                  for m in layers]

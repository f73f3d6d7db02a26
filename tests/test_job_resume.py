"""Partitioning, lineage, and resume-from-snapshot tests."""

import os

import pytest
from pyspark.sql import functions as F

from tuatara_spark import fixtures as fx
from tuatara_spark import job, partitioning as pt
from tuatara_spark.catalog import Catalog


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pages") / "pages.parquet"
    fx.pages_to_parquet(fx.make_pages(60, seed=21, n_large=2), str(p))
    return str(p)


def test_bucket_stability_and_range(spark, pages_path):
    df = pt.with_bucket(spark.read.parquet(pages_path), 16)
    rows = df.select("url", "part_id").collect()
    assert all(0 <= r.part_id < 16 for r in rows)
    again = {r.url: r.part_id
             for r in pt.with_bucket(spark.read.parquet(pages_path), 16)
             .select("url", "part_id").collect()}
    assert all(again[r.url] == r.part_id for r in rows)


def test_salt_only_on_heavy_pages(spark, pages_path):
    df = pt.with_salt(pt.with_bucket(spark.read.parquet(pages_path), 16),
                      heavy_bytes=1 << 20, salt_buckets=8)
    rows = df.select("salt", F.length("html").alias("b")).collect()
    for r in rows:
        if r.b <= 1 << 20:
            assert r.salt == 0
        else:
            assert 0 <= r.salt < 8
    assert any(r.b > 1 << 20 for r in rows)  # skew pages present


def test_salting_spreads_heavy_pages_across_tasks(spark):
    """The point of the salt: heavy pages that share a url-hash bucket land
    in DIFFERENT physical partitions instead of serializing one task."""
    pages = fx.make_pages(48, seed=8, n_large=6)
    df = spark.createDataFrame(pages)
    bucketed = pt.with_bucket(df, 2)  # tiny bucket count → heavy collisions

    def heavy_partition_spread(with_salt: bool):
        d = pt.with_salt(bucketed) if with_salt \
            else bucketed.withColumn("salt", F.lit(0))
        d = pt.distribute(d, 16)
        rows = (d.withColumn("pid", F.spark_partition_id())
                .filter(F.length("html") > 1 << 20)
                .select("pid").collect())
        return len({r.pid for r in rows})

    spread_without = heavy_partition_spread(False)
    spread_with = heavy_partition_spread(True)
    assert spread_without <= 2  # all heavies collapse onto ≤2 tasks
    assert spread_with > spread_without


def test_full_job_then_resume_noop(spark, pages_path, tmp_path):
    out = str(tmp_path / "table")
    s1 = job.run_extract(spark, pages_path, out, num_buckets=8, groups=2)
    assert s1["groups_run"] == 2 and not s1["resumed"]
    cat = Catalog(out)
    assert cat.committed_buckets() == set(range(8))
    assert s1["totals"]["pages"] == 62
    assert s1["totals"]["failures"] == 0
    # resume with nothing left: no-op
    s2 = job.run_extract(spark, pages_path, out, num_buckets=8, groups=2)
    assert s2["groups_run"] == 0 and s2["resumed"]
    # manifests exist per bucket, counters add up
    man = [m for sid in (1, 2) for m in cat.manifests_for(sid)]
    assert sum(m["counters"]["pages"] for m in man) == 62
    # table reads back complete and correct
    table = cat.read_table(spark)
    assert table.count() == 62
    truth = {r.url: r.text for r in
             spark.read.parquet(pages_path).select("url", "text").collect()}
    got = {r.url: r.text for r in table.select("url", "text").collect()}
    assert got == truth  # byte-identical extracted text per url


def test_crash_and_resume_equals_single_shot(spark, pages_path, tmp_path):
    out_a = str(tmp_path / "crashy")
    with pytest.raises(job.InjectedFailure):
        job.run_extract(spark, pages_path, out_a, num_buckets=8, groups=4,
                        fail_after_groups=2)
    cat = Catalog(out_a)
    half = cat.committed_buckets()
    assert 0 < len(half) < 8
    s = job.run_extract(spark, pages_path, out_a, num_buckets=8, groups=4)
    assert s["resumed"] and cat.committed_buckets() == set(range(8))

    out_b = str(tmp_path / "oneshot")
    job.run_extract(spark, pages_path, out_b, num_buckets=8, groups=1)
    a = {(r.url, r.text, r.n_regions)
         for r in cat.read_table(spark).collect()}
    b = {(r.url, r.text, r.n_regions)
         for r in Catalog(out_b).read_table(spark).collect()}
    assert a == b


def test_run_extract_broadcasts_weights_once(spark, pages_path, tmp_path,
                                             monkeypatch):
    """One weights broadcast per job, not per group, destroyed when the job
    ends — also when a group fails."""
    sc_type = type(spark.sparkContext)
    made = []

    def broadcast(sc, value):
        made.append(real(sc, value))
        return made[-1]

    real = sc_type.broadcast
    monkeypatch.setattr(sc_type, "broadcast", broadcast)
    out = str(tmp_path / "table")
    with pytest.raises(job.InjectedFailure):
        job.run_extract(spark, pages_path, out, num_buckets=8, groups=4,
                        fail_after_groups=2)
    assert len(made) == 1 and not made[0]._jbroadcast.isValid()
    s = job.run_extract(spark, pages_path, out, num_buckets=8, groups=4)
    assert s["resumed"] and s["groups_run"] > 1
    assert len(made) == 2 and not made[1]._jbroadcast.isValid()


def _manifests(cat):
    """bucket → counters over every committed snapshot."""
    return {m["bucket"]: m["counters"] for s in cat.snapshots()
            for m in cat.manifests_for(s["snapshot_id"])}


def test_group_loop_is_two_deep_and_commits_in_order(spark, pages_path,
                                                     tmp_path, monkeypatch):
    """Group k+1's frame is built before group k commits, never more than
    two groups are uncommitted, and the snapshot chain and manifests are
    those of a one-group run."""
    events = []
    real_distribute, real_new_run = pt.distribute, Catalog.new_run
    real_commit = Catalog.commit

    def distribute(df, num_tasks):
        events.append("build")
        return real_distribute(df, num_tasks)

    def new_run(self):
        events.append("new_run")
        return real_new_run(self)

    def commit(self, sid, *args, **kwargs):
        real_commit(self, sid, *args, **kwargs)
        events.append("commit")

    monkeypatch.setattr(pt, "distribute", distribute)
    monkeypatch.setattr(Catalog, "new_run", new_run)
    monkeypatch.setattr(Catalog, "commit", commit)
    out = str(tmp_path / "piped")
    s = job.run_extract(spark, pages_path, out, num_buckets=8, groups=4)
    assert s["groups_run"] == 4
    builds = [i for i, e in enumerate(events) if e == "build"]
    commits = [i for i, e in enumerate(events) if e == "commit"]
    assert len(builds) == len(commits) == 4
    assert all(builds[k + 1] < commits[k] for k in range(3))
    uncommitted, most = 0, 0
    for e in events:
        uncommitted += {"new_run": 1, "commit": -1}.get(e, 0)
        most = max(most, uncommitted)
    assert most == 2 and uncommitted == 0

    snaps = Catalog(out).snapshots()
    assert [sn["snapshot_id"] for sn in snaps] == [1, 2, 3, 4]
    assert [sn["parent_id"] for sn in snaps] == [None, 1, 2, 3]
    assert [sn["buckets"] for sn in snaps] == [[0, 1], [2, 3], [4, 5],
                                              [6, 7]]
    monkeypatch.undo()
    single = str(tmp_path / "single")
    job.run_extract(spark, pages_path, single, num_buckets=8, groups=1)
    assert _manifests(Catalog(out)) == _manifests(Catalog(single))


def test_failed_group_cancels_cleans_up_and_resumes(spark, pages_path,
                                                    tmp_path, monkeypatch):
    """A group whose extraction raises on the executors (not the test
    hook): the error propagates, the committed snapshots are a prefix of
    the groups, no Spark job is left running, no run dir is left that
    no snapshot references, the weights broadcast is destroyed and a
    resume equals a single-shot run."""
    real_distribute = pt.distribute
    calls = []

    def distribute(df, num_tasks):
        calls.append(num_tasks)
        out = real_distribute(df, num_tasks)
        if len(calls) == 3:   # the third group's pages poison its tasks
            out = out.withColumn("html", F.when(
                F.col("url").isNotNull(),
                F.raise_error(F.lit("poisoned group"))
            ).otherwise(F.col("html")))
        return out

    sc_type = type(spark.sparkContext)
    real_broadcast = sc_type.broadcast
    made = []

    def broadcast(sc, value):
        made.append(real_broadcast(sc, value))
        return made[-1]

    monkeypatch.setattr(pt, "distribute", distribute)
    monkeypatch.setattr(sc_type, "broadcast", broadcast)
    out = str(tmp_path / "failed")
    with pytest.raises(Exception, match="poisoned group"):
        job.run_extract(spark, pages_path, out, num_buckets=8, groups=4)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # job ends are posted
    assert sc.statusTracker().getActiveJobsIds() == []
    assert len(made) == 1 and not made[0]._jbroadcast.isValid()
    cat = Catalog(out)
    snaps = cat.snapshots()
    # groups 0 and 1 commit; group 2 fails, group 3 is cancelled
    assert [sn["buckets"] for sn in snaps] == [[0, 1], [2, 3]]
    runs = {n for n in os.listdir(cat.data_dir) if n.startswith("run=")}
    assert runs == {sn["run"] for sn in snaps}

    monkeypatch.undo()
    s = job.run_extract(spark, pages_path, out, num_buckets=8, groups=4)
    assert s["resumed"] and s["buckets"] == [4, 5, 6, 7]
    single = str(tmp_path / "single")
    job.run_extract(spark, pages_path, single, num_buckets=8, groups=1)
    a = {(r.url, r.text, r.n_regions)
         for r in cat.read_table(spark).collect()}
    b = {(r.url, r.text, r.n_regions)
         for r in Catalog(single).read_table(spark).collect()}
    assert a == b and len(a) == 62
    assert _manifests(cat) == _manifests(Catalog(single))


def test_new_run_hands_out_each_id_once(tmp_path):
    """Runs taken ahead of their commits get distinct ids; a fresh
    Catalog continues from CURRENT; a resume after gc_uncommitted reuses
    no committed id."""
    root = str(tmp_path / "t")
    cat = Catalog(root)
    (s1, d1), (s2, d2) = cat.new_run(), cat.new_run()
    assert (s1, s2) == (1, 2) and d1 != d2
    cat.commit(s1, [0], {}, {"pages": 0})
    assert cat.new_run()[0] == 3           # after CURRENT and after 2
    again = Catalog(root)
    assert again.new_run()[0] == 2         # continues from CURRENT (1)
    cat.commit(s2, [1], {}, {"pages": 0})
    s3, d3 = Catalog(root).new_run()
    os.makedirs(d3)                        # a crashed, uncommitted run
    assert Catalog(root).gc_uncommitted() == [os.path.basename(d3)]
    resumed = Catalog(root)
    committed = {sn["snapshot_id"] for sn in resumed.snapshots()}
    assert committed == {1, 2}
    assert resumed.new_run()[0] not in committed


def test_gc_uncommitted(spark, pages_path, tmp_path):
    out = str(tmp_path / "gc")
    with pytest.raises(job.InjectedFailure):
        job.run_extract(spark, pages_path, out, num_buckets=4, groups=4,
                        fail_after_groups=1)
    cat = Catalog(out)
    # simulate a crashed run: orphan dir not referenced by any snapshot
    orphan = os.path.join(cat.data_dir, "run=000099")
    os.makedirs(orphan)
    removed = cat.gc_uncommitted()
    assert removed == ["run=000099"]
    assert cat.committed_buckets()  # committed data untouched
    assert cat.read_table(spark).count() > 0
    # the commit protocol's failure half end-to-end: crash → gc → RESUME
    # completes the remaining buckets and the table equals a single-shot run
    job.run_extract(spark, pages_path, out, num_buckets=4)
    single = str(tmp_path / "gc_single")
    job.run_extract(spark, pages_path, single, num_buckets=4)
    a = {(r.url, r.text, r.n_regions)
         for r in cat.read_table(spark).collect()}
    b = {(r.url, r.text, r.n_regions)
         for r in Catalog(single).read_table(spark).collect()}
    assert a == b


def test_pin_table_config_race(tmp_path):
    """Two concurrent INITIAL pins must not both win silently: the pin is
    claimed with an atomic os.link; the loser re-validates against the
    winner (ADVICE round 2 — rename would let the last writer clobber)."""
    import os as _os
    from tuatara_spark.catalog import Catalog as Cat
    cat = Cat(str(tmp_path / "race"))
    # simulate the racer winning between table_config() and the link: the
    # file appears before our pin attempt
    won = _os.path.join(cat.snapshot_dir, "TABLE.json")
    import json as _json
    with open(won, "w") as f:
        _json.dump({"num_buckets": 8, "weights_seed": 42}, f)
    # matching loser: silently adopts the winner's config
    assert cat.pin_table_config(num_buckets=8, weights_seed=42) == \
        {"num_buckets": 8, "weights_seed": 42}
    # mismatched loser: fails fast instead of overwriting the pin
    with pytest.raises(ValueError, match="num_buckets"):
        cat.pin_table_config(num_buckets=16, weights_seed=42)
    with open(won) as f:
        assert _json.load(f)["num_buckets"] == 8  # pin never clobbered


def test_time_travel_and_config_pin(spark, pages_path, tmp_path):
    out = str(tmp_path / "tt")
    job.run_extract(spark, pages_path, out, num_buckets=8, groups=2)
    cat = Catalog(out)
    # time travel: as-of snapshot 1 sees only the first group's buckets
    snap1 = cat.read_snapshot(1)
    t1 = cat.read_table(spark, as_of=1)
    assert t1.count() == snap1["totals"]["pages"]
    got_buckets = {r.part_id for r in t1.select("part_id").distinct().collect()}
    assert got_buckets <= set(snap1["buckets"])
    # full read == as-of current
    cur = cat.current_snapshot_id()
    assert cat.read_table(spark, as_of=cur).count() == \
        cat.read_table(spark).count()
    # resuming with a DIFFERENT num_buckets must fail fast, not silently
    # reinterpret committed bucket ids
    with pytest.raises(ValueError, match="num_buckets"):
        job.run_extract(spark, pages_path, out, num_buckets=16)
    with pytest.raises(ValueError, match="weights_seed"):
        job.run_extract(spark, pages_path, out, num_buckets=8,
                        weights_seed=7)


def test_run_extract_packed_payload(spark, tmp_path):
    """The job layer is payload-format-agnostic: TPBIT pages run the same
    bucket/salt/extract/commit flow with byte-identical text."""
    p = str(tmp_path / "packed.parquet")
    pages = fx.make_pages(20, seed=5, payload="tpbit")
    fx.pages_to_parquet(pages, p)
    out = str(tmp_path / "table")
    s = job.run_extract(spark, p, out, num_buckets=4, groups=1)
    assert s["totals"]["pages"] == 20 and s["totals"]["failures"] == 0
    got = {r.url: r.text
           for r in Catalog(out).read_table(spark).select("url", "text").collect()}
    assert got == dict(zip(pages["url"], pages["text"]))


def test_expire_snapshots(spark, pages_path, tmp_path):
    """Iceberg-style snapshot expiry: old time-travel points retire, the
    expired prefix squashes into a base snapshot, live data is untouched,
    and subsequent commits + gc still work."""
    out = str(tmp_path / "expire")
    job.run_extract(spark, pages_path, out, num_buckets=8, groups=4)
    cat = Catalog(out)
    before = {(r.url, r.text) for r in cat.read_table(spark).collect()}
    n_snaps = len(cat.snapshots())
    assert n_snaps >= 3
    expired = cat.expire_snapshots(keep_last=2)
    assert expired
    snaps = cat.snapshots()
    assert len(snaps) == 3  # squash base + 2 kept
    assert snaps[0].get("runs") and len(snaps[0]["runs"]) == n_snaps - 2
    # full read unchanged; totals preserved
    after = {(r.url, r.text) for r in cat.read_table(spark).collect()}
    assert after == before
    assert cat.totals()["pages"] == len(before)
    # time travel to the squash base works; to an expired id sees base only
    base_id = snaps[0]["snapshot_id"]
    assert cat.read_table(spark, as_of=base_id).count() > 0
    # gc must NOT reclaim the squash base's runs
    assert cat.gc_uncommitted() == []
    assert after == {(r.url, r.text)
                     for r in cat.read_table(spark).collect()}
    # idempotent: nothing more to expire at the same horizon
    assert cat.expire_snapshots(keep_last=2) == []


def test_schema_evolution_added_column(spark, pages_path, tmp_path):
    """Additive schema evolution (Iceberg add-column semantics): a later
    run writing an extra column unions with older runs — old rows read
    NULL for the new column, old columns unchanged."""
    out = str(tmp_path / "evolve")
    job.run_extract(spark, pages_path, out, num_buckets=4, groups=1)
    cat = Catalog(out)
    base = cat.read_table(spark)
    n0 = base.count()
    # simulate a newer job version committing a run with an extra column
    sid, run_dir = cat.new_run()
    newer = base.limit(5).withColumn("quality", F.lit(0.5))
    newer.write.partitionBy("part_id").parquet(run_dir)
    cat.commit(sid, [], {}, {"pages": 5}, schema=newer.schema)
    evolved = cat.read_table(spark)
    assert "quality" in evolved.columns
    assert evolved.count() == n0 + 5
    assert evolved.filter(F.col("quality").isNull()).count() == n0
    assert evolved.filter(F.col("quality") == 0.5).count() == 5


def test_engine_empty_input(spark, weights):
    """Empty input DataFrame → empty output with the full schema, no
    failed tasks (a 10^12-row job will see empty buckets)."""
    from tuatara_spark import engine
    pages = fx.make_pages(2, seed=3)
    df = spark.createDataFrame(pages).filter(F.col("url") == "nope")
    out = engine.extract_df(df, weights=weights)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields[-5:]] == \
        ["spans", "text", "n_regions", "n_chars", "error"]


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    from tuatara_spark.sources import warc as W
    d = tmp_path_factory.mktemp("warc_in")
    for f in range(3):
        pages = []
        for i in range(f * 20, f * 20 + 20):
            body = (f"<html><head><meta charset='utf-8'></head><body>"
                    f"<nav>m</nav><p>crawl page {i} body</p>"
                    f"<footer>f</footer></body></html>").encode()
            pages.append({"url": f"https://c.org/{i}",
                          "date": "2026-01-01T00:00:00Z", "status": 200,
                          "content_type": "text/html", "body": body,
                          "chunked": i % 2 == 0})
        (d / f"f{f}.warc.gz").write_bytes(W.encode_warc(pages))
    return str(d)


def test_crawl_job_crash_and_resume_equals_single_shot(
        spark, warc_dir, tmp_path):
    single = str(tmp_path / "single")
    job.run_crawl(spark, warc_dir, single, num_buckets=8, groups=1)

    crashed = str(tmp_path / "crashed")
    spark.catalog.clearCache()   # so the check below sees only this job's
    with pytest.raises(job.InjectedFailure):
        job.run_crawl(spark, warc_dir, crashed, num_buckets=8, groups=4,
                      fail_after_groups=2)
    # the parse persisted for the groups is released when a group fails
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    partial = Catalog(crashed).committed_buckets()
    assert 0 < len(partial) < 8
    summary = job.run_crawl(spark, warc_dir, crashed, num_buckets=8,
                            groups=4)
    assert summary["resumed"] is True
    assert Catalog(crashed).committed_buckets() == set(range(8))
    # resumed output == single-shot output, byte for byte
    def read_all(root):
        rows = {}
        for d in Catalog(root).committed_run_dirs():
            for r in spark.read.parquet(d).collect():
                rows[r.url] = (r.main_text, r.charset)
        return rows
    a, b = read_all(single), read_all(crashed)
    assert a == b and len(a) == 60
    assert all("crawl page" in t for t, _ in a.values())
    assert all("nav" not in t and "footer" not in t for t, _ in a.values())
    # lineage totals agree
    assert Catalog(single).totals() == Catalog(crashed).totals()
    # third invocation: clean no-op resume
    again = job.run_crawl(spark, warc_dir, crashed, num_buckets=8)
    assert again["groups_run"] == 0 and again["resumed"] is True


def test_crawl_job_pin_rejects_divergent_config(spark, warc_dir, tmp_path):
    root = str(tmp_path / "t")
    job.run_crawl(spark, warc_dir, root, num_buckets=8)
    with pytest.raises(ValueError, match="mismatch"):
        job.run_crawl(spark, warc_dir, root, num_buckets=16)


def test_crawl_refresh_upsert_and_read_latest(spark, warc_dir, tmp_path):
    """Re-crawl upsert: a refresh run commits newer rows for already-
    committed urls; Catalog.read_latest resolves per-url latest by
    (warc_ts, snapshot order), while read_table/as_of keep history."""
    from tuatara_spark.sources import warc as W
    root = str(tmp_path / "t")
    job.run_crawl(spark, warc_dir, root, num_buckets=8)
    cat = Catalog(root)
    sid_v1 = cat.current_snapshot_id()

    # re-crawl: 5 urls re-fetched LATER with changed content
    d2 = tmp_path / "warc_v2"
    d2.mkdir()
    pages = []
    for i in range(5):
        body = (f"<html><body><p>refetched page {i} v2</p>"
                f"</body></html>").encode()
        pages.append({"url": f"https://c.org/{i}",
                      "date": "2026-02-01T00:00:00Z", "status": 200,
                      "content_type": "text/html", "body": body})
    (d2 / "re.warc.gz").write_bytes(W.encode_warc(pages))
    job.run_crawl(spark, str(d2), root, num_buckets=8, refresh=True)

    latest = {r.url: r.main_text
              for r in cat.read_latest(spark).collect()}
    assert len(latest) == 60                       # still one row per url
    for i in range(5):
        assert latest[f"https://c.org/{i}"] == f"refetched page {i} v2"
    assert "crawl page 7" in latest["https://c.org/7"]   # untouched url
    # raw table keeps BOTH versions (merge-on-read, not rewrite)
    assert cat.read_table(spark).count() == 65
    # time travel: the v1 view never sees the refresh
    old = {r.url: r.main_text
           for r in cat.read_latest(spark, as_of=sid_v1).collect()}
    assert "crawl page 0" in old["https://c.org/0"]


def test_read_latest_breaks_ties_by_run_after_expiry(spark, tmp_path):
    """A refresh that re-commits every url with the SAME warc_ts must
    still win in read_latest after expire_snapshots squashed the
    original crawl and part of the refresh into one base snapshot:
    the tie breaks on each row's own run, not on the base's one id."""
    from tuatara_spark.sources import warc as W
    root = str(tmp_path / "t")

    def crawl(version, refresh):
        d = tmp_path / f"warc_{version}"
        d.mkdir()
        pages = [{"url": f"https://c.org/{i}",
                  "date": "2026-01-01T00:00:00Z", "status": 200,
                  "content_type": "text/html",
                  "body": f"<html><body><p>{version} page {i}</p>"
                          f"</body></html>".encode()} for i in range(40)]
        (d / "w.warc.gz").write_bytes(W.encode_warc(pages))
        job.run_crawl(spark, str(d), root, num_buckets=8, groups=2,
                      refresh=refresh)

    crawl("v1", refresh=False)
    crawl("v2", refresh=True)
    cat = Catalog(root)

    def v2_wins():
        return sum(r.main_text.startswith("v2 page")
                   for r in cat.read_latest(spark).collect())

    assert v2_wins() == 40
    assert len(cat.expire_snapshots(keep_last=1)) == 3
    assert cat.read_table(spark).count() == 80
    assert v2_wins() == 40


def test_crawl_refresh_crash_resumes_generation(spark, warc_dir, tmp_path):
    """A crash mid-refresh must be completable: resume is scoped to the
    refresh GENERATION, so the original crawl's committed buckets don't
    mask the refresh's missing ones (review finding)."""
    from tuatara_spark.sources import warc as W
    root = str(tmp_path / "t")
    job.run_crawl(spark, warc_dir, root, num_buckets=8)

    d2 = tmp_path / "warc_v2"
    d2.mkdir()
    pages = [{"url": f"https://c.org/{i}",
              "date": "2026-02-01T00:00:00Z", "status": 200,
              "content_type": "text/html",
              "body": f"<html><body><p>v2 page {i}</p></body></html>"
              .encode()} for i in range(60)]
    (d2 / "re.warc.gz").write_bytes(W.encode_warc(pages))

    with pytest.raises(job.InjectedFailure):
        job.run_crawl(spark, str(d2), root, num_buckets=8, groups=4,
                      refresh=True, fail_after_groups=2)
    cat = Catalog(root)
    gen1_done = cat.committed_buckets(gen=1)
    assert 0 < len(gen1_done) < 8          # refresh partially committed
    # resume WITHOUT refresh: completes generation 1, not a no-op
    summary = job.run_crawl(spark, str(d2), root, num_buckets=8, groups=4)
    assert summary["gen"] == 1 and summary["groups_run"] > 0
    assert cat.committed_buckets(gen=1) == set(range(8))
    latest = {r.url: r.main_text for r in cat.read_latest(spark).collect()}
    assert len(latest) == 60
    assert all(t.startswith("v2 page") for t in latest.values())


def test_empty_run_dirs_do_not_brick_reads(spark, warc_dir, tmp_path):
    """Groups whose buckets hold zero rows commit runs with no parquet
    files; read_table/read_latest must skip them (review finding)."""
    from tuatara_spark.sources import warc as W
    root = str(tmp_path / "t")
    # tiny refresh drop: 2 urls over 8 buckets × 4 groups — some groups
    # are guaranteed empty
    d2 = tmp_path / "tiny"
    d2.mkdir()
    pages = [{"url": f"https://c.org/{i}",
              "date": "2026-02-01T00:00:00Z", "status": 200,
              "content_type": "text/html",
              "body": b"<html><body><p>tiny</p></body></html>"}
             for i in range(2)]
    (d2 / "t.warc.gz").write_bytes(W.encode_warc(pages))
    job.run_crawl(spark, str(d2), root, num_buckets=8, groups=4)
    cat = Catalog(root)
    assert cat.committed_buckets() == set(range(8))
    assert cat.read_table(spark).count() == 2      # must not raise
    assert cat.read_latest(spark).count() == 2


def test_empty_bucket_manifests_carry_the_job_counters(spark, tmp_path):
    """A crawl bucket that held no pages gets a manifest with the crawl
    job's own counters, all 0 — not the OCR job's counter names."""
    from tuatara_spark.sources import warc as W
    d = tmp_path / "tiny"
    d.mkdir()
    pages = [{"url": f"https://c.org/{i}",
              "date": "2026-02-01T00:00:00Z", "status": 200,
              "content_type": "text/html",
              "body": b"<html><body><p>tiny</p></body></html>"}
             for i in range(2)]
    (d / "t.warc.gz").write_bytes(W.encode_warc(pages))
    root = str(tmp_path / "t")
    job.run_crawl(spark, str(d), root, num_buckets=8, groups=4)
    cat = Catalog(root)
    full = {r.part_id for r in cat.read_table(spark).select("part_id")
            .distinct().collect()}
    man = [m for s in cat.snapshots()
           for m in cat.manifests_for(s["snapshot_id"])]
    assert sorted(m["bucket"] for m in man) == list(range(8))
    assert len(full) < 8
    for m in man:
        assert set(m["counters"]) == set(job._CRAWL_COUNTERS)
        if m["bucket"] not in full:
            assert m["counters"] == dict.fromkeys(job._CRAWL_COUNTERS, 0)
        else:
            assert m["counters"]["pages"] >= 1


def test_read_buckets_manifest_pruning(spark, warc_dir, tmp_path):
    """Bucket reads prune at TWO levels: snapshots whose bucket list
    misses the predicate are never opened (manifest pruning), and the
    hive part_id filter prunes inside surviving runs."""
    root = str(tmp_path / "t")
    # 4 groups of 2 buckets each -> 4 runs with disjoint bucket sets
    job.run_crawl(spark, warc_dir, root, num_buckets=8, groups=4)
    cat = Catalog(root)
    full = cat.read_table(spark)
    want_rows = full.where("part_id in (0, 1)").count()
    assert want_rows > 0
    got = cat.read_buckets(spark, [0, 1])
    assert got.count() == want_rows
    # physical evidence: the filtered read opens FEWER files than the
    # full union (only runs whose manifests contain buckets 0/1)
    def files_of(df):
        return {r[0] for r in
                df.select(F.input_file_name()).distinct().collect()}
    assert len(files_of(got)) < len(files_of(full))
    # EXACT pruning evidence: the scanned-file set equals the parquet
    # files under part_id 0/1 of runs whose MANIFEST lists bucket 0 or 1
    # -- no extra run dir is ever opened, no pruned file sneaks back in
    import glob as _glob
    import os as _os
    want_runs = [r for sn in cat.snapshots() if {0, 1} & set(sn["buckets"])
                 for r in ([sn["run"]] if "run" in sn else sn["runs"])]
    expect = set()
    for r in want_runs:
        for b in (0, 1):
            pat = _os.path.join(cat.data_dir, r, f"part_id={b}",
                                "*.parquet")
            expect.update("file://" + f for f in _glob.glob(pat))
    assert files_of(got) == expect
    # correctness: rows match the naive filter exactly
    a = {(r.url, r.part_id) for r in got.collect()}
    b = {(r.url, r.part_id)
         for r in full.where("part_id in (0, 1)").collect()}
    assert a == b
    # no match -> None (all runs pruned)
    assert cat.read_buckets(spark, [999]) is None or \
        cat.read_buckets(spark, [999]).count() == 0


def test_totals_scope_to_current_generation(spark, warc_dir, tmp_path):
    """After a refresh re-commits every bucket (generation 1), default
    totals() must line up with the read_latest view — summing every
    snapshot would double-count pages (review finding). The cumulative
    lifetime-ingest counter stays available explicitly."""
    root = str(tmp_path / "t")
    job.run_crawl(spark, warc_dir, root, num_buckets=8)
    cat = Catalog(root)
    gen0 = cat.totals()
    n_latest = cat.read_latest(spark).count()
    assert gen0["pages"] == n_latest

    job.run_crawl(spark, warc_dir, root, num_buckets=8, refresh=True)
    assert cat.current_gen() == 1
    # default scope: the refresh generation alone == the latest view
    assert cat.totals()["pages"] == cat.read_latest(spark).count()
    assert cat.totals()["pages"] == n_latest
    # explicit scopes
    assert cat.totals(gen=0) == gen0
    assert cat.totals(cumulative=True)["pages"] == 2 * n_latest


def _one_row_runs(root, n_runs, url_type="string"):
    """A table of ``n_runs`` committed runs of one row each (bucket
    ``i % 4``), written with pyarrow so that building it runs no Spark
    job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType
    schema = StructType.fromJson({"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in (("url", url_type), ("warc_ts", "long"),
                     ("part_id", "integer"))]})
    cat = Catalog(root)
    for i in range(n_runs):
        sid, run_dir = cat.new_run()
        d = os.path.join(run_dir, f"part_id={i % 4}")
        os.makedirs(d)
        url = f"u{i % 3}" if url_type == "string" else i
        pq.write_table(pa.table({"url": [url], "warc_ts": [0]}),
                       os.path.join(d, "part-0.parquet"))
        cat.commit(sid, [i % 4], {}, {"pages": 1}, schema=schema)
    return cat


def test_read_table_plan_size_independent_of_history(spark, tmp_path):
    """A read is one scan, not one union child per committed run: the
    analyzed plan has as many lines for 20 snapshots as for 2."""
    def plan_lines(n):
        df = _one_row_runs(str(tmp_path / f"n{n}"), n).read_table(spark)
        assert df.count() == n
        return len(df._jdf.queryExecution().analyzed().toString()
                   .splitlines())
    assert plan_lines(2) == plan_lines(20)


def test_catalog_reads_start_no_spark_job(spark, tmp_path):
    """The schema comes from the snapshots, so building read_table,
    read_latest and read_buckets infers nothing from the files."""
    cat = _one_row_runs(str(tmp_path / "t"), 6)
    sc = spark.sparkContext
    sc.setJobGroup("catalog-reads", "build the catalog reads")
    try:
        table = cat.read_table(spark)
        latest = cat.read_latest(spark)
        bucket = cat.read_buckets(spark, [1])
        assert sc.statusTracker().getJobIdsForGroup("catalog-reads") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert table.count() == 6
    # url u0..u2 each committed twice with one warc_ts: the later run wins
    assert sorted((r.url, r.part_id) for r in latest.collect()) == \
        [("u0", 3), ("u1", 0), ("u2", 1)]
    assert [r.part_id for r in bucket.collect()] == [1, 1]


@pytest.mark.parametrize("n_runs", [33, 40])
def test_catalog_reads_past_listing_threshold_start_no_spark_job(
        spark, tmp_path, n_runs):
    """More run dirs than Spark's parallel-listing threshold (32): the
    reads still list on the driver, read the same rows, and leave the
    threshold as they found it."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    cat = _one_row_runs(str(tmp_path / "t"), n_runs)
    sc = spark.sparkContext
    sc.setJobGroup("catalog-reads", "build the catalog reads")
    try:
        table = cat.read_table(spark)
        latest = cat.read_latest(spark)
        bucket = cat.read_buckets(spark, [1])
        assert sc.statusTracker().getJobIdsForGroup("catalog-reads") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert spark.conf.get(key) == before
    assert sorted((r.url, r.part_id) for r in table.collect()) == \
        sorted((f"u{i % 3}", i % 4) for i in range(n_runs))
    # each url's last run wins (one warc_ts everywhere)
    assert sorted((r.url, r.part_id) for r in latest.collect()) == \
        sorted((f"u{i % 3}", i % 4) for i in range(n_runs - 3, n_runs))
    assert [r.part_id for r in bucket.collect()] == \
        [1] * len(range(1, n_runs, 4))


def test_schema_type_change_fails_fast(spark, tmp_path):
    """A column whose type differs between snapshots is refused, not
    coerced."""
    root = str(tmp_path / "t")
    _one_row_runs(root, 2)
    cat = _one_row_runs(root, 1, url_type="long")
    with pytest.raises(ValueError, match="'url' changes type"):
        cat.read_table(spark)

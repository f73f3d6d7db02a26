"""Snapshot/manifest lineage catalog with resume — Iceberg-style semantics
over Parquet.

north_rule requires: per-partition lineage manifests + counters written with
the output, and resume from the last committed snapshot. Production target
is an Iceberg table (the sandbox PySpark has no Iceberg runtime jar —
SURVEY.md §0.3), so this thin catalog implements the REQUIRED semantics
behind a small interface that an Iceberg-backed implementation can replace:

  output_root/
    data/run=<snapshot_id>/part_id=<b>/*.parquet   (columnar data, hive-part)
    _manifests/<snapshot_id>/part-<b>.json          (per-bucket lineage)
    _snapshots/snap-<id>.json                       (snapshot metadata)
    _snapshots/CURRENT                              (atomic pointer)

``data/`` is one dataset hive-partitioned by (run, part_id). Each snapshot
records the schema its run wrote, so a read is ONE parquet scan over the
run dirs the snapshots list, with the merged snapshot schema pinned (no
footer inference, no per-run union).

Commit protocol: data + manifests are written first, then the snapshot file,
then CURRENT is updated via write-temp + os.rename (atomic on POSIX). A
crash before the snapshot write leaves an orphaned run dir that no snapshot
references — readers never see it, and gc_uncommitted() reclaims it.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()   # one catalog read raises it at a time


class Catalog:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        self.snapshot_dir = os.path.join(root, "_snapshots")
        for d in (self.data_dir, self.manifest_dir, self.snapshot_dir):
            os.makedirs(d, exist_ok=True)
        self._last_sid = 0   # the last id new_run handed out

    # -- table config (pinned identity: bucket ids are only meaningful
    # relative to num_buckets; resuming with a different value would
    # silently skip/double-process pages) ------------------------------------

    def table_config(self) -> dict | None:
        p = os.path.join(self.snapshot_dir, "TABLE.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def pin_table_config(self, **cfg) -> dict:
        """First writer pins the config; later runs must match or fail.
        Returns the effective (pinned) config.

        Concurrency: the pin is claimed with ``os.link`` (atomic; fails
        with EEXIST if another run won the race) rather than ``os.rename``
        (which silently replaces) — two concurrent INITIAL runs with
        different num_buckets must not both believe they pinned, or they
        would diverge exactly the way the pin exists to prevent. The
        loser re-reads and validates against the winner's config."""
        existing = self.table_config()
        if existing is not None:
            mismatched = {k: (existing.get(k), v) for k, v in cfg.items()
                          if existing.get(k) != v}
            if mismatched:
                raise ValueError(
                    f"table config mismatch vs committed table at {self.root}: "
                    + ", ".join(f"{k}: committed={a!r} requested={b!r}"
                                for k, (a, b) in mismatched.items()))
            return existing
        tmp = os.path.join(self.snapshot_dir,
                           f"TABLE.json.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(cfg, f)
        try:
            os.link(tmp, os.path.join(self.snapshot_dir, "TABLE.json"))
        except FileExistsError:
            os.unlink(tmp)
            return self.pin_table_config(**cfg)  # validate vs the winner
        os.unlink(tmp)
        return cfg

    # -- snapshot chain -----------------------------------------------------

    def current_snapshot_id(self) -> int | None:
        p = os.path.join(self.snapshot_dir, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def _snapshot_path(self, sid: int) -> str:
        return os.path.join(self.snapshot_dir, f"snap-{sid}.json")

    def read_snapshot(self, sid: int) -> dict:
        with open(self._snapshot_path(sid)) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Snapshot chain from oldest to current."""
        out: list[dict] = []
        sid = self.current_snapshot_id()
        while sid is not None:
            snap = self.read_snapshot(sid)
            out.append(snap)
            sid = snap.get("parent_id")
        return list(reversed(out))

    # -- reads --------------------------------------------------------------

    def committed_buckets(self, gen: int | None = None) -> set[int]:
        """Buckets committed so far; with ``gen``, only by snapshots of
        that refresh GENERATION (pre-generation snapshots count as gen
        0). Generation-scoped resume is what lets an interrupted refresh
        run complete: buckets the ORIGINAL crawl committed must not mask
        buckets the refresh still owes (see job.run_crawl)."""
        done: set[int] = set()
        for snap in self.snapshots():
            if gen is None or int(snap.get("gen", 0)) == gen:
                done.update(snap["buckets"])
        return done

    def current_gen(self) -> int:
        """Highest refresh generation committed (0 for a fresh table)."""
        return max((int(s.get("gen", 0)) for s in self.snapshots()),
                   default=0)

    @staticmethod
    def _runs_of(snap: dict) -> list[str]:
        """A normal snapshot references one run; a squash base (created by
        expire_snapshots) references every run of the expired prefix."""
        return snap.get("runs") or [snap["run"]]

    def _run_dirs(self, snaps) -> list[str]:
        return [os.path.join(self.data_dir, r)
                for s in snaps for r in self._runs_of(s)]

    def committed_run_dirs(self) -> list[str]:
        return self._run_dirs(self.snapshots())

    @staticmethod
    def _merged_fields(snaps) -> list[dict]:
        """The snapshots' schema fields (JSON form) in first-written
        order: a column a later run adds reads NULL for older runs; a
        column whose type changes raises instead of being coerced."""
        fields: dict[str, dict] = {}
        for sn in snaps:
            for f in sn["schema"]["fields"]:
                seen = fields.setdefault(f["name"], f)
                if seen["type"] != f["type"]:
                    raise ValueError(
                        f"column {f['name']!r} changes type from "
                        f"{seen['type']!r} to {f['type']!r} in snapshot "
                        f"{sn['snapshot_id']}")
        return list(fields.values())

    def _read_runs(self, spark, snaps):
        """The run dirs of ``snaps`` as ONE scan with the merged schema
        plus ``run`` (each row's commit id) pinned: no footer-inference
        job, one relation however many runs, and an empty run reads as
        no rows. None when ``snaps`` is empty.

        Building the scan lists the run dirs and their ``part_id`` dirs.
        Spark lists a level with more than
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
        paths in a distributed job; the snapshots bound both fan-outs,
        so the threshold is raised to that bound while this read is
        built and the listing stays on the driver."""
        if not snaps:
            return None
        from pyspark.sql.types import StructType
        schema = StructType.fromJson({"type": "struct", "fields": [
            *self._merged_fields(snaps),
            {"name": "run", "type": "integer", "nullable": True,
             "metadata": {}}]})
        dirs = self._run_dirs(snaps)
        fan_out = max(len(dirs), *(len(sn["buckets"]) for sn in snaps))
        with _LISTING_LOCK:
            old = spark.conf.get(_LISTING_THRESHOLD)
            spark.conf.set(_LISTING_THRESHOLD, str(max(int(old), fan_out)))
            try:
                return (spark.read.schema(schema)
                        .option("basePath", self.data_dir).parquet(*dirs))
            finally:
                spark.conf.set(_LISTING_THRESHOLD, old)

    def _snaps_as_of(self, as_of: int | None):
        snaps = self.snapshots()
        if as_of is not None:
            snaps = [sn for sn in snaps if sn["snapshot_id"] <= as_of]
        return snaps

    def read_table(self, spark, as_of: int | None = None):
        """All committed runs, read in one scan (``part_id`` from the
        hive path). Returns None if nothing is committed.

        ``as_of`` reads the table AS OF a snapshot id (Iceberg-style time
        travel): only runs committed at or before that snapshot are
        visible — later commits never rewrite earlier run dirs, so the
        historical view is exact.

        Additive schema evolution: runs committed by newer job versions
        may carry EXTRA columns, which read NULL for older runs (Iceberg
        add-column semantics). Dropping or retyping a column is NOT
        supported — a type conflict between snapshots raises ValueError
        rather than silently coercing."""
        df = self._read_runs(spark, self._snaps_as_of(as_of))
        return None if df is None else df.drop("run")

    def totals(self, gen: int | None = None,
               cumulative: bool = False) -> dict:
        """Counter totals over committed snapshots. Default scope is the
        CURRENT refresh generation so totals line up with the
        ``read_latest`` view — summing every snapshot would double-count
        pages after a refresh re-commits a bucket (gen N re-ingests rows
        gen N-1 already counted). ``cumulative=True`` restores the
        all-generations sum (a lifetime-ingest counter, NOT table
        cardinality); ``gen`` pins a specific generation."""
        if cumulative:
            want = None
        else:
            want = self.current_gen() if gen is None else gen
        agg: dict[str, int] = {}
        for snap in self.snapshots():
            if want is not None and int(snap.get("gen", 0)) != want:
                continue
            for k, v in snap["totals"].items():
                agg[k] = agg.get(k, 0) + v
        return agg

    # -- writes -------------------------------------------------------------

    def new_run(self) -> tuple[int, str]:
        """(snapshot_id, run data dir) for a commit to come: one more
        than both CURRENT and the last id this object handed out, so runs
        taken ahead of their commits never share an id."""
        sid = max(self.current_snapshot_id() or 0, self._last_sid) + 1
        self._last_sid = sid
        return sid, os.path.join(self.data_dir, f"run={sid:06d}")

    def commit(self, sid: int, buckets: list[int],
               manifests: dict[int, dict], totals: dict,
               extra: dict | None = None, schema=None) -> None:
        """Commit a run: per-bucket manifests, then snapshot, then CURRENT
        (atomic rename). ``manifests[b]`` = counters dict for bucket b;
        the caller names the counters, so a bucket it leaves out gets
        an empty dict. ``schema`` (a StructType) is the schema the run
        wrote; readers pin it instead of inferring it from the files.
        Without it the snapshot records an empty schema."""
        mdir = os.path.join(self.manifest_dir, str(sid))
        os.makedirs(mdir, exist_ok=True)
        run = f"run={sid:06d}"
        for b in buckets:
            m = {"snapshot_id": sid, "bucket": int(b), "run": run,
                 "counters": manifests.get(int(b), {})}
            with open(os.path.join(mdir, f"part-{int(b):05d}.json"), "w") as f:
                json.dump(m, f)
        snap = {
            "snapshot_id": sid,
            "parent_id": self.current_snapshot_id(),
            "run": run,
            "buckets": sorted(int(b) for b in buckets),
            "totals": totals,
            "schema": (schema.jsonValue() if schema is not None
                       else {"type": "struct", "fields": []}),
            "committed_at_unix": int(time.time()),
            **(extra or {}),
        }
        tmp = self._snapshot_path(sid) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.rename(tmp, self._snapshot_path(sid))
        cur_tmp = os.path.join(self.snapshot_dir, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(sid))
        os.rename(cur_tmp, os.path.join(self.snapshot_dir, "CURRENT"))

    def manifests_for(self, sid: int) -> list[dict]:
        mdir = os.path.join(self.manifest_dir, str(sid))
        out = []
        for name in sorted(os.listdir(mdir)):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
        return out

    def gc_uncommitted(self) -> list[str]:
        """Delete orphaned run dirs (crashed runs that never committed)."""
        keep = {r for s in self.snapshots() for r in self._runs_of(s)}
        removed = []
        for name in os.listdir(self.data_dir):
            if name.startswith("run=") and name not in keep:
                shutil.rmtree(os.path.join(self.data_dir, name))
                removed.append(name)
        return removed

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Iceberg-style snapshot expiry: retire time-travel points older
        than the newest ``keep_last`` snapshots WITHOUT touching live data.

        The expired prefix is squashed into a single base snapshot (same id
        as the newest expired one, so the kept chain's parent pointer stays
        valid) that references every expired run dir and carries the summed
        totals; the older snapshot files and their per-bucket manifest dirs
        are deleted. ``read_table()`` is unchanged (all runs stay
        referenced); ``read_table(as_of=<expired id>)`` now sees history
        only back to the squash base — exactly Iceberg's
        ``expireSnapshots`` contract. Returns the expired snapshot ids."""
        snaps = self.snapshots()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(snaps) <= keep_last:
            return []
        cut = snaps[:-keep_last]
        if len(cut) == 1 and cut[0].get("runs"):
            return []  # prefix is already a squash base
        totals: dict[str, int] = {}
        for s in cut:
            for k, v in s["totals"].items():
                totals[k] = totals.get(k, 0) + v
        base = {
            "snapshot_id": cut[-1]["snapshot_id"],
            "parent_id": None,
            "runs": [r for s in cut for r in self._runs_of(s)],
            "buckets": sorted({int(b) for s in cut for b in s["buckets"]}),
            # a squash crossing a refresh boundary adopts the newest gen
            # in the prefix so gen-scoped totals()/committed_buckets()
            # keep seeing it (gen-mixed squashed totals are inherently
            # cumulative for the squashed span — documented in totals())
            "gen": max(int(s.get("gen", 0)) for s in cut),
            "totals": totals,
            "schema": {"type": "struct", "fields": self._merged_fields(cut)},
            "squashed_of": [s["snapshot_id"] for s in cut],
            "committed_at_unix": int(time.time()),
        }
        tmp = self._snapshot_path(base["snapshot_id"]) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(base, f)
        os.rename(tmp, self._snapshot_path(base["snapshot_id"]))
        expired = []
        for s in cut[:-1]:
            sid = s["snapshot_id"]
            expired.append(sid)
            p = self._snapshot_path(sid)
            if os.path.exists(p):
                os.unlink(p)
            mdir = os.path.join(self.manifest_dir, str(sid))
            if os.path.isdir(mdir):
                shutil.rmtree(mdir)
        return expired + [base["snapshot_id"]]

    # -- merge-on-read upsert view -----------------------------------------

    def read_latest(self, spark, as_of: int | None = None):
        """Keep-latest merge-on-read view — the Iceberg upsert resolution
        for RE-CRAWLED pages: when refresh runs commit newer rows for
        urls that earlier snapshots already hold, the reader resolves
        each url to the row with the greatest (warc_ts, commit order).
        Ties on the timestamp break by the commit order of the row's own
        run, so a re-fetch that kept the crawl timestamp still
        supersedes, also after ``expire_snapshots`` squashed both runs
        into one base. Composes with ``as_of`` time travel (the
        historical view resolves only among runs committed by then).
        Returns None if nothing is committed.

        Scale: one scan of every visible run and one window over the key
        — at 10^12 rows this shuffles on url exactly once, the same cost
        Iceberg MoR pays in its positional-delete merge."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        df = self._read_runs(spark, self._snaps_as_of(as_of))
        if df is None:
            return None
        w = Window.partitionBy("url").orderBy(
            F.col("warc_ts").desc(), F.col("run").desc())
        return (df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn", "run"))

    # -- manifest-based bucket pruning --------------------------------------

    def read_buckets(self, spark, buckets, as_of: int | None = None):
        """Bucket-filtered read with MANIFEST PRUNING (the Iceberg move:
        metadata decides which data files exist for a predicate before
        any file is opened): each snapshot records exactly which buckets
        its run committed, so only the run dirs of snapshots holding a
        requested bucket enter the one scan, and within them the
        ``part_id`` hive-partition filter prunes directories. At 10^12
        rows with thousands of runs this turns a point lookup ("give me
        bucket 17's pages") from a full-table scan into a handful of
        directory reads. None if no snapshot holds a requested bucket.

        Semantics are read_table's: on a refreshed table a re-crawled url
        appears once per committing run — compose with a keep-latest
        window (read_latest's rule) when the caller wants one row per
        url."""
        from tuatara_spark.partitioning import in_buckets
        want = {int(b) for b in buckets}
        snaps = [sn for sn in self._snaps_as_of(as_of)
                 if want & set(sn["buckets"])]   # manifest pruning
        df = self._read_runs(spark, snaps)
        if df is None:
            return None
        return df.where(in_buckets(sorted(want))).drop("run")

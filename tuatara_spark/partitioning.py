"""Url-hash bucket partitioning with explicit salting for skewed pages.

north_rule: "partitioning / shuffle / skew handled explicitly … url-hash
ranges with explicit salting for skewed large-page partitions".

Two-level scheme:

* ``bucket = pmod(xxhash64(url), num_buckets)`` — the STABLE unit of work,
  commit, and resume (a pure function of the url, so re-runs see the same
  buckets regardless of cluster size or input order).
* ``salt`` — heavy pages (html length > heavy_bytes) additionally get
  ``pmod(xxhash64(url, 1), salt_buckets)``; the physical shuffle keys on
  (bucket, salt), so heavy pages that hash into the same bucket spread
  across different tasks instead of serializing one straggler task. AQE
  can't do this for us: its skew handling only triggers on joins/sort
  aggregations, not on a mapInArrow over hash partitions.

All expressions are native Catalyst (xxhash64/pmod/length) — JVM-side,
whole-stage-codegen, no Python in the partitioning path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_NUM_BUCKETS = 64          # commit/resume granularity (sandbox scale;
                                  # at 10^12 rows this would be e.g. 2^14)
DEFAULT_HEAVY_BYTES = 1 << 20     # pages above 1 MiB payload count as heavy
DEFAULT_SALT_BUCKETS = 16


# NULL urls hash to a sentinel so every row lands in a real bucket and is
# processed/counted instead of silently dropped by the bucket filter.
_NULL_URL_SENTINEL = "\x00null-url"


def _url():
    return F.coalesce(F.col("url"), F.lit(_NULL_URL_SENTINEL))


def with_bucket(df: DataFrame,
                num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """Add the stable url-hash bucket column ``part_id``."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(_url()), F.lit(num_buckets))
        .cast("int"))


def in_buckets(buckets) -> Column:
    """``part_id IN (buckets)`` (a non-empty list) parsed from one SQL
    string: a fixed handful of py4j calls at any bucket count, where
    ``F.col("part_id").isin(buckets)`` makes about four per bucket. The
    optimized plan is the same."""
    return F.expr(f"part_id IN ({', '.join(str(int(b)) for b in buckets)})")


def with_salt(df: DataFrame, heavy_bytes: int = DEFAULT_HEAVY_BYTES,
              salt_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Add ``salt``: 0 for normal rows; a second, independent url hash for
    heavy rows (``html`` longer than ``heavy_bytes``) so they spread
    across tasks within a bucket."""
    heavy = F.length(F.col("html")) > F.lit(heavy_bytes)
    salt = F.when(
        heavy, F.pmod(F.xxhash64(_url(), F.lit(1)), F.lit(salt_buckets)))
    return df.withColumn("salt", salt.otherwise(F.lit(0)).cast("int"))


def distribute(df: DataFrame, num_tasks: int) -> DataFrame:
    """Physical repartition on (part_id, salt) — the explicit shuffle that
    balances extraction work. Requires with_bucket + with_salt first."""
    return df.repartition(num_tasks, F.col("part_id"), F.col("salt"))

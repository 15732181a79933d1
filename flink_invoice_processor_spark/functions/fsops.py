"""Filesystem operations through the Hadoop FileSystem API.

Spark writes resolve their filesystem from the path scheme (local, HDFS,
s3a, ...).  Any maintenance code that cleans up after those writes must
resolve the SAME way: a local ``glob``/``shutil.rmtree`` sweep silently
no-ops on every non-local scheme, leaving superseded partitions to
accumulate forever (correct reads only via downstream DISTINCTs, but
unbounded store growth and repeated re-compaction).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def list_partition_values(
    spark: SparkSession, pattern: str, key: str
) -> list[int]:
    """Distinct integer values of the partition column ``key`` under the
    Hadoop glob ``pattern`` (e.g. ``store/bucket=*/batch=*`` with
    ``key="batch"``), read from the DIRECTORY NAMES via the filesystem
    API — no Spark job.

    Purpose (r14, guide §5 "the driver should do almost no data work" —
    and its converse: pure metadata questions belong on the driver, not
    in a scan job): the compaction paths asked "which batch partitions
    exist?" with ``df.select("batch").distinct().collect()``, a full
    scheduled Spark job with one task per file, twice per fold for the
    chunk store.  Partition values ARE the directory names — Spark's own
    partition discovery derives the ``batch`` column from them — so a
    globStatus listing answers the same question in single-digit
    milliseconds on any FS scheme Spark itself can write to.

    Equivalence note: a data-bearing partition always has its directory;
    the reverse can briefly differ (a crashed write can leave an empty
    ``key=N`` dir).  Every caller here treats a listed-but-empty batch
    exactly like an empty DataFrame slice — it contributes no rows to
    the fold and its dir is retired by the same sweep — so the substitution
    is behavior-preserving even in crash-debris states.  Directory names
    whose value is not an integer are skipped, as a select-distinct over
    the integer column never saw them."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(jpath)
    vals: set[int] = set()
    prefix = key + "="
    if statuses is not None:
        for status in statuses:
            name = status.getPath().getName()
            if not name.startswith(prefix):
                continue
            try:
                vals.add(int(name[len(prefix):]))
            except ValueError:
                # not a batch partition: a null key's
                # __HIVE_DEFAULT_PARTITION__ or crash debris like 0.tmp
                continue
    return sorted(vals)


def delete_matching_dirs(spark: SparkSession, pattern: str) -> int:
    """Recursively delete every path matching the Hadoop glob ``pattern``
    (e.g. ``store/band_bucket=*/batch=3``), resolving the filesystem from
    the path scheme exactly like Spark's own writers.  Returns the number
    of paths deleted; a pattern with no matches deletes nothing and
    returns 0 (mirrors ``shutil.rmtree(ignore_errors=True)``'s tolerance
    of already-gone paths, which compaction re-runs rely on)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(jpath)
    n = 0
    if statuses is not None:
        for status in statuses:
            if fs.delete(status.getPath(), True):
                n += 1
    return n

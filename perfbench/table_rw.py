"""``table_rw``: upserts into a snapshot table with reads beside them.

Set-up creates a snapshot table from the corpus ``orders``, partitioned
by order month as the declared snapshot-merge queries create theirs.
Each step then

- merges one fresh seeded batch of 5,000 rows (4,500 updates of keys in
  four seeded months, 500 new keys in the same months), written by the
  benchmark as a new parquet file, loaded with ``load_table`` and
  committed with ``merge_snapshot_commit``;
- looks up one key it just updated and one it just inserted with
  ``read_snapshot_keyrange``;
- scans one of the batch's months with a month-pruned ``read_snapshot``.

Every batch is new, so nothing the program memoizes per input file or
plan can hit: this is the working set larger than the program's caches.
The benchmark keeps its own model of the table to check each read, and
at the end compares the whole table with a DuckDB replay of the batches.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.harness import summary

# Step times have mostly stopped falling after eight commits (the JVM
# has compiled the hot paths and the table's file layout has settled).
UPDATES, INSERTS, MONTHS_PER_BATCH, WARM_STEPS = 4500, 500, 4, 8
PART_COL = "o_month"
COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


def month_of(df):
    from pyspark.sql import functions as F

    d = F.col("o_orderdate")
    return (F.year(d) * 100 + F.month(d)).cast("int")


def _months(dates: np.ndarray) -> np.ndarray:
    ym = dates.astype("datetime64[M]").astype(np.int64)
    return (ym // 12 + 1970) * 100 + ym % 12 + 1


class Model:
    """The table as the benchmark expects it: one row per order key."""

    def __init__(self, orders: pa.Table):
        self.rows = {
            c: orders.column(c).to_numpy(zero_copy_only=False).copy() for c in COLS
        }
        self.month = _months(self.rows["o_orderdate"])
        self.next_key = int(self.rows["o_orderkey"].max()) + 1
        self.all_months = np.unique(self.month)

    def batch(self, rng) -> tuple[pa.Table, list[int]]:
        months = sorted(rng.choice(self.all_months, MONTHS_PER_BATCH, replace=False).tolist())
        pos = np.flatnonzero(np.isin(self.month, months))
        upd = rng.choice(pos, min(UPDATES, len(pos)), replace=False)
        new_keys = np.arange(self.next_key, self.next_key + INSERTS, dtype=np.int64)
        self.next_key += INSERTS
        first = np.asarray([np.datetime64(f"{m // 100}-{m % 100:02d}-01", "D") for m in months])
        day = first[rng.integers(0, len(months), INSERTS)] + rng.integers(0, 28, INSERTS)
        n = len(upd) + INSERTS
        data = {
            "o_orderkey": np.concatenate([self.rows["o_orderkey"][upd], new_keys]),
            "o_custkey": np.concatenate(
                [self.rows["o_custkey"][upd], rng.integers(0, 15_000, INSERTS)]
            ),
            "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n)],
            "o_totalprice": rng.integers(100_000, 50_000_001, n) / 100.0,
            "o_orderdate": np.concatenate(
                [self.rows["o_orderdate"][upd], day.astype("datetime64[us]")]
            ),
            "o_orderpriority": np.asarray(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
            )[rng.integers(0, 5, n)],
        }
        for c in COLS:
            self.rows[c][upd] = data[c][: len(upd)]
            self.rows[c] = np.concatenate([self.rows[c], data[c][len(upd):]])
        self.month = np.concatenate([self.month, _months(data["o_orderdate"][len(upd):])])
        return pa.table(data), months

    def month_total(self, month: int) -> tuple[int, int]:
        """(rows, sum of o_totalprice in cents) for one month."""
        sel = self.month == month
        return int(sel.sum()), int(np.round(self.rows["o_totalprice"][sel] * 100).sum())


def _row(table: pa.Table, i: int) -> dict:
    return {c: table.column(c)[i].as_py() for c in COLS}


def _commit_stats(loc: str, version: int, batch_rows: int, batch_bytes: int) -> dict:
    from database_importer_spark.operators.snapshot_table import (
        _manifest_path,
        load_manifest,
    )

    new, old = load_manifest(loc, version), load_manifest(loc, version - 1)
    before = {e["path"] for e in old["files"]}
    after = {e["path"] for e in new["files"]}
    added = [e for e in new["files"] if e["path"] not in before]
    data_bytes = sum(os.path.getsize(os.path.join(loc, e["path"])) for e in added)
    manifest_bytes = os.path.getsize(_manifest_path(loc, version))
    return {
        "files_rewritten": len(before - after),
        "bytes_added": data_bytes + manifest_bytes,
        "manifest_bytes": manifest_bytes,
        "rows_written_per_batch_row": sum(e["rows"] for e in added) / batch_rows,
        "files_live": len(new["files"]),
        "input_bytes": batch_bytes,
        "batch_rows": batch_rows,
    }


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from database_importer_spark.operators.snapshot_table import (
        create_snapshot_table,
        latest_version,
        merge_snapshot_commit,
        read_snapshot,
        read_snapshot_keyrange,
        snapshot_files,
        snapshot_files_keyrange,
    )
    from database_importer_spark.sources.loader import load_table

    spark, tracer = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    loc = os.path.join(ctx.run_dir, "table")
    batch_dir = os.path.join(ctx.run_dir, "batches")
    os.makedirs(batch_dir)
    with ctx.prep():
        model = Model(pq.read_table(os.path.join(ctx.corpus_dir, "orders.parquet")))

    def source():
        o = load_table(spark, ctx.corpus_dir, "orders")
        return o.withColumn(PART_COL, month_of(o))

    with ctx.op("create", timed=False):
        create_snapshot_table(spark, loc, source, PART_COL, "o_orderkey", files=16)

    def collect(plan):
        """Build a read with ``plan`` and run it to the driver."""
        with ctx.span("spark.build"):
            df = plan()
        if tracer is not None:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.span("spark.run"):
            return df.collect()

    merges, lookups, scans, commits = [], [], [], []
    files_per_lookup, files_per_scan = [], []

    def step(i: int, timed: bool) -> None:
        with ctx.prep():
            batch, months = model.batch(rng)
            name = f"b{i:04d}"
            path = os.path.join(batch_dir, f"{name}.parquet")
            pq.write_table(batch, path)
        with ctx.op("merge", timed) as op:
            df = load_table(spark, batch_dir, name)
            version = merge_snapshot_commit(
                spark, loc, df, ["o_orderkey"], month_of, months
            )
        if timed:
            merges.append(op.wall)
            commits.append(
                _commit_stats(loc, version, batch.num_rows, os.path.getsize(path))
            )
        n_upd = batch.num_rows - INSERTS
        for kind, idx in (("updated", int(rng.integers(0, n_upd))), ("inserted", n_upd)):
            want = _row(batch, idx)
            if ctx.negative_control and kind == "updated":
                # a deliberately wrong expected value: the gate must trip
                want["o_totalprice"] += 0.01
            key = want["o_orderkey"]
            with ctx.op(f"lookup_{kind}", timed) as op:
                got = collect(
                    lambda: read_snapshot_keyrange(spark, loc, "o_orderkey", key, key)
                )
            if timed:
                lookups.append(op.wall)
                files_per_lookup.append(
                    len(snapshot_files_keyrange(loc, version, "o_orderkey", key, key)[1])
                )
            ok = len(got) == 1 and {c: got[0][c] for c in COLS} == want
            ctx.check(ok, f"lookup of {kind} key {key}: {got} != {want}")
        month = months[int(rng.integers(0, len(months)))]
        with ctx.op("scan", timed) as op:
            got = collect(
                lambda: read_snapshot(spark, loc, part_values=[month])
                .filter(F.col(PART_COL) == month)
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("o_totalprice").cast("decimal(25,2)")).alias("s"),
                )
            )
        if timed:
            scans.append(op.wall)
            files_per_scan.append(len(snapshot_files(loc, version, [month])[1]))
        n, cents = model.month_total(month)
        got_n, got_s = got[0]["n"], got[0]["s"]
        ok = got_n == n and got_s is not None and int(got_s * 100) == cents
        ctx.check(ok, f"scan of month {month}: ({got_n}, {got_s}) != ({n}, {cents / 100})")

    for i in range(WARM_STEPS):
        step(i, timed=False)
    ctx.setup_done()

    i, steps = WARM_STEPS, []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        n_ops = len(ctx.samples)
        step(i, timed=True)
        steps.append(sum(t for _, t in ctx.samples[n_ops:]))
        i += 1
    ctx.measured_done()

    # The final table against a DuckDB replay of every batch.
    final = read_snapshot(spark, loc, version=latest_version(loc)).toArrow()
    con = oracle.connect(ctx.corpus_dir)
    con.execute("CREATE TEMP TABLE replay AS SELECT * FROM orders")
    for b in range(i):
        p = os.path.join(batch_dir, f"b{b:04d}.parquet")
        con.execute(f"DELETE FROM replay WHERE o_orderkey IN (SELECT o_orderkey FROM '{p}')")
        con.execute(f"INSERT INTO replay SELECT * FROM '{p}'")
    problem = oracle.mismatch(
        con,
        final,
        "SELECT *, CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)"
        f" AS {PART_COL} FROM replay",
    )
    con.close()
    ctx.check(problem is None, f"final table vs replay: {problem}")

    def total(k):
        return sum(c[k] for c in commits)

    return {
        "step_s": steps,
        "read_s": lookups + scans,
        "detail": {
            "merge_s": summary(merges),
            "lookup_s": summary(lookups),
            "scan_s": summary(scans),
            "merged_rows_per_s": total("batch_rows") / sum(merges),
            "write_bytes_per_input_byte": total("bytes_added") / total("input_bytes"),
        },
        "layer_counts": {
            "snapshot_table.files_rewritten": total("files_rewritten") / len(commits),
            "snapshot_table.bytes_added": total("bytes_added") / len(commits),
            "snapshot_table.manifest_bytes": total("manifest_bytes") / len(commits),
            "snapshot_table.rows_written_per_batch_row": (
                total("rows_written_per_batch_row") / len(commits)
            ),
            "snapshot_table.files_live": commits[-1]["files_live"],
            "snapshot_table.files_per_lookup": sum(files_per_lookup) / len(files_per_lookup),
            "snapshot_table.files_per_scan": sum(files_per_scan) / len(files_per_scan),
        },
    }

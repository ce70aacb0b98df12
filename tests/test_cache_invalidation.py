"""Every corpus-keyed cache follows an in-place rewrite of ONE part
file inside a directory-shaped table.

A directory's own size and mtime do not change when a part file is
rewritten in place, so a cache keyed on them serves a stale schema,
view, frame, layout or value. Each case warms one memo site over a
corpus whose tables are 2-part directories, rewrites one part with a
different row count (restoring the directory's mtime), and asserts
the site yields a new key, name or value.
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from database_importer_spark.operators import merge_partitioned, partitioning
from database_importer_spark.operators.pruning import footer_exact_max
from database_importer_spark.plans import part_a, registry
from database_importer_spark.plans.llm import llm_similarity_topk
from database_importer_spark.scratch import scratch_dir
from database_importer_spark.session import session_cache
from database_importer_spark.sources import loader
from database_importer_spark.streaming import windows

def _orders(spark, sf):
    return loader.load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus"
    )


def _schema_keys(spark, sf):
    loader.load_table(spark, sf, "orders")
    path = os.path.abspath(os.path.join(sf, "orders.parquet"))
    return {k for k in loader._SCHEMA_CACHE if k[0] == path}


def _sliced_tags(spark, sf):
    windows.read_events_stream_sliced(spark, sf, slices=2)
    return set(os.listdir(scratch_dir("events_sliced_2")))


def _ingestion_tags(spark, sf):
    llm_similarity_topk(spark, sf)
    return set(session_cache(spark, "similarity_query_ingestion"))


# site → (table whose part file is rewritten, observation)
SITES = {
    "load_table_schema_key": ("orders", _schema_keys),
    "sql_view": ("orders", lambda s, sf: registry.sql_view(s, sf, "orders")),
    "frame_cache": (
        "orders",
        lambda s, sf: registry.frame_cache(s, sf, "invalidation", object),
    ),
    "bucketed_layout": (
        "orders",
        lambda s, sf: partitioning.ensure_bucketed_layout(
            s, sf, "orders", lambda: _orders(s, sf), ["o_orderkey"],
            buckets=2, memo_token="invalidation",
        ),
    ),
    "partitioned_layout": (
        "orders",
        lambda s, sf: partitioning.ensure_partitioned_layout(
            s, sf, "orders", lambda: _orders(s, sf), "o_orderstatus",
            memo_token="invalidation",
        ),
    ),
    "live_target": (
        "orders",
        lambda s, sf: merge_partitioned.ensure_live_target(
            s, sf, "orders", lambda: _orders(s, sf), "o_orderstatus",
            "invalidation",
        ),
    ),
    "snap_loc": ("orders", lambda s, sf: part_a._snap_loc(s, sf)),
    "footer_max": (
        "orders",
        lambda s, sf: footer_exact_max(
            os.path.join(sf, "orders.parquet"), "o_orderkey"
        ),
    ),
    "similarity_ingestion": ("embeddings", _ingestion_tags),
    "events_sliced": ("events", _sliced_tags),
}


def _as_two_parts(path):
    """Replace a single-file table by a directory of two part files,
    rows sorted on the first column (so part-1 holds the largest
    keys)."""
    t = pq.read_table(path)
    t = t.sort_by(t.column_names[0])
    os.remove(path)
    os.mkdir(path)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(path, "part-0.parquet"))
    pq.write_table(t.slice(half), os.path.join(path, "part-1.parquet"))


def _rewrite_last_part(path):
    """Rewrite part-1 in place with half its rows; the directory keeps
    its size and mtime."""
    d = os.stat(path)
    p = os.path.join(path, "part-1.parquet")
    t = pq.read_table(p)
    pq.write_table(t.slice(0, t.num_rows // 2), p)
    os.utime(path, ns=(d.st_atime_ns, d.st_mtime_ns))
    assert os.stat(path).st_mtime_ns == d.st_mtime_ns
    assert os.stat(path).st_size == d.st_size


@pytest.mark.parametrize("site", SITES)
def test_part_file_rewrite_invalidates_every_memo_site(
    spark, sf_dir, tmp_path, site
):
    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    for n in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, n), os.path.join(sf, n))
    for name in ("orders", "embeddings", "events"):
        _as_two_parts(os.path.join(sf, f"{name}.parquet"))
    table, observe = SITES[site]
    before = observe(spark, sf)
    assert observe(spark, sf) == before  # warm: the memo hits
    _rewrite_last_part(os.path.join(sf, f"{table}.parquet"))
    assert observe(spark, sf) != before

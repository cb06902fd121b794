"""The session-shared frame store (sources.tables.shared_frame): one key
rule, one live materialization per frame name, one clear.

Hermetic: tiny documents/lineitem parquet files under a temp dir."""

from __future__ import annotations

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from scout_spark.inventory.graph_ops import _degrees, _edges
from scout_spark.inventory.quality_ops import doc_tokens
from scout_spark.inventory.retrieval import _bm25_per_doc
from scout_spark.sources.tables import (
    clear_shared_frames,
    load_table,
    parquet_rows,
    source_key,
)

SHARED = (doc_tokens, _bm25_per_doc, _edges, _degrees)


def _write_documents(sf_dir: str, n: int) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "lang": ["en"] * n,
                "source": ["web"] * n,
                "text": [f"spark query {i} vector join" for i in range(n)],
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )


@pytest.fixture()
def sf(spark, tmp_path) -> str:
    sf_dir = str(tmp_path)
    _write_documents(sf_dir, 3)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 1, 1, 2, 2], pa.int64()),
                "l_partkey": pa.array([10, 11, 12, 10, 13], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
    yield sf_dir
    clear_shared_frames(spark)


def test_shared_frames_persist_again_after_clear(spark, sf):
    """The between-entries reset (bench --clear-between, the captures)
    must leave no stale unpersisted handle behind: every consumer
    rebuilds and re-persists its frame."""
    before = [fn(spark, sf) for fn in SHARED]
    clear_shared_frames(spark)
    for fn, old in zip(SHARED, before):
        df = fn(spark, sf)
        assert df is not old, fn.__name__
        assert df.storageLevel != StorageLevel.NONE, fn.__name__
    assert _edges(spark, sf).count() == 4  # 10-11, 10-12, 11-12, 10-13


def test_rewrite_moves_key_and_row_count(spark, sf):
    key = source_key(spark, sf, "documents")
    tok = doc_tokens(spark, sf)
    assert tok.select("doc_id").distinct().count() == 3  # materialized
    assert parquet_rows(spark, sf, "documents") == 3
    _write_documents(sf, 5)
    # the rewrite lands a second later, whatever the mtime granularity
    path = os.path.join(sf, "documents.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert source_key(spark, sf, "documents") != key
    assert parquet_rows(spark, sf, "documents") == 5
    fresh = doc_tokens(spark, sf)
    assert fresh is not tok
    # had the stale frame stayed persisted, Spark's cache manager would
    # serve its blocks for the identical plan over the same path
    assert fresh.select("doc_id").distinct().count() == 5


def test_unchanged_source_returns_same_object(spark, sf):
    for fn in SHARED:
        assert fn(spark, sf) is fn(spark, sf), fn.__name__
    assert load_table(spark, sf, "documents") is load_table(
        spark, sf, "documents"
    )


def test_missing_source_is_never_cached(spark, sf):
    """A path that cannot be stat'ed has no key: the read fails and the
    footer row count is unknown."""
    with pytest.raises(FileNotFoundError):
        source_key(spark, sf, "orders")
    with pytest.raises(FileNotFoundError):
        load_table(spark, sf, "orders")
    assert parquet_rows(spark, sf, "orders") is None


def test_concurrent_first_calls_share_one_frame(spark, sf):
    """Racing first calls build one frame; a lost update would leave a
    second, untracked persisted copy behind."""
    got, errors = [], []

    def call():
        try:
            got.append(doc_tokens(spark, sf))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert len(got) == 8 and all(df is got[0] for df in got)

"""Fixture-table loading: plan cache + budgeted hot-table cache."""

from __future__ import annotations

import os

import pytest

from flink_sql_toolkit_spark import tables
from flink_sql_toolkit_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.usefixtures("spark")


def test_plan_cache_returns_same_dataframe(spark):
    a = load_table(spark, SF_DIR, "region")
    b = load_table(spark, SF_DIR, "region")
    assert a is b  # analyzed plan reused — no second footer read


def test_plan_cache_keyed_by_dir(spark):
    a = load_table(spark, SF_DIR, "region")
    b = load_table(spark, "/root/testdata/sf0.01", "region")
    assert a is not b


def test_hot_cache_respects_budget(spark, monkeypatch):
    # force an empty per-session state with a budget smaller than any
    # fixture: nothing may be persisted. clearCache first — Spark's
    # CacheManager matches logical plans session-wide, so a scan
    # persisted by an earlier test would make this fresh DataFrame
    # report as cached.
    monkeypatch.setattr(tables, "HOT_CACHE_BUDGET_BYTES", 1)
    tables._PLAN_CACHE.pop(spark, None)
    tables._CACHE_SPEND.pop(spark, None)
    spark.catalog.clearCache()
    df = load_table(spark, SF_DIR, "nation")
    assert df.storageLevel.useMemory is False
    tables._PLAN_CACHE.pop(spark, None)
    tables._CACHE_SPEND.pop(spark, None)


def test_hot_cache_persists_within_budget(spark, monkeypatch):
    monkeypatch.setattr(tables, "HOT_CACHE_BUDGET_BYTES", 1 << 30)
    # supplier is tiny — drop the size floor so this test exercises
    # the budget/persist path (the floor has its own test below)
    monkeypatch.setattr(tables, "HOT_CACHE_MIN_BYTES", 0)
    tables._PLAN_CACHE.pop(spark, None)
    tables._CACHE_SPEND.pop(spark, None)
    spark.catalog.clearCache()
    df = load_table(spark, SF_DIR, "supplier")
    assert df.storageLevel.useMemory is True
    size = tables._table_bytes(os.path.join(SF_DIR, "supplier.parquet"))
    assert tables._CACHE_SPEND[spark] >= size
    # results identical to an uncached read
    raw = spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
    assert df.count() == raw.count()
    df.unpersist()
    tables._PLAN_CACHE.pop(spark, None)
    tables._CACHE_SPEND.pop(spark, None)


def test_hot_cache_small_tables_persist_at_natural_width(spark, monkeypatch):
    """r14: tables under HOT_CACHE_MIN_BYTES persist at their NATURAL
    partitioning (no defaultParallelism repartition) — the r6 loss
    that justified skipping them was the 32-near-empty-task scan
    shape, not the caching. A cached dim makes every broadcast build
    collect from the block manager instead of running a cold one-task
    parquet job per query execution."""
    monkeypatch.setattr(tables, "HOT_CACHE_BUDGET_BYTES", 1 << 30)
    monkeypatch.setattr(tables, "HOT_CACHE_MIN_BYTES", 8 << 20)
    tables._PLAN_CACHE.pop(spark, None)
    tables._CACHE_SPEND.pop(spark, None)
    spark.catalog.clearCache()
    tiny = load_table(spark, SF_DIR, "supplier")
    assert tiny.storageLevel.useMemory is True
    # natural (single-row-group fixture) partitioning, NOT fanned out
    assert tiny.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    # results identical to an uncached read
    raw = spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
    assert tiny.count() == raw.count()
    tiny.unpersist()
    tables._PLAN_CACHE.pop(spark, None)
    tables._CACHE_SPEND.pop(spark, None)


def test_fanout_repartition_spreads_partitions(spark):
    """fanout_repartition spreads a single-partition source across
    defaultParallelism partitions at use-site."""
    df = load_table(spark, SF_DIR, "documents")
    spread = tables.fanout_repartition(df)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fanout_rows_per_task_adaptive_width(spark):
    """r14: with a rows_per_task hint the fanout width derives from
    the table's row count — clamp(ceil(rows/rpt), 1, parallelism) —
    instead of a constant tuned for either local mode or a cluster.
    A huge rpt collapses to 1 partition; rpt=1 saturates to full
    parallelism (the cluster/rehearsal-scale behavior)."""
    tables._PLAN_CACHE.pop(spark, None)
    tables._CACHE_SPEND.pop(spark, None)
    n = tables.table_rows(spark, SF_DIR, "embeddings")
    assert n > 0
    wide = tables.load_fanout_table(spark, SF_DIR, "embeddings", rows_per_task=1)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    narrow = tables.load_fanout_table(
        spark, SF_DIR, "embeddings", rows_per_task=n * 10
    )
    assert narrow.rdd.getNumPartitions() == 1
    mid = tables.load_fanout_table(
        spark, SF_DIR, "embeddings", rows_per_task=max(1, n // 4)
    )
    assert 1 <= mid.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    # width variants are cached independently and invalidation drops
    # every one of them plus the row-count cache
    assert tables.load_fanout_table(
        spark, SF_DIR, "embeddings", rows_per_task=1
    ) is wide
    tables.invalidate_table(SF_DIR, "embeddings")
    key = (os.path.abspath(SF_DIR), "embeddings")
    assert key not in tables._ROWS_CACHE
    per_session = tables._PLAN_CACHE.get(spark, {})
    assert not [k for k in per_session if k[:2] == key]

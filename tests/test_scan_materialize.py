"""The scan runs once per ``run_scan``: its five outputs read two pinned
leaves instead of re-planning the dedup window, and the pinned blocks
do not accumulate across runs (``stream_scan`` calls ``run_scan`` once
per micro-batch, indefinitely)."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import DataFrame

from regpulse_lakehouse_spark.pipelines import run_scan
from regpulse_lakehouse_spark.sources import fixtures

OUTPUTS = ("documents", "main_items", "review_items", "links", "summary")


@pytest.fixture(scope="module")
def docs(spark):
    return fixtures.documents(spark).cache()


def _optimized(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _rows(df: DataFrame) -> list[str]:
    # repr, not the Row itself: rows carry maps, which do not order
    return sorted(repr(r) for r in df.collect())


def test_scan_outputs_read_pinned_leaves(spark, docs, monkeypatch):
    result = run_scan(docs, run_id="run-once", days_window=365 * 50)
    for name in OUTPUTS:
        plan = _optimized(getattr(result, name))
        assert "Window" not in plan, f"{name} re-plans the W1 dedup:\n{plan}"
        assert "LogicalRDD" in plan, name
    pinned = {name: _rows(getattr(result, name)) for name in OUTPUTS}

    # the same composition with the two checkpoints taken out is the
    # fully lazy DAG: every output re-plans the window, rows are equal
    monkeypatch.setattr(type(docs), "localCheckpoint", lambda self, *a, **k: self)
    lazy = run_scan(docs, run_id="run-once", days_window=365 * 50)
    for name in OUTPUTS:
        assert "Window" in _optimized(getattr(lazy, name)), name
        assert _rows(getattr(lazy, name)) == pinned[name], name


def _rdd_storage(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _settled_rdd_storage(spark, floor: int, rounds: int = 40) -> int:
    """Persisted-RDD count after Python and JVM GC; the ContextCleaner
    frees blocks asynchronously, so poll until it reaches ``floor``."""
    n = _rdd_storage(spark)
    for _ in range(rounds):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        n = _rdd_storage(spark)
        if n <= floor:
            break
    return n


def _scan_and_drop(docs, i: int) -> None:
    result = run_scan(docs, run_id=f"run-{i}", days_window=365 * 50)
    result.summary.collect()
    for name in ("documents", "main_items", "review_items", "links"):
        getattr(result, name).count()


def test_scan_blocks_do_not_accumulate(spark, docs):
    docs.count()  # the cached input is part of the floor
    floor = _settled_rdd_storage(spark, 0, rounds=4)
    _scan_and_drop(docs, 0)
    assert _rdd_storage(spark) > floor  # the run pinned its two leaves
    after_one = _settled_rdd_storage(spark, floor)
    for i in range(1, 4):
        _scan_and_drop(docs, i)
    after_four = _settled_rdd_storage(spark, floor)
    assert after_four <= after_one <= floor

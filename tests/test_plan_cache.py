"""Prepared-plan contract (plans/registry._memoized over the store's
"plan" entries).

Prepared plans are the steady-state serving posture: with the table
cache on (SPARK_GRAFT_CACHE_TABLES=all), repeated builds of the same query return the
SAME DataFrame (the prepared statement -- analysis paid once), while the
default mode (driver correctness runs, bench cold pass) always rebuilds.
Rows are recomputed on every action either way (it is not a result
cache), and a regenerated table file invalidates the entry.
"""

from __future__ import annotations

import os
import shutil

import pytest

from cell_kn_mvp_etl_results_spark import store
from cell_kn_mvp_etl_results_spark.plans import REGISTRY
from cell_kn_mvp_etl_results_spark.sources.readers import TABLES


@pytest.fixture
def cache_mode():
    old = os.environ.get("SPARK_GRAFT_CACHE_TABLES")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "all"
    yield
    if old is None:
        del os.environ["SPARK_GRAFT_CACHE_TABLES"]
    else:
        os.environ["SPARK_GRAFT_CACHE_TABLES"] = old
    store.clear("plan")
    # Restoring the env is not enough: persist() registered the table
    # plans in Spark's CacheManager, which plan-matches LATER identical
    # reads to InMemoryRelation -- leaking cached scans into subsequent
    # tests (test_plan_quality asserts PushedFilters on a parquet scan).
    store.clear("table")


def _plans(sf_dir: str) -> list:
    return [r for r in store.describe() if r.kind == "plan" and r.sf_dir == sf_dir]


def test_memo_off_by_default(spark, sf_dir):
    assert not os.environ.get("SPARK_GRAFT_CACHE_TABLES")
    b = REGISTRY["q_pricing_summary"].builder
    assert b(spark, sf_dir) is not b(spark, sf_dir)


def test_memo_hit_and_rows_recomputed(spark, sf_dir, cache_mode):
    b = REGISTRY["q_pricing_summary"].builder
    df1 = b(spark, sf_dir)
    df2 = b(spark, sf_dir)
    assert df1 is df2  # prepared statement reused
    assert [r.params for r in _plans(sf_dir)] == [("q_pricing_summary",)]
    # Each action re-executes; results identical and real.
    r1 = [tuple(r) for r in df1.collect()]
    r2 = [tuple(r) for r in df2.collect()]
    assert r1 == r2 and len(r1) > 0


def test_memo_knob_disables_reuse(spark, sf_dir, cache_mode):
    os.environ["SPARK_GRAFT_PLAN_CACHE"] = "0"
    try:
        b = REGISTRY["q_pricing_summary"].builder
        assert b(spark, sf_dir) is not b(spark, sf_dir)
        assert _plans(sf_dir) == []  # not kept when the switch is off
    finally:
        del os.environ["SPARK_GRAFT_PLAN_CACHE"]


def test_memo_invalidates_on_table_rewrite(spark, sf_dir, cache_mode, tmp_path):
    # Copy the sf dir so we can touch a file without mutating testdata.
    local = tmp_path / "sf"
    shutil.copytree(sf_dir, local)
    b = REGISTRY["q_pricing_summary"].builder
    df1 = b(spark, str(local))
    p = local / "lineitem.parquet"
    os.utime(p, (p.stat().st_atime, p.stat().st_mtime + 10))
    df2 = b(spark, str(local))
    assert df1 is not df2  # fingerprint change rebuilt the plan
    (row,) = _plans(str(local))  # one entry per scope, the new generation
    assert row.fingerprint[TABLES.index("lineitem")] == store.fingerprint(str(p))
    assert b(spark, str(local)) is df2

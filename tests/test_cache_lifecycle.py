"""Cache-lifecycle contract (VERDICT r9 #3 / ADVICE r9): every
fingerprint-guarded entry of the serving-state store must RELEASE its
displaced generation -- unpersist the old frame, drop the old temp view
-- when the corpus it was derived from regenerates, instead of pinning
one generation of serving state per rewrite for the application's
lifetime.

The tests regenerate a table in a tmp sf_dir (rewrite => new mtime, the
exact thing the driver does to testdata between rounds) and assert the
stale catalog/persistence state is gone.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from cell_kn_mvp_etl_results_spark import store
from cell_kn_mvp_etl_results_spark.store import fingerprint

from conftest import SF_DIR


def _copy_table(tmp_path, name: str) -> str:
    """Copy one table of the test lake into a tmp sf_dir; returns dir."""
    d = str(tmp_path)
    src = os.path.join(SF_DIR, f"{name}.parquet")
    dst = os.path.join(d, f"{name}.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return d


def _entries(kind: str, d: str) -> list:
    """The store's live entries of one kind for one sf_dir."""
    return [e for k, e in store._ENTRIES.items() if k[2] == kind and k[1] == d]


def _rows(kind: str, d: str) -> list:
    return [r for r in store.describe() if r.kind == kind and r.sf_dir == d]


def _regenerate(path: str) -> None:
    """In-place rewrite with a guaranteed-new mtime (same bytes)."""
    target = path
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if not p.startswith("_")]
        target = os.path.join(path, sorted(parts)[0])
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_fingerprint_directory_uses_listing(tmp_path):
    # ADVICE r9: an in-place rewrite of a part file inside a
    # directory-backed parquet table does not change the directory's
    # own mtime -- the fingerprint must see the contained listing.
    d = tmp_path / "t.parquet"
    d.mkdir()
    f = d / "part-00000.parquet"
    f.write_bytes(b"x" * 64)
    fp1 = fingerprint(str(d))
    time.sleep(0.01)
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    # the directory's OWN stat is typically unchanged by this; the
    # listing-based fingerprint must still move.
    fp2 = fingerprint(str(d))
    assert fp1 != fp2


def _fake_table(tmp_path, text: str = "x") -> str:
    (tmp_path / "t.parquet").write_text(text)
    return str(tmp_path)


def test_release_runs_for_displaced_generation_only(tmp_path):
    # A changed fingerprint releases the displaced entry of that key
    # before the rebuild; entries of other keys are untouched.
    d = _fake_table(tmp_path)
    released = []

    def build(tag):
        def b(e):
            e.release = lambda: released.append(tag)
            return tag

        return b

    owner = object()
    assert store.get(owner, d, "layout", build("t1"), params=(1,), tables=("t",)) == "t1"
    assert store.get(owner, d, "layout", build("o1"), params=(2,)) == "o1"
    assert store.get(owner, d, "layout", build("t1b"), params=(1,), tables=("t",)) == "t1"
    assert released == []  # hit: nothing built, nothing released
    _regenerate(os.path.join(d, "t.parquet"))
    assert store.get(owner, d, "layout", build("t2"), params=(1,), tables=("t",)) == "t2"
    assert released == ["t1"]
    assert sorted(r.params for r in _rows("layout", d)) == [(1,), (2,)]
    store.clear("layout")
    assert sorted(released) == ["o1", "t1", "t2"]
    assert _rows("layout", d) == []


class _Stopped:
    """A frame and a session whose Spark side is already gone."""

    def unpersist(self):
        raise RuntimeError("already unpersisted")

    @property
    def catalog(self):
        raise RuntimeError("session stopped")


def test_release_swallows_errors(spark, tmp_path):
    # A failing step (a stopped session's view, a dead frame) must
    # neither fail the displacing build nor stop the rest of the release.
    d = _fake_table(tmp_path)
    owner = object()
    live = {}

    def build(e):
        e.frames.append(_Stopped())
        e.views.append((_Stopped(), "lifecycle_dead_view"))
        live["df"] = e.persist(spark.range(3))
        e.view(live["df"], "lifecycle_live_view")
        return "v1"

    store.get(owner, d, "layout", build, tables=("t",))
    assert live["df"].is_cached and spark.catalog.tableExists("lifecycle_live_view")
    _regenerate(os.path.join(d, "t.parquet"))
    assert store.get(owner, d, "layout", lambda e: "v2", tables=("t",)) == "v2"
    assert not live["df"].is_cached
    assert not spark.catalog.tableExists("lifecycle_live_view")
    assert [r.fingerprint for r in _rows("layout", d)] == [(fingerprint(d + "/t.parquet"),)]
    store.clear("layout")


def test_sql_view_evicted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.relational import _view

    d = _copy_table(tmp_path, "region")
    name1 = _view(spark, d, "region")
    assert spark.catalog.tableExists(name1)
    _regenerate(os.path.join(d, "region.parquet"))
    name2 = _view(spark, d, "region")
    assert name2 != name1
    # the displaced view is gone from the catalog AND the store
    assert not spark.catalog.tableExists(name1)
    (entry,) = [e for e in _entries("view", d)]
    assert entry.value == name2
    (row,) = _rows("view", d)
    assert row.params == ("region",)
    assert row.fingerprint == (fingerprint(os.path.join(d, "region.parquet")),)


def test_minhash_sigs_view_unpersisted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.llmdata import _minhash_sigs_view

    d = _copy_table(tmp_path, "documents")
    name1 = _minhash_sigs_view(spark, d)
    (entry1,) = _entries("minhash", d)
    sigs1, cand1 = entry1.frames
    views1 = [n for _s, n in entry1.views]
    assert sigs1.is_cached and cand1.is_cached
    _regenerate(os.path.join(d, "documents.parquet"))
    name2 = _minhash_sigs_view(spark, d)
    assert name2 != name1
    assert not spark.catalog.tableExists(name1)
    assert not sigs1.is_cached  # displaced signatures were unpersisted
    assert not cand1.is_cached  # displaced LSH index was unpersisted
    for vn in views1:  # displaced buckets and candidate views dropped too
        assert not spark.catalog.tableExists(vn)
    assert len(_rows("minhash", d)) == 1


def test_upsert_delta_bands_evicted_on_regeneration(
    spark, tmp_path, monkeypatch
):
    # inline mode: the materialized-table layer would otherwise write a
    # new warehouse table per fingerprint, which is not under test here
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "0")
    from cell_kn_mvp_etl_results_spark.plans.extended2 import (
        pair_index_upsert_pairs,
    )

    d = _copy_table(tmp_path, "documents")
    pair_index_upsert_pairs(spark, d).count()
    (entry1,) = _entries("upsert_bands", d)
    (rdd1,) = entry1.rdds
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    assert persistent.containsKey(rdd1.id())
    _regenerate(os.path.join(d, "documents.parquet"))
    pair_index_upsert_pairs(spark, d).count()
    (entry2,) = _entries("upsert_bands", d)  # replaced, not accumulated
    assert entry2 is not entry1 and entry2.fps != entry1.fps
    # the displaced checkpoint's blocks were released
    assert not spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd1.id())


def test_khop_hop_frames_evicted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.graph_queries import q_khop_paths

    d = str(tmp_path)
    for t in ("customer", "orders", "lineitem", "supplier", "nation"):
        _copy_table(tmp_path, t)
    q_khop_paths(spark, d).count()
    (entry1,) = _entries("hops", d)
    *hops1, term1 = entry1.frames
    views1 = entry1.value
    assert len(hops1) == 2 and term1.is_cached
    _regenerate(os.path.join(d, "lineitem.parquet"))
    q_khop_paths(spark, d).count()
    (entry2,) = _entries("hops", d)  # replaced, not accumulated
    assert entry2.fps != entry1.fps and entry2.value != views1
    assert not term1.is_cached
    assert all(not h.is_cached for h in hops1)
    for vn in views1.values():
        assert not spark.catalog.tableExists(vn)


def test_incr_cycle_index_unpersisted_on_regeneration(spark, tmp_path):
    # ADVICE r10: q_incremental_cycle's base LSH index was persisted in
    # the plan closure with no eviction path -- it now lives in the
    # same fingerprint-keyed memo contract as every other serving memo.
    import pyspark.sql.functions as F

    from cell_kn_mvp_etl_results_spark.plans.llmdata import _incr_cycle_base_index
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    d = _copy_table(tmp_path, "documents")

    def base():
        doc = read_table(spark, d, "documents")
        m = F.col("doc_id") % 10
        return doc.filter((m != 0) & (m != 5))

    idx1 = _incr_cycle_base_index(spark, d, base())
    idx1.count()
    assert idx1.is_cached
    assert len(_rows("incr_index", d)) == 1
    _regenerate(os.path.join(d, "documents.parquet"))
    idx2 = _incr_cycle_base_index(spark, d, base())
    assert idx2 is not idx1
    assert not idx1.is_cached  # displaced index was unpersisted
    assert len(_rows("incr_index", d)) == 1


def test_describe_lists_persisted_entry_bytes(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.llmdata import _incr_cycle_base_index
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    d = _copy_table(tmp_path, "documents")
    _incr_cycle_base_index(spark, d, read_table(spark, d, "documents")).count()
    (row,) = _rows("incr_index", d)
    assert row.fingerprint == (fingerprint(os.path.join(d, "documents.parquet")),)
    assert row.bytes > 0
    assert row.origin.endswith("llmdata._incr_cycle_base_index")
    store.clear("incr_index")
    assert _rows("incr_index", d) == []

"""Serving-state store contract (cell_kn_mvp_etl_results_spark/store.py).

* Store off (perfbench's STORE_OFF environment): a headliner's second
  call recomputes. The store releases the first call's persisted frames,
  checkpoints and temp views before rebuilding, so nothing accumulates.
* The store is the only holder of serving state: no other package
  module reads the store's switches or keeps a module-level memo.
* plans/materialized.py is the only module that writes or recovers a
  warehouse table, and store.tag the only fingerprint-name hash.
* A frame persisted over a file never serves the file's old rows after
  the file is rewritten.
"""

from __future__ import annotations

import ast
import os
import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql.catalog import Catalog

from cell_kn_mvp_etl_results_spark import store
from cell_kn_mvp_etl_results_spark.plans import REGISTRY

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "cell_kn_mvp_etl_results_spark")
SWITCH_VARS = {
    "SPARK_GRAFT_MATERIALIZE",
    "SPARK_GRAFT_CACHE_TABLES",
    "SPARK_GRAFT_PLAN_CACHE",
}
HEADLINERS = sorted(n for n, s in REGISTRY.items() if s.headline)
# Queries whose first store-off call must keep its state for one
# generation (released by the second call).
PINS_ONE_GENERATION = (
    "q_khop_paths",
    "q_dedup_minhash_lsh",
    "q_cosine_topk",
    "q_modularity",
)


def _store_off() -> dict:
    """perfbench/run.py's STORE_OFF environment, read without running
    the benchmark module."""
    tree = ast.parse(open(os.path.join(ROOT, "perfbench", "run.py")).read())
    (value,) = [
        n.value
        for n in tree.body
        if isinstance(n, ast.Assign) and [t.id for t in n.targets] == ["STORE_OFF"]
    ]
    return ast.literal_eval(value)


def _pinned(spark, sf_dir: str) -> list:
    """Entries of this session and sf_dir whose kind a switch governs."""
    return [
        e
        for (owner, d, kind, _p), e in store._ENTRIES.items()
        if owner is spark and d == sf_dir and store.SWITCH[kind] is not None
    ]


def test_headliners_are_the_six():
    assert len(HEADLINERS) == 6


@pytest.mark.parametrize("name", HEADLINERS + ["q_modularity"])
def test_store_off_second_call_recomputes(spark, sf_dir, monkeypatch, name):
    for k, v in _store_off().items():
        monkeypatch.setenv(k, v)
    assert store.regime() == store.Regime(False, False, False)
    dropped = []
    drop = Catalog.dropTempView

    def spy(self, view_name):
        dropped.append(view_name)
        return drop(self, view_name)

    monkeypatch.setattr(Catalog, "dropTempView", spy)
    jsc = spark.sparkContext._jsc
    builder = REGISTRY[name].builder

    before = {id(e) for e in _pinned(spark, sf_dir)}
    builder(spark, sf_dir).collect()
    after1 = jsc.getPersistentRDDs().size()
    pinned1 = [e for e in _pinned(spark, sf_dir) if id(e) not in before]
    frames1 = [df for e in pinned1 for df in e.frames]
    rdds1 = [r.id() for e in pinned1 for r in e.rdds]
    views1 = [n for e in pinned1 for _s, n in e.views]
    assert all(df.is_cached for df in frames1)
    if name in PINS_ONE_GENERATION:
        assert pinned1, "the first call keeps its state for one generation"
    dropped.clear()

    builder(spark, sf_dir).collect()
    assert jsc.getPersistentRDDs().size() <= after1
    assert not any(df.is_cached for df in frames1)
    assert not any(jsc.getPersistentRDDs().containsKey(i) for i in rdds1)
    assert set(views1) <= set(dropped)
    # the second call built a new generation, holding no first-call frame
    pinned2 = _pinned(spark, sf_dir)
    assert not {id(e) for e in pinned1} & {id(e) for e in pinned2}
    assert not {id(df) for df in frames1} & {id(df) for e in pinned2 for df in e.frames}


def test_regime_switches(monkeypatch):
    for k in SWITCH_VARS:
        monkeypatch.delenv(k, raising=False)
    assert store.regime() == store.Regime(False, False, True)
    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "all")
    assert store.regime() == store.Regime(True, True, True)
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "false")
    assert store.regime() == store.Regime(True, False, False)
    # the per-table-list form is gone: only "all" turns the table cache on
    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "lineitem,orders")
    monkeypatch.delenv("SPARK_GRAFT_PLAN_CACHE")
    assert store.regime() == store.Regime(False, False, False)


def _modules():
    for root, _dirs, files in os.walk(PACKAGE):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PACKAGE), ast.parse(open(path).read())


def _mutated_names(tree) -> set:
    """Names a module stores into by subscript or fills by method call."""
    out = set()
    for node in ast.walk(tree):
        target = None
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            for t in getattr(node, "targets", [getattr(node, "target", None)]):
                if isinstance(t, ast.Subscript):
                    target = t.value
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in ("add", "update", "setdefault", "append"):
                target = node.func.value
        if isinstance(target, ast.Name):
            out.add(target.id)
    return out


def test_only_the_store_holds_serving_state():
    readers, memos = [], []
    for rel, tree in _modules():
        if rel == "store.py":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and node.value in SWITCH_VARS:
                readers.append(f"{rel}:{node.lineno} {node.value}")
        mutated = _mutated_names(tree)
        for node in tree.body:
            value = getattr(node, "value", None)
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            container = isinstance(value, (ast.Dict, ast.Set)) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id in ("dict", "set")
            )
            for t in targets:
                if container and isinstance(t, ast.Name) and t.id in mutated:
                    if (rel, t.id) != (os.path.join("plans", "registry.py"), "REGISTRY"):
                        memos.append(f"{rel}:{node.lineno} {t.id}")
    assert readers == [], "read the switches through store.regime()"
    assert memos == [], "keep serving state in store.get entries"


def _calls(tree) -> set:
    """Names of the functions a module calls."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            out.add(getattr(f, "id", None) or getattr(f, "attr", None))
    return out


def test_only_materialized_writes_warehouse_tables():
    writers, hashers = [], []
    for rel, tree in _modules():
        if rel != os.path.join("plans", "materialized.py"):
            called = _calls(tree) & {"write_bucketed", "register_surviving_bucketed"}
            writers += [f"{rel} {name}" for name in sorted(called)]
        if rel.startswith("plans" + os.sep):
            for node in ast.walk(tree):
                names = []
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    names = [node.module or ""]
                if "hashlib" in names:
                    hashers.append(f"{rel}:{node.lineno}")
    assert writers == [], "build warehouse tables through materialized.ensure_table"
    assert hashers == [], "name fingerprint-derived state with store.tag"


def test_rewritten_file_never_serves_persisted_rows(
    spark, sf_dir, tmp_path, monkeypatch
):
    """q_dedup_containment persists its shingle relation and nothing
    unpersists it; the CacheManager matches a later read of the same
    path to that cached plan. After the file is rewritten out of
    process, the second call must answer from the new file."""
    for k, v in _store_off().items():
        monkeypatch.setenv(k, v)
    path = str(tmp_path / "documents.parquet")
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), path)
    query = REGISTRY["q_dedup_containment"]

    def pairs(rows):
        return sorted((r[0], r[1]) for r in rows)

    first = pairs(query.builder(spark, str(tmp_path)).collect())
    docs = pq.read_table(path)
    even = pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)
    pq.write_table(docs.filter(even), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = pairs(con.execute(query.oracle).fetchall())
    assert want != first
    assert pairs(query.builder(spark, str(tmp_path)).collect()) == want

"""Serving state: the one store that every memo in the package goes
through.

An entry is keyed by ``(owner, sf_dir, kind, params)``:

* ``owner`` scopes the entry: the SparkSession for session state (temp
  views, frames built from that session's reads), the SparkContext for
  state every session of the application shares (table persists), or
  None for process-wide metadata (parquet schemas);
* ``kind`` names what the entry is; ``SWITCH`` maps it to the regime
  switch that decides whether it is kept across calls;
* ``params`` tells apart entries of one kind (query name, model
  parameters, table name).

An entry holds the fingerprints of the source tables it was derived
from, its value, and the persisted frames, checkpoints and temp views it
pins. ``get`` serves an entry only while those fingerprints are
unchanged; on a change it releases the displaced generation (unpersist
its frames, drop its views) before building the next one.

``regime()`` reads the three switches:

* ``SPARK_GRAFT_CACHE_TABLES=all`` persists every table ``read_table``
  returns (empty: off, the default);
* ``SPARK_GRAFT_PLAN_CACHE`` (default on, needs the table cache) reuses
  each query's built DataFrame, the prepared statement;
* ``SPARK_GRAFT_MATERIALIZE`` (default on) keeps materialized
  intermediates: khop hop frames, minhash signatures, the cosine view,
  group signatures, delta bands, the incremental index, trained models,
  q_modularity's inline pair frame, and the warehouse tables of
  ``plans.materialized``.

With a switch off, state of its kinds that pins executor memory or
catalog views is kept for at most one generation: the next ``get`` of
the same key releases it and builds afresh, so every call recomputes
and nothing accumulates. State that pins nothing is then not kept at
all. Metadata kinds (``SWITCH`` value None) are kept in every regime.

``tag`` is the one source of names derived from fingerprints: the temp
views entries register and the on-disk warehouse tables that
``plans.materialized`` names, finds and builds. Those tables are not
entries: they outlive the process and nothing here releases them.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import NamedTuple

_OFF = ("0", "false")

# kind -> the regime() switch that governs it; None: metadata that pins
# no executor memory, kept in every regime.
SWITCH = {
    "schema": None,
    "view": None,
    "layout": None,
    "table": "tables",
    "plan": "plans",
    "hops": "materialize",
    "minhash": "materialize",
    "cosine": "materialize",
    "group_sig": "materialize",
    "upsert_bands": "materialize",
    "incr_index": "materialize",
    "model": "materialize",
    "pairs": "materialize",
}


class Regime(NamedTuple):
    tables: bool
    plans: bool
    materialize: bool


def regime() -> Regime:
    """The store's switches, read from the environment on every call
    (bench.py changes them between regimes in one process)."""
    tables = os.environ.get("SPARK_GRAFT_CACHE_TABLES", "") == "all"
    return Regime(
        tables=tables,
        plans=tables and os.environ.get("SPARK_GRAFT_PLAN_CACHE", "1") not in _OFF,
        materialize=os.environ.get("SPARK_GRAFT_MATERIALIZE", "1") not in _OFF,
    )


def fingerprint(path: str) -> tuple:
    """Invalidation token for a parquet table path: (mtime_ns, size)
    for a plain file; for a directory-backed table the sorted
    (name, mtime_ns, size) listing of its entries, because an in-place
    rewrite of a contained part file does not touch the directory's own
    mtime. One level deep: Spark writes create or replace files, which
    always changes the immediate listing."""
    try:
        st = os.stat(path)
    except OSError:
        return (0, 0)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    try:
        for name in sorted(os.listdir(path)):
            try:
                est = os.stat(os.path.join(path, name))
            except OSError:
                continue
            entries.append((name, est.st_mtime_ns, est.st_size))
    except OSError:
        pass
    return tuple(entries) if entries else (st.st_mtime_ns, st.st_size)


def fingerprints(sf_dir: str, tables: tuple) -> tuple:
    """The fingerprints of the named parquet tables under ``sf_dir``."""
    return tuple(fingerprint(os.path.join(sf_dir, f"{t}.parquet")) for t in tables)


def tag(sf_dir: str, fps: tuple, params: tuple = ()) -> str:
    """Eight hex digits naming state derived from ``fps`` under
    ``sf_dir`` with ``params``: the one source of fingerprint-derived
    names (temp views, warehouse tables). A regenerated table or a
    changed parameter gives a different name, so a name never serves
    another generation's rows."""
    return hashlib.md5(repr((sf_dir, fps, params)).encode()).hexdigest()[:8]


@dataclass(eq=False)
class Entry:
    """One generation of serving state. A builder registers what the
    entry pins through ``persist``, ``checkpoint`` and ``view``, so that
    ``release`` can free exactly that."""

    fps: tuple
    origin: str
    value: object = None
    frames: list = field(default_factory=list)  # persisted DataFrames
    rdds: list = field(default_factory=list)  # JVM RDDs of local checkpoints
    views: list = field(default_factory=list)  # (session, temp view name)

    def persist(self, df):
        self.frames.append(df.persist())
        return df

    def checkpoint(self, df):
        """Eager local checkpoint. Its blocks belong to an RDD the
        CacheManager does not track, so release unpersists that RDD."""
        cp = df.localCheckpoint(eager=True)
        self.rdds.append(cp._jdf.queryExecution().analyzed().rdd())
        return cp

    def view(self, df, name: str) -> str:
        df.createOrReplaceTempView(name)
        self.views.append((df.sparkSession, name))
        return name

    def release(self) -> None:
        """Best effort: a stopped session's frames and views are gone."""
        steps = [df.unpersist for df in self.frames]
        steps += [lambda r=r: r.unpersist(False) for r in self.rdds]
        steps += [lambda s=s, n=n: s.catalog.dropTempView(n) for s, n in self.views]
        for step in steps:
            try:
                step()
            except Exception:
                pass

    def rdd_ids(self) -> list[int]:
        ids = [r.id() for r in self.rdds]
        for df in self.frames:
            cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
            cached = cm.lookupCachedData(df._jdf)
            if cached.isDefined():
                builder = cached.get().cachedRepresentation().cacheBuilder()
                if builder.isCachedColumnBuffersLoaded():
                    ids.append(builder.cachedColumnBuffers().id())
        return ids


_ENTRIES: dict[tuple, Entry] = {}


def get(
    owner,
    sf_dir: str,
    kind: str,
    build: Callable[[Entry], object],
    *,
    params: tuple = (),
    tables: tuple = (),
):
    """The value for this key, built by ``build(entry)`` on a miss.
    ``tables`` names the parquet tables under ``sf_dir`` the value is
    derived from; a change to any of their fingerprints is a miss. A
    build returning None is not kept, so a negative probe stays
    re-probeable."""
    key = (owner, sf_dir, kind, params)
    fps = fingerprints(sf_dir, tables)
    switch = SWITCH[kind]
    on = switch is None or getattr(regime(), switch)
    old = _ENTRIES.get(key)
    if on and old is not None and old.fps == fps:
        return old.value
    if old is not None:
        del _ENTRIES[key]
        old.release()
    _drop_stopped()
    caller = sys._getframe(1)
    entry = Entry(fps, f"{caller.f_globals['__name__']}.{caller.f_code.co_name}")
    try:
        entry.value = build(entry)
    except BaseException:
        entry.release()
        raise
    if entry.value is not None and (on or entry.frames or entry.rdds or entry.views):
        _ENTRIES[key] = entry
    return entry.value


def _drop_stopped() -> None:
    """Forget entries whose session or context has been stopped; their
    frames and views went with it."""
    for key in list(_ENTRIES):
        owner = key[0]
        sc = getattr(owner, "sparkContext", owner)
        if sc is not None and getattr(sc, "_jsc", True) is None:
            del _ENTRIES[key]


def clear(kind: str | None = None) -> None:
    """Release every entry, or every entry of one kind."""
    for key in [k for k in _ENTRIES if kind is None or k[2] == kind]:
        _ENTRIES.pop(key).release()


class Row(NamedTuple):
    kind: str
    sf_dir: str
    params: tuple
    fingerprint: tuple
    bytes: int  # memory + disk of the entry's blocks, from getRDDStorageInfo
    origin: str  # module.function that built the entry


def describe() -> list[Row]:
    """One row per live entry."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    sizes = {}
    if sc is not None:
        for info in sc._jsc.sc().getRDDStorageInfo():
            sizes[info.id()] = info.memSize() + info.diskSize()
    rows = []
    for (_owner, sf_dir, kind, params), e in list(_ENTRIES.items()):
        try:
            size = sum(sizes.get(i, 0) for i in e.rdd_ids())
        except Exception:  # a stopped session's frames
            size = 0
        rows.append(Row(kind, sf_dir, params, e.fps, size, e.origin))
    return rows

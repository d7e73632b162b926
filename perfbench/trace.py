"""Spans and Spark counters for the traced run, recorded from the
benchmark's side of each layer's public functions.

A span has a name (``layer.what``), the operation it belongs to, the
query, start/end times, and its parent; a layer's self time is its span
minus its child spans. Spark counters come from the application status
store: every job an operation starts runs under the job group
``<op>``, ``<op>-b`` while a query builder runs or ``<op>-r`` while a
reader runs (its parquet schema inference is a job, charged to the
first query that reads each table), and after the operation the jobs'
stages are read back through py4j.

With tracing off every hook is a no-op and nothing is patched.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time

# Public functions wrapped in the traced run, by module; the span name is
# the layer plus the function name.
PATCHED = {
    "cell_kn_mvp_etl_results_spark.sources.readers": (
        "readers",
        ("read_table", "read_results_csv", "read_tuples_json"),
    ),
    "cell_kn_mvp_etl_results_spark.sources.sinks": (
        "sinks",
        ("write_tuples_json", "write_graph", "read_graph"),
    ),
}
PACKAGE = "cell_kn_mvp_etl_results_spark"
STAGE_FIELDS = (
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorRunTime",
    "jvmGcTime",
    "numCompleteTasks",
)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, ignoring checksum side files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


class Tracer:
    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: str | None = None
        self.query: str | None = None
        self.sc = None
        self._group: str | None = None

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "workload": self.workload,
            "op": self.op,
            "query": tags.pop("query", self.query),
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "child_s": 0.0,
            **tags,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        outer = self._group
        suffix = "b" if name == "plans.build" else "r" if name.startswith("readers.") else None
        if suffix and self.sc is not None and self.op:
            self._set_group(f"{self.op}-{suffix}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            dur = rec["end"] - rec["start"]
            rec["self_s"] = dur - rec["child_s"]
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += dur
            if self._group != outer:
                self._set_group(outer)

    def patch(self) -> None:
        """Wrap the listed public functions everywhere the package holds
        a reference to them (modules import them by name)."""
        if not self.enabled:
            return
        for modname, (layer, names) in PATCHED.items():
            mod = sys.modules[modname]
            for fname in names:
                orig = getattr(mod, fname)
                wrapped = self._wrap(f"{layer}.{fname}", orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PACKAGE):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                setattr(m, attr, wrapped)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if name.startswith("sinks.write"):
                    path = args[1] if len(args) > 1 else kwargs.get("path", kwargs.get("base_path"))
                    rec["bytes"], rec["files"] = dir_bytes(path)
                return out

        return traced

    # -- operations and Spark counters --------------------------------------

    def _set_group(self, group: str) -> None:
        self._group = group
        self.sc.setJobGroup(group, f"{self.workload} {group}")

    def begin_op(self, op: str, query: str | None) -> None:
        self.op, self.query = op, query
        if self.enabled and self.sc is not None:
            self._set_group(op)

    def end_op(self) -> dict:
        """Spark counters of the operation just finished (traced only)."""
        op, self.op, self.query = self.op, None, None
        if not (self.enabled and self.sc is not None):
            return {}
        from py4j.protocol import Py4JError

        try:  # job and stage events reach the status store asynchronously
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
        except Py4JError:
            pass  # still queued after 5 s: the RUNNING poll below waits
        st = self.sc.statusTracker()
        build_jobs = list(st.getJobIdsForGroup(f"{op}-b"))
        read_jobs = list(st.getJobIdsForGroup(f"{op}-r"))
        jobs = build_jobs + read_jobs + list(st.getJobIdsForGroup(op))
        stages = set()
        deadline = time.monotonic() + 5.0
        for j in jobs:
            info = st.getJobInfo(j)
            while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.005)
                info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "build_jobs": len(build_jobs), "read_jobs": len(read_jobs), "stages": 0}
        out.update({f: 0 for f in STAGE_FIELDS})
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        empty = gw.jvm.java.util.ArrayList()
        quantiles = gw.new_array(gw.jvm.double, 0)
        for s in stages:
            attempts = store.stageData(s, False, empty, False, quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += getattr(d, f)()
        self._set_group("idle")
        return out


def state_snapshot(spark, warehouse: str) -> dict:
    """Serving state the session holds right now."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    views = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*").size()
    wh_bytes, _ = dir_bytes(warehouse)
    return {
        "persisted_rdds": jsc.getPersistentRDDs().size(),
        "cached_mb": cached / 2**20,
        "temp_views": views,
        "warehouse_mb": wh_bytes / 2**20,
        # what is cached, largest first: (RDD id, first line of its name, MB)
        "cached": sorted(
            ((i.id(), i.name().split("\n")[0][:80], (i.memSize() + i.diskSize()) / 2**20) for i in infos),
            key=lambda r: -r[2],
        ),
    }


def settled_state(spark, warehouse: str, timeout: float = 20.0) -> dict:
    """Serving state the session still holds once garbage is collected.
    Spark's ContextCleaner unpersists a DataFrame's blocks only after the
    Python object, its py4j handle and the JVM object are all collected,
    and py4j releases handles from a worker thread that polls once a
    second, so a plain snapshot also counts garbage, as much or as little
    as GC timing left. Each round collects on the Python side, waits for
    the handles to reach the JVM, collects there and snapshots, until two
    rounds in a row agree."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    pending = getattr(client, "finalizer_deque", None)
    prev = None
    deadline = time.monotonic() + timeout
    while True:
        gc.collect()
        t_wait = time.monotonic() + 3.0
        while pending and time.monotonic() < t_wait:
            time.sleep(0.05)
        time.sleep(0.2 if pending is not None else 1.5)  # the handle in flight
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        cur = state_snapshot(spark, warehouse)
        if cur == prev or time.monotonic() > deadline:
            return cur
        prev = cur


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over ``pids`` and their descendants, from /proc."""
    seen, todo, total = set(), list(pids), 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return total / 1024

"""One benchmark run in a fresh process: set up, run a workload, check
every answer, and write the artifact.

Started by run.py with the store knobs already in the environment; the
parent's launch time arrives in PERFBENCH_T0, so ``setup_s`` counts from
process start. Output: the artifact JSON at ``--artifact``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
import weakref

T0 = float(os.environ.get("PERFBENCH_T0") or time.time())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    steal is time the hypervisor ran someone else on our vCPUs."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return vals[7], sum(vals)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import corpus  # noqa: E402
import oracle  # noqa: E402
from trace import Tracer, peak_rss_mb, settled_state, state_snapshot  # noqa: E402

# The query mix: the six bench.py headliners plus the three queries
# behind the reference UI (hierarchy walk, prefix search, phenotype
# subgraph copy).
MIX = (
    "q_pricing_summary",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "q_khop_paths",
    "q_dedup_minhash_lsh",
    "q_cosine_topk",
    "q_hierarchy_longest",
    "q_search_prefix",
    "q_subgraph_extract",
)
# The MIX queries ingest re-issues after each delta: those that keep
# serving state derived from a table the delta replaces, between them
# covering every store mechanism over lineitem and documents (table
# cache, prepared plans, SQL views, the supplier layout memo, khop hop
# frames, minhash signature views). The other lineitem readers
# (pricing, shipping, subgraph) hold nothing these do not, and re-issuing
# them would add ~20 s to every run.
DELTA_MIX = (
    "q_local_supplier_volume",
    "q_khop_paths",
    "q_dedup_minhash_lsh",
)
# Typed paths over the NSForest graph: (anchor, hops, which answer set
# the generator expects, whether the path runs gene -> cluster).
PATH_SPECS = (
    ("CS", ["BMC", "GS"], "markers", False),
    ("CS", ["BMC", "BGS", "GS"], "binary", False),
    ("GS", ["BMC", "CS"], "markers", True),
    ("CSD", ["CS"], "datasets", True),
)
# Each ingest cycle lands this many deltas, one after another. The host's
# speed wanders by ~10% over a few seconds, so one ~5 s refresh per run
# is too short a sample for fresh_ms; two apart in the cycle are
# steadier, and every cycle runs the second-delta path (staging from a
# file an earlier delta replaced, evicting the previous fingerprint's
# serving state). A third would take a regression check's 48 runs too
# close to its hour on a slow host.
DELTAS = 2
# After each refresh, this many warm passes over DELTA_MIX: no file
# changes between them, so every call is served from the store (cached
# tables, prepared plans, materialized state). ops_per_s is the median
# over all passes of the run.
WARM_PASSES = 10
# Cycles a traced ingest run makes however short --seconds is: the growth
# of persisted state between the two is the leak check. An untraced run
# makes as many as fit in --seconds, at least one: a second cycle in every
# run would take a regression check past its hour.
MIN_CYCLES = 2
SHUFFLE_PARTITIONS = 8
OP_TIMEOUT_S = 60.0


class Run:
    """State shared by the workloads of one run."""

    def __init__(self, args):
        self.args = args
        self.rng = random.Random(args.seed)
        self.np_rng = np.random.default_rng(args.seed)
        self.tracer = Tracer(bool(args.trace), args.workload)
        self.ops: list[dict] = []  # timed operations (after set-up)
        self.fill: list[dict] = []  # first calls made during set-up
        self.failures: list[dict] = []
        self.checked = 0
        self.states: list[dict] = []
        self._prev_df: dict[str, weakref.ref] = {}
        self._n = 0

    # -- the engine ---------------------------------------------------------

    def start(self) -> None:
        tr = self.tracer
        with tr.span("session.start") as rec:
            from cell_kn_mvp_etl_results_spark.plans import REGISTRY
            from cell_kn_mvp_etl_results_spark.session import get_spark

            self.registry = REGISTRY
            self.spark = get_spark(
                f"perfbench-{self.args.workload}",
                shuffle_partitions=SHUFFLE_PARTITIONS,
                extra_conf={
                    "spark.sql.adaptive.enabled": "false",
                    "spark.sql.constraintPropagation.enabled": "false",
                    "spark.sql.warehouse.dir": self.args.warehouse,
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = rec.get("end", 0) - rec.get("start", 0)
        tr.sc = self.spark.sparkContext
        tr.patch()

    def next_op(self) -> str:
        self._n += 1
        return f"o{self._n}"

    def fail(self, op: str, query: str, kind: str, text: str) -> None:
        self.failures.append({"op": op, "query": query, "kind": kind, "error": text[-2000:]})

    def check(self, op: str, query: str, ok: bool, detail: str) -> bool:
        self.checked += 1
        if not ok:
            self.fail(op, query, "mismatch", detail)
        return ok

    def query(self, op: str, name: str, sf_dir: str, expected: dict) -> tuple[float, bool]:
        """Call one registered query to its last row and check the
        answer. Returns (latency seconds, answer correct)."""
        tr = self.tracer
        spec = self.registry[name]
        sc = self.spark.sparkContext
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            with tr.span("plans.build", query=name):
                df = spec.builder(self.spark, sf_dir)
            if tr.enabled:
                prev = self._prev_df.get(name)
                tr.spans[-1]["prepared_hit"] = prev is not None and prev() is df
                self._prev_df[name] = weakref.ref(df)
                with tr.span("spark.plan", query=name):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.exec", query=name) as rec:
                rows = df.collect()
                rec["rows"] = len(rows)
            lat = time.perf_counter() - t0
        except Exception as exc:
            lat = time.perf_counter() - t0
            self.checked += 1
            kind = "timeout" if lat >= OP_TIMEOUT_S else "error"
            self.fail(op, name, kind, "".join(traceback.format_exception_only(exc)))
            return lat, False
        finally:
            timer.cancel()
        got = oracle.result_hash(df.columns, rows)
        ok = self.check(op, name, got == expected, f"got {got}, expected {expected}")
        return lat, ok

    def mix_op(self, name: str, sf_dir: str, expected: dict, into: list) -> dict:
        op = self.next_op()
        self.tracer.begin_op(op, name)
        lat, ok = self.query(op, name, sf_dir, expected)
        rec = {"op": op, "query": name, "latency_s": lat, "ok": ok}
        rec["spark"] = self.tracer.end_op()
        if self.tracer.enabled:
            self.states.append({"op": op, **state_snapshot(self.spark, self.args.warehouse)})
        into.append(rec)
        return rec


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def fill(run: Run, sf_dir: str, expected: dict, queries=MIX) -> None:
    """Store fill: the first call of each query, in listed order. Which
    query pays the process's JIT and codegen, and what state the fill
    leaves, depend on the order; set-up should not."""
    for name in queries:
        run.mix_op(name, sf_dir, expected[name], run.fill)


def serve(run: Run, sf_dir: str, expected: dict) -> dict:
    """Closed loop, one client, no think time. Requests come from a
    seeded shuffle-bag over MIX (every query once per nine requests)."""
    fill(run, sf_dir, expected)
    setup_s = time.time() - T0
    bag: list[str] = []
    t_end = time.perf_counter() + run.args.seconds
    while time.perf_counter() < t_end:
        if not bag:
            bag = list(MIX)
            run.rng.shuffle(bag)
        name = bag.pop()
        run.mix_op(name, sf_dir, expected[name], run.ops)
    return {"setup_s": setup_s}


def cold(run: Run, sf_dir: str, expected: dict) -> dict:
    """One operation: every MIX query called once, store off, in listed
    order. A first call pays whatever JIT and codegen the calls before it
    did not, so per-query times compare between runs only in one order;
    like the store fill, the pass keeps it, and the seed changes nothing
    in this workload."""
    setup_s = time.time() - T0
    calls: list[dict] = []
    for name in MIX:
        run.mix_op(name, sf_dir, expected[name], calls)
    run.ops.append(
        {
            "op": "pass",
            "latency_s": sum(c["latency_s"] for c in calls),
            "calls": calls,
            "spark": {k: sum(c["spark"].get(k, 0) for c in calls) for k in calls[0]["spark"]},
        }
    )
    return {"setup_s": setup_s}


def typed_path_pairs(rows, reverse: bool) -> list[tuple[str, str]]:
    """(cluster, member) pairs of a typed path's answer: the cluster is
    the name part of a ``<name>-<uuid12>`` cell-set key."""
    out = []
    for r in rows:
        a, b = r.v0_key, r.node_key
        if reverse:
            a, b = b, a
        out.append((a[:-13], b))
    return sorted(out)


def expected_pairs(batch: dict, which: str) -> list[tuple[str, str]]:
    if which == "datasets":
        return sorted((c, dv) for c, dv in batch["datasets"].items())
    return sorted((c, g) for c, genes in batch[which].items() for g in genes)


def ingest(run: Run, sf_dir: str, expected: dict) -> dict:
    """Writes beside reads over a per-run copy of the corpus. Each cycle:
    (a) NSForest CSV -> tuples -> graph -> three typed paths, checked
    against the generator's marker sets; (b) ``DELTAS`` times: land a
    delta of replacement documents/lineitem files and re-issue
    ``DELTA_MIX`` (the refresh), then ``WARM_PASSES`` more passes over it
    that the store serves, all checked against the oracle over the new
    files. Generating the batch and the deltas and computing their
    answers is not timed. The store fill covers ``DELTA_MIX`` only, the
    queries the cycles read. A traced run makes at least ``MIN_CYCLES``
    cycles."""
    from cell_kn_mvp_etl_results_spark import pipelines

    tr = run.tracer
    spark = run.spark
    fill(run, sf_dir, expected, DELTA_MIX)
    setup_s = time.time() - T0
    cycles = []
    base = os.path.join(run.args.scratch, "ingest")
    t_end = time.perf_counter() + run.args.seconds
    c = 0
    min_cycles = MIN_CYCLES if tr.enabled else 1
    while c < min_cycles or time.perf_counter() < t_end:
        c += 1
        cdir = os.path.join(base, f"c{c}")
        os.makedirs(cdir)
        # untimed: generate the batch
        batch = corpus.nsforest_batch(
            run.np_rng, f"{cdir}/nsforest.csv", f"s{run.args.seed}c{c}", int(run.np_rng.integers(280, 320))
        )
        specs = run.rng.sample(PATH_SPECS, 3)

        op = run.next_op()
        tr.begin_op(op, None)
        timed = 0.0  # the cycle's latency: its work minus the untimed generation
        t0 = time.perf_counter()
        stage_s = {}
        try:
            t = time.perf_counter()
            with tr.span("pipelines.nsforest"):
                pipelines.run_nsforest_pipeline(spark, f"{cdir}/nsforest.csv", f"{cdir}/tuples")
            stage_s["nsforest"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("pipelines.load"):
                pipelines.run_graph_load(spark, f"{cdir}/tuples", f"{cdir}/graph")
            stage_s["load"] = time.perf_counter() - t
            t = time.perf_counter()
            for anchor, hops, which, reverse in specs:
                q = f"path:{anchor}>{'>'.join(hops)}"
                with tr.span("pipelines.query", query=q):
                    df = pipelines.run_query(spark, f"{cdir}/graph", anchor, hops)
                with tr.span("spark.exec", query=q) as rec:
                    rows = df.collect()
                    rec["rows"] = len(rows)
                got, exp = typed_path_pairs(rows, reverse), expected_pairs(batch, which)
                run.check(op, q, got == exp, f"{len(got)} pairs, expected {len(exp)}")
            stage_s["query"] = time.perf_counter() - t
        except Exception as exc:
            run.checked += 1
            run.fail(op, "pipelines", "error", "".join(traceback.format_exception_only(exc)))
        timed += time.perf_counter() - t0
        rows_in = batch["rows"]
        deltas = []
        for d in range(DELTAS):
            # untimed: generate the delta and its answers
            stage = f"{cdir}/stage{d}"
            delta = corpus.stage_delta(run.np_rng, sf_dir, stage)
            con = oracle.connect(sf_dir, {t: f"{stage}/{t}.parquet" for t in delta["tables"]})
            try:
                want = oracle.oracle_hashes(con, {q: run.registry[q].oracle for q in DELTA_MIX})
            finally:
                con.close()
            rows_in += delta["rows"]
            # The refresh runs DELTA_MIX in its listed order, because the
            # state a refresh leaves depends on the order (when
            # q_local_supplier_volume reads the replaced lineitem before
            # q_khop_paths does, lineitem's table cache stays
            # materialized: +3.2 MB at sf0.01) and pinned_mb has to
            # compare runs, not orders. The warm passes, which leave the
            # state as it is, take seeded orders.
            order = list(DELTA_MIX)
            corpus.commit_delta(sf_dir, stage, delta["tables"])
            t_land = time.perf_counter()
            queries = {}
            for name in order:
                queries[name], _ = run.query(op, name, sf_dir, want[name])
            refresh = time.perf_counter() - t_land
            warm = []  # per pass, each call's latency
            for _ in range(WARM_PASSES):
                run.rng.shuffle(order)
                warm.append([run.query(op, name, sf_dir, want[name])[0] for name in order])
            timed += time.perf_counter() - t_land
            deltas.append({"refresh_s": refresh, "queries_s": queries, "warm_s": warm})
        cycle_s = timed
        counters = tr.end_op()
        # traced: after garbage collection, so that growth between cycles
        # is state still held (a leak), not garbage awaiting the cleaner
        snap = settled_state if tr.enabled else state_snapshot
        state = snap(run.spark, run.args.warehouse)
        run.states.append({"op": op, **state})
        cycles.append(
            {
                "op": op,
                "latency_s": cycle_s,
                "rows": rows_in,
                "stages_s": stage_s,
                "deltas": deltas,
                "spark": counters,
                "persisted_rdds": state["persisted_rdds"],
            }
        )
        run.ops.append(cycles[-1])
    return {"setup_s": setup_s, "cycles": cycles}


WORKLOADS = {"serve": serve, "cold": cold, "ingest": ingest}


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def tail(lat: list[float]) -> tuple[float, str]:
    """Latency at the highest percentile with at least ten samples beyond
    it; with fewer than eleven samples, the maximum."""
    s = sorted(lat)
    if len(s) < 11:
        return s[-1], "max"
    return s[-11], f"p{100 * (len(s) - 10) / len(s):.1f}"


def end_to_end(run: Run, res: dict, final_state: dict) -> dict:
    lat = [o["latency_s"] for o in run.ops]
    workload = run.args.workload
    if workload == "ingest":
        cycles = res["cycles"]
        refresh = [d["refresh_s"] for c in cycles for d in c["deltas"]]
        warm = [p for c in cycles for d in c["deltas"] for p in d["warm_s"]]
        # first calls over new files: each delta's refresh, summed per
        # cycle. (The fill's first calls are set-up, which setup_s
        # covers; three first calls in a fresh JVM are too short a
        # sample to gate a spread on.)
        first = sum(refresh) / len(cycles)
        # freshness: a delta landing on disk -> every DELTA_MIX query has
        # answered over it
        fresh = statistics.median(refresh)
        # request rate of the warm passes, the store's hit path (median
        # over passes, so a GC pause in one pass does not move it)
        rate = statistics.median(len(p) / sum(p) for p in warm)
    else:
        # cold: the pass, its nine first calls; serve: the fill
        first = sum(o["latency_s"] for o in (run.ops if workload == "cold" else run.fill))
        fresh = first
        calls = len(run.ops[0]["calls"]) if workload == "cold" else len(lat)
        rate = calls / sum(lat)
    t, pct = tail(lat)
    res["tail_percentile"] = pct
    return {
        "setup_s": res["setup_s"],
        "p50_ms": 1000 * statistics.median(lat),
        "tail_ms": 1000 * t,
        "ops_per_s": rate,
        "first_call_s": first,
        "fresh_ms": 1000 * fresh,
        "pinned_mb": final_state["cached_mb"] + final_state["warehouse_mb"],
    }


def per_layer(run: Run, res: dict, e2e: dict, final_state: dict, rss: float) -> dict:
    timed = {o["op"] for o in run.ops} | {c["op"] for o in run.ops for c in o.get("calls", ())}
    spans = [s for s in run.tracer.spans if s.get("op") in timed]
    n = len(run.ops)

    def total(prefix: str, key: str = "dur") -> float:
        out = 0.0
        for s in spans:
            if s["name"].startswith(prefix):
                out += (s["end"] - s["start"]) if key == "dur" else s.get(key, 0)
        return out

    counters = [o.get("spark", {}) for o in run.ops]

    def spark_sum(field: str) -> float:
        return sum(c.get(field, 0) for c in counters)

    builds = [s for s in spans if s["name"] == "plans.build"]
    mb = 2**20
    tops = [s for s in spans if s["parent"] is None]
    accounted = sum(s["end"] - s["start"] for s in tops)
    lat = sum(o["latency_s"] for o in run.ops)
    rdds = [c["persisted_rdds"] for c in res.get("cycles", [])]
    cycle_s = sum(c["latency_s"] for c in res.get("cycles", []))
    m = {
        "session.start_s": run.session_start_s,
        "readers.read_s": total("readers.") / n,
        "plans.build_s": total("plans.build") / n,
        "readers.jobs": spark_sum("read_jobs") / n,
        "plans.build_jobs": spark_sum("build_jobs") / n,
        "plans.prepared_hit_ratio": (
            sum(bool(s.get("prepared_hit")) for s in builds) / len(builds) if builds else 0.0
        ),
        "spark.plan_s": total("spark.plan") / n,
        "spark.exec_s": total("spark.exec") / n,
        "spark.jobs": spark_sum("jobs") / n,
        "spark.stages": spark_sum("stages") / n,
        "spark.tasks": spark_sum("numCompleteTasks") / n,
        "spark.result_rows": total("spark.exec", "rows") / n,
        "spark.input_mb": spark_sum("inputBytes") / mb / n,
        "spark.shuffle_write_mb": spark_sum("shuffleWriteBytes") / mb / n,
        "spark.shuffle_read_mb": spark_sum("shuffleReadBytes") / mb / n,
        "spark.spill_mb": (spark_sum("memoryBytesSpilled") + spark_sum("diskBytesSpilled")) / mb / n,
        "spark.task_run_s": spark_sum("executorRunTime") / 1000 / n,
        "spark.gc_s": spark_sum("jvmGcTime") / 1000 / n,
        "sinks.write_s": total("sinks.write") / n,
        "sinks.written_mb": total("sinks.write", "bytes") / mb / n,
        "sinks.files": total("sinks.write", "files") / n,
        "pipelines.nsforest_s": total("pipelines.nsforest") / n,
        "pipelines.load_s": total("pipelines.load") / n,
        "pipelines.query_s": total("pipelines.query") / n,
        "state.persisted_rdds": final_state["persisted_rdds"],
        "state.cached_mb": final_state["cached_mb"],
        "state.temp_views": final_state["temp_views"],
        "state.warehouse_mb": final_state["warehouse_mb"],
        # growth after the first cycle, which rebuilds what the fill held
        "state.rdds_per_cycle": (rdds[-1] - rdds[0]) / (len(rdds) - 1) if len(rdds) > 1 else 0.0,
        "jvm.peak_rss_mb": rss,
        "failed_frac": len(run.failures) / max(1, run.checked),
        "rows_per_s": sum(c["rows"] for c in res.get("cycles", [])) / cycle_s if cycle_s else 0.0,
        "trace.unaccounted_ms": 1000 * (lat - accounted) / n,
    }
    m.update({f"traced.{k}": v for k, v in e2e.items()})
    return m


def machine(spark, sf_dir: str, ticks0: tuple[int, int]) -> dict:
    import pyspark

    java = spark.sparkContext._jvm.System.getProperty("java.version")
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {
        # host contention over the run: a run that reads slow with a high
        # steal share was slowed by other guests, not by the engine
        "cpu_steal_share": steal / total if total else None,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "aqe": "false",
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "input_bytes": {
            t: os.path.getsize(f"{sf_dir}/{t}.parquet") for t in oracle.TABLES
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--artifact", required=True)
    args = ap.parse_args()
    ticks0 = cpu_ticks()

    run = Run(args)
    sf_dir = args.corpus
    if args.workload == "ingest":
        # ingest replaces files: it works on its own copy
        sf_dir = os.path.join(args.scratch, "corpus")
        os.makedirs(sf_dir)
        for t in oracle.TABLES:
            shutil.copy2(f"{args.corpus}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    run.start()
    with open(args.expected) as f:
        expected = json.load(f)
    res = WORKLOADS[args.workload](run, sf_dir, expected)
    t_measured = time.time()
    final_state = settled_state(run.spark, args.warehouse)
    e2e = end_to_end(run, res, final_state)
    rss = peak_rss_mb([os.getpid()])
    metrics = per_layer(run, res, e2e, final_state, rss) if args.trace else e2e
    host = machine(run.spark, sf_dir, ticks0)
    t_stop = time.time()
    run.spark.stop()
    phases = {"measured_end_s": t_measured - T0, "stop_begin_s": t_stop - T0, "stop_end_s": time.time() - T0}
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corpus": args.corpus,
        "machine": host,
        "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT")},
        "end_to_end": e2e,
        "metrics": metrics,
        "tail_percentile": res.get("tail_percentile"),
        "phases": phases,
        "attempted": run.checked,
        "failed": len(run.failures),
        "failures": run.failures,
        "fill": run.fill,
        "ops": run.ops,
        "states": run.states,
        "final_state": final_state,
        "spans": run.tracer.spans,
    }
    with open(args.artifact, "w") as f:
        json.dump(artifact, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())

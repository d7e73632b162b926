"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|cold|ingest --seed N \
        --seconds S --trace 0|1 [--sf 0.01 | --corpus DIR]

Run from the repository root. Builds the seeded corpus and its oracle
answers once per checkout (under .perfbench_work/), then runs the
workload in a fresh worker process with its own warehouse, Spark local
dirs and temp dir, and prints every metric with its unit followed by
one JSON result line. The worker's full artifact and its stderr are
kept in .perfbench_work/artifacts/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "cell_kn_mvp_etl_results_spark"
RUN_TIMEOUT_S = 170.0
# Store posture per workload: table cache, prepared plans, materialized
# serving state.
STORE_ON = {
    "SPARK_GRAFT_CACHE_TABLES": "all",
    "SPARK_GRAFT_PLAN_CACHE": "1",
    "SPARK_GRAFT_MATERIALIZE": "1",
}
STORE_OFF = {
    "SPARK_GRAFT_CACHE_TABLES": "",
    "SPARK_GRAFT_PLAN_CACHE": "0",
    "SPARK_GRAFT_MATERIALIZE": "0",
}
STORE = {"serve": STORE_ON, "cold": STORE_OFF, "ingest": STORE_ON}


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs(root: str, work: str, sf: float, corpus_dir: str | None) -> tuple[str, str]:
    """The corpus (generated at ``sf``, or ``corpus_dir`` as given) and
    the path of the oracle hashes of every MIX query over it, computed
    once and kept in the work dir."""
    import corpus
    import oracle
    from worker import MIX

    if corpus_dir:
        sf_dir = os.path.abspath(corpus_dir)
        for t in oracle.TABLES:
            if not os.path.isfile(os.path.join(sf_dir, f"{t}.parquet")):
                die(f"--corpus {corpus_dir}: {t}.parquet not found")
        key = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(work, f"oracle-{key}.json")
    else:
        sf_dir = corpus.ensure_corpus(work, sf)
        path = os.path.join(sf_dir, "_oracle.json")
    try:
        with open(path) as f:
            if set(MIX) <= set(json.load(f)):
                return sf_dir, path
    except (OSError, ValueError):
        pass
    sys.path.insert(0, root)
    from cell_kn_mvp_etl_results_spark.plans import REGISTRY

    con = oracle.connect(sf_dir)
    try:
        hashes = oracle.oracle_hashes(con, {q: REGISTRY[q].oracle for q in MIX})
    finally:
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(hashes, f)
    os.replace(path + ".tmp", path)
    return sf_dir, path


def run_pids(marker: bytes) -> list[int]:
    """Live processes whose environment carries this run's marker: the
    worker, its JVM and the JVM's Python workers (which the JVM starts in
    a process group of their own)."""
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if marker in f.read().split(b"\0"):
                        pids.append(int(d))
            except OSError:
                pass  # exited, or not ours to read
    return pids


def stop_run(proc: subprocess.Popen, marker: bytes) -> None:
    """Stop every process of the run and wait until each has exited. A
    worker that finished first gets 10 s for its JVM to shut down on its
    own before anything is signalled."""
    signals = [signal.SIGTERM, signal.SIGKILL]
    if proc.poll() is not None:
        signals.insert(0, 0)  # signal 0 only tests that a process exists
    for sig in signals:
        for pid in run_pids(marker):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            proc.poll()
            if not run_pids(marker):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(STORE), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="corpus scale (0.001 = smoke)")
    ap.add_argument(
        "--corpus", help="run on this directory of corpus tables instead of the generated corpus"
    )
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        die(f"run from the repository root: {PACKAGE}/ not found in {root}")
    bench = os.path.join(root, "BENCHMARK.json")
    with open(bench) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench_work")
    sf_dir, expected = build_inputs(root, work, args.sf, args.corpus)

    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    scratch = os.path.join(work, "runs", name)
    arts = os.path.join(work, "artifacts")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.makedirs(arts, exist_ok=True)
    artifact = os.path.join(arts, f"{name}.json")
    log_path = os.path.join(arts, f"{name}.log")

    env = dict(os.environ)
    env.update(STORE[args.workload])
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()),
            "SPARK_GRAFT_DRIVER_MEM": env.get("SPARK_GRAFT_DRIVER_MEM") or "2g",
            "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
            "TMPDIR": os.path.join(scratch, "tmp"),
            # every JVM, spark-submit's launcher included: temp files in
            # the run's dir, no perf-data file in /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "TZ": "UTC",
            "PERFBENCH_RUN": name,
            "PERFBENCH_T0": repr(time.time()),
        }
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--corpus", sf_dir,
        "--expected", expected,
        "--scratch", scratch,
        "--warehouse", os.path.join(scratch, "warehouse"),
        "--artifact", artifact,
    ]
    # a terminated benchmark still stops its worker (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_run(proc, f"PERFBENCH_RUN={name}".encode())
            shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.exists(artifact):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        why = "timed out" if code is None else f"exited with {code}"
        die(f"worker {why}; log kept at {log_path}", 1)

    with open(artifact) as f:
        art = json.load(f)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in listed:
        value = art["metrics"][m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']}: {value:.6g} {m['unit']}")
    for f in art["failures"]:
        print(f"FAILED {f['op']} {f['query']} ({f['kind']}): {f['error'].strip()}")
    print(f"artifact: {os.path.relpath(artifact, root)}")
    result = {
        "correct": art["failed"] == 0,
        "attempted": art["attempted"],
        "failed": art["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

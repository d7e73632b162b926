"""Compare the generated corpus with a reference corpus of the same
schema by the traffic each MIX query makes on it.

    python3 perfbench/compare_corpus.py --ref DIR [--sf 0.01] [--seeds 1 2 3]

Run from the repository root. For each seed it runs the traced ``cold``
workload on both corpora (the pass runs MIX in listed order; the seeds
only label the repeats), then
prints, per MIX query and as ``generated/reference``, the result rows,
the Spark jobs, tasks, input and shuffle-write megabytes it caused, and
the median first-call time on each with their ratio. A single first
call's time depends on what ran before it and varies from run to run;
the counters do not. The runs' artifacts stay in
``.perfbench_work/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def cold_calls(source: list[str], seed: int) -> dict[str, dict]:
    """Per query: first-call seconds, rows and Spark counters."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "cold",
           "--seed", str(seed), "--seconds", "1", "--trace", "1", *source]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{out.stderr[-3000:]}")
    path = next(
        line.split(": ", 1)[1] for line in out.stdout.splitlines() if line.startswith("artifact: ")
    )
    with open(path) as f:
        art = json.load(f)
    if art["failed"]:
        sys.exit(f"{path}: {art['failures']}")
    rows = {s["query"]: s["rows"] for s in art["spans"] if s["name"] == "spark.exec"}
    return {
        c["query"]: {
            "s": c["latency_s"],
            "rows": rows[c["query"]],
            "jobs": c["spark"]["jobs"],
            "tasks": c["spark"]["numCompleteTasks"],
            "in_mb": c["spark"]["inputBytes"] / 2**20,
            "shuf_mb": c["spark"]["shuffleWriteBytes"] / 2**20,
        }
        for c in art["ops"][0]["calls"]
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ref", required=True, help="directory of reference corpus tables")
    ap.add_argument("--sf", default="0.01", help="scale of the generated corpus")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()

    runs = {"gen": [], "ref": []}
    for seed in args.seeds:
        runs["gen"].append(cold_calls(["--sf", args.sf], seed))
        runs["ref"].append(cold_calls(["--corpus", args.ref], seed))

    def med(side: str, q: str, key: str) -> float:
        return statistics.median(r[q][key] for r in runs[side])

    counters = (("rows", "{:.0f}"), ("jobs", "{:.0f}"), ("tasks", "{:.0f}"),
                ("in_mb", "{:.2f}"), ("shuf_mb", "{:.2f}"))
    print(f"{'query':24s}" + "".join(f" {k:>13s}" for k, _ in counters)
          + f" {'s gen':>6s} {'s ref':>6s} {'ratio':>5s}")
    for q in sorted(runs["gen"][0]):
        pairs = "".join(
            f" {fmt.format(med('gen', q, k)) + '/' + fmt.format(med('ref', q, k)):>13s}"
            for k, fmt in counters
        )
        g, r = med("gen", q, "s"), med("ref", q, "s")
        print(f"{q:24s}{pairs} {g:6.2f} {r:6.2f} {g / r:5.2f}")
    pass_s = {
        k: statistics.median(sum(c["s"] for c in run.values()) for run in v) for k, v in runs.items()
    }
    print(f"{'pass (median of sums)':24s}{'':70s} {pass_s['gen']:6.2f} {pass_s['ref']:6.2f}"
          f" {pass_s['gen'] / pass_s['ref']:5.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Runs one workload of the OTP ingest benchmark and prints its result.

    python3 perfbench/run.py --workload otp_live --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --record-board   # rewrites board_digests.tsv

Builds the program from source first (see build.py), then runs the harness
in one JVM. The last line of standard output is the JSON result; logs go to
standard error. With --trace 1 the spans are written to
.bench_build/trace/, together with the tracing overhead against the untraced
runs of the same workload made earlier in this checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("otp_live", "otp_backlog")
TIMEOUT_S = 175
DIGESTS = os.path.join(build.ROOT, "perfbench", "board_digests.tsv")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-board", action="store_true",
                    help="record the board queries' outputs as the expected ones")
    a = ap.parse_args()
    if not a.record_board and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    classes = build.build()
    _, jars, add_opens = build.sbt_settings()
    # a fixed young generation: G1's adaptive sizing otherwise moves the
    # resident set by hundreds of MB from run to run
    java = ["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UsePerfData"] + add_opens
    cp = ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")])]
    if a.record_board:
        work = os.path.join(build.BUILD, "work", f"record-{os.getpid()}")
        os.makedirs(os.path.join(work, "tmp"))
        subprocess.run(java + [f"-Djava.io.tmpdir={work}/tmp"] + cp
                       + ["perfbench.Board", work, DIGESTS], check=True)
        shutil.rmtree(work, ignore_errors=True)
        return
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (java + [f"-Djava.io.tmpdir={tmp}"] + cp
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--digests", DIGESTS])
    t0 = time.time()
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {a.workload} exceeded {TIMEOUT_S} s")
    print(f"perfbench: harness took {time.time() - t0:.1f} s", file=sys.stderr)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench: harness exited {p.returncode} without a result")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l, file=sys.stderr)

    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    history = os.path.join(results, f"{a.workload}.jsonl")
    if a.trace:
        traces = os.path.join(build.BUILD, "trace")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(os.path.join(work, "trace")):
            shutil.move(os.path.join(work, "trace", f), os.path.join(traces, f))
        overhead = tracing_overhead(result["metrics"], history)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.overhead.json"), "w") as fh:
            json.dump(overhead, fh, indent=1)
        print(f"perfbench: tracing overhead {json.dumps(overhead)}", file=sys.stderr)
    else:
        with open(history, "a") as fh:
            fh.write(json.dumps(result["metrics"]) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def tracing_overhead(traced, history):
    """Traced value of each end-to-end metric against the median of the
    untraced runs recorded in this checkout, as a share of that median."""
    runs = []
    if os.path.isfile(history):
        with open(history) as fh:
            runs = [json.loads(l) for l in fh if l.strip()]
    out = {"untraced_runs": len(runs)}
    for name, m in traced.items():
        if not name.startswith("traced.") or m["value"] is None:
            continue
        base = [r[name[7:]]["value"] for r in runs
                if r.get(name[7:], {}).get("value") is not None]
        if base and statistics.median(base):
            med = statistics.median(base)
            out[name[7:]] = {"traced": m["value"], "untraced_median": med,
                             "overhead_share": (m["value"] - med) / med}
    return out


if __name__ == "__main__":
    main()

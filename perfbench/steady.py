#!/usr/bin/env python3
"""Runs the benchmark in sets of runs, one seed per run, and reports for
each end-to-end metric of each set its median, quartiles and spread (the
distance between the quartiles as a share of the median), and how far the
median of each later set moved from the first set's, next to the bound.

    python3 perfbench/steady.py [--sets 2] [--runs 10] [--traced 2]
                                [--workloads a,b] [--first-seed 1]
                                [--note TEXT] [--out FILE]

Run from the repository root. Set k uses seeds first-seed + 100 * k + i.
`--traced N` adds N runs with `--trace 1` per workload after the sets.
Every run's values and the summary are written as JSON to FILE (default:
<build dir>/perfbench-steady.json).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402


def summarize(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def verdict(x, bound):
    if bound is None:
        return None
    if x < bound / 3:
        return "steady"
    return "within bound" if x < bound else "unresolved at this bound"


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]
    except (OSError, ValueError):
        return None
    return fields[7], sum(fields)


def run_once(spec, root, workload, seed, trace):
    t0 = time.monotonic()
    c0 = cpu_ticks()
    p = subprocess.run(spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    wall = time.monotonic() - t0
    c1 = cpu_ticks()
    # time the hypervisor ran other guests on this VM's CPUs during the run
    steal = (round(100.0 * (c1[0] - c0[0]) / (c1[1] - c0[1]), 1)
             if c0 and c1 and c1[1] > c0[1] else None)
    if p.returncode != 0:
        print(p.stderr[-3000:], file=sys.stderr)
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    passes = [x.split("=", 1)[1] for x in p.stdout.splitlines()
              if x.startswith("[perfbench] pass_s=")]
    run = {"seed": seed, "wall_s": round(wall, 1), "host_steal_pct": steal,
           "correct": r["correct"],
           "attempted": r["attempted"], "failed": r["failed"],
           "pass_s": passes[0] if passes else None,
           **{n: m["value"] for n, m in r["metrics"].items()}}
    vals = " ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items())
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s steal={steal}% correct={r['correct']} "
          f"attempted={r['attempted']} failed={r['failed']} {vals}", flush=True)
    return run


def main():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--note", default="")
    ap.add_argument("--out")
    a = ap.parse_args()
    metrics = [m["name"] for m in spec["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = a.workloads.split(",")
    root = Path.cwd()
    out = Path(a.out) if a.out else build.build_dir(root) / "perfbench-steady.json"

    runs = {w: [[] for _ in range(a.sets)] for w in workloads}
    for k in range(a.sets):
        for w in workloads:
            for i in range(a.runs):
                runs[w][k].append(run_once(spec, root, w, a.first_seed + 100 * k + i, 0))
    traced = {w: [run_once(spec, root, w, a.first_seed + 100 * a.sets + i, 1)
                  for i in range(a.traced)] for w in workloads}

    report = {"what": f"{a.sets} sets of {a.runs} runs per workload of "
                      f"`{' '.join(spec['command'])} --trace 0`, one seed per run; "
                      f"{a.traced} runs per workload with --trace 1",
              "note": a.note, "run_seconds": spec["run_seconds"],
              "spread": "(q3 - q1) / median, quartiles from statistics.quantiles(values, n=4)",
              "drift": "(median of a set - median of set 1) / median of set 1",
              "workloads": {}}
    for w in workloads:
        sets = []
        for k, rs in enumerate(runs[w]):
            summary = {}
            for n in metrics:
                s = summarize([r[n] for r in rs])
                s["bound"] = bounds[n]
                # setup_s's spread is not gated; its median drift is
                if n != "setup_s":
                    s["spread_verdict"] = verdict(s["spread"], bounds[n])
                if k:
                    first = sets[0]["summary"][n]["median"]
                    s["drift"] = (s["median"] - first) / first
                    s["drift_verdict"] = verdict(max(s["drift"], 0.0), bounds[n])
                summary[n] = s
                line = " ".join(f"{x}={v:.4g}" if isinstance(v, float) else f"{x}={v}"
                                for x, v in s.items())
                print(f"  set {k + 1} {w} {n}: {line}", flush=True)
            sets.append({"seeds": [r["seed"] for r in rs], "summary": summary,
                         "all_correct": all(r["correct"] for r in rs), "runs": rs})
        report["workloads"][w] = {"sets": sets, "traced_runs": traced[w]}
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

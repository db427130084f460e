#!/usr/bin/env python3
"""Run the benchmark over several seeds and write perfbench/baseline.json.

    python3 perfbench/baseline.py [--runs 10] [--traced 2] [--first-seed 1]

For each workload in BENCHMARK.json: `--runs` untraced runs and
`--traced` traced runs, each with its own seed. Records, per
end-to-end metric, the median, quartiles and the quartile spread as a
share of the median (what a benchmark bound is checked against); per
per-layer metric, the median of the traced runs; and the tracing
overhead, the traced runs' median wall against the untraced runs'.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import run

SPEC = json.load(open(os.path.join(run.REPO, "BENCHMARK.json")))

# Which end-to-end metric, on which workload, each layer's metrics should move.
MOVES = [
    ("core.session_start_s", "setup_s", "all"),
    ("core.scratch_left_mb", "io_write_mb", "batch_queries"),
    ("sources.", "wall_s, io_write_mb", "image_curation"),
    ("ops.", "wall_s, cpu_s", "image_curation"),
    ("dataset.", "wall_s", "image_curation"),
    ("functions.", "cpu_s", "batch_queries (not image_curation)"),
    ("plans.", "wall_s", "batch_queries"),
    ("queries.", "wall_s", "batch_queries"),
    ("streaming.", "wall_s, io_write_mb", "batch_queries (q_stream_* members)"),
    ("trace.", "tracing overhead on wall_s", "all"),
]


def moves(name):
    for prefix, metric, workload in MOVES:
        if name.startswith(prefix):
            return {"moves": metric, "on": workload}
    raise KeyError(name)


def one(workload, seed, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                        "--trace", str(trace)], cwd=run.REPO, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
    out, rec = json.loads(lines[-1]), json.loads(lines[-2])
    print(f"{workload} seed={seed} trace={trace} run={time.time() - t0:.1f}s "
          f"correct={out['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()
                     if trace == 0 or k == "trace.wall_s"), file=sys.stderr, flush=True)
    return out, rec, time.time() - t0


def stats(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    med = statistics.median(xs)
    return {"median": med, "p25": q[0], "p75": q[2], "max": max(xs), "n": len(xs),
            "spread": (q[2] - q[0]) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    out = {"nproc": len(os.sched_getaffinity(0)), "run_seconds": SPEC["run_seconds"],
           "commit": run.git_head(), "workloads": {}}
    for w in SPEC["workloads"]:
        name = w["name"]
        plain = [one(name, a.first_seed + i, 0) for i in range(a.runs)]
        traced = [one(name, a.first_seed + a.runs + i, 1) for i in range(a.traced)]
        e2e = {m["name"]: stats([o["metrics"][m["name"]]["value"] for o, _, _ in plain])
               for m in SPEC["end_to_end"]}
        layers = {m["name"]: {"median": statistics.median(o["metrics"][m["name"]]["value"]
                                                          for o, _, _ in traced),
                              "unit": m["unit"], **moves(m["name"])}
                  for m in SPEC["per_layer"]} if traced else {}
        traced_wall = statistics.median(o["metrics"]["trace.wall_s"]["value"]
                                        for o, _, _ in traced) if traced else None
        rec = plain[0][1]
        out["workloads"][name] = {
            "why": w["why"],
            "inputs": rec["inputs"],
            "correct": all(o["correct"] for o, _, _ in plain + traced),
            "end_to_end": e2e,
            "tracing_overhead_s": traced_wall - e2e["wall_s"]["median"] if traced else None,
            "run_s": stats([t for _, _, t in plain + traced]),
            "loadavg": [[r["loadavg_start"], r["loadavg_end"]] for _, r, _ in plain + traced],
            "per_layer": layers,
        }
    with open(os.path.join(run.HERE, "baseline.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()

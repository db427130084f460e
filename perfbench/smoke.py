#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at a tiny size.

    python3 perfbench/smoke.py

Asserts that every metric BENCHMARK.json names is emitted with its unit
(end-to-end metrics untraced, per-layer metrics traced), that the
outputs check clean, that a planted wrong digest is counted as a failed
operation, and that without the engine sources the benchmark exits
non-zero without a result. Takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys

import run

SPEC = json.load(open(os.path.join(run.REPO, "BENCHMARK.json")))


def bench(workload, trace, *extra, cwd=run.REPO):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--workload", workload, "--seed", "5", "--seconds", "1",
                        "--trace", str(trace), "--size", "tiny", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=400)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, last, p.stderr


def result(workload, trace, *extra):
    code, last, err = bench(workload, trace, *extra)
    assert code == 0, f"{workload} trace={trace} exited {code}:\n{err[-2000:]}"
    out = json.loads(last)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in want:
        got = out["metrics"].get(m["name"])
        assert got is not None, f"{workload} trace={trace}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), m["name"]
    assert set(out["metrics"]) == {m["name"] for m in want}, "unexpected metrics"
    return out


def main():
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            out = result(w["name"], trace)
            assert out["correct"] and out["failed"] == 0, (w["name"], trace, out)
            print(f"ok   {w['name']} trace={trace}: {len(out['metrics'])} metrics")

    digests = json.load(open(os.path.join(run.HERE, "expected", "digests.json")))
    victim = sorted(digests["sf0.001"])[0]
    digests["sf0.001"][victim]["sha256"] = "0" * 64
    planted = os.path.join(run.OUT, "smoke_digests.json")
    with open(planted, "w") as f:
        json.dump(digests, f)
    out = result("batch_queries", 0, "--expected", planted)
    assert not out["correct"] and out["failed"] >= 1, out
    print(f"ok   planted wrong digest for {victim}: failed={out['failed']}")

    bare = os.path.join(run.OUT, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(run.REPO, "BENCHMARK.json"), bare)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    code, last, _ = bench("batch_queries", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not last, (code, last)
    print(f"ok   without engine sources: exit {code}, no result")


if __name__ == "__main__":
    main()

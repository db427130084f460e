#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one run, one JVM.

    python3 perfbench/run.py --workload image_curation --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine and the
harness with scalac into `.bench_build/perfbench/classes`; later runs
reuse the classes while the sources are unchanged. Every path the
engine writes to (java.io.tmpdir, spark.graft.scratchDir, the warehouse,
spark.local.dir, the working directory) points under a per-run scratch
root in `.bench_build/perfbench/`, which is measured and deleted at the
end. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; the line before it is
the full run record. Trace spans are written to
`.bench_build/perfbench/traces/`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = ("image_curation", "batch_queries")
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "io_write_mb": "MB"}
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every Scala source of the engine and the harness, in a stable order."""
    files = []
    for base in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, subdirs, names in os.walk(base):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def spark_jars():
    """The jar directory the engine's build compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`. The Scala compiler of the
    engine's Scala version ships among the Spark jars."""
    with open(os.path.join(REPO, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler in {jars!r}")
    return jars


def build():
    """Compile engine and harness with scalac, once per source state, into
    `.bench_build/perfbench/classes`; return the run classpath. The sbt
    builds (the engine's, and `perfbench/build.sbt` for the harness) use
    the same sources and jars; calling the compiler directly keeps the
    build off sbt's launcher, caches and locks in the home directory."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/")
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes, stamp = os.path.join(OUT, "classes"), os.path.join(OUT, "build.sha256")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath, h.hexdigest()
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", staging, "@" + args]
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath, h.hexdigest()


def normalize(df):
    """The correctness gate's normalisation: columns by name, values as
    strings (floats to 17 significant digits), rows sorted."""
    import decimal
    import math

    df = df[sorted(df.columns)].copy()

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, decimal.Decimal):
            v = float(v)
        if isinstance(v, float):
            return f"{v:.17g}"
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(norm)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    """sha256 of a normalised result, with each column's type family."""
    fam = {c: ("i" if df[c].dtype.kind in "iu" else df[c].dtype.kind) for c in df.columns}
    n = normalize(df)
    h = hashlib.sha256()
    h.update("|".join(f"{c}:{'O' if fam[c] == 'O' else fam[c]}" for c in n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return {"sha256": h.hexdigest(), "rows": len(n)}


def check_queries(rec, expected):
    import pandas as pd

    bad = []
    for q in rec["check_ops"]:
        path = os.path.join(rec["check_dir"], q)
        want = expected.get(q)
        if want is None:
            bad.append((q, "no expected digest"))
        elif not os.path.isdir(path):
            bad.append((q, "no result written"))
        else:
            got = digest(pd.read_parquet(path))
            if got != want:
                bad.append((q, f"digest {got} != expected {want}"))
    return bad


def check_npz(out):
    """Shapes of the NPZ work units and the combined training NPZ."""
    import numpy as np

    bad = []
    units = os.path.join(out["dir"], "units")
    names = sorted(n for n in os.listdir(units) if n.endswith(".npz"))
    if len(names) != out["npz_units"]:
        bad.append(("npz", f"{len(names)} NPZ units, want {out['npz_units']}"))
    for n in names[:: max(1, len(names) // 8)]:
        with np.load(os.path.join(units, n)) as z:
            x, y = z["X"], z["y"]
            if x.shape[-3:] != (out["crop_rows"], out["crop_cols"], out["channels"]) or \
                    y.shape[:-1] != x.shape[:-1] or y.shape[-1] != 1:
                bad.append(("npz", f"{n}: X{x.shape} y{y.shape}"))
    t = out["tile"]
    with np.load(os.path.join(out["dir"], "combined.npz")) as z:
        want = (out["combined_planes"], t, t)
        if z["X"].shape != want + (out["channels"],) or z["y"].shape != want + (1,):
            bad.append(("combined_npz", f"X{z['X'].shape} y{z['y'].shape}, want {want}"))
    return bad


def du_mb(paths):
    total = 0
    for p in paths:
        for d, _, names in os.walk(p):
            for n in names:
                try:
                    total += os.lstat(os.path.join(d, n)).st_size
                except OSError:
                    pass
    return total / 1e6


def quantiles(xs):
    if len(xs) < 2:
        return {"p25": xs[0], "p50": xs[0], "p75": xs[0]}
    q = statistics.quantiles(xs, n=4)
    return {"p25": q[0], "p50": statistics.median(xs), "p75": q[2]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected", "digests.json"))
    a = ap.parse_args()

    classpath, source_sha = build()
    sf = "sf0.01" if a.size == "full" else "sf0.001"
    data = os.path.join(HERE, "data", sf)
    root = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "scratch", "warehouse", "local"):
        os.makedirs(os.path.join(root, d))
    record_file = os.path.join(root, "record.json")
    trace_file = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
    cores = len(os.sched_getaffinity(0))
    # a fixed heap and young generation keep the resident set comparable
    # from run to run; G1 would otherwise size both adaptively
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:NewSize=768m", "-XX:MaxNewSize=768m", "-Xss4m",
            "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
              "-Dgraft.fixtures.dir=" + os.path.join(REPO, "fixtures"),
              "-Dderby.system.home=" + os.path.join(root, "warehouse"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), a.size, data, root, record_file, trace_file])
    # The engine gets a fixed environment. Spark binds to loopback instead of
    # resolving the machine's host name, which need not resolve. The engine
    # starts subprocesses that inherit the environment, and the bytes copied
    # into them count in wchar, so a caller's larger environment would raise
    # io_write_mb.
    env = {k: os.environ[k] for k in ("PATH", "HOME") if k in os.environ}
    env.update(PERFBENCH_CORES=str(cores), SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    log = os.path.join(OUT, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.time()
    try:
        with open(log, "w") as lf:
            try:
                # a run must end within 180 s once built; leave room for the checks
                p = subprocess.run(cmd, cwd=root, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                   timeout=max(160, a.seconds + 100))
            except subprocess.TimeoutExpired:
                fail(f"harness timed out; log in {log}")
        if p.returncode != 0 or not os.path.exists(record_file):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"harness exited with {p.returncode}; log in {log}")
        rec = json.load(open(record_file))
        bad = [tuple(f) for f in rec["failures"]]
        if "check_ops" in rec:
            import pyarrow.parquet as pq

            rec["inputs"]["tables"] = {n[:-8]: pq.ParquetFile(os.path.join(data, n)).metadata.num_rows
                                       for n in sorted(os.listdir(data))}
            rec["inputs"]["rows"] = sum(rec["inputs"]["tables"].values())
            with open(a.expected) as f:
                bad += check_queries(rec, json.load(f)[sf])
        if rec.get("image_outputs"):
            bad += check_npz(rec["image_outputs"])
        scratch_left = du_mb([os.path.join(root, d) for d in ("tmp", "scratch", "warehouse", "local")])
    finally:
        shutil.rmtree(root, ignore_errors=True)

    timed = rec["passes"]
    walls = [p["wall_s"] for p in timed]
    attempted = rec["attempted"] + (1 if rec.get("image_outputs") else 0)
    failed = len({k for k, _ in bad})
    metrics = {
        "setup_s": rec["setup_s"],
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "peak_rss_mb": rec["peak_rss_mb"],
        "io_write_mb": statistics.median(p["io_write_mb"] for p in timed),
    }
    rec.update({
        "commit": git_head(),
        "source_sha256": source_sha,
        "run_wall_s": time.time() - t0,
        "fail_ratio": failed / attempted,
        "failed_ops": bad,
        "scratch_left_mb": scratch_left,
        "wall_s_quantiles": quantiles(walls) | {"max": max(walls), "n": len(walls)},
    })
    if a.trace:
        layers = dict(rec["per_layer"], **{"core.scratch_left_mb": scratch_left})
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    rec.pop("per_layer", None)
    print(json.dumps(rec, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def git_head():
    """Commit of the checkout, when the checkout is itself a git work tree."""
    try:
        top, head = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=REPO,
                                   capture_output=True, text=True, timeout=10).stdout.split()
        return head if os.path.realpath(top) == os.path.realpath(REPO) else None
    except (OSError, ValueError, subprocess.SubprocessError):
        return None


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ns_row"):
        return "ns"
    if last.endswith("per_s"):
        return "Mpx/s"
    if last.endswith("_ms"):
        return "ms"
    if "_mb" in last:
        return "MB"
    if last.endswith("_s"):
        return "s"
    if last in ("par_eff", "span_coverage", "npz_bytes_per_input_byte"):
        return "ratio"
    return "count"

if __name__ == "__main__":
    main()

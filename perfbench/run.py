#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload relational|corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine and the benchmark driver (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed (gen.py), the engine runs in one JVM at local[nproc], the outputs
are checked (checks.py), and the last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it ("detail") carries per-op timings,
set-up repetitions and failures, which compare.py reads.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = gen.GENERATORS
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# a run must end within 180 s; leave room for the checks
JVM_TIMEOUT_S = 150

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compiles engine + driver unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true "
                       "-Dsbt.override.build.repos=true -Dsbt.server.autostart=false "
                       "-Xmx2g").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def jvm(cp, args, work):
    """Runs the driver and waits for it; returns its exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def summarize(res, trace):
    """End-to-end (or, traced, per-layer) metrics plus the detail record."""
    passes = res["passes"]
    samples = [v for p in passes for v in p["ops"].values() if v is not None]
    per_op = {}
    for p in passes:
        for k, v in p["ops"].items():
            if v is not None:
                per_op.setdefault(k, []).append(v)
    op_median = {k: statistics.median(v) for k, v in per_op.items()}
    detail = {
        "setup_s": res["setup_s"],
        "warmup_s": res["warmup_s"],
        "pass_wall_s": [sum(v for v in p["ops"].values() if v is not None) / 1000
                        for p in passes],
        "op_median_ms": op_median,
        "op_samples": len(samples),
        "storage_peak_mb": statistics.median(p["storage_peak_mb"] for p in passes),
        "failures": res["failures"],
    }
    if trace:
        layers = dict(res["layers"], **{"storage.peak_mb": detail["storage_peak_mb"]})
        return detail, {k: (v, unit(k)) for k, v in layers.items()}
    return detail, {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "warmup_s": (res["warmup_s"], "s"),
        # a pass of median ops: robust to one slow op in one pass
        "wall_s": (sum(op_median.values()) / 1000, "s"),
        "op_p50_ms": (statistics.median(samples), "ms"),
    }


def unit(name):
    for suffix, u in (("_ms", "ms"), ("_mb", "MB"), ("_bytes", "bytes"),
                      ("_rows_per_s", "rows/s"), ("_yield", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()

    work = os.path.join(ROOT, ".bench_build", "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    truth = gen.GENERATORS[a.workload](a.seed, inp)
    cpus = len(os.sched_getaffinity(0))
    rc = jvm(cp, ["--workload", a.workload, "--input", inp, "--work", work, "--out", out,
                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--cpus", str(cpus)], work)
    if rc != 0:
        fail(f"driver {'timed out' if rc is None else f'exited {rc}'}; "
             f"see {os.path.join(work, 'jvm.log')}")
    res = json.load(open(os.path.join(out, "result.json")))
    failed_ops = {f["op"] for f in res["failures"]}
    problems = checks.CHECKS[a.workload](work, truth, failed_ops)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    detail, metrics = summarize(res, a.trace == 1)
    detail.update(workload=a.workload, seed=a.seed, trace=a.trace, cpus=cpus,
                  load_1m=os.getloadavg()[0], check_problems=problems[:20])
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (the program through its own root build) and
caches the class path under `.bench_build/`; later runs reuse it while the
sources are unchanged. The run itself is one JVM (`perfbench.Main`) with a
`local[nproc]` Spark session. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when `--trace 0` and the per-layer metrics when
`--trace 1`. Everything above it is a human-readable report.
"""
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SF = "sf0.01"
DATA = os.path.join(HERE, "data", SF)
EXPECTED = os.path.join(HERE, "expected", SF + ".json")
WORKLOADS = ["replica_olap", "llm_pipeline", "stream_ingest"]
RUN_TIMEOUT_S = 170
JVM_OPTS = ["-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: both builds and both source trees."""
    out = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, name)
            if os.path.isfile(p):
                out.append(p)
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            out += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                    if f.endswith((".sbt", ".scala"))]
        src = os.path.join(base, "src", "main")
        for d, dirs, files in os.walk(src):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return sorted(set(out))


def build():
    """Compile with sbt unless the cached class path matches the sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no program sources next to the benchmark (expected ../build.sbt "
            "and ../src/main); run from the root of a full checkout")
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath-" + stamp)
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run_jvm(cp, main, args, log_path, timeout_s):
    """Run one JVM in its own process group; kill the group on timeout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_COMMIT"] = git_commit()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, main] + args,
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(res, trace):
    h = res["header"]
    print("perfbench " + " ".join(f"{k}={h[k]}" for k in h))
    print(f"correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']} error_rate={fmt(res['error_rate'])}")
    for e in res["errors"]:
        print("  error: " + e)
    groups = [("end-to-end", res["end_to_end"]), ("workload figures", res["figures"])]
    if trace:
        groups.append(("per-layer", res["per_layer"]))
    for title, ms in groups:
        if ms:
            print(f"-- {title}")
            for k, m in ms.items():
                print(f"  {k:40s} {fmt(m['value']):>14s} {m['unit']}")
    fam = res["samples"]
    for k, s in fam.items():
        print(f"  samples[{k}] " + " ".join(f"{a}={fmt(b)}" for a, b in s.items()))
    if trace and res["self_s"]:
        print("-- self time per layer (s)")
        for k, v in sorted(res["self_s"].items(), key=lambda x: -x[1]):
            print(f"  {k:20s} {v:10.3f}")
        pl = res["per_layer"]
        print(f"  tracing overhead: {pl['trace.overhead_s']['value']:.3f} s on an "
              f"untraced pass of {res['figures']['untraced_pass_s']['value']:.3f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=DATA, help=argparse.SUPPRESS)
    ap.add_argument("--expected", default=EXPECTED, help=argparse.SUPPRESS)
    ap.add_argument("--mix", choices=["bench", "full"], default="bench",
                    help="full: every declared query of the mix's blocks")
    ap.add_argument("--timeout", type=int, default=RUN_TIMEOUT_S, help=argparse.SUPPRESS)
    a = ap.parse_args()
    cp = build()
    if not os.path.isdir(a.data) or not os.path.isfile(a.expected):
        die(f"missing benchmark inputs {a.data} / {a.expected}")
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", a.data,
            "--work", work, "--out", out, "--expected", a.expected, "--mix", a.mix]
    log = os.path.join(BUILD, f"last-{a.workload}.log")
    try:
        rc = run_jvm(cp, "perfbench.Main", args, log, a.timeout)
        if rc != 0 or not os.path.isfile(out):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"run failed (exit {rc}); log in {log}")
        with open(out) as f:
            res = json.load(f)
        shutil.copy(out, os.path.join(BUILD, f"last-{a.workload}.json"))
        traces = os.path.join(BUILD, "traces")
        for d, _, files in os.walk(os.path.join(work, "traces")):
            os.makedirs(traces, exist_ok=True)
            for fn in files:
                shutil.move(os.path.join(d, fn), os.path.join(traces, fn))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(res, a.trace == 1)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

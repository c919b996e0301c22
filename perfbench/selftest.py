#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

Runs every workload once on the small sf0.001 fixture copy, untraced with
`--mix full` (all 314 declared queries and the whole streaming-twin panel)
and traced with the timed mix, and checks:
  * the last stdout line is the result object with exactly the contract keys;
  * every end-to-end metric (untraced) and every per-layer metric (traced)
    named in BENCHMARK.json is printed with its unit;
  * `failed` is 0 and `correct` is true (error rate 0);
  * a deliberately corrupted expected digest is reported as an error that
    names the query, so the result check cannot pass vacuously;
  * run from a directory holding only BENCHMARK.json and the benchmark's
    files, the benchmark exits non-zero without printing a result.
Exits 1 on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SMALL = ["--data", os.path.join(HERE, "data", "sf0.001"),
         "--expected", os.path.join(HERE, "expected", "sf0.001.json")]


def bench(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--timeout", "900"]
    p = subprocess.run(cmd + list(extra), cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=1000)
    return p.returncode, p.stdout, p.stderr


def check(ok, what):
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        sys.exit(1)


def result(out):
    lines = out.strip().splitlines()
    return json.loads(lines[-1]) if lines else {}


def main():
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace, group, mix in ((0, "end_to_end", "full"), (1, "per_layer", "bench")):
            rc, out, err = bench(w, trace, *SMALL, "--mix", mix)
            check(rc == 0, f"{w} trace={trace}: exit 0" + ("" if rc == 0 else "\n" + err[-3000:]))
            r = result(out)
            check(sorted(r) == ["attempted", "correct", "failed", "metrics"],
                  f"{w} trace={trace}: result has exactly the contract keys")
            check(r["failed"] == 0 and r["correct"] and r["attempted"] >= 1,
                  f"{w} trace={trace}: error rate 0 over {r['attempted']} operations")
            want = {m["name"]: m["unit"] for m in SPEC[group]}
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            check(got == want, f"{w} trace={trace}: every {group} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
                  f"{w} trace={trace}: every value is a number")
    # d44 opens every replica_olap pass; zero its digest in a copy of the file
    expected = json.load(open(os.path.join(HERE, "expected", "sf0.001.json")))
    victim = next(n for n in sorted(expected["digests"]) if n.startswith("d44_"))
    expected["digests"][victim] = "0" * 64
    corrupt = os.path.join(ROOT, ".bench_build", "selftest-corrupt.json")
    os.makedirs(os.path.dirname(corrupt), exist_ok=True)
    with open(corrupt, "w") as f:
        json.dump(expected, f, indent=1)
    rc, out, _ = bench("replica_olap", 0, "--data", os.path.join(HERE, "data", "sf0.001"),
                       "--expected", corrupt)
    os.remove(corrupt)
    r = result(out)
    check(rc == 0 and r["failed"] >= 1 and not r["correct"] and victim in out,
          f"a corrupted expected digest for {victim} is reported as an error naming it")
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    # the benchmark's own files only, without what its build leaves behind
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=lambda d, names: [
        n for n in names if n in ("target", ".bsp")
        or (n == "project" and os.path.basename(d) == "project")])
    rc, out, _ = bench("replica_olap", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and not out.strip().startswith("{") and '"metrics"' not in out,
          "without the program's sources the benchmark exits non-zero and prints no result")
    print("selftest passed")


if __name__ == "__main__":
    main()

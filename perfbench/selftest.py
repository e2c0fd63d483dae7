#!/usr/bin/env python3
"""Smoke self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

For each workload it makes one short run on the small (smoke) inputs with
tracing off and one with tracing on, and checks that the result line
names every metric of BENCHMARK.json with its unit, that the answers
were right, and that the generated text, compressed and XLSX inputs match
their pinned checksums (Spark's parquet writer is not byte-stable: a few
bytes of each column chunk's metadata differ between runs, so parquet
inputs are checked through the answers only).
A run with a deliberately wrong expected value must report failures.
Finally the benchmark must refuse to run, without a result line, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.getcwd())
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORK = os.path.join(ROOT, ".bench_build", "perfbench-work")
PINS = json.load(open(os.path.join(ROOT, "perfbench", "input-pins.json")))


def fail(msg):
    sys.exit(f"selftest FAILED: {msg}")


def run(workload, trace, wrong="0", cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", trace, "--scale", "smoke", "--wrong-expected", wrong]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def result(workload, trace, wrong="0"):
    rc, out, err = run(workload, trace, wrong)
    if rc != 0 or not out:
        fail(f"{workload} trace={trace}: exit {rc}\n{err[-3000:]}")
    r = json.loads(out[-1])
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload}: result keys {sorted(r)}")
    if not isinstance(r["attempted"], int) or r["attempted"] < 1:
        fail(f"{workload}: attempted {r['attempted']}")
    return r


def check_metrics(workload, r, spec):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    if got != want:
        fail(f"{workload}: metrics differ: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}")
    for k, v in r["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            fail(f"{workload}: {k} is not a number")


def main():
    # pinned inputs are regenerated, not read back from the cache
    for key in PINS:
        shutil.rmtree(os.path.join(WORK, "inputs", key), ignore_errors=True)
    for w in [x["name"] for x in SPEC["workloads"]]:
        r = result(w, "0")
        if not r["correct"] or r["failed"]:
            fail(f"{w}: wrong answers on a clean run: {r}")
        check_metrics(w, r, SPEC["end_to_end"])
        if any(v["value"] <= 0 for v in r["metrics"].values()):
            fail(f"{w}: an end-to-end metric is not positive: {r['metrics']}")
        r = result(w, "1")
        if not r["correct"]:
            fail(f"{w}: wrong answers on a traced run")
        check_metrics(w, r, SPEC["per_layer"])
        r = result(w, "0", wrong="1")
        if r["correct"] or r["failed"] < 1:
            fail(f"{w}: a wrong expected value went unnoticed: {r}")
        print(f"selftest: {w} ok", flush=True)

    for key, files in PINS.items():
        manifest = json.load(open(os.path.join(WORK, "inputs", key, "manifest.json")))
        for name, sha in files.items():
            if manifest[name]["sha256"] != sha:
                fail(f"input {key}/{name} changed: {manifest[name]['sha256']} != pinned {sha}")
    print("selftest: pinned inputs ok", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target"))
    rc, out, _ = run(SPEC["workloads"][0]["name"], "0", cwd=bare)
    shutil.rmtree(bare)
    if rc == 0 or any(l.startswith("{") for l in out):
        fail("a directory without the program produced a result")
    print("selftest: bare directory refused", flush=True)
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest size (--seconds 1).

    python3 perfbench/selftest.py

Checks that, on every workload of BENCHMARK.json,
  * an untraced run prints every end-to-end metric and a traced run every
    per-layer metric, each by name with its unit, and both runs pass their
    output checks;
  * an injected fault is reported as a failed operation: a corrupted
    expected hash on the query workloads, a dropped frame on the video
    workloads;
and that the benchmark exits non-zero without printing a result in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
FAULT = {"queries_small": "corrupt-hash", "video_stream": "drop-frame",
         "video_backfill": "drop-frame"}


def bench(workload, trace, inject=None, cwd=ROOT):
    cmd = ["python3", os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    if inject:
        cmd += ["--inject", inject]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 and lines else None), r


def expect(ok, what, detail=""):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        print(detail)
        sys.exit(1)


def main():
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, r = bench(w, trace)
            expect(rc == 0 and res is not None, f"{w} trace={trace} runs", r.stderr[-2000:])
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} prints every {key} metric with its unit")
            expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                   f"{w} trace={trace} metric values are numbers")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace} output checks pass")
        rc, res, r = bench(w, 0, FAULT[w])
        expect(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: injected {FAULT[w]} counts as a failed operation")
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
    rc, res, r = bench(SPEC["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and not r.stdout.strip(), "refuses to run without the program's sources")


if __name__ == "__main__":
    main()

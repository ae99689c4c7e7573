#!/usr/bin/env python3
"""Benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists): queries_small,
video_stream, video_backfill.

The first run compiles the program (src/main/scala) and the harness
(perfbench/src) with the Scala compiler that ships in the build's jar
directory (build.sbt `unmanagedBase`) into .bench_build/, keyed by a hash
of the sources, so later runs start the JVM directly. Every file the run
writes stays under .bench_build/.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": n, "failed": n, "metrics": {name: {value, unit}}}.
With --trace 0 the metrics are BENCHMARK.json's `end_to_end` list, with
--trace 1 its `per_layer` list. Each workload reports a per-layer metric
of a layer it does not exercise as an explicit 0; a metric the run does
not report at all, like any build, run or output-check failure, exits
non-zero without printing a result.
"""
import argparse
import ctypes
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("queries_small", "video_stream", "video_backfill")
# Workloads whose traced run repeats at local[1] for scale.speedup_vs_1core.
SCALED = ("video_backfill",)
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def jar_dir():
    """The build's unmanaged jar directory (Spark + Scala), read from build.sbt."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("no build.sbt at the checkout root: not a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise BenchError(f"jar directory {d!r} from build.sbt does not exist")
    return d


def sources(base):
    out = []
    for dp, _, fs in os.walk(base):
        out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, out_dir, files):
    compiler = [os.path.join(jars, f) for f in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", f)]
    if len(compiler) < 3:
        raise BenchError(f"no Scala compiler jars in {jars}")
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build():
    """Compile program + harness unless .bench_build holds a build of these sources."""
    jars = jar_dir()
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src) or not sources(main_src):
        raise BenchError("no program sources under src/main/scala")
    files = sources(main_src) + sources(bench_src)
    h = hashlib.sha256()
    for f in files + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    main_out = os.path.join(BUILD, "classes", "main")
    bench_out = os.path.join(BUILD, "classes", "bench")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [bench_out, main_out, os.path.join(jars, "*")]
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    jars_cp = os.path.join(jars, "*")
    t0 = time.time()
    scalac(jars, jars_cp, main_out, sources(main_src))
    scalac(jars, os.pathsep.join([main_out, jars_cp]), bench_out, sources(bench_src))
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [bench_out, main_out, jars_cp]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def die_with_parent():
    """Runs in the child before exec: the kernel kills it if this process dies."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_jvm(classpath, args, cpu_count, tag):
    """Run perfbench.Main; return the object on its `RESULT ` line."""
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.scheduler.listenerbus.eventqueue.capacity=200000",
        "-cp", os.pathsep.join(classpath), "perfbench.Main",
        "--work", run_dir, "--data", os.path.join(HERE, "data"),
        "--cpus", str(cpu_count)] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpu_count))
    env.pop("SPARK_MASTER", None)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=ROOT, env=env, preexec_fn=die_with_parent)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise BenchError(f"{tag}: JVM exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    for line in out.splitlines():
        if not line.startswith("RESULT "):
            print(line, file=sys.stderr)
    results = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        tail = open(log_path).read()[-3000:]
        raise BenchError(f"{tag}: JVM exit {proc.returncode}, no result\n{tail}")
    return json.loads(results[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # fault injection for perfbench/selftest.py: corrupt-hash | drop-frame
    ap.add_argument("--inject", default="")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    try:
        classpath = build()
        n = cpus()
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.inject:
            args += ["--inject", a.inject]
        tag = f"{a.workload}-{a.seed}-t{a.trace}"
        if a.trace:
            args += ["--trace-out", os.path.join(BUILD, "traces", tag + ".json")]
        res = run_jvm(classpath, args, n, tag)
        metrics = dict(res["metrics"])
        if a.trace and a.workload in SCALED:
            one = run_jvm(classpath, args + ["--single-core"], 1,
                          f"{a.workload}-{a.seed}-1core")
            metrics["scale.speedup_vs_1core"] = one["scale_work_s"] / res["scale_work_s"]
            if not one["correct"]:
                res["correct"] = False
                res["failed"] += 1
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps({"context": res.get("context", {}), "notes": res.get("notes", {})}))
    out = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if not isinstance(v, (int, float)) or v != v:
            print(f"[perfbench] metric {m['name']} missing from the run", file=sys.stderr)
            sys.exit(2)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))


if __name__ == "__main__":
    main()

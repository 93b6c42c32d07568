#!/usr/bin/env python3
"""Benchmark entry point for graft.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload web_large --seed 1 --seconds 10 --trace 0

Builds the program (src/main/scala) and the harness (perfbench/src) with
the Scala compiler that ships in the Spark distribution, caches the classes
under .bench_build/, runs one workload in a single JVM at local[4], and
prints the harness's log followed by one JSON result line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("web_large", "dup_heavy", "upsert", "data_prep")
RUN_LIMIT_S = 170          # a run must end within 180 s
HEAP = "1g"
# dup_heavy runs at the smallest heap Spark accepts in local mode, so its
# verified edges exceed ConnectedComponents.driverEdgeLimit (heap/5000 =
# 107,374 edges) and connected components take the distributed path
HEAP_BY_WORKLOAD = {"dup_heavy": "512m"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("no Spark distribution found: set SPARK_HOME or put spark-submit on PATH")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no Spark distribution with a Scala compiler under {home}/jars")
    return jars


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        fail("program sources src/main/scala not found; run from the root of a checkout")
    harness = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                            "src", "**", "*.scala"), recursive=True))
    return program + harness


def build(root, build_dir, jars):
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != out:  # earlier builds
            shutil.rmtree(old, ignore_errors=True)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec = load_spec(root)
    build_dir = os.path.join(root, ".bench_build")
    jars = spark_jars()
    classes = build(root, build_dir, jars)

    work = os.path.join(build_dir, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    heap = HEAP_BY_WORKLOAD.get(a.workload, HEAP)
    cmd = ["java", f"-Xmx{heap}", "-Xss8m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.pathsep.join(jars), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", work, "--result", result]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    rc = 1
    with open(os.path.join(work, "stderr.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                env=env, start_new_session=True)
        deadline = time.time() + RUN_LIMIT_S

        def kill(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(1)))
        timer = threading.Timer(max(1.0, deadline - time.time()), kill)
        timer.start()
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
            rc = proc.wait()
        finally:
            timer.cancel()
            kill()
            proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "stderr.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        print(f"perfbench: harness exited with code {rc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    with open(result) as f:
        res = json.load(f)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(build_dir, f"spans-{a.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    res["metrics"] = with_units(spec, res["metrics"], a.trace)
    print(json.dumps(res, separators=(",", ":")))


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(path) as f:
        return json.load(f)


def with_units(spec, values, trace):
    """The metrics BENCHMARK.json lists for the mode, with their units.

    A per-layer metric of a layer this workload does not run reads 0; an
    end-to-end metric must always be measured, and the harness may report
    no metric that BENCHMARK.json does not list."""
    listed = spec["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in listed}
    unlisted = sorted(set(values) - names)
    missing = [m["name"] for m in listed if m["name"] not in values and not trace]
    bad = [k for k, v in values.items() if not isinstance(v, (int, float))]
    if unlisted or missing or bad:
        print(f"perfbench: unlisted metrics {unlisted}, missing {missing}, non-numeric {bad}",
              file=sys.stderr)
        sys.exit(1)
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in listed}


if __name__ == "__main__":
    main()

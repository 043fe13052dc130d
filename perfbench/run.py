#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--follow-interval-ms MS] [--pinned FILE] [--pin FILE]

Workloads: ingest, catalog_refresh (see README.md).

On first use it builds the program and the harness from source with sbt
(offline) into `.bench_build/` and writes the catalog corpus there; later
runs reuse both. The harness runs in its own JVM; this script relays its
result line, enforces the time limit and exits with the harness's code.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("ingest", "catalog_refresh")
RUN_LIMIT_S = 170
SCALE = "0.01"  # the corpus scale pinned.json was made at
BUILD_LIMIT_S = 840

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop(p):
    """Terminate p's process group (the JVM's shutdown hooks stop its
    Postgres), then kill whatever is left."""
    for sig, grace in ((signal.SIGTERM, 15), (signal.SIGKILL, 5)):
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            break
        try:
            p.wait(timeout=grace)
            break
        except subprocess.TimeoutExpired:
            pass


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; stop the group at the time limit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        stop(p)
        fail(f"{cmd[0]} exceeded {limit} s", 4)
    except BaseException:
        stop(p)
        raise
    return p.returncode, out


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
        "-Dsbt.server.forcestart=false", "-Xmx3g"])
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def corpus():
    d = os.path.join(BUILD, "corpus", f"sf{SCALE}")
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        code, _ = run_bounded([sys.executable, os.path.join(HERE, "gen_corpus.py"),
                               "--out", tmp, "--scale", SCALE], 300)
        if code != 0:
            fail("corpus generation failed")
        os.replace(tmp, d)
    return d


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--follow-interval-ms", default="1000")
    ap.add_argument("--pinned", default=os.path.join(HERE, "pinned.json"))
    ap.add_argument("--pin", default=None, help="write the observed outputs here")
    a = ap.parse_args()

    if not os.path.exists(CLASSPATH):
        build()
    cp = open(CLASSPATH).read().strip()
    data = corpus()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spans = os.path.join(BUILD, "spans", f"{a.workload}-seed{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)

    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--pinned", a.pinned, "--work", work,
            "--spans", spans, "--follow-interval-ms", a.follow_interval_ms]
    if a.pin:
        cmd += ["--pin", a.pin]
    t = time.time()
    code, out = run_bounded(cmd, RUN_LIMIT_S - 25, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for l in lines[:-1] if result else lines:
        print(l, file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t:.1f} s, exit {code}",
          file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail("the harness printed no result", code or 5)
    print(json.dumps(complete(json.loads(result), a.trace == "1")))
    sys.exit(code)


def complete(result, traced):
    """Keep exactly the metrics BENCHMARK.json declares for this kind of run.
    A per-layer metric of a layer the workload does not touch reads 0; an
    end-to-end metric is never missing."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if traced else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    if missing and not traced:
        fail(f"end-to-end metrics missing: {missing}", 6)
    result["metrics"] = {m["name"]: got.get(m["name"], {"value": 0, "unit": m["unit"]})
                         for m in declared}
    return result


if __name__ == "__main__":
    main()

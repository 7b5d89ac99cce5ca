#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <tile_viewer|crawl_batch>
      --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the harness with sbt when their sources changed
(perfbench/build.sbt compiles both), then runs graft.perfbench.Main in a
fresh JVM with a work directory of its own under .perfbench/ that is
removed afterwards. The run's detail file (percentiles, sample counts,
sizes, and in a traced run the spans and per-job counts) is kept at
.perfbench/last/<workload>-seed<n>-trace<t>.json.

Exits non-zero without printing a result when the build or the run fails or
the metrics do not match BENCHMARK.json; exits non-zero after printing the
result when an output check failed (it then reads "correct": false).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tile_viewer", "crawl_batch")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The Spark jars the engine builds and runs with: the directory the
    repository's own build.sbt names as its unmanagedBase, else
    $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("Spark jars not found: set SPARK_HOME")


def sources():
    """Every file the build reads from the checkout, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def run_group(cmd, cwd, env, limit, **kw):
    """Run cmd in its own process group; on timeout kill the whole group.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)
    try:
        p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    return p.returncode


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(HERE, "target", "perfbench.stamp")
    digest = h.hexdigest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if fh.read().strip() == digest:
                return classes
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    t = time.time()
    code = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                     HERE, env, BUILD_LIMIT_S, stdout=sys.stderr,
                     stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (exit {code})")
    print(f"[perfbench] built in {time.time() - t:.1f} s", file=sys.stderr)
    with open(stamp_path, "w") as fh:
        fh.write(digest + "\n")
    return classes


def check_result(res, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = bench["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    if sorted(got) != sorted(m["name"] for m in want):
        fail("printed metrics differ from BENCHMARK.json: "
             f"{sorted(set(got) ^ set(m['name'] for m in want))}")
    for m in want:
        if got[m["name"]]["unit"] != m["unit"]:
            fail(f"unit of {m['name']} differs from BENCHMARK.json")
        v = got[m["name"]]["value"]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"{m['name']} was not measured (value {v!r})")
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"unexpected result keys {sorted(res)}")
    if res["attempted"] < 1:
        fail("no operation attempted")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a full checkout of the repository")

    classes = build()
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    jars = spark_jars()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".perfbench", f"run-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", work, "--out", out, "--data", os.path.join(HERE, "data")]
    try:
        code = run_group(cmd, ROOT, dict(os.environ), RUN_LIMIT_S,
                         stdout=sys.stderr, stdin=subprocess.DEVNULL)
        if code is None:
            fail(f"run exceeded {RUN_LIMIT_S} s and was killed")
        if code != 0 or not os.path.exists(out):
            fail(f"run failed (exit {code})")
        with open(out) as fh:
            res = json.load(fh)
        last = os.path.join(ROOT, ".perfbench", "last")
        os.makedirs(last, exist_ok=True)
        shutil.copy(out + ".details.json", os.path.join(last, f"{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check_result(res, a.trace == "1")
    print(json.dumps(res))
    if not res["correct"]:
        fail("an output check failed; see the CHECK FAILED lines above")


if __name__ == "__main__":
    main()

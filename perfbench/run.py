#!/usr/bin/env python3
"""Run one workload of the dp3 serving benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_query --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source with sbt on first use
(offline; outputs under target/ and .bench_build/), then starts the
harness JVM (perfbench.Main), which generates every input from the seed,
sets the store up, measures for --seconds, and checks every reply. Prints
each figure as `metric NAME VALUE UNIT` and, as the last line, one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Exits non-zero, printing no result, when the
build fails, the run fails or times out, or the figures do not match
BENCHMARK.json.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# A run must end within 180 s; the first one in a checkout also builds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_mtime():
    """Newest modification time over everything the build reads."""
    paths = []
    for top in ("src/main", "perfbench/src"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(dirpath, f) for f in files]
    for d in ("", "perfbench"):
        paths.append(os.path.join(ROOT, d, "build.sbt"))
        proj = os.path.join(ROOT, d, "project")
        if os.path.isdir(proj):
            paths += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    return max(os.path.getmtime(p) for p in paths if os.path.isfile(p))


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it; on timeout kill
    the whole group (sbt and its JVM, or the harness JVM) and return None."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    return proc.returncode, out


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile the program and the harness and record the runtime
    classpath, unless that is newer than every source; True if built."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        return False
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        done = run_group(cmd, BUILD_LIMIT_S, cwd=HERE, env=sbt_env(),
                         stdout=subprocess.PIPE, stderr=log, text=True)
        if done is None:
            fail("build timed out")
        code, out = done
        log.write(out)
    if code != 0:
        fail(f"build failed (see {log_path})")
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and "perfbench" in l and ":" in l]
    if not lines:
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as f:
        f.write("-cp " + lines[-1].strip())
    return True


def heap():
    """Half the machine's memory, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(workload, a, want, limit):
    """Run the harness JVM for one workload; print its figures and, last,
    its JSON result."""
    work = os.path.join(BUILD, f"run-{workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            "-XX:ReservedCodeCacheSize=512m"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["@" + CLASSPATH, "perfbench.Main",
              "--workload", workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--dir", work])
    err_path = os.path.join(BUILD, f"jvm-{workload}-{a.seed}.log")
    try:
        with open(err_path, "w") as err:
            done = run_group(jvm, limit, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=err, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if done is None:
        fail(f"run timed out (log: {err_path})")
    code, out = done
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith("result "):
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {code}")
    result = json.loads(lines[-1][len("result "):])
    got = set(result["metrics"])
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
             f"extra {sorted(got - want)}")
    for l in lines[:-1]:
        print(l)
    print(f"metric fail_frac {result['failed'] / max(1, result['attempted'])} ratio")
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help="a workload of BENCHMARK.json, or 'all' for each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program to build: run from the root of a checkout")
    spec = load_spec()
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    started = time.time()
    limit = RUN_LIMIT_S if build() else RUN_LIMIT_S - (time.time() - started)
    if a.workload != "all":
        run_workload(a.workload, a, want, limit)
        return
    for w in spec["workloads"]:
        print(f"workload {w['name']}")
        run_workload(w["name"], a, want, RUN_LIMIT_S)


if __name__ == "__main__":
    main()

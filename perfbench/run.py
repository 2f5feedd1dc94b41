#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt on first use
(perfbench/build.sbt depends on the repository's build), generates the
inputs once, then runs the workload in one JVM at local[nproc]. The last
line on stdout is one JSON object with the keys correct, attempted, failed
and metrics. The exit code is 0 only if the run finished and every output
check passed. `--workload all` runs every workload in turn.

Build outputs, inputs, logs and per-run records go to .bench_build/ at the
checkout root; results.jsonl there collects every run for compare.py.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".bench_build")
# one run must end within 180 s, or 900 s when it also builds
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 890

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(p[len(REPO):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath for this source tree exists."""
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=800)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}")
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def driver_mem():
    """Half the machine's memory, clamped to 2..3 GB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{max(2, min(3, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, workload, seed, seconds, trace, limit):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp
    cmd = ["java", f"-Xmx{driver_mem()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--repo", REPO, "--work", WORK]
    log = os.path.join(WORK, "logs", f"{workload}-s{seed}-t{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload} did not finish within {limit:.0f} s, log in {log}", 3)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{workload} exited with {proc.returncode}, log in {log}", 3)
    return json.loads(lines[-1])


def validate(result, names):
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(result) != keys:
        fail(f"result keys {sorted(result)} != {sorted(keys)}", 4)
    missing = set(names) ^ set(result["metrics"])
    if missing:
        fail(f"metrics differ from BENCHMARK.json: {sorted(missing)}", 4)


def run_one(workload, seed, seconds, trace, started):
    b = spec()
    cp, built = build()
    names = [m["name"] for m in (b["per_layer"] if trace else b["end_to_end"])]
    limit = max(30.0, (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started))
    result = run_jvm(cp, workload, seed, seconds, trace, limit)
    validate(result, names)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                            "time": time.time(), "result": result}) + "\n")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(REPO, f)):
            fail(f"{f} not found: run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    names = [w["name"] for w in spec()["workloads"]]
    todo = names if a.workload == "all" else [a.workload]
    if not set(todo) <= set(names):
        fail(f"unknown workload {a.workload}; choose one of {names} or all")
    ok = True
    for w in todo:
        if a.workload == "all":
            started = time.time()
        r = run_one(w, a.seed, a.seconds, a.trace, started)
        ok = ok and r["correct"] and r["failed"] == 0
        if a.workload == "all":
            print(json.dumps({"workload": w, **r}))
        else:
            print(json.dumps(r))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

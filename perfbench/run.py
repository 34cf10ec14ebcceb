#!/usr/bin/env python3
"""Payment-topology benchmark.

    python3 perfbench/run.py --workload pay_bulk|pay_live --seed N --seconds S --trace 0|1

Run from anywhere inside a checkout of the repository. The library and the
benchmark are built with sbt from source, once per state of the sources: the
compiled classes of each state are copied to .bench_build/build-<hash>/, so a
run always uses the classes of the sources it hashed. One workload runs in a
JVM, and the last line printed is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the end-to-end
ones. With --trace 1 an untraced run and then a traced run are made with the
same seed, each measuring half of --seconds, and the metrics are the
per-layer ones plus trace.overhead.<metric>: the traced run's end-to-end value
minus the untraced run's.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pay_bulk", "pay_live")
# What the JVM runs of one invocation may take together, after the build.
RUN_BUDGET_S = 175

# What spark-submit would add on JDK 17 (the root build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def die(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    singles = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            singles += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            singles += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return sorted(f for f in singles if os.path.isfile(f))


def classpath():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    done = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(done, "classpath")):
        with open(os.path.join(done, "classpath")) as fh:
            return fh.read().strip()

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
            text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or not cp or not all(os.path.exists(e) for e in cp.split(os.pathsep)):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed (log in .bench_build/build.log)", 3)

    # sbt compiles into target/ directories that the next build of another
    # state overwrites; the entries inside the checkout are copied so that
    # this state's classes stay as they are.
    tmp = done + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.commonpath([os.path.abspath(e), ROOT]) == ROOT:
            if os.path.isdir(e):
                shutil.copytree(e, os.path.join(tmp, str(i)))
                e = os.path.join(done, str(i))
            else:
                os.makedirs(os.path.join(tmp, str(i)))
                shutil.copy2(e, os.path.join(tmp, str(i)))
                e = os.path.join(done, str(i), os.path.basename(e))
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(os.path.join(tmp, "classpath"), "w") as fh:
        fh.write(cp)
    shutil.rmtree(done, ignore_errors=True)
    os.rename(tmp, done)
    return cp


def run_once(cp, workload, seed, seconds, trace, deadline):
    work = os.path.join(BUILD, "work", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp,
                                 "perfbench.Main", "--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", "1" if trace else "0",
                                 "--work", work]
    log_path = os.path.join(BUILD, "%s%s.log" % (workload, "-trace" if trace else ""))
    os.sync()  # start without an earlier run's file writes still draining
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                               stdin=subprocess.DEVNULL, text=True, timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("%s did not finish within %d s of the start (log in %s)" % (workload, RUN_BUDGET_S, log_path), 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if p.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(p.stdout[-4000:])
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die("%s failed (exit %d)" % (workload, p.returncode), 5)
    for line in lines[:-1]:
        print(line)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        die("--seconds must be 1..60", 2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no library sources next to %s: run from a checkout of the repository" % HERE, 2)

    cp = classpath()
    deadline = time.time() + RUN_BUDGET_S
    # Traced, two runs share the measured time so that the call stays within its bound.
    seconds = max(1, a.seconds // 2) if a.trace else a.seconds
    result = run_once(cp, a.workload, a.seed, seconds, False, deadline)
    if a.trace:
        base = result
        result = run_once(cp, a.workload, a.seed, seconds, True, deadline)
        metrics = result["metrics"]
        for key in [k for k in metrics if k.startswith("e2e.")]:
            name = key[len("e2e."):]
            traced = metrics.pop(key)
            metrics["trace.overhead." + name] = {
                "value": traced["value"] - base["metrics"][name]["value"], "unit": traced["unit"]}
        # both runs' operations count
        result["correct"] = result["correct"] and base["correct"]
        result["attempted"] += base["attempted"]
        result["failed"] += base["failed"]
    print(json.dumps(result))


if __name__ == "__main__":
    main()

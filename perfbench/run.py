#!/usr/bin/env python3
"""Run one benchmark workload against the library checked out here.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the library and
the benchmark driver from source with sbt (again whenever a source file
changes); every run then starts one JVM for one workload. The driver's
lines start with '#'; the last stdout line is the JSON result. Build
output, generated tables and logs go to .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
WORKLOADS = ("crawl_build", "url_filter", "ckpt_rollup")
HEAP = "3g"
# Rows of the input table all workloads share. Small, so that a full
# benchmark pass (~70 runs) fits in an hour on 4 cores.
ROWS = 100000
# The seed picks the table's id range out of this many, so a checkout
# generates at most this many tables however many seeds are used.
RANGES = 8
RUN_TIMEOUT_S = 170  # generation and the measured run together, after any build
BUILD_TIMEOUT_S = 700
KEEP_TABLES = 12
# Class-data-sharing archive of the classes a run loads, written once per
# build by a training run over a small table, mapped by every run. It
# halves the cold JVM start (Spark loads thousands of classes from ~300
# jars), which otherwise dominates a run.
ARCHIVE = os.path.join(BUILD, "classes.jsa")
TRAIN_ROWS = 5000

# Spark 4 on JDK 17 needs these outside spark-submit (the library's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild, relative to ROOT."""
    out = []
    for top in ("build.sbt", "project/build.properties", "perfbench/run.py",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(ROOT, top)):
            out.append(top)
    for base in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            out.extend(os.path.relpath(os.path.join(d, f), ROOT) for f in files)
    return sorted(out)


def java_cmd(cp, archive_flag):
    """The JVM command line up to the main class's arguments."""
    # JVM warnings go to stderr: stdout carries the result line
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    if archive_flag:
        cmd.append(archive_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def table_dir(rows, id_range):
    return os.path.join(BUILD, "tables", f"webpages_r{rows}_i{id_range}")


def driver(cp, archive_flag, workload, seed, seconds, trace, rows, timeout, log_name):
    """Runs the driver JVM with its stderr to a log; returns its stdout."""
    log_path = os.path.join(BUILD, log_name)
    id_range = seed % RANGES
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--rows", str(rows), "--range", str(id_range),
            "--table", table_dir(rows, id_range)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(cp, archive_flag) + args, cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} timed out after {timeout:.0f} s; see {log_path}", 1)
    if proc.returncode != 0:
        fail(f"{workload} exited with {proc.returncode}; see {log_path}", 1)
    return out


def build():
    """Compiles and packages the library and the driver if their sources
    changed; returns the driver's runtime classpath (jars only, as the
    class-data-sharing archive requires)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library source here (build.sbt, src/main/scala); "
             "run from the root of a full checkout")
    digest = hashlib.sha256()
    for rel in sources():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "export Runtime/fullClasspathAsJars"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}", 1)
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed; see {log_path}", 1)
    cp = [ln for ln in proc.stdout.splitlines()
          if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if not cp:
        fail(f"build printed no classpath; see {log_path}", 1)
    cp = cp[-1].strip()
    # record the classes every workload loads, on a small table of its own
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    for workload in ("generate", "train"):
        driver(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}" if workload == "train" else None,
               workload, 0, 1, 0, TRAIN_ROWS, BUILD_TIMEOUT_S, "train.log")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return cp


def evict_tables():
    """Keeps the most recently used generated tables only."""
    tables = os.path.join(BUILD, "tables")
    if not os.path.isdir(tables):
        return
    dirs = sorted((os.path.join(tables, d) for d in os.listdir(tables)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_TABLES:]:
        subprocess.run(["rm", "-rf", d], check=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(BENCH, "src")):
        fail("run from the root of the checkout that holds perfbench/")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cp = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    evict_tables()
    share = f"-XX:SharedArchiveFile={ARCHIVE}"
    if not os.path.isfile(os.path.join(table_dir(ROWS, a.seed % RANGES), "_GEN_SECONDS")):
        # in a JVM of its own, so the measured JVM always starts cold
        driver(cp, share, "generate", a.seed, 1, 0, ROWS, deadline - time.monotonic(),
               "generate.log")
        # let the table's dirty pages reach disk before anything is timed
        os.sync()
        time.sleep(2)
    out = driver(cp, share, a.workload, a.seed, a.seconds, a.trace, ROWS,
                 deadline - time.monotonic(), f"run_{a.workload}.log")
    lines = out.splitlines()
    for ln in lines[:-1]:
        print(ln)
    if not lines:
        fail("the driver printed no result", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

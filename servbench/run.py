#!/usr/bin/env python3
"""Serving-path benchmark: build once per source state, then run one workload.

Usage (from the repository root):
    python3 servbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

The benchmark is its own sbt project (servbench/build.sbt) that depends on
the repository root, so it always measures the engine sources next to it.
The first run in a checkout compiles both (sbt, offline) and archives the
classes a short training run loads (JVM class-data sharing; the build fails
if it cannot be made); later runs reuse both while the sources are unchanged
and start the JVM directly, always with the archive. The last
line of standard output is the one-line JSON result.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)
TARGET = os.path.join(HOME, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
WORKLOADS = ("dashboard", "bulk_render", "ingest_live", "curate_batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"servbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build: both build definitions and all sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HOME, "build.sbt"), os.path.join(HOME, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HOME, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(tree):
            dirnames.sort()
            inputs.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    for path in inputs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if all(os.path.exists(p) for p in (LAUNCH, STAMP, ARCHIVE)):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own temporary files (sockets, file watchers) stay in the checkout
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"], cwd=HOME, env=env,
                          stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"servbench: build failed (sbt exit {proc.returncode})")
    if not archive_classes():
        sys.exit("servbench: build failed (the class archive training run did not finish cleanly)")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def launch(tmp):
    """(classpath, JVM options) recorded by the build; `tmp` holds what
    the JVM and Spark write to their temporary directory."""
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    os.makedirs(tmp, exist_ok=True)
    # JVM warnings go to stderr: the last stdout line is the result
    return lines[0], ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xlog:all=warning:stderr"] + lines[1:]


def archive_classes():
    """Class-data-sharing archive of the classes one short dashboard run
    loads, so every run starts its JVM and Spark session a few seconds
    sooner. Every run requires it (-Xshare:on), so no run is measured
    without it; returns whether it was made."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("archiving loaded classes (one short training run)")
    train = os.path.join(TARGET, "cds-train")
    classpath, opts = launch(os.path.join(train, "tmp"))
    cmd = (["java", f"-XX:ArchiveClassesAtExit={ARCHIVE}"] + opts +
           ["-cp", classpath, "servbench.Main", "--workload", "dashboard", "--seed", "0", "--seconds", "1",
            "--trace", "0", "--home", train])
    try:
        ok = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                            timeout=RUN_TIMEOUT_S).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(train, ignore_errors=True)
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    return ok and os.path.exists(ARCHIVE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("servbench: engine sources (src/main/scala) not found next to the benchmark; nothing to measure")
    build()
    tmp = os.path.join(TARGET, "tmp", f"run-{os.getpid()}")
    classpath, opts = launch(tmp)
    # the JVM exits with an error rather than start without the archive
    opts = ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"] + opts
    cmd = (["java"] + opts + ["-cp", classpath, "servbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace), "--home", HOME])
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    shutil.rmtree(tmp, ignore_errors=True)
    if rc is None:
        sys.exit(f"servbench: {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    sys.exit(rc)


if __name__ == "__main__":
    main()

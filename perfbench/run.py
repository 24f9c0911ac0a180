#!/usr/bin/env python3
"""Benchmark runner for the serving system and the query catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness (sbt,
offline) and generates the corpus under perfbench/.work; later runs reuse
both while the sources are unchanged. The JVM measures one workload for
the window and writes its result; this script prints that result as the
last line of standard output, and nothing there otherwise. Everything
else (build log, Spark log, failures) goes to standard error. Per-run
detail (layer figures, workload properties, rig record, spans) is written
to perfbench/.work/results/.

Workloads: serve_hot, serve_adhoc, sync_live, catalog.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("serve_hot", "serve_adhoc", "sync_live", "catalog")
JAVA_OPTS = [
    "-XX:+IgnoreUnrecognizedVMOptions", "--add-modules=jdk.incubator.vector",
    *(f"--add-opens={m}=ALL-UNNAMED" for m in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
        "java.security.jgss/sun.security.krb5")),
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true", "--enable-native-access=ALL-UNNAMED",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
# the whole heap is touched at start: in a virtual machine the first touch
# of a page costs a varying amount, which otherwise lands in the timed work
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    """Hash of the named files, and of every file under the named directories."""
    h = hashlib.sha256()
    for root in paths:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(root)
                           if "target" not in d.split(os.sep) for f in fs)
        for p in files:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sources_hash():
    """Hash of everything the harness build compiles."""
    return digest([os.path.join("src", "main", "scala"), os.path.join(BENCH, "src"),
                   os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")])


DATAGEN = os.path.join(BENCH, "datagen.py")
SYNC_LOAD = os.path.join(BENCH, "src", "main", "scala", "graft", "perfbench", "SyncLoad.scala")


def keyed_dir(kind, sf, key):
    """The data directory for one scale factor and one hash of the files
    that produce it. Directories made from other versions of those files
    are removed, so an edit to the generator never serves stale tables.
    """
    parent = os.path.join(WORK, kind)
    name = f"sf{sf}-{key[:16]}"
    if os.path.isdir(parent):
        for old in os.listdir(parent):
            if old.startswith(f"sf{sf}-") and old != name:
                shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
    return os.path.join(parent, name)


def build():
    """Compile the harness with the program's sources; return the classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "build.classpath")
    digest = sources_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=840)
    with open(os.path.join(WORK, "build.log")) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("harness build failed")
    cp = [l for l in lines if l.startswith("/") and ".jar" in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def corpus(sf):
    """Generate the fixed corpus for a scale factor once per version of
    the generator."""
    d = keyed_dir("corpus", sf, digest([DATAGEN]))
    if not os.path.exists(os.path.join(d, "DONE")):
        log(f"generating the sf{sf} corpus")
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, DATAGEN, d, str(sf)], check=True, stdout=sys.stderr)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def sync_cache(sf):
    """Where sync_live keeps its base tables derived from the corpus: keyed
    on the generator and on the derivation code, which the harness runs
    when the directory holds no DONE file."""
    return keyed_dir("cache", sf, digest([DATAGEN, SYNC_LOAD]))


def cpus():
    return len(os.sched_getaffinity(0))


def java(cp, main_args, timeout=RUN_TIMEOUT_S):
    """Run the harness JVM in its own process group; stop it on timeout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, *HEAP, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-cp", cp, "graft.perfbench.Main", *main_args]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="corpus scale factor (the benchmark's is 0.1)")
    a = ap.parse_args()
    # a stop request unwinds through java()'s cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the repository root; the program's "
                         "sources (src/main/scala/graft) are not here")
    t0 = time.time()
    cp = build()
    data = corpus(a.sf)
    log(f"build and corpus ready in {time.time() - t0:.1f} s")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    result = os.path.join(WORK, "results", f"{tag}.line")
    if os.path.exists(result):
        os.remove(result)
    try:
        rc = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--corpus", data, "--work", run_dir,
                       "--cache", sync_cache(a.sf), "--cpus", str(cpus()),
                       "--result", result, "--sf", str(a.sf)])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: the {a.workload} run failed (exit {rc})")
    with open(result) as f:
        line = f.read().strip()
    sys.stdout.write(line + "\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build graft and the CDC benchmark from source, then run one workload.

    python3 cdcbench/run.py --workload backfill|upsert|replica \
        --seed N --seconds S --trace 0|1
    python3 cdcbench/run.py --small      # every workload, small inputs

Run it from the root of a graft checkout. The first run builds the
library and the benchmark with sbt into `.bench_build/` and `target/`
directories; later runs reuse the build while the sources are unchanged.
The last line of standard output is the run's JSON result. See
cdcbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "cdcbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ["backfill", "upsert", "replica"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as the library's
# own build passes them to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out, err


def java_bin():
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    return java if os.path.exists(java) else "java"


def jarify(cp):
    """Pack the classpath's class directories into jars: the JVM's
    class-data archive only records classes loaded from jars."""
    jars = os.path.join(BUILD, "jars")
    subprocess.run(["rm", "-rf", jars], check=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if not os.path.isdir(entry):
            out.append(entry)
            continue
        jar = os.path.join(jars, f"classes-{i}.jar")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, names in os.walk(entry):
                for n in sorted(names):
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, entry))
        out.append(jar)
    return os.pathsep.join(out)


def build():
    """Compile with sbt when the sources changed; return the classpath.

    A build also records a class-data archive from one short run of every
    workload, which every run maps instead of loading and verifying
    Spark's classes one by one (it cuts JVM and Spark start-up from about
    8 s to 3 s on a 4-core host). A build that cannot record it fails, and
    a run that cannot map it fails (`-Xshare:on`), so every figure comes
    from the same start-up path."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    want = stamp()
    if all(os.path.exists(f) for f in (cp_file, stamp_file, ARCHIVE)):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    log("building graft and the benchmark with sbt")
    t = time.time()
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit(f"sbt build failed (exit {code})")
    cp = [l for l in out.splitlines() if "cdcbench" in l and os.pathsep in l]
    if not cp:
        raise SystemExit("sbt printed no classpath")
    cp = jarify(cp[-1].strip())
    log(f"compiled in {time.time() - t:.1f}s; recording the class-data archive")
    run_jvm(cp, "train", 1, 1, False, True, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if not os.path.exists(ARCHIVE):
        raise SystemExit("the JVM recorded no class-data archive")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t:.1f}s")
    return cp


def run_jvm(cp, workload, seed, seconds, trace, small, extra=()):
    """Run the benchmark JVM; return its stdout lines."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    work = os.path.join(BUILD, f"work-{os.getpid()}-{workload}")
    cmd = [java_bin(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           "-Xlog:all=warning:stderr", *extra,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # keep the status store small over hundreds of short jobs
           "-Dspark.sql.ui.retainedExecutions=4", "-Dspark.ui.retainedJobs=16",
           "-Dspark.ui.retainedStages=16"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "cdcbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--small", "1" if small else "0"]
    try:
        # Spark's scratch space stays inside the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                 stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{workload}: no result within {RUN_TIMEOUT_S}s")
    finally:
        subprocess.run(["rm", "-rf", work], check=False)
    if code != 0:
        sys.stdout.write(out)
        raise SystemExit(f"{workload}: benchmark JVM exited {code}")
    return out.splitlines()


def run_workload(cp, workload, seed, seconds, trace, small):
    extra = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on"]
    result = None
    for l in run_jvm(cp, workload, seed, seconds, trace, small, extra):
        if l.startswith('{"correct"'):
            result = l
        else:
            print(l, flush=True)
    if result is None:
        raise SystemExit(f"{workload}: the benchmark printed no result")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="run every workload on small inputs (self-test)")
    a = ap.parse_args()
    if not a.small and a.workload is None:
        ap.error("--workload is required unless --small is given")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found: run from the root of a graft checkout")
            return 2
    cp = build()
    if not a.small:
        print(run_workload(cp, a.workload, a.seed, a.seconds, a.trace, False), flush=True)
        return 0
    ok = True
    for w in WORKLOADS:
        r = json.loads(run_workload(cp, w, a.seed, min(a.seconds, 4), a.trace, True))
        print(json.dumps({"workload": w, **r}), flush=True)
        ok = ok and r["correct"]
    print(json.dumps({"small": True, "correct": ok}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Deletion-job benchmark for graft: one run of one workload.

    python3 perfbench/run.py --workload backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
benchmark from source (sbt, offline) and caches the classpath under
.bench_build/; later runs start the JVM directly. The last line of stdout
is the result object: {"correct", "attempted", "failed", "metrics"}.
Exit code 0 means the run finished and the oracle passed.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

WORKLOADS = ("backlog", "curate")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HERE = os.path.dirname(os.path.abspath(__file__))
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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"),
              os.path.join(root, "project", "build.properties"),
              os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(root, "src", "main"),
                 os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group at the limit."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath(root, state):
    stamp = source_stamp(root)
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(state, "build.log")
    print("perfbench: building engine + benchmark (sbt, log in %s)" % log,
          file=sys.stderr)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.offline=true", "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, cwd=HERE, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         env=env)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("".join(l[:300] + "\n" for l in lines[-30:]))
        fail("build failed (exit %s)" % rc)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated run still stops its JVM (run_bounded kills the group).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload not in WORKLOADS:
        fail("unknown workload %r (one of %s)" % (a.workload, ", ".join(WORKLOADS)))
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "build.sbt"))):
        fail("run from the root of a graft checkout (no engine sources here)")
    state = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classpath(root, state)

    result = os.path.join(state, "result-%d.json" % os.getpid())
    if os.path.exists(result):
        os.remove(result)
    jvm = (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--state", state, "--result", result])
    log = os.path.join(state, "jvm-%s.log" % a.workload)
    sys.stdout.flush()
    with open(log, "w") as err:
        rc = run_bounded(jvm, RUN_LIMIT_S, stderr=err, stdin=subprocess.DEVNULL)
    if rc is None or rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(l[:300] + "\n" for l in f.read().splitlines()[-40:]))
        fail("run did not finish (exit %s)" % ("timeout" if rc is None else rc))
    with open(result) as f:
        line = f.read().strip()
    os.remove(result)
    print(line)
    sys.exit(0 if line.startswith('{"correct": true') else 1)


if __name__ == "__main__":
    main()

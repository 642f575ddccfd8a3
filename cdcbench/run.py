#!/usr/bin/env python3
"""Converter benchmark entry point.

    python3 cdcbench/run.py --workload {backfill,trickle} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Builds the benchmark (and through it the
program) with sbt on first use, generates the workload's inputs from the
seed in one JVM, then runs the workload in a second JVM. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Exits non-zero without a result when the build, the run or the check of
its inputs fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD_DIR = os.path.join(BENCH, "target")
CP_FILE = os.path.join(BUILD_DIR, "cdcbench-classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "cdcbench-stamp.txt")
WORKLOADS = ("backfill", "trickle")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# A fixed young generation: G1 otherwise sizes it per run, and the peak
# resident size then follows that choice instead of what the program retains.
YOUNG = "1g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
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


def build():
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            raise SystemExit(f"cdcbench: {need} is missing; run from a full checkout")
    if shutil.which("sbt") is None:
        raise SystemExit("cdcbench: sbt is not on PATH")
    digest = sources_digest()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                with open(CP_FILE) as f2:
                    return f2.read().strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export cdcbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"cdcbench: build failed (exit {code})")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("cdcbench: build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java(cp, work, main, args, heap, timeout, young=None):
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC"]
    if young:
        cmd.append(f"-Xmn{young}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + [str(a) for a in args]
    with open(os.path.join(work, f"{main.rsplit('.', 1)[-1]}.log"), "w") as err:
        code, out, _ = run_group(cmd, timeout, cwd=work, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=err, text=True)
    return code, out


def main():
    # terminating this process stops the JVMs too: SystemExit unwinds
    # through run_group, which kills the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        code, out = java(cp, work, "graft.cdcbench.Gen",
                         [a.workload, a.seed, work, a.seconds], "2g", RUN_TIMEOUT_S)
        sys.stderr.write(out)
        if code != 0:
            raise SystemExit(f"cdcbench: input generation failed (exit {code}); see {work}/Gen.log")
        code, out = java(cp, work, "graft.cdcbench.Main",
                         [a.workload, a.seed, a.seconds, a.trace, work, os.path.join(BENCH, "out")],
                         HEAP, max(10, deadline - time.time()), YOUNG)
        with open(os.path.join(work, "Main.log")) as f:
            for line in f:
                if line.startswith("[cdcbench]"):
                    sys.stderr.write(line)
        result = None
        for line in out.splitlines():
            if line.startswith("CDCBENCH_RESULT "):
                result = json.loads(line[len("CDCBENCH_RESULT "):])
            else:
                print(line, flush=True)
        if code != 0 or result is None:
            with open(os.path.join(work, "Main.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"cdcbench: benchmark process failed (exit {code})")
    except subprocess.TimeoutExpired:
        raise SystemExit("cdcbench: timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload against the program in the current directory.

    python3 perfbench/run.py --workload {import,serve,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
harness with sbt (offline) into the build's own target directories and
caches the runtime classpath under .bench_build/; later runs reuse it
until a source file changes. Each run starts one JVM for the harness
(perfbench.Harness), relays its report and ends with its JSON result
line. The exit code is non-zero when any call failed, missed its
deadline or returned a result that differs from its golden fingerprint.

--trace 1 reports the per-layer metrics instead of the end-to-end ones
and writes per-call spans to .bench_work/traces/.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("import", "serve", "ingest")
# one harness JVM, set-up included: a run of a workload in BENCHMARK.json
# must end within 180 s; serve, run by hand only, takes longer
RUN_LIMIT_S = {"import": 170, "ingest": 170, "serve": 600}

# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(ROOT, "project", "build.properties"))
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program and harness; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def harness(cp, args, trace, golden, data, deadline_at, extra=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    work = os.path.join(WORK, f"run-{os.getpid()}-{'t' if trace else 'u'}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx4g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
            "--data", data, "--work", work, "--golden", golden,
            "--cores", str(cores())] + list(extra)
    if trace:
        cmd += ["--trace-out", os.path.join(
            WORK, "traces", f"{args.scale}-{args.workload}-seed{args.seed}.jsonl")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline_at - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("harness ran past its time limit", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return proc.returncode, lines, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01",
                    help="input tables under perfbench/data/ (sf0.001 is the self-test)")
    ap.add_argument("--golden", default=None,
                    help="fingerprint file (default perfbench/golden/<scale>.json)")
    ap.add_argument("--write-golden", action="store_true",
                    help="run every registered query once and write the fingerprint file")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")
    data = os.path.join(HERE, "data", args.scale)
    golden = args.golden or os.path.join(HERE, "golden", f"{args.scale}.json")
    if args.write_golden:
        cp = build()
        code, lines, _ = harness(cp, args, False, golden, data, time.time() + 3600,
                                 ["--golden-write", golden])
        print("\n".join(lines))
        sys.exit(code)
    if not os.path.isdir(data) or not os.path.isfile(golden):
        fail(f"no input tables or golden fingerprints for {args.scale}")

    cp = build()
    code, lines, res = harness(cp, args, bool(args.trace), golden, data,
                               time.time() + RUN_LIMIT_S[args.workload])
    if res is None:
        print("\n".join(lines))
        fail("harness printed no result", code or 1)
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(res))
    sys.exit(code)


if __name__ == "__main__":
    main()

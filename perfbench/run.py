#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: live-blocks, catalog-sample (see perfbench/README.md). The first
run builds the program and the benchmark with sbt, offline, into target
directories of the checkout; later runs reuse the build until a source or
build file changes. Each run starts one JVM, whose sessions run on every cpu,
prints the cpu count and session conf, and ends its standard output with one
JSON line: {"correct", "attempted", "failed", "metrics"}.

Exit codes: 0 with a result; 1 if the run failed or timed out; 2 if the
program's sources or the toolchain are missing (no result is printed then).

`--record-expected <file>` records the catalog-sample expected digests for
the program as it is now.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("live-blocks", "catalog-sample")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change needs a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles the program and the benchmark; returns (jvm options, classpath)."""
    target = os.path.join(BENCH_DIR, "target")
    spec = os.path.join(target, "launch.txt")
    stamp = os.path.join(target, "launch.fingerprint")
    fp = fingerprint()
    fresh = os.path.isfile(spec) and os.path.isfile(stamp) and open(stamp).read() == fp
    if not fresh:
        log("building the program and the benchmark with sbt")
        t0 = time.time()
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchSpec"]
        try:
            r = subprocess.run(cmd, cwd=BENCH_DIR, env=sbt_env(), stdout=sys.stderr,
                               stderr=sys.stderr, timeout=BUILD_TIMEOUT_S,
                               start_new_session=True)
        except subprocess.TimeoutExpired:
            log("build timed out")
            sys.exit(1)
        if r.returncode != 0 or not os.path.isfile(spec):
            log(f"build failed (exit {r.returncode})")
            sys.exit(1)
        with open(stamp, "w") as f:
            f.write(fp)
        log(f"build took {time.time() - t0:.1f} s")
    opts, cp = [], []
    for line in open(spec).read().splitlines():
        kind, _, value = line.partition("\t")
        (opts if kind == "opt" else cp).append(value)
    return opts, cp


def parse_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    ok = (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(r["attempted"], int) and r["attempted"] >= 1)
    return r if ok else None


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", default=None)
    a = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"the program's sources are not in this checkout: {', '.join(missing)}")
        sys.exit(2)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            log(f"{tool} is not on PATH")
            sys.exit(2)

    opts, cp = build()
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opts +
           ["-cp", os.pathsep.join(cp), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT, "--work", work])
    if a.record_expected:
        cmd += ["--record-expected", os.path.abspath(a.record_expected)]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(1)))
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        kill()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = parse_result(lines[-1]) if lines else None
    for line in (lines[:-1] if result else lines):
        print(line)
    if proc.returncode != 0 or (result is None and not a.record_expected):
        log(f"run failed (exit {proc.returncode})")
        sys.exit(1)
    if result is not None:
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

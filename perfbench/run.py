#!/usr/bin/env python3
"""Benchmark launcher: build the program and the harness from source,
run one workload in a fresh JVM, validate and print the result.

    python3 perfbench/run.py --workload nightly_import --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --self-test

Run it from the root of a checkout. The last stdout line is the result
object ({"correct", "attempted", "failed", "metrics"}); the line before it
is the run's detail record (run stamp, the workload's own figures, output
digests). Everything the run writes stays inside the checkout: the build
under perfbench/target, the run's scratch under .perfbench-work/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every input of the build: the program's sources and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; later runs reuse the
    classpath file and never start sbt."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(BENCH, "target", "source-digest.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                return cp_file, digest
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"build timed out after {BUILD_TIMEOUT_S}s", 1)
    if r.returncode != 0 or not os.path.exists(cp_file):
        print(r.stdout[-6000:], file=sys.stderr)
        die("build failed", 1)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp_file, digest


def run_jvm(cp_file, main, args, work, timeout_s):
    """Run one JVM with cwd and temp dirs inside `work`; return (rc, stdout)."""
    with open(cp_file) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)

        def stop():
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()

        def interrupted(signum, _frame):
            stop()
            sys.exit(128 + signum)

        # the JVM runs in its own process group; it must not outlive us
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, interrupted)
        try:
            out, _ = proc.communicate(timeout=timeout_s)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            stop()
            out, rc = "", -1
            print(f"perfbench: run exceeded {timeout_s:.0f}s and was stopped", file=sys.stderr)
        finally:
            for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
                signal.signal(s, signal.SIG_DFL)
    with open(log_path, errors="replace") as fh:
        lines = fh.read().splitlines()
    for line in lines:
        if "[perfbench]" in line or "SelfTest" in line:
            print(line, file=sys.stderr)
    if rc != 0:
        first = next((i for i, l in enumerate(lines) if "Exception" in l or "Error" in l), len(lines))
        print("\n".join(lines[first:first + 30] + ["..."] + lines[-20:]), file=sys.stderr)
    return rc, out


def run_stamp(digest):
    stamp = {"source_digest": digest, "git_commit": None, "host_canary": None}
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0:
            stamp["git_commit"] = r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    canary = os.path.join(ROOT, ".tmp", "canary_last.json")
    # the canary verdict describes the host only while it is recent
    if os.path.exists(canary) and time.time() - os.path.getmtime(canary) < 6 * 3600:
        try:
            with open(canary) as fh:
                stamp["host_canary"] = json.load(fh)
        except (OSError, ValueError):
            pass
    return stamp


def validate(result, names, units):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"result keys {sorted(result)}", 1)
    got = result["metrics"]
    if set(got) != set(names):
        die(f"metric names differ from BENCHMARK.json: missing {sorted(set(names) - set(got))}, "
            f"extra {sorted(set(got) - set(names))}", 1)
    for k, v in got.items():
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            die(f"metric {k} is not a finite number: {v!r}", 1)
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        die("no operation attempted", 1)
    result["metrics"] = {k: {"value": got[k], "unit": units[k]} for k in names}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--emit-corpus", metavar="DIR", help="write the search corpus to DIR and exit")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(BENCH, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            die(f"{os.path.relpath(need, ROOT)} not found: run from the root of a full checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if not (a.self_test or a.emit_corpus) and a.workload not in workloads:
        die(f"--workload must be one of {workloads}")

    cp_file, digest = build()
    work = os.path.join(ROOT, ".perfbench-work", f"{a.workload or 'selftest'}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.self_test or a.emit_corpus:
            main_class, args = (("perfbench.SelfTest", []) if a.self_test
                                else ("perfbench.EmitCorpus", [os.path.abspath(a.emit_corpus)]))
            rc, out = run_jvm(cp_file, main_class, args, work, RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(0 if rc == 0 else 1)
        seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
        metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
        names = [m["name"] for m in metrics]
        units = {m["name"]: m["unit"] for m in metrics}
        rc, out = run_jvm(cp_file, "perfbench.Main",
                          ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
                           "--trace", str(a.trace), "--work", work], work, RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        if rc != 0 or len(lines) < 2:
            die(f"run failed (exit {rc})", 1)
        detail = json.loads(lines[-2])
        result = validate(json.loads(lines[-1]), names, units)
        detail["perfbench"]["stamp"] = run_stamp(digest)
        print(json.dumps(detail))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()

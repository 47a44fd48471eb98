#!/usr/bin/env python3
"""graft benchmark: run one workload once and print its metrics.

    python3 perfbench/run.py --workload <daily_mart|dedup_ingest>
        --seed <n> --seconds <s> --trace <0|1> [--tiny] [--corrupt]

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) and keeps a copy of the compiled
classes, keyed by a hash of the sources, under the build directory
($CARGO_TARGET_DIR, default .bench_build). Each run is one
plain `java -cp` process with a fixed heap, GC, core count and shuffle
partition count, working in a fresh scratch directory under the build
directory that is deleted at exit. A traced run (--trace 1) keeps its span
file and per-layer table under <build dir>/traces/.

The last line of standard output is the result JSON
({"correct", "attempted", "failed", "metrics"}). A failed correctness check
prints the result with "correct": false and exits 1; a run that cannot
build or start exits non-zero without a result.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("daily_mart", "dedup_ingest")

# Fixed JVM and engine settings, also stated in BENCHMARK.json's workload
# lines and in README.md. daily_mart runs the default tiered JIT (C2), as
# the program is deployed; dedup_ingest, which is scheduler-bound, runs C1
# only, because under C2 its op times did not settle within a run.
HEAP = "3g"
GC = "-XX:+UseParallelGC"
JIT = {"daily_mart": "-XX:+TieredCompilation", "dedup_ingest": "-XX:TieredStopAtLevel=1"}
CORES = 3
SHUFFLE_PARTITIONS = 6
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt's list).
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    """Every file the build reads, for the build cache key."""
    out = []
    for base, subdirs in ((ROOT, ("src/main", "project")), (HARNESS, ("src", "project"))):
        if os.path.isfile(os.path.join(base, "build.sbt")):
            out.append(os.path.join(base, "build.sbt"))
        for sub in subdirs:
            for dirpath, dirnames, files in os.walk(os.path.join(base, sub)):
                dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
                out += [os.path.join(dirpath, f) for f in sorted(files)
                        if sub != "project" or f.endswith((".scala", ".sbt", ".properties"))]
    return out


def classpath():
    """Build (or reuse) the compiled library + harness; return the classpath.

    A build is kept in <build dir>/build-<hash of the sources>/: a copy of
    every compiled-classes directory of the checkout plus the classpath
    that points at those copies. sbt's own output directories are shared
    by every version of the sources, so a cached build must never point
    into them: after switching the sources back and forth (a change, its
    parent, the change again) they hold whichever version compiled last."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: no library sources next to perfbench/ "
                         "(build.sbt and src/main are missing); nothing to build")
    digest = hashlib.sha1()
    for p in sources():
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    os.makedirs(build_dir(), exist_ok=True)
    keep = os.path.join(build_dir(), f"build-{digest.hexdigest()[:16]}")
    cp_file = os.path.join(keep, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(build_dir(), "sbt-tmp")  # sbt's socket dirs, kept out of /tmp
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and harness with sbt (sources not built before in this checkout)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines()
             if not ln.startswith("[") and os.pathsep in ln and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    log(f"built in {time.time() - t0:.1f} s")
    # copy the checkout's own class directories; jars outside it are kept
    staging = keep + f".{uuid.uuid4().hex[:8]}.tmp"
    entries = []
    for n, entry in enumerate(lines[-1].split(os.pathsep)):
        inside = os.path.realpath(entry).startswith(os.path.realpath(ROOT) + os.sep)
        if inside and os.path.isdir(entry):
            entries.append(os.path.join(keep, str(n)))
            shutil.copytree(entry, os.path.join(staging, str(n)))
        elif inside:
            entries.append(os.path.join(keep, str(n), os.path.basename(entry)))
            os.makedirs(os.path.join(staging, str(n)))
            shutil.copy2(entry, os.path.join(staging, str(n)))
        else:
            entries.append(entry)
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "classpath.txt"), "w") as f:
        f.write(os.pathsep.join(entries))
    os.rename(staging, keep)
    return os.pathsep.join(entries)


def cpu_probe():
    """Seconds a fixed single-threaded loop takes: how fast the machine is
    right now, recorded beside the load average (not used in any metric)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def run(args):
    cp = classpath()
    run_dir = os.path.join(build_dir(), "runs", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, JIT[args.workload],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dgraft.fixtures.dir={os.path.join(run_dir, 'fixtures')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run_dir, 'hadoop')}",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--out", out,
           "--cores", str(CORES), "--shuffle-partitions", str(SHUFFLE_PARTITIONS)]
    cmd += ["--tiny"] * args.tiny + ["--corrupt"] * args.corrupt
    load_before, probe = loadavg(), cpu_probe()
    jvm_log = os.path.join(run_dir, "jvm.log")
    try:
        with open(jvm_log, "w") as logf:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                    stdout=logf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                code = None
        if code is None or not os.path.isfile(out):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: run {'timed out' if code is None else f'exited {code}'} "
                             "without a result")
        with open(out) as f:
            result = json.load(f)
        if not result["correct"]:
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(ln for ln in f if "[perfbench]" in ln))
        if args.trace:
            keep = os.path.join(build_dir(), "traces", f"{args.workload}-seed{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(os.path.join(run_dir, "trace"), keep)
            log(f"spans and per-layer table in {os.path.relpath(keep, ROOT)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    info = result.pop("info")
    info["loadavg_before"], info["loadavg_after"] = load_before, loadavg()
    info["cpu_probe_s"] = probe
    info["heap"], info["gc"], info["jit"] = HEAP, GC, JIT[args.workload]
    print("info " + json.dumps(info))
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt the program's output before the check (self-test)")
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()

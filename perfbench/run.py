#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload small_batches --seed 1 \\
        --seconds 20 --trace 0

The first run in a checkout builds the program and the harness with sbt
(perfbench/build.sbt links the harness against the repository's own
build) and caches the runtime classpath under .bench_build/. Later runs
start the harness JVM directly. Each run gets a fresh directory under
.bench_runs/ holding its java.io.tmpdir, warehouse, checkpoints, the JVM
log, the run record and, for a traced run, its spans.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics. With --trace 0 the metrics are BENCHMARK.json's
end_to_end list, with --trace 1 its per_layer list. The exit code is 0
only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
WAREHOUSE = os.path.join(HERE, "testdata", "sf0.001")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 450  # with the training run and one run: under 900 s
TRAIN_TIMEOUT_S = 240

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root: str) -> str:
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"),
              os.path.join(root, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(root, "src", "main"), os.path.join(HERE, "src",
                                                                  "main")):
        for d, _, files in os.walk(tree):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_command(cp: str, tmp: str, harness_args, archive_opt=None):
    """The harness JVM: Spark's JDK 17 module opens, a fixed 3 GB heap
    with the parallel collector (steadier than a growing G1 heap; see
    NOTES.md), UTC, a private java.io.tmpdir, at most 4 cores."""
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if archive_opt:
        cmd.append(archive_opt)
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            f"-XX:ActiveProcessorCount={min(os.cpu_count() or 1, 4)}",
            "-cp", cp, "perfbench.Harness"]
    return cmd + list(harness_args)


def jar_directories(cp: str, out: str) -> str:
    """Replaces the class directories on the classpath with jars: the JVM
    class-data archive accepts only jars."""
    entries = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(out, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in os.walk(p):
                    for f in sorted(files):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, p))
            p = jar
        entries.append(p)
    return os.pathsep.join(entries)


def build(root: str):
    """Builds the program and the harness once per source state. Returns
    the harness's runtime classpath and its JVM class-data archive."""
    out = os.path.join(root, ".bench_build", "perfbench")
    cp_file, stamp_file, archive = (os.path.join(out, "classpath.txt"),
                                    os.path.join(out, "stamp"),
                                    os.path.join(out, "classes.jsa"))
    stamp = source_stamp(root)
    if all(os.path.isfile(f) for f in (cp_file, stamp_file, archive)):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), archive
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          f"writeClasspath {cp_file}.tmp"],
                         HERE, env, f, BUILD_TIMEOUT_S)[0]
    if rc != 0 or not os.path.isfile(cp_file + ".tmp"):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 1)
    with open(cp_file + ".tmp") as f:
        cp = jar_directories(f.read().strip(), out)
    # A short training run records the classes a run loads into a
    # class-data archive; runs map it instead of loading ~10k classes
    # from jars, which takes seconds off every JVM start.
    train = os.path.join(out, "train")
    os.makedirs(os.path.join(train, "tmp"))
    with open(os.path.join(out, "train.log"), "w") as f:
        rc = run_bounded(java_command(
            cp, os.path.join(train, "tmp"),
            ["--workload", "large_batches", "--seed", "0", "--seconds", "1",
             "--trace", "0", "--root", os.path.join(train, "data"),
             "--out", os.path.join(train, "result.json"),
             "--hashes", os.path.join(HERE, "surface_hashes.tsv"),
             "--warehouse", WAREHOUSE],
            f"-XX:ArchiveClassesAtExit={archive}"), root, dict(os.environ),
            f, TRAIN_TIMEOUT_S)[0]
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.isfile(archive):
        fail(f"training run failed (exit {rc}); log in {out}/train.log", 1)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, archive


def run_bounded(cmd, cwd, env, log, timeout_s):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (exit code, peak RSS of the child in MB)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                         stderr=subprocess.STDOUT, start_new_session=True)
    deadline = time.monotonic() + timeout_s
    while True:
        pid, status, usage = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            break
        if time.monotonic() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            _, status, usage = os.wait4(p.pid, 0)
            p.returncode = -9
            break
        time.sleep(0.05)
    try:  # reap anything the child left in its group
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    return p.returncode, usage.ru_maxrss / 1024.0


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_health(cpu0, cpu1, load0, load1):
    """Load averages at start and end, and the iowait and steal shares of
    all CPU time over the run (/proc/stat)."""
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = max(1, sum(d[:8]))
    return {"loadavg_start": load0, "loadavg_end": load1,
            "iowait_share": d[4] / total,
            "steal_share": (d[7] if len(d) > 7 else 0) / total,
            "cores": os.cpu_count()}


def traced_vs_untraced(root: str, workload: str, traced_s: float):
    """A traced run's measured wall time over the median of the untraced
    runs of the same workload recorded in this checkout, minus one: the
    whole cost of tracing, where trace.overhead_share counts only the
    time spent inside the tracer. None before any untraced run."""
    walls = []
    for d in os.listdir(os.path.join(root, ".bench_runs")):
        if d.startswith(f"{workload}-") and d.split("-")[-2] == "0":
            try:
                with open(os.path.join(root, ".bench_runs", d,
                                       "record.json")) as f:
                    walls.append(json.load(f)["record"]["measure_s"])
            except (OSError, ValueError, KeyError):
                pass
    return traced_s / statistics.median(walls) - 1 if walls else None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the surface result hashes here")
    ap.add_argument("--dump", help="write the surface results and their "
                    "oracle SQL here (for prove_hashes.py)")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main",
                                                             "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp, archive = build(root)

    run_dir = os.path.join(root, ".bench_runs",
                           f"{args.workload}-{args.seed}-{args.trace}-"
                           f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, tmp = os.path.join(run_dir, "data"), os.path.join(run_dir, "tmp")
    os.makedirs(data)
    os.makedirs(tmp)
    result_file = os.path.join(run_dir, "result.json")
    harness_args = [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", data, "--out", result_file,
        "--hashes", os.path.join(HERE, "surface_hashes.tsv"),
        "--warehouse", WAREHOUSE]
    for opt in ("record", "dump"):
        if getattr(args, opt):
            harness_args += [f"--{opt}", os.path.abspath(getattr(args, opt))]
    java = java_command(cp, tmp, harness_args,
                        f"-XX:SharedArchiveFile={archive}")

    cpu0, load0 = cpu_times(), loadavg()
    log = os.path.join(run_dir, "jvm.log")
    t0 = time.monotonic()
    with open(log, "w") as f:
        rc, peak_rss_mb = run_bounded(java, root, dict(os.environ), f,
                                      JVM_TIMEOUT_S)
    jvm_wall_s = time.monotonic() - t0
    health = host_health(cpu0, cpu_times(), load0, loadavg())
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.isfile(result_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness failed (exit {rc}); log in {log}", 1)

    with open(result_file) as f:
        result = json.load(f)
    if result["correct"]:  # a failed run keeps its inputs for inspection
        shutil.rmtree(data, ignore_errors=True)
    measured = dict(result["layers"] if args.trace else result["metrics"])
    measured["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"harness did not measure {missing}", 1)
    metrics = {m["name"]: {"value": measured[m["name"]]["value"],
                           "unit": m["unit"]} for m in wanted}
    record = dict(result, host=health, peak_rss_mb=peak_rss_mb,
                  jvm_wall_s=jvm_wall_s,
                  workload=args.workload, seed=args.seed,
                  seconds=args.seconds)
    if args.trace:
        record["traced_vs_untraced_wall"] = traced_vs_untraced(
            root, args.workload, result["record"]["measure_s"])
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for msg in result.get("failures", []):
        print(f"perfbench: failed check: {msg}", file=sys.stderr)
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()

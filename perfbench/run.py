#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload registry|alerts|crawl --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (offline) and caches the runtime classpath in
.bench_build/; later runs start the driver JVM directly. Every run gets
a fresh root under .bench_build/runs/ for java.io.tmpdir, the Spark
warehouse, metastore and local dirs, and removes it afterwards.

The last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The traced run also writes its spans (name, start, end,
parent, operation id) to .bench_build/spans/<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("registry", "alerts", "crawl")
# Per-layer metrics (by name prefix) each workload must produce when
# traced; a covered metric the trace lacks makes the run incorrect.
COMMON = ("spark.", "hygiene.", "failed_frac", "traced.run_s")
COVERS = {
    "registry": COMMON + ("queries.", "streaming."),
    "alerts": COMMON + ("harness.",),
    "crawl": COMMON,
}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "src" / "main", ROOT / "src" / "test", BENCH / "src",
                 ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.rglob("*") if p.is_file()
                        and "target" not in p.parts)
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build once per source tree; return the driver's runtime classpath."""
    stamp = source_stamp()
    cache = BUILD / "classpath.json"
    if cache.exists():
        cached = json.loads(cache.read_text())
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = Path.home() / ".sbt" / "repositories"
        opts += " -Dsbt.offline=true"
        if repos.exists():
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    (BUILD / "sbt-tmp").mkdir(exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={BUILD / 'sbt-tmp'}".strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}", 3)
    cp = lines[-1].strip()
    if ":" not in cp or cp.startswith("["):
        fail(f"no classpath in build output, see {log}", 3)
    cache.write_text(json.dumps({"stamp": stamp, "classpath": cp}))
    return cp


def heap():
    """A fixed, pre-touched heap of half the host's memory, between 2 and
    4 GiB: a heap that grows on demand makes peak RSS follow the
    collector's sizing decisions more than the program's memory. So peak
    RSS sees the JVM's native memory only; the program's heap shows in
    live_heap_mb, which the driver JVM measures itself."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return f"{max(2, min(4, kb // (2 << 20)))}g"


def run_jvm(args, cp, run_root, spans):
    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "warehouse", "local", "metastore"):
        (run_root / d).mkdir(parents=True)
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={run_root / 'tmp'}",
        f"-Dspark.local.dir={run_root / 'local'}",
        f"-Dspark.sql.warehouse.dir={run_root / 'warehouse'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={run_root / 'tmp'}",
        f"-Dderby.system.home={run_root / 'metastore'}",
        f"-Djavax.jdo.option.ConnectionURL=jdbc:derby:;databaseName={run_root / 'metastore' / 'db'};create=true",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", str(BENCH / "inputs" / "sf0.1"),
        "--expected", str(BENCH / "expected"),
        "--root", str(run_root), "--spans", str(spans),
    ]
    if args.only:
        cmd += ["--only", args.only]
    if args.record:
        cmd += ["--record", str(Path(args.record).resolve())]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    errs = []
    drain = threading.Thread(target=lambda: errs.extend(proc.stderr), daemon=True)
    drain.start()
    timer = threading.Timer(args.timeout, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("GRAFTBENCH "):
                result = json.loads(line[len("GRAFTBENCH "):])
            else:
                sys.stderr.write(line)
        # rusage of the reaped child: its peak resident set, seen from outside
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        timer.cancel()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        drain.join(5)
    if result is None or proc.returncode != 0:
        sys.stderr.write("".join(errs[-40:]))
        fail(f"driver JVM exited with {proc.returncode} and no result", 4)
    return result, launched, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--only", help="registry: comma-separated queries instead of the panel")
    ap.add_argument("--record", help="registry: write observed fingerprints to this file")
    ap.add_argument("--timeout", type=float, default=RUN_TIMEOUT_S,
                    help="kill the driver JVM after this many seconds")
    args = ap.parse_args()
    # a terminated launcher still stops its JVM and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tuned = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if tuned:
        fail(f"refusing to run with engine tuning variables set: {', '.join(tuned)}")
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no engine sources beside the benchmark; run from a full checkout", 3)

    cp = classpath()
    runs = BUILD / "runs"
    run_root = runs / f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    spans = BUILD / "spans" / f"{args.workload}-{args.seed}.jsonl"
    try:
        r, launched, rss_mb = run_jvm(args, cp, run_root, spans)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    setup_s = (r["setup_end_ms"] / 1e3 - launched) - r["calib_s"]
    attempted, failed = int(r["attempted"]), int(r["failed"])
    correct = failed == 0
    print(f"calib_s start={r['calib_start']:.4f} end={r['calib_end']:.4f}; "
          f"rounds={r['rounds']} failed_frac={failed / attempted:.4f} "
          f"failures={r['failures']}")
    if args.trace:
        metrics, missing = per_layer(args.workload, r["layers"])
        if missing:
            print(f"perfbench: the traced run produced no {', '.join(missing)}",
                  file=sys.stderr)
            correct = False
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": r["run_s"], "unit": "s"},
            "query_p50_s": {"value": r["query_p50_s"], "unit": "s"},
            "query_p95_s": {"value": r["query_p95_s"], "unit": "s"},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
            "live_heap_mb": {"value": r["live_heap_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def per_layer(workload, layers):
    """Every per-layer metric BENCHMARK.json names, and those of them the
    workload covers (COVERS) but the traced run did not produce. A
    metric the workload does not cover is 0, as is a call-site file no
    job named; call sites outside the named files count as "other"."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    names = {m["name"] for m in spec}
    values = dict.fromkeys(names, 0.0)
    for k, v in layers.items():
        if k in names:
            values[k] += v
        elif k.startswith("callsite."):
            values["callsite.other.task_s"] += v
    missing = sorted(n for n in names if n not in layers
                     and not n.startswith("callsite.")
                     and n.startswith(COVERS[workload]))
    missing += [n for n in ("spark.jobs", "spark.tasks", "spark.actions")
                if n in layers and layers[n] <= 0]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    return metrics, missing


if __name__ == "__main__":
    main()

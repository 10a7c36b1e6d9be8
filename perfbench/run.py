#!/usr/bin/env python3
"""graft benchmark: build the harness, run one workload, check, report.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 15 --trace 0

The first run in a checkout compiles the graft library and the harness
with sbt (offline) and caches the runtime classpath under
perfbench/.build; later runs start the JVM directly. One JVM runs the
workload at local[<cores>] and prints its raw record; this script adds
the host-pressure record and the DuckDB oracle check of the dedup
outputs, then prints one JSON result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (a layer the workload does not run reports 0).
See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")

WORKLOADS = ("batch_build", "stream_publish")
HEAP = "4g"
GC = "ParallelGC"
RUN_LIMIT_S = 175      # a run must end within 180 s ...
BUILD_LIMIT_S = 880    # ... except the one that builds (900 s)

END_TO_END = [
    ("setup_s", "s"),
    ("op_cpu_s", "s"),
]

LAYERS = [
    "sources.verify", "extract", "link", "canon", "triples", "sources.publish",
    "streaming.ingest", "streaming.publish", "sources.read",
    "canon.cc", "ops.dedup_jaccard", "ops.dedup_minhash",
]
LAYER_FIGURES = [
    ("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("alloc_mb", "MB"),
    ("rows_out", "count"), ("jobs", "count"), ("shuffle_mb", "MB"),
    ("spill_mb", "MB"), ("task_skew", "ratio"),
]
LAYER_EXTRAS = [
    ("extract.mentions_per_file", "count"),
    ("link.hit_ratio", "ratio"),
    ("sources.publish.files_written", "count"),
    ("sources.publish.bytes_written", "bytes"),
    ("sources.publish.bytes_per_triple", "bytes"),
    ("streaming.publish.fallbacks", "count"),
    ("streaming.publish.bytes_written", "bytes"),
    ("streaming.publish.bytes_per_triple", "bytes"),
    ("sources.read.chain_depth", "count"),
    ("canon.cc.rounds", "count"),
    ("trace.layer_sum_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"),
]
PER_LAYER = [(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_FIGURES] + LAYER_EXTRAS

# the library sources the harness compiles against, and its own
SOURCES = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project", "build.properties"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(HERE, "build.sbt"),
    os.path.join(HERE, "project", "build.properties"),
    os.path.join(HERE, "src", "main"),
]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build


def source_digest():
    h = hashlib.sha256(HERE.encode())  # the cached classpath is absolute
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interruption, and always wait for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout:.0f}s: {cmd[0]}")
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def classpath(deadline):
    missing = [p for p in SOURCES if not os.path.exists(p)]
    if missing:
        fail("graft sources not found next to the benchmark: "
             + ", ".join(os.path.relpath(p, ROOT) for p in missing), 2)
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], False
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building graft and the harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_log = os.path.join(BUILD_DIR, "sbt.log")
    # keep sbt's scratch files (file watcher, server socket) in the checkout
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(sbt_log, "w") as lf:
        code, out = run_group(
            ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export perfbench/Runtime/fullClasspath"],
            deadline - time.monotonic(), cwd=HERE, env=env,
            stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL, text=True)
    lines = [l.strip() for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith(HERE):
        tail = "".join((out or "").splitlines(True)[-20:])
        fail(f"sbt build failed (exit {code}); see {sbt_log}\n{tail}")
    cp = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, True


# ---------------------------------------------------------------- host


def cpu_times():
    """Aggregate jiffies from /proc/stat: (steal, total)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return parse_cpu_line(fields)


def parse_cpu_line(fields):
    # cpu user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user, so the total stops at steal
    vals = [int(x) for x in fields[1:9]]
    vals += [0] * (8 - len(vals))
    return vals[7], sum(vals)


def steal_pct(t0, t1):
    if not t0 or not t1 or t1[1] <= t0[1]:
        return None
    return round(100.0 * (t1[0] - t0[0]) / (t1[1] - t0[1]), 3)


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- checks


def check_dedup(work):
    """Compare each dedup output written by the run with the library's
    DuckDB oracle over the same documents. Returns (checked, failed)."""
    odir = os.path.join(work, "oracle")
    names = [n for n in ("dedup_jaccard", "dedup_minhash")
             if os.path.isdir(os.path.join(odir, n))]
    if not names:
        return 0, 0
    import duckdb
    with open(os.path.join(odir, "queries.json")) as f:
        queries = json.load(f)
    con = duckdb.connect()
    docs = os.path.join(work, "graph", "documents")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    failed = 0
    for n in names:
        want = sorted(tuple(r) for r in con.execute(queries[n]).fetchall())
        got = sorted(tuple(r) for r in con.execute(
            f"SELECT d1, d2, jaccard FROM read_parquet('{odir}/{n}/*.parquet')").fetchall())
        if got != want:
            failed += 1
            log(f"{n}: {len(got)} pairs, oracle has {len(want)}; "
                f"first differences {sorted(set(got) ^ set(want))[:3]}")
        else:
            log(f"{n}: {len(got)} pairs, equal to the DuckDB oracle")
    return len(names), failed


# ---------------------------------------------------------------- main


def sweep_stale_work():
    if not os.path.isdir(WORK_DIR):
        return
    for name in os.listdir(WORK_DIR):
        pid = name.rsplit("-", 1)[-1]
        alive = pid.isdigit() and os.path.exists(f"/proc/{pid}")
        if not alive:
            shutil.rmtree(os.path.join(WORK_DIR, name), ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)

    t_start = time.monotonic()
    cp, built = classpath(t_start + BUILD_LIMIT_S)
    deadline = t_start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    sweep_stale_work()
    work = os.path.join(WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cores()
    host = {"nproc": n, "load1_start": load1(), "heap": HEAP, "gc": GC}
    cpu0 = cpu_times()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-XX:+Use{GC}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cores", str(n)]
    try:
        with open(os.path.join(work, "jvm.log"), "w") as lf:
            code, out = run_group(cmd, deadline - time.monotonic(), cwd=ROOT,
                                  stdout=subprocess.PIPE, stderr=lf,
                                  stdin=subprocess.DEVNULL, text=True)
        host["steal_pct"] = steal_pct(cpu0, cpu_times())
        rec_line = [l for l in (out or "").splitlines() if l.startswith("GRAFTBENCH ")]
        if code != 0 or not rec_line:
            with open(os.path.join(work, "jvm.log")) as lf:
                keep = [l for l in lf if "graftbench" in l or "Exception" in l or "Error" in l]
            fail(f"workload run failed (exit {code})\n" + "".join(keep[-30:]))
        rec = json.loads(rec_line[-1][len("GRAFTBENCH "):])
        attempted, failed = rec["attempted"], rec["failed"]
        checked, oracle_failed = check_dedup(work)
        failed += oracle_failed
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spec = PER_LAYER if a.trace else END_TO_END
    got = rec["metrics"]
    missing = [] if a.trace else [m for m, _ in spec if m not in got]
    if missing:
        fail(f"run reported no {', '.join(missing)}")
    metrics = {m: {"value": float(got.get(m, 0.0)), "unit": u} for m, u in spec}
    facts = dict(rec["facts"])
    facts["error_rate"] = failed / max(1, attempted)
    facts["oracle_checks"] = checked
    print("# host " + json.dumps(host, sort_keys=True))
    print("# facts " + json.dumps(facts, sort_keys=True))
    result = {"correct": failed == 0 and attempted >= 1, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

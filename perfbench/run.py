#!/usr/bin/env python3
"""Benchmark of record for the engine: the cold ski build and the
analytics mix, measured end to end and per layer from outside.

    python3 perfbench/run.py --workload ski_cold --seed 1 --seconds 30 --trace 0

Builds the engine from `src/main` plus the harness in `perfbench/jvm`
with the Scala compiler that ships in `$SPARK_HOME/jars`, runs the
workload in fresh JVMs (plain `java`, no sbt) until `--seconds` have
passed, checks every output against `golden.json`, and prints one JSON
result line last. `--trace 1` prints the per-layer metrics instead of
the end-to-end ones. See README.md beside this file.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import resource
import shutil
import sqlite3
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data"
GOLDEN = BENCH / "golden.json"
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"

WORKLOADS = ("ski_cold", "analytics_mix")
CPUS = len(os.sched_getaffinity(0))
JVM_HEAP = "3g"
JVM_LIMIT_S = 170

# without it every JVM writes a perf-data file to the system temp dir,
# outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

SKI_LAYERS = ("Formatters", "Normalization", "PipelineE2E", "Clustering",
              "Statistics", "OutputFormats", "GeoPackage", "MvtTiles")
ANALYTICS_LAYERS = ("RelationalQueries", "TextAnalysis", "Dedup",
                    "CorpusProfile", "Similarity", "Events", "AsofJoin")
UNITS = {"build_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count",
         "tasks": "count", "task_cpu_s": "s", "shuffle_mb": "MB",
         "spill_mb": "MB", "gc_s": "s", "batches": "count", "batch_s": "s"}
LAYER_METRICS = {
    **{layer: ("build_s", "plan_s", "exec_s", "jobs", "tasks", "task_cpu_s",
               "shuffle_mb", "spill_mb", "gc_s") for layer in SKI_LAYERS},
    **{layer: ("build_s", "exec_s", "task_cpu_s", "shuffle_mb")
       for layer in ANALYTICS_LAYERS},
    "TilesStreaming": ("exec_s", "batches", "batch_s", "jobs", "task_cpu_s",
                       "shuffle_mb"),
}
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "task_cpu_s": "s",
                    "output_bytes": "bytes"}
PER_LAYER_UNITS = {
    **{f"{layer}.{m}": UNITS[m]
       for layer, ms in LAYER_METRICS.items() for m in ms},
    "Scaffold.builds": "count", "Scaffold.bytes_written": "bytes",
    "unattributed_s": "s", "trace_overhead_s": "s", "traced_wall_s": "s",
    "peak_rss_mb": "MiB",
}


class BenchError(Exception):
    pass


# ---- build ----------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(os.path.realpath(shutil.which("spark-submit"))).parents[1])
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("no Spark installation: set SPARK_HOME")
    return Path(home) / "jars"


def engine_sources():
    main = ROOT / "src" / "main"
    if not main.is_dir():
        raise BenchError(f"no engine sources at {main}")
    return sorted(p for p in main.rglob("*") if p.is_file())


def source_sha(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(jars, out, sources):
    out.mkdir(parents=True)
    cmd = ["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", str(out)]
    proc = subprocess.run(cmd + [str(s) for s in sources],
                          capture_output=True, text=True)
    if proc.returncode != 0:
        raise BenchError("scalac failed:\n" + proc.stdout[-4000:] +
                         proc.stderr[-4000:])


def build(jars):
    """Compiled engine + harness classpath, rebuilt whenever a source
    changes (the build directory is keyed by the source digest)."""
    src = engine_sources()
    harness = sorted((BENCH / "jvm").glob("*.scala"))
    sha = source_sha(src + harness)
    out = BUILD / sha[:16]
    if not (out / "_ok").exists():
        if BUILD.exists():
            shutil.rmtree(BUILD)
        scalac(jars, out / "classes",
               [p for p in src if p.suffix == ".scala"] + harness)
        resources = ROOT / "src" / "main" / "resources"
        if resources.is_dir():
            shutil.copytree(resources, out / "classes", dirs_exist_ok=True)
        (out / "_ok").write_text(sha)
    return str(out / "classes"), sha


# ---- one fresh JVM --------------------------------------------------------

def run_jvm(jars, classpath, workload, seed, trace, work, extra=()):
    """Launch one harness JVM; returns (setup_s, result dict or None)."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", NO_PERF_DATA, *ADD_OPENS, f"-Xmx{JVM_HEAP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{jars}/*{os.pathsep}{classpath}", "perfbench.PerfBench",
           f"workload={workload}", f"data={DATA}", f"work={work}",
           f"seed={seed}", f"trace={trace}", f"cpus={CPUS}", *extra]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    setup_s = None
    with open(work / "jvm.log", "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        watchdog = threading.Timer(JVM_LIMIT_S, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.strip() == "@ready" and setup_s is None:
                    setup_s = time.perf_counter() - t0
            code = proc.wait()
        finally:
            watchdog.cancel()
            proc.kill()
            proc.wait()
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise BenchError(f"harness JVM exited {code}:\n{tail}")
    result = work / "result.json"
    return setup_s, (json.loads(result.read_text()) if result.exists() else None)


# ---- output digests -------------------------------------------------------

def canon(v):
    """Engine-independent value form: numbers rounded to 9 places and
    integral ones as ints (one engine's DECIMAL(38,0) is another's
    BIGINT), timestamps naive UTC, bytes hex, nested values recursed."""
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = round(float(v), 9) + 0.0
        if f != f or f in (float("inf"), float("-inf")):
            return str(f)
        return int(f) if f.is_integer() else f
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def rows_digest(columns, rows):
    """Order-insensitive digest of a result: sorted column names, and
    rows (values in that column order) sorted by their JSON form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([canon(r[i]) for i in order], sort_keys=True)
                   for r in rows)
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def arrow_digest(table):
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return rows_digest(cols, list(zip(*data)) if cols else [])


def parquet_digest(path):
    import pyarrow.parquet as pq
    return arrow_digest(pq.read_table(str(path)))


def sqlite_digest(path):
    """Digest over every table of a SQLite container (.gpkg/.mbtiles)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        h = hashlib.sha256()
        names = [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' ORDER BY name")]
        for name in names:
            cur = con.execute(f'SELECT * FROM "{name}"')
            cols = [d[0] for d in cur.description]
            h.update(f"{name}:{rows_digest(cols, cur.fetchall())}\n".encode())
        return h.hexdigest()
    finally:
        con.close()


def output_of(call, out):
    """Path of what a call wrote."""
    if call["name"] == "writeGpkgFile":
        return out / "ski.gpkg"
    if call["name"] == "writeMbtilesFile":
        return out / "ski.mbtiles"
    return out / call["name"]


def digest_of(path):
    return sqlite_digest(path) if path.suffix in (".gpkg", ".mbtiles") \
        else parquet_digest(path)


def check_calls(calls, out, golden):
    """(attempted, failed): a call fails when it threw, wrote nothing, or
    its output digest differs from the golden one."""
    failed = 0
    for c in calls:
        path = output_of(c, out)
        ok = c["error"] is None and path.exists()
        if ok:
            try:
                ok = digest_of(path) == golden.get(c["name"])
            except Exception as e:  # unreadable output counts as wrong
                print(f"perfbench: cannot read {path}: {e}", file=sys.stderr)
                ok = False
        if not ok:
            print(f"perfbench: {c['name']} failed its check", file=sys.stderr)
            failed += 1
    return len(calls), failed


def output_bytes(out):
    return sum(p.stat().st_size for p in out.rglob("*")
               if p.is_file() and not p.name.startswith("."))


# ---- metrics --------------------------------------------------------------

def self_times(spans):
    """Span id -> self time in seconds: its duration minus its
    children's durations."""
    own = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end_ns"] - s["start_ns"]
    return {k: v / 1e9 for k, v in own.items()}


def union_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(result):
    """Per-layer metrics of one traced JVM result. Layers the workload
    does not run report 0."""
    acc = {f"{layer}.{m}": 0.0 for layer, ms in LAYER_METRICS.items()
           for m in ms}
    listener = result["listener"]
    for call in result["calls"]:
        layer = call["layer"]
        ev = listener.get(str(call["id"]), {})
        values = {
            "build_s": call["build_ns"] / 1e9,
            "plan_s": ev.get("plan_ms", 0) / 1e3,
            "exec_s": union_ms(ev.get("job_spans_ms", [])) / 1e3,
            "jobs": ev.get("jobs", 0),
            "tasks": ev.get("tasks", 0),
            "task_cpu_s": ev.get("cpu_ns", 0) / 1e9,
            "shuffle_mb": ev.get("shuffle_bytes", 0) / 1e6,
            "spill_mb": ev.get("spill_bytes", 0) / 1e6,
            "gc_s": ev.get("gc_ms", 0) / 1e3,
        }
        for m in LAYER_METRICS.get(layer, ()):
            if m in values:
                acc[f"{layer}.{m}"] += values[m]
    batches = result["batch_ms"]
    if batches:
        acc["TilesStreaming.batches"] = len(batches)
        acc["TilesStreaming.batch_s"] = statistics.median(batches) / 1e3
    acc["Scaffold.builds"] = result["scaffold_builds"]
    acc["Scaffold.bytes_written"] = result["scaffold_bytes"]
    unit = next(s for s in result["spans"] if s["name"] == "unit")
    acc["unattributed_s"] = self_times(result["spans"])[unit["id"]]
    acc["trace_overhead_s"] = result["trace_ns"] / 1e9
    acc["traced_wall_s"] = result["wall_ns"] / 1e9
    acc["peak_rss_mb"] = result["vmhwm_kb"] / 1024
    return acc


def end_to_end_metrics(setup_s, result, out_bytes):
    return {"setup_s": setup_s, "wall_s": result["wall_ns"] / 1e9,
            "task_cpu_s": result["cpu_ns"] / 1e9, "output_bytes": out_bytes}


def medians(samples, units):
    return {k: {"value": statistics.median(s[k] for s in samples),
                "unit": units[k]} for k in units}


# ---- diagnostics ----------------------------------------------------------

def busy_seconds():
    """Machine-wide busy CPU seconds so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + (fields[4] if len(fields) > 4 else 0)
    return (sum(fields[:8]) - idle) / os.sysconf("SC_CLK_TCK")


def children_cpu():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- one benchmark run ----------------------------------------------------

def run(args):
    jars = spark_jars()
    classpath, sha = build(jars)
    golden = json.loads(GOLDEN.read_text())["digests"]
    WORK.mkdir(exist_ok=True)
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "commit": commit(), "source_sha": sha, "nproc": CPUS,
            "loadavg_start": os.getloadavg()[0]}
    t0, busy0, cpu0 = time.perf_counter(), busy_seconds(), children_cpu()
    samples, attempted, failed, orders = [], 0, 0, []
    while not samples or time.perf_counter() - t0 < args.seconds:
        work = WORK / f"{args.workload}-{os.getpid()}-{len(samples)}"
        shutil.rmtree(work, ignore_errors=True)
        try:
            setup_s, result = run_jvm(jars, classpath, args.workload,
                                      args.seed, args.trace, work)
            if setup_s is None or result is None:
                raise BenchError("harness JVM ended without a result")
            n, bad = check_calls(result["calls"], work / "out", golden)
            attempted, failed = attempted + n, failed + bad
            orders.append([c["name"] for c in result["calls"]])
            samples.append(layer_metrics(result) if args.trace else
                           end_to_end_metrics(setup_s, result,
                                              output_bytes(work / "out")))
            if args.keep:
                Path(args.keep).mkdir(parents=True, exist_ok=True)
                shutil.copy(work / "result.json",
                            Path(args.keep) / f"{work.name}.json")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    wall = time.perf_counter() - t0
    diag["jvms"] = len(samples)
    diag["call_order"] = orders[0]
    diag["external_busy_cores"] = round(
        (busy_seconds() - busy0 - (children_cpu() - cpu0)) / wall, 3)
    print(json.dumps({"diagnostics": diag}))
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": medians(samples, units)}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy each JVM's raw result.json "
                    "(calls, listener totals, spans) into this directory")
    args = ap.parse_args(argv)
    try:
        run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Tenant read-path benchmark: one workload, one seed, one result line.

    python3 readbench/run.py --workload point_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine sources
together with the benchmark program (sbt, offline); later runs reuse the
build while the sources are unchanged. The program then builds the tenant
layout from the sf0.1 `events` table, boots the HTTP proxy, Avatica JSON,
Avatica protobuf and Thrift wires on one Spark context, drives the
workload's closed-loop clients for --seconds, completes each client's check
set untimed if the phase stopped short of it, checks every answer against
the raw rows and exits.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. The line before it is the run record (conf,
layout shape, load, per-class numbers). See readbench/README.md.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "readbench.stamp")
EVENTS_DIR = os.environ.get("READBENCH_EVENTS_DIR", os.path.expanduser("~/testdata/sf0.1"))
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170
KNOWN_DEFECT = "known defect: "  # Truth.KnownDefect
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"readbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build; a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if not f.endswith(".class")]
    for f in sorted(files):
        if "/target/" in f:
            continue
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the install the `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to readbench/")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""
        env["SBT_OPTS"] = (opts + extra + " -Dsbt.offline=true").strip()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def load_record():
    """(loadavg-1m, java processes) -- the contention markers."""
    try:
        load = os.getloadavg()[0]
    except OSError:
        load = -1.0
    jvms = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    jvms += fh.read().strip() == "java"
            except OSError:
                pass
    return {"loadavg": load, "java_processes": jvms}


def run_program(plan_path, out_path, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # Hive session state (the Thrift wire) and Spark put temporary files
        # under java.io.tmpdir; keep them in the run's own directory
        f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "readbench.Main", plan_path, out_path]
    launched = time.time()
    with open(os.path.join(work, "program.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("program timed out")
    if code != 0 or not os.path.exists(out_path):
        with open(os.path.join(work, "program.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"program exited {code}:\n{tail}")
    return launched


def is_contended(markers, cpus):
    """A run is contended when, at either end, a foreign JVM was running (the
    benchmark's own JVM is not alive at those points) or the 1-minute load
    average exceeded the core count."""
    return any(m["loadavg"] > cpus or m["java_processes"] > 0 for m in markers)


def unexplained(execs, check_len):
    """Failures a correct run cannot have: a wrong answer not explained by a
    named program defect, anywhere, and any failure of a statement beyond the
    check set, which `failed` does not count. Rows bent by a named defect
    still count as failed inside the check set."""
    def named(e):
        return e["outcome"] == "wrong" and (e["detail"] or "").startswith(KNOWN_DEFECT)
    return sum(1 for e in execs if e["outcome"] in gen.FAILED_OUTCOMES and not named(e)
               and (e["outcome"] == "wrong" or e["seq"] >= check_len))


def window_stats(execs):
    """End-to-end numbers of one closed-loop phase. Rates are per second of
    client time (each closed-loop client is busy for the whole phase), which
    counts the statement in flight at the deadline whole instead of cutting
    it off at the window edge."""
    _, _, by = gen.tally(execs)
    done = gen.completed(execs)
    clients = len({e["client"] for e in execs}) or 1
    busy_s = sum(e["ms"] for e in execs) / 1000.0 / clients
    lats = [e["ms"] for e in done]
    return {
        "outcomes": by, "completed": len(done),
        "latency_p50_ms": gen.median(lats),
        "latency_p95_ms": gen.tail_percentile(lats, 0.95),
        "throughput_qps": len(done) / busy_s if busy_s else 0.0,
        "rows_per_s": sum(e["rows"] for e in done) / busy_s if busy_s else 0.0,
    }


def per_class(execs):
    out = {}
    for cls in sorted({e["cls"] for e in execs}):
        es = [e for e in execs if e["cls"] == cls]
        att, failed, by = gen.tally(es)
        lats = [e["ms"] for e in gen.completed(es)]
        out[cls] = {"attempted": att, "failed": failed, "outcomes": by,
                    "p50_ms": gen.median(lats), "rows_median": gen.median([e["rows"] for e in es]),
                    "failures": sorted({e["detail"] for e in es if e["detail"]})[:3]}
    return out


LAYER_NAMES = [
    "frontend.build_ms", "core.assemble_ms", "core.nearline_windows_kept",
    "core.nearline_windows_pruned", "core.overlap_rows_cut", "engine.analyze_ms",
    "engine.optimize_ms", "engine.plan_ms", "engine.execute_ms", "engine.jobs_per_statement",
    "engine.tasks_per_statement", "sources.listing_ms", "sources.partitions_read.parquet",
    "sources.partitions_read.json", "sources.files_read.parquet", "sources.files_read.json",
    "sources.files_read.nearline", "sources.bytes_read", "sources.rows_scanned", "sources.scan_ms",
    "sources.rows_scanned_per_row_returned",
]
LAYER_OF = {"frontend.build": "frontend", "engine.analyze": "engine", "engine.prepare": "engine",
            "engine.optimize": "engine", "engine.plan": "engine", "engine.execute": "engine"}


def self_times(spans):
    """Per statement: (root wall ns, {layer: self ns}). A span's self time is
    its duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        if s[1] == 0 and s[3] == "statement.inproc":
            layers = {}
            stack = list(kids.get(s[0], []))
            while stack:
                c = stack.pop()
                covered = union_ns([(k[4], k[5]) for k in kids.get(c[0], [])], c[4], c[5])
                layer = LAYER_OF.get(c[3], "other")
                layers[layer] = layers.get(layer, 0) + (c[5] - c[4]) - covered
                stack += kids.get(c[0], [])
            out[s[2]] = (s[5] - s[4], layers)
    return out


def union_ns(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def traced_metrics(res, timed):
    """Per-layer medians over the decomposed sample, the per-class self-time
    table, and the tracing overhead read off the timed phase, in which every
    second statement of each client ran traced."""
    t = res["traced"]
    samples = t["samples"]
    layers = {n: gen.median([s["layers"][n] for s in samples]) for n in LAYER_NAMES}
    for w in gen.WIRES:
        overheads = [s["wire_ms"][w] - s["layers"]["inproc_ms"] for s in samples
                     if s["wire_ms"].get(w) is not None and s["wire_ms"][w] == s["wire_ms"][w]]
        layers[f"frontend.wire_overhead_ms.{w}"] = gen.median(overheads)
    done = gen.completed(timed)
    layers["frontend.frames_per_statement"] = gen.median([e["frames"] for e in done])
    layers["frontend.waiting_statements_max"] = res["pool_waiting_max"]
    st = self_times(t["spans"])
    classes = {}
    for s in samples:
        wall, ls = st[s["id"]]
        c = classes.setdefault(s["cls"], {"n": 0, "wall": [], "sum": [], "layers": {}})
        c["n"] += 1
        c["wall"].append(wall / 1e6)
        c["sum"].append(sum(v for k, v in ls.items() if k != "other") / 1e6)
        for k, v in ls.items():
            c["layers"].setdefault(k, []).append(v / 1e6)
    by_class = {}
    for cls, c in classes.items():
        wall, ssum = gen.median(c["wall"]), gen.median(c["sum"])
        by_class[cls] = {
            "samples": c["n"], "inproc_wall_ms": wall, "layer_self_sum_ms": ssum,
            "self_sum_within_10pct": abs(ssum - wall) <= 0.10 * wall,
            "self_ms": {k: gen.median(v) for k, v in c["layers"].items()},
            "medians": {n: gen.median([s["layers"][n] for s in samples if s["cls"] == cls])
                        for n in LAYER_NAMES + ["rows_returned", "inproc_ms"]},
        }
    traced = gen.median([e["ms"] for e in done if e["traced"]])
    untraced = gen.median([e["ms"] for e in done if not e["traced"]])
    overhead = {"untraced_latency_p50_ms": untraced, "traced_latency_p50_ms": traced,
                "ratio": traced / untraced if traced and untraced else None}
    return layers, by_class, overhead


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(EVENTS_DIR, "events.parquet")):
        fail(f"{EVENTS_DIR}/events.parquet not found (set READBENCH_EVENTS_DIR)")
    start_load = load_record()
    build()
    # one run's files at a time: the previous run's are removed here, not at
    # its end, so its layout's writeback has drained by now (and its raw
    # records stay readable until the next run)
    if os.path.isdir(WORK):
        for d in os.listdir(WORK):
            if d.startswith("run-"):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cpus = os.cpu_count() or 4
    plan = gen.plan(args.workload, args.seed, args.seconds, args.trace, EVENTS_DIR, work, cpus)
    plan_path, out_path = os.path.join(work, "plan.json"), os.path.join(work, "out.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    launched = run_program(plan_path, out_path, work)
    with open(out_path) as fh:
        res = json.load(fh)
    end_load = load_record()

    execs = res["execs"]
    timed = [e for e in execs if e["timed"]]
    stats = window_stats(timed)
    attempted, failed, checked_by = gen.tally(gen.check_set(execs, plan["check_len"]))
    writes = [a["ms"] for a in res["appends"]]
    e2e = {
        "setup_s": res["timed_start_epoch_ms"] / 1000.0 - launched,
        "latency_p50_ms": stats["latency_p50_ms"],
        "latency_p95_ms": stats["latency_p95_ms"],
        "throughput_qps": stats["throughput_qps"],
        "rows_per_s": stats["rows_per_s"],
        "failed_frac": failed / attempted,
        "heap_mb": res["heap_mb"],
        "write_p50_ms": gen.median(writes) if writes else None,
    }
    contended = is_contended([start_load, end_load], cpus)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cpus, "conf": res["conf"], "layout": res["shape"],
        "load": {"start": start_load, "end": end_load, "contended": contended},
        "end_to_end": e2e, "units": UNITS, "outcomes": stats["outcomes"],
        "check_set": {"per_client": plan["check_len"], "attempted": attempted, "failed": failed,
                      "outcomes": checked_by, "sent_untimed": len(execs) - len(timed)},
        "per_class": per_class(timed),
        "warmup": {"statements": res["warmup_statements"], "errors": res["warmup_errors"]},
        "program_steps_s": res["steps_s"],
    }
    if args.trace:
        layers, by_class, overhead = traced_metrics(res, timed)
        record.update(per_layer=layers, per_layer_by_class=by_class, trace_overhead=overhead)
        metrics = {k: {"value": v, "unit": LAYER_UNITS.get(k, "ms")} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items() if k in REPORTED}
    bad = unexplained(execs, plan["check_len"])
    record["unexplained_failures"] = bad
    with open(os.path.join(work, "record.json"), "w") as fh:
        json.dump(record, fh)
    print(json.dumps(record))
    print(json.dumps({"correct": bad == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p95_ms": "ms", "throughput_qps": "1/s",
         "rows_per_s": "rows/s", "failed_frac": "ratio", "heap_mb": "MB", "write_p50_ms": "ms"}
# The result line carries the metrics every run of every workload in
# BENCHMARK.json has. The run record above it prints all eight, null where
# a run cannot report one: latency_p95_ms needs >= 10 samples beyond it
# (>= 200 statements), write_p50_ms exists only where a writer runs
# (ingest_read), and failed_frac is the result's failed / attempted over the
# check set.
REPORTED = ["setup_s", "latency_p50_ms", "throughput_qps", "rows_per_s", "heap_mb"]
LAYER_UNITS = {
    "frontend.frames_per_statement": "count", "frontend.waiting_statements_max": "count",
    "core.nearline_windows_kept": "count", "core.nearline_windows_pruned": "count",
    "core.overlap_rows_cut": "rows", "engine.jobs_per_statement": "count",
    "engine.tasks_per_statement": "count", "sources.partitions_read.parquet": "count",
    "sources.partitions_read.json": "count", "sources.files_read.parquet": "count",
    "sources.files_read.json": "count", "sources.files_read.nearline": "count",
    "sources.bytes_read": "bytes", "sources.rows_scanned": "rows",
    "sources.rows_scanned_per_row_returned": "ratio",
}

if __name__ == "__main__":
    main()

"""Seeded workload generator and the metric helpers of the read-path benchmark.

The generator is the only place the seed is used: it turns (workload, seed)
into a plan -- the layout spec, one statement stream per client and the
writer schedule -- and the program receives nothing else. The layout itself
does not depend on the seed; statements do.

Why each workload exists, and which numbers it is meant to move (the full
table is in README.md):

- point_lookup: build work dominates (parse, gate, substitution, the
  per-statement listing and footer schema) plus Catalyst planning. It should
  move frontend.build_ms, core.assemble_ms, engine.*_ms planning phases and
  sources.listing_ms; scan bytes and encoding barely register.
- range_scan: scanning partitions and bytes, recombining, exploding nearline
  items, the cutoff, the sort and result encoding. A build cache should leave
  it flat; archive pruning (sources.partitions_read.*) and encoding changes
  (frontend.wire_overhead_ms.*) should show.
- ingest_read: the point_lookup build path while files change underneath; a
  cache serving stale listings fails its read-after-append check, a cache that
  re-lists shows its cost in write_p50_ms and latency.
"""
import datetime
import math
import random
import statistics

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
QUANTUM_MS = 900_000  # layout timestamps are 15-minute buckets

# Stored events run 2024-01-01 .. 2024-01-30.
T0 = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1000)
DAYS = 30


def day(i):
    """ISO date of day i (1-based) of the stored range."""
    return (datetime.date(2024, 1, 1) + datetime.timedelta(days=i - 1)).isoformat()


def day_ms(i):
    return T0 + (i - 1) * DAY_MS


PARQUET_DAYS = list(range(1, 21))
JSON_DAYS = list(range(21, 28))
# Two nearline windows with a one-day gap (day 26, served by json only).
# json reaches into both, so days 24, 25 and 27 exist twice.
WINDOWS = [(day_ms(24), day_ms(26)), (day_ms(27), day_ms(31))]
# The heavy tenant replicates every event HEAVY_K times (ids shifted by 1e6
# per replica). Chosen once so that a 7-day aggregate over it takes about
# 1 s at local[4]; see README.md for the measurement.
HEAVY_K = 4

LIGHT_ORGS = ["acme", "globex", "initech"]
LIGHT_METRICS = [
    ("m_clicks", "clicks", ["click", "view"]),
    ("m_sales", "sales", ["purchase", "signup"]),
    ("m_errors", "errors", ["error"]),
]
HEAVY_ORG = "umbrella"
HEAVY_METRIC = ("m_stream", "stream", ["click", "error", "purchase", "signup", "view"])

# (org, metric name) in hot-to-cold order; point lookups visit them in Zipf
# proportions, so the first tables form a hot set and the rest a cold tail.
LIGHT_TABLES = [(o, m[1]) for m in LIGHT_METRICS for o in LIGHT_ORGS]
ZIPF_S = 1.2

WIRES = ["http", "avatica_json", "avatica_proto", "thrift"]
WRITER = {"org": "acme", "metric": "clicks", "interval_ms": 500, "rows": 20,
          "first_ts": day_ms(DAYS + 2)}

WORKLOADS = {
    # clients (wire per client) and the fixed class rotation each follows;
    # the rotation keeps class proportions identical across seeds
    "point_lookup": {"wires": WIRES, "classes": ["point", "window"]},
    "range_scan": {"wires": ["avatica_proto", "thrift"], "classes": ["agg1d", "export", "agg7d"]},
    "ingest_read": {"wires": ["http", "avatica_json"], "classes": ["point", "latest"]},
}
STREAM_LEN = 1000  # statements per client stream; a run never exhausts it
# The check set: the first CHECK_LEN statements of every client's stream.
# `attempted` and `failed` count it, and a client that has not reached its
# end when the timed phase stops sends the rest untimed, so the counts depend
# on the statements alone, not on how many fit in the phase. Each is a whole
# number of class x stratum rotations (2 x 3, 3 x 3) and is normally reached
# well inside the timed phase.
CHECK_LEN = {"point_lookup": 36, "range_scan": 27, "ingest_read": 24}
EXPORT_HOURS = 3


def layout():
    tenants = [{"org": o, "user_mod": i, "metrics": [
        {"id": mid, "name": name, "types": types, "radio": False}
        for mid, name, types in LIGHT_METRICS]} for i, o in enumerate(LIGHT_ORGS)]
    mid, name, types = HEAVY_METRIC
    tenants.append({"org": HEAVY_ORG, "user_mod": -1, "metrics": [
        {"id": mid, "name": name, "types": types, "radio": True}]})
    return {
        "quantum_ms": QUANTUM_MS,
        "user_mods": len(LIGHT_ORGS),
        "parquet_days": [day(d) for d in PARQUET_DAYS],
        "json_days": [day(d) for d in JSON_DAYS],
        "windows": [list(w) for w in WINDOWS],
        "heavy_k": HEAVY_K,
        "tenants": tenants,
    }


def zipf_cycle(n, length=40, s=ZIPF_S):
    """Table indices in Zipf proportions (largest remainder), interleaved:
    one cycle of the skewed schedule every client follows from a seeded
    offset, so every seed sends the same hot/cold mix."""
    w = [1.0 / (i + 1) ** s for i in range(n)]
    exact = [length * x / sum(w) for x in w]
    counts = [int(e) for e in exact]
    for i in sorted(range(n), key=lambda i: counts[i] - exact[i])[:length - sum(counts)]:
        counts[i] += 1
    # spread each table's turns evenly over the cycle
    slots = sorted((k / c, i) for i, c in enumerate(counts) for k in range(c))
    return [i for _, i in slots]


TABLE_CYCLE = zipf_cycle(len(LIGHT_TABLES))


def statement(sid, cls, org, metric, lo, hi, kind, sql):
    return {"id": sid, "cls": cls, "org": org, "metric": metric,
            "lo": lo, "hi": hi, "kind": kind, "sql": sql}


# Which sources serve a day: statements cycle through these strata in a
# fixed order and the seed picks the day inside each, so every seed sends the
# same mix of parquet-, json- and nearline-served statements (their costs
# differ by 2x) and runs stay comparable across seeds.
STRATA = {
    "parquet": PARQUET_DAYS,
    "json": [d for d in JSON_DAYS if not any(day_ms(d) < b and day_ms(d + 1) > a for a, b in WINDOWS)],
    "nearline": [d for d in range(1, DAYS + 1) if any(day_ms(d) < b and day_ms(d + 1) > a for a, b in WINDOWS)],
}
STRATUM_CYCLE = ["parquet", "json", "nearline"]
# 7-day spans start in: parquet only, parquet into json, json into nearline
SPAN7_CYCLE = [range(1, 14), range(14, 21), range(21, DAYS - 5)]


def stratum_day(rng, j):
    return rng.choice(STRATA[STRATUM_CYCLE[j % len(STRATUM_CYCLE)]])


def bucket(rng, d):
    """A random bucket start within day d."""
    return day_ms(d) + rng.randrange(DAY_MS // QUANTUM_MS) * QUANTUM_MS


def point(sid, cls, org, metric, t):
    """A point lookup (`=`) or a one-minute window around one bucket.
    Tenants filter only on `timestamp`; no `date` predicate is ever added."""
    if cls == "window":
        lo, hi = t - 30_000, t + 30_000
        return statement(sid, cls, org, metric, lo, hi - 1, "rows",
                         f"SELECT `timestamp`, etype, amount, uid, eid FROM {metric} "
                         f"WHERE `timestamp` >= {lo} AND `timestamp` < {hi}")
    return statement(sid, cls, org, metric, t, t, "rows",
                     f"SELECT * FROM {metric} WHERE `timestamp` = {t}")


def agg(sid, cls, lo, days):
    hi = lo + days * DAY_MS
    return statement(sid, cls, HEAVY_ORG, HEAVY_METRIC[1], lo, hi - 1, "agg",
                     f"SELECT etype, count(*) AS n, sum(amount) AS total FROM {HEAVY_METRIC[1]} "
                     f"WHERE `timestamp` >= {lo} AND `timestamp` < {hi} GROUP BY etype")


def export(sid, lo):
    hi = lo + EXPORT_HOURS * HOUR_MS
    return statement(sid, "export", HEAVY_ORG, HEAVY_METRIC[1], lo, hi - 1, "export",
                     f"SELECT * FROM {HEAVY_METRIC[1]} "
                     f"WHERE `timestamp` >= {lo} AND `timestamp` < {hi} ORDER BY `timestamp`")


def make_statement(workload, cls, rng, sid, seconds, j, offset):
    """Statement j of class `cls` on one client."""
    if workload == "point_lookup":
        org, metric = LIGHT_TABLES[TABLE_CYCLE[(offset + j) % len(TABLE_CYCLE)]]
        return point(sid, cls, org, metric, bucket(rng, stratum_day(rng, j)))
    if workload == "range_scan":
        if cls == "agg1d":
            return agg(sid, cls, day_ms(stratum_day(rng, j)), 1)
        if cls == "agg7d":
            return agg(sid, cls, day_ms(rng.choice(SPAN7_CYCLE[j % len(SPAN7_CYCLE)])), 7)
        start = day_ms(stratum_day(rng, j)) + rng.randrange(24 - EXPORT_HOURS + 1) * HOUR_MS
        return export(sid, start)
    # ingest_read: half the point lookups hit minutes the writer appends
    org, metric = WRITER["org"], WRITER["metric"]
    if cls == "latest":
        lo = day_ms(DAYS)
        return statement(sid, cls, org, metric, lo, 2**62, "rows",
                         f"SELECT * FROM {metric} WHERE `timestamp` >= {lo}")
    if j % 2:
        batches = max(1, int(seconds * 1000 // WRITER["interval_ms"]))
        t = WRITER["first_ts"] + rng.randrange(batches) * QUANTUM_MS
    else:
        t = bucket(rng, stratum_day(rng, j // 2))
    return point(sid, "point", org, metric, t)


def streams(workload, rng, seconds, prefix, length):
    spec = WORKLOADS[workload]
    out = []
    for c, wire in enumerate(spec["wires"]):
        classes = spec["classes"]
        offset = rng.randrange(len(TABLE_CYCLE))
        stmts = [make_statement(workload, classes[(i + c) % len(classes)], rng,
                                f"{prefix}{c}-{i}", seconds, i // len(classes), offset)
                 for i in range(length)]
        out.append({"name": f"{prefix}{c}", "wire": wire, "statements": stmts})
    return out


def warmup_streams(workload, rng, seconds):
    """Warm-up touches every table a client will read (so every wire
    connection and tenant session exists before timing) and every class."""
    ws = streams(workload, rng, seconds, "w", 64)
    if workload == "point_lookup":
        for w in ws:
            firsts = [point(f"{w['name']}-t{i}", "point", org, metric, bucket(rng, stratum_day(rng, i)))
                      for i, (org, metric) in enumerate(LIGHT_TABLES)]
            w["statements"] = firsts + w["statements"]
    return ws


def plan(workload, seed, seconds, trace, events_dir, work_dir, cpus):
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; known: {sorted(WORKLOADS)}")
    rng = random.Random(f"{workload}:{seed}")
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "warmup_seconds": WARMUP_SECONDS[workload],
        "trace": bool(trace),
        "events_dir": events_dir,
        "work_dir": work_dir,
        "cpus": cpus,
        "max_rows": MAX_ROWS,
        "frame_rows": FRAME_ROWS,
        "tenant_clamp": TENANT_CLAMP,
        "check_len": CHECK_LEN[workload],
        "layout": layout(),
        "clients": streams(workload, rng, seconds, "c", STREAM_LEN),
        "warmup": warmup_streams(workload, rng, seconds),
        "writer": WRITER if workload == "ingest_read" else None,
    }


# Deployment settings the benchmark fixes and records.
MAX_ROWS = 100_000     # server row clamp on every wire
FRAME_ROWS = 1_000     # Avatica fetch frame / JDBC fetch size
TENANT_CLAMP = 2       # concurrent statements per tenant on the HTTP wires
WARMUP_SECONDS = {"point_lookup": 8.0, "range_scan": 10.0, "ingest_read": 8.0}


# ---------------------------------------------------------------- metrics

def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    k = max(0, math.ceil(p * len(s)) - 1)
    return s[min(k, len(s) - 1)]


def tail_percentile(values, p, min_beyond=10):
    """The p-th percentile, or None unless at least `min_beyond` samples lie
    beyond it -- a tail read from fewer samples is not a measurement."""
    if not values:
        return None
    v = percentile(values, p)
    beyond = sum(1 for x in values if x > v)
    return v if beyond >= min_beyond else None


def median(values):
    return statistics.median(values) if values else None


FAILED_OUTCOMES = ("error", "refused", "wrong")


def completed(execs):
    """Statements whose reply arrived whole (right or wrong rows): the
    population latency, throughput and row rate are measured over. Errors
    and refusals never complete."""
    return [e for e in execs if e["outcome"] in ("ok", "wrong")]


def check_set(execs, check_len):
    """The statements `attempted` and `failed` count (see CHECK_LEN)."""
    return [e for e in execs if e["seq"] < check_len]


def tally(execs):
    """(attempted, failed, by_outcome): every statement sent counts as
    attempted; errors, refusals and wrong rows all count as failed."""
    by = {}
    for e in execs:
        by[e["outcome"]] = by.get(e["outcome"], 0) + 1
    failed = sum(by.get(o, 0) for o in FAILED_OUTCOMES)
    return len(execs), failed, by

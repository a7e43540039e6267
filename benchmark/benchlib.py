"""Pure parts of the benchmark: workloads, query order, statistics, span
arithmetic, call-site attribution, the output digest and the metrics
computed from one run record. Nothing here starts a process or reads the
checkout, so `test_benchlib.py` covers it without Spark."""

import datetime
import decimal
import hashlib
import math
import random
import re
import struct

# Each workload: the tier its data comes from, the sink its outputs go to,
# and its queries (`SparkEntry.queries` names).
WORKLOADS = {
    "reference_batch": {
        "tier": "sf0.1",
        "sink": "parquet",
        "queries": [
            "p2_p8_clean_events", "j1_spatial_join", "t6_backfill_plan",
            "j5_merge_update", "a4_decade_stats",
        ],
    },
    "curation_seams": {
        "tier": "sf0.1",
        "sink": "noop",
        "queries": ["dd2_minhash_lsh", "dd7_dedup_clusters", "sim4_knn_graph"],
    },
    "scale_sf1": {
        "tier": "sf1",
        "sink": "noop",
        "queries": [
            "dd4_ngram_jaccard", "dd14_containment_pairs", "dq4_fd_audit",
            "rc2_profile_drift", "g13_pagerank_residuals", "tx23_surprisal",
            "q1_pricing_summary", "j1_spatial_join", "p2_p8_clean_events",
        ],
    },
}

# Row counts of the base tier, the repository's sf0.1 test data (TESTDATA.md).
BASE_ROWS = {
    "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
    "part": 20000, "orders": 150000, "lineitem": 600000, "events": 100000,
    "documents": 5000, "embeddings": 2000,
}
# The sf1 tier is graft.GenScale at this factor; it copies the fixed
# catalogs once.
SCALE = 10
CATALOGS = ("region", "nation")


def tier_rows(tier):
    if tier == "sf0.1":
        return dict(BASE_ROWS)
    return {t: n if t in CATALOGS else n * SCALE for t, n in BASE_ROWS.items()}


def pass_orders(queries, seed, passes):
    """The query order of each pass. One generator seeded with the run's seed
    shuffles the sorted query list anew for every pass."""
    rnd = random.Random(seed)
    base = sorted(queries)
    return [rnd.sample(base, len(base)) for _ in range(passes)]


# ---- statistics -----------------------------------------------------------

def quantile(xs, q):
    """Linear interpolation between closest ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def percentile_supported(n, q, beyond=10):
    """A percentile is reported only when at least `beyond` samples lie
    above it."""
    return round(n * (1 - q), 9) >= beyond


# ---- spans ----------------------------------------------------------------

def union(intervals):
    """Merged, sorted [start, end) intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def covered(window, intervals):
    """Length of `window` covered by any of `intervals`."""
    lo, hi = window
    return sum(max(0, min(b, hi) - max(a, lo)) for a, b in union(intervals))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


_SITE = re.compile(r"\bat ([A-Za-z0-9_$]+)\.scala:\d+")


def program_sites(jobs):
    """Call site of each job id. Jobs that adaptive execution submits from
    its own threads carry a thread-pool call site; they take the Scala call
    site of another job of the same SQL execution."""
    by_exec = {}
    for j in jobs:
        if j.get("execution") and _SITE.search(j["site"]):
            by_exec.setdefault(j["execution"], j["site"])
    return {j["id"]: j["site"] if _SITE.search(j["site"])
            else by_exec.get(j.get("execution"), j["site"]) for j in jobs}


def module_of(site):
    """Program module a Spark job belongs to, from its call site (Spark's
    stage name, e.g. "parquet at Tables.scala:17")."""
    m = _SITE.search(site or "")
    f = m.group(1) if m else ""
    if f == "Tables":
        return "tables"
    if f in ("Materialize", "Bridge"):
        return "materialize"
    return "other"


# ---- output digest --------------------------------------------------------
# Same canonical forms as repobench.Digest (Scala), which digests Spark's
# outputs; this side digests DuckDB's.

_EPOCH = datetime.datetime(1970, 1, 1)


def canonical(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b" + ("true" if v else "false")
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        bits = struct.unpack(">q", struct.pack(">d", 0.0 if v == 0 else v))[0]
        return "f%x" % (bits & 0xFFFFFFFFFFFFFFFF)
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "d0"
        s = format(v.normalize(), "f")
        return "d" + s
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D%d" % (v - _EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "r(" + ",".join(canonical(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "a[" + ",".join(canonical(x) for x in v) + "]"
    raise TypeError("no canonical form for %r" % type(v))


def row_hash(names, row):
    s = "\x1f".join(n + "=" + canonical(v)
                    for n, v in sorted(zip(names, row), key=lambda p: p[0]))
    return struct.unpack(">Q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]


def digest(names, rows):
    """(row count, digest hex) of rows in any order."""
    n, total = 0, 0
    for r in rows:
        n += 1
        total = (total + row_hash(names, r)) & 0xFFFFFFFFFFFFFFFF
    return n, "%016x" % total


def check_outputs(expected, observed):
    """Failures of the output check, one "<query>: <reason>" each."""
    fails = []
    for name in sorted(observed):
        got = observed[name]
        want = expected.get(name)
        if "error" in got:
            fails.append("%s: %s" % (name, got["error"]))
        elif want is None:
            fails.append("%s: no expected output recorded" % name)
        elif (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
            fails.append("%s: got %d rows digest %s, expected %d rows digest %s"
                         % (name, got["rows"], got["digest"],
                            want["rows"], want["digest"]))
    return fails


# ---- metrics from one run record ------------------------------------------

PER_LAYER_UNITS = {
    "construct.s": "s", "construct.jobs": "count", "construct.self_s": "s",
    "tables.jobs": "count", "tables.job_s": "s",
    "scan.bytes": "bytes", "scan.rows": "count",
    "materialize.jobs": "count", "materialize.job_s": "s",
    "materialize.held_bytes": "bytes", "release.s": "s",
    "plan.s": "s", "execute.s": "s", "execute.jobs": "count",
    "stages": "count", "stages.single_task": "count", "tasks": "count",
    "task.s": "s", "core_busy.frac": "ratio", "no_task.s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes", "gc.s": "s", "sink.bytes": "bytes",
    "sink.files": "count", "traced_batch_s": "s",
    "phase_gap.max_frac": "ratio",
}


def samples(record):
    return [q for p in record["passes"] for q in p["queries"]]


def end_to_end(record):
    """The untraced run's end-to-end metrics (query_p90_s only where the
    samples support it)."""
    walls = [q["wall_s"] for q in samples(record)]
    m = {
        "batch_s": median([p["wall_s"] for p in record["passes"]]),
        "query_p50_s": median(walls),
        "setup_s": record["setup_s"],
        "peak_rss_mb": record["vm_hwm_kb"] / 1024.0,
    }
    if percentile_supported(len(walls), 0.9):
        m["query_p90_s"] = quantile(walls, 0.9)
    return m


def phase_windows(q):
    """The phases of one sample as [start, end) in epoch milliseconds."""
    s = q["start_ms"]
    c = s + 1000 * q["construct_s"]
    a = c + 1000 * q["action_s"]
    plan = min(a, c + 1000 * q.get("plan_s", 0.0))
    r = s + 1000 * q["release_at_s"]
    return {
        "construct": (s, c), "plan": (c, plan), "execute": (plan, a),
        "release": (r, r + 1000 * q["release_s"]),
    }


def attach_plans(record):
    """Gives each sample the planning time of the query executions that
    started inside its action."""
    plans = sorted(record.get("plans", []), key=lambda p: p["start_ms"])
    for q in samples(record):
        w = phase_windows(q)
        lo, hi = w["plan"][0] - 1, w["execute"][1] + 1
        q["plan_s"] = min(q["action_s"], sum(
            p["plan_s"] for p in plans if lo <= p["start_ms"] <= hi))


def spans(record):
    """The traced run's span tree: each sample is a root span with its
    phases as children; each job is a child of the phase it started in.
    Returns a list of dicts with id, parent, name, start_ms, end_ms."""
    out = []
    jobs = sorted(record.get("jobs", []), key=lambda j: j["start_ms"])
    for q in samples(record):
        qid = len(out)
        out.append({"id": qid, "parent": None, "name": q["name"],
                    "start_ms": q["start_ms"],
                    "end_ms": q["start_ms"] + 1000 * q["wall_s"]})
        for phase, (a, b) in phase_windows(q).items():
            pid = len(out)
            out.append({"id": pid, "parent": qid, "name": phase,
                        "start_ms": a, "end_ms": b})
            for j in jobs:
                # a job starting on a boundary millisecond belongs to the
                # later phase, the one whose call launched it
                if a <= j["start_ms"] < b:
                    out.append({"id": len(out), "parent": pid,
                                "name": "job %d: %s" % (j["id"], j["site"]),
                                "job": j["id"], "start_ms": j["start_ms"],
                                "end_ms": j["end_ms"]})
    return out


def per_layer(record, cores):
    """The traced run's per-layer metrics: per-pass totals, then the median
    over passes."""
    attach_plans(record)
    tree = spans(record)
    jobs = {j["id"]: j for j in record.get("jobs", [])}
    sites = program_sites(record.get("jobs", []))
    tasks = [tuple(t) for t in record.get("tasks", [])]
    kids = {}
    for s in tree:
        kids.setdefault(s["parent"], []).append(s)

    def window(s):
        return (s["start_ms"], s["end_ms"])

    per_pass = []
    roots = iter(kids[None])
    for p in record["passes"]:
        t = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        gap = 0.0
        for q in p["queries"]:
            root = next(roots)
            phases = {s["name"]: s for s in kids.get(root["id"], [])}
            t["construct.s"] += q["construct_s"]
            t["plan.s"] += q["plan_s"]
            t["execute.s"] += q["action_s"] - q["plan_s"]
            t["release.s"] += q["release_s"]
            t["materialize.held_bytes"] += q["held_bytes"]
            t["sink.bytes"] += q.get("sink_bytes", 0)
            t["sink.files"] += q.get("sink_files", 0)
            t["no_task.s"] += (q["wall_s"] * 1000
                               - covered(window(root), tasks)) / 1000
            accounted = (q["construct_s"] + q["action_s"] + q["release_s"])
            gap = max(gap, abs(q["wall_s"] - accounted) / q["wall_s"])
            c = phases["construct"]
            c_jobs = kids.get(c["id"], [])
            t["construct.jobs"] += len(c_jobs)
            t["construct.self_s"] += self_time(
                window(c), [window(j) for j in c_jobs]) / 1000
            for ph in ("plan", "execute"):
                t["execute.jobs"] += len(kids.get(phases[ph]["id"], []))
            for ph in phases.values():
                for js in kids.get(ph["id"], []):
                    j = jobs[js["job"]]
                    mod = module_of(sites[j["id"]])
                    dur = (j["end_ms"] - j["start_ms"]) / 1000
                    if mod in ("tables", "materialize"):
                        t[mod + ".jobs"] += 1
                        t[mod + ".job_s"] += dur
                    t["scan.bytes"] += j["scan_bytes"]
                    t["scan.rows"] += j["scan_rows"]
                    t["stages"] += j["stages"]
                    t["stages.single_task"] += j["single_task_stages"]
                    t["tasks"] += j["tasks"]
                    t["task.s"] += j["task_s"]
                    t["shuffle.write_bytes"] += j["shuffle_write"]
                    t["shuffle.read_bytes"] += j["shuffle_read"]
                    t["spill.bytes"] += j["spill"]
        t["core_busy.frac"] = t["task.s"] / (p["wall_s"] * cores)
        t["gc.s"] = p["gc_s"]
        t["traced_batch_s"] = p["wall_s"]
        t["phase_gap.max_frac"] = gap
        per_pass.append(t)
    return {k: median([t[k] for t in per_pass]) for k in per_pass[0]}, tree

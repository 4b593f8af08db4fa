"""Turns one run's raw samples (the JSON file the Scala harness writes)
into the benchmark's metrics. Kept apart from run.py so the helpers can be
tested on known inputs (perfbench/tests)."""

import json

WRITE_ROUTES = ("scrape", "backfill")
STATS_ROUTES = ("series_stats", "tier_stats", "tag_stats", "rate_stats", "avail_stats")


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between the two
    closest ranks; None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def is_write(op):
    return op["route"] in WRITE_ROUTES


def setup_s(r):
    return r["session_s"] + r["bulk_load_s"] + r["refresh_tiers_s"] + r["serve_s"]


def wall_s(r):
    return (r["measure_end"] - r["measure_start"]) / 1e3


def counts(r):
    """(attempted, failed) over the measured operations plus the run's
    end-of-run checks."""
    ops = r["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + len(r["check_errors"])
    return len(ops) + len(r["check_errors"]), failed


def end_to_end(r):
    """The metrics BENCHMARK.json bounds, as {name: (value, unit)}. The
    primary requests are reads on `dashboard` and POSTs on `ingest`."""
    ops = [o for o in r["ops"] if o["ok"]]
    reads = [o["ms"] for o in ops if not is_write(o)]
    writes = [o["ms"] for o in ops if is_write(o)]
    if r["workload"] == "ingest":
        primary, per_s = writes, sum(o["points"] for o in ops if is_write(o)) / wall_s(r)
    else:
        primary, per_s = reads, len(reads) / wall_s(r)
    return {
        "setup_s": (setup_s(r), "s"),
        "p50_ms": (median(primary), "ms"),
        "p95_ms": (percentile(primary, 95), "ms"),
        "throughput_per_s": (per_s, "1/s"),
        "read_p50_ms": (median(reads), "ms"),
        "raw_bytes_per_point": (r["raw_bytes"] / r["store_points"], "B"),
    }


def details(r):
    """Every named end-to-end figure that applies to the workload, with
    sample counts, as {name: (value, unit)}."""
    ops = [o for o in r["ops"] if o["ok"]]
    reads = [o for o in ops if not is_write(o)]
    writes = [o for o in ops if is_write(o)]
    out = {"setup_s": (setup_s(r), "s"), "bulk_load_s": (r["bulk_load_s"], "s"),
           "refresh_tiers_s": (r["refresh_tiers_s"], "s")}
    for route in ("raw_fetch",) + STATS_ROUTES:
        ms = [o["ms"] for o in reads if o["route"] == route]
        if ms:
            out[route + "_p50_ms"] = (median(ms), "ms")
            out[route + "_n"] = (len(ms), "count")
    out["read_p95_ms"] = (percentile([o["ms"] for o in reads], 95), "ms")
    out["reads_n"] = (len(reads), "count")
    out["reads_per_s"] = (len(reads) / wall_s(r), "1/s")
    if reads:
        out["repeat_share"] = (sum(1 for o in reads if o["repeat"]) / len(reads), "ratio")
    if r["workload"] == "ingest":
        out["write_p50_ms"] = (median([o["ms"] for o in writes]), "ms")
        out["write_p95_ms"] = (percentile([o["ms"] for o in writes], 95), "ms")
        out["writes_n"] = (len(writes), "count")
        out["ingest_points_per_s"] = (sum(o["points"] for o in writes) / wall_s(r), "1/s")
        out["maint_s"] = (sum(m["end"] - m["start"] for m in r["maint"]) / 1e3, "s")
        out["maint_cycles"] = (len(r["maint"]), "count")
    out["store_bytes_per_point"] = (r["store_bytes"] / r["store_points"], "B")
    out["raw_bytes_per_point"] = (r["raw_bytes"] / r["store_points"], "B")
    out["rss_peak_mb"] = (r["rss_peak_mb"], "MB")
    out["heap_retained_mb"] = (r["heap_retained_mb"], "MB")
    attempted, failed = counts(r)
    out["ops_attempted"] = (attempted, "count")
    out["ops_failed"] = (failed, "count")
    return out


PER_LAYER = {
    "api.route_ms": "ms", "api.encode_ms": "ms", "api.transport_ms": "ms",
    "api.ingest_frame_ms": "ms", "api.response_bytes": "B",
    "api.service.fs_ops_per_req": "count", "api.service.tier_hit_ratio": "ratio",
    "api.op_unattributed_frac": "ratio",
    "tagquery.resolve_ms": "ms", "tagquery.ids_matched_ratio": "ratio",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.exec_ms": "ms", "spark.busy_frac": "ratio",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_wait_ms": "ms", "spark.files_read_per_op": "count",
    "spark.bytes_read_per_op": "B", "spark.shuffle_bytes_per_op": "B",
    "storage.bulk_load_s": "s", "storage.refresh_tiers_s": "s", "storage.write_ms": "ms",
    "storage.files_written_per_batch": "count", "storage.bytes_written_per_point": "B",
    "storage.files_per_partition": "count", "storage.compact_s": "s",
    "storage.bytes_rewritten_per_cycle": "B",
    "storage.read_p95_during_maint_ms": "ms", "storage.read_p95_outside_maint_ms": "ms",
    "jvm.gc_ms": "ms", "trace.read_http_p50_ms": "ms",
}


def per_layer(r):
    """Per-layer metrics of a traced run, as {name: (value, unit)}. A layer
    that does no work in the workload reads 0."""
    spans = r["spans"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    ops = {s["op"]: s for s in spans if s["name"] == "op"}
    extra = {s["op"]: s["attrs"] for s in spans if s["name"] == "op.extra"}
    client = set(ops)
    read_ops = [s for s in ops.values() if s["attrs"]["route"] not in WRITE_ROUTES]
    write_ops = [s for s in ops.values() if s["attrs"]["route"] in WRITE_ROUTES]
    sp = r["spark"]
    jobs = [j for j in sp["jobs"] if j["op"] in client]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append((j["start"], j["end"]))
    plans = [p for p in sp["plans"] if p["op"] in client]
    c = sp["counts"]
    n = max(1, len(ops))

    def child(s, name):
        return [x for x in by_parent.get(s["id"], []) if x["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    route_r = [x for o in read_ops for x in child(o, "api.route")]
    encode = [x for o in read_ops for x in child(o, "api.encode")]
    route_w = [x for o in write_ops for x in child(o, "api.route")]
    adds = [x for o in route_w for x in child(o, "storage.add_points")]
    unattributed = [self_time(o, by_parent.get(o["id"], [])) / dur(o) for o in read_ops if dur(o) > 0]
    stats = [extra[o["op"]] for o in read_ops
             if o["attrs"]["route"] in STATS_ROUTES and "tier" in extra.get(o["op"], {})]
    tags = [extra[o["op"]] for o in read_ops if "resolve_ms" in extra.get(o["op"], {})]
    http = [extra[o["op"]]["http_ms"] for o in read_ops if "http_ms" in extra.get(o["op"], {})]
    transport = [x["http_ms"] - x["replay_ms"] for x in (extra.get(o["op"], {}) for o in read_ops)
                 if "http_ms" in x]
    written = [s["attrs"] for s in spans if s["name"] == "storage.written"]
    acked = sum(o["points"] for o in r["ops"] if o["ok"] and is_write(o))
    maint = r["maint"]

    def overlaps_maint(o):
        return any(o["start"] < m["end"] and m["start"] < o["end"] for m in maint)

    reads_ok = [o for o in r["ops"] if o["ok"] and not is_write(o)]
    during = [o["ms"] for o in reads_ok if overlaps_maint(o)]
    outside = [o["ms"] for o in reads_ok if not overlaps_maint(o)]

    def phase(name):
        return sum(p.get(name + "_ms", 0.0) for p in plans) / n

    v = {
        "api.route_ms": mean(dur(s) for s in route_r),
        "api.encode_ms": mean(dur(s) - union_ms(jobs_of.get(s["op"], []), s["start"], s["end"])
                              for s in encode),
        "api.transport_ms": median(transport) or 0.0,
        "api.ingest_frame_ms": mean(self_time(s, child(s, "storage.add_points")) for s in route_w),
        "api.response_bytes": mean(s["attrs"].get("bytes", 0) for s in encode),
        "api.service.fs_ops_per_req": mean(s["attrs"].get("fs_ops", 0) for s in route_r),
        "api.service.tier_hit_ratio": mean(1.0 if x["tier"] else 0.0 for x in stats),
        "api.op_unattributed_frac": mean(unattributed),
        "tagquery.resolve_ms": mean(x["resolve_ms"] for x in tags),
        "tagquery.ids_matched_ratio": (sum(x["matched"] for x in tags) / sum(x["scanned"] for x in tags)
                                       if tags else 0.0),
        "spark.analysis_ms": phase("analysis"),
        "spark.optimization_ms": phase("optimization"),
        "spark.planning_ms": phase("planning"),
        "spark.exec_ms": mean(union_ms(jobs_of.get(o["op"], []), o["start"], o["end"])
                              for o in ops.values()),
        "spark.busy_frac": c.get("executor_run_ms", 0.0) / (wall_s(r) * 1e3 * r["cores"]),
        "spark.jobs_per_op": len(jobs) / n,
        "spark.stages_per_op": sum(j["stages"] for j in jobs) / n,
        "spark.tasks_per_op": c.get("tasks", 0.0) / n,
        "spark.task_wait_ms": c.get("task_wait_ms", 0.0) / max(1.0, c.get("tasks", 0.0)),
        "spark.files_read_per_op": sum(p.get("files_read", 0.0) for p in plans) / n,
        "spark.bytes_read_per_op": c.get("bytes_read", 0.0) / n,
        "spark.shuffle_bytes_per_op": c.get("shuffle_bytes", 0.0) / n,
        "storage.bulk_load_s": r["bulk_load_s"],
        "storage.refresh_tiers_s": r["refresh_tiers_s"],
        "storage.write_ms": mean(dur(s) for s in adds),
        "storage.files_written_per_batch": mean(w["files"] for w in written),
        "storage.bytes_written_per_point": sum(w["bytes"] for w in written) / max(1, acked),
        "storage.files_per_partition": r["files_per_partition"],
        "storage.compact_s": median([m["compact_s"] for m in maint]) or 0.0,
        "storage.bytes_rewritten_per_cycle": mean(m["rewritten_bytes"] for m in maint),
        "storage.read_p95_during_maint_ms": percentile(during, 95) or 0.0,
        "storage.read_p95_outside_maint_ms": percentile(outside, 95) or 0.0,
        "jvm.gc_ms": r["gc_ms"],
        "trace.read_http_p50_ms": median(http) or 0.0,
    }
    return {k: (v[k], unit) for k, unit in PER_LAYER.items()}


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last output line. json.dumps escapes every string."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })

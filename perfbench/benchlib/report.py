"""Metrics from one run's measurements (the JVM's run.json and spans).

END_TO_END and PER_LAYER name every metric the benchmark reports, with its
unit; BENCHMARK.json lists the same names and units (a test keeps the two
in step). End-to-end metrics come from the untraced timed region, per-layer
metrics from the traced one. Per-layer figures with a "/op" unit are totals
over the traced region divided by the operations it ran.
"""
import math
import statistics

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
}

KERNELS = ["minhash_sig", "simhash64", "char_shingles", "winnow_stats",
           "cdc_chunks", "dot", "argmin_l2"]
BUILDS = {"warmSharedIndex": "shared_index", "warmVecs": "vecs",
          "warmGram3": "gram3", "warmPhashIndex": "phash_index",
          "warmBpe": "bpe", "warmStaging": "staging"}

PER_LAYER = {
    "setup.session_ms": "ms",
    "setup.graft_init_ms": "ms",
    "plan.analysis_ms": "ms/op",
    "plan.optimization_ms": "ms/op",
    "plan.planning_ms": "ms/op",
    "sched.jobs": "1/op",
    "sched.stages": "1/op",
    "sched.tasks": "1/op",
    "exec.overhead_ms": "ms/op",
    "exec.task_ms": "ms/op",
    "exec.cpu_ms": "ms/op",
    "exec.gc_ms": "ms/op",
    "exec.spill_mb": "MB/op",
    "exchange.shuffle_read_mb": "MB/op",
    "exchange.shuffle_write_mb": "MB/op",
    **{f"functions.{k}.ns_per_row": "ns/row" for k in KERNELS},
    **{f"opcache.build_ms.{b}": "ms" for b in BUILDS.values()},
    "opcache.storage_mb": "MB",
    "opcache.cached_rdds": "count",
    "connector.scans": "1/op",
    "connector.retries": "1/op",
    "connector.rows_read": "rows/op",
    "connector.cache_hits": "1/op",
    "connector.cache_misses": "1/op",
    "connector.cache_hit_ratio": "ratio",
    "connector.cache_weight_rows": "rows",
    "connector.api_wait_ms": "ms/op",
    "connector.scan_ns_per_row": "ns/row",
    "stream.batches": "1/op",
    "stream.trigger_ms": "ms/op",
    "stream.add_batch_ms": "ms/op",
    "stream.planning_ms": "ms/op",
    "stream.offset_ms": "ms/op",
    "stream.commit_ms": "ms/op",
    "stream.state_rows": "rows/op",
    "stream.state_commit_ms": "ms/op",
    "trace.overhead_pct": "%",
    "trace.child_coverage_pct": "%",
    "trace.child_coverage_min_pct": "%",
}

MB = float(1 << 20)


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 3e-14:
            break
    return h


def _betai(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def percentile(values, q):
    """Harrell-Davis quantile estimate: a Beta-weighted mean of all order
    statistics. With the few dozen samples of one run it moves far less
    between runs than the single order statistic a plain percentile picks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [_betai(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def ok_latencies(region, bad_ops):
    """Latencies of the region's operations that neither threw nor failed
    the output check; failures are left out of latency statistics."""
    return [o["ms"] for o in region["ops"]
            if o["error"] is None and o["id"] not in bad_ops]


def end_to_end(run, bad_ops):
    region = run["regions"][0]
    lat = ok_latencies(region, bad_ops)
    wall_s = region["wall_ms"] / 1000.0
    return {
        "setup_s": statistics.median(s["total_ms"] for s in run["setups"]) / 1000.0,
        "op_p50_ms": percentile(lat, 0.5),
        "op_p90_ms": percentile(lat, 0.9),
        "ops_per_s": len(lat) / wall_s,
    }


def workload_summary(run, workload, bad_ops, attempted, failed):
    """The workload-specific end-to-end figures, by their user-facing names
    (printed and recorded; the gated set is END_TO_END)."""
    region = run["regions"][0]
    lat = ok_latencies(region, bad_ops)
    wall_s = region["wall_ms"] / 1000.0
    out = {
        "setup_s": (statistics.median(s["total_ms"] for s in run["setups"]) / 1000.0, "s"),
        "setup_cold_s": (run["setups"][0]["total_ms"] / 1000.0, "s"),
        "failed_ops_frac": (failed / attempted if attempted else 0.0, "ratio"),
        "storage_mb": (region["storage_bytes"] / MB, "MB"),
    }
    if workload == "interactive":
        out["query_p50_ms"] = (percentile(lat, 0.5), "ms")
        out["query_p90_ms"] = (percentile(lat, 0.9), "ms")
        out["queries_per_s"] = (len(lat) / wall_s, "1/s")
    elif workload == "curation_batch":
        units = region["units"]
        for tag in ("cold", "warm"):
            ms = sum(s["ms"] for s in region["segments"] if s["tag"] == tag)
            out[f"{tag}_pass_s"] = (ms / 1000.0 / units, "s")
        for o in region["ops"]:
            if o["segment"] == "cold" and o["id"] in BUILDS:
                out[f"cold.{o['id']}_ms"] = (o["ms"], "ms")
    elif workload == "stream_replay":
        out["replay_p50_ms"] = (percentile(lat, 0.5), "ms")
        out["replay_p90_ms"] = (percentile(lat, 0.9), "ms")
        out["events_per_s"] = (region["stream_input_rows"] / wall_s, "1/s")
    out["samples"] = (len(lat), "count")
    return out


def _union_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, lo_cur, hi_cur = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if hi_cur is None or lo > hi_cur:
            if hi_cur is not None:
                total += hi_cur - lo_cur
            lo_cur, hi_cur = lo, hi
        else:
            hi_cur = max(hi_cur, hi)
    if hi_cur is not None:
        total += hi_cur - lo_cur
    return total


def child_coverage(spans):
    """Share (%) of operation wall time that child spans cover: over all
    operations, for the least covered one, and for each operation's least
    covered run (by operation id). The children counted are the
    DataFrame build and what Spark's listeners reported (SQL executions,
    planning phases, jobs, stages, micro-batches); the "execute" span is
    left out, since it covers the rest of the operation by construction."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    wall = covered = 0.0
    by_op = {}
    for s in spans:
        if not s["name"].startswith("op "):
            continue
        dur = s["end_ms"] - s["start_ms"]
        if dur <= 0:
            continue
        c = _union_ms((max(k["start_ms"], s["start_ms"]), min(k["end_ms"], s["end_ms"]))
                      for k in kids.get(s["id"], []) if k["name"] != "execute")
        wall += dur
        covered += c
        name = s["name"][3:]
        by_op[name] = min(by_op.get(name, 100.0), 100.0 * c / dur)
    return (100.0 * covered / wall if wall else 0.0), min(by_op.values(), default=100.0), by_op


def per_layer(run, spans, cpus, bad_ops):
    """Traced runs hold three regions: untraced, traced, untraced."""
    untraced, traced, after = run["regions"]
    n = max(1, len(traced["ops"]))
    L, C = traced["listener"], traced["connector"]
    op_ms = sum(o["ms"] for o in traced["ops"])
    probes = run["probes"]
    m = {
        "setup.session_ms": statistics.median(s["session_ms"] for s in run["setups"]),
        "setup.graft_init_ms": statistics.median(s["graft_init_ms"] for s in run["setups"]),
        "plan.analysis_ms": L["analysis_ms"] / n,
        "plan.optimization_ms": L["optimization_ms"] / n,
        "plan.planning_ms": L["planning_ms"] / n,
        "sched.jobs": L["jobs"] / n,
        "sched.stages": L["stages"] / n,
        "sched.tasks": L["tasks"] / n,
        "exec.overhead_ms": (op_ms - L["task_run_ms"] / cpus) / n,
        "exec.task_ms": L["task_run_ms"] / n,
        "exec.cpu_ms": L["task_cpu_ns"] / 1e6 / n,
        "exec.gc_ms": L["task_gc_ms"] / n,
        "exec.spill_mb": L["spill_bytes"] / MB / n,
        "exchange.shuffle_read_mb": L["shuffle_read_bytes"] / MB / n,
        "exchange.shuffle_write_mb": L["shuffle_write_bytes"] / MB / n,
        "opcache.storage_mb": traced["storage_bytes"] / MB,
        "opcache.cached_rdds": traced["cached_rdds"],
        "connector.scans": C["scans"] / n,
        "connector.retries": C["retries"] / n,
        "connector.rows_read": L["connector_rows"] / n,
        "connector.cache_hits": C["cache_hits"] / n,
        "connector.cache_misses": C["cache_misses"] / n,
        "connector.cache_hit_ratio":
            C["cache_hits"] / max(1, C["cache_hits"] + C["cache_misses"]),
        "connector.cache_weight_rows": traced["cache_weight_rows"],
        "connector.api_wait_ms": C["api_wait_ns"] / 1e6 / n,
        "connector.scan_ns_per_row": probes["connector_scan_ns_per_row"],
        "stream.batches": L["batches"] / n,
        "stream.trigger_ms": L["trigger_ms"] / n,
        "stream.add_batch_ms": L["add_batch_ms"] / n,
        "stream.planning_ms": L["query_planning_ms"] / n,
        "stream.offset_ms": L["offset_ms"] / n,
        "stream.commit_ms": L["commit_ms"] / n,
        "stream.state_rows": L["state_rows"] / n,
        "stream.state_commit_ms": L["state_commit_ms"] / n,
    }
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = probes["kernels_ns_per_row"][k]
    for fn, short in BUILDS.items():
        timed = [o["ms"] for o in traced["ops"] if o["id"] == fn]
        setup = [s["builds_ms"].get(fn, 0.0) for s in run["setups"]]
        m[f"opcache.build_ms.{short}"] = (statistics.median(timed) if timed
                                          else max(setup) if setup else 0.0)
    base = statistics.mean(ok_latencies(untraced, bad_ops) + ok_latencies(after, bad_ops)
                           or [0.0])
    with_trace = statistics.mean(ok_latencies(traced, bad_ops) or [0.0])
    m["trace.overhead_pct"] = 100.0 * (with_trace - base) / base if base else 0.0
    m["trace.child_coverage_pct"], m["trace.child_coverage_min_pct"], _ = child_coverage(spans)
    return m


def metric_block(values, units):
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}

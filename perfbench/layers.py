"""Per-layer metrics from a traced run's spans, Spark jobs and query
executions.

A span's layer is its name up to the first dot. Self time is a span's
duration minus the time its child spans cover. Jobs and query
executions are attributed to the operation open when they started; the
closed loop has one client, so operations never overlap in time.
Only traced rounds count.
"""
import bisect
import statistics

LAYERS = ["ops", "sources", "plans", "text", "queries", "util", "bench"]
PLAN_KINDS = ["read", "insert", "update", "delete", "merge", "refresh"]
# scan_join's queries (the list `ScanJoin.scala` runs) and the tables
# each reads, for rows scanned
SCAN_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "q9_product_profit": ["part", "lineitem", "supplier", "orders", "nation"],
    "q18_volume_customer": ["lineitem", "orders", "customer"],
    "w5_range_window": ["events"],
    "s3_keyset_scan": ["events"],
}
SCAN_QUERIES = list(SCAN_TABLES)

# name -> unit; every traced run prints all of them (0 where a layer
# does not occur in the workload). Counts, bytes and times that add up
# over a run are given per operation ("/op"), so a faster engine that
# fits more operations into the run does not read as more work.
PER_LAYER = {
    "ops.cdc.batch_ms": "ms", "ops.cdc.loop_self_ms": "ms",
    "ops.cdc.jobs_per_batch": "count",
    "sources.append_ms": "ms", "sources.commit_ms": "ms",
    "sources.bytes_written": "bytes/op", "sources.files_written": "count/op",
    "sources.manifest_bytes": "bytes/op", "sources.write_amp": "ratio",
    **{f"plans.{k}_ms": "ms" for k in PLAN_KINDS},
    "plans.mv_served_ratio": "ratio",
    "text.ingest_ms": "ms", "text.cluster_ms": "ms",
    "text.pairs_verified": "count", "text.probe_exchanges": "count",
    **{f"queries.{q}_ms": "ms" for q in SCAN_QUERIES},
    "driver.analysis_ms": "ms/op", "driver.optimization_ms": "ms/op",
    "driver.planning_ms": "ms/op", "driver.gap_ms": "ms/op",
    "scheduling.jobs_per_op": "count/op", "scheduling.stages_per_op": "count/op",
    "scheduling.tasks_per_op": "count/op",
    "compute.run_ms": "ms/op", "compute.cpu_ms": "ms/op",
    "compute.gc_ms": "ms/op", "compute.core_util": "ratio",
    "movement.input_bytes": "bytes/op",
    "movement.shuffle_read_bytes": "bytes/op",
    "movement.shuffle_write_bytes": "bytes/op",
    "movement.output_bytes": "bytes/op",
    **{f"{layer}.self_ms": "ms/op" for layer in LAYERS},
    **{f"{layer}.self_share": "ratio" for layer in LAYERS},
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}

# the share of traced wall time that no span may leave uncovered
ACCOUNTING_TOLERANCE = 0.02


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _union(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _overlap(intervals, union):
    """Total length of `intervals` (disjoint) covered by `union`."""
    starts = [u[0] for u in union]
    total = 0
    for s, e in intervals:
        i = max(bisect.bisect_right(starts, s) - 1, 0)
        while i < len(union) and union[i][0] < e:
            total += max(0, min(e, union[i][1]) - max(s, union[i][0]))
            i += 1
    return total


def _subtract(span, children):
    """Intervals of [s, e) not covered by the (disjoint) children."""
    s, e = span
    out, cur = [], s
    for cs, ce in sorted(children):
        if cs > cur:
            out.append((cur, min(cs, e)))
        cur = max(cur, ce)
    if cur < e:
        out.append((cur, e))
    return out


def per_layer(res, facts, cores):
    """Per-layer metrics of the traced rounds, and the layer accounting:
    the self times of all spans must cover the traced wall time (round
    time minus paused bookkeeping) up to `ACCOUNTING_TOLERANCE`; what
    they leave uncovered is the residual."""
    tr = res["trace"]
    ms = 1e6
    traced = [r for r in res["rounds"] if r["traced"]]
    rounds = [(r["start"], r["end"]) for r in traced]
    traced_dur = [r["end"] - r["start"] - r["paused"] for r in traced]
    # the first round runs coldest and is never traced: the overhead
    # compares traced rounds with the later untraced ones
    untraced = [r["end"] - r["start"] - r["paused"]
                for r in res["rounds"] if not r["traced"] and r["index"] > 0]
    wall = sum(traced_dur)
    ops_sorted = sorted((o for o in res["ops"] if o["traced"]),
                        key=lambda o: o["start"])
    op_starts = [o["start"] for o in ops_sorted]
    n_ops = len(ops_sorted)
    # whole-phase totals (file-system deltas) are per operation of the
    # whole timed phase
    n_all = max(sum(1 for o in res["ops"] if o["ok"]), 1)

    def per_op(total):
        return total / n_ops if n_ops else 0.0

    def op_of(t):
        i = bisect.bisect_right(op_starts, t) - 1
        if i >= 0 and t <= ops_sorted[i]["end"]:
            return i
        return None

    def in_rounds(t):
        return any(s <= t <= e for s, e in rounds)

    spans = {s[0]: {"parent": s[1], "name": s[2], "start": s[3], "end": s[4],
                    "kids": []} for s in tr["spans"]}
    for sid, s in spans.items():
        if s["parent"] in spans:
            spans[s["parent"]]["kids"].append(sid)
    jobs = [j for j in tr["jobs"] if in_rounds(j["start"]) and j["end"] >= 0]
    job_union = _union([(j["start"], j["end"]) for j in jobs])
    job_union = [[max(s, rs), min(e, re)] for s, e in job_union
                 for rs, re in rounds if s < re and e > rs]

    self_ns = {layer: 0 for layer in LAYERS}
    self_job_ns = {layer: 0 for layer in LAYERS}
    by_name = {}
    for s in spans.values():
        kids = [(spans[k]["start"], spans[k]["end"]) for k in s["kids"]]
        own = _subtract((s["start"], s["end"]), kids)
        layer = s["name"].split(".")[0]
        own_len = sum(e - b for b, e in own)
        self_ns[layer] = self_ns.get(layer, 0) + own_len
        self_job_ns[layer] = self_job_ns.get(layer, 0) + _overlap(own, job_union)
        by_name.setdefault(s["name"], []).append(s)
        s["self"] = own_len

    gap = wall - sum(e - s for s, e in job_union)
    residual = wall - sum(self_ns.values())

    jobs_per_op = {}
    for j in jobs:
        i = op_of(j["start"])
        if i is not None:
            jobs_per_op[i] = jobs_per_op.get(i, 0) + 1
    qes = [q for q in tr["qes"] if in_rounds(q["at"])]

    def dur_p50(name):
        return _p50([(s["end"] - s["start"]) / ms for s in by_name.get(name, [])])

    def op_p50(pred):
        return _p50([(o["end"] - o["start"]) / ms for o in ops_sorted if pred(o)])

    batches = [i for i, o in enumerate(ops_sorted) if o["kind"] == "batch"]
    probe_ex = []
    for s in by_name.get("text.ingest", []):
        probe_ex.append(sum(q["exchanges"] for q in qes
                            if s["start"] <= q["at"] <= s["end"]
                            and "checkpoint" in q["func"].lower()))
    served = [v for k, v in res["notes"].items() if k.isdigit()]
    pair_counts = [int(v) for k, v in res["notes"].items() if k.startswith("pairs:")]
    cpu_ms = sum(j["cpu_ns"] for j in jobs) / ms

    def job_sum(key):
        return per_op(sum(j[key] for j in jobs))

    m = {
        "ops.cdc.batch_ms": op_p50(lambda o: o["kind"] == "batch"),
        "ops.cdc.loop_self_ms": _p50([s["self"] / ms for s in by_name.get("ops.cdc.batch", [])]),
        "ops.cdc.jobs_per_batch": (sum(jobs_per_op.get(i, 0) for i in batches) / len(batches)
                                   if batches else 0.0),
        "sources.append_ms": dur_p50("sources.append"),
        "sources.commit_ms": dur_p50("sources.commit"),
        "sources.bytes_written": res["bytes_written"] / n_all,
        "sources.files_written": res["files_written"] / n_all,
        "sources.manifest_bytes": res["manifest_bytes"] / n_all,
        "sources.write_amp": facts.get("write_amp", 0.0),
        "plans.mv_served_ratio": (sum(1 for v in served if v == "served") / len(served)
                                  if served else 0.0),
        "text.ingest_ms": dur_p50("text.ingest"),
        "text.cluster_ms": dur_p50("text.cluster"),
        "text.pairs_verified": (sum(pair_counts) / len(pair_counts)
                                if pair_counts else 0.0),
        "text.probe_exchanges": _p50(probe_ex),
        "driver.analysis_ms": per_op(sum(q["analysis_ms"] for q in qes)),
        "driver.optimization_ms": per_op(sum(q["optimization_ms"] for q in qes)),
        "driver.planning_ms": per_op(sum(q["planning_ms"] for q in qes)),
        "driver.gap_ms": per_op(gap / ms),
        "scheduling.jobs_per_op": per_op(len(jobs)),
        "scheduling.stages_per_op": job_sum("stages"),
        "scheduling.tasks_per_op": job_sum("tasks"),
        "compute.run_ms": job_sum("run_ms"),
        "compute.cpu_ms": per_op(cpu_ms),
        "compute.gc_ms": job_sum("gc_ms"),
        "compute.core_util": cpu_ms / (wall / ms * cores) if wall else 0.0,
        "movement.input_bytes": job_sum("input_bytes"),
        "movement.shuffle_read_bytes": job_sum("shuffle_read_bytes"),
        "movement.shuffle_write_bytes": job_sum("shuffle_write_bytes"),
        "movement.output_bytes": job_sum("output_bytes"),
        "jvm.peak_rss_mb": res["vmhwm_kb"] / 1024.0,
        "trace.overhead_pct": ((_p50(traced_dur) / _p50(untraced) - 1) * 100
                               if untraced and traced_dur else 0.0),
    }
    for k in PLAN_KINDS:
        m[f"plans.{k}_ms"] = op_p50(lambda o, k=k: o["kind"] == k)
    for q in SCAN_QUERIES:
        m[f"queries.{q}_ms"] = op_p50(lambda o, q=q: o["kind"] == q)
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = per_op(self_ns[layer] / ms)
        m[f"{layer}.self_share"] = self_ns[layer] / wall if wall else 0.0
    accounting = {
        "wall_ms": wall / ms, "traced_rounds": len(traced), "traced_ops": n_ops,
        "self_ms": {k: round(v / ms, 3) for k, v in self_ns.items()},
        "self_in_jobs_ms": {k: round(v / ms, 3) for k, v in self_job_ns.items()},
        "gap_ms": gap / ms,
        "residual_ms": residual / ms,
        "tolerance": ACCOUNTING_TOLERANCE,
        "ok": abs(residual) <= ACCOUNTING_TOLERANCE * wall,
    }
    return {k: m[k] for k in PER_LAYER}, accounting

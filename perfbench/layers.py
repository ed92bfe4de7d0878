"""Turns one run's raw measurements into metrics.

end_to_end() gives the untraced run's metrics; per_layer() gives the
traced run's per-layer metrics and a report with the layer-specific
numbers of its workload (README.md says which metric should move which)."""

import json
from collections import defaultdict

import metrics as M

LAKE, ALERTS = "graft-ingest-lake", "graft-ingest-alerts"
# The end-to-end metrics on the untraced result line. p50_s and tail_s are
# computed too, but are per-layer (latency.*): over ten seeds their
# spread on ingest_live reached 0.24-0.35, wider than any bound allowed.
END_TO_END = ("setup_s", "total_s", "cpu_s")
ITERATIVE = ("q175_knn_graph", "q176_knn_graph_recall", "q179_knn_label_noise",
             "q180_graph_semdedup", "q181_hnsw_search", "q182_hnsw_recall")


def spans(raw, kind):
    return [s for s in raw["spans"] if s["kind"] == kind]


def secs(span):
    return (span["end_ms"] - span["start_ms"]) / 1000.0


def batches(progress, query):
    return [(p["start_ms"], p["start_ms"] + p["trigger_ms"], p["rows"])
            for p in progress if p["query"] == query]


def landing(r):
    """Per shard: seconds from its due time until its lake batch, its
    alert batch, and both."""
    lake = M.shard_latencies(r["due_ms"], r["shards"], batches(r["progress"], LAKE))
    alerts = M.shard_latencies(r["due_ms"], r["shards"], batches(r["progress"], ALERTS))
    both = [None if a is None or b is None else max(a, b) for a, b in zip(lake, alerts)]
    return lake, alerts, both


def reps(workload, raw):
    """Per repetition of the timed section: (wall seconds, latency samples).

    ingest_live is one repetition: from the first shard's due time until
    every shard is in both the lake and the alert sink, with one sample
    per shard (its due time until it is in both). registry repeats passes over
    its queries; a pass's wall is the sum of its query times, and the
    samples are each query's median over the passes, so their number does
    not depend on how many passes fit in the run."""
    r = raw["raw"]
    if workload == "ingest_live":
        wl = spans(raw, "workload")[0]
        both = landing(r)[2]
        return [((wl["end_ms"] - r["t0_ms"]) / 1000.0,
                 [x if x is not None else float("inf") for x in both])]
    passes, per_query = defaultdict(float), defaultdict(list)
    for q in r["runs"]:
        d = (q["end_ms"] - q["start_ms"]) / 1000.0
        passes[q["pass"]] += d
        per_query[q["query"]].append(d)
    return list(passes.values()), [M.median(v) for v in per_query.values()]


def end_to_end(workload, raw):
    if workload == "ingest_live":
        (total, samples), = reps(workload, raw)
        walls = [total]
    else:
        walls, samples = reps(workload, raw)
    tail_p, tail_v = M.tail(samples)
    return {
        "setup_s": (raw["setup_s"], "s"),
        "total_s": (M.median(walls), "s"),
        "p50_s": (M.median(samples), "s"),
        "tail_s": (tail_v, "s"),
        "cpu_s": (spans(raw, "workload")[0]["attrs"]["cpu_s"] / len(walls), "s"),
    }, {"tail_percentile": tail_p, "samples": len(samples), "reps": len(walls)}


def timed_units(raw):
    """The timed units (invocations or queries), the jobs
    and stages attached to them, and the Catalyst phases inside each."""
    units = {s["id"]: s for s in spans(raw, "unit")}
    jobs = [j for j in spans(raw, "job") if j["parent"] in units]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in spans(raw, "stage") if s["parent"] in job_ids]
    ordered = sorted(units.values(), key=lambda u: u["start_ms"])
    phases = defaultdict(list)
    for c in spans(raw, "catalyst"):
        for u in ordered:
            if u["start_ms"] <= c["start_ms"] <= u["end_ms"]:
                phases[u["id"]].append(c)
                break
    return units, jobs, stages, phases


def self_times(raw):
    """Self time summed per span kind; a span's children are the spans
    that name it as parent."""
    children = defaultdict(list)
    for s in raw["spans"]:
        if s["parent"]:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = defaultdict(float)
    for s in raw["spans"]:
        if s["kind"] in ("workload", "rep", "unit", "job"):
            out[s["kind"]] += M.self_time((s["start_ms"], s["end_ms"]), children[s["id"]]) / 1000.0
    return dict(out)


def per_layer(workload, seconds, raw, e2e, info, history_path):
    units, jobs, stages, phases = timed_units(raw)
    n = info["reps"]
    unit_wall = sum(secs(u) for u in units.values())
    in_job = defaultdict(list)
    for j in jobs:
        u = units[j["parent"]]
        in_job[u["id"]].append((max(j["start_ms"], u["start_ms"]), min(j["end_ms"], u["end_ms"])))
    in_job_s = sum(M.union_length(v) for v in in_job.values()) / 1000.0

    def stage_sum(key, scale):
        return sum(s["attrs"].get(key, 0) for s in stages) / scale / n

    def phase_sum(name):
        return sum(c["end_ms"] - c["start_ms"] for cs in phases.values()
                   for c in cs if c["name"] == name) / 1000.0 / n

    layer = {
        "latency.p50_s": e2e["p50_s"],
        "latency.tail_s": e2e["tail_s"],
        "units.count": (len(units) / n, "count"),
        "units.p50_s": (M.median([secs(u) for u in units.values()]), "s"),
        "scheduler.jobs": (len(jobs) / n, "count"),
        "scheduler.stages": (len(stages) / n, "count"),
        "scheduler.tasks": (stage_sum("tasks", 1), "count"),
        "scheduler.in_job_s": (in_job_s / n, "s"),
        "scheduler.driver_gap_s": ((unit_wall - in_job_s) / n, "s"),
        "task.run_s": (stage_sum("run_ms", 1000.0), "s"),
        "task.cpu_s": (stage_sum("cpu_ms", 1000.0), "s"),
        "shuffle.write_mb": (stage_sum("shuffle_write_b", 1048576.0), "MB"),
        "shuffle.read_mb": (stage_sum("shuffle_read_b", 1048576.0), "MB"),
        "io.input_mb": (stage_sum("input_b", 1048576.0), "MB"),
        "catalyst.optimization_s": (phase_sum("catalyst.optimization"), "s"),
        "catalyst.planning_s": (phase_sum("catalyst.planning"), "s"),
        "jvm.gc_s": (raw["jvm"]["gc_ms"] / 1000.0, "s"),
        "jvm.jit_s": (raw["jvm"]["jit_ms"] / 1000.0, "s"),
        "jvm.peak_rss_mb": (raw["jvm"]["vm_hwm_kb"] / 1024.0, "MB"),
        "warmup_s": (sum(secs(w) for w in spans(raw, "warmup")), "s"),
        "trace.units_s": (unit_wall / n, "s"),
    }
    catalyst = sum(v for k, (v, _) in layer.items() if k.startswith("catalyst."))
    gap = layer["scheduler.driver_gap_s"][0]
    report = {
        "traced_end_to_end": {k: v for k, (v, _) in e2e.items()},
        "tracing_overhead": overhead(workload, seconds, e2e, history_path),
        "self_time_s": self_times(raw),
        "catalyst_share_of_driver_gap": catalyst / gap if gap > 0 else None,
        # a write command's own analysis is near zero: its query was
        # analysed when the DataFrame was built, outside any listener
        "catalyst.analysis_s": phase_sum("catalyst.analysis"),
        "spill.disk_mb": stage_sum("spill_disk_b", 1048576.0),
        "io.output_mb": stage_sum("output_b", 1048576.0),
        "shuffle.fetch_wait_s": stage_sum("fetch_wait_ms", 1000.0),
        "task.gc_s": stage_sum("gc_ms", 1000.0),
    }
    if workload == "registry":
        report.update(registry_layers(raw, units, jobs, n))
    else:
        report.update(stream_layers(raw))
        report.update(etl_layers(raw))
    return layer, report


def overhead(workload, seconds, traced, history_path):
    """The traced run's end-to-end numbers against the median of the
    untraced runs of the same length made before it in this checkout."""
    try:
        with open(history_path) as f:
            hist = [json.loads(l) for l in f]
    except OSError:
        return None
    hist = [h["end_to_end"] for h in hist
            if h["workload"] == workload and h["seconds"] == seconds]
    if not hist:
        return None
    out = {}
    for k, (v, _) in traced.items():
        base = M.median([h[k][0] for h in hist])
        out[k] = {"traced": v, "untraced_median": base, "untraced_runs": len(hist),
                  "overhead_share": v / base - 1 if base else None}
    return out


def stream_layers(raw):
    r = raw["raw"]
    progress, invocations = r["progress"], r["invocations"]
    lake, alerts, _ = landing(r)
    out = {}
    for name, xs in (("lake_latency", lake), ("alert_latency", alerts)):
        xs = [x for x in xs if x is not None]
        if xs:
            p, v = M.tail(xs)
            out[f"{name}_p50_s"] = M.median(xs)
            out[f"{name}_p{p:g}_s"] = v
    start_stop = 0.0
    for i in invocations:
        per_q = defaultdict(float)
        for p in progress:
            if p["run_id"] in i["run_ids"]:
                per_q[p["query"]] += p["trigger_ms"]
        start_stop += (i["end_ms"] - i["start_ms"] - max(per_q.values(), default=0.0)) / 1000.0
    moved = [m - d for m, d in zip(r["moved_ms"], r["due_ms"])]
    # shards landed but not yet read by the lake query when each invocation started
    cum = [sum(r["shards"][:i + 1]) for i in range(len(r["shards"]))]
    backlog, read = [], 0
    for i in sorted(invocations, key=lambda x: x["start_ms"]):
        landed = sum(1 for m in r["moved_ms"] if m <= i["start_ms"])
        backlog.append(landed - sum(1 for c in cum if c <= read))
        read += sum(p["rows"] for p in progress if p["query"] == LAKE and p["run_id"] in i["run_ids"])
    out.update({
        "gen.late_max_s": max(moved) / 1000.0,
        "gen.shards": len(moved),
        "gen.events": sum(r["shards"]),
        "stream.invocations": len(invocations),
        "stream.invocation_s_p50": M.median([(i["end_ms"] - i["start_ms"]) / 1000.0 for i in invocations]),
        "stream.start_stop_s": start_stop,
        "stream.backlog_files_max": max(backlog, default=0),
    })
    for q, short in ((LAKE, "lake"), (ALERTS, "alerts")):
        ps = [p for p in progress if p["query"] == q]

        def d(*keys):
            return sum(p["durations"].get(k, 0) for p in ps for k in keys) / 1000.0
        out.update({
            f"stream.{short}.batches": len(ps),
            f"stream.{short}.empty_batches": sum(1 for p in ps if p["rows"] == 0),
            f"stream.{short}.trigger_s": d("triggerExecution"),
            f"stream.{short}.add_batch_s": d("addBatch"),
            f"stream.{short}.planning_s": d("queryPlanning"),
            f"stream.{short}.offsets_s": d("latestOffset", "getBatch"),
            f"stream.{short}.commit_s": d("walCommit", "commitOffsets"),
        })
    obs = [p["observed"] for p in progress if p["query"] == LAKE and p.get("observed")]
    records = sum(o["n_records"] or 0 for o in obs)
    n_alerts = sum(o["n_alerts"] or 0 for o in obs)
    if records:
        out.update({
            "rules.invalid_share": sum(o["n_invalid"] or 0 for o in obs) / records,
            "rules.decode_error_share": sum(o["n_decode_errors"] or 0 for o in obs) / records,
            "rules.alerts_per_record": n_alerts / records,
        })
    if n_alerts and "alerts_sent" in r:
        out["throttle.sent_share"] = r["alerts_sent"] / n_alerts
    st = [s for p in progress if p["query"] == ALERTS for s in p["state"]]
    if st:
        out.update({
            "throttle.state_rows": st[-1]["rows"],
            "throttle.state_mem_mb": max(s["mem_b"] for s in st) / 1048576.0,
            "throttle.state_commit_s": sum(s["commit_ms"] for s in st) / 1000.0,
            "throttle.removed_by_watermark": sum(s["removed"] for s in st),
        })
    return out


def etl_layers(raw):
    out = {p["name"]: secs(p) for p in spans(raw, "probe")}
    steps = {u["id"]: u for u in spans(raw, "etl")}
    if not steps:
        return out
    loads = [secs(u) for u in steps.values() if u["name"].startswith("increment")]
    return dict(out, **{
        "warehouse_s": sum(secs(u) for u in steps.values()),
        "etl.valid_readings_s": sum(secs(u) for u in steps.values() if u["name"] == "valid_readings"),
        "etl.load_s_p50": M.median(loads),
        "etl.load_s_max": max(loads),
        "etl.jobs": sum(1 for j in spans(raw, "job") if j["parent"] in steps),
        "etl.fact_rows": raw["raw"].get("fact_rows"),
    })


def registry_layers(raw, units, jobs, n):
    jobs_by_q = defaultdict(int)
    for j in jobs:
        jobs_by_q[units[j["parent"]]["name"]] += 1
    per_q, module = defaultdict(list), {}
    for q in raw["raw"]["runs"]:
        per_q[q["query"]].append((q["end_ms"] - q["start_ms"]) / 1000.0)
        module[q["query"]] = q["module"]
    out = defaultdict(float)
    for q, ts in per_q.items():
        out[f"registry.{module[q]}.s"] += M.median(ts)
        out[f"registry.{module[q]}.jobs"] += jobs_by_q[q] / n
    it = [q for q in per_q if q in ITERATIVE]
    out["ext.iterative_s"] = sum(M.median(per_q[q]) for q in it)
    out["ext.iterative_jobs"] = sum(jobs_by_q[q] for q in it) / n
    out = dict(out)
    out["registry.per_query_s"] = {q: M.median(ts) for q, ts in sorted(per_q.items())}
    return out

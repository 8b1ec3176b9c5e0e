"""Statistics of one benchmark run: end-to-end figures from the untraced
passes, per-layer figures from the traced passes' spans.
"""
import json
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def tail_percentile(n):
    """The highest whole percentile with at least ten of `n` samples beyond
    it, or None below 20 samples (the tail would be the median or lower)."""
    if n < 20:
        return None
    return (100 * (n - 10)) // n


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(-(-p * len(xs) // 100)) - 1))
    return xs[k]


def tail(values, n_rule):
    """(value, percentile, sample count) of the tail-latency rule. The
    percentile follows from `n_rule`, the run's guaranteed minimum sample
    count, so a run that happens to fit one more pass reports the same
    percentile."""
    p = tail_percentile(min(n_rule, len(values)))
    if p is None:
        return None, None, len(values)
    return percentile(values, p), p, len(values)


def union_ms(spans):
    """Total length covered by a set of [t0, t1] intervals."""
    total, end = 0, None
    for a, b in sorted(s for s in spans if s[1] >= s[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def end_to_end(res, min_samples):
    """Untraced figures of a run: the contract's end-to-end metrics."""
    ops = [o for o in res["ops"] if not o[6]]
    lat = [o[4] for o in ops if o[3] == "op" and o[5]]
    tail_v, tail_p, n = tail(lat, min_samples)
    out = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(p[2] for p in res["passes"] if not p[1]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
    }
    return out, {"op_tail_pct": tail_p, "op_samples": n}


def loads(ops):
    """Latency and ingest rate of the daily loads among `ops`."""
    ls = [o for o in ops if o[3] == "load" and o[5]]
    if not ls:
        return {}
    lat = [o[4] for o in ls]
    return {
        "load_p50_s": statistics.median(lat),
        "load_tail_s": max(lat),
        "rows_per_s": sum(o[8]["loaded"] + o[8]["bad"] for o in ls) / sum(lat),
    }


# engine modules whose jobs inside a daily load are charged to a layer
SITE_LAYER = {"CsvReddit": "csv.read_s", "PostsTable": "upsert.s"}

# The layer each per-layer metric belongs to, by metric name or by the prefix
# before its first dot. A workload's `loads` in workloads.json names layers of
# this map: a traced run that does not measure a metric of a loaded layer has
# a broken trace, while a metric of a bypassed layer reads 0.
LAYER_OF = {
    "csv": "reddit.CsvReddit", "upsert": "reddit.PostsTable", "table": "reddit.PostsTable",
    "models": "reddit.Models", "analytics": "reddit.Analytics", "dq": "quality.DataQuality",
    "scan": "sources.Tables", "task": "operators", "exchange": "exchange", "sort": "sort",
    "agg": "aggregate", "sched": "scheduler", "self": "scheduler", "jvm": "jvm",
    "trace": "trace", "load_p50_s": "daily load", "load_tail_s": "daily load",
    "rows_per_s": "daily load",
}


def layer_of(metric):
    return LAYER_OF.get(metric) or LAYER_OF[metric.split(".")[0]]


def untraced_loaded(values, names, loaded):
    """(metric, layer) for each of `names` missing from `values` although
    its layer is among `loaded`: records the trace lost."""
    return [(n, layer_of(n)) for n in names if n not in values and layer_of(n) in loaded]


def per_layer(res, trace_lines):
    """Per-layer figures of the traced passes, each the median over passes
    of that pass's total (or ratio), plus the tracing overhead."""
    recs = [json.loads(l) for l in trace_lines if l.strip()]
    jobs = {r["id"]: r for r in recs if r["k"] == "job"}
    for r in recs:
        if r["k"] == "job_end" and r["id"] in jobs:
            jobs[r["id"]]["t1"] = r["t1"]
    stage_job = {s: j["id"] for j in jobs.values() for s in j["stages"]}
    stages = [r for r in recs if r["k"] == "stage"]
    tasks = [r for r in recs if r["k"] == "task"]
    exec_op = {r["id"]: r["op"] for r in recs if r["k"] == "exec"}
    exec_site = {str(r["id"]): r["site"] for r in recs if r["k"] == "exec"}
    for j in jobs.values():
        j["site"] = exec_site.get(j["exec"]) or j["site"]
    plans = [r for r in recs if r["k"] == "plan"]

    traced_ops = [o for o in res["ops"] if o[6]]
    op_pass = {o[0]: o[1] for o in traced_ops}
    passes = sorted(set(op_pass.values()))

    def pass_of_job(j):
        return op_pass.get(jobs[j]["op"]) if j in jobs else None

    per = {p: {} for p in passes}

    def add(p, k, v):
        if p is not None:
            per[p][k] = per[p].get(k, 0) + v

    jobs_of_op = {}
    for j in jobs.values():
        jobs_of_op.setdefault(j["op"], []).append(j)
    stages_of_job = {}
    for s in stages:
        stages_of_job.setdefault(stage_job.get(s["id"]), []).append(s)
    tasks_of_stage = {}
    for t in tasks:
        tasks_of_stage.setdefault(t["stage"], []).append(t)

    skews = {p: [] for p in passes}
    for s in stages:
        p = pass_of_job(stage_job.get(s["id"]))
        if p is None:
            continue
        ts = tasks_of_stage.get(s["id"], [])
        add(p, "sched.stages", 1)
        add(p, "self.stage_s", (s["t1"] - s["t0"] - union_ms([(t["t0"], t["t1"]) for t in ts])) / 1e3)
        reads = sorted(t["sr_bytes"] for t in ts)
        if len(reads) >= 2 and reads[-1] > 0:
            skews[p].append(reads[-1] / max(1, statistics.median(reads)))
    for t in tasks:
        p = pass_of_job(stage_job.get(t["stage"]))
        if p is None:
            continue
        add(p, "task.count", 1)
        add(p, "task.failed", 0 if t["ok"] else 1)
        add(p, "task.cpu_s", t["cpu_ns"] / 1e9)
        add(p, "task.run_s", t["run_ms"] / 1e3)
        add(p, "task.gc_s", t["gc_ms"] / 1e3)
        add(p, "sched.delay_s", max(0, t["t1"] - t["t0"] - t["run_ms"] - t["deser_ms"]
                                    - t["ser_ms"] - t["get_ms"]) / 1e3)
        add(p, "exchange.write_bytes", t["sw_bytes"])
        add(p, "exchange.read_bytes", t["sr_bytes"])
        add(p, "exchange.write_s", t["sw_ns"] / 1e9)
    for j in jobs.values():
        p = pass_of_job(j["id"])
        if p is None or "t1" not in j:
            continue
        add(p, "sched.jobs", 1)
        st = stages_of_job.get(j["id"], [])
        add(p, "self.job_s", (j["t1"] - j["t0"] - union_ms([(s["t0"], s["t1"]) for s in st])) / 1e3)
    for pl in plans:
        p = op_pass.get(exec_op.get(pl["exec"]))
        for src, dst, scale in [("scan_ms", "scan.s", 1e3), ("scan_bytes", "scan.bytes", 1),
                                ("scan_recs", "scan.records", 1), ("scan_files", "scan.files", 1),
                                ("sort_ms", "sort.s", 1e3), ("sort_spill", "sort.spill_bytes", 1),
                                ("agg_ms", "agg.s", 1e3)]:
            add(p, dst, pl[src] / scale)

    csv_jobs_in = {}
    for o in traced_ops:
        oid, p, name, kind, sec, ok, _, spans, facts, gc_s, start = o
        add(p, "sched.ops", 1)
        add(p, "jvm.gc_s", gc_s)
        js = sorted((j for j in jobs_of_op.get(oid, []) if "t1" in j), key=lambda j: j["t0"])
        # the op's own time: its wall time minus the union of its jobs
        add(p, "sched.driver_s", max(0.0, sec - union_ms([(j["t0"], j["t1"]) for j in js]) / 1e3))
        if kind == "load":
            summary = [s for s in spans if s[0] == "summary"]
            s0 = summary[0][1] if summary else float("inf")
            add(p, "models.s", sum(b - a for _, a, b in summary) / 1e3)
            # inside Pipeline.run each job, with the driver gap before it,
            # is charged to the engine module that started it
            prev = start
            for j in js:
                if j["t0"] >= s0:
                    break
                layer = SITE_LAYER.get(j["site"])
                if layer:
                    add(p, layer, (j["t1"] - prev) / 1e3)
                if layer == "csv.read_s":
                    csv_jobs_in[j["id"]] = p
                prev = j["t1"]
            add(p, "csv.records", facts["loaded"] + facts["bad"])
            add(p, "csv.bad_records", facts["bad"])
            for k in ("bytes_written", "files_written", "partitions_rewritten", "partitions_linked",
                      "staged_bytes"):
                add(p, "upsert." + k, facts[k])
            per[p]["table.files"] = facts["table_files"]
        elif name == "dq_check":
            add(p, "dq.s", sec)
        elif kind == "op" and res["workload"] == "reddit_daily":
            add(p, "analytics.s", sec)
    for t in tasks:
        j = stage_job.get(t["stage"])
        if j in csv_jobs_in:
            add(csv_jobs_in[j], "csv.input_bytes", t["in_bytes"])
    for x in res["passes"]:
        if x[1]:
            add(x[0], "jvm.cleanup_gc_s", x[3])

    for p in passes:
        d = per[p]
        # ratios exist only where what they divide was traced
        n_ops = d.pop("sched.ops", 0) or 1
        if "sched.jobs" in d:
            d["sched.jobs_per_op"] = d.pop("sched.jobs") / n_ops
        if "sched.stages" in d:
            d["sched.stages_per_op"] = d.pop("sched.stages") / n_ops
            d["exchange.skew"] = statistics.median(skews[p]) if skews[p] else 0.0
        if "upsert.staged_bytes" in d:
            staged = d.pop("upsert.staged_bytes")
            d["upsert.write_amp"] = d["upsert.bytes_written"] / staged if staged else 0.0

    keys = sorted({k for d in per.values() for k in d})
    out = {k: statistics.median(per[p].get(k, 0) for p in passes) for k in keys}
    untraced = [x[2] for x in res["passes"] if not x[1]]
    traced = [x[2] for x in res["passes"] if x[1]]
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    out.update({
        "jvm.jit_s": res["jit_s"],
        "jvm.classes_loaded": res["classes_loaded"],
        "jvm.heap_peak_mb": res["heap_peak_mb"],
    })
    out.update(loads([o for o in res["ops"] if not o[6]]))
    return out


def fingerprints(res, trace_lines):
    """op name -> sorted distinct plan fingerprints of its executions."""
    recs = [json.loads(l) for l in trace_lines if l.strip()]
    exec_op = {r["id"]: r["op"] for r in recs if r["k"] == "exec"}
    name = {o[0]: o[2] for o in res["ops"]}
    fps = {}
    for r in recs:
        if r["k"] == "plan" and exec_op.get(r["exec"]) in name:
            fps.setdefault(name[exec_op[r["exec"]]], set()).add(r["fp"])
    return {k: sorted(v) for k, v in sorted(fps.items())}

"""Reduces one harness run (`raw.json`) to the benchmark's metrics.

End-to-end metrics come from the untraced run; per-layer metrics from
the traced run's spans and Spark listener records. Every helper here is
pure, so `tests/test_report.py` pins each on synthetic inputs.
"""
import statistics

# Percentiles a tail is chosen from, highest first.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "ops_per_min": "1/min"}

STAGES = ("ingest", "normalize", "enrich", "final_result")
# Span layers below the op: the harness's calls into the engine (queries,
# plans, exec, pipeline) and the listener's jobs and stages.
SPAN_LAYERS = ("op", "queries", "plans", "exec", "pipeline", "exec.job",
               "exec.stage")

PER_LAYER = {
    "core.session_s": "s", "core.analyze_s": "s", "functions.h3_init_s": "s",
    **{f"pipeline.stage_s.{s}": "s" for s in STAGES},
    "pipeline.jobs_per_op": "count",
    "core.catalog.bytes_written": "bytes", "core.catalog.files_written": "count",
    "queries.build_s": "s",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "ops.jobs_per_op": "count", "ops.task_skew": "ratio",
    "exec.driver_idle_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.skipped_stages": "count", "exec.stages_run_ratio": "ratio",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.core_util": "ratio", "exec.task_failures": "count",
    "trace.overhead_pct": "%",
    # self time and span count of each layer per measured op, from spans
    **{f"span.{layer}.{k}": u for layer in SPAN_LAYERS
       for k, u in (("self_s", "s"), ("count", "count"))},
}


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(xs, beyond=10):
    """The highest percentile of LADDER with at least `beyond` samples
    above it, as (percentile, value); (None, max) when even the median
    has fewer than `beyond` samples above it."""
    n = len(xs)
    for p in LADDER:
        if n * (1 - p / 100.0) >= beyond - 1e-9:
            return p, quantile(xs, p / 100.0)
    return None, max(xs) if xs else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: its duration minus the part its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                 for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - union_length(cover)
    return out


def driver_idle_s(op_start_ms, op_end_ms, stages):
    """Op wall time minus the union of its stages' run intervals (the
    per-job driver floor), in seconds."""
    cover = [(max(s["submit_ms"], op_start_ms), min(s["complete_ms"], op_end_ms))
             for s in stages if s["submit_ms"] and s["complete_ms"]]
    return max(0, (op_end_ms - op_start_ms) - union_length(cover)) / 1000.0


def measured(raw):
    return [o for o in raw["ops"] if not o["warm"]]


def end_to_end(raw, verdicts):
    """verdicts: {op id: None if its output matched the oracle, else why}."""
    ops = measured(raw)
    good = [o for o in ops if o["ok"] and verdicts.get(o["id"]) is None]
    walls = [o["wall_s"] for o in good]
    pct, tail = tail_percentile(walls)
    values = {
        "setup_s": raw["setup"]["total_s"] + raw["warmup_s"],
        "op_s_p50": quantile(walls, 0.5),
        "ops_per_min": 60.0 * len(good) / max(1e-9, sum(o["wall_s"] for o in ops)),
    }
    # Reported but not judged: a run has too few ops for a tail percentile
    # with ten samples beyond it (the fallback, the slowest op, spread 12%
    # over seeds), and the JVM's peak RSS spread 14-20% over seeds.
    notes = {"ops": len(ops), "ok_ops": len(good),
             "fail_ratio": (len(ops) - len(good)) / max(1, len(ops)),
             "op_s_tail": tail, "tail_percentile": pct,
             "peak_rss_mb": raw["peak_rss_mb"]}
    return values, notes


def per_layer(raw, cores):
    ops = [o for o in measured(raw) if o.get("traced")]
    untraced = [o for o in measured(raw) if not o.get("traced")]
    jobs_by_op, stages_by_job = {}, {}
    for j in raw["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    for s in raw["stages"]:
        stages_by_job.setdefault(s["job"], []).append(s)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def epoch_ms(ns):
        return raw["clock"]["epoch_ms"] + (ns - raw["clock"]["nano"]) / 1e6

    per_op = []
    for o in ops:
        jobs = jobs_by_op.get(o["id"], [])
        stages = [s for j in jobs for s in stages_by_job.get(j["job"], [])]
        declared = sum(len(j["stage_ids"]) for j in jobs)
        start_ms, end_ms = epoch_ms(o["start_ns"]), epoch_ms(o["end_ns"])
        skews = [s["task_max_ms"] / max(1, s["task_median_ms"])
                 for s in stages if s["tasks"] >= 2]
        per_op.append({
            "jobs": len(jobs), "stages": len(stages),
            "skipped": max(0, declared - len(stages)), "declared": declared,
            "tasks": sum(s["tasks"] for s in stages),
            "run_s": sum(s["run_ms"] for s in stages) / 1000.0,
            "cpu_s": sum(s["cpu_ms"] for s in stages) / 1000.0,
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
            "sw": sum(s["shuffle_write"] for s in stages),
            "sr": sum(s["shuffle_read"] for s in stages),
            "spill": sum(s["spill"] for s in stages),
            "failures": sum(s["failed_tasks"] for s in stages),
            "skew": max(skews) if skews else 1.0,
            "idle": driver_idle_s(start_ms, end_ms, stages),
        })
    walls = [o["wall_s"] for o in ops]
    v = {k: raw["setup"][s] for k, s in (("core.session_s", "session_s"),
         ("core.analyze_s", "analyze_s"), ("functions.h3_init_s", "h3_init_s"))}
    for st in STAGES:
        v[f"pipeline.stage_s.{st}"] = med(
            [o["stage_s"][st] for o in ops if st in o.get("stage_s", {})])
    is_pipeline = any("stage_s" in o for o in ops)
    jobs_per_op = mean([p["jobs"] for p in per_op])
    v["pipeline.jobs_per_op"] = jobs_per_op if is_pipeline else 0.0
    v["core.catalog.bytes_written"] = mean([o.get("catalog_bytes", 0) for o in ops])
    v["core.catalog.files_written"] = mean([o.get("catalog_files", 0) for o in ops])
    v["queries.build_s"] = med([o["build_s"] for o in ops if "build_s" in o])
    for k in ("analysis", "optimization", "planning"):
        v[f"plans.{k}_ms"] = med([o[f"{k}_ms"] for o in ops if f"{k}_ms" in o])
    v["ops.jobs_per_op"] = 0.0 if is_pipeline else jobs_per_op
    v["ops.task_skew"] = max([p["skew"] for p in per_op], default=1.0)
    v["exec.driver_idle_s"] = med([p["idle"] for p in per_op])
    v["exec.jobs"] = jobs_per_op
    v["exec.stages"] = mean([p["stages"] for p in per_op])
    v["exec.skipped_stages"] = mean([p["skipped"] for p in per_op])
    v["exec.stages_run_ratio"] = (sum(p["stages"] for p in per_op)
                                  / max(1, sum(p["declared"] for p in per_op)))
    v["exec.tasks"] = mean([p["tasks"] for p in per_op])
    v["exec.shuffle_write_bytes"] = mean([p["sw"] for p in per_op])
    v["exec.shuffle_read_bytes"] = mean([p["sr"] for p in per_op])
    v["exec.spill_bytes"] = mean([p["spill"] for p in per_op])
    v["exec.task_run_s"] = mean([p["run_s"] for p in per_op])
    v["exec.task_cpu_s"] = mean([p["cpu_s"] for p in per_op])
    v["exec.gc_s"] = mean([p["gc_s"] for p in per_op])
    v["exec.core_util"] = (sum(p["run_s"] for p in per_op)
                           / max(1e-9, sum(walls) * cores))
    v["exec.task_failures"] = float(sum(p["failures"] for p in per_op))
    v["trace.overhead_pct"] = tracing_overhead_pct(ops, untraced)
    whole, per_op_layers = layer_self_times(raw)
    for layer in SPAN_LAYERS:
        d = per_op_layers.get(layer, {"self_s": 0.0, "count": 0.0})
        v[f"span.{layer}.self_s"] = d["self_s"]
        v[f"span.{layer}.count"] = d["count"]
    return v, whole


def tracing_overhead_pct(traced, untraced):
    """Median traced op time over median untraced op time, as a percent
    excess. Both halves hold the same op mix (whole corpus passes, or
    backfill days, which all cost alike), and untraced slots bracket the
    traced ones."""
    if not traced or not untraced:
        return 0.0
    t = statistics.median(o["wall_s"] for o in traced)
    u = statistics.median(o["wall_s"] for o in untraced)
    return 100.0 * (t / u - 1.0)


def listener_spans(raw):
    """Listener jobs and stages as spans on the harness clock: each job is
    a child of the innermost harness span that contains its start, each
    stage a child of its job."""
    harness = raw["spans"]
    nano, epoch = raw["clock"]["nano"], raw["clock"]["epoch_ms"]

    def ns(ms):
        return nano + (ms - epoch) * 1_000_000

    out, next_id = [], len(harness)
    job_span = {}
    for j in raw["jobs"]:
        start, end = ns(j["start_ms"]), ns(j["end_ms"])
        inside = [h for h in harness if h["start_ns"] <= start <= h["end_ns"]]
        parent = max(inside, key=lambda h: h["start_ns"])["id"] if inside else -1
        job_span[j["job"]] = next_id
        out.append({"id": next_id, "parent": parent, "name": f"job{j['job']}",
                    "layer": "exec.job", "start_ns": start, "end_ns": end})
        next_id += 1
    for st in raw["stages"]:
        if st["job"] in job_span and st["submit_ms"] and st["complete_ms"]:
            out.append({"id": next_id, "parent": job_span[st["job"]],
                        "name": f"stage{st['stage']}", "layer": "exec.stage",
                        "start_ns": ns(st["submit_ms"]),
                        "end_ns": ns(st["complete_ms"])})
            next_id += 1
    return out


def layer_self_times(raw):
    """Self time and span count per layer, over the harness spans plus the
    listener's job and stage spans: ({layer: {"self_s", "count"}} for the
    whole run, {layer: {"self_s", "count"}} per measured traced op)."""
    spans = raw["spans"] + listener_spans(raw)
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def measured(s):
        while s["parent"] != -1:
            s = by_id[s["parent"]]
            if s["layer"] == "workload":
                return True
        return False

    whole, per_op = {}, {}
    for s in spans:
        for out in (whole, per_op) if measured(s) else (whole,):
            d = out.setdefault(s["layer"], {"self_s": 0.0, "count": 0})
            d["self_s"] += st[s["id"]] / 1e9
            d["count"] += 1
    n_ops = max(1, per_op.get("op", {}).get("count", 0))
    per_op = {k: {"self_s": d["self_s"] / n_ops, "count": d["count"] / n_ops}
              for k, d in per_op.items()}
    return whole, per_op

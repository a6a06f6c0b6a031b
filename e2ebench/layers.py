"""Per-layer metrics of a traced run (`--trace 1`).

Reads the driver's `spans.jsonl` (benchmark, job, stage and plan spans plus
one progress record per micro-batch), rebuilds each micro-batch as a
`batch` span with its `phase` children, prints every layer's span count,
total and self time (duration minus the part its children cover), and
returns the per-layer metrics. Streams report medians per micro-batch;
curation_batch reports totals per warm pass, as medians over the passes.
"""
import datetime
import json
import os
import statistics

import stats

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "plans.query_planning_ms": "ms", "checkpoint.wal_commit_ms": "ms",
    "checkpoint.commit_offsets_ms": "ms", "sink.files_written": "count",
    "streaming.add_batch_ms": "ms", "streaming.rows_per_batch": "count",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.empty_batch_ratio": "ratio", "streaming.backlog_files_max": "count",
    "gen.late_ms_max": "ms", "gen.headroom": "ratio",
    "state.rows_total": "count", "state.memory_bytes": "B", "state.commit_ms": "ms",
    "state.rows_dropped_late": "count", "state.late_drop_ratio": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "exec.spill_bytes": "B",
    "plans.exchanges": "count", "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.tasks": "count", "operators.build_ms": "ms", "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms", "plans.planning_ms": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.driver_only_ms": "ms", "exec.task_failures": "count",
    "exec.tasks_ok_ratio": "ratio", "trace.overhead_ratio": "ratio",
    "scaling.local1_rows_per_s": "1/s",
}
# MicroBatchExecution's order: plan the offsets, log them, read, plan, run, commit
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
STAGE_SUMS = ("task_ms", "cpu_ms", "gc_ms", "tasks", "task_failures", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes")


def load(path):
    spans, progress = [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            (spans if rec["type"] == "span" else progress).append(rec)
    return spans, [r["progress"] for r in progress]


def epoch_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_times(spans):
    """layer -> (spans, total ms, self ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end"] < s["start"]:
            continue
        dur = s["end"] - s["start"]
        covered = union_ms([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                           s["start"], s["end"])
        n, tot, own = out.get(s["layer"], (0, 0.0, 0.0))
        out[s["layer"]] = (n + 1, tot + dur, own + dur - covered)
    return out


def batch_spans(progress, query_id, next_id):
    """`batch` and sequential `phase` spans from one query's progress records."""
    spans, by_batch = [], {}
    for p in progress:
        if p["id"] != query_id:
            continue
        start = epoch_ms(p["timestamp"])
        d = p["durationMs"]
        b = {"id": next_id, "parent": 0, "layer": "batch", "name": f"batch{p['batchId']}",
             "key": p["batchId"], "start": start, "end": start + d.get("triggerExecution", 0),
             "attrs": {}}
        next_id += 1
        spans.append(b)
        by_batch[p["batchId"]] = b
        t = start
        for ph in PHASES:
            if ph in d:
                spans.append({"id": next_id, "parent": b["id"], "layer": "phase", "name": ph,
                              "key": p["batchId"], "start": t, "end": t + d[ph], "attrs": {}})
                next_id += 1
                t += d[ph]
    return spans, by_batch


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def dominant_phase(progress, batch_ids):
    sums = {ph: sum(p["durationMs"].get(ph, 0) for p in progress if p["batchId"] in batch_ids)
            for ph in PHASES}
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progress
               if p["batchId"] in batch_ids)
    ph = max(sums, key=sums.get)
    return ph, (sums[ph] / trig if trig else 0.0)


def stream_layers(ctx, spans, progress, log):
    result, manifest, ckpt = ctx["result"], ctx["manifest"], ctx["ckpt"]
    qid = result["query_id"]
    mine = [p for p in progress if p["id"] == qid]
    bspans, by_batch = batch_spans(progress, qid, max(s["id"] for s in spans) + 1)
    jobs = [s for s in spans if s["layer"] == "job" and s.get("tag") == qid]
    phases = {}
    for s in bspans:
        if s["layer"] == "phase":
            phases.setdefault(s["key"], []).append(s)
    for j in jobs:
        # a stream's job belongs to the micro-batch Spark tagged it with, and
        # within it to the phase it started in
        b = by_batch.get(int(j["attrs"].get("batch_id", -1)))
        if b is not None and j["parent"] == 0:
            j["parent"] = next((ph["id"] for ph in phases.get(b["key"], [])
                                if ph["start"] <= j["start"] < ph["end"]), b["id"])
    spans = spans + bspans
    planned = stats.planned_batches(ckpt)
    files = manifest["files"]
    phase_of = {f["name"]: f["phase"] for f in files}
    per_batch = {}
    for name, (b, _) in planned.items():
        per_batch.setdefault(b, set()).add(phase_of.get(name))
    rate_b = {b for b, ph in per_batch.items() if ph == {"rate"}}
    sat_b = {b for b, ph in per_batch.items() if ph == {"saturated"}}
    rate_p = [p for p in mine if p["batchId"] in rate_b]
    sat_p = [p for p in mine if p["batchId"] in sat_b]

    stages_by_job = {}
    for s in spans:
        if s["layer"] == "stage":
            stages_by_job.setdefault(s["parent"], []).append(s)

    def batch_exec(b):
        """Stage sums, job and stage counts and driver-only ms of one batch."""
        bj = [j for j in jobs if int(j["attrs"].get("batch_id", -1)) == b]
        st = [s for j in bj for s in stages_by_job.get(j["id"], [])]
        sums = {k: sum(s["attrs"].get(k, 0) for s in st) for k in STAGE_SUMS}
        span = by_batch.get(b)
        busy = union_ms([(j["start"], j["end"]) for j in bj], span["start"], span["end"]) if span else 0
        sums.update(jobs=len(bj), stages=len(st),
                    driver_only_ms=(span["end"] - span["start"] - busy) if span else 0)
        return sums

    sat_exec = [batch_exec(p["batchId"]) for p in sat_p]
    state = [p["stateOperators"][0] for p in sat_p if p.get("stateOperators")]
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in mine if p.get("stateOperators"))
    rows_in = sum(p["numInputRows"] for p in mine)
    sink_files = []
    meta = os.path.join(ctx["out_dir"], "_spark_metadata")
    for b in rate_b:
        path = os.path.join(meta, str(b))
        if os.path.exists(path):
            with open(path) as f:
                sink_files.append(sum(1 for line in f.read().splitlines()[1:] if line.strip()))
    written = {f["name"]: f["written"] for f in files if f["phase"] == "rate"}
    plan_at = {n: planned[n][1] if n in planned else None for n in written}
    tasks = sum(e["tasks"] for e in map(batch_exec, (p["batchId"] for p in mine)))
    fails = sum(s["attrs"].get("task_failures", 0) for s in spans if s["layer"] == "stage")
    m = {
        "sources.latest_offset_ms": med(p["durationMs"].get("latestOffset", 0) for p in rate_p),
        "sources.get_batch_ms": med(p["durationMs"].get("getBatch", 0) for p in rate_p),
        "plans.query_planning_ms": med(p["durationMs"].get("queryPlanning", 0) for p in rate_p),
        "checkpoint.wal_commit_ms": med(p["durationMs"].get("walCommit", 0) for p in rate_p),
        "checkpoint.commit_offsets_ms": med(p["durationMs"].get("commitOffsets", 0) for p in rate_p),
        "sink.files_written": med(sink_files),
        "streaming.add_batch_ms": med(p["durationMs"].get("addBatch", 0) for p in sat_p),
        "streaming.rows_per_batch": med(p["numInputRows"] for p in sat_p),
        "streaming.batches": len(mine),
        "streaming.trigger_ms": med(p["durationMs"].get("triggerExecution", 0) for p in sat_p),
        "streaming.empty_batch_ratio": sum(1 for p in mine if p["numInputRows"] == 0) / max(1, len(mine)),
        "streaming.backlog_files_max": stats.backlog_max(written, plan_at),
        "gen.late_ms_max": manifest["late_ms_max"],
        "gen.headroom": manifest["rows"] / manifest["cpu_s"] / ctx["metrics"]["max_rows_per_s"],
        "state.rows_total": med(s["numRowsTotal"] for s in state),
        "state.memory_bytes": med(s["memoryUsedBytes"] for s in state),
        "state.commit_ms": med(s["commitTimeMs"] for s in state),
        "state.rows_dropped_late": dropped,
        "state.late_drop_ratio": dropped / rows_in if rows_in else 0.0,
        "shuffle.write_bytes": med(e["shuffle_write_bytes"] for e in sat_exec),
        "shuffle.read_bytes": med(e["shuffle_read_bytes"] for e in sat_exec),
        "exec.spill_bytes": med(e["spill_bytes"] for e in sat_exec),
        "exec.task_ms": med(e["task_ms"] for e in sat_exec),
        "exec.cpu_ms": med(e["cpu_ms"] for e in sat_exec),
        "exec.gc_ms": med(e["gc_ms"] for e in sat_exec),
        "exec.tasks": med(e["tasks"] for e in sat_exec),
        "exec.jobs": med(e["jobs"] for e in sat_exec),
        "exec.stages": med(e["stages"] for e in sat_exec),
        "exec.driver_only_ms": med(e["driver_only_ms"] for e in sat_exec),
        "exec.task_failures": fails,
        "exec.tasks_ok_ratio": 1 - fails / tasks if tasks else 1.0,
    }
    for label, ids in (("rate", rate_b), ("saturated", sat_b)):
        ph, share = dominant_phase(mine, ids)
        log(f"dominant micro-batch phase ({label} phase, {len(ids)} batches): "
            f"{ph} {share:.0%} of trigger time")
    return spans, m


def curation_layers(spans):
    by_id = {s["id"]: s for s in spans}
    passes = [s for s in spans if s["layer"] == "pass" and s["key"] > 0]

    def pass_of(s):
        while s is not None and s["layer"] != "pass":
            s = by_id.get(s["parent"])
        return s["id"] if s else None

    per = {p["id"]: {k: 0.0 for k in STAGE_SUMS + ("jobs", "stages", "build_ms", "analysis_ms",
                                                    "optimization_ms", "planning_ms", "exchanges")}
           for p in passes}
    job_iv = {p["id"]: [] for p in passes}
    for s in spans:
        if s["layer"] in ("stage", "job", "build"):
            pid = pass_of(s)
        elif s["layer"] == "plan":  # the listener's records carry no parent: place by time
            pid = next((p["id"] for p in passes if p["start"] <= s["end"] <= p["end"]), None)
        else:
            continue
        if pid not in per:
            continue
        acc = per[pid]
        if s["layer"] == "stage":
            acc["stages"] += 1
            for k in STAGE_SUMS:
                acc[k] += s["attrs"].get(k, 0)
        elif s["layer"] == "job":
            acc["jobs"] += 1
            job_iv[pid].append((s["start"], s["end"]))
        elif s["layer"] == "build":
            acc["build_ms"] += s["end"] - s["start"]
        else:
            for k in ("analysis_ms", "optimization_ms", "planning_ms", "exchanges"):
                acc[k] += s["attrs"].get(k, 0)
    for p in passes:
        per[p["id"]]["driver_only_ms"] = (p["end"] - p["start"]
                                          - union_ms(job_iv[p["id"]], p["start"], p["end"]))
    rows = list(per.values())
    tasks = sum(r["tasks"] for r in rows)
    fails = sum(r["task_failures"] for r in rows)
    return spans, {
        "shuffle.write_bytes": med(r["shuffle_write_bytes"] for r in rows),
        "shuffle.read_bytes": med(r["shuffle_read_bytes"] for r in rows),
        "exec.spill_bytes": med(r["spill_bytes"] for r in rows),
        "plans.exchanges": med(r["exchanges"] for r in rows),
        "exec.task_ms": med(r["task_ms"] for r in rows),
        "exec.cpu_ms": med(r["cpu_ms"] for r in rows),
        "exec.gc_ms": med(r["gc_ms"] for r in rows),
        "exec.tasks": med(r["tasks"] for r in rows),
        "operators.build_ms": med(r["build_ms"] for r in rows),
        "plans.analysis_ms": med(r["analysis_ms"] for r in rows),
        "plans.optimization_ms": med(r["optimization_ms"] for r in rows),
        "plans.planning_ms": med(r["planning_ms"] for r in rows),
        "exec.jobs": med(r["jobs"] for r in rows),
        "exec.stages": med(r["stages"] for r in rows),
        "exec.driver_only_ms": med(r["driver_only_ms"] for r in rows),
        "exec.task_failures": fails,
        "exec.tasks_ok_ratio": 1 - fails / tasks if tasks else 1.0,
    }


def write_query_rows(spans, path):
    """Per-query rows of the trace: wall, build and job counts per pass."""
    by_id = {s["id"]: s for s in spans}
    rows = {}
    for s in spans:
        if s["layer"] == "query":
            rows[s["id"]] = {"query": s["name"], "pass": s["key"],
                             "wall_ms": s["end"] - s["start"], "build_ms": 0.0, "jobs": 0}
    for s in spans:
        parent = by_id.get(s["parent"])
        while parent is not None and parent["layer"] != "query":
            parent = by_id.get(parent["parent"])
        if parent is None:
            continue
        if s["layer"] == "build":
            rows[parent["id"]]["build_ms"] += s["end"] - s["start"]
        elif s["layer"] == "job":
            rows[parent["id"]]["jobs"] += 1
    with open(path, "w") as f:
        for r in rows.values():
            f.write(json.dumps(r) + "\n")


def report(workload, ctx, out_dir, log):
    """Prints the layer table and the tracing overhead; returns the
    `metrics` object of the result line."""
    spans, progress = load(os.path.join(ctx["work"], "spans.jsonl"))
    if workload == "curation_batch":
        spans, m = curation_layers(spans)
    else:
        spans, m = stream_layers(ctx, spans, progress, log)
    log(f"{'layer':10s} {'spans':>7s} {'total_ms':>12s} {'self_ms':>12s}")
    for layer, (n, tot, own) in sorted(self_times(spans).items()):
        log(f"{layer:10s} {n:7d} {tot:12.1f} {own:12.1f}")
    baseline = os.path.join(out_dir, f"last_{workload}.json")
    m["trace.overhead_ratio"] = 0.0
    if os.path.exists(baseline):
        with open(baseline) as f:
            base = json.load(f)
        for k, v in ctx["metrics"].items():
            log(f"tracing overhead {k}: traced {v:.4f} vs untraced {base[k]:.4f} "
                f"({v - base[k]:+.4f}, {v / base[k] - 1:+.1%})")
        key = "pass_s" if workload == "curation_batch" else "latency_p50_ms"
        m["trace.overhead_ratio"] = ctx["metrics"][key] / base[key] - 1
    else:
        log("tracing overhead: no untraced run of this workload yet in this checkout")
    m["scaling.local1_rows_per_s"] = ctx.get("local1_rows_per_s", 0.0)
    os.makedirs(os.path.join(out_dir, "trace"), exist_ok=True)
    trace_file = os.path.join(out_dir, "trace", f"{os.path.basename(ctx['work'])}.jsonl")
    with open(trace_file, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    if workload == "curation_batch":
        write_query_rows(spans, trace_file.replace(".jsonl", ".queries.jsonl"))
    log(f"spans written to {os.path.relpath(trace_file)}")
    return {k: {"value": m.get(k, 0.0), "unit": u} for k, u in METRICS.items()}

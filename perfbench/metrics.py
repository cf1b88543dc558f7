"""Metric arithmetic for the benchmark: medians, the union of time
intervals, span self time, and the end-to-end and per-layer figures of one
run's ``result.json`` (times there are epoch milliseconds)."""
import datetime
import json
import statistics

MB = float(1 << 20)


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if e > lo and s < hi]


def clip_to(intervals, windows):
    """The parts of ``intervals`` inside any of ``windows``."""
    return [iv for lo, hi in windows for iv in clip(intervals, lo, hi)]


def self_times(spans):
    """Span name -> summed self time (s): duration minus the part of it
    its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = s["end"] - s["start"] - union_length(
            clip(kids.get(s["id"], []), s["start"], s["end"]))
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e3
    return out


def op_seconds(o):
    return (o["end"] - o["start"]) / 1e3


def pass_seconds(p):
    """Timed work of a pass: its operations plus the shared-index build;
    the between-operation cleanup is excluded."""
    return p["bases_s"] + sum(op_seconds(o) for o in p["ops"])


def pass_cpu_seconds(p):
    """Process CPU time over the same windows as ``pass_seconds``."""
    return p["bases_cpu_s"] + sum(o["cpu_s"] for o in p["ops"])


def end_to_end(result, setup_s):
    warm = [p for p in result["passes"]
            if p["kind"] == "warm" and not p["traced"]]
    return {
        "setup_s": setup_s,
        "cold_pass_s": pass_seconds(result["passes"][0]),
        "warm_pass_s": median(pass_seconds(p) for p in warm),
        "op_p50_s": median(op_seconds(o) for p in warm for o in p["ops"]),
        "cpu_s": median(pass_cpu_seconds(p) for p in warm),
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
    }


# -- per-layer ---------------------------------------------------------------

SINK_FRAME = "graft.io.Sinks$.overwriteSafely"


def runonce_phases(sql, lo, hi):
    """Split one Main.runOnce call into phases by the call sites of the SQL
    executions it ran: executions under Sinks.overwriteSafely are the sink
    writes (the first caller line seen is the state write, the second the
    top-K write); executions before the first write are the merge, after
    the last write the read-back. Returns phase -> [(start, end)]."""
    execs = sorted((e for e in sql if lo <= e["start"] <= hi
                    and e["end"] >= e["start"]), key=lambda e: e["start"])
    writes, callers = {}, []
    for e in execs:
        frames = e["details"].split("\n")
        idx = [i for i, f in enumerate(frames) if SINK_FRAME in f]
        if idx:
            caller = frames[idx[-1] + 1] if idx[-1] + 1 < len(frames) else ""
            if caller not in callers:
                callers.append(caller)
            writes.setdefault(callers.index(caller), []).append(e)
    phases = {"io.state_write": [], "io.topk_write": [],
              "pipeline.merge": [], "io.readback": []}
    names = ["io.state_write", "io.topk_write"]
    for k, es in writes.items():
        if k < len(names):
            phases[names[k]] += [(e["start"], e["end"]) for e in es]
    all_writes = [e for es in writes.values() for e in es]
    first = min((e["start"] for e in all_writes), default=hi)
    last = max((e["end"] for e in all_writes), default=lo)
    for e in execs:
        if any(e is w for w in all_writes):
            continue
        if e["end"] <= first:
            phases["pipeline.merge"].append((e["start"], e["end"]))
        elif e["start"] >= last:
            phases["io.readback"].append((e["start"], e["end"]))
    return {k: clip(v, lo, hi) for k, v in phases.items()}


def _progress(result, lo, hi):
    """Streaming trigger progress whose trigger started inside [lo, hi]."""
    out = []
    for text in result["progress"]:
        p = json.loads(text)
        p["start_ms"] = _epoch_ms(p["timestamp"])
        if lo - 1 <= p["start_ms"] <= hi:
            out.append(p)
    return out


def _epoch_ms(timestamp):
    ts = datetime.datetime.strptime(timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e3


def _within(intervals, spans):
    """The intervals that start inside one of ``spans``."""
    return [(s, e) for s, e in intervals
            if any(a <= s <= b for a, b in spans)]


def layer_metrics(result, p, log_bytes):
    """Per-layer figures of one traced pass."""
    lo, hi = p["start"], p["end"]
    wall_s = pass_seconds(p)
    cores = result["cores"]
    jobs = [j for j in result["jobs"] if lo <= j["start"] <= hi]
    spans = [s for s in result["spans"] if s["run"] == p["index"]]
    task_run = sum(j["run_ms"] for j in jobs) / 1e3
    # driver gap: timed time (operations, shared bases) with no job running
    timed = [(o["start"], o["end"]) for o in p["ops"]] + [
        (s["start"], s["end"]) for s in spans
        if s["name"] == "queries.shared_bases"]
    job_iv = [(j["start"], j["end"] if j["end"] >= 0 else hi) for j in jobs]
    busy = sum(union_length(clip(job_iv, a, b)) for a, b in timed) / 1e3
    m = {
        "engine.jobs": len(jobs),
        "engine.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "engine.task_run_s": task_run,
        "engine.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "engine.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        "engine.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
        "engine.spill_mb": sum(j["spill"] for j in jobs) / MB,
        "engine.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "engine.driver_gap_s": max(0.0, wall_s - busy),
        "engine.slot_util": task_run / (wall_s * cores) if wall_s else 0.0,
        "queries.build_s": sum(s["end"] - s["start"] for s in spans
                               if s["name"] == "queries.build") / 1e3,
        "queries.shared_bases_s": sum(s["end"] - s["start"] for s in spans
                                      if s["name"] == "queries.shared_bases")
        / 1e3,
    }

    # layer intervals, for the coverage figure below: query builds, shared
    # bases and the SQL executions of the query runs, here
    layers = [(s["start"], s["end"]) for s in spans
              if s["name"] in ("queries.build", "queries.shared_bases")]
    query_runs = [(s["start"], s["end"]) for s in spans
                  if s["name"] == "queries.run"]
    layers += _within([(e["start"], e["end"]) for e in result["sql"]],
                      query_runs)

    # autocomplete: phases of each hourly Main.runOnce from its SQL calls
    phase_s = {"pipeline.merge": 0.0, "io.state_write": 0.0,
               "io.topk_write": 0.0, "io.readback": 0.0}
    hourly_out = 0
    runonce_s = 0.0
    for s in spans:
        if s["name"] != "main.runOnce":
            continue
        runonce_s += (s["end"] - s["start"]) / 1e3
        for k, iv in runonce_phases(result["sql"], s["start"],
                                    s["end"]).items():
            phase_s[k] += union_length(iv) / 1e3
            layers += iv
        hourly_out += sum(j["bytes_out"] for j in jobs
                          if s["start"] <= j["start"] <= s["end"])
    m["self.main.runOnce_s"] = runonce_s - sum(phase_s.values())
    m["pipeline.merge_s"] = phase_s["pipeline.merge"]
    m["io.state_write_s"] = phase_s["io.state_write"]
    m["io.topk_write_s"] = phase_s["io.topk_write"]
    m["io.readback_s"] = phase_s["io.readback"]
    m["io.write_amp"] = hourly_out / log_bytes if log_bytes else 0.0
    rows = [o["rows"] for o in p["ops"] if o["name"].startswith("hour")]
    m["ops.state_rows"] = rows[-1] if rows else 0

    prog = _progress(result, lo, hi)
    dur = [x.get("durationMs", {}) for x in prog]
    m["streaming.triggers"] = len(prog)
    m["streaming.add_batch_ms"] = sum(d.get("addBatch", 0) for d in dur)
    m["streaming.query_planning_ms"] = sum(d.get("queryPlanning", 0)
                                           for d in dur)
    m["streaming.wal_commit_ms"] = sum(d.get("walCommit", 0) for d in dur)
    m["streaming.commit_offsets_ms"] = sum(d.get("commitOffsets", 0)
                                           for d in dur)
    m["streaming.trigger_overhead_ms"] = sum(
        d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur)
    m["streaming.state_commit_ms"] = sum(
        op.get("commitTimeMs", 0) for x in prog
        for op in x.get("stateOperators", []))
    m["trigger_p50_ms"] = median(d.get("triggerExecution", 0) for d in dur)
    layers += [(x["start_ms"], x["start_ms"] + d.get("triggerExecution", 0))
               for x, d in zip(prog, dur)]

    # share of the pass time inside a named layer: runOnce phases, query
    # builds and executions, shared bases, streaming triggers
    covered = union_length(clip_to(layers, timed)) / 1e3
    m["trace.span_coverage"] = covered / wall_s if wall_s else 0.0
    m["self.pass_s"] = self_times(spans).get("pass", 0.0)
    return m


def per_layer(result, log_lines, log_bytes, layer_names):
    """Every per-layer metric named in ``layer_names``: medians over the
    traced warm passes, operation times from the untraced warm passes."""
    passes = result["passes"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    per_pass = [layer_metrics(result, p, log_bytes) for p in traced]
    keys = set().union(*per_pass) if per_pass else set()
    m = {k: median(pm.get(k, 0.0) for pm in per_pass) for k in keys}

    setup = {s["name"]: (s["end"] - s["start"]) / 1e3
             for s in result["spans"] if s["run"] == -1}
    m["session.build_s"] = setup.get("session.build", 0.0)
    m["queries.staging_s"] = setup.get("queries.staging", 0.0)
    m["trace.overhead_s"] = (median(pass_seconds(p) for p in traced)
                             - median(pass_seconds(p) for p in untraced))

    def op_group(name):
        return "hourly" if name.startswith("hour") else name

    warm_ops, cold_ops = {}, {}
    for p in untraced:
        for o in p["ops"]:
            warm_ops.setdefault(op_group(o["name"]), []).append(op_seconds(o))
    for o in passes[0]["ops"]:
        cold_ops.setdefault(op_group(o["name"]), []).append(op_seconds(o))
    for g, ts in warm_ops.items():
        m[f"op.{g}_s"] = median(ts)
        m[f"op.{g}_gap_s"] = median(cold_ops.get(g, [0.0])) - median(ts)
    hourly = [sum(op_seconds(o) for o in p["ops"]
                  if o["name"].startswith("hour")) for p in untraced]
    m["lines_per_s"] = log_lines / median(hourly) if median(hourly) else 0.0
    m["backfill_s"] = m.get("op.backfill_s", 0.0)
    return {k: float(m.get(k, 0.0)) for k in layer_names}

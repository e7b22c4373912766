"""Per-layer metrics and spans from a traced run's records.

Ops run one at a time, so every listener record (job, stage, plan, stream
query, trigger) belongs to the op whose interval contains its start. Layer
metrics are summed per traced pass and reported as the median over traced
passes; the first, untimed pass gives the `setup.*` metrics. Layers are named
after the program's modules:

- operators: the registry call that builds the DataFrame, with its own jobs
- planner: Catalyst phases of every action (incl. GraftExtensions rules)
- exec: jobs, stages and tasks (incl. the functions/ and plans/ kernels)
- streaming: stream queries and their micro-batches (Streams, pp02)
- sources: bytes and records read and written, scratch left behind
- setup: the first, untimed pass that stages per-fixture artifacts
- jvm: GC and JIT time inside the timed passes
"""
import json
import os
import statistics

MB = 1048576.0
SLACK_MS = 2


def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _op_at(ops, t):
    """The op whose [t0, t1] holds time t, if any."""
    return next((o for o in ops if o["t0"] - SLACK_MS <= t <= o["t1"] + SLACK_MS), None)


def per_layer(recs, cores, scratch, spans_path):
    """(metrics, traced ops that recorded no micro-batch)"""
    ops = [r for r in recs if r["k"] == "op"]
    passes = {r["pass"]: r for r in recs if r["k"] == "pass"}
    setup = next(r for r in recs if r["k"] == "setup")
    by_op = {id(o): {"job": [], "stage": [], "plan": [], "qstart": [], "trigger": []} for o in ops}
    qend = {}
    for r in recs:
        k = r["k"]
        if k == "qend":
            qend[r["id"]] = r["t"]
        elif k in ("job", "stage", "plan", "qstart", "trigger"):
            o = _op_at(ops, r["t0"] if "t0" in r else r["t"])
            if o is not None:
                by_op[id(o)][k].append(r)

    def in_build(o, t):
        return t < o["t_build"]

    def pass_sums(p):
        pops = [o for o in ops if o["pass"] == p]
        s = dict.fromkeys(NAMES, 0.0)
        trig = []
        for o in pops:
            ev = by_op[id(o)]
            s["operators.build_s"] += o["build_s"]
            s["exec.action_s"] += o["total_s"] - o["build_s"]
            s["operators.build_jobs"] += sum(1 for j in ev["job"] if in_build(o, j["t0"]))
            s["operators.build_actions"] += sum(1 for x in ev["plan"] if in_build(o, x["t"]))
            s["planner.actions"] += len(ev["plan"])
            for ph in ("analysis_ms", "optimization_ms", "planning_ms"):
                s[f"planner.{ph}"] += sum(x[ph] for x in ev["plan"])
            s["exec.jobs"] += len(ev["job"])
            s["exec.stages"] += len(ev["stage"])
            for st in ev["stage"]:
                s["exec.tasks"] += st["tasks"]
                s["exec.task_run_s"] += st["run_ms"] / 1e3
                s["exec.task_cpu_s"] += st["cpu_ns"] / 1e9
                s["exec.task_gc_s"] += st["gc_ms"] / 1e3
                s["exec.shuffle_write_mb"] += st["shuffle_write_b"] / MB
                s["exec.shuffle_read_mb"] += st["shuffle_read_b"] / MB
                s["exec.spill_mb"] += st["spill_b"] / MB
                s["sources.input_mb"] += st["input_b"] / MB
                s["sources.input_records"] += st["input_r"]
                s["sources.output_mb"] += st["output_b"] / MB
                s["sources.output_records"] += st["output_r"]
            s["streaming.queries"] += len(ev["qstart"])
            s["streaming.triggers"] += len(ev["trigger"])
            trig += [t["trigger_ms"] for t in ev["trigger"]]
            for f in ("trigger_ms", "addbatch_ms", "query_planning_ms", "wal_commit_ms",
                      "latest_offset_ms", "state_commit_ms", "input_rows"):
                s[f"streaming.{f}"] += sum(t[f] for t in ev["trigger"])
            for q in ev["qstart"]:
                qt = [t for t in ev["trigger"] if t["id"] == q["id"]]
                s["streaming.state_rows"] += max((t["state_rows"] for t in qt), default=0)
                s["streaming.state_mb"] += max((t["state_b"] for t in qt), default=0) / MB
                life = qend.get(q["id"], q["t"]) - q["t"]
                s["streaming.lifecycle_ms"] += max(0, life - sum(t["trigger_ms"] for t in qt))
        wall = passes[p]["s"] if p in passes else sum(o["total_s"] for o in pops)
        s["operators.build_share"] = s["operators.build_s"] / wall if wall else 0.0
        run_s = s["exec.task_run_s"]
        s["exec.cpu_share"] = s["exec.task_cpu_s"] / run_s if run_s else 0.0
        s["exec.slot_util"] = s["exec.task_run_s"] / (wall * cores) if wall else 0.0
        return s, trig

    traced = [p for p, r in sorted(passes.items()) if r["traced"]]
    plain = [passes[p]["s"] for p in sorted(passes) if not passes[p]["traced"]]
    sums = [pass_sums(p) for p in traced]
    out = {n: (statistics.median(s[n] for s, _ in sums), u) for n, u in NAMES.items()}
    trig = [t for _, ts in sums for t in ts]
    out["streaming.trigger_p50_ms"] = (statistics.median(trig) if trig else 0.0, "ms")
    warm, _ = pass_sums(-1)
    out["setup.session_s"] = (setup["session_s"], "s")
    out["setup.stage_s"] = (setup["stage_s"], "s")
    out["setup.jobs"] = (warm["exec.jobs"], "count")
    out["setup.output_mb"] = (warm["sources.output_mb"], "MB")
    out["sources.scratch_files"] = (sum(f for f, _ in scratch), "count")
    out["sources.scratch_mb"] = (sum(b for _, b in scratch) / MB, "MB")
    out["jvm.gc_s"] = (statistics.median(passes[p]["gc_s"] for p in traced), "s")
    out["jvm.jit_ms"] = (statistics.median(passes[p]["jit_ms"] for p in traced), "ms")
    traced_s = statistics.median(passes[p]["s"] for p in traced)
    out["trace.pass_s"] = (traced_s, "s")
    out["trace.overhead_pct"] = (100.0 * (traced_s / statistics.median(plain) - 1.0), "%")
    _write_spans(spans_path, ops, by_op, qend)
    silent = [o for o in ops if o["pass"] in traced and not by_op[id(o)]["trigger"]]
    return out, silent


NAMES = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_actions": "count", "operators.build_share": "ratio",
    "planner.analysis_ms": "ms", "planner.optimization_ms": "ms",
    "planner.planning_ms": "ms", "planner.actions": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.task_gc_s": "s", "exec.cpu_share": "ratio", "exec.slot_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "streaming.queries": "count", "streaming.triggers": "count",
    "streaming.trigger_ms": "ms", "streaming.addbatch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.lifecycle_ms": "ms", "streaming.input_rows": "count",
    "sources.input_mb": "MB", "sources.input_records": "count",
    "sources.output_mb": "MB", "sources.output_records": "count",
}


def _write_spans(path, ops, by_op, qend):
    """One span per op, build, action, stream query, trigger, job and stage,
    each under the innermost span whose interval holds its start, with its
    self time: duration minus what its children cover."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = []

    def span(parent, name, t0, t1, **kw):
        s = dict(id=len(spans), parent=None if parent is None else parent["id"], name=name,
                 t0=t0, t1=t1, dur_ms=t1 - t0, kids=[], **kw)
        if parent is not None:
            parent["kids"].append((t0, t1))
        spans.append(s)
        return s

    for o in ops:
        ev = by_op[id(o)]
        top = span(None, "op", o["t0"], o["t1"], op=o["name"], ok=o["ok"],
                   **{"pass": o["pass"]})
        build = span(top, "build", o["t0"], o["t_build"], op=o["name"], plans=0)
        action = span(top, "action", o["t_build"], o["t1"], op=o["name"], plans=0)

        def part(t):
            return build if t < o["t_build"] else action
        for x in ev["plan"]:
            part(x["t"])["plans"] += 1
        triggers = []
        for q in ev["qstart"]:
            qs = span(part(q["t"]), "stream_query", q["t"], qend.get(q["id"], q["t"]),
                      op=o["name"])
            triggers += [span(qs, "trigger", t["t"], t["t"] + t["trigger_ms"], op=o["name"],
                              state_commit_ms=t["state_commit_ms"], input_rows=t["input_rows"])
                         for t in ev["trigger"] if t["id"] == q["id"]]
        for j in ev["job"]:
            parent = next((t for t in triggers if t["t0"] <= j["t0"] <= t["t1"]), part(j["t0"]))
            js = span(parent, "job", j["t0"], j["t1"], op=o["name"])
            for st in ev["stage"]:
                if j["t0"] <= st["t0"] <= j["t1"]:
                    span(js, "stage", st["t0"], st["t1"], op=o["name"], tasks=st["tasks"],
                         task_run_ms=st["run_ms"], task_cpu_ms=st["cpu_ns"] // 1000000)
    with open(path, "w") as f:
        for s in spans:
            s["self_ms"] = s["dur_ms"] - _union_ms(s.pop("kids"), s["t0"], s["t1"])
            f.write(json.dumps(s) + "\n")

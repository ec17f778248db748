"""Spans and per-layer metrics of a traced run.

`perfbench.Main` records each op's phase boundaries and, from Spark's
listeners, the jobs and stages each op caused. Here they become one span
tree per op, all sharing the op's id:

    op  ->  construct | plan | exec   (phases)
        ->  job                       (under the phase it ran in)
        ->  stage

`construct` is the builder call; `plan` runs from its return to the end of
physical planning of the write, as Spark's planning tracker recorded it;
`exec` is the rest of the write.

Children are clipped to their parent. Self time is the part of a span's
interval that no child covers; where concurrent siblings overlap (parallel
jobs or stages), the overlapping time goes to the one that started first,
so the self times of an op's spans add up exactly to its wall time.
"""
import json
import statistics

# Job call sites: the innermost engine object on the stack that launched
# the job (the objects the two workloads' entries reach); `bench` is the
# benchmark's own materialization call and any other site.
SITES = ["operators.Dedup", "operators.Similarity", "operators.Kernels",
         "bench"]

OPS = ([f"q{i}" for i in range(1, 23)] + [
    "dedup_exact_substring", "dedup_spans", "dedup_minhash_lsh",
    "dedup_minhash_lsh_md5", "sim_semantic_dedup", "text_stats",
    "text_quality"])

PHASES = ["construct", "plan", "exec"]
KINDS = ["op"] + PHASES + ["job", "stage"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_spans(op, jobs, stages_by_job):
    """The spans of one op: dicts with id, parent, name, kind, depth,
    start and end (epoch ms)."""
    oid = op["id"]
    bounds = [op["start_ms"], op["construct_end_ms"], op["plan_end_ms"],
              op["end_ms"]]
    phases = {ph: (bounds[i], bounds[i + 1]) for i, ph in enumerate(PHASES)}
    spans = [dict(id=oid, parent=None, name=op["name"], kind="op", depth=0,
                  start=bounds[0], end=bounds[3])]
    for ph, (a, b) in phases.items():
        spans.append(dict(id=f"{oid}/{ph}", parent=oid, name=ph, kind=ph,
                          depth=1, start=a, end=b))
    for j in jobs:
        # the listener marks jobs construct or exec; a write job that
        # ended before the write's planning did ran while it planned
        ph = "construct" if j["phase"] == "construct" else (
            "plan" if j["end_ms"] <= bounds[2] else "exec")
        a, b = phases[ph]
        js, je = max(j["start_ms"], a), min(j["end_ms"], b)
        if je <= js:
            continue
        jid = f"{oid}/{ph}/job{j['id']}"
        spans.append(dict(id=jid, parent=f"{oid}/{ph}",
                          name=f"job {j['id']} ({j['site']})", kind="job",
                          depth=2, start=js, end=je))
        for st in stages_by_job.get(j["id"], []):
            ss, se = max(st["start_ms"], js), min(st["end_ms"], je)
            if se > ss:
                spans.append(dict(id=f"{jid}/stage{st['id']}", parent=jid,
                                  name=st["name"], kind="stage", depth=3,
                                  start=ss, end=se))
    return spans


def self_times(spans):
    """Exclusive attribution: each instant of the op goes to the deepest
    span covering it (earliest start among equals). Returns {id: ms}."""
    cuts = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    out = {s["id"]: 0.0 for s in spans}
    for a, b in zip(cuts, cuts[1:]):
        live = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if live:
            owner = min(live, key=lambda s: (-s["depth"], s["start"]))
            out[owner["id"]] += b - a
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def index(raw):
    jobs_by_op, stages_by_job = {}, {}
    for j in raw["jobs"]:
        if j["end_ms"] >= 0:
            jobs_by_op.setdefault(j["op"], []).append(j)
    for s in raw["stages"]:
        stages_by_job.setdefault(s["job"], []).append(s)
    return jobs_by_op, stages_by_job


def pass_layers(p, slots, jobs_by_op, stages_by_job):
    """Per-layer sums over one pass."""
    m = {k: 0.0 for k in [
        "sources.scan_bytes", "queries.construct_s", "queries.construct_jobs",
        "engine.plan_s", "engine.exec_s", "engine.jobs", "engine.stages",
        "engine.tasks", "engine.task_s", "engine.max_task_s",
        "engine.shuffle_read_bytes", "engine.shuffle_write_bytes",
        "engine.spill_bytes", "engine.failed_tasks", "engine.driver_only_s"]}
    m.update({f"{s}.job_s": 0.0 for s in SITES})
    m.update({f"self.{k}_s": 0.0 for k in KINDS})
    busy = 0.0
    for o in p["ops"]:
        jobs = jobs_by_op.get(o["id"], [])
        lo, hi = o["start_ms"], o["end_ms"]
        job_ms = union_ms([(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi)
        busy += job_ms
        m["engine.driver_only_s"] += (hi - lo - job_ms) / 1e3
        m["queries.construct_s"] += (o["construct_end_ms"] - lo) / 1e3
        m["engine.plan_s"] += (o["plan_end_ms"] - o["construct_end_ms"]) / 1e3
        m["engine.exec_s"] += (hi - o["plan_end_ms"]) / 1e3
        for j in jobs:
            m["queries.construct_jobs"] += j["phase"] == "construct"
            m["engine.jobs"] += 1
            m["engine.stages"] += len(stages_by_job.get(j["id"], []))
            m["engine.tasks"] += j["tasks"]
            m["engine.task_s"] += j["task_ms"] / 1e3
            m["engine.max_task_s"] = max(m["engine.max_task_s"],
                                         j["max_task_ms"] / 1e3)
            m["engine.shuffle_read_bytes"] += j["shuffle_read_bytes"]
            m["engine.shuffle_write_bytes"] += j["shuffle_write_bytes"]
            m["engine.spill_bytes"] += j["spill_bytes"]
            m["engine.failed_tasks"] += j["failed_tasks"]
            m["sources.scan_bytes"] += j["input_bytes"]
            site = j["site"] if j["site"] in SITES else "bench"
            m[f"{site}.job_s"] += (j["end_ms"] - j["start_ms"]) / 1e3
        sp = op_spans(o, jobs, stages_by_job)
        kind = {s["id"]: s["kind"] for s in sp}
        for sid, ms in self_times(sp).items():
            m[f"self.{kind[sid]}_s"] += ms / 1e3
    m["engine.utilization"] = (m["engine.task_s"] / (busy / 1e3 * slots)
                               if busy > 0 else 0.0)
    m["engine.gc_s"] = p["gc_s"]
    return m


UNITS = {"sources.scan_bytes": "bytes", "queries.construct_jobs": "count",
         "engine.jobs": "count", "engine.stages": "count",
         "engine.tasks": "count", "engine.utilization": "ratio",
         "engine.shuffle_read_bytes": "bytes",
         "engine.shuffle_write_bytes": "bytes", "engine.spill_bytes": "bytes",
         "engine.failed_tasks": "count"}


def per_layer(raw, fail_ratio):
    """Every per-layer metric of a traced run: {name: (value, unit)}. Layer
    sums are per traced pass, median over the traced passes; op latencies
    come from the untraced passes of the same run."""
    jobs_by_op, stages_by_job = index(raw)
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    rows = [pass_layers(p, raw["slots"], jobs_by_op, stages_by_job)
            for p in traced]
    out = {"setup.warmup_s": (raw["warmup_s"], "s"),
           "engine.session_s": (raw["session_s"], "s"),
           "sources.load_s": (median(raw["load_s"]), "s"),
           "sources.cache_mb": (raw["cache_bytes"] / 1048576.0, "MB")}
    for k in rows[0]:
        out[k] = (median([r[k] for r in rows]), UNITS.get(k, "s"))
    timed = [o for p in raw["passes"] for o in p["ops"]]
    out["engine.error_lines"] = (sum(o["error_lines"] for o in timed), "count")
    for k, v in raw["functions"].items():
        out[f"functions.{k}"] = (v, "ns/row")
    walls = {}
    for p in untraced:
        for o in p["ops"]:
            walls.setdefault(o["name"], []).append(
                (o["end_ms"] - o["start_ms"]) / 1e3)
    for name in OPS:
        out[f"op.{name}.p50_s"] = (median(walls.get(name, [])), "s")
    out["trace.overhead_ratio"] = (
        median([p["wall_s"] for p in traced]) /
        median([p["wall_s"] for p in untraced]), "ratio")
    out["host.cal_serial_s"] = (median(raw["cal_serial_s"]), "s")
    out["host.cal_mt_s"] = (median(raw["cal_mt_s"]), "s")
    out["op_fail_ratio"] = (fail_ratio, "ratio")
    return {k: (float(v), u) for k, (v, u) in out.items()}


def write_trace(raw, path):
    """All spans of the traced passes, with self times, as JSON."""
    jobs_by_op, stages_by_job = index(raw)
    out = []
    for p in raw["passes"]:
        if not p["traced"]:
            continue
        for o in p["ops"]:
            sp = op_spans(o, jobs_by_op.get(o["id"], []), stages_by_job)
            st = self_times(sp)
            for s in sp:
                s["op"] = o["id"]
                s["self_ms"] = st[s["id"]]
            out.extend(sp)
    with open(path, "w") as f:
        json.dump(out, f)

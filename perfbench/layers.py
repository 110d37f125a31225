"""Per-layer metrics from one traced pass.

The JVM side writes the raw trace (``trace.json``): harness spans (pass,
query, build, exec) and, from Spark's listeners, jobs, stages with summed
task metrics, SQL executions and each action's planning phases. All times
are epoch milliseconds. This module does the arithmetic:

- the union of time intervals, and a span's self time (its duration minus
  the part of it that its children cover);
- attribution of each job to the graft module named in its call site;
- the layer metrics listed in ``LAYER_METRICS``.
"""
import re

# graft packages reported under op.<module>; core is split by object.
MODULES = ["graph", "recommend", "cluster", "preprocessing", "decomposition",
           "modelselection", "metrics", "llmdata", "relational", "functions",
           "linkage", "featureextraction", "quality", "wrappers", "naivebayes",
           "ensemble", "linear", "compose", "core.Prefix", "core.FanOut",
           "core.other", "other"]
# op.final: the benchmark's own materialization of each query result;
# op.unattributed: jobs whose call site names no graft or benchmark frame.
OPS = MODULES + ["final", "unattributed"]

LAYER_METRICS = [
    ("driver.build_s", "s"), ("driver.exec_s", "s"), ("driver.self_s", "s"),
    ("driver.plan_s", "s"), ("driver.actions", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.stages_skipped", "count"), ("scheduler.tasks", "count"),
    ("scheduler.job_s", "s"), ("scheduler.delay_s", "s"),
    ("scheduler.useful_task_frac", "ratio"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.spill_mb", "MB"), ("shuffle.fetch_wait_s", "s"),
    ("storage.peak_mb", "MB"), ("storage.end_mb", "MB"),
    ("storage.rdds_end", "count"),
    ("scan.input_mb", "MB"), ("scan.input_records", "count"),
] + [(f"op.{m}.{k}", u) for m in OPS for k, u in (("job_s", "s"), ("jobs", "count"))] + [
    ("op.attributed_frac", "ratio"), ("trace.overhead_frac", "ratio"),
]

MB = 1e6
_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(")


def union(intervals):
    """Total length covered by (start, end) intervals; empty ones count 0."""
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


def self_time(span, children):
    """Duration of ``span`` not covered by any child, children clipped to it."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union(clipped)


def module_of(callsite):
    """graft module of the first graft or benchmark frame, or None."""
    for line in (callsite or "").splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        cls = m.group(1)
        if cls.startswith("perfbench."):
            return "final"
        if not cls.startswith("graft."):
            continue
        parts = cls.split(".")
        if len(parts) < 3:
            return "other"
        pkg = parts[1]
        if pkg == "core":
            obj = parts[2].split("$")[0]
            return "core." + obj if obj in ("Prefix", "FanOut") else "core.other"
        return pkg if pkg in MODULES else "other"
    return None


def attribute(job, sql_details):
    """op.* bucket of a job: its own call site, else its SQL execution's."""
    mod = module_of(job.get("callsite"))
    if mod is None and job.get("sql") is not None:
        mod = module_of(sql_details.get(int(job["sql"])))
    return mod or "unattributed"


def pass_jobs(trace, pass_span):
    """Jobs of one pass: linked through the span property, else by time."""
    parent = {s["id"]: s["parent"] for s in trace["spans"]}

    def root(sid):
        seen = 0
        while sid in parent and parent[sid] != 0 and seen < 8:
            sid, seen = parent[sid], seen + 1
        return sid

    out = []
    for j in trace["jobs"]:
        if j.get("span") is not None:
            if root(int(j["span"])) == pass_span["id"]:
                out.append(j)
        elif pass_span["start"] <= j["start"] <= pass_span["end"]:
            out.append(j)
    return out


def layer_metrics(trace, pass_span, run_pass, cores):
    """Every metric of LAYER_METRICS (but the overhead) for one traced pass."""
    p0, p1 = pass_span["start"], pass_span["end"]
    jobs = pass_jobs(trace, pass_span)
    job_ids = {j["id"] for j in jobs}
    job_iv = [(j["start"], j["end"] if j["end"] >= 0 else p1) for j in jobs]
    stages = [s for s in trace["stages"] if s["job"] in job_ids]
    submitted = {s["id"] for s in stages if s["submitted"] >= 0}
    listed = {sid for j in jobs for sid in j["stages"]}
    plans = [p for p in trace["plans"] if p["pass"] == pass_span["name"]]
    spans = [s for s in trace["spans"] if p0 <= s["start"] <= p1]

    def tot(key):
        return sum(s[key] for s in stages)

    job_s = union(job_iv) / 1e3
    tasks = tot("tasks")
    run_s = tot("run_ms") / 1e3
    m = {
        "driver.build_s": sum(s["end"] - s["start"] for s in spans if s["kind"] == "build") / 1e3,
        "driver.exec_s": sum(s["end"] - s["start"] for s in spans if s["kind"] == "exec") / 1e3,
        "driver.self_s": sum(self_time((s["start"], s["end"]), job_iv)
                             for s in spans if s["kind"] == "query") / 1e3,
        "driver.plan_s": sum(p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]
                             for p in plans) / 1e3,
        "driver.actions": len(plans),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.stages_skipped": len(listed - submitted),
        "scheduler.tasks": tasks,
        "scheduler.job_s": job_s,
        "scheduler.delay_s": tot("delay_ms") / 1e3,
        "scheduler.useful_task_frac": tot("useful") / tasks if tasks else 0.0,
        "executor.run_s": run_s,
        "executor.cpu_s": tot("cpu_ns") / 1e9,
        "executor.gc_s": tot("gc_ms") / 1e3,
        "executor.busy_frac": run_s / (job_s * cores) if job_s else 0.0,
        "shuffle.write_mb": tot("shuffle_write") / MB,
        "shuffle.read_mb": tot("shuffle_read") / MB,
        "shuffle.spill_mb": tot("spill_disk") / MB,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "storage.peak_mb": run_pass["block_peak_bytes"] / MB,
        "storage.end_mb": run_pass["end_storage_bytes"] / MB,
        "storage.rdds_end": run_pass["end_rdds"],
        "scan.input_mb": tot("input_bytes") / MB,
        "scan.input_records": tot("input_records"),
    }
    sql_details = {q["id"]: q["details"] for q in trace["sql"]}
    by_op = {op: [0.0, 0] for op in OPS}
    for j, (s, e) in zip(jobs, job_iv):
        acc = by_op[attribute(j, sql_details)]
        acc[0] += (e - s) / 1e3
        acc[1] += 1
    for op, (secs, n) in by_op.items():
        m[f"op.{op}.job_s"] = secs
        m[f"op.{op}.jobs"] = n
    all_s = sum(v[0] for v in by_op.values())
    m["op.attributed_frac"] = (all_s - by_op["unattributed"][0]) / all_s if all_s else 0.0
    return m


def span_self_times(trace, pass_span):
    """Self time in seconds of each span of a pass, keyed by span id.

    A harness span's children are its child spans and the jobs that ran
    under it (linked through the span local property)."""
    p0, p1 = pass_span["start"], pass_span["end"]
    spans = [s for s in trace["spans"] if p0 <= s["start"] <= p1]
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append((s["start"], s["end"]))
    for j in pass_jobs(trace, pass_span):
        if j.get("span") is not None and int(j["span"]) in kids:
            kids[int(j["span"])].append((j["start"], j["end"] if j["end"] >= 0 else p1))
    return {s["id"]: self_time((s["start"], s["end"]), kids[s["id"]]) / 1e3 for s in spans}

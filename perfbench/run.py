#!/usr/bin/env python3
"""graft benchmark: closed-loop passes over fixed sets of SparkEntry queries.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload rounds_fit --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

The first run builds the program from source (sbt, offline), generates the
data sets and caches each query's DuckDB oracle result; all of it lives in
``.bench_build/perfbench`` under the checkout. Each run then starts one JVM
that sets up a Spark session, warms it up with one pass over the workload's
queries, runs timed passes and writes every result. The seed picks the
query order of each pass.
Every result of every pass is checked against its oracle. With ``--trace 0``
the last stdout line carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (see README.md).
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCES = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_2.13-0.1.0.jar")

# data set name -> multiple of the sf0.01 row counts (Harness.gen)
DATA = {"base": 1, "x4": 4}

WORKLOADS = {
    "rounds_fit": {
        "data": "base",
        "queries": ["q_seed_distance", "q_roc_auc", "q_standard_scaler_transform"],
    },
    "corpus_x4": {
        "data": "x4",
        "queries": ["q_dedup_jaccard", "q_logrank"],
    },
}

HEAP = "3g"             # driver heap of the benchmark JVM
MAX_PASSES = 16         # query orders drawn per run; pass k uses the k-th
RUN_TIMEOUT = 150       # seconds for the timed JVM; a run past it fails
BUILD_TIMEOUT = 850

E2E = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
       ("peak_storage_mb", "MB"), ("pass_frac", "ratio")]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


_children = []


def _kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def _stop_children(signum, _frame):
    for p in list(_children):
        _kill(p)
    fail(f"stopped by signal {signum}")


def run_proc(cmd, timeout, cwd=ROOT, env=None):
    """Run ``cmd`` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        _kill(p)
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
    finally:
        _children.remove(p)
    if p.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"exit code {p.returncode}: {' '.join(cmd[:3])} ...")
    return out


# ---- build ------------------------------------------------------------

def source_digest():
    h = hashlib.sha1()
    for base in (SOURCES, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(digest):
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building the program and the harness (sbt package)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
             BUILD_TIMEOUT, cwd=HERE, env=env)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)


def spark_jars():
    """The Spark jar directory of the program's own build (its unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if m is None:
        fail("no unmanagedBase in build.sbt to take the Spark jars from")
    return m.group(1)


def java(args, timeout, jvm_opts=()):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + list(jvm_opts)
           + ["-cp", f"{JAR}{os.pathsep}{spark_jars()}/*", "perfbench.Harness"] + args)
    return run_proc(cmd, timeout)


def class_archive(digest):
    """JVM options that load classes from a class-data-sharing archive.

    Spark's start loads thousands of classes from ~300 jars, which takes a
    fresh JVM about 10 s on a 4-core host and would dominate set-up. The
    archive is dumped once per build, by a short run of the query q1_agg, and
    maps those classes into every later JVM."""
    path = os.path.join(WORK, f"classes-{digest}.jsa")
    if not os.path.exists(path):
        for old in os.listdir(WORK):  # archives of earlier builds
            if old.startswith("classes-") and old.endswith(".jsa"):
                os.remove(os.path.join(WORK, old))
        log("dumping the class-data-sharing archive")
        out = os.path.join(WORK, "runs", "archive")
        shutil.rmtree(out, ignore_errors=True)
        # a JVM dumps its archive even when it fails, so keep only a success
        java(["run", f"data={data_dir('base')}", f"out={out}", "orders=q1_agg",
              "seconds=0", "trace=0", f"cpus={len(os.sched_getaffinity(0))}"], 300,
             [f"-XX:ArchiveClassesAtExit={path}.tmp"])
        if os.path.exists(path + ".tmp"):
            os.replace(path + ".tmp", path)
        shutil.rmtree(out, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={path}"] if os.path.exists(path) else []


# ---- one-time inputs --------------------------------------------------

def data_dir(tag):
    return os.path.join(WORK, "data", tag)


def ensure_data():
    todo = [t for t in DATA if not os.path.exists(os.path.join(data_dir(t), "_COMPLETE"))]
    if todo:
        log(f"generating data sets {todo}")
        java(["gen"] + [f"{data_dir(t)}={DATA[t]}" for t in todo], 600)


def data_stats(tag):
    """Rows and parquet files per table of a data set (cached)."""
    path = os.path.join(data_dir(tag), "stats.json")
    if not os.path.exists(path):
        import pyarrow.parquet as pq
        stats = {}
        for t in oracle.TABLES:
            files = sorted(f for f in os.listdir(os.path.join(data_dir(tag), f"{t}.parquet"))
                           if f.endswith(".parquet"))
            rows = sum(pq.ParquetFile(os.path.join(data_dir(tag), f"{t}.parquet", f))
                       .metadata.num_rows for f in files)
            stats[t] = {"rows": rows, "files": len(files)}
        with open(path, "w") as f:
            json.dump(stats, f)
    with open(path) as f:
        return json.load(f)


def expectations(digest):
    """Oracle result of every workload query on every data set (cached)."""
    names = sorted({q for w in WORKLOADS.values() for q in w["queries"]})
    sql_path = os.path.join(WORK, f"oracle_sql-{digest}.json")
    if not os.path.exists(sql_path):
        java(["oracles", f"out={sql_path}"], 120)
    with open(sql_path) as f:
        sql = json.load(f)
    missing = [q for q in names if not sql.get(q)]
    if missing:
        fail(f"queries without DuckDB oracle SQL: {missing}")
    sql = {q: sql[q] for q in names}
    return {tag: oracle.expected(data_dir(tag), sql, os.path.join(WORK, "oracle", tag))
            for tag in DATA}


# ---- checking ---------------------------------------------------------

def count_failures(run, check):
    """(attempted, failures) over every query of every pass.

    A query fails if it threw (its recorded error) or if ``check(pass, name)``
    returns a difference from its oracle result."""
    attempted, failures = 0, []
    for k, p in enumerate(run["passes"], start=1):
        for q in p["queries"]:
            attempted += 1
            why = q["error"] or check(k, q["name"])
            if why:
                failures.append({"pass": k, "query": q["name"], "why": why[:300]})
    return attempted, failures


def median(xs):
    return statistics.median(xs) if xs else 0.0


def query_median_sum(passes, value):
    """Sum over queries of the median across passes of ``value(query run)``.

    A host stall inflates one query of one pass; the per-query median drops
    it, where the median of pass totals keeps any pass it landed in."""
    values = {}
    for p in passes:
        for q in p["queries"]:
            values.setdefault(q["name"], []).append(value(q))
    return sum(median(v) for v in values.values())


# ---- one workload -----------------------------------------------------

def run_workload(name, seed, seconds, trace, digest, expect, jvm_opts):
    w = WORKLOADS[name]
    rng = random.Random(seed)
    orders = [rng.sample(w["queries"], len(w["queries"])) for _ in range(MAX_PASSES)]
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(WORK, "runs", f"{name}-t{trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    java(["run", f"data={data_dir(w['data'])}", f"out={out}",
          "orders=" + ";".join(",".join(o) for o in orders),
          f"seconds={seconds}", f"trace={trace}", f"cpus={cpus}"], RUN_TIMEOUT, jvm_opts)
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    exp = expect[w["data"]]
    attempted, failures = count_failures(
        run, lambda k, q: oracle.check(os.path.join(out, f"p{k}", q), exp[q]))
    # negative probe: pass 1 checked against the other data set's oracles
    other = expect[next(t for t in DATA if t != w["data"])]
    probe_passed = [q for q in w["queries"]
                    if oracle.check(os.path.join(out, "p1", q), other[q]) is None]

    passes = run["passes"]
    timed = passes[1:]  # pass 1 is the set-up's warm-up pass
    if trace:
        with open(os.path.join(out, "trace.json")) as f:
            trace_doc = json.load(f)
        pass_spans = {s["name"]: s for s in trace_doc["spans"] if s["kind"] == "pass"}
        per_pass = [layers.layer_metrics(trace_doc, pass_spans[f"p{k}"], p, cpus)
                    for k, p in enumerate(passes, start=1) if p["traced"]]
        traced = [p["wall_s"] for p in passes if p["traced"]]
        untraced = [p["wall_s"] for p in timed if not p["traced"]]
        metrics = {m: median([pm[m] for pm in per_pass])
                   for m, _ in layers.LAYER_METRICS if m != "trace.overhead_frac"}
        metrics["trace.overhead_frac"] = median(traced) / median(untraced) - 1
        units = dict(layers.LAYER_METRICS)
        span_self = [layers.span_self_times(trace_doc, pass_spans[f"p{k}"])
                     for k, p in enumerate(passes, start=1) if p["traced"]]
    else:
        metrics = {
            "setup_s": run["setup_s"],
            "wall_s": query_median_sum(timed, lambda q: q["build_s"] + q["exec_s"]),
            "cpu_s": query_median_sum(timed, lambda q: q["cpu_s"]),
            "peak_storage_mb": median([p["peak_storage_bytes"] for p in timed]) / layers.MB,
            "pass_frac": 1 - len(failures) / attempted,
        }
        units = dict(E2E)
        span_self = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    report = {
        "workload": name, "seed": seed, "trace": trace,
        "host": dict(run["host"], commit=commit, source_digest=digest),
        "data": {"dir": os.path.relpath(data_dir(w["data"]), ROOT),
                 "tables": data_stats(w["data"])},
        "setup_s": run["setup_s"], "measured_s": run["measured_s"],
        "passes": passes,
        "failures": failures,
        "failed_queries": sorted({f["query"] for f in failures}),
        "probe": {"checked": len(w["queries"]), "passed_wrong_oracle": probe_passed},
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }
    if span_self is not None:
        report["span_self_s"] = span_self
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{name}-seed{seed}-t{trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if trace:  # the raw spans, jobs and stages, for questions the metrics leave open
        os.replace(os.path.join(out, "trace.json"),
                   os.path.join(results, f"{name}-seed{seed}-trace.json"))
    shutil.rmtree(out, ignore_errors=True)
    return report, attempted, len(failures)


def summary(report):
    h = report["host"]
    lines = [f"{report['workload']}: seed {report['seed']}, trace {report['trace']}, "
             f"{len(report['passes']) - 1} timed passes, cpus {h['cpus']}, heap {h['heap_mb']} MB, "
             f"Spark {h['spark']}, JDK {h['jdk']}, commit {h['commit']}, "
             f"source {h['source_digest']}",
             "  data " + report["data"]["dir"] + ": " + ", ".join(
                 f"{t} {s['rows']} rows/{s['files']} files"
                 for t, s in report["data"]["tables"].items())]
    for m, v in report["metrics"].items():
        lines.append(f"  {m:<32} {v['value']:>14.6f} {v['unit']}")
    lines.append("  failed queries: " + (", ".join(report["failed_queries"]) or "none"))
    probe = report["probe"]
    lines.append(f"  negative probe: {probe['checked'] - len(probe['passed_wrong_oracle'])}"
                 f"/{probe['checked']} queries fail against the other data set's oracles")
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=27)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS for n in names):
        fail(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}, all")
    if not os.path.isfile(os.path.join(SOURCES, "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {SOURCES}; run from the repository root")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    digest = source_digest()
    build(digest)
    ensure_data()
    expect = expectations(digest)
    jvm_opts = class_archive(digest)
    results = {}
    for n in names:
        report, attempted, failed = run_workload(n, a.seed, a.seconds, a.trace, digest, expect,
                                                 jvm_opts)
        print(summary(report), flush=True)
        results[n] = (report, attempted, failed)
    if len(names) == 1:
        report, attempted, failed = results[names[0]]
        metrics = report["metrics"]
    else:
        attempted = sum(r[1] for r in results.values())
        failed = sum(r[2] for r in results.values())
        metrics = {f"{n}.{m}": v for n, r in results.items() for m, v in r[0]["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()

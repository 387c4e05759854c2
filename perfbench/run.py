#!/usr/bin/env python3
"""graft benchmark: the validator's submission path and a pinned query sweep.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
source into .bench_build/ (sbt, offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed into
.bench_build/work/, the program runs in one JVM on local[<cores>], every
output is checked, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run and
writes its spans and layer detail to .bench_build/results/.

Workloads (see README.md): submission_dirty, query_sweep, and
submission_clean (not in BENCHMARK.json; kept for checking that a change
aimed at output-heavy submissions leaves a clean one alone).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import statistics
import sys
import threading
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_submission  # noqa: E402
import gen_tables  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
# a run must print its result within 180 s of starting (after any build)
DEADLINE_S = 170
# input sizes: a submission's cost is mostly per-job and code-generation
# overhead, so rows barely move it; the sweep's tables are the size of the
# sf0.01 test data (about 90k rows)
PARTICIPANTS = 1000
TABLE_SCALE = 1.0
# the module opens Spark needs on JDK 17 when started without spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
WORKLOADS = ("submission_dirty", "query_sweep", "submission_clean")
# core-speed probe (README.md, "Why CPU time"): a fixed unit of integer work
# timed in thread CPU time every PROBE_PERIOD_S while the JVM runs;
# PROBE_REF_S is its time at the reference speed
PROBE_PERIOD_S = 2.0
PROBE_REF_S = 0.045


# ------------------------------------------------------------------- build

def _sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution the program runs on: $SPARK_HOME, else the one
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compile the program and the harness unless the sources are unchanged
    since the last build; returns the sources' digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources under src/main/scala/graft")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    digest = _sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and _read(stamp) == digest:
        return digest
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def _read(path):
    with open(path) as f:
        return f.read()


def read_json(path):
    with open(path) as f:
        return json.load(f)


def cores():
    return str(len(os.sched_getaffinity(0)))


def cpu_ticks():
    """(steal, total) ticks of all CPUs since boot, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return ticks[7], sum(ticks)


def _probe_unit():
    x = 0
    for _ in range(300000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


class SpeedProbe(threading.Thread):
    """Times _probe_unit every PROBE_PERIOD_S until stopped. It runs in
    this process, beside the JVM, and takes about 1% of one core."""

    def __init__(self):
        super().__init__(daemon=True)
        self.stopped = threading.Event()
        self.samples = []

    def run(self):
        while not self.stopped.wait(PROBE_PERIOD_S):
            c0 = time.thread_time()
            _probe_unit()
            self.samples.append(time.thread_time() - c0)


def harness(args, log_path, deadline):
    """Run the JVM side; returns the share of CPU time the host stole from
    this machine meanwhile (None if unknown), which explains slow runs, and
    the speed probe's unit times."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*",
            "perfbench.Harness"] + args
    before = cpu_ticks()
    probe = SpeedProbe()
    probe.start()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"program did not finish in time, see {log_path}")
    finally:
        probe.stopped.set()
        probe.join()
    if rc != 0:
        raise SystemExit(f"program failed (exit {rc}), see {log_path}")
    if not probe.samples:
        raise SystemExit("the program ended before the speed probe ran")
    after = cpu_ticks()
    if before is None or after is None or after[1] == before[1]:
        return None, probe.samples
    return (after[0] - before[0]) / (after[1] - before[1]), probe.samples


# --------------------------------------------------------------- analysis

def children(spans, parent_id):
    return [s for s in spans if s["parent"] == parent_id]


def passes(result):
    return [s for s in result["spans"] if s["name"] == "pass"]


def span_sum(spans, key="dur_s"):
    """Sum over spans of their wall time ("dur_s"), their CPU time
    ("cpu_s") or one of their counters."""
    return sum(s[key] if key in ("dur_s", "cpu_s") else s["counts"].get(key, 0.0)
               for s in spans)


def pass_metrics(per_pass, rows, result, probe):
    """Medians over passes, in the JVM's CPU time at the reference core
    speed (the gated ones; README.md, "Why CPU time") and in wall time."""
    probe_s = statistics.mean(probe)
    speed = PROBE_REF_S / probe_s

    def med(key):
        return checks.median([m[key] for m in per_pass])
    return {
        "setup_s": result["setup_s"],
        "live_heap_mb": result["live_heap_mb"],
        "pass_cpu_s": med("pass_cpu_s") * speed,
        "rows_per_cpu_s": rows / (med("pass_cpu_s") * speed),
        "write_cpu_s": med("write_cpu_s") * speed,
        "read_cpu_s": med("read_cpu_s") * speed,
        "pass_s": med("pass_s"),
        "rows_per_s": rows / med("pass_s"),
        "write_s": med("write_s"),
        "read_s": med("read_s"),
        "pass_cpu_raw_s": med("pass_cpu_s"),
        "probe_unit_s": probe_s,
        "probe_samples": len(probe),
        "core_speed": speed,
    }


def pass_figures(pass_span, write, read):
    return {"pass_s": pass_span["dur_s"], "pass_cpu_s": pass_span["cpu_s"],
            "write_s": span_sum(write), "write_cpu_s": span_sum(write, "cpu_s"),
            "read_s": span_sum(read), "read_cpu_s": span_sum(read, "cpu_s")}


def submission_views(result, pass_span):
    """The pass split into the public calls it made."""
    parts = {s["name"]: s for s in children(result["spans"], pass_span["id"])}
    build_ = [parts["io.load"], parts["app.validate"]]
    exec_ = [parts["io.write"], parts["app.status"]]
    write = [parts["io.write"]]
    read = [parts["io.load"], parts["app.validate"], parts["app.status"]]
    return parts, build_, exec_, write, read


def sweep_views(result, pass_span, write_stmts):
    queries = children(result["spans"], pass_span["id"])
    build_ = [c for q in queries for c in children(result["spans"], q["id"]) if c["name"] == "build"]
    exec_ = [c for q in queries for c in children(result["spans"], q["id"]) if c["name"] == "exec"]
    write = [q for q in queries if q["name"][2:] in write_stmts]
    read = [q for q in queries if q["name"][2:] not in write_stmts]
    return queries, build_, exec_, write, read


def thread_cpu(result):
    """CPU seconds of the passes by kind of thread; threads that ended
    during the passes count as "other"."""
    by = result["cpu_by_thread_s"]
    out = {f"cpu.{k}_s": by.get(k, 0.0) for k in ("driver", "tasks", "jit", "gc")}
    out["cpu.other_s"] = by.get("other", 0.0) + by.get("exited", 0.0)
    return out


# ------------------------------------------------------------- workloads

def run_submission(workload, seed, seconds, trace, deadline):
    dirty = workload == "submission_dirty"
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    manifest = gen_submission.generate(os.path.join(work, "submission"), seed,
                                       PARTICIPANTS, dirty)
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    result_path = os.path.join(work, "result.json")
    steal, probe = harness(["submission", os.path.join(work, "submission"),
                     os.path.join(work, "out"), str(seconds), str(trace), cores(),
                     str(manifest["cbc"]), manifest["as_of"], result_path],
                    os.path.join(work, "harness.log"), deadline)
    result = read_json(result_path)

    failed = 0
    problems = []
    for p in result["passes"]:
        found = checks.check_submission(manifest, p["dir"], p["written"], p["severity"],
                                        p["status"])
        if found:
            failed += 1
            problems.extend(found)
    for msg in problems[:20]:
        print(f"check: {msg}", file=sys.stderr)

    per_pass = [pass_figures(p, *submission_views(result, p)[3:]) for p in passes(result)]
    rows = manifest["data_rows"]
    metrics = pass_metrics(per_pass, rows, result, probe)
    first = passes(result)[0]
    parts = submission_views(result, first)[0]
    detail = {
        "cold_submission_s": first["dur_s"],
        "submission_s": metrics["pass_s"],
        "input_rows": rows,
        "input_csv_bytes": manifest["csv_bytes"],
        "io.error_rows": sum(result["passes"][0]["written"].values()),
        "host_steal_frac": steal,
    }
    for n in ("io.load", "app.validate", "io.write", "app.status"):
        detail[f"{n}_s"] = parts[n]["dur_s"]
        detail[f"{n}_cpu_s"] = parts[n]["cpu_s"] * metrics["core_speed"]
    return result, metrics, detail, len(result["passes"]), failed, manifest


def run_sweep(seed, seconds, trace, deadline, layers):
    work = os.path.join(BUILD, "work", "query_sweep")
    shutil.rmtree(work, ignore_errors=True)
    sf = os.path.join(work, "sf")
    data = gen_tables.write(sf, seed, TABLE_SCALE)
    names = layers["query_sweep"]["queries"]
    with open(os.path.join(work, "queries.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    result_path = os.path.join(work, "result.json")
    steal, probe = harness(["sweep", sf, os.path.join(work, "queries.txt"), str(seconds),
                     str(trace), cores(), result_path],
                    os.path.join(work, "harness.log"), deadline)
    result = read_json(result_path)

    # oracle row counts: DuckDB over the same parquet, after the timed JVM exited
    oracle = {q["name"]: q["oracle"] for q in result["queries"]}
    expected = oracle_counts(sf, oracle)
    failed = 0
    for r in result["results"]:
        want = expected.get(r["name"])
        bad = (r["error"] or r["count"] < 0
               or (want is not None and r["count"] != want)
               or (want is None and r["count"] <= 0))
        if bad:
            failed += 1
            print(f"check: {r['name']} pass {r['pass']}: count {r['count']}, "
                  f"oracle {want} {r['error']}", file=sys.stderr)

    write_stmts = set(layers["query_sweep"]["write_stmt"])
    per_pass = [pass_figures(p, *sweep_views(result, p, write_stmts)[3:])
                for p in passes(result)]
    metrics = pass_metrics(per_pass, data["rows"], result, probe)
    times = [q["dur_s"] for q in sweep_views(result, passes(result)[0], write_stmts)[0]]
    detail = {
        "sweep_s": metrics["pass_s"],
        "write_stmt_s": metrics["write_s"],
        "read_query_s": metrics["read_s"],
        "query_p50_s": checks.percentile(times, 50),
        "query_p90_s": checks.percentile(times, 90),
        "queries": len(times),
        "input_rows": data["rows"],
        "input_parquet_bytes": data["bytes"],
        "host_steal_frac": steal,
    }
    return result, metrics, detail, len(result["results"]), failed, data


def oracle_counts(sf, oracle):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    counts = {}
    for name, sql in oracle.items():
        if sql is not None:
            counts[name] = con.execute(f"SELECT count(*) FROM ({sql}) t").fetchone()[0]
    return counts


# ----------------------------------------------------------- per-layer

def layer_metrics(workload, result, metrics, input_bytes, layers):
    """Per-layer metrics of a traced run: generic ones for the printed
    result, and the workload's own layer names for the artifact."""
    p = passes(result)[0]
    tot = p["counts"]
    if workload == "query_sweep":
        write_stmts = set(layers["query_sweep"]["write_stmt"])
        queries, build_, exec_, write, read = sweep_views(result, p, write_stmts)
        rows_out = sum(r["count"] for r in result["results"] if r["pass"] == 0 and r["count"] > 0)
    else:
        parts, build_, exec_, write, read = submission_views(result, p)
        rows_out = sum(result["passes"][0]["written"].values())
    generic = {
        "build_s": span_sum(build_),
        "exec_s": span_sum(exec_),
        "jobs": tot.get("jobs", 0.0),
        "stages": tot.get("stages", 0.0),
        "tasks": tot.get("tasks", 0.0),
        "task_busy_s": tot.get("task_busy_s", 0.0),
        "shuffle_write_bytes": tot.get("shuffle_write_bytes", 0.0),
        "spill_bytes": tot.get("spill_bytes", 0.0),
        "driver_only_s": tot.get("driver_only_s", 0.0),
        "catalyst.analysis_s": tot.get("catalyst.analysis", 0.0),
        "catalyst.optimization_s": tot.get("catalyst.optimization", 0.0),
        "catalyst.planning_s": tot.get("catalyst.planning", 0.0),
        "codegen_failures": tot.get("codegen_failures", 0.0),
        "scan_amplification": tot.get("input_bytes", 0.0) / input_bytes,
        "write_jobs": span_sum(write, "jobs"),
        "write_bytes": span_sum(write, "output_bytes"),
        "read_jobs": span_sum(read, "jobs"),
        "result_rows": float(rows_out),
        "write_cpu_s": metrics["write_cpu_s"],
        "read_cpu_s": metrics["read_cpu_s"],
        "trace_pass_s": metrics["pass_s"],
        "trace_pass_cpu_s": metrics["pass_cpu_s"],
        **thread_cpu(result),
    }
    named = {f"spark.{k}": generic[k] for k in (
        "jobs", "stages", "tasks", "task_busy_s", "shuffle_write_bytes", "spill_bytes",
        "driver_only_s")}
    named.update({k: generic[k] for k in generic if k.startswith("catalyst.")})
    if workload == "query_sweep":
        mods = {q["name"]: q["module"] for q in result["queries"]}
        for side, spans in (("write_stmt", write), ("read_query", read)):
            kids = [c for q in spans for c in children(result["spans"], q["id"])]
            named[f"{side}.build_s"] = span_sum([c for c in kids if c["name"] == "build"])
            named[f"{side}.exec_s"] = span_sum([c for c in kids if c["name"] == "exec"])
            named[f"{side}.jobs"] = span_sum(spans, "jobs")
        named["write_stmt.write_bytes"] = span_sum(write, "output_bytes")
        for m in sorted(set(mods.values())):
            mine = [q for q in queries if mods[q["name"][2:]] == m]
            named[f"family.{m}.s"] = span_sum(mine)
            named[f"family.{m}.jobs"] = span_sum(mine, "jobs")
    else:
        for n in ("io.load", "app.validate", "io.write", "app.status"):
            named[f"{n}_s"] = parts[n]["dur_s"]
            named[f"{n}_cpu_s"] = parts[n]["cpu_s"]
            named[f"{n}_jobs"] = parts[n]["counts"].get("jobs", 0.0)
        named["io.scan_amplification"] = generic["scan_amplification"]
        named["io.error_rows"] = float(rows_out)
        named["io.write_bytes"] = parts["io.write"]["counts"].get("output_bytes", 0.0)
        named["rules.codegen_failures"] = generic["codegen_failures"]
        for s in result["spans"]:
            if s["name"] in ("dispatch.merge_plan", "rules.eval", "dispatch.cross_sheet"):
                named[f"{s['name']}_s"] = s["dur_s"]
    return generic, named


# ------------------------------------------------------------------- main

def unit_of(name):
    """The unit of a printed figure, from its name."""
    for suffix, unit in (("per_s", "1/s"), ("per_cpu_s", "1/s"), ("_s", "s"), ("_mb", "MB"),
                         ("_bytes", "bytes"), ("_frac", "fraction"),
                         ("amplification", "ratio"), ("speed", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    layers = read_json(os.path.join(HERE, "layers.json"))
    digest = build()
    deadline = time.monotonic() + DEADLINE_S
    bench = read_json(os.path.join(ROOT, "BENCHMARK.json"))

    if a.workload == "query_sweep":
        result, metrics, detail, attempted, failed, data = run_sweep(
            a.seed, a.seconds, a.trace, deadline, layers)
        input_bytes = data["bytes"]
    else:
        result, metrics, detail, attempted, failed, manifest = run_submission(
            a.workload, a.seed, a.seconds, a.trace, deadline)
        input_bytes = manifest["csv_bytes"]
    detail.update(metrics)
    detail.update(thread_cpu(result))
    detail["failed_frac"] = failed / attempted

    e2e = {m["name"]: metrics[m["name"]] for m in bench["end_to_end"]}
    values = e2e
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "build": digest,
                "end_to_end": e2e, "detail": detail, "spans": result["spans"]}
    if a.trace:
        values, named = layer_metrics(a.workload, result, metrics, input_bytes, layers)
        artifact["per_layer"] = named
        untraced = [r for r in (read_json(p) for p in glob.glob(
            os.path.join(BUILD, "results", f"{a.workload}-seed*-trace0.json")))
            if r["build"] == artifact["build"]]
        if untraced:
            artifact["tracing_overhead_s"] = values["trace_pass_s"] - checks.median(
                [r["detail"]["pass_s"] for r in untraced])
            artifact["tracing_overhead_cpu_s"] = values["trace_pass_cpu_s"] - checks.median(
                [r["end_to_end"]["pass_cpu_s"] for r in untraced])
            artifact["tracing_overhead_base_runs"] = len(untraced)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    for k, v in sorted(detail.items()):
        print(f"{a.workload} {k} = {v} {unit_of(k)}")
    if a.trace:
        for k, v in sorted(artifact["per_layer"].items()):
            print(f"{a.workload} layer {k} = {v} {unit_of(k)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in bench["per_layer" if a.trace else "end_to_end"]},
    }))


if __name__ == "__main__":
    main()

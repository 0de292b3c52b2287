#!/usr/bin/env python3
"""ETL benchmark: a Carrot rules file mapping generated source CSVs to OMOP
tables through the shipped `graft.etl.CarrotCli` path.

    python3 etlbench/run.py --workload etl_bulk|etl_multi --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the checkout's
`src/main` together with the harness (sbt, offline) and caches the classpath
in `etlbench/target/`; later runs rebuild only when a source changed. Runs
write everything else under `.bench_build/etlbench/`.

`--trace 0` runs the CLI in fresh JVMs until at least `--seconds` of ETL
wall time are measured (one run when a run outlasts it) and prints the
end-to-end metrics. `--trace 1` runs one traced replay of the CLI's call
sequence and prints the per-layer metrics. Its tracing overhead is the
traced wall minus the median untraced wall of the earlier `--trace 0` runs
of the workload in this checkout (`results.jsonl`) that ran the same build
of the program and harness, on the same seed when there are any; with none
recorded, an untraced run is made first.

Every run checks its outputs against the generator's expectations; each
output table, the summary, the person-id map and the console counts is one
checked operation. The last stdout line is the result JSON; the line before
it records the run's weather.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "etlbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # no __pycache__ beside the sources
import gen  # noqa: E402

# fixed, recorded heap cap; the committed heap follows demand, so that
# peak_rss_mb shows the program's memory and not the cap. Spark runs
# local[*], one task thread per core
HEAP = "2g"
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}"]
RUN_LIMIT_S = 170  # every run ends well inside the 180 s a run may take

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MiB"}
LAYERS = ("rules_compile", "person_ids", "target_build", "target_write", "summary", "run_log")
COUNTERS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
            "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s", "slot_idle_s": "s",
            "shuffle_write_mb": "MiB", "spill_mb": "MiB", "input_mb": "MiB",
            "failed_tasks": "count", "scan_ratio": "ratio"}
# rules_compile launches no Spark job, so its task counters would read 0 on
# every run; its `jobs` counter still shows a job that appears there
LAYER_COUNTERS = {layer: COUNTERS for layer in LAYERS}
LAYER_COUNTERS["rules_compile"] = {c: COUNTERS[c] for c in ("wall_s", "driver_s", "jobs", "slot_idle_s")}
TRACE_TOTALS = {"wall_s": "s", "untraced_wall_s": "s", "overhead_s": "s", "task_cpu_s": "s",
                "group_mismatch_jobs": "count", "listener_s": "s"}


def log(msg):
    print(f"etlbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def fingerprint(paths):
    """Digest of the names and contents of the files at or under `paths`."""
    files = [p for p in paths if os.path.isfile(p)]
    for top in paths:
        files += [os.path.join(d, n) for d, _, names in os.walk(top) for n in names]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build_fingerprint():
    """Digest of every source the build compiles: the program and the harness."""
    return fingerprint([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                        os.path.join(HERE, "build.sbt"),
                        os.path.join(HERE, "project", "build.properties")])


def build(fp):
    """Compile the checkout's program with the harness; return the classpath."""
    # beside sbt's own outputs, so the cache lives and dies with them
    stamp = os.path.join(HERE, "target", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    log("building (sbt compile) ...")
    with open(os.path.join(WORK, "build.log"), "w") as blog:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=blog, text=True, timeout=840)
        blog.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and " " not in l]
    if p.returncode != 0 or not lines:
        log(f"build failed; see {os.path.join(WORK, 'build.log')}")
        sys.exit(3)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


# ------------------------------------------------------------------- runs

def jvm(cp, mode, data, out, deadline, extra=()):
    """One harness JVM; returns its result record."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(WORK, f"result-{mode}.json")
    if os.path.exists(result):
        os.remove(result)
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_PROF", "SPARK_MASTER", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "etlbench.Harness",
           "--mode", mode, "--rules", os.path.join(data, "rules.json"),
           "--inputs", os.path.join(data, "in"), "--output", out, "--result", result, *extra]
    with open(os.path.join(WORK, f"jvm-{mode}.log"), "w") as jlog:
        launched = time.time_ns()
        try:
            p = subprocess.run(cmd + ["--launched-epoch-ns", str(launched)], cwd=WORK,
                               stdout=jlog, stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            log(f"{mode} run passed the time limit; see {jlog.name}")
            sys.exit(4)
    if p.returncode != 0 or not os.path.exists(result):
        log(f"{mode} run failed (exit {p.returncode}); see {jlog.name}")
        sys.exit(5)
    with open(result) as f:
        return json.load(f)


def parse_log(lines):
    """The CLI's console counts: {source: {input, targets: {table: n}}}."""
    out, cur = {}, None
    for line in lines:
        if line.startswith("INPUT file data : "):
            src, rest = line[len("INPUT file data : "):].split(": input count ")
            cur = out[src] = {"input": int(rest.split(",")[0]), "targets": {}}
        elif line.startswith("TARGET: ") and cur is not None:
            table, n = line[len("TARGET: "):].split(": output count ")
            cur["targets"][table] = int(n)
    return out


def read_rows(path, cols):
    with open(path) as f:
        lines = f.read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    return ["\t".join(l.split("\t")[:cols]) for l in lines[1:]]


def check(exp, out, log_lines):
    """Compare one run's outputs with the expectations; returns the names of
    the failed operations and the number attempted."""
    failed = []

    def expect(name, ok, detail):
        if not ok:
            failed.append(name)
            log(f"check failed: {name}: {detail}")

    for table, e in exp["tables"].items():
        path = os.path.join(out, f"{table}.tsv")
        if not os.path.exists(path):
            expect(table, False, "missing")
            continue
        rows = read_rows(path, 3)
        expect(table, len(rows) == e["rows"] and gen.digest(rows) == e["sha256"],
               f"{len(rows)} rows (expected {e['rows']}) or ids/persons/concepts differ")
    path = os.path.join(out, "person_ids.tsv")
    pairs = sorted(read_rows(path, 2)) if os.path.exists(path) else []
    expect("person_ids", gen.digest(pairs) == exp["person_ids"]["sha256"],
           f"{len(pairs)} pairs (expected {exp['person_ids']['rows']}) or the map differs")
    path = os.path.join(out, "summary_mapstream.tsv")
    summary = read_rows(path, 11) if os.path.exists(path) else []
    bad = [i for i, (a, b) in enumerate(zip(summary, exp["summary_mapstream"])) if a != b]
    expect("summary_mapstream", summary == exp["summary_mapstream"],
           f"{len(summary)} rows (expected {len(exp['summary_mapstream'])}); "
           f"first difference at row {bad[0] if bad else min(len(summary), len(exp['summary_mapstream']))}")
    counts = parse_log(log_lines)
    expect("run_log", counts == exp["run_log"], f"console counts {counts}")
    return failed, len(exp["tables"]) + 3


def untraced(cp, data, out, exp, seconds, deadline):
    """Fresh-JVM CLI runs until `seconds` of ETL wall are measured."""
    runs, failed, attempted = [], [], 0
    while not runs or sum(r["wall_s"] for r in runs) < seconds:
        r = jvm(cp, "plain", data, out, deadline)
        f, n = check(exp, out, r["log"])
        runs.append(r)
        failed += f
        attempted += n
    return runs, failed, attempted


def file_key(name):
    """Short digest of one of the benchmark's own scripts."""
    with open(os.path.join(HERE, name), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def inputs(workload, seed):
    """Generated inputs and expectations, cached per seed and generator."""
    data = os.path.join(WORK, "data", f"{workload}-{seed}-{file_key('gen.py')}")
    done = os.path.join(data, "expect.json")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        gen.make(workload, seed, data + ".tmp")
        os.rename(data + ".tmp", data)
    with open(done) as f:
        return json.load(f), data


def untraced_history(workload, seed, fp):
    """ETL walls of the earlier correct untraced runs of `workload` here
    that ran build `fp` under this script on inputs of the current
    generator: those on `seed` if there are any, else those on the other
    seeds (of about the same size)."""
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    same = [r for r in recs
            if r["workload"] == workload and r["trace"] == 0 and not r["failed_checks"]
            and r["generator"] == file_key("gen.py") and r.get("runner") == file_key("run.py")
            and r.get("build_fingerprint") == fp]
    return [r["metrics"]["wall_s"] for r in ([r for r in same if r["seed"] == seed] or same)]


def weather(stage):
    """Load average, and CPU time stolen from this machine by its host."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {f"loadavg_{stage}": [round(x, 2) for x in os.getloadavg()], f"steal_s_{stage}": steal}


def static_weather(fp):
    with open("/proc/meminfo") as f:
        mem = next(l for l in f if l.startswith("MemTotal:")).split()[1]
    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": int(mem), "xmx": HEAP,
            "git_commit": git.stdout.strip() if git.returncode == 0 else None,
            "source_fingerprint": fingerprint([os.path.join(ROOT, "src", "main")])[:16],
            "build_fingerprint": fp}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_bulk", "etl_multi"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through subprocess.run, which kills and reaps the
    # running sbt or harness JVM before the exception leaves it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "generator": file_key("gen.py"), "runner": file_key("run.py"), **weather("start")}

    main_src = os.path.join(ROOT, "src", "main")
    if not os.path.isfile(os.path.join(main_src, "scala", "graft", "etl", "CarrotCli.scala")):
        log(f"no program sources under {main_src}; run from the root of a checkout")
        sys.exit(2)
    fp = build_fingerprint()
    cp = build(fp)
    deadline = time.monotonic() + RUN_LIMIT_S
    record.update(static_weather(fp))
    exp, data = inputs(a.workload, a.seed)
    out = os.path.join(WORK, "out")

    runs, failed, attempted = [], [], 0
    if a.trace == 0:
        runs, failed, attempted = untraced(cp, data, out, exp, a.seconds, deadline)
        wall = statistics.median(r["wall_s"] for r in runs)
        metrics = {
            "setup_s": statistics.median(r["setup_s"] for r in runs),
            "wall_s": wall,
            "rows_per_s": exp["input_rows"] / wall,
            "cpu_s": statistics.median(r["cpu_s"] for r in runs),
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in runs),
        }
        units = END_TO_END
    else:
        walls = untraced_history(a.workload, a.seed, fp)
        if not walls:
            runs, failed, attempted = untraced(cp, data, out, exp, 0, deadline)
            walls = [r["wall_s"] for r in runs]
        wall = statistics.median(walls)
        t = jvm(cp, "traced", data, out, deadline, ("--source-bytes", str(exp["source_bytes"])))
        f, n = check(exp, out, t["log"])
        failed += f
        attempted += n
        tr = t["trace"]
        spans = {s["name"]: s for s in tr["spans"]}
        metrics, units = {}, {}
        for layer in LAYERS:
            for c, u in LAYER_COUNTERS[layer].items():
                metrics[f"{layer}.{c}"] = spans[layer][c]
                units[f"{layer}.{c}"] = u
        traced_wall = sum(s["wall_s"] for s in tr["spans"])
        totals = {"wall_s": traced_wall, "untraced_wall_s": wall,
                  "overhead_s": traced_wall - wall, "task_cpu_s": tr["task_cpu_s"],
                  "group_mismatch_jobs": tr["group_mismatch_jobs"], "listener_s": tr["listener_s"]}
        for c, u in TRACE_TOTALS.items():
            metrics[f"trace.{c}"] = totals[c]
            units[f"trace.{c}"] = u
        record.update({"untraced_walls_s": walls,
                       "unattributed_task_cpu_s": tr["unattributed_task_cpu_s"]})
        with open(os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(t, f, indent=1)

    record.update(weather("end"))
    jvms = runs + ([t] if a.trace else [])
    record.update({"java": jvms[-1]["java"], "runs": len(jvms), "input_rows": exp["input_rows"],
                   "setups_s": [r["setup_s"] for r in jvms],
                   "failed_checks": failed, "metrics": metrics})
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"weather": {k: v for k, v in record.items() if k != "metrics"}}))
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()

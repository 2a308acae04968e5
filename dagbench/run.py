#!/usr/bin/env python3
"""One DAG-run benchmark for the AQI pipeline and a representative gate mix.

    python3 dagbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness with sbt
on first use, makes the workload's inputs from the seed under
`.bench_run/<workload>/`, runs the units in one JVM, checks every unit's
output, and prints one JSON line last: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
RUNS = os.path.join(REPO, ".bench_run")
sys.path.insert(0, HERE)

WORKLOADS = ("daily_delta", "gate_mix")
CORES = max(1, min(4, os.cpu_count() or 1))
# initial rows of the pipeline corpus: the program's AqiBench uses 10^6, but a
# DAG run at this scale costs the same per run from 15,000 to 150,000 rows
# (see README.md), and a run of the benchmark must stay near a minute
ROWS = 20_000
# delta days generated; a run stops early if it gets through all of them
DAYS = 8
# gate_mix tables relative to the program's sf0.01 test data
FIXTURE_SCALE = 0.5
SETUP_REPS = 3
JVM_TIMEOUT = 150
HEAP = "2g"
PIPELINE_SPANS = ("watermarks", "staging.aqi", "staging.counties",
                  "nds.states", "nds.counties", "nds.measurements")
PIPELINE_COUNTERS = (("s", "s"), ("jobs", "count"), ("task_s", "s"), ("driver_s", "s"),
                     ("plan_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                     ("rows_out", "count"))
GATE_FAMILIES = ("gates.relational", "gates.stats", "gates.similarity", "gates.text_dedup")
GATE_COUNTERS = PIPELINE_COUNTERS[:6]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"dagbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compiles the program and the harness if their sources changed."""
    if not os.path.isfile(os.path.join(REPO, "src", "main", "scala", "graft", "aqi", "Pipeline.scala")):
        fail("the program's sources are not here; run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             "compile", "export dagbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = [l.strip() for l in open(log) if "scala-2.13" in l and os.pathsep in l]
    if rc != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def jvm(cp, mode, work, log_name, cwd=None, **opts):
    """Runs one `dagbench.Main` step and returns its result JSON."""
    result = os.path.join(work, f"{log_name}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "dagbench.Main", mode,
            "--cores", str(CORES), "--result", result]
    for k, v in opts.items():
        args += [f"--{k}", str(v)]
    with open(os.path.join(work, f"{log_name}.log"), "w") as out:
        p = subprocess.Popen(args, cwd=cwd or work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{mode} step timed out, see {out.name}")
    if rc != 0 or not os.path.exists(result):
        fail(f"{mode} step failed (exit {rc}), see {out.name}")
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- workloads

def median(xs):
    return statistics.median(xs) if xs else 0.0


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def generate(make, path):
    """SETUP_REPS generations of the same inputs into `path`: the median
    seconds and the last generation's result.
    """
    times = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(path, ignore_errors=True)
        t = time.perf_counter()
        made = make(path)
        times.append(time.perf_counter() - t)
    return median(times), made


def daily_delta(cp, args, work):
    import aqi_corpus
    gen_s, days = generate(lambda p: aqi_corpus.generate(p, ROWS, args.seed, DAYS),
                           os.path.join(work, "corpus"))
    r = jvm(cp, "pipeline", work, "measure", runs=fresh(os.path.join(work, "units")),
            sources=os.path.join(work, "corpus", "day_"), days=DAYS,
            t0=aqi_corpus.T0.isoformat() + "Z", seconds=args.seconds, trace=args.trace)
    units = r["units"]
    con = aqi_corpus.duckdb.connect()
    for u in units:
        day = days[u["i"]]
        u["errors"] = [u["error"]] if u["error"] else aqi_corpus.check_warehouse(u["wh"], day.expected, con)
        u["attempted"] = 1
        u["failed"] = int(bool(u["errors"]))
        u["stats"] = day.stats
    return gen_s + r["session_s"], units


def gate_mix(cp, args, work):
    import gate_fixture
    fixture = os.path.join(work, "fixture")
    gen_s, fixture_bytes = generate(lambda p: gate_fixture.generate(p, args.seed, FIXTURE_SCALE),
                                    fixture)
    runs = fresh(os.path.join(work, "units"))
    r = jvm(cp, "gates", work, "measure", cwd=runs, runs=runs, fixture=fixture,
            seconds=args.seconds, trace=args.trace)
    units = r["units"]
    wrong = gate_fixture.oracle_check(REPO, fixture, [u["out"] for u in units], r["oracle_sql"])
    for u, bad in zip(units, wrong):
        u["errors"] = [f"{g}: {e}" for g, e in {**bad, **u["errors"]}.items()]
        u["attempted"] = len(u["gate_s"])
        u["failed"] = len(set(bad) | set(u["errors"]))
    for u in units:
        u["stats"] = {"window_bytes": fixture_bytes, "source_bytes": fixture_bytes}
    return gen_s + r["session_s"], units


# ---------------------------------------------------------------- metrics

def end_to_end(units, setup_s):
    warm = [u for u in units[2:] if not u["traced"]]
    attempted = sum(u["attempted"] for u in units)
    failed = sum(u["failed"] for u in units)
    print(f"dagbench: {len(warm)} measured units, seconds {[round(u['s'], 3) for u in warm]}",
          file=sys.stderr)
    return attempted, failed, {
        "batch_s": (median([u["s"] for u in warm]), "s"),
        "cold_batch_s": (units[0]["s"], "s"),
        "setup_s": (setup_s, "s"),
        "retained_heap_mb": (median([u["retained_heap_mb"] for u in warm]), "MB"),
        "write_amp": (median([u["bytes_written"] / u["stats"]["window_bytes"] for u in warm]),
                      "ratio"),
        "space_amp": (median([u["stored_bytes"] / u["stats"]["source_bytes"] for u in warm]),
                      "ratio"),
        "success_rate": ((attempted - failed) / attempted, "share"),
    }


def per_layer(workload, units):
    traced = [u for u in units if u["traced"]]
    untraced = [u for u in units[2:] if not u["traced"]]
    for u in traced:
        seen = sum(s["jobs"] for s in u["spans"].values())
        if seen != u["jobs_total"]:
            u["errors"].append(f"spans hold {seen} of {u['jobs_total']} jobs")
            u["failed"] = u["failed"] or 1

    def med(f):
        return median([f(u) for u in traced])

    def span(name, counter):
        return med(lambda u: u["spans"].get(name, {}).get(counter, 0))

    pipe = workload == "daily_delta"
    metrics = {}
    for name in PIPELINE_SPANS:
        for counter, unit in PIPELINE_COUNTERS:
            metrics[f"{name}.{counter}"] = (span(name, counter), unit)
    metrics["staging.aqi.window_keep"] = (med(
        lambda u: u["spans"]["staging.aqi"]["rows_out"] / u["stats"]["rows_scanned"]) if pipe else 0.0,
        "ratio")
    metrics["nds.measurements.rewrite_ratio"] = (med(
        lambda u: u["spans"]["nds.measurements"]["rows_out"] / u["stats"]["changed_rows"])
        if pipe else 0.0, "ratio")
    metrics["nds.measurements.skew"] = (span("nds.measurements", "skew"), "ratio")
    metrics["warehouse.bytes_written"] = (med(lambda u: u["bytes_written"]) if pipe else 0, "bytes")
    metrics["warehouse.files_written"] = (med(lambda u: u["files_written"]) if pipe else 0, "count")
    for name in GATE_FAMILIES:
        for counter, unit in GATE_COUNTERS:
            metrics[f"{name}.{counter}"] = (span(name, counter), unit)
    metrics["trace.overhead_s"] = (med(lambda u: u["s"]) - median([u["s"] for u in untraced]), "s")
    return sum(u["attempted"] for u in traced), sum(u["failed"] for u in traced), metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = classpath()
    work = fresh(os.path.join(RUNS, args.workload))
    run = gate_mix if args.workload == "gate_mix" else daily_delta
    setup_s, units = run(cp, args, work)
    if args.trace:
        attempted, failed, metrics = per_layer(args.workload, units)
    else:
        attempted, failed, metrics = end_to_end(units, setup_s)
    for u in units:
        for e in u["errors"]:
            print(f"dagbench: unit {u['i']}: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": all(not u["errors"] for u in units),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

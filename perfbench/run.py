#!/usr/bin/env python3
"""Benchmark of the graft engine: closed-loop passes over SparkEntry.queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload reports --seed 1 --seconds 10 --trace 0

It builds the engine with the benchmark's own sbt build (first run only),
generates the input tables from --seed, runs the harness JVM (see
src/main/scala/perfbench/Harness.scala), checks every query's result against
its DuckDB oracle SQL and prints the metrics. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones from
Spark's listener interfaces. See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import median, percentile, result_line  # noqa: E402

# Workload queries with the engine module each one calls at the top.
WORKLOADS = {
    "reports": {
        "q1_agg": "sql",
        "q24_usage_report": "operators",
        "q25_events_json": "sources",
        "q29_job_royalties": "jobs",
        "q30_job_usage": "jobs",
    },
    "corpus": {
        "q18_dedup_minhash": "ext.dedup",
        "q19_sim_topk": "ext.ann",
        "q20_textstats": "ext.text",
        "q82_dedup_stream": "streaming",
    },
}
SCALE = 0.01            # input scale factor (600k lineitem rows at 0.1)
HEAP = "2g"             # fixed (-Xms = -Xmx): the same heap in every run
WARMUP_PASSES = 3       # untimed warm passes between the cold pass and the measured ones
PASS_SAMPLES = 5        # pass_s is the median of the first this many measured passes
LOCAL_N = 2             # local[N]; the other CPUs go to the driver and the JIT
DEADLINE_S = 170        # a run must end within 180 s
ENGINE_SOURCES = ("src/main/scala", "fixtures")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash over every file the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main", "scala"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt when the sources changed; returns the launch spec."""
    out = os.path.join(HERE, ".build")
    launch, stamp_file = os.path.join(out, "launch.json"), os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return json.load(open(launch))
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
           "compile", "writeLaunch"]
    with open(os.path.join(out, "build.log"), "w") as log:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=log,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(out, 'build.log')}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return json.load(open(launch))


def inputs(seed):
    """Input tables for the seed, generated once into a cache directory."""
    path = os.path.join(HERE, ".data", f"sf{SCALE}-seed{seed}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        gen_data.write(tmp, seed, SCALE)
        os.replace(tmp, path)
    return path


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def cpu_times():
    """The aggregate cpu line of /proc/stat: user nice system idle iowait irq
    softirq steal ..., in clock ticks."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to others between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def run_jvm(launch, run_dir, args, deadline):
    """Start the harness JVM and wait for it; returns its exit code.

    The JVM sizes its JIT-compiler and garbage-collector thread pools for
    the N CPUs of local[N] (-XX:ActiveProcessorCount), so that background
    compilation does not take CPUs from the task threads and the driver;
    sized for the whole machine, it made warm pass times vary more."""
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={args['cpus']}",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + launch["java_options"]
           + ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(run_dir, "run.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    for rel in ENGINE_SOURCES:
        if not os.path.isdir(os.path.join(root, rel)):
            fail(f"no {rel}/ here; run from the root of a checkout of the engine")

    launch = build(root)
    deadline = time.time() + DEADLINE_S
    data = inputs(a.seed)
    cpus = min(LOCAL_N, len(os.sched_getaffinity(0)))
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}-{os.getpid()}"
    run_dir = os.path.join(HERE, ".runs", run_id)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    queries = WORKLOADS[a.workload]
    load_start, cpu_start = loadavg(), cpu_times()

    out = os.path.join(run_dir, "out")
    spawn = time.time()
    rc = run_jvm(launch, run_dir, {
        "queries": ",".join(queries), "data": data, "out": out, "seed": a.seed,
        "seconds": a.seconds, "warmup": WARMUP_PASSES, "passes": PASS_SAMPLES, "cpus": cpus,
        "local": os.path.join(run_dir, "local"), "trace": a.trace}, deadline)
    if rc != 0:
        fail(f"run JVM failed (exit {rc}); see {run_dir}/run.log", 1)
    run = json.load(open(os.path.join(out, "run.json")))
    first_session_s = run["setup"]["session_ready_ms"] / 1000 - spawn
    setup_s = [ms / 1000 for ms in run["setup"]["again_ms"]]

    mismatches = oracle.check(data, out, queries)
    passes = run["passes"]
    cold = passes[0]
    warm = [p for p in passes[1:] if not p["warmup"]]
    executions = [q for p in passes for q in p["queries"]]
    errors = {q["name"]: q["error"] for q in executions if q["error"]}
    failed = sum(1 for q in executions if q["error"]) + len(mismatches)
    correct = not mismatches and not errors

    untraced = [p for p in warm if not p["traced"]]
    # the same pass indices in every run: the JIT is still compiling during
    # the measured passes, so a JVM that fits more passes into the time
    # would otherwise also report later, better-compiled ones
    pass_s = [(p["end_ms"] - p["start_ms"]) / 1000 for p in untraced[:PASS_SAMPLES]]
    query_s = [(q["end_ms"] - q["start_ms"]) / 1000 for p in untraced for q in p["queries"]]
    n_q = len(query_s)
    metrics = {
        "setup_s": (median(setup_s), "s"),
        "cold_pass_s": ((cold["end_ms"] - cold["start_ms"]) / 1000, "s"),
        "pass_s": (median(pass_s), "s"),
    }
    # printed and kept in result.json, but not part of the result line:
    # each is dominated by one query's latency, which varies too much from
    # one JVM to the next to gate on (see README.md)
    ungated = {
        "query_p50_s": (percentile(query_s, 50)[0], "s"),
        "query_p90_s": (percentile(query_s, 90)[0], "s"),
        "peak_rss_mb": (run["peak_rss_mb"], "MiB"),
    }
    if a.trace:
        events = [json.loads(line) for line in open(os.path.join(out, "events.jsonl"))
                  if line.strip()]
        spans, reported = layers.analyse(run, events, queries, cpus, a.workload)
        reported["mem.peak_rss_mb"] = ungated["peak_rss_mb"]
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)
    else:
        reported = metrics

    load_end = loadavg()
    steal = steal_pct(cpu_start, cpu_times())
    nproc = os.cpu_count()
    machine = dict(run["machine"], nproc=nproc, local_n=cpus,
                   loadavg_start=load_start, loadavg_end=load_end, cpu_steal_pct=steal,
                   loaded_at_start=bool(load_start) and load_start[0] > nproc)
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "machine": machine, "setup_samples_s": setup_s,
               "first_session_s": first_session_s,
               "pass_samples_s": pass_s, "query_samples": n_q,
               "warm_passes": len(warm), "errors": errors, "oracle_mismatches": mismatches,
               "dump_errors": run["dump_errors"],
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
               "ungated": {k: {"value": v, "unit": u} for k, (v, u) in ungated.items()}}
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)

    print(f"machine: nproc={nproc} local[{cpus}] heap={machine['heap_max_mb']}MiB "
          f"spark={machine['spark_version']} jdk={machine['java_version']} "
          f"loadavg start={load_start} end={load_end} steal={steal:.1f}%"
          + (" LOADED-AT-START" if machine["loaded_at_start"] else ""))
    for k, (v, u) in {**metrics, **ungated}.items():
        extra = f" (n={n_q})" if k.startswith("query_") else ""
        print(f"{k} = {v:.4f} {u}{extra}")
    if a.trace:
        for k, (v, u) in reported.items():
            print(f"{k} = {v:.4f} {u}")
    for name, why in sorted(mismatches.items()):
        print(f"oracle mismatch {name}: {why}")
    for name, err in sorted(errors.items()):
        print(f"query error {name}: {err}")
    print(f"result: {run_dir}/result.json")
    print(result_line(correct, len(executions), failed, reported))


if __name__ == "__main__":
    main()

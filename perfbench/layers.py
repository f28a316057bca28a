"""Per-layer metrics and spans of a traced run.

The harness records, for every pass, each query's span split into the
`SparkEntry.queries(name)` build call and the noop write, and, during
traced passes, Spark listener events with epoch-millisecond times. Here
each event is attributed to the query whose span contains its start, the
spans are assembled into one tree (workload > pass > query > build and
execute, with SQL-execution, job, stage and trigger spans under the
query; spans of one query execution share its id) and every per-layer
metric is computed per traced pass. A metric's value is the median over
the traced passes.
"""
import bisect

from stats import median, percentile, self_time

TAGS = ("entry", "sql", "sources", "operators", "jobs", "ext.dedup", "ext.ann",
        "ext.text", "streaming")

STAGE_SUMS = {
    "sched.tasks": ("tasks", "count"),
    "sched.failed_tasks": ("failed_tasks", "count"),
    "sched.task_launch_wait_ms": ("launch_wait_ms", "ms"),
    "exec.run_ms": ("run_ms", "ms"),
    "exec.gc_ms": ("gc_ms", "ms"),
    "exec.deser_ms": ("deser_ms", "ms"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "spill.memory_bytes": ("spill_memory_bytes", "bytes"),
    "spill.disk_bytes": ("spill_disk_bytes", "bytes"),
    "scan.bytes": ("input_bytes", "bytes"),
    "scan.records": ("input_records", "count"),
    "sink.bytes": ("output_bytes", "bytes"),
    "sink.records": ("output_records", "count"),
}
TRIGGER_PHASES = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.latest_offset_ms": "latestOffset",
}


def _query_spans(p, pass_id):
    return [(q["start_ms"], q["end_ms"], f"{pass_id}:{q['name']}", q) for q in p["queries"]]


def _pass_metrics(p, events, tag_of, cpus):
    """Every per-layer metric of one pass, from its own events."""
    m = {}
    wall_ms = p["end_ms"] - p["start_ms"]
    for tag in TAGS:
        qs = [q for q in p["queries"] if tag == "entry" or tag_of[q["name"]] == tag]
        m[f"{tag}.build_s"] = (sum(q["built_ms"] - q["start_ms"] for q in qs) / 1000, "s")
        m[f"{tag}.exec_s"] = (sum(q["end_ms"] - q["built_ms"] for q in qs) / 1000, "s")
        m[f"{tag}.wall_s"] = (sum(q["end_ms"] - q["start_ms"] for q in qs) / 1000, "s")

    plans = [e for e in events if e["kind"] == "sql_plan"]
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"catalyst.{k}"] = (sum(e[k] for e in plans), "ms")
    m["catalyst.executions"] = (len(plans), "count")
    for k in ("shuffle_exchanges", "broadcast_exchanges", "smj", "bhj"):
        m[f"plan.{k}"] = (sum(e[k] for e in plans), "count")

    jobs = [e for e in events if e["kind"] == "job"]
    m["sched.jobs"] = (len(jobs), "count")
    m["sched.stages"] = (sum(e["stages"] for e in jobs), "count")
    m["sched.skipped_stages"] = (sum(e["skipped_stages"] for e in jobs), "count")
    job_iv = [(e["start_ms"], e["end_ms"]) for e in jobs]
    m["sched.driver_gap_ms"] = (self_time((p["start_ms"], p["end_ms"]), job_iv), "ms")

    stages = [e for e in events if e["kind"] == "stage"]
    for name, (field, unit) in STAGE_SUMS.items():
        m[name] = (sum(e[field] for e in stages), unit)
    m["exec.cpu_ms"] = (sum(e["cpu_ns"] for e in stages) / 1e6, "ms")
    m["shuffle.records"] = (sum(e["shuffle_write_records"] for e in stages), "count")
    m["exec.slot_busy_frac"] = (m["exec.run_ms"][0] / (wall_ms * cpus), "ratio")

    trig = [e for e in events if e["kind"] == "trigger"]
    m["stream.triggers"] = (len(trig), "count")
    for name, key in TRIGGER_PHASES.items():
        m[name] = (sum(e["duration_ms"].get(key, 0) for e in trig), "ms")
    m["stream.state_commit_ms"] = (sum(e["state_commit_ms"] for e in trig), "ms")
    final = {}
    for e in sorted(trig, key=lambda e: e["start_ms"]):
        final[e["stream"]] = e
    m["stream.state_rows"] = (sum(e["state_rows"] for e in final.values()), "count")
    m["stream.state_memory_bytes"] = (
        sum(e["state_memory_bytes"] for e in final.values()), "bytes")
    trig_iv = [(e["start_ms"], e["end_ms"]) for e in trig]
    in_trigger = sum(1 for j in jobs
                     if any(lo <= j["start_ms"] <= hi for lo, hi in trig_iv))
    m["stream.jobs_per_trigger"] = (in_trigger / len(trig) if trig else 0.0, "ratio")

    m["jvm.cpu_ms"] = (p["jvm"]["cpu_ms"], "ms")
    m["jvm.gc_ms"] = (p["jvm"]["gc_ms"], "ms")
    m["jvm.jit_ms"] = (p["jvm"]["jit_ms"], "ms")

    m["store.bytes_written"] = (p["io_written_bytes"], "bytes")
    m["store.leaked_entries"] = (p["leaked_entries"], "count")
    m["store.leaked_bytes"] = (p["leaked_bytes"], "bytes")
    return m


def analyse(run, events, tag_of, cpus, workload):
    """(spans, {metric: (value, unit)}) of a traced run."""
    # SQL executions arrive as a start and an end event; pair them by id
    sql = {"sql_start": {}, "sql_end": {}}
    for e in events:
        if e["kind"] in sql:
            sql[e["kind"]][e["id"]] = e
    sql_spans = [{"kind": "sql", "id": i, "start_ms": s["start_ms"],
                  "end_ms": sql["sql_end"].get(i, {"end_ms": s["start_ms"]})["end_ms"]}
                 for i, s in sql["sql_start"].items()]
    listener = [e for e in events if e["kind"] not in sql] + sql_spans

    spans = [{"id": "w", "parent": None, "name": workload, "kind": "workload",
              "start_ms": run["passes"][0]["start_ms"], "end_ms": run["passes"][-1]["end_ms"]}]
    per_pass, triggers = [], []
    for idx, p in enumerate(run["passes"]):
        pid = f"p{idx}"
        spans.append({"id": pid, "parent": "w", "name": f"pass {idx}", "kind": "pass",
                      "traced": p["traced"], "warmup": p.get("warmup", False),
                      "start_ms": p["start_ms"], "end_ms": p["end_ms"]})
        qspans = _query_spans(p, pid)
        for lo, hi, qid, q in qspans:
            spans += [
                {"id": qid, "qid": qid, "parent": pid, "name": q["name"], "kind": "query",
                 "tag": tag_of[q["name"]], "start_ms": lo, "end_ms": hi},
                {"id": f"{qid}:build", "qid": qid, "parent": qid, "name": "build",
                 "kind": "build", "start_ms": lo, "end_ms": q["built_ms"]},
                {"id": f"{qid}:execute", "qid": qid, "parent": qid, "name": "execute",
                 "kind": "execute", "start_ms": q["built_ms"], "end_ms": hi}]
        if not p["traced"]:
            continue
        los = [s[0] for s in qspans]
        mine = []
        for e in listener:
            k = bisect.bisect_right(los, e["start_ms"]) - 1
            if k >= 0 and e["start_ms"] <= qspans[k][1]:
                qid = qspans[k][2]
                mine.append(e)
                spans.append({"id": f"{qid}:{e['kind']}{e.get('id', len(spans))}",
                              "qid": qid, "parent": qid, "name": e["kind"], "kind": e["kind"],
                              "start_ms": e["start_ms"], "end_ms": e.get("end_ms", e["start_ms"]),
                              "attrs": {k2: v for k2, v in e.items()
                                        if k2 not in ("kind", "start_ms", "end_ms")}})
        per_pass.append(_pass_metrics(p, mine, tag_of, cpus))
        triggers += [e["end_ms"] - e["start_ms"] for e in mine if e["kind"] == "trigger"]

    metrics = {name: (median([pm[name][0] for pm in per_pass]), unit)
               for name, (_, unit) in per_pass[0].items()}
    for q, name in ((50, "stream.trigger_p50_ms"), (90, "stream.trigger_p90_ms")):
        metrics[name] = (percentile(triggers, q)[0] if triggers else 0.0, "ms")
    setup = run["setup"]
    metrics["setup.session_ms"] = (setup["session_ready_ms"] - setup["jvm_start_ms"], "ms")
    # each traced warm pass against the mean of the untraced passes on
    # either side of it, so the JIT's warm-up favours neither kind
    wall = [(p["end_ms"] - p["start_ms"]) / 1000 for p in run["passes"]]
    diffs = [wall[i] - (wall[i - 1] + wall[i + 1]) / 2
             for i, p in enumerate(run["passes"])
             if p["traced"] and 1 < i < len(wall) - 1]
    metrics["trace.overhead_s"] = (median(diffs), "s")
    return spans, metrics

"""Untraced and traced measurement of one workload.

Untraced: one session, no wrappers, no event log; end-to-end metrics.
Traced: the same measurement with spans around the public calls and
Spark's event log on; per-layer metrics, plus the traced run's own
end-to-end values (``traced.*``).  The tracing overhead is those values
minus the untraced run's for the same seed.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import batch
import stream
from harness import EventLog, ProcSampler, Spans, median, quantile, spark_session

MB = 2**20

E2E_UNITS = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ops_per_s": "1/s",
    "setup_s": "s",
}


def _metric(value: float, unit: str, n: int | None = None) -> dict:
    out = {"value": float(value), "unit": unit}
    if n is not None:
        out["n"] = n
    return out


# ------------------------------------------------------------------ passes


def _stream_pass(args, spark, work: str) -> dict:
    r = stream.run_paced(spark, os.path.join(work, "paced"), args.seed, args.seconds,
                         args.corrupt_reference)
    lat = r["latencies"]
    r["e2e"] = {
        "latency_p50_s": median(lat),
        "latency_p90_s": quantile(lat, 0.9),
        "ops_per_s": r["events_per_s"],
    }
    r["samples"] = {"latency": len(lat), "ops": len(r["events_in_batch"])}
    r["extra"] = {
        "events_per_s": _metric(r["events_per_s"], "1/s", len(r["events_in_batch"])),
        "loadgen.late_s_max": _metric(r["late_s_max"], "s", args.seconds),
    }
    return r


def _batch_pass(args, spark, work: str, spans=None) -> dict:
    t = time.time()
    st = batch.setup(spark, work, args.seed, args.corrupt_reference)
    setup_s = time.time() - t
    tp = batch.timed_passes(spark, st, args.seconds, spans)
    execs = tp["execs"]
    per_query = defaultdict(list)
    for e in execs:
        per_query[e[1]].append(e[2] + e[3])
    # one latency per query (its median over the passes): quantiles over
    # a fixed set of 10 values do not jump with the number of passes
    lat = [median(v) for v in per_query.values()]
    failed = sum(1 for e in execs if e[7] or not st["ok"][e[1]])
    return {
        "setup_s": setup_s,
        "e2e": {
            "latency_p50_s": median(lat),
            "latency_p90_s": quantile(lat, 0.9),
            "ops_per_s": len(execs) / tp["wall_s"],
        },
        "samples": {"latency": len(lat), "ops": len(execs)},
        "extra": {"suite_s": _metric(sum(lat), "s", tp["passes"])},
        "attempted": len(execs),
        "failed": failed,
        "passes": tp,
    }


def _run_pass(args, spark, work: str, spans=None) -> dict:
    if args.workload == "stream_paced":
        return _stream_pass(args, spark, work)
    return _batch_pass(args, spark, work, spans)


def _e2e(r: dict, session_s: float) -> dict:
    return dict(r["e2e"], setup_s=session_s + r["setup_s"])


def untraced(args, work: str, t_process: float) -> dict:
    sampler = ProcSampler().start()
    spark = spark_session(work)
    session_s = time.time() - t_process
    try:
        r = _run_pass(args, spark, work)
    finally:
        sampler.stop()
    e2e = _e2e(r, session_s)
    n = {"latency_p50_s": r["samples"]["latency"], "latency_p90_s": r["samples"]["latency"],
         "ops_per_s": r["samples"]["ops"], "setup_s": 1}
    report = {k: _metric(v, E2E_UNITS[k], n[k]) for k, v in e2e.items()}
    report.update(r["extra"])
    report["peak_rss_mb"] = _metric(sampler.peak_rss_mb, "MB", 1)
    report["failed_frac"] = _metric(r["failed"] / r["attempted"], "fraction", r["attempted"])
    report["host.steal_frac"] = _metric(sampler.steal_frac, "fraction")
    return {
        "metrics": {k: _metric(v, E2E_UNITS[k]) for k, v in e2e.items()},
        "report": report,
        "attempted": r["attempted"],
        "failed": r["failed"],
    }


# ------------------------------------------------------------------ traced


def _wrap_sinks(spans: Spans) -> None:
    from data_stream_flink_user_address_spark.streaming.sinks import (
        KeyedUpsertSink,
        TransactionalKeyedUpsertSink,
    )

    for cls in (KeyedUpsertSink, TransactionalKeyedUpsertSink):
        spans.wrap(cls, "apply", "sinks.apply")
        spans.wrap(cls, "read", "sinks.read")


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _exec_fields(sums: dict, per: float) -> dict[str, float]:
    return {
        "exec.stages": sums.get("stages", 0) / per,
        "exec.executor_run_s": sums.get("run_ms", 0) / 1e3 / per,
        "exec.executor_cpu_s": sums.get("cpu_ns", 0) / 1e9 / per,
        "exec.gc_s": sums.get("gc_ms", 0) / 1e3 / per,
        "exec.shuffle_read_mb": sums.get("shuffle_read_b", 0) / MB / per,
        "exec.shuffle_write_mb": sums.get("shuffle_write_b", 0) / MB / per,
        "exec.spill_mb": sums.get("spill_b", 0) / MB / per,
        "python.worker_s": sums.get("py_run_ms", 0) / 1e3 / per,
        "python.sent_mb": sums.get("py_sent_b", 0) / MB / per,
        "python.returned_mb": sums.get("py_returned_b", 0) / MB / per,
    }


def _stream_layers(r: dict, spans: Spans, log: EventLog) -> dict[str, float]:
    t0, t_end = r["t0"], r["t_end"]
    commits, starts = r["commits"], r["starts"]
    measured = sorted(b for b in commits if b > 0)
    prog = {p["batchId"]: p for p in r["progress"] if p["batchId"] in measured}
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    batches = [prog[b] for b in measured if b in prog]

    applies = [s for s in spans.named("sinks.apply") if s["start"] >= starts.get(1, t0)]
    reads = [s for s in spans.named("sinks.read") if s["start"] >= starts.get(1, t0)]
    sink_s_by_batch = defaultdict(float)
    for s in applies + reads:
        b = max((b for b in measured if starts[b] <= s["start"]), default=None)
        if b is not None:
            sink_s_by_batch[b] += s["end"] - s["start"]
    self_s = [dur(prog[b], "addBatch") / 1e3 - sink_s_by_batch[b] for b in measured if b in prog]

    jobs_by_batch = defaultdict(list)
    for j, info in log.jobs.items():
        b = info["props"].get("streaming.sql.batchId")
        if b is not None and int(b) in measured:
            jobs_by_batch[int(b)].append(j)
    all_jobs = [j for b in measured for j in jobs_by_batch[b]]
    sums = log.stage_sums(all_jobs)
    per_batch = max(1, len(measured))
    state = (batches[-1].get("stateOperators") or [{}])[0] if batches else {}
    files_end, bytes_end = _dir_stats(r["out_dir"])
    total_events = sum(r["events_in_batch"].values())
    batch_s = sum(dur(p, "triggerExecution") for p in batches) / 1e3
    apply_s = [s["end"] - s["start"] for s in applies]
    out = {
        "sources.backlog_files_max": max((r["files_in_batch"].get(b, 0) for b in measured), default=0),
        "sources.latest_offset_ms_p50": median([dur(p, "latestOffset") for p in batches]),
        "sources.get_batch_ms_p50": median([dur(p, "getBatch") for p in batches]),
        "microbatch.count": len(batches),
        "microbatch.rows_p50": median([p.get("numInputRows", 0) for p in batches]),
        "microbatch.duration_s_p50": median([dur(p, "triggerExecution") / 1e3 for p in batches]),
        "microbatch.duration_s_p90": quantile([dur(p, "triggerExecution") / 1e3 for p in batches], 0.9),
        "microbatch.planning_ms_p50": median([dur(p, "queryPlanning") for p in batches]),
        "microbatch.add_batch_s_p50": median([dur(p, "addBatch") / 1e3 for p in batches]),
        "microbatch.wal_commit_ms_p50": median([dur(p, "walCommit") for p in batches]),
        "microbatch.commit_offsets_ms_p50": median([dur(p, "commitOffsets") for p in batches]),
        "microbatch.jobs_p50": median([len(jobs_by_batch[b]) for b in measured]),
        "sinks.apply_calls": len(applies),
        "sinks.apply_s_p50": median(apply_s),
        "sinks.apply_s_sum": sum(apply_s),
        "sinks.apply_jobs_p50": median([len(log.jobs_between(s["start"], s["end"])) for s in applies]),
        "sinks.batch_share": sum(apply_s) / batch_s if batch_s else 0.0,
        "sinks.bytes_written_per_event": bytes_end / max(1, total_events),
        "sinks.files_end": files_end,
        "pipeline.self_s_p50": median(self_s),
        "stateful_join.state_rows": state.get("numRowsTotal", 0),
        "stateful_join.state_mb": state.get("memoryUsedBytes", 0) / MB,
        # the state machine is the only Python operator in the stream's jobs
        "stateful_join.python_s": sums.get("py_run_ms", 0) / 1e3,
        "stateful_join.python_mb_in": sums.get("py_sent_b", 0) / MB,
        "stateful_join.python_mb_out": sums.get("py_returned_b", 0) / MB,
        "stateful_join.batch_share": sums.get("py_run_ms", 0) / 1e3 / batch_s if batch_s else 0.0,
        "exec.action_s": batch_s / per_batch,
        "exec.jobs": len(all_jobs) / per_batch,
        "loadgen.late_s_max": r["late_s_max"],
    }
    out.update(_exec_fields(sums, per_batch))
    return out


def _batch_layers(r: dict, log: EventLog) -> dict[str, float]:
    tp = r["passes"]
    passes = max(1, tp["passes"])
    fam = defaultdict(lambda: defaultdict(float))
    construct_jobs, action_jobs = [], []
    construct_s = action_s = 0.0
    for (_p, name, c_s, a_s, a, b, c, _err) in tp["execs"]:
        cj, aj = log.jobs_between(a, b), log.jobs_between(b, c)
        construct_jobs += cj
        action_jobs += aj
        construct_s += c_s
        action_s += a_s
        f = fam[batch.QUERIES[name]]
        f["construct_s"] += c_s
        f["action_s"] += a_s
        f["jobs"] += len(cj) + len(aj)
    out = {
        "driver.construct_s": construct_s / passes,
        "driver.construct_jobs": len(construct_jobs) / passes,
        "exec.action_s": action_s / passes,
        "exec.jobs": len(action_jobs) / passes,
    }
    out.update(_exec_fields(log.stage_sums(construct_jobs + action_jobs), passes))
    for f in batch.FAMILIES:
        for k in ("construct_s", "action_s", "jobs"):
            out[f"family.{f}.{k}"] = fam[f][k] / passes
    return out


PER_LAYER_UNITS = {
    "sources.backlog_files_max": "count", "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "microbatch.count": "count", "microbatch.rows_p50": "count",
    "microbatch.duration_s_p50": "s", "microbatch.duration_s_p90": "s",
    "microbatch.planning_ms_p50": "ms", "microbatch.add_batch_s_p50": "s",
    "microbatch.wal_commit_ms_p50": "ms", "microbatch.commit_offsets_ms_p50": "ms",
    "microbatch.jobs_p50": "count",
    "sinks.apply_calls": "count", "sinks.apply_s_p50": "s", "sinks.apply_s_sum": "s",
    "sinks.apply_jobs_p50": "count", "sinks.batch_share": "fraction",
    "sinks.bytes_written_per_event": "B/event", "sinks.files_end": "count",
    "pipeline.self_s_p50": "s",
    "stateful_join.state_rows": "count", "stateful_join.state_mb": "MB",
    "stateful_join.python_s": "s", "stateful_join.python_mb_in": "MB",
    "stateful_join.python_mb_out": "MB", "stateful_join.batch_share": "fraction",
    "driver.construct_s": "s", "driver.construct_jobs": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "python.worker_s": "s", "python.sent_mb": "MB", "python.returned_mb": "MB",
    **{f"family.{f}.{k}": u for f in batch.FAMILIES
       for k, u in (("construct_s", "s"), ("action_s", "s"), ("jobs", "count"))},
    "host.steal_frac": "fraction", "loadgen.late_s_max": "s", "memory.peak_rss_mb": "MB",
    **{f"traced.{k}": u for k, u in E2E_UNITS.items()},
}


def traced(args, work: str, t_process: float) -> dict:
    trace_dir = os.path.join(work, "trace")
    log_dir = os.path.join(trace_dir, "eventlog")
    spans = Spans()
    sampler = ProcSampler().start()
    spark = spark_session(work, event_log_dir=log_dir)
    session_s = time.time() - t_process
    if args.workload == "stream_paced":
        _wrap_sinks(spans)
    try:
        with spans.span("measure"):
            r = _run_pass(args, spark, work, spans)
    finally:
        sampler.stop()
        spans.restore()
    e2e = _e2e(r, session_s)
    app_log = os.path.join(log_dir, spark.sparkContext.applicationId)
    spark.stop()  # closes the event log under its final name
    layers = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    if args.workload == "stream_paced":
        layers.update(_stream_layers(r, spans, EventLog(app_log)))
    else:
        layers.update(_batch_layers(r, EventLog(app_log)))
    layers["host.steal_frac"] = sampler.steal_frac
    layers["memory.peak_rss_mb"] = sampler.peak_rss_mb
    layers.update({f"traced.{k}": v for k, v in e2e.items()})
    spans.dump(os.path.join(trace_dir, "spans.jsonl"))
    metrics = {k: _metric(v, PER_LAYER_UNITS[k]) for k, v in layers.items()}
    report = dict(metrics)
    report["failed_frac"] = _metric(r["failed"] / r["attempted"], "fraction", r["attempted"])
    return {"metrics": metrics, "report": report, "attempted": r["attempted"], "failed": r["failed"]}


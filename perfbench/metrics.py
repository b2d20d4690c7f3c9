"""End-to-end metrics of a measured phase, and the traced run that
yields the per-layer metrics."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import probes
from workloads import Phase, Workload, executed

# durationMs components in the order MicroBatchExecution runs them
COMPONENTS = (
    ("latestOffset", "replay"),
    ("walCommit", "engine"),
    ("getBatch", "replay"),
    ("queryPlanning", "engine"),
    ("addBatch", None),  # jobs or stateful, by the batch's state operator
    ("commitOffsets", "engine"),
)
PYTHON_STATE_OP = "applyInPandasWithState"
ROCKSDB = {
    "commit_file_sync_ms": "rocksdbCommitFileSyncLatencyMs",
    "commit_zip_ms": "rocksdbSaveZipFilesLatencyMs",
    "commit_flush_ms": "rocksdbCommitFlushLatency",
    "commit_checkpoint_ms": "rocksdbCommitCheckpointLatency",
    "changelog_commit_ms": "rocksdbChangeLogWriterCommitLatencyMs",
    "load_ms": "rocksdbLoadLatencyMs",
    "get_count": "rocksdbGetCount",
    "put_count": "rocksdbPutCount",
    "get_ms": "rocksdbGetLatency",
    "put_ms": "rocksdbPutLatency",
    "bytes_written": "rocksdbTotalBytesWritten",
}
SINGLE_CORE_BASELINE = ("running_sum_skewed", "slide_ooo_late")


def end_to_end(wl: Workload, ph: Phase, setup_s: float) -> dict[str, tuple[float, str]]:
    print(
        f"perfbench: {wl.name}: {len(ph.rates)} queries, {len(ph.batch_ms)} batch samples, "
        f"{len(ph.latency_ms)} latency samples "
        f"(tail p{wl.latency_tail_q:g}), timed {ph.end - ph.start:.1f} s",
        file=sys.stderr,
    )
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (statistics.median(ph.rates) if ph.rates else 0.0, "events/s"),
        "alert_latency_ms_p50": (probes.percentile(ph.latency_ms, 50), "ms"),
        "alert_latency_ms_tail": (probes.percentile(ph.latency_ms, wl.latency_tail_q), "ms"),
    }


def traced_run(wl: Workload, args, run_dir: str, untraced: dict, start_spark, stop_spark):
    """Measure again with a progress listener and an event log, build
    the spans, and return (per-layer metrics, phases run)."""
    log_dir = os.path.join(run_dir, "eventlog")
    spark = start_spark(run_dir, 4, event_log=log_dir)
    listener = probes.progress_listener()
    spark.streams.addListener(listener)
    try:
        t = time.time()
        wl.warm(spark, light=True)
        traced_setup = time.time() - t
        ph = wl.timed(spark, args.seconds, traced=True)
        for q in ph.queries:
            probes.wait_for_progress(listener, q.run_id, len(q.progress))
    finally:
        stop_spark(spark)
    log = probes.EventLog.read(log_dir)
    progress = [
        p for p in listener.progress if ph.start <= probes.trigger_start(p) <= ph.end
    ]
    phases = [ph]
    traced = end_to_end(wl, ph, untraced["setup_s"][0])
    spans = build_spans(wl, ph, progress, log)
    out = layer_metrics(ph, progress, log, spans)
    for k, (v, unit) in untraced.items():
        if k != "setup_s":
            out[f"overhead.{k}"] = (traced[k][0] - v, unit)
    speedup = 0.0
    if wl.name in SINGLE_CORE_BASELINE:
        spark = start_spark(run_dir, 1)
        try:
            wl.warm(spark, light=True)
            single = wl.timed(spark, args.seconds)
        finally:
            stop_spark(spark)
        phases.append(single)
        if single.rates:
            speedup = untraced["events_per_s"][0] / statistics.median(single.rates)
    out["executor.parallel_speedup"] = (speedup, "ratio")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(run_dir)), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": wl.name,
                "seed": args.seed,
                "untraced": untraced,
                "traced": traced,
                "traced_warmup_s": traced_setup,
                "layers": out,
                "spans": spans.as_list(),
            },
            fh,
        )
    print(f"perfbench: spans written to {os.path.normpath(path)}", file=sys.stderr)
    return out, phases


def _add_layer(p: dict) -> str:
    ops = p.get("stateOperators") or []
    return "stateful" if any(o.get("operatorName") == PYTHON_STATE_OP for o in ops) else "jobs"


def build_spans(wl: Workload, ph: Phase, progress: list[dict], log) -> probes.Spans:
    """workload -> query / registry row -> micro-batch -> durationMs
    components -> sink write, and Spark stages under the innermost span
    that holds them."""
    spans = probes.Spans()
    root = spans.add(wl.name, "bench", ph.start, ph.end)
    parents = {}
    for q in ph.queries:
        parents[q.run_id] = spans.add("query", "engine", q.start, q.stop, root)
    for c in ph.calls:
        row = spans.add(c["name"], "registry", c["start"], c["end"], root)
        spans.add("build", "registry", c["start"], c["built"], row)
        spans.add("exec", "registry", c["exec_start"], c["end"], row)
    sink_calls = {q.run_id: q.sink_calls for q in ph.queries}
    for p in executed(progress):
        start = probes.trigger_start(p)
        dm = p["durationMs"]
        end = start + dm["triggerExecution"] / 1000.0
        parent = parents.get(p["runId"])
        if parent is None:  # a query the package ran inside a registry row
            parent = spans.innermost(start, end, list(range(len(spans.spans))))
        batch = spans.add(f"batch {p['batchId']}", "engine", start, end, parent)
        t, add = start, batch
        for comp, layer in COMPONENTS:
            if comp in dm:
                d = dm[comp] / 1000.0
                i = spans.add(comp, layer or _add_layer(p), t, t + d, batch)
                add = i if comp == "addBatch" else add
                t += d
        for bid, s, e in sink_calls.get(p["runId"], ()):
            if bid == p["batchId"]:
                spans.add("sink write", "sinks", s, e, add)
    holders = list(range(len(spans.spans)))
    for st in log.stages:
        if ph.start <= st["start"] <= ph.end:
            spans.add(st["name"], "executor", st["start"], st["end"], spans.innermost(st["start"], st["end"], holders))
    return spans


def layer_metrics(ph: Phase, progress: list[dict], log, spans: probes.Spans) -> dict:
    ex = executed(progress)
    tasks = log.totals(ph.start, ph.end)

    def dur(k):
        return float(sum(p["durationMs"].get(k, 0) for p in ex))

    ops = {"jobs": [], "stateful": []}
    add_ms = {"jobs": 0.0, "stateful": 0.0}
    unaccounted = 0.0
    for p in ex:
        dm = p["durationMs"]
        add_ms[_add_layer(p)] += dm.get("addBatch", 0)
        te = dm["triggerExecution"]
        parts = sum(dm.get(c, 0) for c, _ in COMPONENTS)
        if te:
            unaccounted = max(unaccounted, abs(te - parts) / te * 100.0)
        for o in p.get("stateOperators") or []:
            ops["stateful" if o.get("operatorName") == PYTHON_STATE_OP else "jobs"].append(o)

    def op_sum(layer, k):
        return float(sum(o.get(k, 0) for o in ops[layer]))

    def op_max(layer, k):
        return float(max((o.get(k, 0) for o in ops[layer]), default=0))

    rows_in = float(sum(p["numInputRows"] for p in ex))
    custom = [o.get("customMetrics") or {} for layer in ops.values() for o in layer]
    self_ms = spans.self_ms()
    m = {
        "replay.latest_offset_ms": (dur("latestOffset"), "ms"),
        "replay.get_batch_ms": (dur("getBatch"), "ms"),
        "replay.rows_in": (rows_in, "rows"),
        # the file source's reads; a registry row's task reads are its fixture's
        "replay.bytes_read": (tasks["bytes_read"] if ph.queries else 0.0, "bytes"),
        "replay.backlog_files_max": (float(ph.backlog_files_max), "files"),
        "engine.batches": (float(len(ex)), "count"),
        "engine.no_data_batches": (float(sum(1 for p in ex if p["numInputRows"] == 0)), "count"),
        "engine.query_planning_ms": (dur("queryPlanning"), "ms"),
        "engine.wal_commit_ms": (dur("walCommit"), "ms"),
        "engine.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "engine.unaccounted_pct_max": (unaccounted, "%"),
        "engine.batch_ms_p50": (probes.percentile(ph.batch_ms, 50), "ms"),
        "jobs.add_batch_ms": (add_ms["jobs"], "ms"),
        "jobs.state_rows_updated": (op_sum("jobs", "numRowsUpdated"), "rows"),
        "jobs.updates_per_event": (op_sum("jobs", "numRowsUpdated") / rows_in if rows_in else 0.0, "ratio"),
        "jobs.state_rows_total_max": (op_max("jobs", "numRowsTotal"), "rows"),
        "jobs.state_bytes_max": (op_max("jobs", "memoryUsedBytes"), "bytes"),
        "jobs.state_update_ms": (op_sum("jobs", "allUpdatesTimeMs"), "ms"),
        "jobs.state_remove_ms": (op_sum("jobs", "allRemovalsTimeMs"), "ms"),
        "jobs.state_commit_ms": (op_sum("jobs", "commitTimeMs"), "ms"),
        "jobs.rows_dropped_late": (op_sum("jobs", "numRowsDroppedByWatermark"), "rows"),
        "stateful.add_batch_ms": (add_ms["stateful"], "ms"),
        "stateful.python_run_ms": (tasks["python_run_ms"], "ms"),
        "stateful.python_start_ms": (tasks["python_start_ms"], "ms"),
        "stateful.arrow_bytes_sent": (tasks["arrow_bytes_sent"], "bytes"),
        "stateful.arrow_bytes_returned": (tasks["arrow_bytes_returned"], "bytes"),
        "stateful.groups_updated": (op_sum("stateful", "numRowsUpdated"), "rows"),
        "stateful.state_bytes_max": (op_max("stateful", "memoryUsedBytes"), "bytes"),
        "stateful.state_commit_ms": (op_sum("stateful", "commitTimeMs"), "ms"),
    }
    for name, key in ROCKSDB.items():
        unit = "count" if name.endswith("count") else "bytes" if "bytes" in name else "ms"
        m[f"rocksdb.{name}"] = (float(sum(c.get(key, 0) for c in custom)), unit)
    m["rocksdb.sst_bytes_max"] = (float(max((c.get("rocksdbSstFileSize", 0) for c in custom), default=0)), "bytes")
    m["sinks.write_ms"] = (sum((e - s) * 1000.0 for q in ph.queries for _b, s, e in q.sink_calls), "ms")
    m["sinks.rows_out"] = (float(ph.rows_out), "rows")
    m["sinks.batches_retried"] = (
        float(sum(len(q.sink_calls) - len({b for b, _s, _e in q.sink_calls}) for q in ph.queries)),
        "count",
    )
    calls = ph.calls
    m["registry.build_ms"] = (sum((c["built"] - c["start"]) * 1000.0 for c in calls), "ms")
    m["registry.exec_ms"] = (sum((c["end"] - c["exec_start"]) * 1000.0 for c in calls), "ms")
    for k in ("analysis", "optimization", "planning"):
        m[f"registry.{k}_ms"] = (sum(c.get("phases", {}).get(k, 0.0) for c in calls), "ms")
    for k in ("run_ms", "cpu_ms", "gc_ms"):
        m[f"executor.{k}"] = (tasks[k], "ms")
    m["executor.shuffle_write_bytes"] = (tasks["shuffle_write_bytes"], "bytes")
    m["executor.spill_bytes"] = (tasks["spill_bytes"], "bytes")
    m["executor.tasks"] = (float(tasks["tasks"]), "count")
    m["executor.peak_rss_mb"] = (ph.peak_rss_mb, "MB")
    for layer in ("replay", "engine", "jobs", "stateful", "sinks", "registry", "executor"):
        m[f"{layer}.self_ms"] = (self_ms.get(layer, 0.0), "ms")
    return m

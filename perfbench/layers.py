"""Per-layer roll-up of a traced run.

Every per-pass metric is summed over the gates of one timed pass and
reported as the median over passes, so counts from a run with three
passes and a run with five compare directly.  Sources: the harness's
own construct/action timers, spans (``tracing.Tracer``), job ids from
``statusTracker()``, micro-batches from the streaming listener and task
metrics from the uncompressed event log.
"""

from __future__ import annotations

import bisect
import os
from collections import defaultdict

from perfbench import stats, tracing

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warm_s": ("s", "lower"),
    "workload.construct_s": ("s", "lower"),
    "workload.construct_jobs": ("count", "lower"),
    "workload.construct_share": ("ratio", "lower"),
    "workload.gate_s": ("s", "lower"),
    "extended.calls": ("count", "lower"),
    "extended.self_s": ("s", "lower"),
    "extended.jobs": ("count", "lower"),
    "extended.executor_run_s": ("s", "lower"),
    "operators.calls": ("count", "lower"),
    "operators.self_s": ("s", "lower"),
    "operators.jobs": ("count", "lower"),
    "functions.calls": ("count", "lower"),
    "functions.self_s": ("s", "lower"),
    "sources.load_table_calls": ("count", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "sources.write_s": ("s", "lower"),
    "sources.bytes_written": ("bytes", "lower"),
    "sources.files_written": ("count", "lower"),
    "sources.read_back_s": ("s", "lower"),
    "convert.as_arrow_s": ("s", "lower"),
    "convert.as_array_s": ("s", "lower"),
    "convert.rows_out": ("count", "lower"),
    "convert.arrow_bytes_out": ("bytes", "lower"),
    "streaming.queries": ("count", "lower"),
    "streaming.micro_batches": ("count", "lower"),
    "streaming.batch_s": ("s", "lower"),
    "streaming.input_rows": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "concurrency.calls": ("count", "lower"),
    "concurrency.s": ("s", "lower"),
    "spark.action_s": ("s", "lower"),
    "spark.action_jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.empty_task_share": ("ratio", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "process.jvm_cpu_s": ("s", "lower"),
    "process.driver_cpu_s": ("s", "lower"),
    "host.cpu_probe_s": ("s", "lower"),
    "traced.gates_per_s": ("gates/s", "higher"),
    "traced.latency_p50_s": ("s", "lower"),
    "traced.latency_tail_s": ("s", "lower"),
    "traced.setup_s": ("s", "lower"),
}

# counts that must repeat exactly from pass to pass and run to run
REPEATING_COUNTS = (
    "workload.construct_jobs", "spark.action_jobs", "spark.stages", "spark.tasks",
    "streaming.micro_batches", "convert.rows_out",
)

_SPAN_TIMES = {
    "sources.sinks.write_parquet": "sources.write_s",
    "sources.sinks.read_back": "sources.read_back_s",
    "convert.as_arrow": "convert.as_arrow_s",
    "convert.as_array": "convert.as_array_s",
}


def _sample_finder(samples: list[dict]):
    """epoch seconds -> index of the gate sample whose window holds it."""
    starts = [s["epoch"][0] for s in samples]

    def find(t: float) -> int | None:
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= samples[i]["epoch"][1]:
            return i
        return None

    return find


def roll_up(samples: list[dict], passes: int, spans, batches, jobs, stage_totals) -> list[dict]:
    """Per-pass sums of every per-pass metric."""
    per_pass = [defaultdict(float) for _ in range(passes)]
    for s in samples:
        p = per_pass[s["pass"]]
        p["workload.construct_s"] += s["construct_s"]
        p["workload.gate_s"] += s["construct_s"] + s["action_s"]
        p["spark.action_s"] += s["action_s"]
        p["workload.construct_jobs"] += len(s["construct_ids"])
        p["spark.action_jobs"] += len(s["action_ids"])
        p["spark.stages"] += s["action_stages"]
        p["spark.tasks"] += s["action_tasks"]
        for k in ("rows_out", "arrow_bytes_out"):
            p["convert." + k] += s.get(k, 0)
        for k in ("files_written", "bytes_written"):
            p["sources." + k] += s.get(k, 0)

    # spans: calls and self time per layer, wall of named functions
    selfs = stats.self_times([(sp.sid, sp.parent, sp.t0, sp.t1) for sp in spans])
    for sp in spans:
        if sp.sample is None:
            continue
        p = per_pass[samples[sp.sample]["pass"]]
        p[f"{sp.layer}.calls"] += 1
        p[f"{sp.layer}.self_s"] += selfs[sp.sid]
        if sp.layer == "concurrency":
            p["concurrency.s"] += sp.t1 - sp.t0
        if sp.name == "sources.catalog.load_table":
            p["sources.load_table_calls"] += 1
        if sp.name in _SPAN_TIMES:
            p[_SPAN_TIMES[sp.name]] += sp.t1 - sp.t0

    find = _sample_finder(samples)
    # micro-batches from the streaming listener
    last_state: dict[tuple[int, str], tuple] = {}
    for t, qid, batch_id, rows, ms, st_rows, st_bytes in batches:
        i = find(t)
        if i is None:
            continue
        p = per_pass[samples[i]["pass"]]
        p["streaming.micro_batches"] += 1
        p["streaming.batch_s"] += ms / 1000
        p["streaming.input_rows"] += rows
        key = (samples[i]["pass"], qid)
        if key not in last_state or batch_id > last_state[key][0]:
            last_state[key] = (batch_id, st_rows, st_bytes)
    for (pass_no, _qid), (_b, st_rows, st_bytes) in last_state.items():
        per_pass[pass_no]["streaming.queries"] += 1
        per_pass[pass_no]["streaming.state_rows"] += st_rows
        per_pass[pass_no]["streaming.state_bytes"] += st_bytes

    # event log: jobs to samples (job group, else submission time)
    group_of = {s["group"]: i for i, s in enumerate(samples)}
    owner: dict[int, int] = {}  # stage -> first job listing it
    for jid in sorted(jobs):
        for sid in jobs[jid].stages:
            owner.setdefault(sid, jid)
    action_windows: dict[int, list[tuple[float, float]]] = defaultdict(list)
    empty = defaultdict(float)
    for jid, job in jobs.items():
        i = group_of.get(job.group)
        if i is None:
            i = find(job.submit_s)
        if i is None:
            continue
        s = samples[i]
        p = per_pass[s["pass"]]
        own = [stage_totals[sid] for sid in job.stages if owner[sid] == jid and sid in stage_totals]
        run_s = sum(t.run_ms for t in own) / 1000
        p["sources.input_bytes"] += sum(t.input_bytes for t in own)
        label_layer = (job.label or "").split(".", 1)[0]
        if label_layer in ("extended", "operators"):
            p[f"{label_layer}.jobs"] += 1
        if label_layer == "extended":
            p["extended.executor_run_s"] += run_s
        if job.submit_s >= s["construct_end"]:
            p["spark.executor_run_s"] += run_s
            p["spark.executor_cpu_s"] += sum(t.cpu_ns for t in own) / 1e9
            p["spark.gc_s"] += sum(t.gc_ms for t in own) / 1000
            p["spark.shuffle_read_bytes"] += sum(t.shuffle_read_bytes for t in own)
            p["spark.shuffle_write_bytes"] += sum(t.shuffle_write_bytes for t in own)
            empty[s["pass"]] += sum(t.empty_tasks for t in own)
            p["_logged_tasks"] += sum(t.tasks for t in own)
            action_windows[i].append((job.submit_s, job.end_s))
    for i, s in enumerate(samples):
        a0, a1 = s["action_window"]
        covered = stats.union_length(stats.clipped(action_windows.get(i, []), a0, a1))
        per_pass[s["pass"]]["spark.driver_gap_s"] += (a1 - a0) - covered
    for n, p in enumerate(per_pass):
        p["workload.construct_share"] = p["workload.construct_s"] / p["workload.gate_s"]
        p["spark.empty_task_share"] = empty[n] / p["_logged_tasks"] if p["_logged_tasks"] else 0.0
    return per_pass


def event_log_path(log_dir: str, app_id: str) -> str:
    names = [n for n in os.listdir(log_dir) if n.startswith(app_id) and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log for {app_id}, found {names}")
    return os.path.join(log_dir, names[0])


def per_layer(b, passes: int, app_id: str, scalars: dict[str, float]) -> tuple[dict, dict]:
    """(metrics as name -> (value, unit), count repeat report)."""
    jobs, stage_totals = tracing.read_event_log(event_log_path(os.path.join(b.run_dir, "eventlog"), app_id))
    per_pass = roll_up(b.samples, passes, b.tracer.spans, b.listener.batches, jobs, stage_totals)
    metrics = {}
    for name, (unit, _better) in PER_LAYER.items():
        value = scalars[name] if name in scalars else stats.median([p[name] for p in per_pass])
        metrics[name] = (value, unit)
    repeat = {name: [p[name] for p in per_pass] for name in REPEATING_COUNTS}
    return metrics, repeat

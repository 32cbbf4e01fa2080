"""Per-layer reducers: Spark's public streaming progress and its event log.

``progress_layers`` reads ``StreamingQuery.recentProgress`` entries (as
dicts) of the measured jobs; ``eventlog_layers`` reads an uncompressed,
non-rolling Spark event log. Both normalise to "per measured job" (one
bounded drain or one pipeline run) so the figures do not scale with how
many jobs fit in a run.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
from collections import defaultdict

#: recentProgress durationMs keys -> per-layer metric names (mean per batch)
PHASES = {
    "queryPlanning": "stream.query_planning_ms",
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "addBatch": "stream.add_batch_ms",
}

#: RDD scope names of the Python/Arrow boundary operators
PYTHON_SCOPES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas")


def iso_ms(ts: str) -> int:
    """Progress ``timestamp`` (ISO-8601, UTC) -> epoch milliseconds."""
    return int(dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def progress_layers(jobs: list[list[dict]]) -> dict[str, float]:
    """``jobs``: one list of progress dicts per measured job."""
    batches = [p for job in jobs for p in job]
    data = [p for p in batches if p.get("numInputRows", 0) > 0]
    n_jobs = max(1, len(jobs))
    out: dict[str, float] = {"stream.batches": len(batches) / n_jobs}
    for key, name in PHASES.items():
        vals = [p.get("durationMs", {}).get(key, 0) for p in batches]
        out[name] = statistics.fmean(vals) if vals else 0.0
    trig = [p["durationMs"].get("triggerExecution", 0) for p in data]
    out["stream.trigger_ms.p50"] = statistics.median(trig) if trig else 0.0
    ops = [op for p in batches for op in p.get("stateOperators", [])]
    out["state.rows_total"] = max((op.get("numRowsTotal", 0) for op in ops), default=0)
    out["state.rows_updated"] = sum(op.get("numRowsUpdated", 0) for op in ops) / n_jobs
    out["state.memory_bytes"] = max((op.get("memoryUsedBytes", 0) for op in ops), default=0)
    per_batch = defaultdict(lambda: [0, 0])
    for i, p in enumerate(batches):
        for op in p.get("stateOperators", []):
            per_batch[i][0] += op.get("commitTimeMs", 0)
            per_batch[i][1] += op.get("allUpdatesTimeMs", 0)
    if per_batch:
        out["state.commit_ms"] = statistics.fmean(v[0] for v in per_batch.values())
        out["state.update_ms"] = statistics.fmean(v[1] for v in per_batch.values())
    else:
        out["state.commit_ms"] = out["state.update_ms"] = 0.0
    return out


def read_eventlog(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def eventlog_layers(events: list[dict], t0_ms: int, t1_ms: int, n_jobs: int,
                    progress: list[list[dict]]) -> dict[str, float]:
    """Task, stage and job figures for work launched in [t0_ms, t1_ms]."""
    n_jobs = max(1, n_jobs)
    tasks = defaultdict(list)  # stage id -> [run ms]
    run = cpu = gc = sw = sr = spill = 0
    stage_scopes: dict[int, set[str]] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    job_start: dict[int, tuple[int, dict]] = {}
    job_span: dict[tuple[str, str], list[tuple[int, int]]] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            if not t0_ms <= info["Launch Time"] <= t1_ms:
                continue
            tasks[e["Stage ID"]].append(m.get("Executor Run Time", 0))
            run += m.get("Executor Run Time", 0)
            cpu += m.get("Executor CPU Time", 0)
            gc += m.get("JVM GC Time", 0)
            sw += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics", {})
            sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = set()
            for r in si.get("RDD Info", []):
                if r.get("Scope"):
                    scopes.add(json.loads(r["Scope"]).get("name", ""))
            stage_scopes[si["Stage ID"]] = scopes
            if si.get("Submission Time") and si.get("Completion Time"):
                stage_span[si["Stage ID"]] = (si["Submission Time"], si["Completion Time"])
        elif kind == "SparkListenerJobStart":
            job_start[e["Job ID"]] = (e["Submission Time"], e.get("Properties") or {})
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            start, props = job_start[e["Job ID"]]
            key = (props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId"))
            if key[0] is not None:
                job_span[key].append((start, e["Completion Time"]))
    skew_max = sum(max(v) for v in tasks.values() if len(v) > 1)
    skew_mean = sum(statistics.fmean(v) for v in tasks.values() if len(v) > 1)
    py_ms = sum(
        stage_span[s][1] - stage_span[s][0]
        for s in tasks
        if s in stage_span and stage_scopes.get(s, set()) & set(PYTHON_SCOPES)
    )
    publish = []
    for job in progress:
        for p in job:
            if p.get("numInputRows", 0) <= 0:
                continue
            spans = job_span.get((p["id"], str(p["batchId"])), [])
            publish.append(p["durationMs"].get("addBatch", 0) - _union_ms(spans))
    return {
        "spark.executor_run_ms": run / n_jobs,
        "spark.executor_cpu_ms": cpu / 1e6 / n_jobs,
        "spark.gc_ms": gc / n_jobs,
        "spark.shuffle_write_bytes": sw / n_jobs,
        "spark.shuffle_read_bytes": sr / n_jobs,
        "spark.spill_bytes": spill / n_jobs,
        "spark.task_skew": skew_max / skew_mean if skew_mean else 1.0,
        "python.udf_stage_ms": py_ms / n_jobs,
        "sink.publish_ms": statistics.fmean(publish) if publish else 0.0,
    }

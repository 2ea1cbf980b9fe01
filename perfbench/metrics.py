"""Pure aggregation helpers: latency percentiles and the Spark event log.

Nothing here starts Spark; the self-tests exercise every function on
small hand-made inputs.
"""

from __future__ import annotations

import json
from collections import defaultdict
from datetime import datetime, timezone

MB = 1024 * 1024

# Names of the Python-worker SQL metrics as Spark 4.1 writes them into
# TaskEnd accumulables, mapped to the per-layer counter they feed.
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.boot_ms",
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.received_bytes",
}

PROGRESS_EVENT = (
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
)


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The sample at the highest percentile that still has ``beyond``
    samples above it, and that percentile (rank / count x 100). With
    ``beyond`` samples or fewer none qualifies; the minimum is returned."""
    ordered = sorted(samples)
    if not ordered:
        raise ValueError("no samples")
    rank = max(len(ordered) - beyond, 1)  # 1-based
    return ordered[rank - 1], 100.0 * rank / len(ordered)


def _epoch(iso: str) -> float:
    """Progress timestamps are UTC ISO-8601 with a trailing ``Z``."""
    return (
        datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _owner(spans: list[dict], key: str, value: float):
    for span in spans:
        if span[key][0] <= value < span[key][1]:
            return span["query"]
    return None


def aggregate_event_log(lines, spans: list[dict]) -> dict[str, dict]:
    """Fold a Spark event log into per-query counters.

    ``spans`` holds one dict per query of the timed pass: ``query``,
    ``job_ids`` (half-open range ``[first, end)``) and ``epoch``
    (half-open wall-clock window). Jobs are attributed by id, stream
    progress events by the window their trigger started in. Events of
    set-up, of the correctness check and of any job outside every span
    are ignored.
    """
    per: dict[str, dict] = {s["query"]: defaultdict(float) for s in spans}
    stage_owner: dict[int, str] = {}
    last_progress: dict[tuple[str, str], dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            q = _owner(spans, "job_ids", ev["Job ID"])
            if q is None:
                continue
            per[q]["spark.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, q)
        elif kind == "SparkListenerStageCompleted":
            q = stage_owner.get(ev["Stage Info"]["Stage ID"])
            if q is not None:
                per[q]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            q = stage_owner.get(ev["Stage ID"])
            if q is None:
                continue
            c = per[q]
            c["spark.tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["spark.task_ms"] += m.get("Executor Run Time", 0)
            c["spark.task_cpu_ns"] += m.get("Executor CPU Time", 0)
            c["spark.gc_ms"] += m.get("JVM GC Time", 0)
            c["spark.input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            c["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            c["spark.shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            c["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if name is not None:
                    c[name] += float(acc.get("Update") or 0)
        elif kind == PROGRESS_EVENT:
            p = ev["progress"]
            q = _owner(spans, "epoch", _epoch(p["timestamp"]))
            if q is None:
                continue
            c = per[q]
            c["streaming.batches"] += 1
            rows = p.get("numInputRows")  # absent in event logs: sum sources
            if rows is None:
                rows = sum(s.get("numInputRows", 0) for s in p.get("sources") or [])
            if rows == 0:
                c["streaming.empty_batches"] += 1
            d = p.get("durationMs") or {}
            c["streaming.planning_ms"] += d.get("queryPlanning", 0)
            c["streaming.addbatch_ms"] += d.get("addBatch", 0)
            for op in p.get("stateOperators") or []:
                c["streaming.state_commit_ms"] += op.get("commitTimeMs", 0)
            last_progress[(q, p["runId"])] = p
    for (q, _run), p in last_progress.items():
        for op in p.get("stateOperators") or []:
            per[q]["streaming.state_rows"] += op.get("numRowsTotal", 0)
            per[q]["streaming.state_bytes"] += op.get("memoryUsedBytes", 0)
    return {q: dict(c) for q, c in per.items()}


def layer_totals(per_query: dict[str, dict]) -> dict[str, float]:
    """Sum per-query event-log counters and convert them to the units
    the benchmark reports (seconds and MiB)."""
    tot: dict[str, float] = defaultdict(float)
    for counters in per_query.values():
        for k, v in counters.items():
            tot[k] += v
    out = {
        "spark.jobs": tot["spark.jobs"],
        "spark.stages": tot["spark.stages"],
        "spark.tasks": tot["spark.tasks"],
        "spark.tasks_per_job": tot["spark.tasks"] / max(tot["spark.jobs"], 1),
        "spark.task_s": tot["spark.task_ms"] / 1e3,
        "spark.task_cpu_s": tot["spark.task_cpu_ns"] / 1e9,
        "spark.gc_s": tot["spark.gc_ms"] / 1e3,
        "spark.input_mb": tot["spark.input_bytes"] / MB,
        "spark.shuffle_read_mb": tot["spark.shuffle_read_bytes"] / MB,
        "spark.shuffle_write_mb": tot["spark.shuffle_write_bytes"] / MB,
        "spark.spill_mb": tot["spark.spill_bytes"] / MB,
        "python.run_s": tot["python.run_ms"] / 1e3,
        "python.boot_s": tot["python.boot_ms"] / 1e3,
        "python.sent_mb": tot["python.sent_bytes"] / MB,
        "python.received_mb": tot["python.received_bytes"] / MB,
        "streaming.batches": tot["streaming.batches"],
        "streaming.empty_batches": tot["streaming.empty_batches"],
        "streaming.empty_batch_frac": tot["streaming.empty_batches"]
        / max(tot["streaming.batches"], 1),
        "streaming.planning_s": tot["streaming.planning_ms"] / 1e3,
        "streaming.addbatch_s": tot["streaming.addbatch_ms"] / 1e3,
        "streaming.state_commit_s": tot["streaming.state_commit_ms"] / 1e3,
        "streaming.state_rows": tot["streaming.state_rows"],
        "streaming.state_mb": tot["streaming.state_bytes"] / MB,
    }
    return out

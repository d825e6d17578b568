"""Fold a Spark event log into the benchmark's per-layer numbers.

Keys run one at a time, so every job, stage and task is attributed to
the timed key whose wall-clock window contains its submission (job,
stage) or launch (task) time. That also catches the micro-batch jobs of
a streaming query, which run under the stream's own run id rather than
the caller's job group. A streaming progress event is attributed by
its trigger's start time, a query start by its own time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass
from datetime import datetime

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"


@dataclass(frozen=True)
class Window:
    """One timed key execution, in epoch milliseconds."""

    key: str
    start_ms: float
    sink_ms: float  # the sink call; construction ends here
    end_ms: float


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of every (possibly rolled) event-log file under ``log_dir``."""

    def part(path: str) -> tuple[str, int]:
        name = os.path.basename(path)
        index = name.split("_")[1] if name.startswith("events_") else "0"
        return os.path.dirname(path), int(index) if index.isdigit() else 0

    files = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    for path in sorted(files, key=part):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def _locate(windows: list[Window], t_ms: float) -> Window | None:
    for w in windows:
        if w.start_ms <= t_ms <= w.end_ms:
            return w
    return None


def fold(events: Iterable[dict], windows: list[Window]) -> dict[str, float]:
    """Totals over the events that fall in ``windows``."""
    windows = sorted(windows, key=lambda w: w.start_ms)
    out = dict.fromkeys(
        (
            "jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "single_task_stages", "input_bytes", "input_records",
        ),
        0.0,
    )
    first_job: dict[Window, float] = {}
    run_ids: set[str] = set()
    triggers: list[float] = []
    commit_ms = input_rows = 0.0
    state_rows: dict[str, float] = {}
    state_mem: dict[str, float] = {}

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            w = _locate(windows, ev["Submission Time"])
            if w is not None:
                out["jobs"] += 1
                if ev["Submission Time"] >= w.sink_ms:
                    first_job[w] = min(first_job.get(w, w.end_ms), ev["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if _locate(windows, info.get("Submission Time", -1)) is not None:
                out["stages"] += 1
                if info["Number of Tasks"] == 1 and info.get("Parent IDs"):
                    out["single_task_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if _locate(windows, ev["Task Info"]["Launch Time"]) is None:
                continue
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            out["input_bytes"] += inp.get("Bytes Read", 0)
            out["input_records"] += inp.get("Records Read", 0)
        elif kind == STARTED:
            if _locate(windows, _epoch_ms(ev["timestamp"])) is not None:
                run_ids.add(ev["runId"])
        elif kind == PROGRESS:
            p = ev["progress"]
            if _locate(windows, _epoch_ms(p["timestamp"])) is None:
                continue
            run_ids.add(p["runId"])
            d = p.get("durationMs") or {}
            triggers.append(d.get("triggerExecution", 0) / 1e3)
            commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            input_rows += sum(src.get("numInputRows", 0) for src in p.get("sources") or [])
            ops = p.get("stateOperators") or []
            rows = sum(o.get("numRowsTotal", 0) for o in ops)
            mem = sum(o.get("memoryUsedBytes", 0) for o in ops)
            state_rows[p["runId"]] = max(state_rows.get(p["runId"], 0), rows)
            state_mem[p["runId"]] = max(state_mem.get(p["runId"], 0), mem)

    out["plan_s"] = sum(
        (first_job.get(w, w.end_ms) - w.sink_ms) / 1e3 for w in windows
    )
    out.update(
        {
            "streaming.queries": float(len(run_ids)),
            "streaming.triggers": float(len(triggers)),
            "streaming.input_rows": input_rows,
            "streaming.trigger_s": sum(triggers),
            "streaming.trigger_p50_s": statistics.median(triggers) if triggers else 0.0,
            "streaming.commit_s": commit_ms / 1e3,
            "streaming.state_rows": float(sum(state_rows.values())),
            "streaming.state_memory_bytes": float(sum(state_mem.values())),
        }
    )
    return out


def count_log_lines(log_path: str, needle: str, windows: list[Window]) -> int:
    """Lines of a Spark log whose leading epoch-ms stamp falls in a window
    and that contain ``needle``."""
    n = 0
    with open(log_path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            if needle not in line:
                continue
            stamp = line.split(" ", 1)[0]
            if stamp.isdigit() and _locate(windows, int(stamp)) is not None:
                n += 1
    return n

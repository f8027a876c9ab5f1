"""Outside-in tracing of one benchmark run.

Three sources, none of which needs a change to the engine:

- job groups: `run.py` sets `pb|<pass>|<entry>|<layer>` around every public
  call it makes, so each Spark job carries the entry and layer that caused
  it (`spark.jobGroup.id` in the job's properties);
- Spark's event log (JSON lines, enabled through `extra_conf`): stage and
  task metrics, and the SQL executions with their physical plans;
- a `StreamingQueryListener`: a streaming query runs its micro-batches on
  its own thread under the job group `<runId>`, outside the caller's group,
  so only the listener can tie those jobs (and the per-trigger
  `durationMs` phases) back to the entry whose builder started the query.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

GROUP_PREFIX = "pb"

# per-(entry, layer) counters taken from the event log
TASK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "scan_bytes",
    "write_bytes",
    "files_written",
    "write_task_s",
)

# StreamingQueryProgress.durationMs phases summed per query
STREAM_PHASES = {
    "triggerExecution": "trigger_s",
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
}


def job_group(pass_no: int, entry: str, layer: str) -> str:
    return f"{GROUP_PREFIX}|{pass_no}|{entry}|{layer}"


def parse_job_group(group: str | None):
    """(pass, entry, layer) of a benchmark job group, else None."""
    if not group or not group.startswith(GROUP_PREFIX + "|"):
        return None
    _, pass_no, entry, layer = group.split("|", 3)
    return int(pass_no), entry, layer


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics") or []:
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children") or []:
        _metric_names(child, out)


def parse_event_log(lines, stream_runs: dict[str, tuple[int, str]] | None = None) -> dict:
    """Attribute the jobs, stages and tasks of an event log to
    (pass, entry, layer).

    `stream_runs` maps a streaming runId to the (pass, entry) whose builder
    started it; jobs in that runId's group get the layer `stream`.

    Returns {"cells": {(pass, entry, layer): {field: value}},
    "stage_skew": [(key, task_seconds, max/mean task time)] per stage,
    "sql": [{"start", "end", "plan", "key"}]} where "key" is the
    (pass, entry, layer) of the SQL execution's first job."""
    stream_runs = stream_runs or {}
    stage_key: dict[int, tuple] = {}
    cells: dict[tuple, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    stage_tasks: dict[tuple, list[float]] = defaultdict(list)  # (stage, attempt) -> run s
    sql: dict[int, dict] = {}
    sql_key: dict[int, tuple] = {}
    # file counts are SQL metrics the driver adds up (write job stats), so
    # they arrive as driver accumulator updates named in the plan info
    metric_names: dict[int, str] = {}
    driver_updates: dict[int, list] = defaultdict(list)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            key = parse_job_group(group)
            if key is None and group in stream_runs:
                pass_no, entry = stream_runs[group]
                key = (pass_no, entry, "stream")
            if key is None:
                continue
            cells[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                sql_key.setdefault(int(exec_id), key)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_key:
                cells[stage_key[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            key = stage_key.get(sid)
            if key is None:
                continue
            c = cells[key]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                c["failed_tasks"] += 1
            run_s = _num(m.get("Executor Run Time")) / 1000.0
            c["task_run_s"] += run_s
            c["gc_s"] += _num(m.get("JVM GC Time")) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            c["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read")
            )
            c["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled")
            )
            c["scan_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
            written = _num((m.get("Output Metrics") or {}).get("Bytes Written"))
            c["write_bytes"] += written
            if written > 0:
                c["write_task_s"] += run_s
            stage_tasks[(sid, ev.get("Stage Attempt ID", 0))].append(run_s)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[ev["executionId"]] = {
                "start": _num(ev.get("time")) / 1000.0,
                "end": None,
                "plan": ev.get("physicalPlanDescription", ""),
            }
            _metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # AQE re-plans with fresh accumulator ids
            _metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates[ev["executionId"]] += ev.get("accumUpdates") or []
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in sql:
                sql[ev["executionId"]]["end"] = _num(ev.get("time")) / 1000.0
    for exec_id, updates in driver_updates.items():
        key = sql_key.get(exec_id)
        if key is not None:
            cells[key]["files_written"] += sum(
                _num(v) for aid, v in updates if metric_names.get(aid) == "number of written files"
            )
    skew = []
    for (sid, _attempt), tasks in stage_tasks.items():
        total = sum(tasks)
        if len(tasks) >= 2 and total > 0:
            skew.append((stage_key[sid], total, max(tasks) / (total / len(tasks))))
    executions = [
        {**s, "key": sql_key[i]} for i, s in sorted(sql.items()) if i in sql_key
    ]
    return {"cells": dict(cells), "stage_skew": skew, "sql": executions}


def weighted_skew(stage_skew: list[tuple[float, float]]) -> float:
    """Task-time-weighted mean over stages of max task time / mean task
    time; 1.0 means perfectly even stages."""
    total = sum(w for w, _ in stage_skew)
    if total <= 0:
        return 1.0
    return sum(w * s for w, s in stage_skew) / total


def pipeline_phases(sql_execs: list[dict], call_start: float, call_end: float, lake: str) -> dict[str, float]:
    """Split one `run_batch_pipeline` call into its zone transitions from
    the SQL executions it ran: processed runs until the first execution
    that writes the staging zone, staging until the first that touches the
    warehouse zone, warehouse until the last that touches it, and the
    quality gate is the rest of the call."""

    def first(pred):
        return next((e for e in sql_execs if pred(e["plan"])), None)

    staging = first(lambda p: f"{lake}/staging" in p and "InsertIntoHadoopFsRelationCommand" in p)
    wh = [e for e in sql_execs if f"{lake}/warehouse" in e["plan"]]
    t_staging = staging["start"] if staging else call_end
    t_wh = wh[0]["start"] if wh else call_end
    t_quality = max((e["end"] or e["start"]) for e in wh) if wh else call_end
    return {
        "processed_s": t_staging - call_start,
        "staging_s": t_wh - t_staging,
        "warehouse_s": t_quality - t_wh,
        "quality_s": call_end - t_quality,
    }


def make_listener():
    """A StreamingQueryListener that records, per streaming run, the
    context the benchmark was in when the query started and the
    durationMs phases, input rows and state size of its progress events.

    Built inside a function so the pyspark import happens only when a
    session exists."""
    from pyspark.sql.streaming import StreamingQueryListener

    class DrainListener(StreamingQueryListener):
        def __init__(self):
            self.context = None  # (pass, entry) set by run.py around each call
            self.lock = threading.Lock()
            self.runs: dict[str, dict] = {}
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            # delivered synchronously on the thread calling start(), so
            # `context` is still the entry whose builder started the query
            with self.lock:
                self.runs[str(event.runId)] = {
                    "context": self.context,
                    "triggers": 0,
                    "input_rows": 0,
                    "state_rows": 0,
                    "state_bytes": 0,
                    **dict.fromkeys(STREAM_PHASES.values(), 0.0),
                }

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                run = self.runs.get(str(p.runId))
                if run is None:
                    return
                run["triggers"] += 1
                run["input_rows"] += p.numInputRows
                for phase, field in STREAM_PHASES.items():
                    run[field] += p.durationMs.get(phase, 0) / 1000.0
                # the last progress holds the final state size
                run["state_rows"] = sum(s.numRowsTotal for s in p.stateOperators)
                run["state_bytes"] = sum(s.memoryUsedBytes for s in p.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def started_in(self, context) -> list[dict]:
            with self.lock:
                return [r for r in self.runs.values() if r["context"] == context]

        def wait_idle(self, timeout: float = 30.0) -> None:
            """Progress events arrive asynchronously; a query's terminated
            event is posted after its last progress, so wait for one per
            started run."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if set(self.runs) <= self.terminated:
                        return
                time.sleep(0.02)
            raise TimeoutError("streaming listener events still pending")

    return DrainListener()

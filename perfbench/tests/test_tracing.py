"""The event-log parser gives known totals on a small hand-written log."""

import json

import tracing


def _job(jid, group, stages, exec_id=None, t=1000):
    props = {"spark.jobGroup.id": group}
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def _task(sid, run_ms, gc_ms=0, shuffle_w=0, read_local=0, read_remote=0,
          spill=0, scan=0, written=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
        "Task Info": {"Failed": failed, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Local Bytes Read": read_local, "Remote Bytes Read": read_remote},
            "Input Metrics": {"Bytes Read": scan},
            "Output Metrics": {"Bytes Written": written},
        },
    }


FIXTURE = [
    _job(0, tracing.job_group(0, "q1", "build"), [0]),
    _task(0, 1000, gc_ms=100, scan=500),
    _task(0, 3000, shuffle_w=40),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    _job(1, tracing.job_group(0, "q1", "exec"), [1, 2], exec_id=7, t=3000),
    _task(1, 500, read_local=30, read_remote=10, spill=64),
    _task(2, 250, written=2048),
    _task(2, 250, written=1024, failed=True),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
    # a streaming micro-batch: its group is the query's runId
    _job(2, "run-abc", [3]),
    _task(3, 200, scan=100),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    # a job outside the benchmark's groups is ignored
    _job(3, "someone-else", [4]),
    _task(4, 9999, scan=9999),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 7, "time": 3000, "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand /lake/staging",
     "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [
         {"nodeName": "Execute InsertIntoHadoopFsRelationCommand", "children": [],
          "metrics": [{"name": "number of written files", "accumulatorId": 38}]}]}},
    # AQE re-plans the write with a fresh accumulator id; the driver then
    # reports the file count under it
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 7, "sparkPlanInfo": {"nodeName": "Execute InsertIntoHadoopFsRelationCommand",
                                         "children": [], "metrics": [
                                             {"name": "number of written files", "accumulatorId": 127},
                                             {"name": "written output", "accumulatorId": 128}]}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 7, "accumUpdates": [[127, 3], [128, 3072]]},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
     "executionId": 7, "time": 4500},
]


def test_event_log_totals():
    lines = [json.dumps(e) for e in FIXTURE]
    out = tracing.parse_event_log(lines, {"run-abc": (0, "s1")})
    cells = out["cells"]
    assert set(cells) == {(0, "q1", "build"), (0, "q1", "exec"), (0, "s1", "stream")}
    b = cells[(0, "q1", "build")]
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 2)
    assert b["task_run_s"] == 4.0 and b["gc_s"] == 0.1
    assert b["scan_bytes"] == 500 and b["shuffle_write_bytes"] == 40
    assert b["write_task_s"] == 0.0  # no task of job 0 wrote output
    e = cells[(0, "q1", "exec")]
    assert (e["jobs"], e["stages"], e["tasks"], e["failed_tasks"]) == (1, 2, 3, 1)
    assert e["shuffle_read_bytes"] == 40 and e["spill_bytes"] == 64
    assert e["write_bytes"] == 3072 and e["files_written"] == 3
    assert e["write_task_s"] == 0.5  # the two 250 ms tasks that wrote files
    s = cells[(0, "s1", "stream")]
    assert (s["jobs"], s["tasks"], s["scan_bytes"]) == (1, 1, 100)
    # stage 0: tasks 1 s and 3 s -> max/mean = 1.5, weight 4 s;
    # stage 2: 0.25 s twice -> 1.0, weight 0.5 s
    skew = {(k, round(w, 3)): round(x, 3) for k, w, x in out["stage_skew"]}
    assert skew == {((0, "q1", "build"), 4.0): 1.5, ((0, "q1", "exec"), 0.5): 1.0}
    assert round(tracing.weighted_skew([(w, x) for _k, w, x in out["stage_skew"]]), 4) == round(
        (4.0 * 1.5 + 0.5 * 1.0) / 4.5, 4
    )
    assert out["sql"] == [
        {"start": 3.0, "end": 4.5, "key": (0, "q1", "exec"),
         "plan": "Execute InsertIntoHadoopFsRelationCommand /lake/staging"}
    ]


def test_pipeline_phases_split_the_call():
    def ex(start, end, plan):
        return {"start": start, "end": end, "plan": plan, "key": (0, "pipeline", "exec")}

    execs = [
        ex(10.5, 12.0, "InsertIntoHadoopFsRelationCommand /lake/processed"),
        ex(12.5, 14.0, "InsertIntoHadoopFsRelationCommand /lake/staging"),
        ex(15.0, 16.0, "InsertIntoHadoopFsRelationCommand /lake/warehouse/dim_vendor"),
        ex(16.0, 17.0, "Scan parquet /lake/warehouse/fact_trip"),
        ex(17.2, 17.8, "Scan parquet /lake/staging"),
    ]
    ph = tracing.pipeline_phases(execs, 10.0, 18.0, "/lake")
    assert ph == {"processed_s": 2.5, "staging_s": 2.5, "warehouse_s": 2.0, "quality_s": 1.0}

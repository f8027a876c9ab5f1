"""Reporting rules: the p90 needs 100 samples, and a result the gate
rejects counts as a failed operation."""

from types import SimpleNamespace

import run as bench


def _run(latencies_per_pass, gate_failures=None, failed=(), untimed=()):
    passes = [
        {"wall": sum(lat), "latencies": lat, "entries": [f"q{i}" for i in range(len(lat))],
         "failed": list(failed)}
        for lat in latencies_per_pass
    ]
    return SimpleNamespace(
        passes=passes, setup_s=1.0, peak_rss_mb=100.0,
        attempted=sum(len(p["latencies"]) for p in passes),
        gate_failures=gate_failures or {}, untimed=set(untimed),
    )


def test_no_p90_below_100_samples():
    info = {"rows_per_pass": 10}
    few = bench.end_to_end(_run([[0.1] * 33, [0.2] * 33, [0.3] * 33]), info)
    assert "query_p90_s" not in few
    enough = bench.end_to_end(_run([[0.1] * 50, [0.2] * 50]), info)
    assert enough["query_p90_s"] == 0.2


def test_a_wrong_result_raises_the_error_rate():
    info = {"rows_per_pass": 10}
    clean = _run([[0.1, 0.2, 0.3]] * 2)
    assert bench.end_to_end(clean, info)["error_rate"] == 0
    assert bench.failed_count(clean) == 0
    wrong = _run([[0.1, 0.2, 0.3]] * 2, gate_failures={"q1": "values differ"})
    assert bench.failed_count(wrong) == 2  # q1's two timed runs
    assert bench.end_to_end(wrong, info)["error_rate"] == 2 / 6
    raised = _run([[0.1, 0.2, 0.3]], failed=["q2"])
    assert bench.end_to_end(raised, info)["error_rate"] == 1 / 3


def test_an_empty_streaming_slot_is_a_failure():
    info = {"rows_per_pass": 10}
    # a candidate passed over cleanly, one that raised, and no slot entry
    empty = _run(
        [[0.1, 0.2, 0.3]] * 2,
        gate_failures={"s2": "RuntimeError: boom", bench.STREAM_SLOT: "no candidate started"},
        untimed=["s1", "s2", bench.STREAM_SLOT],
    )
    assert bench.attempted_count(empty) == 9
    assert bench.failed_count(empty) == 2
    assert bench.end_to_end(empty, info)["error_rate"] == 2 / 9


def test_a_streaming_entry_that_starts_no_query_fails(tmp_path):
    run = bench.Run("adhoc_sql", 1, 1.0, str(tmp_path), traced=False, rewarm=False)
    started = set()
    run.listener = SimpleNamespace(context=None, started_in=lambda ctx: [ctx] if ctx in started else [])
    run.jvm_gc_s = lambda: 0.0
    run.reclaim = lambda: None
    run.stream_entry = "s"
    rec = run.new_record(0)
    run.run_entry(0, "q", rec, lambda: "df", lambda df: None)
    run.run_entry(0, "s", rec, lambda: "df", lambda df: None)
    started.add((0, "s"))
    run.run_entry(0, "s", rec, lambda: "df", lambda df: None)
    assert rec["entries"] == ["q", "s", "s"]
    assert rec["failed"] == ["s"]


def _contract():
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_reports_every_contract_metric():
    out = bench.end_to_end(_run([[0.1, 0.2]]), {"rows_per_pass": 10})
    assert {m["name"] for m in _contract()["end_to_end"]} <= set(out)


def test_per_layer_reports_every_contract_metric(tmp_path):
    import json

    from test_tracing import FIXTURE

    (tmp_path / "events").mkdir()
    (tmp_path / "events" / "app-1").write_text("\n".join(json.dumps(e) for e in FIXTURE))
    stream_run = {"context": (0, "s1"), "triggers": 2, "input_rows": 10, "state_rows": 3,
                  "state_bytes": 64, "trigger_s": 0.5, "add_batch_s": 0.3,
                  "query_planning_s": 0.1, "wal_commit_s": 0.05, "commit_offsets_s": 0.05}
    listener = SimpleNamespace(
        runs={"run-abc": stream_run},
        started_in=lambda ctx: [stream_run] if ctx == (0, "s1") else [],
    )
    run = SimpleNamespace(
        work=str(tmp_path), listener=listener, cpus=4, start_s=1.0, warm_s=2.0,
        passes=[{"pass": 0, "wall": 2.0, "latencies": [1.0, 1.0], "entries": ["q1", "s1"],
                 "failed": [], "build_s": {"q1": 0.4, "s1": 0.9}, "plan_s": 0.1,
                 "exec_s": 0.5, "checkpoints": 1, "calls": {}}],
    )
    layers, entry_map = bench.per_layer(run, {"rows_per_pass": 10}, untraced_wall=1.6)
    assert {m["name"] for m in _contract()["per_layer"]} == set(layers)
    assert layers["plans.build_jobs"] == 1 and layers["exec.jobs"] == 2
    assert layers["streaming.lifecycle_s"] == 0.9 - 0.5
    assert round(layers["trace.overhead"], 6) == 0.25
    assert set(entry_map) == {"q1", "s1"}

"""Repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {adhoc_sql,etl_star}
                             --seed N --seconds S --trace {0,1}

Each workload is one closed-loop client (the next query starts when the
previous one has returned) in this one process, on `local[N]` with N the
cores this process may run on. Inputs come from `--seed` only
(`workloads.py`). A warm-up lasts until the pass time settles, then timed
passes run for `--seconds`. The correctness gate (`gate.py`) checks the
outputs outside every timing: as the first pass of adhoc_sql, after the
timed passes of etl_star.

`--trace 0` reports the end-to-end metrics. `--trace 1` repeats the run
with job groups, Spark's event log and a streaming listener switched on
(`tracing.py`), reports the per-layer metrics, prints the per-entry x
layer map, and then runs the untraced loop once more in the same process
to state the tracing overhead.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. Everything Spark or the JVM prints goes to stderr.
See perfbench/README.md for the workloads, metrics and steadiness rules.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("adhoc_sql", "etl_star")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
DRIVER_MEMORY = "2g"
# The driver JVM compiles with C1 only. With the default tiered C2, pass
# times kept falling for ten passes (7.9 s down to 5.5 s) as more code got
# C2-compiled, so a timed pass measured how far the JIT had got; with C1
# the first warm pass is already on the plateau. Absolute times are
# higher than a long-warmed C2 JVM's.
# C1-only JVMs reserve a 48 MB code cache; the generated code of a run
# passes 50 MB about 45 s after start. From there the code-cache sweeper
# took half a core and flushed compiled methods that C1 then compiled
# again, and the passes that ran then were 15-30% slower (the "second
# timed pass slower" of earlier runs). 256 MB (tiered JVMs reserve 240 MB)
# leaves room.
# It collects with the parallel collector and a fixed 256 MB young
# generation: with G1's adaptive heap expansion, peak RSS spread 14-23%
# (quartile distance over median) across runs; with these it spread 2%.
JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -XX:+UseParallelGC -Xmn256m"

# Warm-up ends when a pass is no more than SETTLE_TOL faster than the best
# earlier one (the JIT tail only ever speeds passes up; noise goes both
# ways), after at least MIN_WARM passes; MAX_WARM bounds it on a host that
# never settles. "Two consecutive passes within 10%" let the pipeline's
# tail (8.3 s, 7.7 s, then 6.0 s) pass for settled, and a timed pass landed
# 25% above the others.
SETTLE_TOL = 0.05
MIN_WARM = 2
MAX_WARM = 3
# The overhead re-run of a traced run starts a second session in the
# already warm JVM: one warm pass, so a traced run stays well under 180 s.
REWARM_PASSES = 1

# Timed passes run until `--seconds` have elapsed and at least MIN_TIMED
# have run. With three, wall_s is the middle pass, so one pass slowed by a
# busy host or a last JIT tail does not move it. With two, a run reported
# their mean, and where a pass is near half of `--seconds` some runs timed
# two passes and some three, which mixed means and medians.
MIN_TIMED = 3

# pass number of the correctness gate; warm-up passes count down from it
GATE_PASS = -1
# the name a failure of adhoc_sql's streaming slot is recorded under when no
# candidate starts a streaming query
STREAM_SLOT = "<stream>"

# a percentile is reported only with at least 10 samples beyond it
P90_MIN_SAMPLES = 100


class Run:
    """One session, its listener and the bookkeeping of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str, traced: bool, rewarm: bool):
        self.workload = workload
        self.rewarm = rewarm
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.traced = traced
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.listener = None
        # per timed pass: wall, per-query latencies, and (traced) timers
        self.passes: list[dict] = []
        self.attempted = 0
        self.gate_failures: dict[str, str] = {}
        # gate checks of what is not timed (streaming candidates passed
        # over, an empty streaming slot): one operation each
        self.untimed: set[str] = set()
        # the entry that must start a streaming query on every call
        self.stream_entry: str | None = None

    # --- session ---------------------------------------------------------

    def start(self) -> None:
        from nyc_taxi_data_pipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # C1 only, code cache and collector: see JVM_FLAGS
            "spark.driver.extraJavaOptions": f"{JVM_FLAGS} -Djava.io.tmpdir={tmp}",
            # the status store keeps 1000 jobs, stages and SQL executions
            # by default. Without these limits and without dropping temp
            # views between queries (reclaim), a fixed panel's pass time
            # rose from 6.9 s to 12 s by the thirteenth pass, with the
            # between-query GC growing from 0.1 s to 0.3 s
            "spark.ui.retainedJobs": "50",
            "spark.ui.retainedStages": "50",
            "spark.ui.retainedTasks": "1000",
            "spark.sql.ui.retainedExecutions": "50",
            "spark.sql.streaming.ui.retainedQueries": "10",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        }
        if self.traced:
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + events,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.listener = tracing.make_listener()
        self.spark.streams.addListener(self.listener)
        self.start_s = time.perf_counter() - t0
        log(f"session start {self.start_s:.2f} s")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.streams.removeListener(self.listener)
            self.spark.stop()
            self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def jvm_gc_s(self) -> float:
        """Seconds the driver JVM has spent in garbage collection so far."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def group(self, pass_no: int, entry: str, layer: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(tracing.job_group(pass_no, entry, layer), layer)

    def clear_group(self) -> None:
        if self.traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def reclaim(self) -> None:
        """Between queries, outside any timing: unpersist what the entry
        left cached, drop the temp views it registered (memory sinks),
        forget terminated streams and run a JVM GC, so the next query
        starts from the same heap and block-manager state whatever ran
        before it. Python's garbage (py4j proxies pin JVM objects) is
        collected once per pass, warm and timed alike."""
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)
        self.spark.streams.resetTerminated()
        self.spark._jvm.System.gc()

    # --- one query -------------------------------------------------------

    def run_entry(self, pass_no: int, name: str, rec: dict, build, execute) -> None:
        """Time one operation: `build()` is the public builder call,
        `execute(df)` materialises what it returned. With tracing, each
        half runs under its own job group and the Catalyst planning of the
        built frame is timed between them. The streaming entry fails if
        its builder started no streaming query."""
        self.listener.context = (pass_no, name)
        gc0 = self.jvm_gc_s()
        t0 = time.perf_counter()
        try:
            self.group(pass_no, name, "build")
            df = build()
            t1 = time.perf_counter()
            if self.traced:
                rec["checkpoints"] += len(self.spark.sparkContext._jsc.getPersistentRDDs())
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            self.group(pass_no, name, "exec")
            call_start = time.time()
            execute(df)
            rec["calls"][name] = (call_start, time.time())
            t3 = time.perf_counter()
            if name == self.stream_entry and not self.listener.started_in((pass_no, name)):
                raise RuntimeError("the builder started no streaming query")
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            log(f"{name} failed: {type(e).__name__}: {e}")
            rec["failed"].append(name)
            t1 = t2 = t3 = time.perf_counter()
        finally:
            self.listener.context = None
            self.clear_group()
        rec["gc_s"] += self.jvm_gc_s() - gc0
        rec["latencies"].append(t3 - t0)
        rec["entries"].append(name)
        rec["build_s"][name] = t1 - t0
        rec["plan_s"] += t2 - t1
        rec["exec_s"] += t3 - t2
        self.reclaim()

    # --- passes ----------------------------------------------------------

    def new_record(self, pass_no: int) -> dict:
        return {
            "pass": pass_no,
            "latencies": [],
            "entries": [],
            "failed": [],
            "build_s": {},
            "plan_s": 0.0,
            "exec_s": 0.0,
            "checkpoints": 0,
            "calls": {},
            "gc_s": 0.0,
        }

    def warm_and_time(self, run_pass, gate_pass=None) -> None:
        """Run the gate pass when given (untimed, and the coldest pass of
        the run), warm up until the pass time stops improving, then run
        timed passes until `seconds` have elapsed (at least MIN_TIMED)."""
        t0 = time.perf_counter()
        if gate_pass is not None:
            gate_pass()
            log(f"gate pass {time.perf_counter() - t0:.2f} s")
        warm: list[float] = []
        while True:
            rec = run_pass(GATE_PASS - 1 - len(warm))
            gc.collect()
            warm.append(sum(rec["latencies"]))
            log(f"warm pass {len(warm)}: {warm[-1]:.2f} s {[round(x, 2) for x in rec['latencies']]}")
            if len(warm) >= (REWARM_PASSES if self.rewarm else MAX_WARM):
                break
            if len(warm) >= MIN_WARM and warm[-1] >= (1 - SETTLE_TOL) * min(warm[:-1]):
                break
        self.warm_s = time.perf_counter() - t0
        self.warm_passes = warm
        self.setup_s = time.perf_counter() - T_PROCESS
        log(f"setup {self.setup_s:.2f} s")
        t_timed = time.perf_counter()
        while len(self.passes) < MIN_TIMED or time.perf_counter() - t_timed < self.seconds:
            cpu0 = host_cpu_ticks()
            rec = run_pass(len(self.passes))
            spent = [b - a for a, b in zip(cpu0, host_cpu_ticks())]
            rec["steal_share"] = spent[7] / max(sum(spent), 1)
            gc.collect()
            rec["wall"] = sum(rec["latencies"])
            log(
                f"timed pass {len(self.passes)}: {rec['wall']:.2f} s {[round(x, 2) for x in rec['latencies']]}"
                f" jvm gc {rec['gc_s']:.2f} s steal {rec['steal_share']:.3f}"
            )
            self.passes.append(rec)
            self.attempted += len(rec["latencies"])

    def gate_entry(self, con, name: str) -> bool:
        """Build and collect one entry and compare it with its oracle;
        record a mismatch. Returns whether the build started a streaming
        query."""
        from gate import entry_ok
        from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

        self.listener.context = (GATE_PASS, name)
        try:
            ok, why = entry_ok(self.spark, con, REGISTRY[name], SF_DIR)
        finally:
            self.listener.context = None
        self.reclaim()
        if not ok:
            self.gate_failures[name] = why
        return bool(self.listener.started_in((GATE_PASS, name)))


def host_cpu_ticks() -> list[int]:
    """The host's CPU time counters (/proc/stat "cpu" line; the 8th is
    steal: time this VM's CPUs waited while the hypervisor ran others)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- workloads -------------------------------------------------------------


def adhoc_sql(run: Run, entries: list[str] | None) -> dict:
    """The catalog panel in seeded order. The gate pass also fills the
    streaming slot: with the first candidate whose builder the listener
    sees start a streaming query."""
    from functools import partial

    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY
    from tests.oracle_harness import duck_connection

    names = list(entries or [])

    def gate_pass():
        with duck_connection(SF_DIR) as con:
            for name in workloads.BATCH_PANEL:
                run.gate_entry(con, name)
            for name in workloads.STREAM_CANDIDATES:
                if run.gate_entry(con, name):
                    run.stream_entry = name
                    break
                # starts no streaming query, so it cannot fill the slot; a
                # gate failure it had stays recorded
                run.untimed.add(name)
            else:
                run.untimed.add(STREAM_SLOT)
                run.gate_failures[STREAM_SLOT] = "no candidate started a streaming query"
        chosen = list(workloads.BATCH_PANEL) + ([run.stream_entry] if run.stream_entry else [])
        names.extend(workloads.seeded_order(chosen, run.seed))

    def noop_write(df):
        df.write.format("noop").mode("overwrite").save()

    def one_pass(pass_no):
        rec = run.new_record(pass_no)
        for name in names:
            run.run_entry(pass_no, name, rec, partial(REGISTRY[name].spark, run.spark, SF_DIR), noop_write)
        return rec

    run.warm_and_time(one_pass, None if entries else gate_pass)
    run.listener.wait_idle()
    stream_rows = [
        sum(r["input_rows"] for n in rec["entries"] for r in run.listener.started_in((rec["pass"], n)))
        for rec in run.passes
    ]
    return {"entries": names, "stream_entry": run.stream_entry, "rows_per_pass": statistics.median(stream_rows)}


def etl_star(run: Run, entries: list[str] | None) -> dict:
    from functools import partial

    from gate import expected_star, star_mismatches
    from nyc_taxi_data_pipeline_spark.plans.pipeline import run_batch_pipeline

    raw_dir = os.path.join(run.work, "raw")
    lake = os.path.join(run.work, "lake")
    raw_bytes = workloads.write_raw_trips(raw_dir, run.seed)
    reports: list[dict] = []

    def pipeline(raw):
        reports.append(run_batch_pipeline(run.spark, raw, lake))

    def one_pass(pass_no):
        rec = run.new_record(pass_no)
        run.run_entry(pass_no, "pipeline", rec, partial(run.spark.read.parquet, raw_dir), pipeline)
        return rec

    run.warm_and_time(one_pass)
    # the gate is cheap here (DuckDB over the raw files), so it runs after
    # the timed passes, on the last run's zones
    if entries is None:
        bad = (
            star_mismatches(expected_star(raw_dir), reports[-1], os.path.join(lake, "warehouse", "fact_trip"))
            if reports
            else ["no pipeline run completed"]
        )
        if bad:
            run.gate_failures["pipeline"] = "; ".join(bad)
    return {"entries": ["pipeline"], "rows_per_pass": workloads.TRIP_ROWS, "raw_bytes": raw_bytes, "lake": lake}


RUNNERS = {"adhoc_sql": adhoc_sql, "etl_star": etl_star}


# --- reporting -------------------------------------------------------------


def attempted_count(run: Run) -> int:
    """Timed operations, and the gate checks of what is not timed."""
    return run.attempted + len(run.untimed)


def failed_count(run: Run) -> int:
    """Timed operations that raised or whose entry's result the gate
    rejected, and the failed gate checks of what is not timed."""
    timed = sum(
        name in rec["failed"] or name in run.gate_failures
        for rec in run.passes
        for name in rec["entries"]
    )
    return timed + sum(name in run.gate_failures for name in run.untimed)


def end_to_end(run: Run, info: dict) -> dict[str, float]:
    walls = [rec["wall"] for rec in run.passes]
    lat = [x for rec in run.passes for x in rec["latencies"]]
    wall = statistics.median(walls)
    out = {
        "setup_s": run.setup_s,
        "wall_s": wall,
        "query_p50_s": statistics.median(lat),
        "rows_per_s": info["rows_per_pass"] / wall,
        "peak_rss_mb": run.peak_rss_mb,
        "error_rate": failed_count(run) / max(attempted_count(run), 1),
    }
    if len(lat) >= P90_MIN_SAMPLES:
        out["query_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    return out


def per_layer(run: Run, info: dict, untraced_wall: float) -> tuple[dict, dict]:
    """Per-layer metrics (means per timed pass) and the per-entry x layer
    map, from the timers, the event log and the streaming listener."""
    events = os.path.join(run.work, "events")
    stream_runs = {rid: r["context"] for rid, r in run.listener.runs.items() if r["context"]}
    lines = []
    for name in sorted(os.listdir(events)):
        with open(os.path.join(events, name)) as f:
            lines.extend(f)
    parsed = tracing.parse_event_log(lines, stream_runs)
    timed = {rec["pass"] for rec in run.passes}
    n = len(run.passes)

    def total(layers, field):
        return sum(
            c[field] for (p, _e, layer), c in parsed["cells"].items() if p in timed and layer in layers
        ) / n

    all_layers = ("build", "exec", "stream")
    run_layers = ("exec", "stream")
    stream_recs = [
        r for rec in run.passes for e in rec["entries"] for r in run.listener.started_in((rec["pass"], e))
    ]
    stream_build = sum(
        rec["build_s"][e] for rec in run.passes for e in rec["build_s"] if run.listener.started_in((rec["pass"], e))
    ) / n

    def stream_sum(field):
        return sum(r[field] for r in stream_recs) / n

    wall = statistics.median(rec["wall"] for rec in run.passes)
    scan = total(all_layers, "scan_bytes")
    written = total(all_layers, "write_bytes")
    input_bytes = info.get("raw_bytes") or scan
    m = {
        "session.start_s": run.start_s,
        "session.warm_s": run.warm_s,
        "plans.build_s": sum(sum(rec["build_s"].values()) for rec in run.passes) / n,
        "plans.build_jobs": total(("build",), "jobs"),
        "plans.build_stages": total(("build",), "stages"),
        "plans.checkpoints": sum(rec["checkpoints"] for rec in run.passes) / n,
        "catalyst.plan_s": sum(rec["plan_s"] for rec in run.passes) / n,
        "exec.s": sum(rec["exec_s"] for rec in run.passes) / n,
        "exec.jobs": total(run_layers, "jobs"),
        "exec.tasks": total(run_layers, "tasks"),
        "exec.task_run_s": total(run_layers, "task_run_s"),
        "exec.gc_s": total(run_layers, "gc_s"),
        "exec.core_util": total(all_layers, "task_run_s") / (wall * run.cpus),
        "exec.task_skew": tracing.weighted_skew(
            [(w, s) for key, w, s in parsed["stage_skew"] if key[0] in timed]
        ),
        "exec.shuffle_write_bytes": total(run_layers, "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": total(run_layers, "shuffle_read_bytes"),
        "exec.spill_bytes": total(run_layers, "spill_bytes"),
        "exec.failed_tasks": total(all_layers, "failed_tasks"),
        "sources.scan_bytes": scan,
        "sources.write_s": total(all_layers, "write_task_s"),
        "sources.write_bytes": written,
        "sources.files_written": total(all_layers, "files_written"),
        "sources.write_amp": written / input_bytes if input_bytes else 0.0,
        "streaming.triggers": stream_sum("triggers"),
        "streaming.trigger_s": stream_sum("trigger_s"),
        "streaming.add_batch_s": stream_sum("add_batch_s"),
        "streaming.query_planning_s": stream_sum("query_planning_s"),
        "streaming.wal_commit_s": stream_sum("wal_commit_s"),
        "streaming.commit_offsets_s": stream_sum("commit_offsets_s"),
        "streaming.lifecycle_s": stream_build - stream_sum("trigger_s") if stream_recs else 0.0,
        "streaming.input_rows": stream_sum("input_rows"),
        "streaming.state_rows": stream_sum("state_rows"),
        "streaming.state_bytes": stream_sum("state_bytes"),
        "trace.overhead": wall / untraced_wall - 1.0,
    }
    phases = dict.fromkeys(("processed_s", "staging_s", "warehouse_s", "quality_s"), 0.0)
    for rec in run.passes:
        if "pipeline" in rec["calls"]:
            execs = [e for e in parsed["sql"] if e["key"][0] == rec["pass"]]
            for k, v in tracing.pipeline_phases(execs, *rec["calls"]["pipeline"], info["lake"]).items():
                phases[k] += v / n
    m.update({f"pipeline.{k}": v for k, v in phases.items()})

    entry_map: dict[str, dict] = {}
    for (p, entry, layer), c in parsed["cells"].items():
        if p in timed:
            cell = entry_map.setdefault(entry, {}).setdefault(layer, dict.fromkeys(c, 0.0))
            for k, v in c.items():
                cell[k] += v / n
    for rec in run.passes:
        for e, b in rec["build_s"].items():
            entry_map.setdefault(e, {}).setdefault("build", {}).setdefault("wall_s", 0.0)
            entry_map[e]["build"]["wall_s"] += b / n
    return m, entry_map


def execute(workload, seed, seconds, work, traced, rerun=None) -> tuple[Run, dict]:
    """One session through gate, warm-up and timed passes. With `rerun`,
    the info of an earlier run (the overhead re-run), its entries run
    again and the gate and the streaming-slot search are skipped."""
    run = Run(workload, seed, seconds, work, traced, rewarm=rerun is not None)
    if rerun is not None:
        run.stream_entry = rerun.get("stream_entry")
    run.start()
    try:
        info = RUNNERS[workload](run, rerun and rerun["entries"])
        run.listener.wait_idle()
        run.peak_rss_mb = run.jvm_peak_rss_mb()
    finally:
        run.stop()
    return run, info


def shutdown_gateway() -> None:
    """Stop the JVM this process launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the metric names and units the result line carries are the contract's
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in contract["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in contract["per_layer"]}

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    # Route everything (JVM included: it inherits fd 1) to stderr; keep the
    # real stdout for the result lines.
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    try:
        run, info = execute(args.workload, args.seed, args.seconds, work, bool(args.trace))
        e2e = end_to_end(run, info)
        lines = []
        if args.trace:
            # the same loop without tracing, in the same JVM, for the overhead
            base, _ = execute(args.workload, args.seed, args.seconds, work + "-untraced", False, info)
            layers, entry_map = per_layer(run, info, end_to_end(base, info)["wall_s"])
            metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
            lines.append(json.dumps({"per_entry_layer": entry_map}, sort_keys=True))
            attempted = attempted_count(run) + attempted_count(base)
            failed = failed_count(run) + failed_count(base)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
            attempted, failed = attempted_count(run), failed_count(run)
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "entries": info["entries"],
            "timed_passes": len(run.passes),
            "timed_queries": run.attempted,
            "warm_passes_s": run.warm_passes,
            "timed_passes_s": [rec["wall"] for rec in run.passes],
            # diagnostics, not metrics: per timed pass, the driver JVM's GC
            # time inside the timed queries, and the share of the VM's CPU
            # time the hypervisor gave to other guests (/proc/stat steal;
            # a contended host shows here first)
            "timed_passes_jvm_gc_s": [rec["gc_s"] for rec in run.passes],
            "timed_passes_host_steal": [rec["steal_share"] for rec in run.passes],
            "gate_failures": run.gate_failures,
            "error_rate": e2e["error_rate"],
            "query_p90_s": e2e.get("query_p90_s", f"not reported: {run.attempted} < {P90_MIN_SAMPLES} samples"),
            "rows_per_s": e2e["rows_per_s"],
            "end_to_end": {k: e2e[k] for k in e2e_units},
        }
        lines.insert(0, json.dumps({"summary": summary}))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        lines.append(json.dumps(result))
    finally:
        shutdown_gateway()
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        for d in (work, work + "-untraced"):
            shutil.rmtree(d, ignore_errors=True)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())

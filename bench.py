"""Benchmark harness: run every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:

    {"metric": "suite_wall_seconds", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Each query is forced with a full count() (materializes every operator in
the plan); per-query seconds include Catalyst planning + execution.

Output contract: the JSON line is the ONLY bytes this process writes to
stdout, and it is deliberately SMALL (<1 KB). BENCH_r01-r03 were all
recorded `parsed: null` because the driver's log capture keeps only a
tail of stdout: at 388 queries a full per-query map is ~12 KB and the
line was truncated mid-JSON three rounds running. So the printed line
now carries only the suite total, the contention-robust
steady_suite_estimate (suite wall minus the proven compile/contention
share of the top-40 reruns — the number to trust round-over-round on
this noisy host), query count, and the slowest-10 timings; the complete
per-query map is written to BENCH_LOCAL.json next to this file (path
named in the summary line). Everything the JVM,
py4j, or any library might print is still routed to stderr at the
file-descriptor level for the whole run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _run(sf_dir: str) -> dict:
    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY
    from nyc_taxi_data_pipeline_spark.session import get_spark

    # Shuffle/spill files go to a RAM-backed local dir when one exists:
    # over a 158-query suite the accumulated shuffle writes otherwise hit
    # the root disk and dirty-page writeback inflates the heavy tail
    # queries. On a real cluster this knob points at executor-local NVMe.
    extra = {}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark-bench"
    # The suite calls System.gc() every 5 queries (see
    # tools/entries.time_pass). On the default collector an explicit gc is
    # a full stop-the-world pass — measured ~0.15-0.2 s each on the warmed
    # 48g heap, ~22 s across 562 queries. ExplicitGCInvokesConcurrent
    # turns those calls into concurrent G1 cycles: the ContextCleaner's
    # weak refs are still processed (reference processing happens in the
    # concurrent cycle's remark), but the suite no longer pays the pause.
    # JVM flags must be set before the driver JVM launches, which is why
    # this sets the flag through extra_conf and not spark.conf.set.
    extra["spark.driver.extraJavaOptions"] = "-XX:+ExplicitGCInvokesConcurrent"
    spark = get_spark(app_name="bench", extra_conf=extra)

    # Warm the session so the FIRST loop entry isn't charged one-time
    # costs that belong to the lake/session, not the query (r5 lake scan
    # + codegen shapes; r7 streaming machinery; r8 pandas worker pool).
    # The ladder lives in tools/warmup.warm_session — ONE implementation
    # shared with `tools/entries.py time` so the two cannot drift.
    # All of it runs before the timed loop.
    from tools.entries import time_pass
    from tools.warmup import warm_session

    warm_session(spark, sf_dir)

    # time_pass reclaims each entry's cached blocks after its count() and
    # runs a Python and a JVM GC every 5 entries (on a /dev/shm local.dir
    # the shuffle files only GC frees occupy executor RAM).
    t_suite = time.perf_counter()
    timings = time_pass(spark, REGISTRY, sf_dir)
    total = round(time.perf_counter() - t_suite, 3)

    # Steady-state pass for the heavy tail: the single-pass number mixes
    # Catalyst planning + codegen compile + execution (plus host
    # contention — this host's single-pass wall swung 615-832 s across
    # four same-code r6 runs while the steady map reproduced to ~2%),
    # which made r4's minhash "regression" and r5's suite drift
    # unadjudicable from the artifact alone. Re-run the slowest 40
    # entries twice more; the best rerun is the steady-state execution
    # cost, first-pass minus that is the compile/first-touch/contention
    # share. Not counted in suite_wall_seconds.
    # r7 lesson: both reruns of an entry used to run BACK-TO-BACK, so a
    # single host-contention burst polluted both and the steady map
    # itself lied (driver recorded 13.85 s steady for an entry that
    # measures 3.35 s idle). Separate the two reruns TEMPORALLY — two
    # full passes over the whole top-40 list, minutes apart, so a burst
    # that hits an entry in pass 1 has moved on by its pass-2 slot —
    # then give any entry whose reruns still disagree by >30% a third
    # decider run. min() over 2-3 temporally-spread runs is what
    # "steady-state execution cost" actually means on a shared host.
    top40 = [
        n for n, _ in sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:40]
    ]
    rerun: dict[str, list[float]] = {n: [] for n in top40}
    for _pass in range(2):
        for name, sec in time_pass(spark, top40, sf_dir).items():
            rerun[name].append(sec)
    unstable = [
        n for n in top40 if max(rerun[n]) > 1.3 * min(rerun[n]) + 0.2
    ]
    for name, sec in time_pass(spark, unstable, sf_dir, gc_every=0).items():
        rerun[name].append(sec)

    spark.stop()
    return {"total": total, "timings": timings, "rerun": rerun}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    # route EVERYTHING (including JVM fd-1 writes) to stderr while queries
    # run; keep a dup of the real stdout for the single result line
    real_stdout_fd = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    try:
        result = _run(sf_dir)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout_fd, 1)
        os.close(real_stdout_fd)

    steady = {n: min(runs) for n, runs in result["rerun"].items()}
    # Contention-robust headline: suite wall minus the compile/contention
    # share measured on the rerun set (first-pass minus steady, clamped
    # at 0). Single-pass wall varies +/-15% run-to-run on this host
    # (firecracker noisy neighbors); this estimate subtracts exactly the
    # part the steady reruns prove was not execution cost, and
    # reproduces within a few % across runs. Two KNOWN bias directions
    # (ADVICE r7) — read this as a tracking metric, not a proven
    # compile share: reruns execute after the whole suite with warm
    # OS/JVM caches, so part of the subtracted (first - steady) delta
    # can be real execution cost the first pass genuinely paid (biases
    # the estimate LOW); entries outside the top-40 keep their full
    # compile share in the total (biases it HIGH). Round-over-round,
    # comparing the per-entry steady maps directly is the trustworthy
    # signal.
    steady_suite_estimate = round(
        result["total"]
        - sum(
            max(result["timings"][n] - steady[n], 0.0)
            for n in steady
        ),
        3,
    )
    full = {
        "metric": "suite_wall_seconds",
        "value": result["total"],
        "unit": "sec",
        "queries": result["timings"],
        # per-entry variance for the heavy tail: first-pass (in "queries",
        # includes planning + codegen) vs two reruns; min(rerun) is the
        # steady-state execution cost.
        "rerun": result["rerun"],
        "steady": steady,
        "steady_suite_estimate": steady_suite_estimate,
        "sf": sf,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
        "w",
    ) as f:
        f.write(json.dumps(full, separators=(",", ":")) + "\n")

    # the PRINTED line stays tiny so tail-truncating log captures keep it
    # whole: suite total + count + slowest-10 only; detail lives in the
    # file named here.
    top10 = dict(
        sorted(result["timings"].items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    summary = {
        "metric": "suite_wall_seconds",
        "value": result["total"],
        "unit": "sec",
        "steady_suite_estimate": steady_suite_estimate,
        "queries": {"top": top10, "top_steady": {n: steady[n] for n in top10}},
        "n_queries": len(result["timings"]),
        "detail": "BENCH_LOCAL.json",
        "sf": sf,
    }
    print(json.dumps(summary, separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

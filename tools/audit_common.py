"""The catalog's two empirical plan audits, run from one build pass:
single-partition windows and data-sized broadcasts / build-time collects.

Both audit a plan shape that dies at 100 TB:

- a logical `Window` whose partitionSpec provides NO distribution (empty,
  or made entirely of FOLDABLE expressions like `partitionBy(F.lit(1))`)
  moves the window's ENTIRE input through one task;
- a `broadcast()` hint materializes the whole frame on the driver and
  ships it to every executor REGARDLESS of its size, and a `.collect()`
  at plan-build time pulls its whole result through the driver's py4j
  channel (`take`/`head` route through collect too; `.toArrow()`, which
  plans/_base.local_frame uses, is counted the same way).

All are fine for provably BOUNDED frames (calendar spines, quantile
grids, fixed panels, dims with a fixed value domain, tier-offset
rollups, 1-row totals) and fatal for anything proportional to the lake.
The audit separates the two EMPIRICALLY, not by guessing from plan
text: it builds every entry at TWO scale points and counts each
suspect's actual input rows (each collect's result rows). Flag rule:
rows(sf0.01) > max(GROWTH * rows(sf0.001), floor) — the input both grew
superconstantly across the 10x lake and is big enough to matter.

Mechanics
---------
- `localCheckpoint(eager=False)` truncates the visible plan, so the
  build intercepts DataFrame.localCheckpoint and records every
  pre-checkpoint frame: each plan SEGMENT is walked separately, and
  every window/hint in the lineage is seen exactly once. Broadcast hints
  are read from the ANALYZED plan (`ResolvedHint(strategy=broadcast)`;
  the optimizer folds them into JoinHint).
- Suspect inputs are re-materialized with Dataset.ofRows on the logical
  child and counted, memoized on (sf, canonicalized semanticHash,
  schema) under a lock, so identical dim/offset frames are counted once.
- The two scale points' suspect lists are paired positionally WITH a
  length check: a mismatch (AQE/branching changing the suspect count)
  records an error instead of silently zipping.
- Entries build from a small thread pool (Spark schedules concurrent
  jobs from one session). The interceptions write to THREAD-LOCAL
  lists, installed once around the whole sweep. Batch builders leave
  the session as they found it, so they all share the pool; stream
  entries (`Query.stream`) pin shuffle.partitions while their query
  starts, so they build serially after the pool drains.

Usage:  python tools/audit_common.py [entry ...] [--json OUT]
Shared by tests/test_plans.py::test_no_single_partition_window_on_data_sized_frames
and ::test_no_data_sized_broadcast_or_collect.
"""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import SF_DIR, run_catalog  # noqa: E402

SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
SF_BIG = SF_DIR  # sf0.01
GROWTH = 3.0  # input must grow >3x across the 10x lake to count as data-sized
MIN_ROWS_WINDOW = 512  # and exceed this at sf0.01 (filters out tiny jittery frames)
MIN_ROWS_BROADCAST = 4096  # dims with a fixed value domain sit far below;
# a driver-materialized frame past this that still tracks the lake is a
# real 100 TB OOM
MIN_ROWS_COLLECT = 1024  # collect rides the py4j channel row-by-row — flag
# sooner than the JVM-side broadcast path

# Entries allowed to keep ONE unpartitioned window over a data-sized
# frame, each with the reason the serialization is inherent. Keep <= 3.
WINDOW_WHITELIST: dict[str, str] = {}
# Entries allowed to keep ONE data-sized broadcast/collect, each with the
# reason the driver materialization is inherent. Keep <= 3.
BROADCAST_WHITELIST: dict[str, str] = {}

_TL = threading.local()


def _empty_partition_windows(jplan):
    """Window nodes of a logical plan (py4j) whose partitionSpec is empty
    or all-foldable."""
    out = []
    for node in _walk(jplan):
        if node.getClass().getSimpleName() == "Window":
            spec = node.partitionSpec()
            if all(spec.apply(i).foldable() for i in range(spec.size())):
                out.append(node)
    return out


def _broadcast_hints(jplan):
    """ResolvedHint nodes of a logical plan (py4j) whose strategy is
    broadcast."""
    return [
        node
        for node in _walk(jplan)
        if node.getClass().getSimpleName() == "ResolvedHint"
        and "broadcast" in node.hints().toString().lower()
    ]


def _walk(jplan):
    stack = [jplan]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))


def _of_rows(spark, jplan):
    jvm = spark._jvm
    for path in (
        jvm.org.apache.spark.sql.classic.Dataset,
        jvm.org.apache.spark.sql.Dataset,
    ):
        try:
            return path.ofRows(spark._jsparkSession, jplan)
        except Exception:  # noqa: BLE001 — try the next namespace
            continue
    raise RuntimeError("Dataset.ofRows not reachable via py4j")


def _install_patches():
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    orig_ckpt = CDF.localCheckpoint
    orig_collect = CDF.collect
    orig_to_arrow = CDF.toArrow

    def patched_ckpt(self, eager: bool = True, storageLevel=None):
        segs = getattr(_TL, "segments", None)
        if segs is not None:
            segs.append(self)
        return orig_ckpt(self, eager, storageLevel)

    def record(self, n_rows):
        cols = getattr(_TL, "collects", None)
        if cols is not None:
            cols.append((self.schema.simpleString()[:120], n_rows))

    def patched_collect(self):
        rows = orig_collect(self)
        record(self, len(rows))
        return rows

    def patched_to_arrow(self):
        table = orig_to_arrow(self)
        record(self, table.num_rows)
        return table

    CDF.localCheckpoint = patched_ckpt
    CDF.collect = patched_collect
    CDF.toArrow = patched_to_arrow

    def restore():
        CDF.localCheckpoint = orig_ckpt
        CDF.collect = orig_collect
        CDF.toArrow = orig_to_arrow

    return restore


def _build(query, spark, sf_dir):
    """Build the entry with the (already-installed) interceptions live;
    returns (segments incl. final frame, build-time collects)."""
    _TL.segments, _TL.collects = [], []
    try:
        final = query.spark(spark, sf_dir)
        segments = _TL.segments + [final]
        collects = _TL.collects
    finally:
        _TL.segments = _TL.collects = None
    return segments, collects


def _counted(spark, jchild, sf_dir, memo, lock):
    key = (sf_dir, jchild.semanticHash(), jchild.schema().catalogString()[:200])
    with lock:
        if key in memo:
            return memo[key]
    n = int(_of_rows(spark, jchild).count())
    with lock:
        memo[key] = n
    return n


def _suspects(query, spark, sf_dir, memo, lock):
    """(windows, hints, collects) for one entry at one scale point —
    windows/hints as [(desc, input_rows)], collects as [(desc, rows)]."""
    segments, collects = _build(query, spark, sf_dir)
    wins, hints = [], []
    for seg in segments:
        analyzed = seg._jdf.queryExecution().analyzed()  # noqa: SLF001
        for w in _empty_partition_windows(analyzed):
            desc = w.windowExpressions().mkString("; ")[:160]
            wins.append((desc, _counted(spark, w.child(), sf_dir, memo, lock)))
        for h in _broadcast_hints(analyzed):
            child = h.child()
            desc = child.schema().catalogString()[:120]
            hints.append((desc, _counted(spark, child, sf_dir, memo, lock)))
    return wins, hints, collects


def _pair(small, big, min_rows, key="input", what="suspect-count"):
    """Pair two scale-point lists positionally; raise on length
    mismatch (never zip silently)."""
    if len(small) != len(big):
        raise ValueError(
            f"{what} mismatch across scale points: "
            f"{len(small)} at sf0.001 vs {len(big)} at sf0.01"
        )
    out = []
    flagged = False
    for (desc, n_small), (_, n_big) in zip(small, big):
        is_data_sized = n_big > GROWTH * max(n_small, 1) and n_big > min_rows
        flagged = flagged or is_data_sized
        out.append(
            {
                key: desc,
                "rows_sf0001": n_small,
                "rows_sf001": n_big,
                "data_sized": is_data_sized,
            }
        )
    return out, flagged


def _error(e) -> dict:
    return {"error": f"{type(e).__name__}: {e}"[:200]}


def _sweep(queries, spark, sf_dir, memo, lock) -> dict:
    """{name: (windows, hints, collects) or the exception} at one scale
    point (tests/oracle_harness.run_catalog: batch builders pooled, then
    the stream entries alone)."""
    return run_catalog(
        queries, lambda q: _suspects(q, spark, sf_dir, memo, lock)
    )


def combined_audit_catalog(spark, names=None):
    """Run both audits from one build pass; returns (window_report,
    broadcast_report), each {entry: {...}} for every entry with at least
    one suspect of its kind, with `flagged: True` where an input is
    data-sized."""
    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

    queries = [q for n, q in REGISTRY.items() if names is None or n in names]
    memo: dict = {}
    lock = threading.Lock()
    win_report: dict[str, dict] = {}
    bc_report: dict[str, dict] = {}
    restore = _install_patches()
    try:
        small = _sweep(queries, spark, SF_SMALL, memo, lock)
        need_big = []
        for query in queries:
            res = small[query.name]
            if isinstance(res, Exception):
                win_report[query.name] = _error(res)
                bc_report[query.name] = _error(res)
            elif any(res):
                need_big.append(query)
        big = _sweep(need_big, spark, SF_BIG, memo, lock)
    finally:
        restore()

    for name in (q.name for q in need_big):
        wins_s, hints_s, collects_s = small[name]
        res_b = big[name]
        if isinstance(res_b, Exception):
            if wins_s:
                win_report[name] = _error(res_b)
            if hints_s or collects_s:
                bc_report[name] = _error(res_b)
            continue
        wins_b, hints_b, collects_b = res_b
        if wins_s:
            try:
                windows, flagged = _pair(
                    wins_s, wins_b, MIN_ROWS_WINDOW, "window", "suspect-window count"
                )
                win_report[name] = {
                    "flagged": flagged and name not in WINDOW_WHITELIST,
                    "whitelisted": name in WINDOW_WHITELIST,
                    "windows": windows,
                }
            except ValueError as e:
                win_report[name] = {"error": str(e)}
        if hints_s or collects_s:
            try:
                broadcasts, f1 = _pair(hints_s, hints_b, MIN_ROWS_BROADCAST)
                coll, f2 = _pair(collects_s, collects_b, MIN_ROWS_COLLECT)
            except ValueError as e:
                bc_report[name] = _error(e)
                continue
            bc_report[name] = {
                "flagged": (f1 or f2) and name not in BROADCAST_WHITELIST,
                "whitelisted": name in BROADCAST_WHITELIST,
                "broadcasts": broadcasts,
                "collects": coll,
            }
    return win_report, bc_report


def _rows(suspects, tag="") -> str:
    return ", ".join(
        f"{tag}{w['rows_sf0001']}->{w['rows_sf001']}{'*' if w['data_sized'] else ''}"
        for w in suspects
    )


def main(argv=None) -> int:
    import argparse

    from nyc_taxi_data_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="entries to audit (default: all)")
    ap.add_argument("--json", help="write both reports to this file")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="audit")
    reports = combined_audit_catalog(spark, set(args.names) or None)
    spark.stop()

    whitelists = (WINDOW_WHITELIST, BROADCAST_WHITELIST)
    flagged = [sorted(n for n, r in rep.items() if r.get("flagged")) for rep in reports]
    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {
                    kind: {"flagged": fl, "whitelist": wl, "entries": rep}
                    for kind, fl, wl, rep in zip(
                        ("windows", "broadcasts"), flagged, whitelists, reports
                    )
                },
                f,
                indent=1,
                sort_keys=True,
            )
    win_report, bc_report = reports
    for n in sorted(set(win_report) | set(bc_report)):
        for kind, r in (("w", win_report.get(n)), ("b", bc_report.get(n))):
            if r is None:
                continue
            if "error" in r:
                print(f"ERR  {kind} {n}: {r['error']}")
                continue
            tag = "FLAG" if r["flagged"] else ("WL" if r["whitelisted"] else "ok")
            if kind == "w":
                rows = _rows(r["windows"])
            else:
                rows = _rows(r["broadcasts"], "b:") + (
                    " | " + _rows(r["collects"], "c:") if r["collects"] else ""
                )
            print(f"{tag:4s} {kind} {n}: {rows}")
    print(
        f"\n{len(flagged[0])} flagged / {len(win_report)} with empty-partition "
        f"windows; {len(flagged[1])} flagged / {len(bc_report)} with broadcast "
        "hints or build-time collects"
    )
    return 1 if any(flagged) else 0


if __name__ == "__main__":
    sys.exit(main())

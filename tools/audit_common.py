"""One-pass combined plan audit: windows + broadcasts/collects.

tests/test_plans.py runs BOTH empirical plan audits (single-partition
windows, tools/audit_windows.py; data-sized broadcast hints /
build-time collects, tools/audit_broadcasts.py) as catalog gates.
Run separately they each rebuild every entry's full plan lineage at
sf0.001 (and suspects again at sf0.01) — and under AQE a
`localCheckpoint(eager=False)` plan build EXECUTES its exchange
stages, so the two audits together cost ~two extra suite passes of
pytest wall (r8 driver verify: output truncated at 68%, tests_ok
unconfirmable). This module produces BOTH reports from ONE segment
build per (entry, scale point), with independent entries built from a
small thread pool (Spark schedules concurrent jobs from one session;
guide §2.6).

The flag rules, whitelists, report shapes and error semantics are the
two source modules' own — this is a scheduling change, not a new
audit. The standalone CLIs (tools/audit_windows.py,
tools/audit_broadcasts.py) are unchanged and remain the reference
implementations.

Thread-safety notes (why this is sound):
- the localCheckpoint/collect interceptions write to THREAD-LOCAL
  lists, installed once around the whole sweep, so concurrent builds
  record their own segments;
- entries whose builders mutate session state (conf.set, .register,
  stream starts; tests/oracle_harness.needs_serial) are detected by
  source inspection and built serially AFTER the pool drains;
- row-count jobs are memoized on (sf, canonicalized semanticHash,
  schema) under a lock — identical dim/offset frames across entries
  are counted once (the broadcast audit already did this; the window
  audit gains it here).
"""

from __future__ import annotations

import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import needs_serial  # noqa: E402
from tools.audit_broadcasts import (  # noqa: E402
    MIN_ROWS_BROADCAST,
    MIN_ROWS_COLLECT,
    WHITELIST as B_WHITELIST,
    _broadcast_hints,
    _pair,
)
from tools.audit_windows import (  # noqa: E402
    GROWTH,
    MIN_ROWS as W_MIN_ROWS,
    SF_BIG,
    SF_SMALL,
    WHITELIST as W_WHITELIST,
    _empty_partition_windows,
    _of_rows,
)

_TL = threading.local()


def _install_patches():
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    orig_ckpt = CDF.localCheckpoint
    orig_collect = CDF.collect

    def patched_ckpt(self, eager: bool = True, storageLevel=None):
        segs = getattr(_TL, "segments", None)
        if segs is not None:
            segs.append(self)
        return orig_ckpt(self, eager, storageLevel)

    def patched_collect(self):
        rows = orig_collect(self)
        cols = getattr(_TL, "collects", None)
        if cols is not None:
            cols.append((self.schema.simpleString()[:120], len(rows)))
        return rows

    CDF.localCheckpoint = patched_ckpt
    CDF.collect = patched_collect

    def restore():
        CDF.localCheckpoint = orig_ckpt
        CDF.collect = orig_collect

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


def combined_audit_catalog(spark, names=None, max_workers=8):
    """Run both audits from one build pass; returns
    (window_report, broadcast_report) with the exact shapes the two
    source modules' audit_catalog() produce."""
    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

    items = [(n, q) for n, q in REGISTRY.items() if names is None or n in names]
    memo: dict = {}
    lock = threading.Lock()
    small: dict[str, object] = {}

    def run_small(nq):
        name, query = nq
        try:
            return name, _suspects(query, spark, SF_SMALL, memo, lock)
        except Exception as e:  # noqa: BLE001 — record, don't abort the sweep
            return name, e

    pooled = [(n, q) for n, q in items if not needs_serial(q)]
    serial = [(n, q) for n, q in items if needs_serial(q)]
    restore = _install_patches()
    try:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            for name, res in pool.map(run_small, pooled):
                small[name] = res
        for nq in serial:
            name, res = run_small(nq)
            small[name] = res

        win_report: dict[str, dict] = {}
        bc_report: dict[str, dict] = {}

        def run_big(nq):
            name, query = nq
            try:
                return name, _suspects(query, spark, SF_BIG, memo, lock)
            except Exception as e:  # noqa: BLE001
                return name, e

        need_big = []
        for name, query in items:
            res = small[name]
            if isinstance(res, Exception):
                err = {"error": f"{type(res).__name__}: {res}"[:200]}
                win_report[name] = dict(err)
                bc_report[name] = dict(err)
                continue
            wins, hints, collects = res
            if wins or hints or collects:
                need_big.append((name, query))

        big: dict[str, object] = {}
        pooled_b = [(n, q) for n, q in need_big if not needs_serial(q)]
        serial_b = [(n, q) for n, q in need_big if needs_serial(q)]
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            for name, res in pool.map(run_big, pooled_b):
                big[name] = res
        for nq in serial_b:
            name, res = run_big(nq)
            big[name] = res
    finally:
        restore()

    for name, query in need_big:
        wins_s, hints_s, collects_s = small[name]
        res_b = big[name]
        if isinstance(res_b, Exception):
            err = {"error": f"{type(res_b).__name__}: {res_b}"[:200]}
            if wins_s:
                win_report[name] = dict(err)
            if hints_s or collects_s:
                bc_report[name] = dict(err)
            continue
        wins_b, hints_b, collects_b = res_b
        # --- window half (shape/flag rule of tools/audit_windows.py) ---
        if wins_s:
            if len(wins_s) != len(wins_b):
                win_report[name] = {
                    "error": (
                        "suspect-window count mismatch across scale points: "
                        f"{len(wins_s)} at sf0.001 vs {len(wins_b)} at sf0.01"
                    )
                }
            else:
                windows = []
                flagged = False
                for (desc, n_small), (_, n_big) in zip(wins_s, wins_b):
                    is_ds = n_big > GROWTH * max(n_small, 1) and n_big > W_MIN_ROWS
                    flagged = flagged or is_ds
                    windows.append(
                        {
                            "window": desc,
                            "rows_sf0001": n_small,
                            "rows_sf001": n_big,
                            "data_sized": is_ds,
                        }
                    )
                win_report[name] = {
                    "flagged": flagged and name not in W_WHITELIST,
                    "whitelisted": name in W_WHITELIST,
                    "windows": windows,
                }
        # --- broadcast half (shape/flag rule of tools/audit_broadcasts.py) ---
        if hints_s or collects_s:
            try:
                broadcasts, f1 = _pair(hints_s, hints_b, MIN_ROWS_BROADCAST)
                coll, f2 = _pair(collects_s, collects_b, MIN_ROWS_COLLECT)
            except Exception as e:  # noqa: BLE001
                bc_report[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
                continue
            flagged = f1 or f2
            bc_report[name] = {
                "flagged": flagged and name not in B_WHITELIST,
                "whitelisted": name in B_WHITELIST,
                "broadcasts": broadcasts,
                "collects": coll,
            }
    return win_report, bc_report

"""One runner for the catalog's entries: list them, show one, check them
against their DuckDB oracles, sweep the whole catalog for parity, time
them warm, and dump their executed plans.

Usage:
    python tools/entries.py list
    python tools/entries.py show NAME [--sf-dir DIR] [--plan]
    python tools/entries.py check NAME ... [--sf 0.01,0.1]
    python tools/entries.py parity [--sf-dir DIR] [--json OUT]
    python tools/entries.py time [NAME ...] [--sf-dir DIR] [--reps 3] [--json OUT]
    python tools/entries.py plan SUFFIX OUTDIR NAME ... [--sf-dir DIR]

The lake defaults to $SPARK_GRAFT_SF_DIR, else the oracle gate's sf0.01
(tests/oracle_harness.SF_DIR); `check --sf` names scale points beside it.

- `check` runs tests/oracle_harness.compare_query (rows, schema,
  canonical dtypes, order-insensitive values) per entry and scale point
  and prints the first mismatches of a failing entry.
- `parity` runs the same check over the FULL catalog and writes one row
  per entry (rows/schema/types/values match flags, and the wall seconds
  of the Spark side and of the oracle, `spark_s`/`oracle_s`) to OUT, by default
  PARITY_LOCAL.json at the repo root. Run it at both scale points
  (`--sf-dir <lake>/sf0.1 --json PARITY_SF01_LOCAL.json` for the larger):
  decimal rounding ties and width overflows first appeared only at sf0.1.
- `time` runs the bench's warm-up ladder (tools/warmup.warm_session),
  then `--reps` passes over the entries (default: the whole registry),
  each entry built and `count()`ed, and reports the minimum per entry:
  the steady-state cost with compile and first touch amortized away.
  A scaling ratio is one `time` run per scale point, divided.
- `plan` writes OUTDIR/<name>_<SUFFIX>.txt: `explain("formatted")` after
  one executed `count()`, so AQE has finalized the plan that ran. A
  `localCheckpoint` cuts the plan at a `Scan ExistingRDD`, so the
  optimized plan of every frame the build checkpointed follows, in build
  order (`show --plan` prints them too). For an entry that starts
  streams, each StreamingQuery's plan (`explainInternal(extended=True)`:
  stateful operators, state partition counts) and last progress are
  captured before it stops and appended.

Old commands and their new form:
    run_query.py                       → entries.py list
    run_query.py NAME [SF] [--plan]    → entries.py show NAME [--sf-dir SF] [--plan]
    run_query.py NAME [SF] --oracle    → entries.py check NAME (full value check)
    check_entries.py NAME ... --sf=L   → entries.py check NAME ... --sf L
    run_parity.py [SF] [OUT]           → entries.py parity [--sf-dir SF] [--json OUT]
    warm_time.py NAME ... --reps=N     → entries.py time NAME ... --reps N
    bench_cores.py SF OUT [NAME ...]   → SPARK_GRAFT_CPUS=C entries.py time NAME ... --sf-dir SF --json OUT
    bench_scaling.py SMALL BIG         → entries.py time NAME ... --sf-dir SMALL --json A, then BIG --json B
    dump_entry_plan.py SUFFIX OUT NAME ... --sf-dir=SF
                                       → entries.py plan SUFFIX OUT NAME ... --sf-dir SF
    dump_plans.py [SF]                 → entries.py plan SUFFIX OUT NAME ... (dumps are not committed)
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from tests.oracle_harness import SF_DIR, compare_query, duck_connection  # noqa: E402

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)


def lake(sf: str) -> str:
    """The lake of scale point `sf` ("0.1"), beside the oracle gate's."""
    return os.path.join(os.path.dirname(SF_DIR), f"sf{sf}")


# --- oracle checks ----------------------------------------------------------


def check(spark, queries, sf_dir):
    """Yield (name, compare_query report) per entry at one lake; an entry
    that raises yields {"values_match": False, "error": ...}."""
    con = duck_connection(sf_dir)
    try:
        for q in queries:
            try:
                yield q.name, compare_query(spark, con, q, sf_dir)
            except Exception as e:  # noqa: BLE001 — record, don't abort the sweep
                yield q.name, {"values_match": False, "error": f"{type(e).__name__}: {e}"[:300]}
    finally:
        con.close()


def parity_row(rep: dict) -> dict:
    """The PARITY_*.json row of one check report."""
    if "error" in rep:
        return {
            "rows_match": False,
            "schema_match": False,
            "values_match": False,
            "error": rep["error"],
        }
    row = {
        "rows_match": rep["spark_rows"] == rep["duck_rows"],
        "schema_match": rep["cols_match"],
        "types_match": rep["types_match"],
        "values_match": rep["values_match"],
        "spark_rows": rep["spark_rows"],
        "spark_s": rep["spark_s"],
        "oracle_s": rep["oracle_s"],
    }
    if not rep["types_match"]:
        row["type_mismatches"] = rep["type_mismatches"]
    return row


# --- warm timing ------------------------------------------------------------


def reclaim(spark) -> None:
    """Unpersist every block still cached. Catalog entries are
    independent, so whatever an entry's lazy localCheckpoints left behind
    after its action is garbage; waiting for the ContextCleaner to notice
    lets it pile up into eviction spikes in later heavy entries. The
    JVM-side registry reaches the blocks directly, with no Python gc."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():  # noqa: SLF001
        rdd.unpersist(False)


def time_pass(spark, names, sf_dir: str, gc_every: int = 5) -> dict[str, float]:
    """One timed pass: seconds to build and `count()` each entry (the
    reclaim after it is untimed). Every `gc_every`-th entry is followed by
    a Python and a JVM GC, for what unpersist cannot reach: shuffle files
    are deleted only when the ContextCleaner collects their dependency."""
    out = {}
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        REGISTRY[name].spark(spark, sf_dir).count()
        out[name] = round(time.perf_counter() - t0, 2)
        reclaim(spark)
        if gc_every and i % gc_every == gc_every - 1:
            gc.collect()
            spark._jvm.System.gc()  # noqa: SLF001
    return out


def time_entries(spark, names, sf_dir: str, reps: int = 3) -> dict[str, dict]:
    """{name: {"min": s, "runs": [s, ...]}} over `reps` whole passes, so a
    burst of host contention spoils one run of an entry, not all of them."""
    passes = [time_pass(spark, names, sf_dir) for _ in range(reps)]
    return {
        n: {"min": min(p[n] for p in passes), "runs": [p[n] for p in passes]}
        for n in names
    }


# --- executed plans ---------------------------------------------------------


class _StreamCapture:
    """Patch StreamingQuery.stop so every stream an entry starts records
    its streaming plan + last progress at stop time (the only moment the
    plan of the STREAMING query — not the sink readback — is both
    finalized and reachable)."""

    def __init__(self):
        self.captures: list[str] = []

    def __enter__(self):
        from pyspark.sql.streaming.query import StreamingQuery

        self._sq_cls = StreamingQuery
        orig_stop = self._orig_stop = StreamingQuery.stop
        cap = self.captures

        def patched_stop(q):
            try:
                plan = q._jsq.explainInternal(True)  # noqa: SLF001
                cap.append(
                    f"=== streaming query name={q.name!r} id={q.id} ===\n"
                    f"{plan}\n--- lastProgress ---\n{q.lastProgress}\n"
                )
            except Exception as e:  # noqa: BLE001 — capture is best-effort
                cap.append(f"=== streaming capture failed: {e} ===\n")
            finally:
                orig_stop(q)

        StreamingQuery.stop = patched_stop
        return self

    def __exit__(self, *exc):
        self._sq_cls.stop = self._orig_stop
        return False


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def build_segments(spark, name: str, sf_dir: str):
    """Build the entry; returns (its frame, the frames the build passed to
    `localCheckpoint`, in call order)."""
    from tools.audit_common import _build, _install_patches

    restore = _install_patches()
    try:
        segments, _ = _build(REGISTRY[name], spark, sf_dir)
    finally:
        restore()
    return segments[-1], segments[:-1]


def segment_plans(segments) -> str:
    """The optimized plan of each checkpointed frame: the part of the
    lineage an entry's own plan shows only as `Scan ExistingRDD`."""
    return "".join(
        f"\n# checkpointed segment {i} of {len(segments)} — optimized plan\n"
        f"{seg._jdf.queryExecution().optimizedPlan().toString()}"  # noqa: SLF001
        for i, seg in enumerate(segments, 1)
    )


def executed_plan(spark, name: str, sf_dir: str) -> str:
    """The entry's `explain("formatted")` after one executed `count()`,
    the optimized plans of the frames it checkpointed, and the plan and
    last progress of every stream it started."""
    with _StreamCapture() as sc:
        df, segments = build_segments(spark, name, sf_dir)
        df.count()
        text = f"# {name} — explain('formatted') after execution at {sf_dir}\n"
        text += _explain(df) + segment_plans(segments)
    if sc.captures:
        text += (
            "\n# ------- streaming queries started by this entry "
            "(plan captured before stop) -------\n"
        )
        text += "".join(sc.captures)
    return text


# --- command line -----------------------------------------------------------


def _cmd_show(spark, args) -> int:
    df, segments = build_segments(spark, args.name, args.sf_dir)
    df.show(50, truncate=False)
    print(f"[{args.name}] {df.count()} rows at {args.sf_dir}")
    if args.plan:
        print(_explain(df) + segment_plans(segments))
    return 0


def _cmd_check(spark, args) -> int:
    bad = 0
    for sf in args.sf.split(","):
        for n, rep in check(spark, [REGISTRY[n] for n in args.names], lake(sf)):
            if "error" in rep:
                bad += 1
                print(f"ERR  sf{sf} {n}: {rep['error']}")
                continue
            ok = rep["values_match"]
            print(
                f"{'PASS' if ok else 'FAIL'} sf{sf} {n} rows={rep['spark_rows']}/{rep['duck_rows']}"
                f" spark={rep['spark_s']}s oracle={rep['oracle_s']}s"
            )
            if not ok:
                bad += 1
                print(f"  cols spark={rep['spark_cols']}")
                print(f"  cols duck ={rep['duck_cols']}")
                for m in rep["type_mismatches"]:
                    print(f"  dtype {m}")
                for m in rep["first_mismatches"]:
                    print(f"  mismatch[{m[0]}]\n   spark={m[1]}\n   duck ={m[2]}")
    return 1 if bad else 0


def _cmd_parity(spark, args) -> int:
    t0 = time.time()
    rows = {}
    for name, rep in check(spark, REGISTRY.values(), args.sf_dir):
        rows[name] = parity_row(rep)
        print(f"{'PASS' if rows[name]['values_match'] else 'FAIL'} {name}", file=sys.stderr)
    n_pass = sum(1 for r in rows.values() if r["values_match"])
    out = os.path.join(ROOT, args.json or "PARITY_LOCAL.json")
    with open(out, "w") as f:
        json.dump(
            {
                "sf_dir": args.sf_dir,
                "n_entries": len(rows),
                "n_values_match": n_pass,
                "wall_seconds": round(time.time() - t0, 1),
                "entries": rows,
            },
            f,
            indent=1,
        )
    print(f"wrote {out}: {n_pass}/{len(rows)} values_match")
    return 0 if n_pass == len(rows) else 1


def _cmd_time(spark, args) -> int:
    from tools.warmup import warm_session

    names = args.names or list(REGISTRY)
    warm_session(spark, args.sf_dir)
    result = time_entries(spark, names, args.sf_dir, args.reps)
    for n, r in result.items():
        print(f"{r['min']:7.2f}  {r['runs']}  {n}", flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                    "sf_dir": args.sf_dir,
                    "reps": args.reps,
                    "entries": result,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    return 0


def _cmd_plan(spark, args) -> int:
    os.makedirs(args.outdir, exist_ok=True)
    for name in args.names:
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(executed_plan(spark, name, args.sf_dir))
        print(f"wrote {path}")
    return 0


def _entry(name: str) -> str:
    if name not in REGISTRY:
        raise argparse.ArgumentTypeError(f"unknown entry {name!r} (see `list`)")
    return name


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.splitlines()[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    lake_dir = argparse.ArgumentParser(add_help=False)
    lake_dir.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="parquet lake")

    sub.add_parser("list", help="every entry and its first doc line")
    p = sub.add_parser("show", parents=[lake_dir], help="print an entry's rows")
    p.add_argument("name", type=_entry)
    p.add_argument(
        "--plan", action="store_true",
        help="also print the physical plan and the checkpointed segments' plans",
    )
    p = sub.add_parser("check", help="check entries against their oracles")
    p.add_argument("names", nargs="+", type=_entry)
    p.add_argument("--sf", default="0.01,0.1", help="comma-separated scale points")
    p = sub.add_parser("parity", parents=[lake_dir], help="check the whole catalog")
    p.add_argument("--json", help="output file under the repo root")
    p = sub.add_parser("time", parents=[lake_dir], help="warm minimum per entry")
    p.add_argument("names", nargs="*", type=_entry)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--json", help="also write the per-entry record here")
    p = sub.add_parser("plan", parents=[lake_dir], help="dump executed plans")
    p.add_argument("suffix")
    p.add_argument("outdir")
    p.add_argument("names", nargs="+", type=_entry)

    args = ap.parse_args(argv)
    if args.cmd == "list":
        for name, q in REGISTRY.items():
            print(f"{name:42s} {q.doc.splitlines()[0][:80] if q.doc else ''}")
        return 0

    from nyc_taxi_data_pipeline_spark.session import get_spark

    extra = {}
    if args.cmd == "time" and os.path.isdir("/dev/shm"):
        # shuffle files on a RAM-backed dir, as bench.py times them
        extra["spark.local.dir"] = "/dev/shm/spark-entries"
    spark = get_spark(app_name=f"entries-{args.cmd}", extra_conf=extra)
    try:
        return globals()[f"_cmd_{args.cmd}"](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())

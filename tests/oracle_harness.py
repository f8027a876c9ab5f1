"""Local replica of the driver's correctness gate: run every REGISTRY query
through Spark AND its DuckDB oracle, compare row count, schema shape,
order-insensitive values (columns sorted by name, rows sorted, doubles
compared exactly after the queries' own rounding), AND canonical column
dtypes.

The dtype gate exists because value-equality alone let the same defect
class reach the driver three rounds running (sequence_packing r2;
charlm_freq_score + stratified_sample_hash r4): DuckDB's sum() over
integers and bigint // return HUGEINT (int128), which is row-for-row
value-identical to Spark's BIGINT but canonicalizes differently in the
driver's hasher (int128 does not survive Arrow as an integer). Both
engines' output types are therefore mapped onto one canonical lattice
(int64 / float64 / string / bool / timestamp / date / decimal / binary /
array<...>) and compared per column; HUGEINT maps to its own 'int128'
value, which no Spark type produces, so any HUGEINT output column fails
here before it can fail in the driver.
"""

from __future__ import annotations

import math
import re
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

from nyc_taxi_data_pipeline_spark.sources.catalog import TABLES, table_path

SF_DIR = "/root/testdata/sf0.01"


def run_catalog(queries, one) -> dict:
    """{name: one(query), or the exception it raised} for every query.

    Batch entries run on a pool of 8 threads: Spark schedules concurrent
    jobs from one session (guide §2.6), and every batch builder leaves the
    session's conf, temp views and functions as it found them
    (tests/test_plans.py checks it). Stream entries (`Query.stream`) pin
    shuffle.partitions while their query starts, so a stream entry never
    builds beside another builder: they run one at a time, in order,
    after the pool drains."""

    def safe(q):
        try:
            return one(q)
        except Exception as e:  # noqa: BLE001 — the caller decides
            return e

    batch = [q for q in queries if not q.stream]
    with ThreadPoolExecutor(max_workers=8) as pool:
        out = dict(zip([q.name for q in batch], pool.map(safe, batch)))
    out.update((q.name, safe(q)) for q in queries if q.stream)
    return out

# --- canonical dtype lattice -----------------------------------------------

_SPARK_SCALAR = {
    "tinyint": "int64",
    "smallint": "int64",
    "int": "int64",
    "integer": "int64",
    "bigint": "int64",
    "long": "int64",
    "float": "float64",
    "double": "float64",
    "string": "string",
    "boolean": "bool",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "date": "date",
    "binary": "binary",
}

_DUCK_SCALAR = {
    "tinyint": "int64",
    "smallint": "int64",
    "integer": "int64",
    "int": "int64",
    "bigint": "int64",
    "utinyint": "uint",  # no Spark counterpart: force an explicit cast
    "usmallint": "uint",
    "uinteger": "uint",
    "ubigint": "uint",
    "hugeint": "int128",  # the driver-killing class — never matches
    "uhugeint": "int128",
    "float": "float64",
    "real": "float64",
    "double": "float64",
    "varchar": "string",
    "boolean": "bool",
    "timestamp": "timestamp",
    "timestamp_s": "timestamp",
    "timestamp_ms": "timestamp",
    "timestamp_ns": "timestamp",
    "timestamp with time zone": "timestamp",
    "date": "date",
    "blob": "binary",
}


def canon_spark_dtype(simple: str) -> str:
    """Map a Spark dataType.simpleString() onto the canonical lattice."""
    s = simple.strip().lower()
    if s in _SPARK_SCALAR:
        return _SPARK_SCALAR[s]
    if s.startswith("decimal"):
        return "decimal"
    if s.startswith(("varchar", "char")):
        return "string"
    m = re.fullmatch(r"array<(.*)>", s)
    if m:
        return f"array<{canon_spark_dtype(m.group(1))}>"
    return s  # struct/map/interval/...: compare raw, mismatch unless equal


def canon_duck_dtype(duck_type: str) -> str:
    """Map a DuckDB DESCRIBE column_type onto the canonical lattice."""
    s = str(duck_type).strip().lower()
    if s in _DUCK_SCALAR:
        return _DUCK_SCALAR[s]
    if s.startswith("decimal"):
        return "decimal"
    if s.endswith("[]"):
        return f"array<{canon_duck_dtype(s[:-2])}>"
    return s


def duck_output_types(
    con: duckdb.DuckDBPyConnection, sql: str
) -> list[tuple[str, str]]:
    """(column, duckdb type) of a query's output, via DESCRIBE (plan only)."""
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE ({sql})").fetchall()]


def dtype_mismatches(spark_schema, duck_types) -> list[tuple[str, str, str]]:
    """Per-column canonical-dtype diffs: (column, spark_canon, duck_canon).

    Columns are matched by lowercased name; a column present on only one
    side is reported with '<missing>' (schema_match catches that too).
    """
    duck = {name.lower(): canon_duck_dtype(t) for name, t in duck_types}
    out: list[tuple[str, str, str]] = []
    seen = set()
    for f in spark_schema.fields:
        sc = canon_spark_dtype(f.dataType.simpleString())
        dc = duck.get(f.name.lower(), "<missing>")
        seen.add(f.name.lower())
        if sc != dc:
            out.append((f.name, sc, dc))
    for name in duck:
        if name not in seen:
            out.append((name, "<missing>", duck[name]))
    return out


def duck_connection(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Sort columns by name, then rows; canonicalize value types."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return float(v)
        if isinstance(v, int):
            return float(v) if abs(v) < 2**52 else v
        return v

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def compare_query(spark, con, query, sf_dir: str = SF_DIR) -> dict:
    """Run one entry's Spark plan and its DuckDB oracle and compare them.
    The report carries `spark_s` (build + collect) and `oracle_s`
    (execute + fetch) wall seconds, so a slow side shows in the record."""
    t0 = time.perf_counter()
    sdf = query.spark(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)
    t1 = time.perf_counter()
    res = con.execute(query.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]
    t2 = time.perf_counter()

    try:
        type_diffs = dtype_mismatches(
            sdf.schema, duck_output_types(con, query.oracle)
        )
    except Exception as e:  # noqa: BLE001 — DESCRIBE failure is itself a fail
        type_diffs = [("<describe-error>", "", f"{type(e).__name__}: {e}"[:200])]

    report = {
        "name": query.name,
        "spark_rows": len(spark_rows),
        "duck_rows": len(duck_rows),
        "cols_match": sorted(c.lower() for c in spark_cols)
        == sorted(c.lower() for c in duck_cols),
        "spark_cols": spark_cols,
        "duck_cols": duck_cols,
        "types_match": not type_diffs,
        "type_mismatches": type_diffs[:6],
        "spark_s": round(t1 - t0, 3),
        "oracle_s": round(t2 - t1, 3),
    }
    if report["cols_match"] and report["types_match"] and len(spark_rows) == len(
        duck_rows
    ):
        a = _normalize(spark_rows, [c.lower() for c in spark_cols])
        b = _normalize(duck_rows, [c.lower() for c in duck_cols])
        mismatches = [
            (i, ra, rb) for i, (ra, rb) in enumerate(zip(a, b)) if ra != rb
        ]
        report["values_match"] = not mismatches
        report["first_mismatches"] = mismatches[:3]
    else:
        report["values_match"] = False
        report["first_mismatches"] = []
    return report

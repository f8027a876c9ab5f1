"""Per-query parity against the DuckDB oracle at sf0.01 — a local replica of
the driver's CORRECTNESS gate (row count + schema + order-insensitive values).
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY
from tests.oracle_harness import compare_query, duck_connection, run_catalog


# The 562 oracle replays are mutually independent Spark+DuckDB runs; run
# serially they were 530 s of the r9 pytest wall (the driver's verify
# window truncated at 68% in r8 before the suite finished). Spark happily
# runs concurrent jobs from one session (guide §2.6) and DuckDB runs one
# connection per thread, so the reports are precomputed once through
# oracle_harness.run_catalog (batch entries pooled, stream entries one at
# a time after) and each parametrized test asserts its own entry's report
# — same comparisons, same per-test attribution. Under -x the run still
# stops at the first failing entry, but only after the first test has
# computed the report of every collected entry (so `-k` replays only what
# it selects).
_REPORTS: dict[str, object] = {}


def _collected_oracle_queries(session) -> list:
    """The entries of this session's collected test_query_matches_oracle
    items, in collection order."""
    return [
        item.callspec.params["query"]
        for item in session.items
        if getattr(item, "originalname", None) == "test_query_matches_oracle"
    ]


def _compute_reports(spark, queries) -> None:
    import threading

    tl = threading.local()

    def one(q):
        con = getattr(tl, "con", None)
        if con is None:
            con = tl.con = duck_connection()
        return compare_query(spark, con, q)

    _REPORTS.update(run_catalog(queries, one))


@pytest.mark.parametrize("query", list(REGISTRY.values()), ids=lambda q: q.name)
def test_query_matches_oracle(spark, request, query):
    if not _REPORTS:
        _compute_reports(spark, _collected_oracle_queries(request.session))
    report = _REPORTS[query.name]
    if isinstance(report, Exception):
        raise report
    assert report["cols_match"], (
        f"column mismatch: spark={report['spark_cols']} duck={report['duck_cols']}"
    )
    assert report["spark_rows"] == report["duck_rows"], (
        f"row count: spark={report['spark_rows']} duck={report['duck_rows']}"
    )
    assert report["types_match"], (
        f"canonical dtype mismatch (col, spark, duck): {report['type_mismatches']}"
    )
    assert report["values_match"], f"value mismatch: {report['first_mismatches']}"


def test_harness_rejects_hugeint_oracle(spark, duck):
    """The dtype gate must catch the class that reached the driver three
    rounds running: a DuckDB oracle whose output column is HUGEINT
    (sum() over integers) against a value-identical Spark BIGINT."""
    from nyc_taxi_data_pipeline_spark.plans._base import Query
    from pyspark.sql import functions as F

    q = Query(
        name="_hugeint_probe",
        spark=lambda s, _sf: s.range(3).agg(F.sum("id").alias("x")),
        oracle="SELECT sum(i) AS x FROM range(3) t(i)",
        doc="",
    )
    report = compare_query(spark, duck, q)
    assert not report["types_match"]
    assert report["type_mismatches"] == [("x", "int64", "int128")]
    assert not report["values_match"]  # the gate folds into the verdict


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_registry_contract():
    import __spark_entry__ as ent

    qs = ent.queries()
    oracles = ent.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 15


# ---------------------------------------------------------------------------
# Short-document edge corpus: the k=3 shingle oracles historically built
# shingles via t[i] || ' ' || t[i+1] || ' ' || t[i+2], whose out-of-bounds
# NULLs silently emptied the shingle set for docs with < 3 tokens while
# Spark's shingles() emits the whole-text single shingle (round-2 ADVICE).
# The oracles now use DuckDB's clamping list slice (array_to_string(
# t[i:i+2])) which matches Spark exactly; this corpus pins that parity on
# data the stock testdata never exercises.
# ---------------------------------------------------------------------------

_SHINGLE_ENTRIES = [
    "ngram_jaccard_topk",
    "dedup_connected_components",
    "dedup_cluster_keep_best",
    "dedup_exact_jaccard",
    "jaccard_prefix_filter_pairs",
]


@pytest.fixture(scope="module")
def short_doc_sf_dir(tmp_path_factory):
    """sf0.001 with the documents table replaced by a corpus containing
    sub-3-token docs (1 and 2 tokens, duplicated so the dedup entries
    produce pairs) plus a slice of real docs."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("shortdocs")
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        shutil.copy(f"{src}/{name}.parquet", dst / f"{name}.parquet")

    real = pq.read_table(f"{src}/documents.parquet").slice(0, 40)
    shorts = pa.table(
        {
            "doc_id": pa.array([9001, 9002, 9003, 9004, 9005, 9006], pa.int64()),
            "text": pa.array(
                ["hello", "hello", "two tokens", "two tokens", "one", "  "],
                pa.string(),
            ),
            "lang": pa.array(["en"] * 6, pa.string()),
            "source": pa.array(["edge"] * 6, pa.string()),
            "n_chars": pa.array([5, 5, 10, 10, 3, 2], pa.int64()),
        }
    )
    merged = pa.concat_tables(
        [real.select(shorts.column_names), shorts]
    )
    pq.write_table(merged, dst / "documents.parquet")
    return str(dst)


@pytest.mark.parametrize("name", _SHINGLE_ENTRIES)
def test_shingle_oracles_handle_short_docs(spark, short_doc_sf_dir, name):
    from tests.oracle_harness import duck_connection

    con = duck_connection(short_doc_sf_dir)
    report = compare_query(spark, con, REGISTRY[name], short_doc_sf_dir)
    con.close()
    assert report["cols_match"]
    assert report["spark_rows"] == report["duck_rows"], (
        f"row count: spark={report['spark_rows']} duck={report['duck_rows']}"
    )
    assert report["values_match"], f"value mismatch: {report['first_mismatches']}"
    # the duplicated short docs MUST surface as dedup pairs somewhere —
    # guards against both engines agreeing on a silently-empty answer
    if name in ("dedup_exact_jaccard", "jaccard_prefix_filter_pairs"):
        assert report["spark_rows"] > 0

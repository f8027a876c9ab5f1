"""Robustness: operators must survive empty inputs (return empty frames
with the right schema, not throw) and be invariant to physical partitioning
(hash/dedup/signature results can't depend on how rows are laid out).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_operators_accept_empty_input(spark):
    from nyc_taxi_data_pipeline_spark.operators.dedup import (
        exact_dedup,
        fingerprint_dedup,
        minhash_dedup,
        minhash_signatures,
        simhash,
    )
    from nyc_taxi_data_pipeline_spark.operators.textstats import (
        chunk_documents,
        text_stats,
        token_budget_by,
        with_lang_id,
    )

    empty = _empty_docs(spark)
    assert exact_dedup(empty, ["text"], "doc_id").count() == 0
    assert fingerprint_dedup(empty, "text", "doc_id").count() == 0
    sigs = minhash_signatures(empty, "text", "doc_id")
    assert minhash_dedup(empty, sigs, "text", "doc_id").count() == 0
    assert simhash(empty, "text", "doc_id").count() == 0
    assert text_stats(empty).count() == 0
    assert chunk_documents(empty).count() == 0
    assert with_lang_id(empty).count() == 0
    assert token_budget_by(empty, "source").count() == 0


def test_normalize_empty_and_quality_empty(spark):
    from nyc_taxi_data_pipeline_spark.operators.normalize import normalize
    from nyc_taxi_data_pipeline_spark.operators.quality import check, not_null_rule

    empty = spark.createDataFrame(
        [], "VendorID int, tpep_pickup_datetime timestamp, passenger_count double"
    )
    out = normalize(empty)
    assert out.count() == 0
    assert out.columns == sorted(out.columns)
    # one-pass conditional aggregates on an empty frame: zero violations
    report = check(empty.toDF(*[c.lower() for c in empty.columns]),
                   [not_null_rule("vendorid")])
    assert report == {"vendorid_not_null": 0}


def test_minhash_signatures_partition_invariant(spark):
    from nyc_taxi_data_pipeline_spark.operators.dedup import minhash_signatures

    d = load_table(spark, SF, "documents")
    sig = lambda df: sorted(
        (r["id"], tuple(r["signature"]))
        for r in minhash_signatures(df, "text", "doc_id").collect()
    )
    assert sig(d.repartition(1)) == sig(d.repartition(16))


def test_simhash_partition_invariant(spark):
    from nyc_taxi_data_pipeline_spark.operators.dedup import simhash

    d = load_table(spark, SF, "documents")
    sh = lambda df: sorted(
        (r["id"], r["simhash"]) for r in simhash(df, "text", "doc_id").collect()
    )
    assert sh(d.repartition(1)) == sh(d.repartition(16))


def test_hyperplane_bucket_partition_invariant(spark):
    from nyc_taxi_data_pipeline_spark.operators.similarity import hyperplane_bucket

    e = load_table(spark, SF, "embeddings")
    b = lambda df: sorted(
        (r["vec_id"], r["b"])
        for r in df.select(
            "vec_id", hyperplane_bucket(F.col("embedding"), 8).alias("b")
        ).collect()
    )
    assert b(e.repartition(1)) == b(e.repartition(16))

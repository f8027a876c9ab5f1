"""End-to-end LLM training-data curation JOB — the materialized twin of the
`curation_funnel` catalog query (which verifies the same stages against the
DuckDB oracle without writing anything).

Every output is a versioned zone (sources/io: immutable snapshots named by
a commit log), published with Write-Audit-Publish: quality metrics observed
on the write itself gate the commit — one scan per zone, no second audit
pass.

    raw documents
      → clean_documents   gated (lang / quality / token bounds),
                          exact-dedup on normalized text (min doc_id wins)
      → chunks            content-defined chunks of the clean corpus
      → mix_manifest      per-source doc/token budget after weighted
                          id-stride sampling (deterministic, rerun-stable)

Scale shape: the gates fuse into the scan; the dedup window is the only
corpus-wide shuffle; chunking is an embarrassingly parallel map; the
manifest is a tiny aggregate. At 100 TB each zone write is
dynamic-partitionable the same way pipeline.py's zones are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nyc_taxi_data_pipeline_spark.functions import text as textfn
from nyc_taxi_data_pipeline_spark.operators.quality import Rule, between_rule, not_null_rule
from nyc_taxi_data_pipeline_spark.operators.textstats import content_defined_chunks
from nyc_taxi_data_pipeline_spark.sources.catalog import load_table
from nyc_taxi_data_pipeline_spark.sources.io import (
    audited_publish_zone,
    read_zone_snapshot,
)

DEFAULT_RATES: dict[str, int] = {f"src{i}": 100 for i in range(5)} | {
    f"src{i}": 50 for i in range(5, 10)
}


def clean_documents(docs: DataFrame) -> DataFrame:
    """Gate + dedup stage (identical semantics to curation_funnel's kept→
    deduped stages): en-only, quality ≥ 0.5, 5..10000 tokens, exact dedup
    on punctuation/whitespace-normalized text keeping the smallest id."""
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        textfn.token_count("text").alias("n_tokens"),
        textfn.quality_score("text").alias("quality_score"),
    )
    kept = scored.filter(
        (F.col("lang") == "en")
        & (F.col("quality_score") >= 0.5)
        & F.col("n_tokens").between(5, 10000)
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[!-/:-@\[-`{-~]", " "),
            r"\s+",
            " ",
        )
    )
    rn = F.row_number().over(W.partitionBy(norm).orderBy(F.col("doc_id")))
    return kept.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


def mix_manifest(clean: DataFrame, rates: dict[str, int]) -> DataFrame:
    """Deterministic weighted sampling by id-stride + per-source budget
    rollup (the dataset_mix_weighted shape, run on the CLEAN corpus)."""
    spark = clean.sparkSession
    rates_df = F.broadcast(
        spark.createDataFrame(
            list(rates.items()), "source string, rate_pct int"
        )
    )
    return (
        clean.join(rates_df, "source")
        .filter(F.col("doc_id") % 100 < F.col("rate_pct"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


_CLEAN_RULES: list[Rule] = [
    not_null_rule("doc_id"),
    not_null_rule("text"),
    between_rule("n_tokens", 5, 10000),
    between_rule("quality_score", 0.5, 1.0),
]


def run_curation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    rates: dict[str, int] | None = None,
) -> dict:
    """Run the whole curation job; returns a report of zone versions, row
    counts, and the observed audit metrics. Reruns commit NEW immutable
    versions (readers of older versions are untouched); content is
    deterministic, so rerun row counts are identical."""
    rates = DEFAULT_RATES if rates is None else rates
    docs = load_table(spark, sf_dir, "documents")

    clean = clean_documents(docs)
    v_clean, m_clean = audited_publish_zone(
        clean, f"{out_root}/clean_documents", _CLEAN_RULES
    )
    if v_clean is None:
        return {"published": False, "clean_metrics": m_clean}
    clean_zone = read_zone_snapshot(spark, f"{out_root}/clean_documents", v_clean)

    chunks = content_defined_chunks(clean_zone, min_tokens=4)
    v_chunks, m_chunks = audited_publish_zone(
        chunks, f"{out_root}/chunks", [not_null_rule("doc_id"), not_null_rule("chunk_text")]
    )

    manifest = mix_manifest(clean_zone, rates)
    v_manifest, m_manifest = audited_publish_zone(
        manifest, f"{out_root}/mix_manifest", [not_null_rule("source")]
    )

    return {
        "published": True,
        "versions": {
            "clean_documents": v_clean,
            "chunks": v_chunks,
            "mix_manifest": v_manifest,
        },
        "rows": {
            "clean_documents": m_clean["observed_rows"],
            "chunks": m_chunks["observed_rows"],
            "mix_manifest": m_manifest["observed_rows"],
        },
        "metrics": {
            "clean_documents": m_clean,
            "chunks": m_chunks,
            "mix_manifest": m_manifest,
        },
    }

"""Catalog wave 27 (round 8): entries that EXERCISE the round-8 plan
audits — skew-salted shuffles and adaptively-banded order statistics.

The round-8 verdict asks preferred breadth that hardens the engine's
two new empirical gates over more bounded-frame statistics:

- the broadcast audit in tools/audit_common.py (data-sized forced
  broadcasts / build-time collects): the salted entries here run the
  HOT-KEY path the salting operators (operators/skew.py) exist for —
  a deterministic 30%-hot join key — with NO forced broadcast
  anywhere: salting spreads the hot key across shuffle partitions
  instead of hoping the dim side stays broadcastable, which is exactly
  the fallback the audit pushes plans toward when a frame outgrows the
  hint.
- the window audit in tools/audit_common.py (single-partition
  windows, incl. the round-8 foldable-spec extension): the
  order-statistic entries derive their tier band width from the
  ACTUAL key range (adaptive_band_width), the device that keeps the
  offsets frame bounded below the audit floor at ANY scale factor.

Salting never changes values — every entry carries a full DuckDB value
oracle with identical column aliases in both lanes, integer arithmetic
throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.operators.skew import (
    salted_aggregate,
    salted_join,
)
from nyc_taxi_data_pipeline_spark.plans._base import (
    _register,
    _t,
    adaptive_band_width,
    tiered_global_rank,
)

__all__: list[str] = []


# ===========================================================================
# Salted hot-key join (skew fallback the broadcast audit pushes toward)
# ===========================================================================

# 30% of partkeys collapse onto key 0 — a deterministic hot key carrying
# ~30% of the fact rows, the classic single-reducer straggler.
_HOT_KEY = "CASE WHEN {k} % 10 < 3 THEN 0 ELSE {k} END"

_SALTED_JOIN_ORACLE = f"""
WITH fact AS (
  SELECT CAST({_HOT_KEY.format(k='l_partkey')} AS BIGINT) AS key,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
dim AS (
  SELECT CAST({_HOT_KEY.format(k='p_partkey')} AS BIGINT) AS key,
         CAST(count(*) AS BIGINT) AS n_parts,
         min(p_brand) AS brand
  FROM part GROUP BY 1
)
SELECT CASE WHEN f.key = 0 THEN 'hot' ELSE 'uniform' END AS key_class,
       CAST(count(*) AS BIGINT)        AS n_rows,
       CAST(sum(f.qty) AS BIGINT)      AS total_qty,
       CAST(sum(d.n_parts) AS BIGINT)  AS part_weight,
       CAST(count(DISTINCT f.key) AS BIGINT) AS n_keys,
       min(d.brand)                    AS min_brand
FROM fact f JOIN dim d ON d.key = f.key
GROUP BY 1
ORDER BY key_class
"""


@_register("salted_hot_key_join", _SALTED_JOIN_ORACLE)
def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key equi join executed through `salted_join` — the skew
    fallback for the case the round-8 broadcast audit exists to
    surface: the dim side GROWS with the lake (it is part-cardinality
    here), so forcing it broadcast is a driver/executor OOM at 100 TB,
    while an unsalted shuffle join sends the hot key's ~30% of the
    fact through ONE reducer. Salting splits the hot key across 16
    shuffle partitions (fact rows get __salt = whole-row hash % 16;
    the dim replicates 16×, the right trade while |dim| << |fact|) and
    joins on (key, salt) — values identical to the plain join, which
    is exactly what the oracle checks. The hot key is manufactured
    deterministically (30% of partkeys collapse to key 0) so both
    engines build the identical skew. Scale shape: one shuffle of the
    fact on (key, salt) — no broadcast hint anywhere, max reducer load
    ~|hot|/16."""
    fact = _t(spark, sf_dir, "lineitem").select(
        F.expr(
            f"CAST({_HOT_KEY.format(k='l_partkey')} AS BIGINT)"
        ).alias("key"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    dim = (
        _t(spark, sf_dir, "part")
        .select(
            F.expr(
                f"CAST({_HOT_KEY.format(k='p_partkey')} AS BIGINT)"
            ).alias("key"),
            "p_brand",
        )
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("p_brand").alias("brand"),
        )
    )
    joined = salted_join(fact, dim, on=["key"], salt=16)
    return (
        joined.groupBy(
            F.when(F.col("key") == 0, "hot")
            .otherwise("uniform")
            .alias("key_class")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("qty").cast("long").alias("total_qty"),
            F.sum("n_parts").cast("long").alias("part_weight"),
            F.countDistinct("key").cast("long").alias("n_keys"),
            F.min("brand").alias("min_brand"),
        )
        .orderBy("key_class")
    )


# ===========================================================================
# Salted two-phase aggregation on the same manufactured hot key
# ===========================================================================

_SALTED_AGG_ORACLE = f"""
WITH fact AS (
  SELECT CAST({_HOT_KEY.format(k='l_partkey')} AS BIGINT) AS key,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
per_key AS (
  SELECT key,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(qty) AS BIGINT) AS total_qty,
         CAST(min(cents) AS BIGINT) AS min_cents,
         CAST(max(cents) AS BIGINT) AS max_cents
  FROM fact GROUP BY key
)
SELECT CASE WHEN key = 0 THEN 'hot' ELSE 'uniform' END AS key_class,
       CAST(count(*) AS BIGINT)       AS n_keys,
       CAST(sum(n_rows) AS BIGINT)    AS n_rows,
       CAST(max(n_rows) AS BIGINT)    AS max_key_rows,
       CAST(sum(total_qty) AS BIGINT) AS total_qty,
       CAST(min(min_cents) AS BIGINT) AS min_cents,
       CAST(max(max_cents) AS BIGINT) AS max_cents
FROM per_key
GROUP BY 1
ORDER BY key_class
"""


@_register("salted_skew_aggregate", _SALTED_AGG_ORACLE)
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (`salted_aggregate`) over the same
    deterministic 30%-hot key as `salted_hot_key_join`: phase 1 groups
    on (key, salt) so the hot key's rows spread over 16 reducers,
    phase 2 merges the decomposable partials (count→sum, sum→sum,
    min→min, max→max) on the true key — the map-side-combine answer to
    aggregation skew, with max_key_rows reporting the hot key's actual
    concentration (~30% of the fact). Values are identical to the
    direct aggregation, which is what the oracle checks. Scale shape:
    two bounded-width shuffles, no broadcast, no window; each phase's
    per-reducer group load is ~|hot|/16."""
    fact = _t(spark, sf_dir, "lineitem").select(
        F.expr(
            f"CAST({_HOT_KEY.format(k='l_partkey')} AS BIGINT)"
        ).alias("key"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    per_key = salted_aggregate(
        fact,
        keys=["key"],
        aggs={
            "n_rows": F.count(F.lit(1)),
            "total_qty": F.sum("qty"),
            "min_cents": F.min("cents"),
            "max_cents": F.max("cents"),
        },
        salt=16,
    )
    return (
        per_key.groupBy(
            F.when(F.col("key") == 0, "hot")
            .otherwise("uniform")
            .alias("key_class")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.max("n_rows").cast("long").alias("max_key_rows"),
            F.sum("total_qty").cast("long").alias("total_qty"),
            F.min("min_cents").cast("long").alias("min_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
        .orderBy("key_class")
    )


# ===========================================================================
# Exact global median over adaptive value bands (band-width-rule edge)
# ===========================================================================

_ADAPTIVE_MEDIAN_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)
SELECT t.n AS n_rows,
       CAST(min(r.c) AS BIGINT) AS med_lo_cents,
       CAST(max(r.c) AS BIGINT) AS med_hi_cents,
       CAST(min(r.c) + max(r.c) AS BIGINT) AS med_x2_cents
FROM r, t
WHERE r.rn IN ((t.n + 1) // 2, (t.n + 2) // 2)
GROUP BY t.n
"""


@_register("global_median_adaptive_bands", _ADAPTIVE_MEDIAN_ORACLE)
def global_median_adaptive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of the order-value distribution with the
    band width derived from the ACTUAL value range — the edge of the
    tiered-rank band-width rule the round-8 audits formalized: a fixed
    literal width over a value domain that grows with the lake makes
    the offsets frame O(n/width) (the ADVICE-r7 position_delete_read
    failure mode), while `adaptive_band_width` pins the tier count
    below the window audit's data-sized floor at ANY scale factor.
    Median selection is the two middle ranks ((n+1) div 2, (n+2) div 2
    — equal for odd n), so the result is exact for both parities and
    tie-independent (equal values at the middle ranks yield the same
    cents regardless of tie order). Scale shape: one tiered rank
    (per-band parallel row_number + a <=385-row broadcast offsets
    frame), a 1-row total from the same bounded rollup, and a
    two-row filter — no global sort anywhere."""
    v = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c")
    )
    width = adaptive_band_width(v, "c")
    ranked = tiered_global_rank(
        v,
        F.expr(f"c div {width}"),
        [F.col("c")],
        rank_name="rn",
        total_name="n",
    )
    return (
        ranked.filter(
            F.expr("rn IN ((n + 1) div 2, (n + 2) div 2)")
        )
        .groupBy(F.col("n").alias("n_rows"))
        .agg(
            F.min("c").cast("long").alias("med_lo_cents"),
            F.max("c").cast("long").alias("med_hi_cents"),
            (F.min("c") + F.max("c")).cast("long").alias("med_x2_cents"),
        )
    )

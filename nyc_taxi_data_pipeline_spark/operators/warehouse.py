"""Star-schema builders (SURVEY.md §2.3 J2, §2.4 A3, §2.8 F9/F10, §2.6 O1).

Replaces the reference's dbt-on-Postgres layer (nyc_taxi/models/production/
*.sql — 6 dims + 1 fact) with Spark SQL/DataFrame builders. Surrogate keys
keep dbt_utils-0.8.0 byte parity (functions.scalar.surrogate_key); the
missing dbt decode macros are reconstructed from the public TLC dictionary
(functions.scalar.*_DESCRIPTIONS).

Scale design: the fact joins no dim. Each dim it keys into is built from
the same staging frame, as the distinct ids that pass a predicate on the
id alone, keyed by a surrogate of the id. So the reference's inner join to
a dim is that predicate plus `surrogate_key(id)` on the staging row itself
(`fact_trip`): one filter and three projections over the fact, no dim
recomputation, no exchange. The code dims are bounded by their domain
filters or decode maps and sort inside one partition; the location dims
are data-sized and keep a distributed ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.functions import scalar


def dim_predicate(key_cols: list[str], domain_filter: Column | None = None) -> Column:
    """The staging rows a dim keeps: every key not null, and inside the
    dim's domain when it has one."""
    cond = F.col(key_cols[0]).isNotNull()
    for c in key_cols[1:]:
        cond = cond & F.col(c).isNotNull()
    return cond if domain_filter is None else cond & domain_filter


# The predicates of the three dims the fact keys into, shared by the dim
# builders and `fact_trip`. Built lazily: Column construction needs an
# active session.
def vendor_predicate() -> Column:
    """dim_vendor.sql:3-23 — domain filter vendor_id < 3."""
    return dim_predicate(["vendor_id"], F.col("vendor_id").cast("int") < 3)


def rate_code_predicate() -> Column:
    """dim_rate_code.sql:3-23 — domain filter rate_code_id < 7."""
    return dim_predicate(["rate_code_id"], F.col("rate_code_id").cast("int") < 7)


def payment_predicate() -> Column:
    """dim_payment.sql:3-21 — not null only."""
    return dim_predicate(["payment_type_id"])


def build_dim(
    staging: DataFrame,
    key_cols: list[str],
    surrogate_name: str,
    decode_col: str | None = None,
    decode_map: dict | None = None,
    decode_name: str | None = None,
    predicate: Column | None = None,
) -> DataFrame:
    """Generic code dim: SELECT DISTINCT keys WHERE `predicate` (default:
    keys not null) + surrogate key + optional decode + ORDER BY the first
    key (reference: dim_vendor.sql / dim_rate_code.sql / dim_payment.sql
    shape).

    A code dim holds at most its domain's few values, so it is sorted
    inside one partition: no range-partition sampling job, one output
    file, the same row order as a global ORDER BY."""
    cond = dim_predicate(key_cols) if predicate is None else predicate
    out = staging.filter(cond).select(*key_cols).distinct()
    out = out.select(
        scalar.surrogate_key(*key_cols).alias(surrogate_name), *key_cols
    )
    if decode_col is not None and decode_map is not None:
        out = out.withColumn(
            decode_name or f"{decode_col}_description",
            scalar.decode(decode_col, decode_map),
        )
    return out.coalesce(1).sortWithinPartitions(key_cols[0])


def dim_vendor(staging: DataFrame) -> DataFrame:
    """dim_vendor.sql:3-23."""
    return build_dim(
        staging,
        ["vendor_id"],
        "vendor_key",
        decode_col="vendor_id",
        decode_map=scalar.VENDOR_DESCRIPTIONS,
        decode_name="vendor_description",
        predicate=vendor_predicate(),
    )


def dim_rate_code(staging: DataFrame) -> DataFrame:
    """dim_rate_code.sql:3-23."""
    return build_dim(
        staging,
        ["rate_code_id"],
        "rate_code_key",
        decode_col="rate_code_id",
        decode_map=scalar.RATE_CODE_DESCRIPTIONS,
        decode_name="rate_code_description",
        predicate=rate_code_predicate(),
    )


def dim_payment(staging: DataFrame) -> DataFrame:
    """dim_payment.sql:3-21."""
    return build_dim(
        staging,
        ["payment_type_id"],
        "payment_type_key",
        decode_col="payment_type_id",
        decode_map=scalar.PAYMENT_DESCRIPTIONS,
        decode_name="payment_description",
        predicate=payment_predicate(),
    )


def dim_service_type(staging: DataFrame) -> DataFrame:
    """dim_service_type.sql:3-20."""
    return build_dim(
        staging,
        ["service_type"],
        "service_type_key",
        decode_col="service_type",
        decode_map=scalar.SERVICE_DESCRIPTIONS,
        decode_name="service_name",
    )


def dim_location(staging: DataFrame, prefix: str) -> DataFrame:
    """dim_pickup_location.sql / dim_dropoff_location.sql:3-21 — id +
    lat/long when staging carries coordinates.

    Reference null semantics are asymmetric and preserved exactly: the CTE
    filters `vendor_id IS NOT NULL` BEFORE the distinct, the outer query
    filters `{prefix}_location_id IS NOT NULL` — but null lat/long rows
    are KEPT (dim_pickup_location.sql:10-11,18-19). build_dim's
    all-columns-not-null contract would silently drop them, so the filter
    is built here instead."""
    cols = [f"{prefix}_location_id", f"{prefix}_latitude", f"{prefix}_longitude"]
    present = [c for c in cols if c in staging.columns]
    id_col = f"{prefix}_location_id"
    cond = F.col(id_col).isNotNull()
    if "vendor_id" in staging.columns:
        cond = F.col("vendor_id").isNotNull() & cond
    distinct = staging.filter(cond).select(*present).distinct()
    return distinct.select(
        scalar.surrogate_key(*present).alias(f"{prefix}_location_key"), *present
    ).orderBy(id_col)


def fact_trip(
    staging: DataFrame,
    measures: tuple[str, ...] = (
        "passenger_count",
        "trip_distance",
        "fare_amount",
        "extra",
        "mta_tax",
        "tip_amount",
        "tolls_amount",
        "improvement_surcharge",
        "total_amount",
        "congestion_surcharge",
    ),
) -> DataFrame:
    """fact_trip.sql:6-39 — 8-column surrogate trip_id, keyed to the
    vendor, rate-code and payment dims.

    The reference inner-joins the three dims. No join is needed: each dim
    is the distinct ids of staging rows that pass the dim's predicate, and
    that predicate reads the id alone. So a staging row finds exactly one
    dim row iff its own id passes the predicate (a null id never equi-joins,
    and the predicate rejects it too), and that row's key is
    `surrogate_key(id)` of the same value. The fact is therefore the
    staging rows that pass all three predicates, with the keys computed in
    place: the same rows and keys as the join, with no dim recomputed."""
    trip_id = scalar.surrogate_key(
        "vendor_id",
        "rate_code_id",
        "pickup_location_id",
        "dropoff_location_id",
        "payment_type_id",
        "service_type",
        "pickup_datetime",
        "dropoff_datetime",
    ).alias("trip_id")
    keyed = staging.filter(
        vendor_predicate() & rate_code_predicate() & payment_predicate()
    )
    present_measures = [m for m in measures if m in staging.columns]
    return keyed.select(
        trip_id,
        scalar.surrogate_key("vendor_id").alias("vendor_key"),
        scalar.surrogate_key("rate_code_id").alias("rate_code_key"),
        scalar.surrogate_key("payment_type_id").alias("payment_type_key"),
        "pickup_datetime",
        "dropoff_datetime",
        *present_measures,
    )


def star_dims(staging: DataFrame) -> dict[str, DataFrame]:
    """The star's 6 dims (SURVEY.md §3.3); the fact is `fact_trip` over
    the same staging. None of the seven reads another (the fact derives
    its dim keys in place), so they can be built in any order or all at
    once; the dict order is only the order they are reported in."""
    return {
        "dim_vendor": dim_vendor(staging),
        "dim_rate_code": dim_rate_code(staging),
        "dim_payment": dim_payment(staging),
        "dim_service_type": dim_service_type(staging),
        "dim_pickup_location": dim_location(staging, "pickup"),
        "dim_dropoff_location": dim_location(staging, "dropoff"),
    }


def scd2_from_changelog(
    df: DataFrame,
    key: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Type-2 slowly-changing dimension from a change log: one row per
    (key, attribute-run) with [valid_from, valid_to) validity and an
    is_current flag — the dimension-versioning layer the reference's dbt
    star schema implies but never materializes.

    Two window passes over the same (key, ts) partitioning — Catalyst
    plans ONE shuffle + one sort for both (consecutive-duplicate
    compaction via lag, then validity bounds via lead). No self-join, no
    driver state; per-key memory is O(1), so skewed keys degrade
    gracefully. Late-arriving changes are handled by re-running over the
    affected keys (the output is a pure function of the log)."""
    from pyspark.sql import Window as W

    order = [F.col(ts_col), F.col(tiebreak_col)]
    w = W.partitionBy(key).orderBy(*order)
    changes = (
        df.withColumn("__prev", F.lag(attr_col).over(w))
        .filter(
            F.col("__prev").isNull() | (F.col(attr_col) != F.col("__prev"))
        )
        .drop("__prev")
    )
    w2 = W.partitionBy(key).orderBy(*order)
    return changes.select(
        F.col(key),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )

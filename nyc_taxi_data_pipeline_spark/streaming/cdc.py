"""CDC envelope decode (SURVEY.md §2.9 ST8, §2.8 F7/F8).

The reference's richest streaming job parses Debezium change events —
JSON `{"payload": {"after": {<fields>}}}` where timestamps ride as epoch
MICROSECONDS (streaming_to_datalake.py:114-136, schema_config.json). Here
that is a reusable, schema-driven transform that works identically on a
Kafka stream, a file stream, or a batch frame of raw messages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical trip schema on the CDC wire (reference: schema_config.json:1-21 —
# 17 fields; datetimes as LongType epoch-micros).
TRIP_WIRE_FIELDS: dict[str, T.DataType] = {
    "vendorid": T.IntegerType(),
    "tpep_pickup_datetime": T.LongType(),
    "tpep_dropoff_datetime": T.LongType(),
    "passenger_count": T.DoubleType(),
    "trip_distance": T.DoubleType(),
    "ratecodeid": T.DoubleType(),
    "pulocationid": T.IntegerType(),
    "dolocationid": T.IntegerType(),
    "payment_type": T.IntegerType(),
    "fare_amount": T.DoubleType(),
    "extra": T.DoubleType(),
    "mta_tax": T.DoubleType(),
    "tip_amount": T.DoubleType(),
    "tolls_amount": T.DoubleType(),
    "improvement_surcharge": T.DoubleType(),
    "total_amount": T.DoubleType(),
    "congestion_surcharge": T.DoubleType(),
}

EPOCH_MICROS_COLS = ("tpep_pickup_datetime", "tpep_dropoff_datetime")


def debezium_envelope_schema(fields: dict[str, T.DataType] | None = None) -> T.StructType:
    """payload.after.{fields} struct (streaming_to_datalake.py:114-123)."""
    after = T.StructType(
        [T.StructField(n, t, True) for n, t in (fields or TRIP_WIRE_FIELDS).items()]
    )
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType([T.StructField("after", after, True)]),
                True,
            )
        ]
    )


def parse_debezium(
    raw: DataFrame,
    value_col: str = "value",
    fields: dict[str, T.DataType] | None = None,
    epoch_micros_cols: tuple[str, ...] = EPOCH_MICROS_COLS,
) -> DataFrame:
    """Kafka-shaped frame (binary/str `value`) → flat typed columns.

    P9 cast → P7 null filter → F7 from_json → flatten → F8 epoch-micros
    conversion. Works on streaming and batch frames alike (same lazy plan).
    """
    schema = debezium_envelope_schema(fields)
    parsed = (
        raw.select(F.col(value_col).cast("string").alias("json"))
        .filter(F.col("json").isNotNull())
        .select(F.from_json("json", schema).alias("data"))
        .filter(F.col("data.payload.after").isNotNull())
        .select("data.payload.after.*")
    )
    for c in epoch_micros_cols:
        if c in parsed.columns:
            parsed = parsed.withColumn(c, F.timestamp_micros(F.col(c)))
    return parsed

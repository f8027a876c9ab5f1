"""Seeded inputs of the workloads.

Everything the engine receives in a run is derived here from `--seed`:
the order of the adhoc_sql panel, and the raw yellow-trip files etl_star
ingests. Nothing in this module starts Spark, so the tests can check
determinism without a JVM.
"""

from __future__ import annotations

import os
import random

# adhoc_sql panel, pinned by name so that adding or removing catalog
# entries does not change what is timed. The batch entries are the
# median-cost entry of the q_analyticsN modules (58% of the catalog),
# q_lakehouse (table-format and CDC operators) and q_graph (the iterative
# loops), by warm seconds per entry at sf0.01 on 4 cores (one noop pass
# after a cold pass, same session) measured over the whole catalog when the
# benchmark was defined: 0.53, 0.35 and 1.14 s. A fourth family (q_text)
# made a run ~80 s, too long for 48 runs in 57 minutes.
#
# The panel is fixed; the seed sets its order. Seeded membership was tried
# and dropped: with one random entry per family module, and then with one
# random entry out of three of near-equal cost, wall_s spread 24-34%
# (quartile distance over median) across seeds, because an entry's cost
# early in the JIT warm-up is not its fully-warm cost.
BATCH_PANEL = ("global_median_adaptive_bands", "scd2_build_from_changes", "kcore_decomposition")
# The streaming slot: the first of these q_streaming entries (the three
# nearest that family's median cost, 1.12-1.17 s) whose builder the
# listener sees start a streaming query. The paced offset_log drains
# (3.5-6 s each) did not fit the run budget.
STREAM_CANDIDATES = ("streaming_partitioned_sink", "streaming_stateful_running_stats", "streaming_dedup_state")

# etl_star input: rows of raw yellow trips and the files they are split
# into (one per core of a 4-core machine, so the raw scan is not
# a single task). The pipeline's time is mostly per-job overhead at this
# size; see README.md.
TRIP_ROWS = 20_000
TRIP_FILES = 4


def seeded_order(names: list[str], seed: int) -> list[str]:
    out = sorted(names)
    random.Random(f"adhoc_sql:{seed}").shuffle(out)
    return out


def write_raw_trips(out_dir: str, seed: int, rows: int = TRIP_ROWS, files: int = TRIP_FILES) -> int:
    """Write `rows` raw yellow trips (FIXTURES.md `trips_yellow` shape) as
    `files` parquet files under `out_dir`; returns the bytes written.

    The shape exercises every normalisation branch of the pipeline:
    mixed-case and `tpep_` column names, ~4% null `passenger_count`
    (dropped by dropna), out-of-domain `VendorID` (3, 4) and `RatecodeID`
    (99) that the star's dimension filters drop, and Zipf-skewed
    location IDs, some of them beyond the 265 real zones."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = rows
    start = np.datetime64("2023-01-01T00:00:00", "us")
    pickup = start + rng.integers(0, 730 * 86_400, n).astype("timedelta64[s]")
    dropoff = pickup + (60 + rng.gamma(2.0, 420.0, n)).astype("timedelta64[s]")

    def money(lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    def skewed_location():
        return ((rng.zipf(1.25, n) - 1) % 280 + 1).astype("int32")

    passenger = rng.integers(1, 7, n).astype("float64")
    distance = np.round(rng.exponential(3.0, n), 2)
    distance[rng.random(n) < 0.001] += 150.0
    fare = money(2.5, 80.0)
    extra = rng.choice([0.0, 0.5, 1.0, 2.5], n)
    tip = np.round(fare * rng.choice([0.0, 0.1, 0.15, 0.2], n), 2)
    tolls = np.where(rng.random(n) < 0.05, 6.55, 0.0)
    table = pa.table(
        {
            "VendorID": pa.array(rng.choice([1, 2, 3, 4], n, p=[0.47, 0.47, 0.03, 0.03]).astype("int32")),
            "tpep_pickup_datetime": pa.array(pickup, pa.timestamp("us", tz="UTC")),
            "tpep_dropoff_datetime": pa.array(dropoff, pa.timestamp("us", tz="UTC")),
            "passenger_count": pa.array(passenger, mask=rng.random(n) < 0.04),
            "trip_distance": pa.array(distance),
            "RatecodeID": pa.array(
                rng.choice([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 99.0], n, p=[0.8, 0.06, 0.04, 0.03, 0.03, 0.02, 0.02])
            ),
            "store_and_fwd_flag": pa.array(rng.choice(["N", "Y"], n, p=[0.99, 0.01])),
            "PULocationID": pa.array(skewed_location()),
            "DOLocationID": pa.array(skewed_location()),
            "payment_type": pa.array(rng.choice([1, 2, 3, 4, 5, 6], n, p=[0.7, 0.2, 0.04, 0.03, 0.02, 0.01]).astype("int32")),
            "fare_amount": pa.array(fare),
            "extra": pa.array(extra),
            "mta_tax": pa.array(np.full(n, 0.5)),
            "tip_amount": pa.array(tip),
            "tolls_amount": pa.array(tolls),
            "improvement_surcharge": pa.array(np.full(n, 0.3)),
            "total_amount": pa.array(np.round(fare + extra + 0.5 + tip + tolls + 0.3 + 2.5, 2)),
            "congestion_surcharge": pa.array(np.full(n, 2.5)),
            "Airport_fee": pa.array(np.where(rng.random(n) < 0.1, 1.75, 0.0)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    step = -(-n // files)
    total = 0
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:02d}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        total += os.path.getsize(path)
    return total

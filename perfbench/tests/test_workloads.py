"""Seeded inputs: the same seed gives the same panel, order and generated
trips; a different seed gives a different order and different trips."""

import hashlib
import os

import workloads
from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY


def test_panel_is_pinned_to_catalog_entries():
    for name in workloads.BATCH_PANEL + workloads.STREAM_CANDIDATES:
        assert name in REGISTRY, name
    modules = [REGISTRY[n].spark.__module__.rsplit(".", 1)[-1] for n in workloads.BATCH_PANEL]
    assert [m.rstrip("0123456789") for m in modules] == ["q_analytics", "q_lakehouse", "q_graph"]
    for name in workloads.STREAM_CANDIDATES:
        assert REGISTRY[name].spark.__module__.endswith(".q_streaming"), name


def test_order_is_seeded():
    names = list(workloads.BATCH_PANEL + workloads.STREAM_CANDIDATES[:1])
    a = workloads.seeded_order(names, 1)
    assert a == workloads.seeded_order(list(reversed(names)), 1)
    assert sorted(a) == sorted(names)
    assert len({tuple(workloads.seeded_order(names, s)) for s in range(1, 11)}) > 1


def _digest(d):
    return [
        hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    ]


def test_raw_trips_are_seeded(tmp_path):
    dirs = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = str(tmp_path / label)
        workloads.write_raw_trips(d, seed, rows=2_000, files=2)
        dirs[label] = _digest(d)
    assert dirs["a"] == dirs["b"]
    assert dirs["a"] != dirs["c"]


def test_raw_trips_have_the_fixture_shape(tmp_path):
    import pyarrow.parquet as pq

    d = str(tmp_path / "raw")
    workloads.write_raw_trips(d, 3, rows=20_000, files=2)
    t = pq.read_table(d).to_pydict()
    assert "VendorID" in t and "tpep_pickup_datetime" in t and "Airport_fee" in t
    assert any(v is None for v in t["passenger_count"])
    assert max(t["VendorID"]) >= 3
    assert max(t["RatecodeID"]) >= 7
    assert max(t["PULocationID"]) > 265

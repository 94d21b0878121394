"""X3 matrix operator: haversine values, degenerate self-pair,
fault-isolation recursion → missing-pairs complement (FIXTURES.md
edge-case list; reference semantics utils/times.py:389-642)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from opentimes_spark.operators.matrix import (
    HaversineRouter,
    split_times_missing,
    travel_time_matrix,
)


def _points(spark, ids_coords):
    return spark.createDataFrame(ids_coords, "id string, lon double, lat double")


def test_full_matrix_values(spark):
    o = _points(spark, [("o1", -87.6, 41.8), ("o2", -88.0, 42.0)])
    d = _points(spark, [("d1", -87.6, 41.8), ("d2", -89.0, 40.0)])
    got = travel_time_matrix(o, d, HaversineRouter).collect()
    assert len(got) == 4
    m = {(r["origin_id"], r["destination_id"]): r["duration_sec"] for r in got}
    assert m[("o1", "d1")] == pytest.approx(0.0, abs=1e-9)  # same point
    # haversine check for one pair
    r = 6371.0088
    la1, la2 = math.radians(41.8), math.radians(40.0)
    dla, dlo = la2 - la1, math.radians(-89.0) - math.radians(-87.6)
    h = math.sin(dla / 2) ** 2 + math.cos(la1) * math.cos(la2) * math.sin(dlo / 2) ** 2
    expect = 2 * r * math.asin(math.sqrt(h)) / 60.0 * 3600
    assert m[("o1", "d2")] == pytest.approx(expect, rel=1e-9)


def test_degenerate_single_self_pair(spark):
    o = _points(spark, [("x", 10.0, 10.0)])
    got = travel_time_matrix(o, o, lambda: HaversineRouter(fail_pairs={("x", "x")})).collect()
    # short-circuits BEFORE the (poisoned) service call — duration 0
    assert len(got) == 1 and got[0]["duration_sec"] == 0.0


def test_fault_isolation_produces_missing_complement(spark):
    ids = [(f"p{i:02d}", float(i), float(i)) for i in range(8)]
    o = _points(spark, ids)
    d = _points(spark, ids)
    poisoned = {("p03", "p05")}
    matrix = travel_time_matrix(
        o.coalesce(1), d, lambda: HaversineRouter(fail_pairs=poisoned),
        max_recursion_depth=10,
    )
    times, missing = split_times_missing(matrix)
    miss = {(r["origin_id"], r["destination_id"]) for r in missing.collect()}
    # recursion isolates exactly the poisoned pair
    assert miss == {("p03", "p05")}
    # complement invariant: times ∪ missing == full cross product, disjoint
    assert times.count() + len(miss) == 64
    assert times.filter(
        (F.col("origin_id") == "p03") & (F.col("destination_id") == "p05")
    ).count() == 0


def test_depth_cap_emits_null_region(spark):
    ids = [(f"p{i:02d}", float(i), float(i)) for i in range(8)]
    o = _points(spark, ids)
    matrix = travel_time_matrix(
        o.coalesce(1), o, lambda: HaversineRouter(fail_pairs={("p00", "p00")}),
        max_recursion_depth=0,
    )
    _, missing = split_times_missing(matrix)
    # depth 0: the whole tile containing the failure becomes NULL...
    n_missing = missing.count()
    assert n_missing == 64  # no isolation allowed → everything missing


def test_tiling_respects_max_split_size(spark):
    """max_split_size smaller than the chunk forces tiling; results must
    be identical to the untiled run."""
    ids = [(f"p{i:02d}", float(i) / 10, float(i) / 10) for i in range(10)]
    o = _points(spark, ids)
    whole = travel_time_matrix(o.coalesce(1), o, HaversineRouter).collect()
    tiled = travel_time_matrix(
        o.coalesce(1), o, HaversineRouter, max_split_size=3
    ).collect()
    as_map = lambda rows: {
        (r["origin_id"], r["destination_id"]): r["duration_sec"] for r in rows
    }
    assert as_map(whole) == as_map(tiled)


@pytest.mark.parametrize("size", [0, -1])
def test_max_split_size_below_one_is_refused(spark, size):
    """A tile step of 0 fails inside a worker and a negative one routes
    no pair; the operator refuses both on the driver, at call time."""
    o = _points(spark, [("x", 10.0, 10.0)])
    with pytest.raises(ValueError, match="max_split_size"):
        travel_time_matrix(o, o, HaversineRouter, max_split_size=size)


def test_oversized_destinations_raise_not_oom(spark):
    """The destination side is driver-collected + broadcast; above the
    cap the operator must refuse with guidance instead of OOMing."""
    import pytest

    ids = [(f"p{i:02d}", float(i), float(i)) for i in range(10)]
    o = _points(spark, ids)
    with pytest.raises(ValueError, match="max_broadcast_destinations"):
        travel_time_matrix(o, o, HaversineRouter, max_broadcast_destinations=5)
    # at exactly the cap it proceeds
    assert (
        travel_time_matrix(
            o, o, HaversineRouter, max_broadcast_destinations=10
        ).count()
        == 100
    )

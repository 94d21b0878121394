"""End-to-end pipeline slice (SURVEY.md §7): synthetic two-state world →
blockloc → cenloc → destpoint → times → sorted public write → point
lookup, with the reference's invariants checked at each stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentimes_spark.operators.matrix import HaversineRouter
from opentimes_spark.plans.pipeline import (
    build_blockloc,
    build_cenloc,
    build_destpoint,
    compute_times,
    expect,
    point_lookup,
    write_public,
)


@pytest.fixture
def persisted():
    """A ``compute_times(persisted=...)`` list, unpersisted at teardown
    so no routed matrix stays cached in the shared session."""
    cached = []
    yield cached
    for df in cached:
        df.unpersist()


@pytest.fixture(scope="module")
def world(spark):
    """Two states ('17', '18'), 2 counties × 2 tracts × 4 blocks each,
    deterministic grid coordinates. State 17 centered ~(-88, 41),
    state 18 east of it; far enough that a 150 km buffer keeps only a
    couple of out-of-state tracts."""
    blocks, pops = [], []
    for si, state in enumerate(["17", "18"]):
        for ci in range(2):
            county = f"{ci + 1:03d}"
            for ti in range(2):
                tract = f"{ti + 1:06d}"
                for bi in range(4):
                    block = f"1{bi:03d}"  # leading digit = block group
                    geoid = f"{state}{county}{tract}{block}"
                    lon = -88.0 + si * 2.0 + ci * 0.5 + ti * 0.1 + bi * 0.01
                    lat = 41.0 + ci * 0.4 + ti * 0.1 + bi * 0.01
                    blocks.append((geoid, lon, lat))
                    # one zero-pop block per tract exercises the fallback;
                    # state 18 doubled so a cross-state join-key mixup is
                    # detectable (county/tract/block codes recur per state)
                    pop = 0 if bi == 3 else 100 * (bi + 1) * (si + 1)
                    pops.append((state, county, tract, block, pop))
    blocks_df = spark.createDataFrame(blocks, "geoid string, lon double, lat double")
    pop_df = spark.createDataFrame(
        pops,
        "state string, county string, tract string, block string, population int",
    )
    return blocks_df, pop_df


def test_blockloc_state_in_join_key(spark, world):
    """county/tract/block codes recur in both states; only a four-key
    join (with state) preserves row count and assigns each block its own
    state's population (state 18 is doubled in the fixture)."""
    blocks_df, pop_df = world
    blockloc = build_blockloc(blocks_df, pop_df)  # check=True: no dup keys
    rows = {
        r["geoid"]: r["population"]
        for r in blockloc.select("geoid", "population").collect()
    }
    assert rows["170010000011000"] == 100
    assert rows["180010000011000"] == 200  # state 18's own value, not 17's

    with pytest.raises(ValueError, match="state"):
        build_blockloc(blocks_df, pop_df.drop("state"))

    # duplicate dimension keys would fan out the left join: the cheap
    # dimension-side uniqueness check (equivalent to the reference's
    # row-count-preservation assert) must catch it at build time
    with pytest.raises(ValueError, match="duplicate"):
        build_blockloc(blocks_df, pop_df.union(pop_df.limit(1)))


def test_full_pipeline(spark, world, tmp_path, persisted):
    blocks_df, pop_df = world
    n_blocks = blocks_df.count()

    # blockloc: row count preserved, coords + population non-null
    blockloc = expect(
        build_blockloc(blocks_df, pop_df),
        n_rows=n_blocks,
        no_null_cols=["population", "x_5071", "y_5071"],
        min_nonzero_frac=("population", 0.5),  # catches silent join miss
    )

    # cenloc per state at tract level
    cenloc = {}
    for state in ["17", "18"]:
        cl = build_cenloc(blockloc.filter(F.col("state") == state), "tract")
        cenloc[state] = expect(cl, n_rows=4, no_null_cols=["x_4326_wt", "y_4326_wt"])

    # first tract of state 17: blocks at lon −88.00/−87.99/−87.98/−87.97
    # with pop 100/200/300/0 → weighted = Σ(lon·pop)/600, unweighted = mean
    row = cenloc["17"].orderBy("geoid").collect()[0]
    expect_wt = (-88.0 * 100 + -87.99 * 200 + -87.98 * 300) / 600
    assert row["x_4326_wt"] == pytest.approx(expect_wt, abs=1e-12)
    assert row["x_4326"] == pytest.approx(-87.985, abs=1e-12)

    # destpoint: state 17 + buffer captures no state-18 tract at 100km,
    # but does at 250km (state 18 is ~165km east)
    all_cen = cenloc["17"].union(cenloc["18"])
    near = build_destpoint(all_cen, (-87.7, 41.2), buffer_m=100_000)
    far = build_destpoint(all_cen, (-87.7, 41.2), buffer_m=250_000)
    assert near.count() == 4
    assert far.count() > 4

    # times: 4 origins × destinations, fault-free haversine router
    dest = far
    times, missing, metadata = compute_times(
        cenloc["17"], dest, HaversineRouter, centroid_type="weighted",
        persisted=persisted,
    )
    n_pairs = 4 * dest.count()
    assert times.count() == n_pairs and missing.count() == 0
    md = metadata.collect()[0]
    assert md["calc_n_origins"] == 4 and md["calc_n_destinations"] == dest.count()

    # self-pair durations are 0
    zeros = times.filter(F.col("origin_id") == F.col("destination_id"))
    assert all(r["duration_sec"] == 0.0 for r in zeros.collect())

    # public write: Hive layout with string keys, sorted row groups
    out = str(tmp_path / "public")
    write_public(times, out, state="17")
    import os

    assert os.path.isdir(
        os.path.join(
            out,
            "version=0.0.1",
            "mode=car",
            "year=2024",
            "geography=tract",
            "state=17",
            "centroid_type=weighted",
        )
    )

    # point lookup returns exactly the origin's row set, pruned scan
    some_origin = times.select("origin_id").distinct().orderBy("origin_id").collect()[0][0]
    got = point_lookup(spark, out, some_origin)
    assert got.count() == dest.count()
    # partition values stayed strings (autocast disabled)
    schema = {f.name: f.dataType.simpleString() for f in spark.read.parquet(out).schema}
    assert schema["state"] == "string" and schema["year"] == "string"


def test_expect_single_pass_and_hit_rates(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 0.0, None), (3, 5.0, "c")], "id long, v double, s string"
    )
    # all checks in one call succeed
    from opentimes_spark.plans.pipeline import expect

    expect(
        df,
        n_rows=3,
        no_null_cols=["id", "v"],
        min_nonzero_frac=("v", 0.5),
        min_nonnull_frac=("s", 0.5),
    )
    with pytest.raises(AssertionError, match="non-zero"):
        expect(df, min_nonzero_frac=("v", 0.9))
    with pytest.raises(AssertionError, match="non-null"):
        expect(df, min_nonnull_frac=("s", 0.9))
    with pytest.raises(AssertionError, match="null values"):
        expect(df, no_null_cols=["s"])
    with pytest.raises(AssertionError, match="expected 5 rows"):
        expect(df, n_rows=5)


def test_destpoint_polygon_concave(spark):
    """J5 polygon form: a U-shaped (concave) state — centroids deep in
    the notch are OUTSIDE even when a center+radius circle would keep
    them; near-boundary outsiders come in via the dilation. Both the
    weighted and unweighted coordinate sets must be tested (reference
    create_destpoint.py: two match sets union)."""
    rows = [
        # geoid, wt coords, unwt coords (planar EPSG:5071-like meters)
        ("in_prong", 5_000.0, 15_000.0, 5_000.0, 15_000.0),
        ("notch_near_floor", 15_000.0, 12_000.0, 15_000.0, 12_000.0),
        ("notch_deep", 15_000.0, 20_000.0, 15_000.0, 20_000.0),
        ("far_east", 40_000.0, 15_000.0, 40_000.0, 15_000.0),
        # weighted outside, unweighted inside → must match via set 2
        ("split_coords", 100_000.0, 100_000.0, 5_000.0, 5_000.0),
    ]
    cen = spark.createDataFrame(
        rows,
        "geoid string, x_5071_wt double, y_5071_wt double, "
        "x_5071 double, y_5071 double",
    )
    u = [
        (0.0, 0.0), (30_000.0, 0.0), (30_000.0, 30_000.0),
        (20_000.0, 30_000.0), (20_000.0, 10_000.0), (10_000.0, 10_000.0),
        (10_000.0, 30_000.0), (0.0, 30_000.0),
    ]
    got = {
        r["geoid"]
        for r in build_destpoint(cen, state_ring_5071=u, buffer_m=3_000.0).collect()
    }
    assert got == {"in_prong", "notch_near_floor", "split_coords"}

    with pytest.raises(ValueError, match="exactly one"):
        build_destpoint(cen)
    with pytest.raises(ValueError, match="exactly one"):
        build_destpoint(cen, state_center=(0.0, 0.0), state_ring_5071=u)


def test_expect_observed_rides_the_action(spark, world, tmp_path):
    """expect_observed collects invariants as a side effect of the
    caller's own action (Observation/CollectMetrics) — no separate
    aggregation job. Violations surface when check() runs."""
    from opentimes_spark.plans.pipeline import expect_observed

    blocks_df, pop_df = world
    good = build_blockloc(blocks_df, pop_df, check=False)
    observed, check = expect_observed(
        good, no_null_cols=["population", "x_5071"],
        min_nonnull_frac=("population", 0.9),
    )
    observed.write.format("noop").mode("overwrite").save()
    stats = check()
    assert stats["__n"] == blocks_df.count()

    # a violated invariant raises at check() time
    bad = good.withColumn(
        "population",
        F.when(F.col("state") == "17", None).otherwise(F.col("population")),
    )
    observed, check = expect_observed(bad, no_null_cols=["population"])
    observed.write.format("noop").mode("overwrite").save()
    with pytest.raises(AssertionError, match="null values present"):
        check()


def test_write_path_adds_only_the_range_exchange(spark, world, persisted):
    """The T4 public-write path must not introduce any exchange beyond
    its ONE range partitioning on (origin_id, destination_id): the
    matrix output flows straight into the sorted layout — no hash
    shuffle, no extra sort — so at 100 TB the write costs exactly one
    pass over the times rows (VERDICT r5 item 6 plan assertion)."""
    from opentimes_spark.io.write import sorted_layout
    from opentimes_spark.plans.pipeline import PARTITION_KEYS

    blocks_df, pop_df = world
    blockloc = build_blockloc(blocks_df, pop_df, check=False)
    cenloc = build_cenloc(blockloc, "tract")
    state_rows = cenloc.filter(F.col("geoid").startswith("17"))
    dest = build_destpoint(cenloc, (-87.7, 41.2), buffer_m=250_000)
    times, _missing, _metadata = compute_times(
        state_rows, dest, HaversineRouter, persisted=persisted
    )
    tagged = (
        times.withColumn("version", F.lit("0.0.1"))
        .withColumn("mode", F.lit("car"))
        .withColumn("year", F.lit("2024"))
        .withColumn("geography", F.lit("tract"))
        .withColumn("state", F.lit("17"))
        .withColumn("centroid_type", F.lit("weighted"))
    )
    out = sorted_layout(
        tagged, PARTITION_KEYS, ["origin_id", "destination_id"]
    )
    base_plan = spark._jvm.PythonSQLUtils.explainString(
        times._jdf.queryExecution(), "simple"
    )
    write_plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    added = write_plan.count("Exchange") - base_plan.count("Exchange")
    assert added == 1, f"write path added {added} exchanges:\n{write_plan}"
    assert write_plan.count("rangepartitioning") == base_plan.count(
        "rangepartitioning"
    ) + 1
    # the added exchange is the ONLY new one — no hash shuffle appears
    # between the matrix output and the files (the hash exchanges both
    # plans share belong to the cenloc aggregation BELOW the matrix)
    assert write_plan.count("hashpartitioning") == base_plan.count(
        "hashpartitioning"
    )


def test_destination_lookup_reverse_path(spark, world, tmp_path, persisted):
    """The reverse consume path returns exactly the destination's rows,
    read from every row group of the partition's leaf: an origin-sorted
    layout gives zone maps nothing to skip on destination_id."""
    from opentimes_spark.io.write import row_group_stats
    from opentimes_spark.plans.pipeline import (
        LOOKUP_SCHEMA,
        PARTITION_KEYS,
        destination_lookup,
        lookup_row_groups,
    )

    blocks_df, pop_df = world
    blockloc = build_blockloc(blocks_df, pop_df, check=False)
    cenloc = build_cenloc(blockloc, "tract")
    state_rows = cenloc.filter(F.col("geoid").startswith("17"))
    dest = build_destpoint(cenloc, (-87.7, 41.2), buffer_m=250_000)
    times, _m, _md = compute_times(
        state_rows, dest, HaversineRouter, persisted=persisted
    )
    out = str(tmp_path / "public_rev")
    write_public(times, out, state="17")

    some_dest = (
        times.select("destination_id").distinct().orderBy("destination_id")
        .collect()[0][0]
    )
    got = destination_lookup(spark, out, some_dest)
    expect = times.filter(F.col("destination_id") == some_dest)
    want = sorted(tuple(r) for r in expect.collect())
    assert got.schema == LOOKUP_SCHEMA
    assert sorted(tuple(r) for r in got.collect()) == want and want
    keys = dict(
        zip(PARTITION_KEYS, ("0.0.1", "car", "2024", "tract", "17", "weighted"))
    )
    read = lookup_row_groups(out, "destination_id", some_dest, keys)
    assert sum(len(g) for _, _, g in read) == len(row_group_stats(out, "origin_id"))

"""The §3.1 produce-path CLI end-to-end on the demo world: one
invocation must leave the reference's five public datasets on disk and
answer the canonical point lookup."""

from __future__ import annotations

import os

import pytest

from opentimes_spark.jobs.calculate_times import parse_args, run
from opentimes_spark.plans.pipeline import point_lookup


def test_cli_demo_end_to_end(spark, tmp_path):
    out = str(tmp_path / "public")
    args = parse_args(["--demo", "--out", out, "--state", "17"])
    summary = run(args, spark)
    assert summary["n_origins"] > 0 and summary["n_times"] > 0
    assert summary["n_times"] + summary["n_missing"] == (
        summary["n_origins"] * summary["n_destinations"]
    )
    for ds in ("times", "points/origin", "points/destination",
               "missing_pairs", "metadata"):
        assert os.path.isdir(os.path.join(out, ds)), ds
    # Hive layout carries all six partition keys
    state_dir = os.path.join(
        out, "times", "version=0.0.1", "mode=car", "year=2024",
        "geography=tract", "state=17", "centroid_type=weighted",
    )
    assert os.path.isdir(state_dir)
    # the canonical consume query (reference README.md:88-98)
    some_origin = spark.read.parquet(os.path.join(out, "times")).select(
        "origin_id").first()["origin_id"]
    rows = point_lookup(spark, os.path.join(out, "times"), some_origin).collect()
    assert len(rows) > 0
    assert all(r["duration_sec"] >= 0 for r in rows)


def test_cli_chunk_slice(spark, tmp_path):
    out = str(tmp_path / "public_chunk")
    args = parse_args(["--demo", "--out", out, "--chunk", "0-2_0-3"])
    summary = run(args, spark)
    assert summary["n_origins"] == 2
    assert summary["n_destinations"] == 3
    assert summary["n_times"] + summary["n_missing"] == 6


@pytest.mark.parametrize("chunk", ["3-1_0-3", "0-3_2-2", "nope"])
def test_cli_rejects_bad_chunk(chunk, capsys):
    with pytest.raises(SystemExit):
        parse_args(["--demo", "--out", "/tmp/x", "--chunk", chunk])
    assert repr(chunk) in capsys.readouterr().err


@pytest.mark.parametrize("size", ["0", "-1"])
def test_cli_rejects_max_split_size_below_one(size, capsys):
    """A step of 0 fails inside a worker and a negative step routes no
    pair, so the CLI refuses both before any Spark work."""
    with pytest.raises(SystemExit):
        parse_args(["--demo", "--out", "/tmp/x", "--max-split-size", size])
    assert "--max-split-size" in capsys.readouterr().err


def _counting_router(cells):
    """HaversineRouter counting the O×D cells it routes into ``cells``.
    Defined in a closure so workers unpickle it by value."""
    from opentimes_spark.operators.matrix import HaversineRouter

    class CountingRouter(HaversineRouter):
        def table(self, o_ids, o_lon, o_lat, d_ids, d_lon, d_lat):
            cells.add(len(o_ids) * len(d_ids))
            return super().table(o_ids, o_lon, o_lat, d_ids, d_lon, d_lat)

    return CountingRouter


@pytest.mark.parametrize("extra", [[], ["--chunk", "0-2_0-3"]], ids=["demo", "chunk"])
def test_each_cell_is_routed_once(spark, tmp_path, monkeypatch, extra):
    """The range sampling, the times write and the missing_pairs write
    read one routed matrix: a router call is the expensive layer (the
    reference's OSRM service), so no cell may be routed twice."""
    import opentimes_spark.operators.matrix as matrix

    cells = spark.sparkContext.accumulator(0)
    monkeypatch.setattr(matrix, "HaversineRouter", _counting_router(cells))
    args = parse_args(["--demo", "--out", str(tmp_path / "public")] + extra)
    summary = run(args, spark)
    assert summary["n_times"] > 0
    assert cells.value == summary["n_times"] + summary["n_missing"]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_run_releases_its_caches(spark, tmp_path, monkeypatch):
    """cenloc and the routed matrix are unpersisted when run() returns,
    and also when a write inside it raises."""
    import opentimes_spark.io.write as write

    spark.catalog.clearCache()
    run(parse_args(["--demo", "--out", str(tmp_path / "ok")]), spark)
    assert _cache_is_empty(spark)

    real = write.write_sorted_partitioned

    def failing(df, path, **kw):
        if path.endswith("missing_pairs"):
            raise OSError("disk full")
        return real(df, path, **kw)

    monkeypatch.setattr(write, "write_sorted_partitioned", failing)
    with pytest.raises(OSError, match="disk full"):
        run(parse_args(["--demo", "--out", str(tmp_path / "fail")]), spark)
    assert _cache_is_empty(spark)


def test_layout_at_the_cores_sized_partition_count(spark, tmp_path):
    """Siblings are one file each; the times row groups stay sorted and
    non-overlapping on origin_id, and every origin's point lookup answers
    the same rows as at the former fixed 32 shuffle partitions."""
    import glob

    from opentimes_spark.io.write import row_group_stats

    cores = spark.sparkContext.defaultParallelism
    lookups = {}
    for n in (32, cores):
        out = str(tmp_path / f"p{n}")
        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            run(parse_args(["--demo", "--out", out]), spark)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        for ds in ("points/origin", "points/destination", "missing_pairs", "metadata"):
            files = glob.glob(os.path.join(out, ds, "**", "*.parquet"), recursive=True)
            assert len(files) == 1, (n, ds, files)
        times = os.path.join(out, "times")
        ranges = sorted((mn, mx) for _, mn, mx in row_group_stats(times, "origin_id"))
        for (_, amx), (bmn, _) in zip(ranges, ranges[1:]):
            assert amx <= bmn, f"overlapping row groups at {n} partitions"
        origins = [r[0] for r in spark.read.parquet(times).select("origin_id").distinct().collect()]
        lookups[n] = {
            o: sorted(tuple(r) for r in point_lookup(spark, times, o).collect())
            for o in origins
        }
    assert lookups[32] == lookups[cores]
    assert all(lookups[cores].values())

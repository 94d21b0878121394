"""The produce-path CLI (reference: data/src/calculate_times.py, traced
in SURVEY.md §3.1).

The reference's ladder — arg parsing → path IR → load → chunk → snap →
thread-pooled OSRM tiles → concat → write, fanned out by a CI job
matrix — collapses to ONE Spark job: the chunk grid is the cross
product's partitioning, the thread pool is the executor pool, the CI
matrix is the cluster. Chunk subsetting (``--chunk o0-o1_d0-d1``)
survives as an optional row-range filter so a single invocation can
still reproduce any one reference job's slice.

Usage (demo world, local):

    python -m opentimes_spark.jobs.calculate_times \
        --demo --out /tmp/public --mode car --year 2024 \
        --geography tract --state 17 --centroid-type weighted

With real inputs, pass ``--blocks`` / ``--blockpop`` parquet paths in
the FIXTURES.md schemas instead of ``--demo``.
"""

from __future__ import annotations

import argparse
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHUNK_RE = re.compile(r"^(\d+)-(\d+)_(\d+)-(\d+)$")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--mode", default="car", choices=["car", "bike", "foot"])
    p.add_argument("--year", default="2024")
    p.add_argument(
        "--geography",
        default="tract",
        choices=["state", "county", "tract", "block_group"],
    )
    p.add_argument("--state", default="17")
    p.add_argument(
        "--centroid-type", default="weighted", choices=["weighted", "unweighted"]
    )
    p.add_argument("--chunk", default=None, help="o0-o1_d0-d1 row-range slice")
    p.add_argument("--version", default="0.0.1")
    p.add_argument("--out", required=True, help="public output root")
    p.add_argument("--blocks", default=None, help="blocks parquet (geoid,lon,lat)")
    p.add_argument("--blockpop", default=None, help="population parquet")
    p.add_argument("--demo", action="store_true", help="synthesize a tiny world")
    p.add_argument("--max-split-size", type=int, default=5000)
    args = p.parse_args(argv)
    if args.chunk:
        m = CHUNK_RE.match(args.chunk)
        if not m:
            p.error(f"--chunk must match o0-o1_d0-d1, got {args.chunk!r}")
        o0, o1, d0, d1 = map(int, m.groups())
        if o1 <= o0 or d1 <= d0:
            p.error(
                f"--chunk ranges must be non-empty (o0 < o1, d0 < d1), "
                f"got {args.chunk!r}"
            )
    if args.max_split_size < 1:
        p.error(f"--max-split-size must be at least 1, got {args.max_split_size}")
    if not args.demo and not (args.blocks and args.blockpop):
        p.error("pass --demo or both --blocks and --blockpop")
    return args


def demo_world(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """The two-state synthetic world from tests/test_pipeline.py."""
    blocks, pops = [], []
    for si, state in enumerate(["17", "18"]):
        for ci in range(2):
            county = f"{ci + 1:03d}"
            for ti in range(2):
                tract = f"{ti + 1:06d}"
                for bi in range(4):
                    block = f"1{bi:03d}"
                    geoid = f"{state}{county}{tract}{block}"
                    lon = -88.0 + si * 2.0 + ci * 0.5 + ti * 0.1 + bi * 0.01
                    lat = 41.0 + ci * 0.4 + ti * 0.1 + bi * 0.01
                    blocks.append((geoid, lon, lat))
                    pops.append(
                        (state, county, tract, block, 0 if bi == 3 else 100 * (bi + 1))
                    )
    return (
        spark.createDataFrame(blocks, "geoid string, lon double, lat double"),
        spark.createDataFrame(
            pops,
            "state string, county string, tract string, block string, population int",
        ),
    )


def _slice_ids(df: DataFrame, lo: int, hi: int) -> DataFrame:
    """Row-range subset by sorted-id position (the reference's iloc chunk
    slice, utils/times.py:276-301) — a window rank, not a collect."""
    from pyspark.sql import Window

    w = Window.orderBy("geoid")
    return (
        df.withColumn("__rn", F.row_number().over(w) - 1)
        .filter((F.col("__rn") >= lo) & (F.col("__rn") < hi))
        .drop("__rn")
    )


def run(args: argparse.Namespace, spark: SparkSession | None = None) -> dict:
    from opentimes_spark.plans.pipeline import build_blockloc, build_cenloc
    from opentimes_spark.session import get_spark

    spark = spark or get_spark("calculate_times")
    if args.demo:
        blocks, blockpop = demo_world(spark)
    else:
        blocks = spark.read.parquet(args.blocks)
        blockpop = spark.read.parquet(args.blockpop)

    blockloc = build_blockloc(blocks, blockpop)
    # cenloc is dimension-sized (one row per census unit — ~84k tracts
    # nationally) but its lineage is the full block-grain PIP join; the
    # job reads it five times (center collect, destination broadcast,
    # matrix origins, the two points writes).  Cache it so the spatial
    # chain runs once.  Every cache this pass creates is released in the
    # finally, so passes in a long-lived session do not pile them up.
    cenloc = build_cenloc(blockloc, args.geography).cache()
    cached = [cenloc]
    try:
        return _publish(args, cenloc, cached)
    finally:
        for df in cached:
            df.unpersist()


def _publish(args: argparse.Namespace, cenloc: DataFrame, cached: list) -> dict:
    """Route ``args.state``'s origins to its destinations and write the
    five public datasets; frames persisted on the way go to ``cached``."""
    from pyspark.sql import Observation

    from opentimes_spark.io.write import write_sorted_partitioned
    from opentimes_spark.operators.matrix import HaversineRouter
    from opentimes_spark.plans.pipeline import (
        build_destpoint,
        compute_times,
        od_cols,
        write_public,
    )

    state_rows = cenloc.filter(F.col("geoid").startswith(args.state))
    center = state_rows.agg(
        F.avg("x_4326").alias("lon"), F.avg("y_4326").alias("lat")
    ).collect()[0]
    dest = build_destpoint(cenloc, (center["lon"], center["lat"]))
    origins, destinations = state_rows, dest
    if args.chunk:
        o0, o1, d0, d1 = map(int, CHUNK_RE.match(args.chunk).groups())
        origins = _slice_ids(origins, o0, o1)
        destinations = _slice_ids(destinations, d0, d1)

    times, missing, metadata = compute_times(
        origins,
        destinations,
        HaversineRouter,
        centroid_type=args.centroid_type,
        max_split_size=args.max_split_size,
        persisted=cached,
    )
    keys = dict(
        version=args.version, mode=args.mode, year=args.year,
        geography=args.geography, state=args.state,
        centroid_type=args.centroid_type,
    )
    # observe() folds the summary counts into the write jobs themselves —
    # no second pass over the (expensive) matrix lineage for metadata,
    # the at-scale replacement for the reference's separate count
    # queries (calculate_times.py:107-133)
    times_obs = Observation("times_metrics")
    write_public(
        times, os.path.join(args.out, "times"), observation=times_obs, **keys
    )
    # the four sibling datasets of the reference's step 8
    lon, lat = od_cols(args.centroid_type)
    # the points writes scan origins/destinations anyway — ride their
    # counts on Observations instead of re-executing the (expensive)
    # cenloc/destpoint lineages with .count(), per this file's own
    # no-second-pass rule
    missing_obs = Observation("missing_metrics")
    origin_obs = Observation("origin_metrics")
    dest_obs = Observation("dest_metrics")
    # each sibling is dimension-sized: one file.  The points and the
    # metadata read the filled cenloc cache (dimension-sized too), so a
    # narrow coalesce(1) is enough.  The missing pairs are few but read
    # the whole matrix: repartition(1) shuffles only the null-duration
    # rows and keeps the matrix scan (and any recompute of a lost cached
    # block's routing) parallel, where coalesce(1) would run it in one
    # task.
    for name, df, obs in (
        ("points/origin", origins.select(
            F.col("geoid").alias("id"), F.col(lon).alias("lon"), F.col(lat).alias("lat")
        ).coalesce(1), origin_obs),
        ("points/destination", destinations.select(
            F.col("geoid").alias("id"), F.col(lon).alias("lon"), F.col(lat).alias("lat")
        ).coalesce(1), dest_obs),
        ("missing_pairs", missing.repartition(1), missing_obs),
        ("metadata", metadata.coalesce(1), None),
    ):
        write_sorted_partitioned(df, os.path.join(args.out, name), observation=obs)
    return {
        "n_times": times_obs.get["n"],
        "n_missing": missing_obs.get["n"],
        "n_origins": origin_obs.get["n"],
        "n_destinations": dest_obs.get["n"],
        "out": args.out,
    }


def main(argv: list[str] | None = None) -> int:
    summary = run(parse_args(argv))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""OD travel-time matrix operator (SURVEY.md X3) — the one genuinely
custom operator in the engine.

Reference semantics (opentimes, re-expressed — no code ported):
- ``many_to_many`` tiles the origins × destinations cross product into
  bounded requests to a routing service (data/src/utils/times.py:588-642,
  max request size data/params.yaml:45-47).
- On a service error the tile is recursively quartered (binary search over
  both axes) to isolate unroutable regions, depth-capped; isolated
  failures become NULL-duration rows (times.py:485-586, depth cap
  params.yaml:50-56; "No path could be found" short-circuit :571-573).
- A single origin that equals the single destination short-circuits to
  duration 0 without a service call (times.py:414-432).
- NULL rows are split into the ``missing_pairs`` table afterwards
  (calculate_times.py:71-79).

Spark architecture: origins are the distributed axis — each Spark task
processes one origin chunk via ``mapInPandas``; destinations (per-state
dimension-sized, like the reference's destpoint file) ride along via
broadcast. The reference's CI matrix × thread pool collapses into Spark
tasks; its chunk files become partitions. Routing is pluggable via a
serializable factory so executors construct their own client (HTTP
session per partition for a real OSRM sidecar; a pure-math mock here).
At 1000 executors this is embarrassingly parallel: no shuffle at all
until the sorted write.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

TIMES_SCHEMA = StructType(
    [
        StructField("origin_id", StringType(), False),
        StructField("destination_id", StringType(), False),
        StructField("duration_sec", DoubleType(), True),
    ]
)


class RoutingError(Exception):
    """Raised by a router when a table request fails."""


class HaversineRouter:
    """Deterministic mock routing service: duration = great-circle
    distance / speed. Stands in for the OSRM ``/table`` endpoint
    (reference endpoint usage: utils/times.py:456-472) in tests and
    benchmarks. ``fail_pairs`` injects failures to exercise the
    fault-isolation recursion: any request whose O×D tile contains a
    poisoned pair raises, mimicking an unroutable region."""

    def __init__(self, speed_kmh: float = 60.0, fail_pairs: set[tuple[str, str]] | None = None):
        self.speed_kmh = speed_kmh
        self.fail_pairs = fail_pairs or set()

    def table(
        self,
        o_ids: np.ndarray,
        o_lon: np.ndarray,
        o_lat: np.ndarray,
        d_ids: np.ndarray,
        d_lon: np.ndarray,
        d_lat: np.ndarray,
    ) -> np.ndarray:
        if self.fail_pairs:
            o_set = set(o_ids.tolist())
            for a, b in self.fail_pairs:
                if a in o_set and b in set(d_ids.tolist()):
                    raise RoutingError(f"unroutable region around ({a}, {b})")
        r = 6371.0088
        la1 = np.radians(o_lat)[:, None]
        la2 = np.radians(d_lat)[None, :]
        dla = la2 - la1
        dlo = np.radians(d_lon)[None, :] - np.radians(o_lon)[:, None]
        h = np.sin(dla / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlo / 2) ** 2
        km = 2 * r * np.arcsin(np.sqrt(h))
        return km / self.speed_kmh * 3600.0


def _route_tile(
    router,
    o: pd.DataFrame,
    d: pd.DataFrame,
    max_split_size: int,
    depth: int,
    max_depth: int,
    out: list[pd.DataFrame],
) -> None:
    """Route one O×D tile, splitting on failure (quartering, depth-capped).
    Appends (origin_id, destination_id, duration_sec) frames to ``out``;
    failures that can't be isolated further emit NULL durations — the
    complement contract the missing_pairs split depends on."""
    n_o, n_d = len(o), len(d)
    if n_o == 0 or n_d == 0:
        return
    # degenerate single self-pair: zero without a service call
    if n_o == 1 and n_d == 1 and o["id"].iloc[0] == d["id"].iloc[0]:
        out.append(
            pd.DataFrame(
                {
                    "origin_id": o["id"].values,
                    "destination_id": d["id"].values,
                    "duration_sec": [0.0],
                }
            )
        )
        return
    # bounded request size: tile before calling the service
    if n_o > max_split_size or n_d > max_split_size:
        for i in range(0, n_o, max_split_size):
            for j in range(0, n_d, max_split_size):
                _route_tile(
                    router,
                    o.iloc[i : i + max_split_size],
                    d.iloc[j : j + max_split_size],
                    max_split_size,
                    depth,
                    max_depth,
                    out,
                )
        return
    try:
        durations = router.table(
            o["id"].to_numpy(),
            o["lon"].to_numpy(),
            o["lat"].to_numpy(),
            d["id"].to_numpy(),
            d["lon"].to_numpy(),
            d["lat"].to_numpy(),
        )
        out.append(
            pd.DataFrame(
                {
                    "origin_id": np.repeat(o["id"].to_numpy(), n_d),
                    "destination_id": np.tile(d["id"].to_numpy(), n_o),
                    "duration_sec": durations.astype(np.float64).ravel(),
                }
            )
        )
    except RoutingError:
        if depth >= max_depth or (n_o == 1 and n_d == 1):
            # emit the full NULL complement for this tile
            out.append(
                pd.DataFrame(
                    {
                        "origin_id": np.repeat(o["id"].to_numpy(), n_d),
                        "destination_id": np.tile(d["id"].to_numpy(), n_o),
                        "duration_sec": np.full(n_o * n_d, np.nan),
                    }
                )
            )
            return
        # quarter the tile (binary search over both axes)
        mo, md = max(n_o // 2, 1), max(n_d // 2, 1)
        for oo in (o.iloc[:mo], o.iloc[mo:]):
            for dd in (d.iloc[:md], d.iloc[md:]):
                _route_tile(router, oo, dd, max_split_size, depth + 1, max_depth, out)


def travel_time_matrix(
    origins: DataFrame,
    destinations: DataFrame,
    router_factory: Callable[[], object],
    max_split_size: int = 5000,
    max_recursion_depth: int = 5,
    num_chunks: int | None = None,
    max_broadcast_destinations: int = 200_000,
) -> DataFrame:
    """Compute the OD matrix as a DataFrame (origin_id, destination_id,
    duration_sec nullable).

    origins/destinations schema: (id string, lon double, lat double).
    ``router_factory`` is constructed once per task — connection state
    (HTTP session for a real service) lives executor-side.

    Scale shape: origins are repartitioned into ``num_chunks`` tasks
    (sorted ranges → deterministic chunking, mirroring W1); destinations
    are collected and broadcast (per-state destination sets are
    dimension-sized — the reference ships them as one file per state).

    ``max_broadcast_destinations`` guards the driver collect: the
    destination frame must be dimension-sized to ride a broadcast, and
    a caller accidentally passing a national-scale set would otherwise
    OOM the driver silently. The guard and the collect are ONE bounded
    action — ``orderBy(id).limit(cap+1)`` plans as TakeOrdered, so at
    most cap+1 rows ever reach the driver; one extra row means the cap
    was exceeded."""
    from opentimes_spark.session import ship_package

    # _route_tile tiles with range(0, n, max_split_size): 0 fails in a
    # worker and a negative step silently routes no pair.
    if max_split_size < 1:
        raise ValueError(f"max_split_size must be at least 1, got {max_split_size}")
    spark = origins.sparkSession
    ship_package(spark)
    # A point with a NULL id or NULL coordinate is malformed, not
    # unroutable: it is excluded up front (the NULL-duration complement
    # contract covers ROUTING failures only), and the output schema's
    # non-nullable id fields stay honest.
    _well_formed = (
        F.col("id").isNotNull()
        & F.col("lon").isNotNull()
        & F.col("lat").isNotNull()
    )
    o = origins.select(
        F.col("id").cast("string"), F.col("lon").cast("double"), F.col("lat").cast("double")
    ).filter(_well_formed)
    d_local = (
        destinations.select(
            F.col("id").cast("string"),
            F.col("lon").cast("double"),
            F.col("lat").cast("double"),
        )
        .filter(_well_formed)
        .orderBy("id")
        .limit(max_broadcast_destinations + 1)
        .toPandas()
    )
    if len(d_local) > max_broadcast_destinations:
        raise ValueError(
            f"destinations exceed max_broadcast_destinations="
            f"{max_broadcast_destinations}; the destination side is collected "
            "to the driver and broadcast, so it must stay dimension-sized. "
            "Partition the computation (e.g. one travel_time_matrix call per "
            "state, as the reference's per-state destpoint files do) or "
            "raise the cap explicitly if the driver has the memory."
        )
    bc_dest = spark.sparkContext.broadcast(d_local)

    if num_chunks:
        o = o.repartitionByRange(num_chunks, "id")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        router = router_factory()
        dests = bc_dest.value
        for batch in batches:
            batch = batch.sort_values("id")
            out: list[pd.DataFrame] = []
            _route_tile(
                router, batch, dests, max_split_size, 0, max_recursion_depth, out
            )
            if out:
                yield pd.concat(out, ignore_index=True)

    return o.mapInPandas(compute, TIMES_SCHEMA)


def split_times_missing(matrix: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the matrix into (times, missing_pairs) — the reference keeps
    NULL-duration pairs in a separate table for compression
    (README.md:285-290, calculate_times.py:71-79)."""
    times = matrix.filter(F.col("duration_sec").isNotNull())
    missing = matrix.filter(F.col("duration_sec").isNull()).select(
        "origin_id", "destination_id"
    )
    return times, missing

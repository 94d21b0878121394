"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``seed`` and the size arguments, so
the same seed always gives the same bytes.  Sizes stay fixed across
seeds (only values move), which keeps run-to-run timings comparable.
Files are written with pyarrow — no Spark job runs here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STATES = ("17", "18")


def _county_corner(state_index: int, county_index: int) -> tuple[float, float]:
    """South-west corner (lon, lat) of a county: four counties to a row,
    0.25° apart, the second state 1.2° east of the first."""
    return -88.5 + state_index * 1.2 + (county_index % 4) * 0.25, 40.6 + (county_index // 4) * 0.25


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def census_world(
    seed: int, out_dir: str, counties: int, tracts: int, blocks: int
) -> dict[str, str]:
    """Two adjacent states of ``counties × tracts × blocks`` blocks each.

    Every tract of both states lies within ~200 km of state 17's centre,
    so the 300 km destination buffer keeps all of them: the OD matrix is
    exactly ``counties·tracts × 2·counties·tracts`` pairs at every seed.
    About one block in ten has zero population, and a few tracts are
    entirely unpopulated, which exercises the weighted-mean fallback."""
    rng = np.random.default_rng(seed)
    geoid, lon, lat = [], [], []
    pop_cols: dict[str, list] = {k: [] for k in ("state", "county", "tract", "block", "population")}
    for si, state in enumerate(STATES):
        for ci in range(counties):
            cx, cy = _county_corner(si, ci)
            for ti in range(tracts):
                tx = cx + rng.uniform(0.0, 0.2)
                ty = cy + rng.uniform(0.0, 0.2)
                empty_tract = rng.random() < 0.03
                for bi in range(blocks):
                    county, tract, block = f"{ci + 1:03d}", f"{ti + 1:06d}", f"1{bi:03d}"
                    geoid.append(f"{state}{county}{tract}{block}")
                    lon.append(tx + rng.uniform(0.0, 0.01))
                    lat.append(ty + rng.uniform(0.0, 0.01))
                    pop = 0 if empty_tract or rng.random() < 0.1 else int(rng.integers(1, 5000))
                    for k, v in zip(pop_cols, (state, county, tract, block, pop)):
                        pop_cols[k].append(v)
    blocks_tbl = pa.table({"geoid": geoid, "lon": lon, "lat": lat})
    pop_tbl = pa.table(
        {k: pa.array(v, pa.int32() if k == "population" else pa.string()) for k, v in pop_cols.items()}
    )
    return {
        "blocks": _write(blocks_tbl, os.path.join(out_dir, "blocks.parquet")),
        "blockpop": _write(pop_tbl, os.path.join(out_dir, "blockpop.parquet")),
    }


def tract_points(seed: int, counties: int, tracts: int) -> dict[str, list]:
    """Tract centroids of two adjacent states, as columns of the
    pipeline's cenloc schema that ``compute_times`` reads (geoid and the
    weighted EPSG:4326 centroid), laid out like ``census_world``."""
    rng = np.random.default_rng(seed)
    cols: dict[str, list] = {"geoid": [], "x_4326_wt": [], "y_4326_wt": []}
    for si, state in enumerate(STATES):
        for ci in range(counties):
            cx, cy = _county_corner(si, ci)
            for ti in range(tracts):
                cols["geoid"].append(f"{state}{ci + 1:03d}{ti + 1:06d}")
                cols["x_4326_wt"].append(cx + rng.uniform(0.0, 0.21))
                cols["y_4326_wt"].append(cy + rng.uniform(0.0, 0.21))
    return cols


def tract_centroids(world: dict[str, str]) -> dict[str, list]:
    """Population-weighted tract centroids of a ``census_world``,
    computed with pandas from its files: what the producer's cenloc
    stage must reach (the plain mean where a tract has no population),
    in the same columns as ``tract_points``."""
    blocks = pq.read_table(world["blocks"]).to_pandas()
    pop = pq.read_table(world["blockpop"]).to_pandas()
    weight = dict(zip(pop["state"] + pop["county"] + pop["tract"] + pop["block"], pop["population"]))
    w = blocks["geoid"].map(weight).fillna(0).astype(float)
    df = pd.DataFrame(
        {"geoid": blocks["geoid"].str[:11], "w": w, "wx": blocks["lon"] * w, "wy": blocks["lat"] * w,
         "x": blocks["lon"], "y": blocks["lat"]}
    )
    g = df.groupby("geoid").sum()
    n = df.groupby("geoid").size()
    empty = g["w"] == 0
    x = np.where(empty, g["x"] / n, g["wx"] / g["w"].where(~empty, 1.0))
    y = np.where(empty, g["y"] / n, g["wy"] / g["w"].where(~empty, 1.0))
    return {"geoid": g.index.tolist(), "x_4326_wt": x.tolist(), "y_4326_wt": y.tolist()}

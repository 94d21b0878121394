"""The opentimes ETL pipeline, Spark-first (SURVEY.md §3.1 / §7).

Reference lifecycle (opentimes): fetch → blockloc → cenloc → destpoint →
calculate_times → public files, orchestrated by DVC + a GitHub Actions
job matrix (data/dvc.yaml:3-151, .github/workflows/calculate-times.yaml).
Here each stage is a DataFrame → DataFrame function; the whole ladder is
one Spark job graph with parquet checkpoints at the same boundaries.

Stage parity map:
- build_blockloc  ⇝ create_blockloc.py (join blocks ← population on the
  composite key, project coords in both CRS; invariants :90-93)
- build_cenloc    ⇝ create_cenloc.py (population-weighted + unweighted
  centroids per parent geography via GEOID prefix; spatial year-bridge
  join :87-91 is spatial_join_contains)
- build_destpoint ⇝ create_destpoint.py (destinations within the
  buffered state)
- compute_times   ⇝ calculate_times.py (X3 matrix + times/missing split
  + metadata)
- write_public    ⇝ create_public_files.py (partitioned, range-sorted,
  size-capped layout)
- point_lookup    ⇝ the browser consume path (README.md:88-98,
  site/assets/js/map.js:593-614, 702-724; SURVEY.md §3.3): each leaf
  file's footer parsed once and cached, row groups kept by their
  origin_id min/max, read with pyarrow, the key matched on the ids'
  dictionary codes, no Spark job
"""

from __future__ import annotations

import os
import re
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from opentimes_spark.functions.geoid import split_geoid
from opentimes_spark.io.write import footer_ranges, write_sorted_partitioned
from opentimes_spark.operators.matrix import split_times_missing, travel_time_matrix
from opentimes_spark.operators.spatial import project_points
from opentimes_spark.operators.weighted_mean import weighted_centroids

PARTITION_KEYS = ["version", "mode", "year", "geography", "state", "centroid_type"]
LOOKUP_SCHEMA = StructType(
    [
        StructField("origin_id", StringType()),
        StructField("destination_id", StringType()),
        StructField("duration_sec", DoubleType()),
    ]
)
_IDS = ["origin_id", "destination_id"]
_ARROW_SCHEMA = pa.schema(
    [
        ("origin_id", pa.string()),
        ("destination_id", pa.string()),
        ("duration_sec", pa.float64()),
    ]
)


def build_blockloc(
    blocks: DataFrame, blockpop: DataFrame, check: bool = True
) -> DataFrame:
    """blocks (geoid, lon, lat) ⟕ blockpop (state,county,tract,block,
    population) on the composite key decomposed from the block GEOID;
    appends EPSG:5071 projected coords. Missing population → 0 (the
    reference left-joins then asserts no nulls; zero-pop blocks are real
    and must survive for the weighted-mean fallback).

    The join key includes ``state`` (reference create_blockloc.py:85
    re-adds the state partition key before joining): county/tract/block
    codes recur in every state, so a three-key join against multi-state
    population input would fan out rows and assign wrong populations.
    ``blockpop`` must therefore carry a ``state`` column — it is the
    Hive partition key of the fetched layout (year=YYYY/state=SS), so a
    partitioned read supplies it for free.

    ``check=True`` replays the reference's row-count-preservation
    assertion (create_blockloc.py:90-93), but on the DIMENSION side:
    a left join preserves the left row count iff the right side has no
    duplicate join keys, so asserting blockpop key-uniqueness gives the
    same guarantee for the cost of one job over the broadcast-sized
    side — no extra scan of ``blocks`` or re-execution of the join
    lineage (at 100 TB, a count + full-join replay would double the
    stage). Disable for pre-validated inputs.
    """
    if "state" not in blockpop.columns:
        raise ValueError(
            "blockpop must include a 'state' column (the Hive partition key "
            "of the fetched layout); joining without it fans out rows when "
            "county/tract/block codes recur across states"
        )
    if check:
        dup = (
            blockpop.groupBy("state", "county", "tract", "block")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            d = dup[0]
            raise ValueError(
                "blockpop has duplicate (state,county,tract,block) keys "
                f"(e.g. {d['state']}/{d['county']}/{d['tract']}/{d['block']}); "
                "the left join would fan out block rows"
            )
    parts = split_geoid(F.col("geoid"))
    located = blocks.select(
        "geoid",
        parts["state"].alias("state"),
        parts["county"].alias("county"),
        parts["tract"].alias("tract"),
        parts["block_group"].alias("block_group"),
        parts["block"].alias("block"),
        F.col("lon").alias("x_4326"),
        F.col("lat").alias("y_4326"),
    )
    # No forced broadcast: blockpop is block-granularity (the fact
    # table's full key domain — ~8.2M rows nationally), so the hint is
    # only safe for the per-state inputs the reference fetches.  The
    # 10 MB auto-broadcast threshold still broadcasts per-state inputs;
    # a national population table shuffles safely instead of OOMing the
    # driver.
    joined = located.join(
        blockpop,
        on=["state", "county", "tract", "block"],
        how="left",
    ).withColumn("population", F.coalesce(F.col("population"), F.lit(0)).cast("int"))
    return project_points(
        joined, lon_col="x_4326", lat_col="y_4326", x_col="x_5071", y_col="y_5071"
    )


def expect(
    df: DataFrame,
    n_rows: int | None = None,
    no_null_cols: list[str] | None = None,
    min_nonzero_frac: tuple[str, float] | None = None,
    min_nonnull_frac: tuple[str, float] | None = None,
) -> DataFrame:
    """First-class invariant checks (reference inline assertions,
    create_cenloc.py:139-142 / create_blockloc.py:90-93): row-count
    preservation and no-null columns, plus join hit-rate guards —
    ``min_nonzero_frac=(col, frac)`` for coalesced-to-0 misses,
    ``min_nonnull_frac=(col, frac)`` for NULL-extended misses; a left
    join whose right side missed everything degrades silently without
    them. Raises on violation.

    All requested checks run in ONE aggregation job (one pass over the
    data) — at 100 TB, three separate count actions over the same
    lineage would triple the scan."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    if no_null_cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}")
            for c in no_null_cols
        ]
    if min_nonzero_frac:
        aggs.append(
            F.count(F.when(F.col(min_nonzero_frac[0]) != 0, 1)).alias("__nz")
        )
    if min_nonnull_frac:
        aggs.append(F.count(F.col(min_nonnull_frac[0])).alias("__nn"))
    stats = df.agg(*aggs).collect()[0]
    if n_rows is not None and stats["__n"] != n_rows:
        raise AssertionError(f"expected {n_rows} rows, got {stats['__n']}")
    if no_null_cols:
        bad = {
            c: stats[f"__nulls_{c}"]
            for c in no_null_cols
            if stats[f"__nulls_{c}"] > 0
        }
        if bad:
            raise AssertionError(f"null values present: {bad}")
    for spec, key, kind in (
        (min_nonzero_frac, "__nz", "non-zero"),
        (min_nonnull_frac, "__nn", "non-null"),
    ):
        if spec:
            col, frac = spec
            got = stats[key] / stats["__n"] if stats["__n"] else 0.0
            if got < frac:
                raise AssertionError(
                    f"join hit-rate check failed: only {got:.3f} of '{col}' "
                    f"{kind} (expected >= {frac}) — did a join key mismatch?"
                )
    return df


def expect_observed(
    df: DataFrame,
    no_null_cols: list[str] | None = None,
    min_nonnull_frac: tuple[str, float] | None = None,
):
    """Zero-extra-pass variant of ``expect``: attaches the invariant
    aggregates as `Observation` metrics, collected as a side effect of
    the CALLER'S action — no separate aggregation job at all. At 100 TB
    even ``expect``'s single extra pass re-scans the lineage once;
    observed metrics ride the real write/collect for free (the
    accumulator pattern, exactly-once per task via Spark's
    `CollectMetrics`).

    Returns ``(df, check)`` — run an action on ``df``, then call
    ``check()`` to assert and get the metrics dict. ``check`` blocks
    until the metrics arrive and raises AssertionError on violation.
    """
    from pyspark.sql import Observation

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in no_null_cols or []:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"))
    if min_nonnull_frac:
        aggs.append(F.count(F.col(min_nonnull_frac[0])).alias("__nn"))
    observed = df.observe(obs, *aggs)

    def check() -> dict:
        stats = obs.get
        bad = {
            c: stats[f"__nulls_{c}"]
            for c in no_null_cols or []
            if stats[f"__nulls_{c}"] > 0
        }
        if bad:
            raise AssertionError(f"null values present: {bad}")
        if min_nonnull_frac:
            col, frac = min_nonnull_frac
            got = stats["__nn"] / stats["__n"] if stats["__n"] else 0.0
            if got < frac:
                raise AssertionError(
                    f"join hit-rate check failed: only {got:.3f} of '{col}' "
                    f"non-null (expected >= {frac})"
                )
        return stats

    return observed, check


def build_cenloc(blockloc: DataFrame, geography: str) -> DataFrame:
    """Per-geography weighted + unweighted centroids from block locations
    (reference create_cenloc.py: weighted mean over blocks grouped by the
    parent GEOID prefix). ``geography`` ∈ {county, tract, block_group}."""
    prefix_len = {"state": 2, "county": 5, "tract": 11, "block_group": 12}[geography]
    parent = blockloc.withColumn("parent_geoid", F.substring("geoid", 1, prefix_len))
    cent = weighted_centroids(
        parent,
        "parent_geoid",
        ["x_4326", "y_4326", "x_5071", "y_5071"],
        "population",
    )
    return cent.withColumnRenamed("parent_geoid", "geoid").select(
        "geoid",
        "x_4326",
        "y_4326",
        "x_4326_wt",
        "y_4326_wt",
        "x_5071",
        "y_5071",
        "x_5071_wt",
        "y_5071_wt",
    )


def build_destpoint(
    cenloc_all_states: DataFrame,
    state_center: tuple[float, float] | None = None,
    buffer_m: float = 300_000.0,
    state_ring_5071: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Destinations = every geography whose (weighted OR unweighted)
    centroid falls within the buffered state (reference
    create_destpoint.py:57-75: two match sets, union, semi-join —
    BOTH centroid kinds always participate, per the reference; a
    former ``centroid_type`` parameter implied a selection that never
    existed and was removed).

    Two buffer forms:
    - ``state_ring_5071``: the reference's actual semantics — the state
      POLYGON (EPSG:5071 planar meters, concave-safe) dilated by
      ``buffer_m``, centroids tested against the dilation predicate
      (create_destpoint.py:57-59 buffers the shapely polygon in 5071).
    - ``state_center``: the simpler center+radius approximation kept
      for callers without boundary data.
    Exactly one must be provided.
    """
    from opentimes_spark.operators.spatial import (
        within_buffer_of_point,
        within_buffered_polygon,
    )

    if (state_ring_5071 is None) == (state_center is None):
        raise ValueError("pass exactly one of state_ring_5071 / state_center")
    if state_ring_5071 is not None:
        m1 = within_buffered_polygon(
            cenloc_all_states, state_ring_5071, buffer_m, "x_5071_wt", "y_5071_wt"
        ).select("geoid")
        m2 = within_buffered_polygon(
            cenloc_all_states, state_ring_5071, buffer_m, "x_5071", "y_5071"
        ).select("geoid")
    else:
        m1 = within_buffer_of_point(
            cenloc_all_states,
            state_center[0],
            state_center[1],
            buffer_m,
            "x_4326_wt",
            "y_4326_wt",
        ).select("geoid")
        m2 = within_buffer_of_point(
            cenloc_all_states,
            state_center[0],
            state_center[1],
            buffer_m,
            "x_4326",
            "y_4326",
        ).select("geoid")
    matches = m1.union(m2).distinct()
    return cenloc_all_states.join(matches, "geoid", "left_semi")


def build_osmclip(
    state_ring_4326: list[tuple[float, float]],
    buffer_m: float = 0.0,
    bbox_4326: tuple[float, float, float, float] = (-177.0, -32.0, -16.0, 70.0),
    arc_steps: int = 16,
    densify_step_deg: float = 0.05,
):
    """osmclip stage (reference create_osmclip.py:41-58): state boundary
    → EPSG:5071 → optional buffer → clip to the CONUS dateline-guard
    bbox → back to EPSG:4326, as a ring ready for the GeoJSON sink
    (io/external.py write_geojson_polygon).

    Driver-side by design — one boundary ring per state is KBs, exactly
    like the reference's per-state geopandas pass; the cluster-side
    consumers of the result are the buffered-containment operators.
    Deviation noted: the reference projects the guard bbox to 5071 and
    intersects there; we clip in 4326 where the box is axis-aligned
    (Sutherland–Hodgman) — same guard semantics without tracing the
    projected box's curved edges."""
    import numpy as np

    from opentimes_spark.functions.geometry import (
        buffer_ring,
        clip_ring_bbox,
        project_5071,
        unproject_5071,
    )

    ring = np.asarray(state_ring_4326, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    # densify in 4326 so straight edges stay straight through the
    # projection (the reference's shapefile rings arrive pre-densified)
    dense: list[tuple[float, float]] = []
    n = len(ring)
    for i in range(n):
        a, b = ring[i], ring[(i + 1) % n]
        steps = max(1, int(np.ceil(max(abs(b[0] - a[0]), abs(b[1] - a[1])) / densify_step_deg)))
        for k in range(steps):
            t = k / steps
            dense.append((a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))
    arr = np.asarray(dense, dtype=np.float64)
    x, y = project_5071(arr[:, 0], arr[:, 1])
    ring_5071 = np.column_stack([x, y])
    if buffer_m > 0:
        ring_5071 = buffer_ring(ring_5071, buffer_m, arc_steps=arc_steps)
    lon, lat = unproject_5071(ring_5071[:, 0], ring_5071[:, 1])
    out = clip_ring_bbox(np.column_stack([lon, lat]), bbox_4326)
    return out


def od_cols(centroid_type: str) -> tuple[str, str]:
    """(lon, lat) column pair for a centroid type — the single source
    of the OD_COLS mapping (reference utils/times.py:310-313), shared
    by compute_times and the jobs' point exports so the two cannot
    drift apart."""
    if centroid_type not in ("weighted", "unweighted"):
        raise ValueError(f"unknown centroid_type: {centroid_type!r}")
    return (
        ("x_4326_wt", "y_4326_wt")
        if centroid_type == "weighted"
        else ("x_4326", "y_4326")
    )


def compute_times(
    origins_cenloc: DataFrame,
    destinations: DataFrame,
    router_factory,
    centroid_type: str = "weighted",
    max_split_size: int = 5000,
    num_chunks: int | None = None,
    persisted: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """X3 over centroid points → (times, missing_pairs, metadata).
    Column choice by centroid type mirrors OD_COLS (utils/times.py:310-313).

    The routed matrix is persisted, so the range-sampling job of the
    sorted write, the ``times`` write and the ``missing_pairs`` write
    all read one routed copy: each OD cell goes to the router once.
    ``persist`` rather than ``localCheckpoint``: a lost cached block is
    recomputed from the lineage, a lost local checkpoint fails the job.
    The persisted frame is appended to ``persisted`` so the caller can
    ``unpersist`` it once the writes are done."""
    lon, lat = od_cols(centroid_type)
    o = origins_cenloc.select(
        F.col("geoid").alias("id"), F.col(lon).alias("lon"), F.col(lat).alias("lat")
    )
    d = destinations.select(
        F.col("geoid").alias("id"), F.col(lon).alias("lon"), F.col(lat).alias("lat")
    )
    matrix = travel_time_matrix(
        o, d, router_factory, max_split_size=max_split_size, num_chunks=num_chunks
    ).persist()
    if persisted is not None:
        persisted.append(matrix)
    times, missing = split_times_missing(matrix)
    # Metadata stays LAZY: eager o.count()/d.count() here would each
    # re-execute the full blockloc→cenloc lineage (a Python-worker PIP
    # join) before the caller has even asked for the matrix — two extra
    # end-to-end passes that at national scale re-read the whole block
    # set.  A crossJoin of two 1-row aggregates carries the same counts
    # and only runs if/when the caller materializes the metadata frame.
    metadata = (
        o.agg(F.count(F.lit(1)).alias("calc_n_origins"))
        .crossJoin(d.agg(F.count(F.lit(1)).alias("calc_n_destinations")))
        .select(
            F.lit(uuid.uuid4().hex[:8]).alias("run_id"),
            F.col("calc_n_origins"),
            F.col("calc_n_destinations"),
        )
    )
    return times, missing, metadata


def write_public(
    times: DataFrame,
    out_dir: str,
    version: str = "0.0.1",
    mode: str = "car",
    year: str = "2024",
    geography: str = "tract",
    state: str = "17",
    centroid_type: str = "weighted",
    max_records_per_file: int | None = None,
    observation=None,
) -> None:
    """Partitioned public write with the T4 sorted layout: Hive keys as
    STRINGS (reference hive_types_autocast=false) + range-sorted
    (origin_id, destination_id) for tight row-group stats.  The overwrite
    is dynamic: it replaces only the partition it writes, so publishing
    one state (or mode, year, ...) keeps every other one under
    ``out_dir``."""
    tagged = (
        times.withColumn("version", F.lit(version))
        .withColumn("mode", F.lit(mode))
        .withColumn("year", F.lit(year))
        .withColumn("geography", F.lit(geography))
        .withColumn("state", F.lit(state))
        .withColumn("centroid_type", F.lit(centroid_type))
    )
    # zone maps cover origin_id (the sort key).  No destination_id
    # bloom filter: parquet-mr writes none for a column chunk that stays
    # dictionary-encoded throughout, as destination_id's does while a
    # state's destinations fit one dictionary page, and in a full OD
    # matrix every row group holds every destination, so it could drop
    # none of them
    write_sorted_partitioned(
        tagged,
        out_dir,
        partition_by=PARTITION_KEYS,
        order_by=["origin_id", "destination_id"],
        max_records_per_file=max_records_per_file,
        observation=observation,
    )


# Characters Spark escapes in a partition directory name
# (ExternalCatalogUtils.charToEscape).  A value holding one is not
# written as ``key=value``, so its leaf cannot be resolved from the keys.
_ESCAPED = re.compile(r'[\x00-\x1f"#%\'*/:=?\\\x7f{\[\]^]')

# leaf directory -> (its data-file listing, [(file, footer, origin_id
# (min, max) per row group)]).  One entry per leaf looked up, a few KB
# of footers each; an entry whose leaf is gone is dropped.
_FOOTERS: dict[str, tuple[list, list]] = {}


def _leaf(public_dir: str, keys: dict[str, str]) -> str:
    """The Hive leaf directory of one published partition, resolved
    from its six keys without listing the root."""
    url = urlparse(public_dir)
    if url.scheme not in ("", "file"):
        raise ValueError(
            f"point lookups read a local path, not {public_dir!r}; read a "
            f"{url.scheme}:// root with spark.read.parquet"
        )
    root = url.path if url.scheme else public_dir
    if not os.path.isdir(root):
        raise FileNotFoundError(f"no published times at {public_dir!r}")
    for k, v in keys.items():
        if _ESCAPED.search(str(v)):
            raise ValueError(
                f"partition value {k}={v!r} holds a character Spark escapes "
                "in partition paths"
            )
    return os.path.join(root, *(f"{k}={keys[k]}" for k in PARTITION_KEYS))


def _footers(leaf: str) -> list[tuple[str, object, list | None]]:
    """``(file, footer, origin_id ranges)`` of each data file in ``leaf``
    (``io.write.footer_ranges``), cached per leaf.  The entry is kept
    only while the leaf lists the same ``(name, size, mtime_ns)`` for
    its files, so a republish is read afresh and never served stale."""
    try:
        entries = os.scandir(leaf)
    except FileNotFoundError:
        _FOOTERS.pop(leaf, None)
        return []
    with entries:
        listing = sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in entries
            if e.name.endswith(".parquet") and not e.name.startswith(("_", "."))
        )
    cached = _FOOTERS.get(leaf)
    if cached is None or cached[0] != listing:
        files = []
        for name, _, _ in listing:
            path = os.path.join(leaf, name)
            files.append((path, *footer_ranges(path, "origin_id")))
        cached = _FOOTERS[leaf] = (listing, files)
    return cached[1]


def lookup_row_groups(
    public_dir: str, column: str, key: str, keys: dict[str, str]
) -> list[tuple[str, object, list[int]]]:
    """``(file, footer, row-group indices)`` that a lookup of ``column`` =
    ``key`` in the partition ``keys`` reads.  An origin keeps the row
    groups whose origin_id min/max covers it (a row group without
    statistics is kept); a destination, whose values span every row
    group of an origin-sorted file, keeps all of them."""
    picked = []
    for path, meta, ranges in _footers(_leaf(public_dir, keys)):
        if column == "origin_id":
            rgs = [
                i
                for i, r in enumerate(ranges or [])
                if r is None or r[0] <= key <= r[1]
            ]
        else:
            rgs = list(range(meta.num_row_groups))
        if rgs:
            picked.append((path, meta, rgs))
    return picked


def _lookup(
    spark, public_dir: str, column: str, key: str, keys: dict[str, str]
) -> DataFrame:
    """The rows of one partition whose ``column`` equals ``key``, read
    with pyarrow from the row groups ``lookup_row_groups`` picks, matched
    on the ids' Parquet dictionary codes and handed to Spark as a local
    relation: collecting it runs no job."""
    tables = []
    for path, meta, rgs in lookup_row_groups(public_dir, column, key, keys):
        # the ids come back dictionary-encoded whatever their pages'
        # encoding (pyarrow encodes plain and fallback pages on read)
        with pq.ParquetFile(path, metadata=meta, read_dictionary=_IDS) as pf:
            tables.append(pf.read_row_groups(rgs, columns=LOOKUP_SCHEMA.names))
    if not tables:
        return spark.createDataFrame([], LOOKUP_SCHEMA)
    table = pa.concat_tables(tables)
    # match the key against each chunk's own dictionary and keep the
    # rows carrying a matching code: only the kept rows' ids are decoded
    keep = [
        pc.is_in(ids.indices, pc.indices_nonzero(pc.equal(ids.dictionary, key)))
        for ids in table[column].chunks
    ]
    table = table.filter(pa.chunked_array(keep, pa.bool_())).cast(_ARROW_SCHEMA)
    # createDataFrame(pa.Table) drops every record batch after an empty
    # one (PySpark 4.1.2), and the filter leaves an empty batch for each
    # kept row group without the key: hand it one batch
    return spark.createDataFrame(table.combine_chunks(), schema=LOOKUP_SCHEMA)


def point_lookup(
    spark,
    public_dir: str,
    origin_id: str,
    version: str = "0.0.1",
    mode: str = "car",
    year: str = "2024",
    geography: str = "tract",
    state: str = "17",
    centroid_type: str = "weighted",
) -> DataFrame:
    """The consume path (§3.3): all partition keys + origin → the
    origin's rows from the row groups whose origin_id min/max covers it
    (``lookup_row_groups``), 3 columns, ``LOOKUP_SCHEMA``."""
    keys = (version, mode, year, geography, state, centroid_type)
    return _lookup(
        spark, public_dir, "origin_id", origin_id, dict(zip(PARTITION_KEYS, keys))
    )


def destination_lookup(
    spark,
    public_dir: str,
    destination_id: str,
    version: str = "0.0.1",
    mode: str = "car",
    year: str = "2024",
    geography: str = "tract",
    state: str = "17",
    centroid_type: str = "weighted",
) -> DataFrame:
    """The REVERSE consume path: all times INTO a destination.  The
    file layout is origin-sorted, so destination values span every row
    group's min/max and no row group can be skipped (the public files
    carry no bloom filter either): the lookup reads every row group of
    the partition's leaf, dictionary-encoded, matches the key against
    each chunk's dictionary and keeps only the rows carrying its code,
    so just those rows' ids are decoded to strings.  (The Z-order layout
    in functions/zorder.py is the alternative when BOTH axes need
    zone-map pruning.)"""
    keys = (version, mode, year, geography, state, centroid_type)
    return _lookup(
        spark,
        public_dir,
        "destination_id",
        destination_id,
        dict(zip(PARTITION_KEYS, keys)),
    )

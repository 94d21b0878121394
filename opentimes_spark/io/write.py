"""Layout-aware partitioned parquet sink (SURVEY.md T4/T5/T6).

The reference writes its public files single-threaded so each origin's
rows land contiguously in one row group ("sorted for efficient
compression", opentimes data/src/create_public_files.py:64-96;
order_by_columns data/src/utils/constants.py:24-27). Spark gets the same
layout guarantee *in parallel*: ``repartitionByRange`` on the leading sort
key co-locates each key's rows in one task, ``sortWithinPartitions``
orders them, and the parquet writer then emits tight, non-overlapping
row-group min/max stats — which is exactly what makes the point-lookup
path (SURVEY.md §3.3) skip row groups. At 100 TB this is the difference
between a point query touching one row group and touching every file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sorted_layout(
    df: DataFrame,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
    num_range_partitions: int | None = None,
) -> DataFrame:
    """The pre-write layout transform of ``write_sorted_partitioned``,
    exposed so plan tests can assert on the EXACT production lineage:
    one range-partitioning exchange on the non-Hive sort keys, an
    in-partition sort, and nothing else — the write path must not add
    any hash exchange above the producing plan."""
    out = df
    if order_by:
        range_cols = [c for c in order_by if not partition_by or c not in partition_by]
        if range_cols:
            if num_range_partitions:
                out = out.repartitionByRange(num_range_partitions, *range_cols)
            else:
                out = out.repartitionByRange(*range_cols)
        out = out.sortWithinPartitions(*order_by)
    return out


def write_sorted_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str = "zstd",
    num_range_partitions: int | None = None,
    observation=None,
    zstd_level: int | None = 12,
) -> None:
    """Write ``df`` Hive-partitioned, range-sorted on ``order_by``.

    - ``partition_by``: Hive partition keys (directory layout; pruning).
      The overwrite replaces only the partitions ``df`` holds rows for
      (``partitionOverwriteMode=dynamic``); the others under ``path``
      stay, so publishing one state keeps every other state's leaves.
    - ``order_by``: in-file sort keys → tight row-group zone maps.
    - ``max_records_per_file``: caps file size (reference targets ≤475 MB
      per file via FILE_SIZE_BYTES, create_public_files.py:95).
    - ``observation``: optional ``pyspark.sql.Observation`` given a
      ``count(1) AS n`` metric during the write — attached ABOVE the
      range exchange, because ``repartitionByRange`` runs a separate
      sampling job over its child and an observation below it counts
      rows twice.
    - ``zstd_level``: parquet-mr zstd level, default 12 = the
      reference's pinned compression level (data/params.yaml:156-160).
      Passed as the ``parquet.compression.codec.zstd.level`` writer
      option; effect verified by a file-size delta test
      (tests/test_io_layout.py). None → codec default (3).
    """
    from pyspark.sql import functions as F

    out = sorted_layout(df, partition_by, order_by, num_range_partitions)
    if observation is not None:
        out = out.observe(observation, F.count(F.lit(1)).alias("n"))
    writer = out.write.mode("overwrite").option("compression", compression)
    if compression == "zstd" and zstd_level is not None:
        writer = writer.option("parquet.compression.codec.zstd.level", str(zstd_level))
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.option("partitionOverwriteMode", "dynamic")
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def rename_deterministic(path: str, key_column: str, width: int = 11) -> dict[str, str]:
    """T6: rename Spark's nondeterministic ``part-<task>-<uuid>`` files to
    deterministic, content-derived names ``part-<min>-<max>.parquet``
    (zero-padded key range of the file's rows), mirroring the reference's
    FILENAME_PATTERN chunk naming (create_public_files.py:88-96). Run as
    a post-commit pass; idempotent. Returns {old: new}.

    When ``maxRecordsPerFile`` splits one hot key's rows across several
    files, those files share the same (min, max); a bare range name would
    collide and silently overwrite siblings. Colliding targets get an
    ordinal suffix ``part-<min>-<max>-<k>.parquet`` — the analogue of the
    unique chunk id in the reference's FILENAME_PATTERN."""
    import glob
    import os
    import re

    renames: dict[str, str] = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        base = os.path.basename(f)
        if not base.startswith("part-"):
            continue
        ranges = [r for r in footer_ranges(f, key_column)[1] or [] if r is not None]
        if not ranges:
            continue
        lo, hi = min(r[0] for r in ranges), max(r[1] for r in ranges)
        if isinstance(lo, bytes):
            lo, hi = lo.decode(), hi.decode()
        if not isinstance(lo, str):
            # numeric keys zero-pad to ``width`` so lexicographic file
            # listing order equals key order (string keys — GEOIDs —
            # arrive pre-padded by construction)
            lo, hi = str(lo).zfill(width), str(hi).zfill(width)
        stem = f"part-{lo}-{hi}"
        # already deterministic (with or without ordinal) → idempotent no-op
        if re.fullmatch(re.escape(stem) + r"(-\d+)?\.parquet", base):
            continue
        new = os.path.join(os.path.dirname(f), f"{stem}.parquet")
        k = 0
        while os.path.exists(new):
            k += 1
            new = os.path.join(os.path.dirname(f), f"{stem}-{k}.parquet")
        os.rename(f, new)
        renames[f] = new
    return renames


def footer_ranges(path: str, column: str):
    """``(footer, ranges)`` of one parquet file: its parsed footer and
    the (min, max) of ``column`` in each row group, None where a row
    group has no statistics.  ``ranges`` is None when the file has no
    such column.  The one footer walk behind the layout checks, the
    deterministic rename and the point-lookup index."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    names = meta.schema.names
    if column not in names:
        return meta, None
    idx = names.index(column)
    ranges = []
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(idx).statistics
        ranges.append((st.min, st.max) if st is not None and st.has_min_max else None)
    return meta, ranges


def row_group_stats(path: str, column: str) -> list[tuple[str, object, object]]:
    """Per-row-group (file, min, max) for ``column`` — layout property
    check: after a sorted write, ranges on the sort key must be tight and
    (within a file) non-overlapping. Mirrors the zone-map pruning the
    reference's browser reader performs (site/assets/js/map.js:702-724).
    """
    import glob
    import os

    files = (
        sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if os.path.isdir(path)
        else [path]
    )
    return [
        (f, *r)
        for f in files
        for r in footer_ranges(f, column)[1] or []
        if r is not None
    ]


def write_orc(
    df, path: str, partition_by: list[str] | None = None, sort_by: str | None = None
) -> None:
    """ORC sink (zlib, Spark-native) — the interchange format for Hive
    estates; mirrors write_sorted_partitioned's layout contract (sort
    within partitions for stripe-stat locality, partition dirs for
    pruning) so either format serves the same downstream scans."""
    out = df.sortWithinPartitions(sort_by) if sort_by else df
    w = out.write.mode("overwrite").option("compression", "zlib")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)

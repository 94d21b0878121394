"""T4 layout-aware writer: sorted partitioned parquet must produce
tight, non-overlapping row-group stats on the sort key (the property the
reference's point-query path depends on — opentimes
create_public_files.py:64-69, site/assets/js/map.js:702-724)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opentimes_spark.io.write import row_group_stats, write_sorted_partitioned


def test_sorted_write_rowgroup_stats(spark, tmp_path):
    n = 10_000
    df = (
        spark.range(n)
        .withColumn("origin_id", F.lpad((F.col("id") % 500).cast("string"), 11, "0"))
        .withColumn("destination_id", F.lpad(F.col("id").cast("string"), 11, "0"))
        .withColumn("duration_sec", F.col("id").cast("double") * 1.5)
        .withColumn("mode", F.when(F.col("id") % 2 == 0, "car").otherwise("foot"))
        .drop("id")
    )
    out = str(tmp_path / "times")
    write_sorted_partitioned(
        df,
        out,
        partition_by=["mode"],
        order_by=["origin_id", "destination_id"],
        num_range_partitions=4,
    )
    stats = row_group_stats(out, "origin_id")
    assert stats, "expected row-group stats"
    # within each file, row-group ranges must be non-overlapping & ordered
    by_file: dict[str, list[tuple[bytes, bytes]]] = {}
    for f, mn, mx in stats:
        by_file.setdefault(f, []).append((mn, mx))
    for f, ranges in by_file.items():
        for (amn, amx), (bmn, bmx) in zip(ranges, ranges[1:]):
            assert amx <= bmn, f"overlapping row groups in {f}"
    # partition layout exists
    assert os.path.isdir(os.path.join(out, "mode=car"))
    # round-trip row count
    assert spark.read.parquet(out).count() == n


def test_point_lookup_prunes(spark, tmp_path):
    """The §3.3 point-lookup shape: filter on the sort key must read a
    strict subset (row-group pruning works when layout is sorted)."""
    df = (
        spark.range(50_000)
        .withColumn("origin_id", F.lpad((F.col("id") % 1000).cast("string"), 11, "0"))
        .withColumn("duration_sec", F.col("id").cast("double"))
        .drop("id")
    )
    out = str(tmp_path / "flat")
    write_sorted_partitioned(df, out, order_by=["origin_id"], num_range_partitions=4)
    hit = (
        spark.read.parquet(out)
        .filter(F.col("origin_id") == "00000000042")
        .count()
    )
    assert hit == 50


def test_deterministic_rename(spark, tmp_path):
    """T6: post-write rename produces content-derived names covering
    disjoint key ranges; idempotent on re-run."""
    from pyspark.sql import functions as F2

    from opentimes_spark.io.write import rename_deterministic

    df = (
        spark.range(5_000)
        .withColumn("origin_id", F2.lpad(F2.col("id").cast("string"), 11, "0"))
        .withColumn("duration_sec", F2.col("id").cast("double"))
        .drop("id")
    )
    out = str(tmp_path / "named")
    write_sorted_partitioned(df, out, order_by=["origin_id"], num_range_partitions=4)
    renames = rename_deterministic(out, "origin_id")
    assert len(renames) == 4
    import glob
    import os
    import re

    names = sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(out, "*.parquet"))
    )
    assert all(re.fullmatch(r"part-\d{11}-\d{11}\.parquet", n) for n in names)
    # ranges in the names are disjoint and ordered
    bounds = [re.findall(r"\d{11}", n) for n in names]
    for (a_lo, a_hi), (b_lo, b_hi) in zip(bounds, bounds[1:]):
        assert a_hi < b_lo
    # idempotent
    assert rename_deterministic(out, "origin_id") == {}
    # still readable with full row count
    assert spark.read.parquet(out).count() == 5_000


def test_deterministic_rename_hot_key_no_collision(spark, tmp_path):
    """One hot key split across files by maxRecordsPerFile: every file
    shares (min, max), so range names collide — the ordinal suffix must
    keep all files (no silent overwrite) and all rows."""
    from pyspark.sql import functions as F2

    from opentimes_spark.io.write import rename_deterministic

    df = (
        spark.range(3_000)
        .withColumn("origin_id", F2.lit("00000000007"))
        .withColumn("duration_sec", F2.col("id").cast("double"))
        .drop("id")
        .coalesce(1)
    )
    out = str(tmp_path / "hot")
    write_sorted_partitioned(
        df, out, order_by=["origin_id"], max_records_per_file=1_000
    )
    import glob
    import os
    import re

    n_files = len(glob.glob(os.path.join(out, "*.parquet")))
    assert n_files >= 3
    renames = rename_deterministic(out, "origin_id")
    assert len(renames) == n_files
    names = sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(out, "*.parquet"))
    )
    assert len(names) == n_files  # nothing overwritten
    assert len(set(names)) == n_files
    pat = r"part-00000000007-00000000007(-\d+)?\.parquet"
    assert all(re.fullmatch(pat, n) for n in names)
    # idempotent on re-run, and no rows lost
    assert rename_deterministic(out, "origin_id") == {}
    assert spark.read.parquet(out).count() == 3_000


def test_read_staged_glob_provenance_and_string_keys(spark, tmp_path):
    """S3-row parity: globbed scan returns string partition keys, a
    source_file column, and the chunk id extracted from the filename."""
    import os

    from pyspark.sql import functions as F

    from opentimes_spark.io.read import read_staged_glob, read_table

    root = str(tmp_path / "staging")
    li = read_table(spark, "/root/testdata/sf0.001", "lineitem").limit(200)
    (
        li.withColumn("mode", F.lit("car"))
        .withColumn("state", (F.col("l_suppkey") % 2).cast("string"))
        .write.partitionBy("mode", "state")
        .parquet(root)
    )
    # rename data files to the reference's chunked naming
    for dirpath, _, files in os.walk(root):
        for i, f in enumerate(sorted(files)):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(dirpath, f),
                    os.path.join(dirpath, f"part-{i}_0-{i}_1.parquet"),
                )
    df = read_staged_glob(spark, root, "mode=*/state=*")
    assert dict(df.dtypes)["mode"] == "string"
    assert dict(df.dtypes)["state"] == "string"
    rows = df.select("source_file", "chunk_id", "mode", "state").collect()
    assert len(rows) == 200
    assert all(r["source_file"].endswith(".parquet") for r in rows)
    assert all(r["chunk_id"] != "" for r in rows)
    assert {r["mode"] for r in rows} == {"car"}
    # partition-key predicate prunes to one directory's rows
    assert df.filter(F.col("state") == "0").count() == li.filter(
        F.col("l_suppkey") % 2 == 0
    ).count()


def test_configure_object_store_sets_s3a_conf(spark):
    from opentimes_spark.io.read import configure_object_store

    configure_object_store(spark, "https://example.r2.cloudflarestorage.com",
                           access_key="ak", secret_key="sk")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "https://example.r2.cloudflarestorage.com"
    assert hconf.get("fs.s3a.path.style.access") == "true"


def test_compact_dir_reduces_files_preserves_data(spark, tmp_path):
    """Compaction: 16 small files → bounded count, identical rows,
    sorted layout preserved."""
    from pyspark.sql import functions as F

    from opentimes_spark.io.compact import compact_dir
    from opentimes_spark.io.read import read_table

    out = str(tmp_path / "frag")
    li = read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    li.repartition(16).write.parquet(out)
    expect = sorted(tuple(r) for r in li.collect())

    n_before, n_after = compact_dir(
        spark, out, order_by=["l_orderkey", "l_linenumber"], target_files=2
    )
    assert n_before == 16 and n_after <= 2
    back = spark.read.parquet(out)
    assert sorted(tuple(r) for r in back.select(*li.columns).collect()) == expect
    # per-file min/max on the sort key stay disjoint (zone maps survive)
    import os

    import pyarrow.parquet as pq

    ranges = []
    for fn in os.listdir(out):
        if fn.endswith(".parquet"):
            md = pq.read_metadata(os.path.join(out, fn))
            ranges.append(
                (
                    min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)),
                    max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)),
                )
            )
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_zstd_level_takes_effect(spark, tmp_path):
    """Reference parity (params.yaml zstd level 12): the writer option
    must actually reach parquet-mr — proven by a monotone size delta
    between level 1 and the default level 12."""
    import glob
    import os

    from pyspark.sql import functions as F2

    # compressible payload (zstd levels only differ on redundant data;
    # md5-like high-entropy payloads show no delta)
    df = (
        spark.range(100_000)
        .withColumn(
            "payload",
            F2.concat_ws(
                " ",
                F2.lit("lorem ipsum dolor sit amet"),
                (F2.col("id") % 100).cast("string"),
                F2.lit("consectetur adipiscing elit sed do eiusmod"),
            ),
        )
        .coalesce(1)
    )
    sizes = {}
    for name, lvl in [("l1", 1), ("l12", 12)]:
        out = str(tmp_path / name)
        write_sorted_partitioned(df, out, order_by=["id"], zstd_level=lvl)
        sizes[name] = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
        )
    assert sizes["l12"] < sizes["l1"]
    assert spark.read.parquet(str(tmp_path / "l12")).count() == 100_000


def test_compaction_crash_recovery(spark, tmp_path):
    """Interrupted-swap states are repaired before a new run: a dataset
    stranded at __precompact rolls back; stale backup and orphaned
    __compact_* temps are removed."""
    import os
    import shutil

    from opentimes_spark.io.compact import compact_dir, recover_compaction

    out = str(tmp_path / "ds")
    spark.range(100).write.parquet(out)
    n = spark.read.parquet(out).count()

    # crash between the two swap renames: path missing, backup present
    os.rename(out, out + "__precompact")
    actions = recover_compaction(out)
    assert any("rolled back" in a for a in actions)
    assert spark.read.parquet(out).count() == n

    # crash after swap but before backup cleanup + an orphaned temp
    shutil.copytree(out, out + "__precompact")
    os.makedirs(out + "__compact_deadbeef")
    n_before, n_after = compact_dir(spark, out, target_files=1)
    assert not os.path.exists(out + "__precompact")
    assert not os.path.exists(out + "__compact_deadbeef")
    assert spark.read.parquet(out).count() == n

    # a failed write cleans up its temp dir and leaves the original
    import pytest

    with pytest.raises(Exception):
        compact_dir(spark, out, order_by=["no_such_column"], target_files=1)
    leftovers = [p for p in os.listdir(tmp_path) if "__compact_" in p]
    assert leftovers == []
    assert spark.read.parquet(out).count() == n


def test_schema_drift_merge(spark, tmp_path):
    """Ingest evolution at scale: later partitions add a column; a
    mergeSchema read unions the schemas and NULL-fills old files —
    the standing pattern for 100 TB datasets whose schema grew."""
    from pyspark.sql import functions as F2

    old = spark.range(10).select(
        F2.col("id"), F2.lit("a").alias("grp")
    )
    new = spark.range(10, 20).select(
        F2.col("id"), F2.lit("b").alias("grp"), (F2.col("id") * 2).alias("extra")
    )
    root = tmp_path / "drift"
    old.write.parquet(str(root / "grp=a_files"))
    new.write.parquet(str(root / "grp=b_files"))
    df = spark.read.option("mergeSchema", "true").parquet(
        str(root / "grp=a_files"), str(root / "grp=b_files")
    )
    assert "extra" in df.columns
    assert df.count() == 20
    assert df.filter(F2.col("extra").isNull()).count() == 10
    assert df.filter(F2.col("extra") == 30).count() == 1


def test_read_evolving_merges_added_column(spark, tmp_path):
    """Two batches of one logical table, the second with a new column:
    the merged scan surfaces the union schema with NULLs for old rows,
    and the canonical projection pins order/types regardless of which
    batch a row came from."""
    from opentimes_spark.io.read import read_evolving

    root = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        root + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    ).write.parquet(root + "/batch=2")

    got = read_evolving(
        spark, root, canonical=[("id", "long"), ("name", "string"),
                                ("score", "double"), ("extra", "int")]
    )
    assert [f.name for f in got.schema] == ["id", "name", "score", "extra"]
    rows = {r.id: r for r in got.collect()}
    assert rows[1].score is None and rows[2].score == 0.5
    assert rows[1].extra is None and rows[2].extra is None


def test_read_jsonl_explicit_schema_and_corrupt_quarantine(spark, tmp_path):
    from opentimes_spark.io.read import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "ok", "ignored_extra": true}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id long, text string")
    good = {r.doc_id: r.text for r in df.filter("_corrupt_record IS NULL").collect()}
    bad = df.filter("_corrupt_record IS NOT NULL").collect()
    assert good == {1: "hello world", 2: "ok"}
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record


def test_read_csv_explicit_schema_and_corrupt_quarantine(spark, tmp_path):
    """Well-formed rows parse through the explicit schema (no inference
    pass); a row with a non-numeric id quarantines into _corrupt_record
    instead of failing the scan; quoted fields keep embedded commas."""
    from opentimes_spark.io.read import read_csv

    p = tmp_path / "feed.csv"
    p.write_text(
        "doc_id,text\n"
        '1,"hello, world"\n'
        "not_a_number,broken row\n"
        "2,ok\n"
    )
    df = read_csv(spark, str(p), "doc_id long, text string")
    good = {r.doc_id: r.text for r in df.filter("_corrupt_record IS NULL").collect()}
    bad = df.filter("_corrupt_record IS NOT NULL").collect()
    assert good == {1: "hello, world", 2: "ok"}
    assert len(bad) == 1 and "not_a_number" in bad[0]._corrupt_record


def test_orc_round_trip_partitioned(spark, tmp_path):
    """ORC sink + source: partition dirs exist, values survive the
    round trip, and a partition-key filter prunes to one directory's
    rows (same layout contract as the parquet sink)."""
    import os

    from opentimes_spark.io.read import read_orc
    from opentimes_spark.io.write import write_orc

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "id long, part string, val int",
    )
    root = str(tmp_path / "orc_out")
    write_orc(df, root, partition_by=["part"], sort_by="id")

    assert {d for d in os.listdir(root) if d.startswith("part=")} == {
        "part=a",
        "part=b",
    }
    back = read_orc(spark, root)
    assert {(r.id, r.part, r.val) for r in back.collect()} == {
        (1, "a", 10),
        (2, "a", 20),
        (3, "b", 30),
    }
    pruned = back.filter("part = 'b'")
    assert [r.id for r in pruned.collect()] == [3]
    # the partition predicate must prune at planning time, not post-scan
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(part" in plan.replace("#", " #").replace(
        "part #", "part"
    ) or "part = b" in plan


def test_snapshot_publish_read_time_travel_prune(spark, tmp_path):
    """Three publishes → pointer tracks latest, time travel reaches any
    retained version, prune drops oldest but never the live pointer."""
    from opentimes_spark.io.snapshots import (
        latest_version,
        list_snapshots,
        prune_snapshots,
        read_snapshot,
        write_snapshot,
    )

    root = str(tmp_path / "snaps")
    for n in (1, 2, 3):
        df = spark.range(n * 10).withColumnRenamed("id", "x")
        assert write_snapshot(df, root, sort_by="x") == n - 1

    assert latest_version(root) == 2
    assert read_snapshot(spark, root).count() == 30          # latest
    assert read_snapshot(spark, root, version=0).count() == 10  # time travel
    mans = list_snapshots(root)
    assert [m["version"] for m in mans] == [0, 1, 2]
    assert all(m["n_files"] >= 1 and m["bytes"] > 0 for m in mans)

    assert prune_snapshots(root, keep=1) == [0, 1]
    assert read_snapshot(spark, root).count() == 30
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, version=0)


def test_snapshot_crash_before_pointer_swap_invisible(spark, tmp_path):
    """An orphan v-dir without a pointer update (simulated crash between
    data commit and publish) is invisible to readers; the next publish
    skips over the orphan's version number."""
    import os

    from opentimes_spark.io.snapshots import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    root = str(tmp_path / "snaps")
    write_snapshot(spark.range(5), root)          # v=0 published
    os.makedirs(os.path.join(root, "v=1"))        # orphan: no manifest/pointer
    assert latest_version(root) == 0
    assert read_snapshot(spark, root).count() == 5
    v = write_snapshot(spark.range(7), root)      # must skip the orphan dir
    assert v == 2
    assert read_snapshot(spark, root).count() == 7


def test_snapshot_publish_lock_excludes_concurrent_writer(spark, tmp_path):
    """A held _PUBLISH.lock makes a second publisher fail fast with
    ConcurrentPublishError (no orphaned data, no pointer regression);
    a successful publish releases the lock for the next writer."""
    import os

    from opentimes_spark.io.snapshots import (
        ConcurrentPublishError,
        latest_version,
        write_snapshot,
    )

    root = str(tmp_path / "locked")
    write_snapshot(spark.range(3), root)  # v=0; also creates root
    lock = os.path.join(root, "_PUBLISH.lock")
    assert not os.path.exists(lock)  # released after success

    with open(lock, "w", encoding="utf-8") as f:
        f.write("{}")  # simulate a concurrent publisher holding the lock
    import pytest

    with pytest.raises(ConcurrentPublishError):
        write_snapshot(spark.range(4), root)
    assert latest_version(root) == 0  # pointer untouched by the loser

    os.unlink(lock)  # stale-lock manual clear per the documented contract
    assert write_snapshot(spark.range(4), root) == 1


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """partitionOverwriteMode=dynamic: an overwrite carrying only
    part=b data must replace part=b and leave part=a intact (static
    mode would drop every partition) — the incremental-backfill write
    contract."""
    root = str(tmp_path / "dyn")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, part string"
    ).write.partitionBy("part").parquet(root)

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.createDataFrame(
            [(20, "b"), (21, "b")], "id long, part string"
        ).write.mode("overwrite").partitionBy("part").parquet(root)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    got = {(r.id, r.part) for r in spark.read.parquet(root).collect()}
    assert got == {(1, "a"), (20, "b"), (21, "b")}


def test_sorted_partitioned_overwrite_keeps_other_partitions(spark, tmp_path):
    """write_sorted_partitioned replaces only the partitions it holds
    rows for, with the session's partitionOverwriteMode left static."""
    root = str(tmp_path / "dyn_sorted")
    for rows in ([(1, "a"), (2, "b")], [(20, "b")]):
        write_sorted_partitioned(
            spark.createDataFrame(rows, "id long, part string"),
            root,
            partition_by=["part"],
            order_by=["id"],
        )

    got = {(r.id, r.part) for r in spark.read.parquet(root).collect()}
    assert got == {(1, "a"), (20, "b")}


def test_compact_dir_lock_and_trailing_slash(spark, tmp_path):
    """compact_dir holds an O_EXCL lock (a second run fails loudly
    instead of destroying the first's state) and normalizes a trailing
    slash so swap siblings are real siblings, not children."""
    import os

    from opentimes_spark.io.compact import compact_dir

    p = str(tmp_path / "ds")
    spark.range(100).repartition(8).write.parquet(p)
    # trailing slash: must behave identically to the clean path
    nb, na = compact_dir(spark, p + "/", target_files=2)
    assert nb == 8 and na <= 2
    assert spark.read.parquet(p).count() == 100
    assert not os.path.exists(p + "__compact.lock")  # released

    # held lock -> loud refusal, dataset untouched
    with open(p + "__compact.lock", "w") as fh:
        fh.write("999@test\n")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="compaction holds"):
        compact_dir(spark, p, target_files=1)
    os.unlink(p + "__compact.lock")


def test_snapshot_time_travel_rejects_uncommitted_version(spark, tmp_path):
    """Explicit time travel to an orphan directory (publisher crashed
    before writing _MANIFEST) must fail, not return partial data."""
    import os

    import pytest as _pytest

    from opentimes_spark.io.snapshots import read_snapshot, write_snapshot

    root = str(tmp_path / "snaps")
    write_snapshot(spark.range(10).toDF("id"), root)
    # fabricate an orphan v=1: parquet present, no _MANIFEST
    orphan = os.path.join(root, "v=1")
    spark.range(3).toDF("id").write.parquet(orphan)
    assert read_snapshot(spark, root).count() == 10  # pointer unaffected
    with _pytest.raises(FileNotFoundError, match="never committed"):
        read_snapshot(spark, root, version=1)


def test_diff_snapshots_classifies_and_disambiguates_nulls(spark, tmp_path):
    """Version diff (round 9): added/removed/changed classification off
    the retained versions; the fingerprint must distinguish NULL from
    empty string and from adjacent-column aliasing."""
    import pytest as pt
    from pyspark.sql import functions as F

    from opentimes_spark.io.snapshots import diff_snapshots, write_snapshot

    root = str(tmp_path / "dsnap")
    v0 = spark.createDataFrame(
        [(1, "a", "x"), (2, None, "y"), (3, "ab", "c"), (4, "keep", "k")],
        "k long, u string, v string",
    )
    v1 = spark.createDataFrame(
        [
            (2, "", "y"),       # NULL -> '' must read as CHANGED
            (3, "a", "bc"),     # boundary shift 'ab','c' -> 'a','bc': CHANGED
            (4, "keep", "k"),   # identical
            (5, "new", "n"),    # ADDED (and 1 is REMOVED)
        ],
        "k long, u string, v string",
    )
    assert write_snapshot(v0, root) == 0
    assert write_snapshot(v1, root) == 1
    got = {
        r["k"]: r["op"]
        for r in diff_snapshots(spark, root, 0, 1, ["k"]).collect()
    }
    assert got == {1: "removed", 2: "changed", 3: "changed", 5: "added"}

    # schema drift between versions is an error, not a silent diff
    v2 = spark.createDataFrame([(1, "a")], "k long, other string")
    assert write_snapshot(v2, root) == 2
    with pt.raises(ValueError, match="schemas differ"):
        diff_snapshots(spark, root, 1, 2, ["k"])
    # a key-only table has nothing to fingerprint
    v3 = spark.createDataFrame([(1,)], "k long")
    root2 = str(tmp_path / "dsnap2")
    write_snapshot(v3, root2)
    write_snapshot(v3, root2)
    with pt.raises(ValueError, match="non-key column"):
        diff_snapshots(spark, root2, 0, 1, ["k"])


def test_diff_snapshot_fingerprint_boundary_no_alias(spark, tmp_path):
    """Column-boundary aliasing: ('x\\x01y','z') vs ('x','y\\x01z') used
    to concat to the same separator-joined string; the per-column-hash
    prefix code must see the change."""
    from opentimes_spark.io.snapshots import diff_snapshots, write_snapshot

    root = str(tmp_path / "snap")
    old = spark.createDataFrame(
        [(1, "x\x01y", "z")], "k int, a string, b string"
    )
    new = spark.createDataFrame(
        [(1, "x", "y\x01z")], "k int, a string, b string"
    )
    write_snapshot(old, root)
    write_snapshot(new, root)
    ops = {
        r["k"]: r["op"]
        for r in diff_snapshots(spark, root, 0, 1, ["k"]).collect()
    }
    assert ops == {1: "changed"}

"""Point and destination lookups read the published leaf with pyarrow
from cached footers (plans/pipeline.py ``_lookup``) and match the key on
the ids' dictionary codes; the rows reach Spark as a local relation.
The Spark scan of the published root that lookups used to run is kept
here as the oracle: every lookup must return its rows and its schema."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from opentimes_spark.io.write import row_group_stats
from opentimes_spark.plans.pipeline import (
    _ARROW_SCHEMA,
    LOOKUP_SCHEMA,
    PARTITION_KEYS,
    _local_frame,
    destination_lookup,
    lookup_row_groups,
    point_lookup,
    write_public,
)

KEYS = dict(
    version="0.0.1", mode="car", year="2024", geography="tract",
    state="17", centroid_type="weighted",
)
ORIGINS = [f"17031{i:06d}" for i in range(12)]
DESTS = [f"18097{j:06d}" for j in range(7)]
# not a full matrix: the last destination is reached from the last three
# origins only, so the row groups before theirs hold none of its rows
PAIRS = [
    (o, d, float(60 * i + j))
    for i, o in enumerate(ORIGINS)
    for j, d in enumerate(DESTS)
    if j < len(DESTS) - 1 or i >= len(ORIGINS) - 3
]
RARE_DEST = DESTS[-1]


def oracle(spark, root, column, key, keys=KEYS):
    """The Spark scan the lookups replaced: list the root, prune the
    Hive keys, push the key equality to the parquet reader."""
    cond = F.col(column) == key
    for k in PARTITION_KEYS:
        cond &= F.col(k) == keys[k]
    return (
        spark.read.parquet(root)
        .filter(cond)
        .select("origin_id", "destination_id", "duration_sec")
    )


def sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    """Several one-row-group files: ``max_records_per_file`` does not
    divide an origin's 6 or 7 rows, so some origins span two row groups."""
    root = str(tmp_path_factory.mktemp("lookup") / "times")
    times = spark.createDataFrame(
        PAIRS, "origin_id string, destination_id string, duration_sec double"
    )
    write_public(times, root, max_records_per_file=16)
    return root


def row_groups_holding(root, origin):
    """Row groups whose data pages hold ``origin``, read from the data."""
    held = 0
    for path in {f for f, _, _ in row_group_stats(root, "origin_id")}:
        pf = pq.ParquetFile(path)
        for rg in range(pf.num_row_groups):
            ids = pf.read_row_group(rg, columns=["origin_id"])["origin_id"]
            held += pc.any(pc.equal(ids, origin)).as_py()
    return held


def assert_lookups_equal_the_oracle(spark, root, origins, dests):
    """Every origin and destination (and an absent key of each kind)
    returns the oracle's rows, with the oracle's schema."""
    for column, fn, keys in (
        ("origin_id", point_lookup, origins + ["17031999999"]),
        ("destination_id", destination_lookup, dests + ["18097999999"]),
    ):
        for key in keys:
            got = fn(spark, root, key)
            want = oracle(spark, root, column, key)
            assert got.schema == want.schema == LOOKUP_SCHEMA
            assert sorted_rows(got) == sorted_rows(want), (column, key)


def write_leaf(root, pairs, **write_table_args):
    """One pyarrow-written data file in the leaf of ``KEYS``."""
    leaf = os.path.join(root, *(f"{k}={KEYS[k]}" for k in PARTITION_KEYS))
    os.makedirs(leaf)
    o, d, t = zip(*pairs)
    table = pa.table(
        {"origin_id": list(o), "destination_id": list(d), "duration_sec": list(t)}
    )
    path = os.path.join(leaf, "part-00000.parquet")
    pq.write_table(table, path, **write_table_args)
    return path


def id_chunks(path, rg):
    """The column chunks of row group ``rg`` in the footer, by column."""
    meta = pq.read_metadata(path).row_group(rg)
    return {
        meta.column(i).path_in_schema: meta.column(i)
        for i in range(meta.num_columns)
    }


def test_lookups_equal_the_spark_scan(spark, published):
    assert len(row_group_stats(published, "origin_id")) > 4
    assert_lookups_equal_the_oracle(spark, published, ORIGINS, DESTS)


def test_lookups_match_plain_encoded_ids(spark, tmp_path):
    """A leaf whose ids carry no dictionary at all (written with
    ``use_dictionary=False``): pyarrow dictionary-encodes them on read,
    and every lookup still equals the oracle."""
    root = str(tmp_path / "times")
    path = write_leaf(root, PAIRS, use_dictionary=False, row_group_size=20)
    chunks = id_chunks(path, 0)
    assert not chunks["origin_id"].has_dictionary_page
    assert not chunks["destination_id"].has_dictionary_page
    assert_lookups_equal_the_oracle(spark, root, ORIGINS, DESTS)


def test_lookups_match_ids_that_fall_back_to_plain_pages(spark, tmp_path):
    """A Spark-written leaf whose destination_id dictionary outgrows a
    tiny ``parquet.dictionary.page.size`` partway through the column
    chunk: its first pages are dictionary-encoded, the rest plain."""
    few = DESTS[:5]
    pairs = [
        (o, d, float(10 * i + j))
        for i, o in enumerate(ORIGINS)
        for j, d in enumerate(few)
    ]
    late = [f"17031{i:06d}" for i in range(100, 104)]
    pairs += [
        (o, f"18097{100 * (i + 1) + j:06d}", float(j))
        for i, o in enumerate(late)
        for j in range(100)
    ]
    root = str(tmp_path / "times")
    times = spark.createDataFrame(
        pairs, "origin_id string, destination_id string, duration_sec double"
    )
    spark.conf.set("parquet.dictionary.page.size", "1024")
    spark.conf.set("parquet.page.row.count.limit", "50")
    try:
        write_public(times.coalesce(1), root)
    finally:
        spark.conf.unset("parquet.dictionary.page.size")
        spark.conf.unset("parquet.page.row.count.limit")
    [path] = {f for f, _, _ in row_group_stats(root, "origin_id")}
    dest = id_chunks(path, 0)["destination_id"]
    assert dest.has_dictionary_page
    assert {"PLAIN_DICTIONARY", "PLAIN"} <= set(dest.encodings)
    dests = few + [f"18097{100 * (i + 1) + j:06d}" for i in range(4) for j in (0, 99)]
    assert_lookups_equal_the_oracle(spark, root, ORIGINS + late, dests)


def test_key_in_one_row_groups_dictionary_only(spark, tmp_path):
    """Each row group has its own dictionary: the first holds d0, d1, d2
    and the second d1, d3, so d0 and d3 are each in one dictionary only
    and d1 has a different code in each.  A code taken from one row
    group and matched in another would return the wrong rows."""
    d0, d1, d2, d3 = DESTS[:4]
    o0, o1 = ORIGINS[:2]
    pairs = [(o0, d0, 1.0), (o0, d1, 2.0), (o0, d2, 3.0), (o1, d1, 4.0), (o1, d3, 5.0)]
    root = str(tmp_path / "times")
    path = write_leaf(root, pairs, row_group_size=3)
    pf = pq.ParquetFile(path, read_dictionary=["destination_id"])
    dicts = [
        pf.read_row_group(rg)["destination_id"].chunk(0).dictionary.to_pylist()
        for rg in range(pf.num_row_groups)
    ]
    assert dicts == [[d0, d1, d2], [d1, d3]]
    assert_lookups_equal_the_oracle(spark, root, [o0, o1], [d0, d1, d2, d3])


def test_origin_lookup_reads_only_its_row_groups(published):
    """Min/max pruning keeps exactly the row groups that hold the
    origin: 1 of N for an interior origin, 2 for one that straddles a
    row-group boundary."""
    n_rg = len(row_group_stats(published, "origin_id"))
    read = {
        o: sum(len(g) for _, _, g in lookup_row_groups(published, "origin_id", o, KEYS))
        for o in ORIGINS
    }
    assert read == {o: row_groups_holding(published, o) for o in ORIGINS}
    assert 1 in read.values() and 2 in read.values()
    assert max(read.values()) < n_rg


def test_lookup_keeps_rows_after_an_empty_row_group(spark, published):
    """Spark's JVM reader of the hand-off's Arrow stream returns no rows
    past the first empty record batch.  The rare destination's rows sit
    in the last row groups, after row groups that filter to nothing;
    every one of them must come back."""
    path, _, rgs = lookup_row_groups(published, "destination_id", RARE_DEST, KEYS)[0]
    head = pq.ParquetFile(path).read_row_group(rgs[0], columns=["destination_id"])
    assert not pc.any(pc.equal(head["destination_id"], RARE_DEST)).as_py()
    got = sorted_rows(destination_lookup(spark, published, RARE_DEST))
    want = sorted((o, d, t) for o, d, t in PAIRS if d == RARE_DEST)
    assert got == want and len(got) == 3


def test_hand_off_keeps_rows_after_an_empty_batch(spark):
    """pyarrow's filter drops empty chunks, so the test above cannot
    hand Spark an empty batch; a table holding one must still come back
    whole."""
    rows = [(o, DESTS[0], float(i)) for i, o in enumerate(ORIGINS[:5])]
    whole = pa.Table.from_pylist(
        [dict(zip(LOOKUP_SCHEMA.names, r)) for r in rows], schema=_ARROW_SCHEMA
    )
    table = pa.concat_tables([whole.slice(0, 2), whole.slice(2, 0), whole.slice(2)])
    assert [b.num_rows for b in table.to_batches()] == [2, 0, 3]
    assert sorted_rows(_local_frame(spark, table)) == rows


def test_republish_is_read_afresh(spark, tmp_path):
    """A republish into the same root replaces the cached footers: the
    next lookup returns the new durations, not a stale or missing file."""
    root = str(tmp_path / "times")
    schema = "origin_id string, destination_id string, duration_sec double"
    write_public(spark.createDataFrame(PAIRS, schema), root)
    before = sorted_rows(point_lookup(spark, root, ORIGINS[0]))
    assert [t for _, _, t in before] == [float(j) for j in range(6)]
    doubled = [(o, d, 2 * t + 1) for o, d, t in PAIRS]
    write_public(spark.createDataFrame(doubled, schema), root)
    after = sorted_rows(point_lookup(spark, root, ORIGINS[0]))
    assert [t for _, _, t in after] == [2.0 * j + 1 for j in range(6)]
    assert sorted_rows(destination_lookup(spark, root, DESTS[0])) == sorted(
        (o, d, t) for o, d, t in doubled if d == DESTS[0]
    )


def test_publishing_a_state_keeps_the_other_states(spark, tmp_path):
    """One root holds every state's times, as the reference's per-state
    jobs publish them: publishing state 18 must not erase state 17."""
    root = str(tmp_path / "times")
    schema = "origin_id string, destination_id string, duration_sec double"
    il = [(o, d, t) for o, d, t in PAIRS if o == ORIGINS[0]]
    ind = [("18097" + o[5:], "17031" + d[5:], t + 0.5) for o, d, t in il]
    write_public(spark.createDataFrame(il, schema), root, state="17")
    write_public(spark.createDataFrame(ind, schema), root, state="18")
    for state, pairs in (("17", il), ("18", ind)):
        origin = pairs[0][0]
        assert sorted_rows(point_lookup(spark, root, origin, state=state)) == pairs
        keys = dict(KEYS, state=state)
        assert sorted_rows(oracle(spark, root, "origin_id", origin, keys)) == pairs


def test_absent_partition_gives_an_empty_frame(spark, published):
    for fn, key in ((point_lookup, ORIGINS[0]), (destination_lookup, DESTS[0])):
        got = fn(spark, published, key, state="99")
        assert got.schema == LOOKUP_SCHEMA and got.collect() == []


def test_empty_lookups_run_no_spark_job(spark, published):
    """An absent partition's lookup and an absent key's come back as
    local relations, as a present key's does: collecting them starts no
    Spark job (the DAG scheduler's next job id does not move)."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    for fn, key in ((point_lookup, ORIGINS[0]), (destination_lookup, DESTS[0])):
        assert fn(spark, published, key, state="99").collect() == []
    assert point_lookup(spark, published, "17031999999").collect() == []
    assert destination_lookup(spark, published, "18097999999").collect() == []
    assert len(point_lookup(spark, published, ORIGINS[0]).collect()) == 6
    assert scheduler.nextJobId() == before


def test_warm_lookups_send_no_reflective_py4j_commands(spark, published, monkeypatch):
    """Each ``r u`` (unknown member) or ``r m`` (class member) command
    makes the JVM resolve a name by reflection, scanning the imported
    packages' jars on a miss.  Once the hand-off's handles are resolved,
    a lookup and its collect send none."""
    point_lookup(spark, published, ORIGINS[0]).collect()
    destination_lookup(spark, published, DESTS[0]).collect()
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def recording(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", recording)
        assert len(point_lookup(spark, published, ORIGINS[1]).collect()) == 6
        assert len(destination_lookup(spark, published, DESTS[1]).collect()) == 12
    assert sent
    assert [c for c in sent if c.startswith(("r\nu\n", "r\nm\n"))] == []


def test_lookup_frame_belongs_to_the_session_passed_in(spark, published):
    """The hand-off's handles are shared, but the frame is built in the
    session the caller passes: a view of it is visible there only."""
    other = spark.newSession()
    for fn, key in ((point_lookup, ORIGINS[2]), (destination_lookup, DESTS[2])):
        got = fn(other, published, key)
        assert got.sparkSession is other
        assert sorted_rows(got) == sorted_rows(fn(spark, published, key))
    got.createOrReplaceTempView("lookup_in_other")
    assert other.catalog.tableExists("lookup_in_other")
    assert not spark.catalog.tableExists("lookup_in_other")


def test_missing_root_is_refused_by_name(spark, tmp_path):
    missing = str(tmp_path / "never_published")
    with pytest.raises(FileNotFoundError, match="never_published"):
        point_lookup(spark, missing, ORIGINS[0])


def test_remote_root_points_to_spark(spark):
    with pytest.raises(ValueError, match=r"spark\.read\.parquet"):
        destination_lookup(spark, "s3a://bucket/times", DESTS[0])


@pytest.mark.parametrize("value", ["17/18", "a=b", "17%2F", "c:d"])
def test_escaped_partition_value_is_refused(spark, published, value):
    with pytest.raises(ValueError, match="escapes"):
        point_lookup(spark, published, ORIGINS[0], state=value)

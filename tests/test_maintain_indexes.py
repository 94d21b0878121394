"""Index lifecycle job (jobs/maintain_indexes.py): each incremental
path's telemetry actually drives an append-vs-rebuild decision, and
rebuilds publish as v=N+1 behind the atomic pointer so probes can never
reuse a stale index (VERDICT r7 item 4)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from opentimes_spark.io import snapshots
from opentimes_spark.jobs.maintain_indexes import (
    maintain_dedup_ledger,
    maintain_ivfpq_index,
    maintain_lsh_index,
    read_decision_log,
)
from opentimes_spark.operators.dedup import lsh_index_candidates, read_lsh_params
from opentimes_spark.operators.similarity import ivfpq_topk_probe, read_ivfpq_meta


def _docs(spark, items):
    return spark.createDataFrame(items, "doc_id long, text string")


def test_ledger_bootstrap_append_compact(spark, tmp_path):
    root = str(tmp_path / "ledger")
    r0 = maintain_dedup_ledger(
        spark, _docs(spark, [(1, "alpha beta"), (2, "gamma")]), root
    )
    assert r0["action"] == "bootstrap" and r0["accepted"] == 2

    # duplicate text is rejected against the ledger; fresh text appends
    r1 = maintain_dedup_ledger(
        spark, _docs(spark, [(3, "alpha beta"), (4, "delta")]), root
    )
    assert r1["action"] == "append"
    assert r1["accepted"] == 1 and r1["rejected"] == 1
    assert r1["version"] == r0["version"]  # append mutates no pointer

    # fragmentation past the cap triggers a compaction publish as v+1
    r_last = r1
    for i in range(5, 40):
        r_last = maintain_dedup_ledger(
            spark, _docs(spark, [(i, f"unique text {i}")]), root, max_files=8
        )
        if r_last["action"] == "compact":
            break
    assert r_last["action"] == "compact"
    assert r_last["version"] > r0["version"]
    assert r_last["ledger_files"] <= 8
    # the compacted ledger still holds every accepted fingerprint
    live = spark.read.parquet(snapshots.current_dir(root))
    assert live.count() == live.select("fp").distinct().count()
    # and still rejects a known duplicate
    r_dup = maintain_dedup_ledger(
        spark, _docs(spark, [(99, "alpha beta")]), root, max_files=8
    )
    assert r_dup["accepted"] == 0 and r_dup["rejected"] == 1


def test_lsh_hot_band_triggers_wider_band_rebuild(spark, tmp_path):
    root = str(tmp_path / "lsh")
    # a degenerate corpus: many docs sharing one shingle stream → one
    # band bucket collects them all
    hot = [(i, "the same degenerate shingle text") for i in range(30)]
    varied = [(100 + i, f"document number {i} talks about topic {i % 7}")
              for i in range(10)]
    corpus = _docs(spark, hot + varied)

    r0 = maintain_lsh_index(
        spark, corpus, corpus.limit(0), root, num_hashes=8, band_size=2
    )
    assert r0["action"] == "bootstrap"
    p0 = read_lsh_params(spark, snapshots.current_dir(root))
    assert p0["band_size"] == 2

    # ingest below the cap: plain append, same version
    batch = _docs(spark, [(200, "a brand new document entirely")])
    r1 = maintain_lsh_index(
        spark, corpus.unionByName(batch), batch, root, hot_band_cap=64
    )
    assert r1["action"] == "append" and r1["appended"] == 1
    assert r1["version"] == r0["version"]

    # drop the cap below the hot bucket: rebuild publishes v+1 with
    # band_size escalated
    full = corpus.unionByName(batch)
    r2 = maintain_lsh_index(spark, full, batch.limit(0), root, hot_band_cap=8)
    assert r2["action"] == "rebuild"
    assert r2["version"] > r1["version"]
    p2 = read_lsh_params(spark, snapshots.current_dir(root))
    assert p2["band_size"] == 3

    # probes resolve the pointer → the NEW geometry serves candidates
    q = _docs(spark, [(999, "the same degenerate shingle text")])
    cands = lsh_index_candidates(q, snapshots.current_dir(root))
    got = {r["index_id"] for r in cands.collect()}
    assert {i for i in range(30)} <= got
    # time travel: the superseded v0 is still readable
    assert read_lsh_params(spark, str(tmp_path / "lsh" / "v=0"))["band_size"] == 2


def test_ivfpq_staleness_triggers_recluster_publish(spark, tmp_path):
    root = str(tmp_path / "ivfpq")
    rng = np.random.RandomState(5)
    centers = np.array([[4.0] * 8, [-4.0] * 8])

    def vecs(ids, shift):
        return [
            (int(i), [float(x) for x in centers[i % 2] + 0.1 * rng.randn(8) + shift])
            for i in ids
        ]

    corpus = spark.createDataFrame(
        vecs(range(40), 0.0), "vec_id long, embedding array<double>"
    )
    r0 = maintain_ivfpq_index(
        spark, corpus, corpus.limit(0), root,
        dim=8, coarse_k=2, m=2, pq_k=4,
    )
    assert r0["action"] == "bootstrap"
    v0_dir = snapshots.current_dir(root)
    assert read_ivfpq_meta(spark, v0_dir)["dim"] == 8

    # in-distribution batch: appended, ratio ~1, no rebuild
    batch_in = spark.createDataFrame(
        vecs(range(100, 110), 0.0), "vec_id long, embedding array<double>"
    )
    r1 = maintain_ivfpq_index(
        spark, corpus.unionByName(batch_in), batch_in, root, dim=8,
        coarse_k=2, m=2, pq_k=4,
    )
    assert r1["action"] == "append" and r1["appended"] == 10
    assert r1["staleness_ratio"] < 1.5
    assert snapshots.current_dir(root) == v0_dir

    # drifted batch: staleness trips → recluster over the full corpus,
    # published as v+1 behind the pointer
    batch_drift = spark.createDataFrame(
        vecs(range(200, 220), 25.0), "vec_id long, embedding array<double>"
    )
    full = corpus.unionByName(batch_in).unionByName(batch_drift)
    r2 = maintain_ivfpq_index(
        spark, full, batch_drift, root, dim=8, coarse_k=2, m=2, pq_k=4,
    )
    assert r2["action"] == "rebuild"
    assert r2["staleness_ratio"] > 1.5
    v2_dir = snapshots.current_dir(root)
    assert v2_dir != v0_dir

    # the new index holds the ENTIRE corpus (including the drifted
    # batch) and probes through the unchanged contract
    assert spark.read.parquet(v2_dir).count() == full.count()
    probe = ivfpq_topk_probe(
        spark, full.filter(F.col("vec_id") == 200), v2_dir, k=3, n_probe=2,
        dim=8,
    )
    assert probe.count() == 3

    # idempotence: re-running the same drifted batch against the new
    # index appends nothing and keeps the pointer still
    r3 = maintain_ivfpq_index(
        spark, full, batch_drift, root, dim=8, coarse_k=2, m=2, pq_k=4,
    )
    assert r3["action"] == "append" and r3["appended"] == 0
    assert snapshots.current_dir(root) == v2_dir


def test_decision_log_is_a_queryable_table(spark, tmp_path):
    """'When did the index last rebuild and why' is answered by a
    parquet table, not a grep over job stdout (VERDICT r8 item 5):
    every maintain_* decision appends a row, ordering survives
    read-back, and the per-index telemetry in `detail` is queryable
    field-by-field."""
    dlog = str(tmp_path / "decisions")
    root = str(tmp_path / "ledger")
    maintain_dedup_ledger(
        spark, _docs(spark, [(1, "alpha"), (2, "beta")]), root,
        decision_log=dlog,
    )
    maintain_dedup_ledger(
        spark, _docs(spark, [(3, "alpha"), (4, "gamma")]), root,
        decision_log=dlog,
    )
    log = read_decision_log(spark, dlog)
    rows = log.collect()
    assert [r["action"] for r in rows] == ["bootstrap", "append"]
    assert rows[0]["index"] == "dedup_ledger"
    assert rows[0]["decided_ns"] < rows[1]["decided_ns"]
    # telemetry fields come back out of the detail JSON as values
    got = (
        log.filter(F.col("action") == "append")
        .select(
            F.get_json_object("detail", "$.accepted").cast("long").alias("a"),
            F.get_json_object("detail", "$.rejected").cast("long").alias("r"),
        )
        .collect()[0]
    )
    assert (got["a"], got["r"]) == (1, 1)

    # ADVICE r8: the append went through append_into_snapshot — the
    # live version's manifest must reflect post-append reality, not the
    # publish-time file count
    import json as _json
    import os as _os

    vdir = snapshots.current_dir(root)
    with open(_os.path.join(vdir, "_MANIFEST.json")) as f:
        mf = _json.load(f)
    n_actual = sum(1 for fn in _os.listdir(vdir) if fn.endswith(".parquet"))
    assert mf["n_files"] == n_actual and mf["appends"] == 1


def test_lsh_saturated_escalation_skips_rebuild(spark, tmp_path):
    """Once band-size escalation is exhausted (band_size already at
    num_hashes / the ceiling), a persistently hot band must NOT trigger
    an identical-parameter O(corpus) rebuild on every ingest — the
    decision stays 'append' with the saturation flagged."""
    root = str(tmp_path / "lsh_sat")
    dlog = str(tmp_path / "decisions_sat")
    hot = _docs(
        spark, [(i, "the same degenerate shingle text") for i in range(30)]
    )
    r0 = maintain_lsh_index(
        spark, hot, hot.limit(0), root, num_hashes=2, band_size=2
    )
    assert r0["action"] == "bootstrap"

    batch = _docs(spark, [(200, "a brand new document entirely")])
    full = hot.unionByName(batch)
    r1 = maintain_lsh_index(
        spark, full, batch, root, hot_band_cap=8, decision_log=dlog
    )
    assert r1["action"] == "append" and r1["saturated"] is True
    assert r1["version"] == r0["version"]  # no rebuild published

    # re-ingest: still no rebuild loop — append again, still saturated
    r2 = maintain_lsh_index(
        spark, full, batch.limit(0), root, hot_band_cap=8, decision_log=dlog
    )
    assert r2["action"] == "append" and r2["saturated"] is True
    assert r2["version"] == r0["version"]
    from opentimes_spark.operators.dedup import read_lsh_params

    assert read_lsh_params(spark, snapshots.current_dir(root))["band_size"] == 2
    # the saturation is visible in the decision table
    sat = read_decision_log(spark, dlog).filter(
        F.get_json_object("detail", "$.saturated") == "true"
    )
    assert sat.count() == 2


def test_publish_dir_snapshot_atomicity(spark, tmp_path):
    """A build_fn that crashes leaves the pointer untouched; the next
    publish skips the orphan directory."""
    root = str(tmp_path / "atomic")

    def good(d):
        spark.range(3).write.parquet(d + "/part")

    v0 = snapshots.publish_dir_snapshot(root, good)
    assert v0 == 0

    with pytest.raises(RuntimeError, match="boom"):
        snapshots.publish_dir_snapshot(
            root, lambda d: (_ for _ in ()).throw(RuntimeError("boom"))
        )
    assert snapshots.latest_version(root) == 0  # pointer never moved

    v1 = snapshots.publish_dir_snapshot(root, good)
    assert v1 > 0
    assert snapshots.current_dir(root).endswith(f"v={v1}")


def test_rotated_ivfpq_index_survives_staleness_rebuild(spark, tmp_path):
    """An OPQ-rotated index must stay rotated after a staleness rebuild
    even when the maintainer doesn't re-pass rotation= (ADVICE r9): the
    rebuild branch reads the live index's stored ``_rotation`` and
    carries it into write_ivfpq_index."""
    from opentimes_spark.operators.similarity import read_ivfpq_rotation

    root = str(tmp_path / "ivfpq_rot")
    rng = np.random.RandomState(7)
    centers = np.array([[4.0] * 8, [-4.0] * 8])

    def vecs(ids, shift):
        return [
            (int(i),
             [float(x) for x in centers[i % 2] + 0.1 * rng.randn(8) + shift])
            for i in ids
        ]

    corpus = spark.createDataFrame(
        vecs(range(40), 0.0), "vec_id long, embedding array<double>"
    )
    # orthogonal rotation: a permutation matrix (cheap, exactly checkable)
    rot = np.eye(8)[list(range(1, 8)) + [0]]
    maintain_ivfpq_index(
        spark, corpus, corpus.limit(0), root,
        dim=8, coarse_k=2, m=2, pq_k=4, rotation=rot,
    )
    v0 = snapshots.current_dir(root)
    np.testing.assert_allclose(read_ivfpq_rotation(spark, v0), rot)

    # drifted batch trips staleness; the maintainer call does NOT pass
    # rotation — the stored one must be carried forward
    batch_drift = spark.createDataFrame(
        vecs(range(200, 220), 25.0), "vec_id long, embedding array<double>"
    )
    full = corpus.unionByName(batch_drift)
    r = maintain_ivfpq_index(
        spark, full, batch_drift, root, dim=8, coarse_k=2, m=2, pq_k=4,
    )
    assert r["action"] == "rebuild"
    v1 = snapshots.current_dir(root)
    assert v1 != v0
    got = read_ivfpq_rotation(spark, v1)
    assert got is not None, "rotation lost across staleness rebuild"
    np.testing.assert_allclose(got, rot)
    # and the rebuilt index still answers probes for the whole corpus
    probe = ivfpq_topk_probe(
        spark, full.filter(F.col("vec_id") == 200), v1, k=3, n_probe=2, dim=8,
    )
    assert probe.count() == 3


def test_ensure_reads_through_maintain_published_index(spark, tmp_path):
    """VERDICT r9 Next #6: the demo path (ensure_ivfpq_index) and the
    lifecycle path (maintain_ivfpq_index) are ONE code path — an index
    the lifecycle job published at the content-addressed cache root is
    consumed by the query's ensure call with NO refit (pointer
    unmoved, directory untouched), and a geometry mismatch raises
    instead of serving wrong-shaped ADC tables."""
    import pytest

    from opentimes_spark.operators.similarity import (
        ensure_ivfpq_index,
        ivfpq_cache_root,
    )

    rng = np.random.RandomState(3)
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.randn(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    params = dict(coarse_k=2, coarse_iter=1, m=2, pq_k=4, pq_iter=1, dim=8)
    root = ivfpq_cache_root(
        "e2e-corpus", base_dir=str(tmp_path), fingerprint=(1, 2, 3), **params
    )
    # the LIFECYCLE job publishes the index at that root...
    maintain_ivfpq_index(spark, corpus, corpus.limit(0), root, **params)
    v0 = snapshots.current_dir(root)
    before = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(v0) for f in fs
    )

    # ...and the query-side ensure consumes it as-is: same version dir,
    # not one file changed, pointer unmoved — no refit happened
    got = ensure_ivfpq_index(
        spark, corpus, "e2e-corpus", base_dir=str(tmp_path),
        fingerprint=(1, 2, 3), **params,
    )
    assert got == v0
    after = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(v0) for f in fs
    )
    assert after == before
    assert snapshots.latest_version(root) == 0

    # explicit snapshot_root: same read-through, any root
    assert ensure_ivfpq_index(
        spark, corpus, "ignored", snapshot_root=root, **params
    ) == v0

    # geometry mismatch against the published meta raises
    bad = dict(params, coarse_k=4)
    with pytest.raises(ValueError, match="coarse_k"):
        ensure_ivfpq_index(
            spark, corpus, "ignored", snapshot_root=root, **bad
        )

    # a probe through the ensured dir works end-to-end (the
    # sim_mmr_rerank_ivfpq composition consumes exactly this path)
    probe = ivfpq_topk_probe(
        spark, corpus.filter(F.col("vec_id") < 2), got, k=3, n_probe=2, dim=8,
    )
    assert probe.count() == 6


def test_decision_log_compacts_past_fragment_cap(spark, tmp_path):
    """The decision log is a snapshot root with the ledger's small-files
    discipline: every decision appends under the publish lock, and past
    DECISION_LOG_MAX_FILES fragments the log compacts into v=N+1 with
    every record retained and a bounded file count (VERDICT r9 Next #7)."""
    import opentimes_spark.jobs.maintain_indexes as MI
    from opentimes_spark.jobs.maintain_indexes import (
        _parquet_file_count,
        record_decision,
    )

    log = str(tmp_path / "decisions")
    n = MI.DECISION_LOG_MAX_FILES + 5
    for i in range(n):
        record_decision(
            spark, log, {"index": "t", "action": "append", "version": i}
        )
    live = snapshots.current_dir(log)
    assert _parquet_file_count(live) <= MI.DECISION_LOG_MAX_FILES
    assert snapshots.latest_version(log) >= 1  # at least one compaction
    got = read_decision_log(spark, log)
    assert got.count() == n
    # order + content survive compaction
    versions = [r["version"] for r in got.collect()]
    assert versions == sorted(versions) and set(versions) == set(range(n))


def test_cli_session_keeps_its_local_star_master(monkeypatch, tmp_path):
    """The CLI builds its session through ``get_spark`` on every core
    (``local[*]``), not on the ``SPARK_GRAFT_CPUS`` default master."""
    import opentimes_spark.jobs.maintain_indexes as MI

    seen = {}

    def fake_get_spark(*args, **kwargs):
        seen.update(args=args, kwargs=kwargs)
        raise RuntimeError("stop before any read")

    monkeypatch.setattr(MI, "get_spark", fake_get_spark)
    with pytest.raises(RuntimeError, match="stop before any read"):
        MI.main(["--work", str(tmp_path)])
    assert seen == {"args": ("maintain_indexes",), "kwargs": {"master": "local[*]"}}

"""Physical-plan assertions: the scale properties SCALE.md promises must
be visible in `.explain()` output, not just hoped for.

Checks (against /root/testdata/sf0.001, the smallest corpus):
- parquet scans carry PushedFilters + a pruned ReadSchema;
- small-dimension joins pick BroadcastHashJoin (no shuffle of the big side);
- relational pipelines run inside WholeStageCodegen (JVM-side, no Python);
- top-k compiles to TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="test corpus not present"
)


def plan(df, mode: str = "formatted") -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["filter_prefix"](spark, SF_DIR))
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p or "StringStartsWith" in p or "EqualTo" in p
    # projection pruning: the scan must not read all 6 orders columns
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderdate" not in read_schema
    assert "o_totalprice" in read_schema


def test_small_dim_join_broadcasts(spark):
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["join_region_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    # the big fact side must NOT be exchanged for the dim join
    assert "SortMergeJoin" not in p


def test_relational_pipeline_is_codegen(spark):
    from opentimes_spark.plans.queries import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    p = plan(df)
    # map-side partial agg: two HashAggregates around exactly one Exchange
    import re

    nodes = re.findall(r"^\(\d+\) (\w+)", p, re.MULTILINE)
    assert nodes.count("HashAggregate") == 2
    assert nodes.count("Exchange") == 1
    assert "partial_sum" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the whole pipeline compiles to JVM bytecode (no interpreted rows)
    assert "WholeStageCodegen" in plan(df, "codegen")


def test_topk_is_take_ordered(spark):
    df = (
        spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
        .orderBy(F.desc("o_totalprice"))
        .limit(10)
    )
    assert "TakeOrderedAndProject" in plan(df)


def test_ivf_probe_prunes_corpus_join(spark):
    """The IVF path must join probes→corpus on the centroid key (hash
    join on centroid_id), not cross-join the full corpus like the
    brute-force baseline does."""
    from opentimes_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    p = plan(ivf_topk(emb.filter(F.col("vec_id") < 5), emb, k=3, n_probe=2))
    assert "centroid_id" in p
    joins = [ln for ln in p.splitlines() if "Join" in ln]
    assert any("centroid_id" in ln or "Inner" in ln for ln in joins)


def test_point_lookup_prunes_partitions(spark, tmp_path):
    """§3.3 consume path: with all partition keys bound, the lookup
    opens only its own leaf directory.  A sibling partition (another
    state=) holding a file that is not parquet must not break it, and
    only the 3 lookup columns come back."""
    from opentimes_spark.plans.pipeline import (
        LOOKUP_SCHEMA,
        PARTITION_KEYS,
        point_lookup,
        write_public,
    )

    rows = [(f"17031{i:06d}", f"18097{j:06d}", float(60 * (i + j)))
            for i in range(4) for j in range(5)]
    times = spark.createDataFrame(
        rows, "origin_id string, destination_id string, duration_sec double"
    )
    out = str(tmp_path / "times_pub")
    write_public(times, out)
    keys = dict(version="0.0.1", mode="car", year="2024", geography="tract",
                state="18", centroid_type="weighted")
    sibling = os.path.join(out, *(f"{k}={keys[k]}" for k in PARTITION_KEYS))
    os.makedirs(sibling)
    with open(os.path.join(sibling, "part-00000-junk.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    got = point_lookup(spark, out, "17031000001")
    assert got.schema == LOOKUP_SCHEMA
    assert sorted(tuple(r) for r in got.collect()) == [
        r for r in rows if r[0] == "17031000001"
    ]


def test_lsh_band_join_runtime_reused_exchange(spark):
    """The LSH band self-join must reuse ONE exchange for both sides in
    the RUNTIME (AQE-final) plan, not just the static one — the
    signature pipeline is expensive and must run once. Read the
    executed plan after an action; AQE replans at runtime, so the
    static explain() can't prove this."""
    from opentimes_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    sigs = minhash_signatures(docs, hash_fn="xxhash64")
    pairs = lsh_candidate_pairs(sigs, hash_fn="xxhash64")
    pairs.collect()  # the write path spawns a separate QueryExecution;
    # collect() finalizes THIS DataFrame's, which we then inspect
    executed = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "ReusedExchange" in executed, executed[:2000]


def test_destpoint_polygon_zero_shuffle(spark):
    """The buffered-polygon containment is a pure map stage: broadcast
    ring + mapInPandas filter — the plan must contain NO Exchange."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["destpoint_polygon"](spark, SF_DIR))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """At 100 TB the fact side of a selective big-big join should be
    row-filtered BEFORE its shuffle: Spark's runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled, on by default)
    builds a bloom_filter_agg over the filtered dimension keys and
    injects might_contain() into the fact scan. Local data sits under
    the 10 GB application-side threshold, so the test lowers it to
    observe the injection; at the target scale the defaults fire."""
    sf = "/root/testdata/sf0.01"
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thresh_key = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_thresh = spark.conf.get(thresh_key)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(thresh_key, "0")
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in p  # built over the filtered dim keys
        assert "might_contain" in p  # applied to the fact side pre-shuffle
        # it must not change results vs the un-filtered plan: count the
        # bloom-filtered plan BEFORE restoring the threshold (count()
        # builds a fresh QueryExecution under whatever conf is current)
        filtered_count = j.count()
        spark.conf.set(thresh_key, old_thresh)
        expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert filtered_count == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set(thresh_key, old_thresh)


def test_tfidf_token_stream_shuffles_once(spark):
    """text_tfidf_topk partitions the exploded token stream by doc_id
    ALONE: that satisfies both the (doc_id, term) aggregation and the
    per-doc window, so no extra exchange feeds the window and the
    rank ≤ 3 filter pushes down as WindowGroupLimit."""
    from opentimes_spark.plans.queries import QUERIES

    df = QUERIES["text_tfidf_topk"](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    # only the small side needs ENSURE_REQUIREMENTS exchanges (per-term
    # df agg + the 1-row corpus count); the window adds none
    assert p.count("ENSURE_REQUIREMENTS") == 2


def test_profile_empty_and_tokenless_docs(spark):
    """ANSI-mode guard: empty / whitespace-only / punct-only documents
    must profile to NULL ratios + lang 'unknown', not DIVIDE_BY_ZERO,
    and the corpus filter must flag them deterministically."""
    from pyspark.sql import functions as F

    from opentimes_spark.functions.text import profile

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "!!!"), (4, "the quick brown fox and the dog")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in profile(docs).collect()}
    assert rows[1]["n_tokens"] == 0 and rows[1]["punct_ratio"] is None
    assert rows[1]["stop_ratio"] is None and rows[1]["lang_pred"] == "unknown"
    assert rows[2]["lang_pred"] == "unknown"  # whitespace-only
    assert rows[3]["punct_ratio"] == 1.0  # '!!!' has text but no tokens
    assert rows[4]["lang_pred"] == "en"


def test_dedup_spans_broadcasts_dup_hashes(spark):
    """duplicated_span_stats filters the span-hash counts to nd>=2
    BEFORE joining back, so at realistic duplication rates AQE turns
    both joins into broadcasts — the exploded span stream is never
    sort-merge shuffled."""
    from opentimes_spark.operators.dedup import duplicated_span_stats

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out = duplicated_span_stats(docs, n=8)
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    final = executed.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, final[:2000]
    assert final.count("BroadcastHashJoin") == 2


def test_pack_sequences_single_exchange(spark):
    """The per-source window cumsum partitions by source; the final
    (source, seq_bin) agg is clustering-compatible with it, so the
    whole packing query must run on ONE exchange."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["pack_sequences"](spark, SF_DIR), mode="simple")
    assert p.count("Exchange") == 1, p[:2000]


def test_q13_reuses_join_partitioning_for_count(spark):
    """The per-customer count groups on the LEFT JOIN's key, so Catalyst
    must not insert a second exchange between join and count: exactly
    one hashpartitioning on the custkey column pair, plus the tiny
    distribution-level exchange."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q13_customer_distribution"](spark, SF_DIR), "simple")
    assert p.count("Exchange hashpartitioning(c_custkey") == 1


def test_q17_single_fact_pass(spark):
    """Decorrelated Q17: part keys broadcast into the fact scan; the
    per-part threshold is a window over the joined rows — lineitem is
    scanned ONCE and shuffled once (for the window), never re-scanned
    for the correlated average."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q17_small_quantity_revenue"](spark, SF_DIR), "simple")
    assert p.count("FileScan parquet") == 2  # lineitem once, part once
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning(l_partkey") == 1


def test_q5_two_fact_shuffles_and_broadcast_chain(spark):
    """Q5: region→nation→supplier collapse into broadcasts (no shuffle
    of lineitem for dimension joins); the only SortMergeJoin-eligible
    exchanges are lineitem⋈orders (orderkey) and ⋈customer (custkey)."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q5_local_supplier_volume"](spark, SF_DIR), "simple")
    assert p.count("BroadcastHashJoin") >= 3  # region→nation, →supplier, + dims
    # every table is scanned exactly once — no subtree recompute
    assert p.count("FileScan parquet") == 6
    # at sf0.001 ALL joins broadcast (everything fits under the
    # threshold); the scale contract is only that no MORE than the two
    # fact-side exchanges (orderkey, custkey) ever appear
    assert p.count("Exchange hashpartitioning") <= 2


def test_q10_take_ordered_top20(spark):
    """Q10's top-20 must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), never a global sort of the grouped output."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q10_returned_items"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "PushedFilters" in p  # returnflag reaches the lineitem scan


def test_q19_fact_never_shuffled(spark):
    """Q19: the disjunctive bracket join is a broadcast of the
    pre-filtered part side — the lineitem stream reaches the final
    1-row aggregate without any hashpartitioning exchange."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q19_bracket_revenue"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p


def test_q4_semi_join_no_fanout(spark):
    """Q4: the EXISTS compiles to a LeftSemi join — each order row
    emitted at most once regardless of lineitem multiplicity."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q4_priority_late_ship"](spark, SF_DIR), "simple")
    assert "LeftSemi" in p


def test_chunk_text_overlap_zero_shuffle(spark):
    """RAG chunking is generate+substring per row: no exchange at all."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["chunk_text_overlap"](spark, SF_DIR), "simple")
    assert "Exchange" not in p


def test_inverse_freq_weights_corpus_not_shuffled(spark):
    """Weights re-attach per-source counts via broadcast; the corpus
    rows must stream map-side (no hashpartitioning on doc rows)."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["inverse_freq_weights"](spark, SF_DIR), "simple")
    assert "Exchange hashpartitioning(doc_id" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_jaccard_verify_single_corpus_pass(spark):
    """jaccard_pairs melts the candidate side: the documents parquet is
    scanned ONCE in the verify subtree.  Static plan: 3 scans total
    (banded self-join's two sides + verify; the old two-join verify made
    it 4).  After AQE the banded sides collapse into a ReusedExchange,
    so the EXECUTED plan runs exactly 2 corpus passes: signatures +
    verify."""
    from opentimes_spark.plans.queries import QUERIES

    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    assert plan(df, "simple").count("FileScan parquet") == 3
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("Scan parquet") == 2, final[:3000]


def test_q2_single_partsupp_pass_window_min(spark):
    """Decorrelated Q2: the correlated MIN becomes a window min over
    the SAME joined stream — part and supplier each scan once, and no
    second partsupp derivation exists in the plan."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q2_min_cost_supplier"](spark, SF_DIR), "simple")
    # part appears twice (partsupp derivation + the size/type filter),
    # supplier twice (partsupp join + name attach), nation/region once;
    # the textbook correlated form would double all of it
    assert p.count("FileScan parquet") <= 6
    assert "Window" in p


def test_q20_fact_aggregated_before_join(spark):
    """Q20: the year's shipments must aggregate on (partkey, suppkey)
    BEFORE joining partsupp — the HashAggregate sits below the join in
    the lineitem subtree, so the join never sees raw lineitem rows."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["q20_excess_stock_suppliers"](spark, SF_DIR))
    i_li = p.find("lineitem.parquet")
    assert i_li > 0
    # a partial aggregate over l_quantity exists (map-side combine of
    # the shipments rollup) — visible as partial_sum in the plan
    assert "partial_sum" in p and "l_quantity" in p


def test_session_stats_reuses_one_user_exchange(spark):
    """events_session_stats_batch chains lag → running-sum → session agg
    → user agg; all four share the user_id partitioning, so the plan
    carries exactly ONE hashpartitioning exchange on the events stream
    (the windows and the first agg reuse it)."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["events_session_stats_batch"](spark, SF_DIR), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_train_val_split_is_map_side_until_final_agg(spark):
    """The split coin is a pure per-row function of doc_id — the only
    exchange in the plan is the final (source, split) count; the corpus
    itself is never repartitioned."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["train_val_split"](spark, SF_DIR), "simple")
    assert p.count("Exchange") == 1
    assert "partial_count" in plan(
        QUERIES["train_val_split"](spark, SF_DIR)
    )  # map-side combine before that exchange


def test_part_skyline_probe_side_broadcasts(spark):
    """The dominance anti-join must evaluate against a BROADCAST copy of
    the (dimension-sized) probe side — a shuffled nested loop over a
    fact-sized pair space would be the wrong plan shape."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["part_skyline"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p and "LeftAnti" in p
    assert "BroadcastExchange" in p


def test_pareto_windows_share_nation_partitioning(spark):
    """cust_revenue_pareto's rank, cumulative sum, and total windows all
    partition by nation — one exchange feeds every window pass (the
    revenue pre-agg shuffles on (nation, customer) first, so two
    exchanges total for the whole query before the final tiny agg)."""
    from opentimes_spark.plans.queries import QUERIES

    p = plan(QUERIES["cust_revenue_pareto"](spark, SF_DIR), "simple")
    # revenue groupBy + window repartition + final nation agg — the two
    # Window specs must NOT add a fourth exchange
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_global_window_lint_flags_raw_fact_sort(spark):
    """Meta-test for tools/lint_oracles.py --windows (VERDICT r6 item 3):
    an unpartitioned Window over a raw fact-table scan is flagged; the
    same window over an aggregate-first frame, over a dimension table,
    or partitioned by a key is not."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from pyspark.sql import Window

    from lint_oracles import unpartitioned_fact_windows

    def facts(df):
        return unpartitioned_fact_windows(
            df._jdf.queryExecution().optimizedPlan()
        )

    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    c = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))

    # violation: global NTILE over the raw orders fact scan
    bad = o.select(
        F.ntile(4).over(Window.orderBy("o_totalprice")).alias("q")
    )
    assert facts(bad) == ["orders"]

    # aggregate-first: rank over a grouped frame — the sorted-fold idiom
    ok_agg = (
        o.groupBy("o_orderstatus")
        .agg(F.sum("o_totalprice").alias("s"))
        .select(F.rank().over(Window.orderBy("s")).alias("r"))
    )
    assert facts(ok_agg) == []

    # dimension table: chunking's documented domain
    ok_dim = c.select(
        F.row_number().over(Window.orderBy("c_custkey")).alias("rn")
    )
    assert facts(ok_dim) == []

    # partitioned window over the fact table: fine
    ok_part = o.select(
        F.rank()
        .over(Window.partitionBy("o_orderstatus").orderBy("o_totalprice"))
        .alias("r")
    )
    assert facts(ok_part) == []

    # limit-bounded: TakeOrdered-style frames don't sort the fact table
    ok_lim = o.orderBy("o_totalprice").limit(10).select(
        F.row_number().over(Window.orderBy("o_totalprice")).alias("rn")
    )
    assert facts(ok_lim) == []


def test_plan_fingerprint_extracts_operator_counts(spark):
    """Meta-test for tools/plan_fingerprints.py: the fingerprint sees
    the operators that matter (scan, exchange, broadcast join) and two
    structurally different plans fingerprint differently."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_fingerprints import fingerprint

    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    n = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))

    agg = o.groupBy("o_orderstatus").count()
    fp_agg = fingerprint(agg)
    assert fp_agg.get("Scan parquet", 0) == 1
    assert any("Exchange" in k for k in fp_agg)

    bj = o.join(F.broadcast(n), o["o_custkey"] % 25 == n["n_nationkey"])
    fp_bj = fingerprint(bj)
    assert fp_bj.get("BroadcastHashJoin", 0) == 1
    assert fp_agg != fp_bj

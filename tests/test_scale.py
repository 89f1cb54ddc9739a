"""Physical-plan assertions for the scale techniques: these tests grep the
executed plan, not just results — a regression that silently reintroduces a
shuffle fails here even though answers stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT
from unfccc_documents_database_sandbox_spark.catalog import load_table


def test_bucketed_join_has_no_shuffle(spark):
    """Same-key same-count bucketed tables must join without an Exchange."""
    from unfccc_documents_database_sandbox_spark.sources.io import write_bucketed

    orders = load_table(spark, SF_CORRECT, "orders")
    lineitem = load_table(spark, SF_CORRECT, "lineitem")
    write_bucketed(orders, "t_orders_b", "o_orderkey", 8, sort_by="o_orderkey")
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b", "o_orderkey", 8, sort_by="o_orderkey",
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the dim fits the broadcast threshold and Catalyst
        # (rightly) prefers broadcast; force sort-merge to exercise the
        # 100 TB fact-fact path where broadcast is impossible
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        joined = ob.join(lb, "o_orderkey").select("o_orderkey", "l_quantity")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan
        # and it still computes the right thing
        expect = (
            orders.join(
                lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                "o_orderkey",
            ).count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_broadcast_join_for_small_dim(spark):
    """Dim tables under the threshold must broadcast, not shuffle the fact."""
    c = load_table(spark, SF_CORRECT, "customer")
    n = load_table(spark, SF_CORRECT, "nation")
    j = c.join(n, c.c_nationkey == n.n_nationkey).select("c_custkey", "n_name")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_scan_prunes_columns_and_pushes_filters(spark):
    """A 2-column projection with a filter must reach the parquet reader as
    ReadSchema + PushedFilters — not a full-schema scan."""
    l = load_table(spark, SF_CORRECT, "lineitem")
    q = l.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema


def test_minhash_never_cartesian(spark):
    """The LSH candidate join and the Jaccard verify must stay equi-joins —
    a cartesian/broadcast-nested-loop anywhere in the near-dup pipeline is
    the O(n^2) failure mode these operators exist to avoid."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    # the portable-hash twins swap only the token hash expression — pin all
    # three pipelines to the same no-quadratic-join shape
    for key in ("dedup_fuzzy_minhash", "dedup_minhash_portable", "dedup_simhash_portable"):
        df = lookup(key).build(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_tpch_suite_never_cartesian(spark):
    """All 22 TPC-H shapes must plan without CartesianProduct or
    BroadcastNestedLoopJoin — the correlated/NOT-IN/disjunctive shapes
    (q2/q16/q17/q19/q21/q22) are exactly the ones that degrade to
    quadratic plans when a predicate stops being equi-joinable."""
    from unfccc_documents_database_sandbox_spark.registry import (
        REGISTRY,
        load_all_plans,
        lookup,
    )

    load_all_plans()
    keys = sorted(
        k.removeprefix("z_") for k in REGISTRY if "sql_tpch_q" in k
    )
    assert len(keys) == 22, keys
    for key in keys:
        df = lookup(key).build(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_frame_sample_plan_has_no_exchange(spark):
    """multimodal_frame_sample is scan → project → ArrowEvalPython/mapInPandas
    — no Exchange anywhere (the r02 spread() repartition was pure overhead for
    the microsecond-per-row stub stage and was the whole 2x bench creep the
    r04 verdict flagged; a real decoder spreads its own input)."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("multimodal_frame_sample").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"frame sampling reintroduced a shuffle:\n{plan}"


def test_sql_q5_broadcasts_dims(spark):
    """The 6-way SQL join must broadcast the small dims rather than
    shuffling the fact side for them."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("sql_tpch_q5").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ordered_limit_uses_take_ordered(spark):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-partition
    top-k + merge), never a full global sort materialization."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("limit_n").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_asof_join_partitions_on_real_key(spark):
    """The as-of merge must hash-partition on the real user key (r02 fix) —
    the r01 plan partitioned on user_id % 5, capping the sort at 5 tasks
    regardless of cluster size."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("join_asof").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k#" in plan  # bare column, not (k % 5)
    assert "% 5" not in plan


def test_join_bucketed_key_shuffle_free(spark):
    """The REGISTERED join_bucketed key must plan its fact-fact join AND
    the per-key aggregation with no Exchange when broadcast is off — the
    whole point of paying the bucketed layout."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = lookup("join_bucketed").build(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_sql_q6_filters_reach_scan(spark):
    """Q6's whole cost model is predicate pushdown: every conjunct must
    appear in the parquet scan's PushedFilters, and the read schema must
    prune to the four referenced columns."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("sql_tpch_q6").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed, f"{col} not pushed: {pushed}"
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_interval_overlap_is_equi_join(spark):
    """The interval-overlap key must run as the bucketized equi-join, never
    the nested-loop join the bare overlap predicate would plan."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("join_interval_overlap").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_window_funcs_two_shuffles(spark):
    """The consolidated window query computes four frame specs over two
    partitionings — the plan must contain exactly two Exchanges (one per
    partitioning): Catalyst shares one sort/shuffle across the w/run/f
    specs. Three-plus exchanges would mean the consolidation silently
    un-shared the window state."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("window_funcs").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan


def test_join_dpp_key_plan_prunes(spark):
    """The REGISTERED join_dpp key must actually trigger dynamic partition
    pruning — a plan without the pruning subquery would scan every day
    directory and silently lose the technique the key exists to prove."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("join_dpp").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """A date-partitioned fact joined to a filtered dim must prune fact
    partitions at runtime (DPP) — the scan reads only the partitions the
    dim filter selects, which is what makes dim-filtered scans of a
    100 TB partitioned fact affordable."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_CORRECT, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    fact_dir = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    days = [r.day for r in fact.select("day").distinct().orderBy("day").collect()]
    dim = spark.createDataFrame(
        [(d, "keep" if i < 2 else "drop") for i, d in enumerate(days)],
        "day string, tag string",
    )
    j = fact.join(dim, "day").filter(F.col("tag") == "keep")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result only contains the kept days
    got_days = {r.day for r in j.select("day").distinct().collect()}
    assert got_days == set(days[:2])


def test_pack_sequences_single_shuffle_per_shard_window(spark):
    """Sequence packing must cost exactly ONE Exchange (the shard
    repartition feeding the windowed cumsum): shards pack independently,
    so any second shuffle (e.g. a global sort) would mean the plan
    silently serialized what is designed to be shard-parallel."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("pack_sequences").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_layout_zorder_prunes_and_stays_codegen(spark):
    """The Morton interleave must stay a pruned-scan + partial/final agg:
    the orders scan reads only the two clustering inputs (o_orderkey is
    projected away), and the 32-term bit arithmetic is pure JVM expression
    work — no Python eval node, no extra exchange."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("layout_zorder").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan, plan
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "o_custkey" in scan[0] and "o_orderdate" in scan[0]
    assert "o_totalprice" not in scan[0], scan[0]


def test_dedup_substring_filter_pushed_to_scan(spark):
    """The length(text) >= 20 guard must reach the parquet scan as a data
    filter on BOTH branches (gram explode and frequency side) — without
    pushdown every sub-20-char row still pays the explode."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("dedup_substring").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and all("length" in s for s in scans), plan


def test_subquery_family_plans_join_shaped(spark):
    """The r03 SQL subquery family must decorrelate: EXISTS / IN+HAVING to
    semi joins, NOT EXISTS to an anti join, and the disjunctive Q19
    predicate must stay a hash equi-join — a nested-loop or cartesian plan
    here would be quadratic at scale."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    plans = {
        k: lookup(k).build(spark, SF_CORRECT)
        ._jdf.queryExecution().executedPlan().toString()
        for k in (
            "sql_tpch_q4", "sql_tpch_q18", "sql_tpch_q19", "sql_tpch_q22",
        )
    }
    for k, p in plans.items():
        assert "CartesianProduct" not in p, f"{k}:\n{p}"
        assert "BroadcastNestedLoopJoin" not in p, f"{k}:\n{p}"
    assert "LeftSemi" in plans["sql_tpch_q4"], plans["sql_tpch_q4"]
    assert "LeftSemi" in plans["sql_tpch_q18"], plans["sql_tpch_q18"]
    assert "LeftAnti" in plans["sql_tpch_q22"], plans["sql_tpch_q22"]


def test_keyterms_scalar_attach_is_one_row_broadcast(spark):
    """text_keyterms attaches the corpus doc count via a literal-key
    broadcast join; Catalyst constant-folds the key and plans a
    BroadcastNestedLoopJoin whose BUILD side is the one-row count — the
    same shape Spark gives a scalar subquery, constant cost at any scale.
    Pin exactly one such join (and no cartesian) so a refactor can't
    silently introduce a REAL nested loop over two big inputs."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    plan = (
        lookup("text_keyterms").build(spark, SF_CORRECT)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_sessionize_single_sort_per_user_partition(spark):
    """events_sessionize's lag + running-sum must share ONE window spec:
    exactly one Exchange hashpartitioning(user_id) and one Sort feeding
    both window functions — a second sort would mean the specs diverged.
    The session aggregate then reuses that partitioning (user_id is a
    prefix of its grouping key), so the WHOLE pipeline is one exchange."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("events_sessionize").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") <= 2, plan  # lag + running sum, no extras
    n_sorts = sum(1 for ln in plan.splitlines() if "Sort " in ln or "+- Sort" in ln)
    assert n_sorts == 1, f"window specs diverged ({n_sorts} sorts):\n{plan}"
    n_exch = plan.count("Exchange hashpartitioning")
    assert n_exch == 1, f"expected the single window exchange, got {n_exch}:\n{plan}"


def test_inverted_index_dedups_before_explode(spark):
    """index_inverted must NOT shuffle (doc, term) pairs to dedup them:
    array_distinct runs row-locally before the explode, so the plan has
    exactly one aggregate exchange (on term) and no distinct-aggregate
    expand."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("index_inverted").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_distinct" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Expand" not in plan, plan


def test_compaction_packs_per_source_no_global_sort(spark):
    """layout_compaction's running offset partitions by source — a global
    (single-partition) Sort here would serialize the whole corpus through
    one task at 100 TB."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("layout_compaction").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(source" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_incremental_dedup_anti_join_projects_digest_only(spark):
    """dedup_incremental's base side must scan ONLY what the digest needs
    (text, doc_id for the mod filter) and join LeftAnti on the 32-byte
    digest — never resurrect the full row or go nested-loop."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("dedup_incremental").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    base_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "documents" in ln
    ]
    assert base_scans and all(
        "lang" not in s and "source" not in s for s in base_scans
    ), f"base scan reads columns the digest doesn't need:\n{plan}"


def test_funnel_single_exchange(spark):
    """events_funnel's three chained conditional-MIN windows all partition
    by user_id with NO ordering — one Exchange and ONE partition-key Sort
    (WindowExec's clustering requirement) serve all three Window nodes and
    the final per-user collapse; a second sort would mean the stages
    stopped sharing the spec. And the plan must be tz-cast-free: a
    `cast(ts as timestamp)` means the microsecond arithmetic picked up the
    caller session's timezone."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("events_funnel").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 3, plan
    n_sorts = sum(1 for ln in plan.splitlines() if "Sort " in ln or "+- Sort" in ln)
    assert n_sorts == 1, f"chained same-spec windows need exactly one sort:\n{plan}"
    # cast-to-date is tz-free field extraction; cast-to-TIMESTAMP (ltz)
    # is the session-zone coercion _ntz_micros exists to avoid
    assert " as timestamp)" not in plan, f"tz-dependent cast crept in:\n{plan}"


def test_prefix_similarity_join_no_cartesian(spark):
    """join_similarity_prefix must stay equi-join-shaped end to end: the
    candidate stage joins on prefix tokens (hash join), never a cartesian
    or nested-loop over doc pairs."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("join_similarity_prefix").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_retention_no_self_join(spark):
    """events_retention derives the cohort week from an unbounded window,
    NOT a first-event self-join — the plan must contain no Join node and
    a single events scan."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("events_retention").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_pagerank_no_cartesian_and_reuses_edges(spark):
    """graph_pagerank's per-iteration joins must stay hash equi-joins
    (rank ⋈ edges, contrib ⋈ nodes). r17: the node count is read off the
    materialized node list as a 1-row scalar and folded into the plan as
    a literal, so the scalar-attach BroadcastNestedLoopJoins (3 in the
    r10-r16 shape) are GONE — zero BNLJ, zero cartesian. The node list
    and edge⋈degree slice are eager localCheckpoints (Scan ExistingRDD),
    so no iteration re-derives lineitem ⋈ orders."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("graph_pagerank").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Semi-join reduction via Spark's runtime bloom filter: with a
    selective filter on the orders side of a fact-fact join, the optimizer
    must inject a bloom_filter_agg on the filtered side and a
    might_contain guard on the lineitem side — at 100 TB that prunes most
    of the big scan's rows BEFORE the shuffle. Thresholds are tuned down
    because test-scale inputs are below the production defaults; the plan
    shape, not the threshold, is what's pinned."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_CORRECT, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # and the guard must sit on the LINEITEM scan branch
        li_branch = plan[plan.index("might_contain"):]
        assert "lineitem" in li_branch, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pq_portable_no_python_in_corpus_path(spark):
    """sim_topk_pq_portable is the all-JVM twin of the pandas-UDF PQ path:
    its plan must contain no Python/Arrow eval nodes (encode + ADC run in
    codegen), no cartesian (the query side is a broadcast), and only the
    final per-query rank may shuffle."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("sim_topk_pq_portable").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan      # Batch/ArrowEvalPython
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_compaction_apply_one_file_per_shard(spark):
    """layout_compaction_apply must leave exactly ONE parquet file per
    (source, shard_id) directory — that IS the small-files fix — with the
    directory count equal to the manifest row count, and every shard's
    payload inside the packing band (target + one doc overshoot: a shard
    closes only when the NEXT doc starts past the target)."""
    import glob
    import os

    from unfccc_documents_database_sandbox_spark.plans.layout import _SHARD_CHARS
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    manifest = lookup("layout_compaction_apply").build(spark, SF_CORRECT)
    rows = manifest.collect()
    assert rows, "empty manifest"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tag = os.path.basename(SF_CORRECT.rstrip("/")).replace(".", "_")
    out = os.path.join(repo, ".csv_tmp", f"compacted_{tag}")
    shard_dirs = glob.glob(os.path.join(out, "source=*", "shard_id=*"))
    assert len(shard_dirs) == len(rows), (len(shard_dirs), len(rows))
    for sd in shard_dirs:
        files = [f for f in os.listdir(sd) if f.endswith(".parquet")]
        assert len(files) == 1, f"{sd}: {files}"

    # packing band: a shard closes only when the next doc STARTS past the
    # target, so its payload is < target + its largest doc
    from pyspark.sql import functions as F

    from unfccc_documents_database_sandbox_spark.catalog import load_table

    max_doc = (
        load_table(spark, SF_CORRECT, "documents")
        .agg(F.max("n_chars"))
        .collect()[0][0]
    )
    for r in rows:
        assert r.total_chars < _SHARD_CHARS + max_doc, r
        assert r.first_doc <= r.last_doc, r


def test_aqe_skew_join_splits_zipfian_hot_partition(spark):
    """index_inverted's docstring names the 100 TB hazard: zipfian head
    terms make one join partition dwarf the median. Pin that AQE's skew
    join actually splits that hot partition (optimizer-driven counterpart
    of the manual join_skew_salted): a 90%-hot-key fact joined to a term
    dim under sort-merge must finalize with SortMergeJoin(skew=true) and a
    skewed AQEShuffleRead. Thresholds are scaled down to test size; the
    mechanism (bytes-vs-median trigger, partition splitting) is the same
    one that fires at production sizes."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 200_000
        fact = (
            spark.range(n)
            .withColumn(
                "term",
                F.when(F.col("id") % 10 > 0, F.lit("the")).otherwise(
                    F.concat(F.lit("t"), (F.col("id") % 1000).cast("string"))
                ),
            )
            .withColumn("payload", F.lpad(F.col("id").cast("string"), 64, "x"))
        )
        dim = (
            spark.range(1001)
            .select(F.concat(F.lit("t"), F.col("id").cast("string")).alias("term"))
            .union(spark.createDataFrame([("the",)], "term string"))
            .withColumn("df_rank", F.length("term"))
        )
        j = fact.join(dim, "term").select("term", "payload", "df_rank")
        assert len(j.collect()) == n  # every fact row matches exactly one term
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_round6_plans_are_cartesian_free_and_broadcast(spark):
    """Round-6 operators: no CartesianProduct/BroadcastNestedLoopJoin
    anywhere; the per-group-stats-broadcast-back keys actually broadcast
    (a global window over the fact table would be the 100 TB anti-pattern
    their docstrings rule out)."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    keys = [
        "text_vocab", "text_tfidf", "text_chunk_sliding", "text_bpe_pairs",
        "text_bigram_cond", "agg_mode_freq", "agg_corr_exact",
        "agg_decimal_money", "events_anomaly", "events_attribution",
        "scd2_history", "basket_pairs", "graph_triangles", "join_lateral",
        "join_null_safe", "dedup_embedding", "agg_skewness_exact",
        "window_cume_distinct",
    ]
    # basket_pairs / text_tfidf attach their lazy one-row scalar aggregate
    # (n_orders / n_docs) via a broadcast cross join — a single-row build
    # side, the same accepted scalar-attach shape graph_pagerank documents;
    # every OTHER nested loop stays banned
    scalar_attach_ok = {"basket_pairs", "text_tfidf"}
    for key in keys:
        df = lookup(key).build(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        if key in scalar_attach_ok:
            assert plan.count("BroadcastNestedLoopJoin") <= 1, key
        else:
            assert "BroadcastNestedLoopJoin" not in plan, key
    for key in ["events_anomaly", "text_tfidf", "text_bigram_cond",
                "join_null_safe", "agg_decimal_money"]:
        df = lookup(key).build(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, key


def test_join_null_safe_builds_from_aggregated_side(spark):
    """ADVICE r06: the broadcast BUILD side of join_null_safe's LeftOuter
    BroadcastHashJoin must be the pre-aggregated <=11-row counts (Spark is
    build-right-only for LeftOuter, so the build side is the right/non-
    preserved side) — and the fact table must be reduced by a partial agg
    BEFORE the join, never broadcast itself."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("join_null_safe").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BuildRight" in plan, plan
    assert "BuildLeft" not in plan, plan
    # the broadcast exchange wraps an aggregate, not a raw events scan:
    # every HashAggregate must appear on the build (post-exchange) branch
    bcast_idx = plan.index("BroadcastExchange")
    assert "HashAggregate" in plan[bcast_idx:], plan


def test_scd2_single_exchange_and_chunking_shuffle_free(spark):
    """scd2_history's two window passes share one (user_id) shuffle+sort —
    Catalyst must plan exactly one Exchange; text_chunk_sliding is pure
    per-row fan-out and must plan ZERO exchanges (chunking 100 TB should
    never shuffle)."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    scd = lookup("scd2_history").build(spark, SF_CORRECT)
    plan = scd._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    chunk = lookup("text_chunk_sliding").build(spark, SF_CORRECT)
    plan = chunk._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_lateral_join_plans_as_window_not_nested_loop(spark):
    """Catalyst must rewrite the correlated LATERAL ... ORDER BY ... LIMIT
    into a window/domain-join shape — never per-outer-row re-execution
    (no nested-loop join in the physical plan)."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("join_lateral").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan or "TakeOrdered" in plan, plan


def test_ivfpq_portable_no_smj_and_no_unbounded_cartesian(spark):
    """sim_topk_ivfpq_portable: the only corpus join is the broadcast cell
    equi-join (probe side = |Q| x nprobe rows) and the refine equi-join —
    never a SortMergeJoin over the corpus and never a CartesianProduct;
    the residual doc filter pushes to the parquet scan."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    df = lookup("sim_topk_ivfpq_portable").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan  # cell probe + refine


def test_stats_prune_scan_reads_only_intersecting_files(spark, tmp_path):
    """read_pruned's physical scan must reference ONLY the pruned file list
    (the data-skipping claim at the plan level, not just the file-list
    level): a band predicate over a range-clustered snapshot table scans
    fewer parquet paths than the live set, and the scan carries pushed
    filters for the residual predicate."""
    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 3) for i in range(400)], "id long, v long"
    )
    snap.create(spark, root, df.repartitionByRange(8, "id"))
    pruned = snap.read_pruned(spark, root, {"id": (100, 149)})
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    n_live = len(snap.live_files(root))
    n_pruned = len(snap.pruned_files(root, {"id": (100, 149)}))
    assert n_pruned < n_live
    assert "PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,100)" in plan, plan
    rows = sorted(r.id for r in pruned.collect())
    assert rows == list(range(100, 150))


# the per-iteration assignment->points joins in cluster_kmeans: Catalyst may
# legitimately plan up to one SMJ per Lloyd round for the N-row-to-N*d-row
# fact join (both sides corpus-sized; broadcasting either would be wrong at
# scale)
_KM_SMJ_ALLOWED = 3


def test_round8_midround_plan_shapes(spark):
    """Pin the r08 mid-round keys' scale-critical plan facts:
    - ts_gapfill: both fill directions ride windows PARTITIONED by the
      series key (never a global, partition-less window sort), and no
      cartesian/nested-loop anywhere;
    - cluster_kmeans: every centroid-side join is a BroadcastHashJoin
      (the k*d table must broadcast; a sort-merge join against the point
      scan would shuffle the corpus once per iteration) with exactly one
      SortMergeJoin allowed for the N-row assignment<->points join;
    - sql_scalar_udf: the SQL UDF body is analyzer-INLINED — no python
      worker, no eval node; one scan + partial/final agg pair;
    - json_variant_extract: parse+extract stay codegen'd JVM expressions
      (no BatchEvalPython / ArrowEvalPython)."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()

    plan_of = {}
    for key in ["ts_gapfill", "cluster_kmeans", "sql_scalar_udf",
                "json_variant_extract"]:
        df = lookup(key).build(spark, SF_CORRECT)
        plan_of[key] = df._jdf.queryExecution().executedPlan().toString()

    gap = plan_of["ts_gapfill"]
    assert "CartesianProduct" not in gap and "BroadcastNestedLoopJoin" not in gap
    # every Window node partitions by the series key — no global window
    import re
    for wline in re.findall(r"Window .*", gap):
        assert "event_type" in wline, wline

    km = plan_of["cluster_kmeans"]
    assert "CartesianProduct" not in km
    assert km.count("BroadcastHashJoin") >= 3, km  # one per assignment round
    assert km.count("SortMergeJoin") <= _KM_SMJ_ALLOWED, km

    udf = plan_of["sql_scalar_udf"]
    assert "EvalPython" not in udf and "PythonUDF" not in udf, udf
    assert "HashAggregate" in udf, udf

    var = plan_of["json_variant_extract"]
    assert "EvalPython" not in var, var
    assert var.count("Exchange") == 1, var


def test_recursive_bom_step_is_hash_join_and_epoch_shuffle_single_exchange(spark):
    """sql_recursive_bom's recursion step must plan as a hash join on the
    derived parent key — the IN-list spelling regressed to a per-level
    BroadcastNestedLoopJoin over the whole part table (2.4x slower at
    sf0.1); shuffle_epoch must ride ONE exchange (the shard deal) with
    its window and digest aggregate sharing it."""
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    bom = lookup("sql_recursive_bom").build(spark, SF_CORRECT)
    plan = bom._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    se = lookup("shuffle_epoch").build(spark, SF_CORRECT)
    plan = se._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_containment_join_no_cartesian_prefix_bounded(spark):
    """dedup_containment (r11): the candidate stage must stay an
    equi-join (probe prefix ⋈ full postings) — never
    cartesian/nested-loop — and the probe side must be the SLICED prefix
    (a `slice(toks, 1, ...)` projection feeding the explode), not the
    full token list, or fan-out goes quadratic on the zipfian head."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    df = lookup("dedup_containment").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "slice(" in plan  # the probe prefix is genuinely bounded


def test_heavy_hitters_full_histogram_never_shuffles(spark):
    """sketch_heavy_hitters (r11): only CANDIDATE keys may reach the
    exact-recount shuffle — the plan must show the Python (Misra–Gries)
    stage feeding a broadcast semi-join that filters the stream BEFORE
    its groupBy, so the full key histogram never materializes."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    df = lookup("sketch_heavy_hitters").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan            # the sketch pass
    assert "LeftSemi" in plan               # candidates filter the stream
    assert plan.index("LeftSemi") < plan.index("MapInPandas") or \
        "BroadcastHashJoin" in plan         # semi-join is broadcast-shaped
    assert "CartesianProduct" not in plan


def test_audio_energy_stage_is_shuffle_free_before_rank(spark):
    """multimodal_audio_energy (r11): the window expansion runs inside
    the Arrow stage that already holds the payload — the ONLY exchange
    in the plan is the per-media rank over the tiny windows table."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )
    import re

    load_all_plans()
    df = lookup("multimodal_audio_energy").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "MapInPandas" in plan


def test_hive_partitioned_scan_prunes_directories(spark):
    """source_hive_partitioned (r11): the lang IN-filter must appear
    under PartitionFilters (planning-time directory pruning), not merely
    as a pushed data filter."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )
    import re

    load_all_plans()
    df = lookup("source_hive_partitioned").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan


def test_tpcds_rollup_rank_plans_one_expand_no_cartesian(spark):
    """sql_tpcds_q36 / q67 (r12): a ROLLUP plus rank-within-parent must
    plan as ONE Expand feeding one aggregate and one Window — never a
    per-grouping-set re-aggregation, and never a cartesian anywhere."""
    import re

    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    for key in ("sql_tpcds_q36", "sql_tpcds_q67"):
        df = lookup(key).build(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bExpand\b", plan)) == 1, (key, plan)
        assert re.search(r"\bWindow\b", plan), key
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_tpcds_q44_positional_rank_join_is_equi(spark):
    """sql_tpcds_q44 (r12): joining the best and worst rank lists by
    position (b.rn = w.rn) and attaching part names must stay hash/
    sort-merge equi-joins — four joins, zero nested-loop fallbacks."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    df = lookup("sql_tpcds_q44").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_dp_stays_jvm_side_and_encode_broadcasts(spark):
    """text_unigram encode path (r12): the Viterbi DP is a pure
    higher-order expression over the distinct-word table — NO Python
    stage may appear in its plan (the whole point of the aggregate()
    formulation) — and the per-word piece counts must broadcast back
    onto the per-doc word counts (vocabulary-sized dim, never a corpus
    shuffle for the join)."""
    from unfccc_documents_database_sandbox_spark.plans.training import (
        _uni_dp,
        _uni_words,
        learn_unigram,
    )
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    vocab = learn_unigram(spark, SF_CORRECT)
    cost = {p: c for p, (_n, c) in vocab.items()}
    dp = _uni_dp(_uni_words(spark, SF_CORRECT), cost)
    dplan = dp._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in dplan
    assert "ArrowEvalPython" not in dplan
    assert "MapInPandas" not in dplan
    enc = lookup("text_unigram_encode").build(spark, SF_CORRECT)
    eplan = enc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in eplan
    assert "CartesianProduct" not in eplan


def test_r15_third_wave_dedup_joins_never_cartesian(spark):
    """X217/X222: SemDeDup's pair join is cell-keyed and the image
    dedup's candidate join is band-keyed — a cartesian/BNLJ anywhere
    is the O(n^2) failure these blocked designs exist to avoid."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    for key in ("dedup_semantic", "multimodal_image_dedup"):
        df = lookup(key).build(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_hybrid_rrf_broadcasts_the_query_dims(spark):
    """X216: both legs must broadcast their tiny sides — the BM25 leg's
    7-row query list and vocabulary-sized df dim, the dense leg's 3-row
    query set. The corpus side must never be the broadcast build."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    df = lookup("search_hybrid_rrf").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_quality_classifier_is_shuffle_free_after_spread(spark):
    """X215: the gate is one row-local fold — beyond the spread()
    repartition of the scan, NO exchange may appear (a shuffle here
    would mean the classifier isn't running at scan speed)."""
    import re

    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans,
        lookup,
    )

    load_all_plans()
    df = lookup("text_quality_classifier").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) <= 1  # the spread only
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_trained_classifier_weight_dim_broadcasts(spark):
    """r16 (VERDICT r15 #7): the trained-weights quality classifier's
    4096-row weight dim must apply as a BROADCAST hash join (the
    hashing trick keeps it O(buckets) at any vocab size, so the corpus
    side never shuffles for the lookup); the only Exchange is the
    per-doc score rollup, and nothing degenerates to a nested-loop."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans, lookup,
    )

    load_all_plans()
    df = lookup("text_quality_classifier_trained").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # shuffle exchanges: the doc rollup plus at most the spread()
    # repartition guard — never a corpus-side exchange for the lookup
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2, plan


def test_nfc_gate_is_zero_exchange(spark):
    """r16: the Unicode NFC gate must run at scan speed — one Arrow
    mapInPandas pass, ZERO shuffle exchanges (the spread() guard is a
    no-op on an already-parallel scan at this SF)."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans, lookup,
    )

    load_all_plans()
    df = lookup("text_normalize_nfc").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 0, plan


def test_temperature_mix_never_reshards_the_corpus(spark):
    """r16: temperature mixing exchanges COUNTS, never the corpus — the
    per-language dims broadcast back onto the scan (BroadcastHashJoin),
    and every shuffle in the plan is a lang-keyed aggregate over
    |languages|-scale rows. No SortMergeJoin, no nested-loop."""
    from unfccc_documents_database_sandbox_spark.registry import (
        load_all_plans, lookup,
    )

    load_all_plans()
    df = lookup("corpus_mix_temperature").build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one nested-loop: the 1-row n_min scalar attached to the
    # |languages|-row counts dim (the test_keyterms one-row-build
    # precedent) — never a corpus-side nested loop
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan

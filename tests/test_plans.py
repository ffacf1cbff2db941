"""Physical-plan regression tests — the scale contract.

Correctness says WHAT each operator computes; these tests pin HOW Spark
executes it: filters reach the parquet scan, projections prune the read
schema, small sides broadcast, aggregations combine map-side, top-k plans
as TakeOrderedAndProject, and the hot path stays inside whole-stage
codegen. At 100 TB each of these properties is the difference between one
pass and a cluster-wide shuffle — a regression here should fail CI even
though results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proteus_spark.registry import all_queries

QS = all_queries()


def plan(df) -> str:
    """Initial physical plan (pre-AQE) with scan metadata — same string
    ``df.explain('formatted')`` prints."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return plan(QS[name](spark, sf_dir))

    return run


def test_projection_prunes_read_schema(q):
    p = q("ref_projection")
    assert "ReadSchema: struct<c_name:string,c_acctbal:double>" in p


def test_range_filter_pushed_to_scan(q):
    p = q("ref_range_filter")
    assert "GreaterThanOrEqual(l_quantity,10" in p
    assert "LessThan(l_quantity,20" in p


def test_q6_all_predicates_pushed(q):
    p = q("tpch_q6")
    for f in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({f})" in p or f in p.split("PushedFilters")[1].split("\n")[0]
    assert "GreaterThanOrEqual(l_shipdate" in p


def test_lobsters_pipeline_plan_shape(q):
    p = q("ref_lobsters_topk")
    assert "TakeOrderedAndProject" in p  # top-k never global-sorts
    assert "BroadcastHashJoin" in p  # orders side broadcasts
    assert "partial_sum" in p  # map-side combine before the exchange
    assert "SortMergeJoin" not in p


def test_sum_view_partial_aggregation(q):
    import re

    p = q("ref_sum_view")
    assert "partial_sum" in p
    # exactly one shuffle: by group key
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_broadcast_small_dims_in_tpch_q5(q):
    p = q("tpch_q5")
    # region/nation/supplier/customer are all small at any SF that keeps
    # them dimension-shaped; none may trigger a sort-merge join here
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_similarity_broadcasts_queries(q):
    p = q("llm_sim_bruteforce")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_bruteforce_topk_is_two_phase(q):
    """No per-query single-task sort: the corpus-sized ranking must keep a
    partial per-input-partition top-k BEFORE the exchange so only the
    bounded P x k survivors reach the per-qid merge. Since r15 the
    operator is a single ``row_number() <= k`` window and the phase split
    comes from Spark's rank-limit pushdown: the plan must carry a
    WindowGroupLimit below the qid exchange (Partial mode) and exactly ONE
    window exchange — the manual two-window form this replaced cost a
    second Exchange + two Sorts per call."""
    import re

    p = q("llm_sim_bruteforce")
    # rank pushdown fired: partial + final group-limit around the exchange
    assert p.count("WindowGroupLimit") >= 2, p
    wins = re.findall(r"\[row_number.*?windowspecdefinition\(([^)]*)\)", p)
    assert wins, p
    # every ranking window partitions by qid alone — no second
    # (partition-id keyed) window pass survives in the plan
    assert all("qid" in w and "_pid" not in w for w in wins), wins


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    # the *(n) codegen markers only exist on the AQE-final executed plan
    for name in ("ref_sum_view", "tpch_q1", "ref_range_filter"):
        df = QS[name](spark, sf_dir)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in final, f"{name} fell out of whole-stage codegen"


def test_minhash_no_cartesian(q):
    p = q("llm_dedup_minhash_lsh")
    assert "CartesianProduct" not in p  # candidates come from equi-joins


def test_minhash_verify_restricts_corpus_exactly_once(q):
    """r14 perf pin: minhash_lsh_dedup prunes the corpus to candidate
    docs ONCE (the shingle_ids semi-join); jaccard_pairs must not
    re-restrict via a second semi-join (pre_restricted=True skips the
    rebuild — measured 15-20% of the pipeline). A future refactor that
    silently reintroduces the doubled restriction fails here."""
    import re

    p = q("llm_dedup_minhash_lsh")
    # the formatted tree renders a reused subtree once per referencing
    # branch — count DISTINCT node ids, not line occurrences
    nodes = set(re.findall(r"Join LeftSemi \((\d+)\)", p))
    assert len(nodes) == 1, (
        f"expected exactly one LeftSemi node (the candidate-doc prune), "
        f"plan has {sorted(nodes)}"
    )


def test_minhash_candidates_checkpointed_out_of_verify_plan(q):
    """r16 perf pin: minhash_lsh_dedup materializes the candidate pair
    set via eager localCheckpoint, so the banding pipeline (the posexplode
    band table + signature subtree) must NOT be re-embedded in the
    verification plan — the checkpoint truncates it to a Scan ExistingRDD
    and AQE sees the candidate set's real size (measured: exchanges 45→16,
    exec 1.00→0.56s at sf0.1). A refactor back to .cache() re-embeds the
    subtree 4× and fails both asserts."""
    p = q("llm_dedup_minhash_lsh")
    assert "Scan ExistingRDD" in p, "candidate set no longer checkpoint-backed"
    assert "posexplode" not in p, (
        "banding pipeline re-embedded in the verification plan "
        "(candidate set no longer truncated by localCheckpoint)"
    )


def test_index_lookup_prunes(q):
    p = q("ref_index_range")
    # the index's configured value bounds [0,50) reach the base scan, and
    # the lookup range [10,20) filters the sorted in-memory structure —
    # the B-tree-parity split (build bounds vs AscendRange bounds)
    assert "GreaterThanOrEqual(p_size,0)" in p
    assert "LessThan(p_size,50)" in p
    assert "InMemoryTableScan" in p and "(p_size#" in p
    assert "TakeOrderedAndProject" in p  # capped lookup, no full sort


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-located join: both sides bucketed+sorted on the join key ->
    the equi-join plans with ZERO Exchange (no shuffle) — the write-time
    shuffle is amortized over every downstream join on that key."""
    import re

    from pyspark.sql import functions as F

    from proteus_spark.operators.bucketing import drop_bucketed, materialize_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    try:
        bo = materialize_bucketed(orders, "b_orders", "o_orderkey", buckets=8)
        bl = materialize_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem",
            "o_orderkey",
            buckets=8,
        )
        joined = bo.hint("merge").join(bl, "o_orderkey")
        p = plan(joined)
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p
        # and the result is still correct
        n = joined.count()
        want = (
            li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        )
        assert n == want
    finally:
        drop_bucketed(spark, "b_orders", "b_lineitem")


def test_partitioned_table_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout + predicate on the partition column ->
    PartitionFilters prune at planning time; non-matching partitions are
    never listed, let alone read. The deployment-scale equivalent of the
    reference's config-time index sharding, chosen per-query by Catalyst."""
    out = str(tmp_path / "orders_by_status")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).filter("o_orderstatus = 'F'").select("o_orderkey")
    p = plan(df)
    assert "PartitionFilters" in p
    assert "o_orderstatus" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]
    want = orders.filter("o_orderstatus = 'F'").count()
    assert df.count() == want


def test_range_join_is_equi_join(q):
    """The bucketized range join must plan as a hash equi-join on
    (key, bucket) — never a nested-loop/cartesian theta join."""
    p = q("range_join_events")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_bm25_single_wide_aggregation(q):
    """BM25 must stay one explode + one hash-agg shuffle (plus the top-k
    exchange); corpus stats ride a broadcast, never a sort-merge join."""
    p = q("llm_bm25_search")
    assert p.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p  # map-side combine of the wide agg


def test_embedding_neardup_no_cartesian(q):
    """SRP candidate generation must stay an equi-join on (band, bval):
    no cartesian/broadcast-nested-loop pair enumeration, and the float
    arrays must not ride the candidate distinct (id-only exchange)."""
    p = q("llm_dedup_embedding")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the candidate-dedup aggregate groups ids only — vectors join later
    assert "avec" not in p.split("HashAggregate")[1]


def test_durable_index_prunes_partitions(spark, sf_dir, tmp_path):
    """DurableRangeIndex lookups must prune at the DIRECTORY level: the
    bucket bounds land in PartitionFilters, and results match the
    in-memory RangeIndex exactly."""
    from proteus_spark.operators.index import DurableRangeIndex, RangeIndex

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    mem = RangeIndex(cust, attribute="c_nationkey", key="c_custkey")
    dur = DurableRangeIndex(
        cust, attribute="c_nationkey", key="c_custkey",
        path=str(tmp_path / "idx"), bucket_width=5,
    )
    got = dur.lookup_range(7, 12)
    p = plan(got)
    assert "PartitionFilters" in p
    seg = p.split("PartitionFilters: [")[1].split("]")[0]
    assert "_idx_bucket" in seg  # non-empty partition filter list
    expect = [
        (r["c_custkey"], r["c_nationkey"])
        for r in mem.lookup_range(7, 12).collect()
    ]
    actual = [(r["c_custkey"], r["c_nationkey"]) for r in got.collect()]
    assert actual == expect


def test_chunk_documents_no_shuffle(q):
    """Chunking is per-row sequence+explode — the plan must contain no
    Exchange at all (embarrassingly parallel at any scale)."""
    p = q("llm_chunk_documents")
    assert "Exchange" not in p
    assert "Generate" in p  # the explode


def test_pii_scrub_single_projection(q):
    """PII scrub is one codegen projection over the text scan: no
    Exchange, no Python evaluation."""
    p = q("llm_pii_scrub")
    assert "Exchange" not in p
    assert "Python" not in p


def test_pack_sequences_no_global_window(q):
    """The packing prefix-sum must run per range-bucket, never as a
    single-task global window: every Window in the plan partitions by the
    bucket column (a global window shows an empty partition spec and an
    Exchange SinglePartition)."""
    p = q("llm_pack_sequences")
    assert "SinglePartition" not in p
    assert "Window" in p


def test_decontaminate_equi_join(q):
    """Candidate generation is an equi-join on the shingle id — no
    cartesian/broadcast-nested-loop anywhere."""
    p = q("llm_decontaminate")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bucketed_tables_join_without_exchange(spark, sf_dir):
    """Bucketing for co-located joins (the 100 TB fact-fact join shape):
    orders and lineitem written bucketed by the join key join WITHOUT any
    Exchange — both sides scan pre-partitioned buckets. At deployment
    scale this is the difference between a full dual-table shuffle per
    join and zero shuffle for every future join on the key."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable("b_orders"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("b_lineitem"))
    try:
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        p = plan(joined)
        assert "Exchange" not in p, p
        n = joined.count()
        assert n == li.count()  # every lineitem matches its order
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_decontaminate_broadcasts_eval_side(q):
    """The eval benchmark set is small at any training-corpus scale —
    its shingle set must broadcast (a missed broadcast would shuffle
    every train shingle)."""
    p = q("llm_decontaminate")
    assert "BroadcastHashJoin" in p


def test_tfidf_window_is_per_doc_with_group_limit(q):
    p = q("llm_tfidf_topterms")
    # rank<=N pushed into the window operator (WindowGroupLimit) so only
    # top-3 candidates per doc survive the sort buffer
    assert "WindowGroupLimit" in p
    # ranking window partitions by doc_id — never a single-task global sort
    assert "hashpartitioning(doc_id" in p
    # tf aggregation combines map-side before its exchange
    assert "partial_count" in p


def test_histogram_sketch_combines_map_side(q):
    p = q("agg_histogram_sketch")
    # both rollup levels (monthly partial, merged) pre-aggregate map-side
    assert "partial_count" in p or "partial_sum" in p


def test_inverted_index_caps_before_collect(q):
    p = q("llm_inverted_index")
    # posting cap runs as a WindowGroupLimit: map-side sorts keep only
    # `cap` candidates per term before any list aggregation
    assert "WindowGroupLimit" in p
    assert "hashpartitioning(term" in p


def test_zorder_index_prunes_2d_box(spark, sf_dir, tmp_path):
    """ZOrderIndex2D: a 2-D box lookup prunes at the directory level (z
    partition filter) and matches the brute-force conjunction exactly; a
    small box must read a fraction of the z partitions."""
    from proteus_spark.operators.index import ZOrderIndex2D

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    n_users = ev.agg(F.max("user_id")).collect()[0][0] + 1
    idx = ZOrderIndex2D(
        ev, attr_a="user_id", attr_b="value", key="event_id",
        path=str(tmp_path / "zidx"),
        a_bounds=(0, float(n_users)), b_bounds=(0.0, 500.0),
    )
    box = dict(a_lb=0, a_ub=max(1, n_users // 8), b_lb=0.0, b_ub=60.0)
    got = idx.lookup_box(**box)
    p = plan(got)
    assert "PartitionFilters" in p
    assert "_z_bucket" in p.split("PartitionFilters: [")[1].split("]")[0]
    expect = sorted(
        r["event_id"]
        for r in ev.filter(
            (F.col("user_id") >= box["a_lb"]) & (F.col("user_id") < box["a_ub"])
            & (F.col("value") >= box["b_lb"]) & (F.col("value") < box["b_ub"])
        ).collect()
    )
    assert sorted(r["event_id"] for r in got.collect()) == expect
    # pruning actually skips directories: the box covers ~1/8 x ~1/8 of the
    # grid, so the surviving z-partition list must be well under the total
    total = spark.read.parquet(str(tmp_path / "zidx")).select("_z_bucket").distinct().count()
    seg = p.split("PartitionFilters: [")[1].split("]")[0]
    import re
    n_kept = len(re.findall(r"\d+", seg.split("IN (")[-1])) if "IN (" in seg else total
    assert n_kept < total / 2


def test_editdistance_verify_is_candidate_pushed(q):
    """Levenshtein runs on candidate pairs only: the plan must contain no
    cartesian/nested-loop product — candidates come from the block
    equi-join and texts join back by id."""
    p = q("llm_dedup_editdistance")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bloom_probe_broadcasts_filter(q):
    """The (word, bits) filter relation is KB-sized by construction and
    must broadcast to the probe side."""
    p = q("agg_bloom_probe")
    assert "BroadcastHashJoin" in p


def test_gopher_filter_pure_codegen_scan(q):
    """Gopher rules must evaluate inside one codegen projection over the
    scan: no shuffle, no UDF eval, only text+doc_id read from parquet."""
    p = q("llm_gopher_filter")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_containment_no_cartesian(q):
    """Containment candidate generation is the shingle equi-join —
    never a cartesian / nested-loop pair enumeration."""
    p = q("llm_dedup_containment")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_skew_report_broadcast_stats_and_heap_topk(q):
    """The heavy-hitter pick must be TakeOrderedAndProject (partition-local
    heaps) and the one-row stats frame must broadcast; per-key counts
    combine map-side."""
    p = q("dq_skew_report")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p


def test_radius_search_broadcasts_query_bands(q):
    """Radius search must join corpus bands against BROADCAST query bands
    (corpus side never shuffles for candidate generation) and never
    enumerate pairs via cartesian/nested-loop."""
    p = q("llm_sim_radius")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_deciles_no_global_window(q):
    """Quantile bucketing must not plan a global ranking window (the
    single-task ntile shape); boundaries ride a broadcast."""
    p = q("customer_value_deciles")
    assert "Window" not in p
    assert "BroadcastExchange" in p


def test_perplexity_broadcast_vocab_no_cartesian(q):
    """Perplexity must join token stream to vocab via broadcast (no
    sort-merge shuffle of the exploded stream against the vocab) and
    never plan a cartesian."""
    p = q("llm_perplexity_score")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_transition_matrix_windows_keyed_by_user(q):
    """The lead() window must partition by user_id — an unpartitioned
    window here would single-task the whole event table."""
    p = q("events_transition_matrix")
    flat = p.replace(" ", "")
    assert "lead(" in flat
    assert "windowspecdefinition(user_id" in flat


def test_exact_substring_no_pairwise_join(q):
    """Span-level repeat detection must be a hash aggregation on the
    window key + equi-join back — linear in corpus tokens. A pairwise
    doc-to-doc shape (cartesian or non-equi join) would be quadratic."""
    p = q("llm_dedup_exact_substring")
    assert "CartesianProduct" not in p
    assert "count(distinct doc_id" in p.replace("#", " ").lower() or "partial_count" in p
    # the documents scan feeds only doc_id + text into the window explode
    assert "struct<doc_id:bigint,text:string>" in p


def test_token_budget_window_keyed_by_source(q):
    """The cumulative-tokens window must partition by source — an
    unpartitioned cumsum would single-task the corpus."""
    p = q("llm_token_budget_sample")
    flat = p.replace(" ", "")
    assert "windowspecdefinition(source" in flat
    assert "CartesianProduct" not in p


def test_semdedup_pairs_are_cluster_keyed(q):
    """SemDeDup's pair stage must equi-join on the CLUSTER id (the pair
    space is sum(|cluster|^2) — the quantity the clustering bounds), with
    the rank inequality + similarity threshold as post-join predicates,
    and the keep-order window must partition by cluster. An all-pairs
    shape (cartesian, or a join that lost the bucket key) fails here."""
    p = q("llm_semdedup_prune")
    flat = p.replace(" ", "")
    assert "CartesianProduct" not in p
    # pair join keyed by bucket alone (formatted-explain key lists; the
    # rank inequality + sim threshold ride as post-join conditions)
    assert "Leftkeys[1]:[bucket" in flat and "Rightkeys[1]:[bucket" in flat
    # keep-order rank window partitioned by the same cluster key
    assert "windowspecdefinition(bucket" in flat


def test_semdedup_capped_pair_side_is_bounded(q):
    """The capped SemDeDup variant must (a) keep the cluster-keyed
    equi-join and (b) pre-filter the earlier-partner side to the C
    lowest keep-ranks BEFORE the join (Condition: rk <= C) — that filter
    is what bounds the per-cluster pair space to |cluster| x C instead
    of |cluster|^2/2, the hot-cluster mitigation. Losing the filter (or
    applying it post-join) silently restores the quadratic pair space
    while producing different-but-plausible output."""
    import re

    p = q("llm_semdedup_capped")
    flat = p.replace(" ", "")
    assert "CartesianProduct" not in p
    assert "Leftkeys[1]:[bucket" in flat and "Rightkeys[1]:[bucket" in flat
    # the rk <= C bound is a standalone pre-join Filter condition, not a
    # post-join predicate (post-join it would read (a_rk < b_rk) AND ...)
    assert re.search(r"Condition:\(rk#\d+<=8\)", flat)


def test_semdedup_capped_is_subset_of_uncapped(spark, sf_dir):
    """Semantic pin: the capped prune set is a deterministic
    UNDER-approximation — restricting the earlier-partner test to the C
    lowest keep-ranks can only remove prune evidence, never invent it.
    Every capped-pruned vector must appear in the uncapped prune set."""
    capped = {r.vec_id for r in QS["llm_semdedup_capped"](spark, sf_dir).select("vec_id").collect()}
    uncapped = {r.vec_id for r in QS["llm_semdedup_prune"](spark, sf_dir).select("vec_id").collect()}
    assert capped <= uncapped


def test_hierarchical_fine_broadcast_gated(spark, sf_dir):
    """The hierarchical k-means fine join is equi on the coarse bucket,
    so F.broadcast(c) is a pure optimization hint — at the paper's
    deployment scale (k=50k, dim 768 ≈ 300 MB) an UNCONDITIONAL hint
    becomes the limiter before the math does (VERDICT r8). Pin the gate:
    (a) under the k x dim bound the hint is kept (broadcast join even
    with auto-broadcast disabled — hints override the threshold);
    (b) above the bound (forced via broadcast_max_cells=0) the fine
    join plans as a NON-broadcast join on the _cb key;
    (c) assignment output is identical either way."""
    from proteus_spark.llmops.similarity import kmeans_train_hierarchical
    from proteus_spark.registry import load

    emb = load(spark, sf_dir, "embeddings")
    k, kc = 16, 4
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast so any broadcast in the plan comes from
        # an explicit hint, not the planner's size estimate
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import re

        # the fine join's right side is the plain _cb centroid key (the
        # left carries a cast); match the join node + its key detail
        fine_bcast = re.compile(
            r"BroadcastHashJoin.{0,80}?Rightkeys\[1\]:\[_cb#\d+"
        )
        fine_shuffle = re.compile(
            r"(SortMergeJoin|ShuffledHashJoin).{0,80}?Rightkeys\[1\]:\[_cb#\d+"
        )
        _, idx_b = kmeans_train_hierarchical(emb, k=k, kc=kc, rounds=1)
        pb = plan(idx_b).replace(" ", "").replace("\n", "")
        assert fine_bcast.search(pb)
        _, idx_s = kmeans_train_hierarchical(
            emb, k=k, kc=kc, rounds=1, broadcast_max_cells=0
        )
        ps = plan(idx_s).replace(" ", "").replace("\n", "")
        assert not fine_bcast.search(ps)
        # the _cb equi-join still exists — as a shuffle join
        assert fine_shuffle.search(ps)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    a = sorted(tuple(r) for r in idx_b.select("vec_id", "bucket").collect())
    b = sorted(tuple(r) for r in idx_s.select("vec_id", "bucket").collect())
    assert a == b


def test_quality_classifier_scoring_is_one_narrow_stage(q):
    """After the fixed GD rounds train driver-side-pulled weights, the
    returned scoring frame must be ONE whole-stage-codegen projection
    over the checkpointed feature frame — learned weights inlined as
    literals in the logistic expression, no shuffle, no join. (Each
    training round is separately a scan + 6-value exact aggregation;
    this pins the apply path a 100-TB deployment would run per batch.)"""
    p = q("llm_quality_classifier")
    flat = p.replace(" ", "")
    assert "Exchange" not in p
    assert "CartesianProduct" not in p
    assert "ScanExistingRDD" in flat  # scores the checkpointed features
    assert "EXP(" in p  # the inlined logistic over literal weights


def test_q21_semi_anti_self_joins(q):
    """Q21's canonical shape: the 'another supplier also shipped' /
    'no other supplier was late' conditions are a LeftSemi and a LeftAnti
    lineitem self-join — set-membership joins that never duplicate probe
    rows — feeding one partial+final count aggregation and a top-100
    TakeOrderedAndProject. A correlated-subquery rewrite that degenerated
    into per-row re-scans (or a cartesian) fails here."""
    p = q("tpch_q21")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p


def test_pagerank_iterations_are_equi_joins(q):
    """Every unrolled PageRank iteration must shuffle on the part key via
    equi-joins — the within-order pairing is an equi-join on l_orderkey
    with a residual !=, never a cartesian; top-20 never global-sorts."""
    p = q("graph_pagerank_parts")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


# Queries where a BroadcastNestedLoopJoin is INTENTIONAL: a one-row (or
# query-set-sized) frame — global totals, decile boundaries, corpus stats,
# calendar bounds, the ANN query set — broadcast against the big side.
# BNLJ with a tiny build side is a map-side scalar join, not a blow-up.
_BNLJ_OK = {
    "dq_skew_report",          # broadcast global key stats (1 row)
    "events_gap_fill_hourly",  # broadcast calendar bounds (1 row)
    "customer_value_deciles",  # broadcast decile boundary array (1 row)
    "tpch_q22",                # broadcast global avg acctbal (1 row)
    "llm_bm25_search",         # broadcast corpus stats (1 row)
    "llm_tfidf_topterms",      # broadcast doc count (1 row)
    "llm_sim_bruteforce",      # broadcast query set vs corpus (by design)
    "llm_sim_mips_recall",     # exact-baseline side broadcasts queries
    "llm_knn_classify",        # broadcast query set vs labeled corpus
    "llm_embed_class_margins", # broadcast 10-centroid table vs corpus
    "llm_sim_ivf_nprobe2",     # broadcast probed-centroid set
    "llm_sim_ivf_kmeans",      # broadcast learned-centroid set
    "llm_cluster_audit",       # broadcast learned-centroid set (same model)
    "llm_semdedup_prune",      # broadcast learned-centroid set (same model)
    "llm_semdedup_capped",     # broadcast learned-centroid set (same model)
    "llm_semdedup_hier",       # broadcast coarse-centroid set (two-level)
    "llm_corpus_mixture",      # broadcast corpus totals (1 row)
    "llm_dsir_select",         # broadcast bigram totals (1 row)
    "llm_perplexity_score",    # broadcast vocab-size scalar (1 row)
    "agg_hll_rollup",          # broadcast merged-sketch estimate + exact
    #                            total (two 1-row frames ride every row)
}


def test_no_cartesian_product_in_any_batch_query(spark, sf_dir):
    """Global anti-pattern audit: every registered batch query's physical
    plan must be free of CartesianProduct (quadratic row-pairing), and any
    BroadcastNestedLoopJoin must be on the explicit whitelist of
    intentional tiny-broadcast joins above. A new query that accidentally
    cross-joins (missed join key, non-equi predicate on two big sides)
    fails here before it ever ships."""
    from proteus_spark import registry

    registry._import_all()
    offenders: dict[str, list[str]] = {}
    for name, spec in registry.QUERIES.items():
        if "streaming" in spec.tags or name.startswith("stream_"):
            continue  # stream queries RUN pipelines on call — covered by
            # their own oracles; their batch sub-plans appear elsewhere
        p = plan(spec.fn(spark, sf_dir))
        hits = [k for k in ("CartesianProduct",) if k in p]
        if "BroadcastNestedLoopJoin" in p and name not in _BNLJ_OK:
            hits.append("BroadcastNestedLoopJoin (not whitelisted)")
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_no_row_at_a_time_python_udfs_in_package():
    """The package-wide 'UDFs are the slow path' contract: no F.udf /
    @udf row-at-a-time Python UDF anywhere in proteus_spark — all
    Python-side compute goes through Arrow-batched mapInPandas /
    applyInPandasWithState."""
    import pathlib

    import proteus_spark

    root = pathlib.Path(proteus_spark.__file__).parent
    hits = []
    for f in root.rglob("*.py"):
        src = f.read_text()
        if "F.udf(" in src or "@udf" in src or "functions.udf(" in src:
            hits.append(str(f))
    assert not hits, hits


def test_pagerank_iteration_shape_and_checkpoint_truncation(spark, sf_dir):
    """The convergence-PageRank contract (VERDICT r4 #6): each round is
    one EQUI-join + one hash aggregation (never a cartesian/BNLJ), and
    localCheckpoint truncates lineage — a step built on a checkpointed
    rank vector plans as a scan of the checkpoint RDD, not as a replay of
    all prior iterations (without truncation the plan doubles per round
    and analysis time explodes)."""
    from proteus_spark.queries.sqlsurface import (
        _pagerank_graph,
        _pagerank_step,
    )

    edges_w, nodes = _pagerank_graph(spark, sf_dir)
    rank0 = nodes.select("part", F.lit(1.0).alias("pr")).localCheckpoint(
        eager=True
    )
    step = _pagerank_step(edges_w, nodes, rank0)
    p = plan(step)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p  # partial + final contribution sums
    # the checkpointed rank enters the plan as an RDD scan — lineage cut
    assert "ExistingRDD" in p or "Scan ExistingRDD" in p
    # truncation, demonstrated: round 2 planned off a CHECKPOINTED round-1
    # rank enters as an RDD scan and stays near round-1's size, while the
    # same round 2 planned off the raw (uncheckpointed) round-1 lineage
    # replays round 1 inside the plan and is strictly larger
    step1 = _pagerank_step(edges_w, nodes, rank0)
    p2_ckpt = plan(_pagerank_step(edges_w, nodes, step1.localCheckpoint(eager=True)))
    p2_raw = plan(_pagerank_step(edges_w, nodes, step1))
    assert "ExistingRDD" in p2_ckpt
    assert p2_raw.count("\n") > p2_ckpt.count("\n")


def test_no_driver_collect_roundtrip_in_query_harness():
    """VERDICT r4 'What's wrong' #1: the streaming query harness used to
    materialize view snapshots via ``spark.createDataFrame(df.collect(),
    schema)`` — a full-snapshot driver round-trip. That pattern is now
    banned from the queries/ layer (snapshots spill to harness-owned
    parquet and come back as scans); this pins it."""
    import pathlib
    import re

    import proteus_spark

    qdir = pathlib.Path(proteus_spark.__file__).parent / "queries"
    pat = re.compile(r"createDataFrame\(\s*\w+\.collect\(\)")
    hits = [
        f"{f}:{i}"
        for f in qdir.rglob("*.py")
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not hits, hits


def test_q18_single_exchange_partial_agg(q):
    """Q18's HAVING agg materializes one group per order — at 100x that is
    15M groups, the one headline query that goes super-linear in the scale
    sweep. The cost is inherent to the query (the threshold needs every
    order's GLOBAL quantity sum, so no semi-join can prune before the
    total exists); what the plan MUST deliver is the minimal shape:
    - lineitem scan reads exactly (l_orderkey, l_quantity) — 2 of 16 cols;
    - partial_sum combines map-side, so the single hash exchange carries
      ~one narrow row per order, not one per lineitem;
    - the HAVING filter runs straight after the final agg, BEFORE any
      join (the join probe side is only the >threshold survivors);
    - top-100 is TakeOrderedAndProject, never a global sort.
    Sizing note: at 100x the exchange holds ~15M (bigint, decimal) rows
    ~= 400 MB; spark.sql.shuffle.partitions >= cores keeps per-task state
    in memory (registry._tune_session sets it to defaultParallelism)."""
    p = q("tpch_q18")
    assert "partial_sum(cast(l_quantity" in p
    assert p.count("hashpartitioning(l_orderkey") == 1
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p
    assert "TakeOrderedAndProject" in p
    # HAVING filter is applied to the agg output before the orders join:
    # plan step numbers are post-order (children first), so the Filter on
    # total_qty must carry a lower step number than every join
    import re

    fil = re.search(r"\((\d+)\) Filter\nInput[^\n]*\nCondition :[^\n]*total_qty", p)
    joins = [
        int(mo.group(1))
        for mo in re.finditer(
            r"\((\d+)\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", p
        )
    ]
    assert fil and joins and int(fil.group(1)) < min(joins), (fil, joins)


def test_bpe_train_round_shape_and_checkpoint_truncation(spark, sf_dir):
    """BPE training's per-round scale contract (VERDICT r5 #4):
    - the pair count is ONE map-side-combined aggregation (partial_count
      before the exchange) — the round's only shuffle;
    - the merge application (higher-order fold) adds NO exchange and no
      Python eval node — it is a per-row JVM expression;
    - localCheckpoint truncates lineage so round N+1 plans against an
      ExistingRDD scan, not N nested folds (same contract as PageRank)."""
    from proteus_spark.llmops import text as TXT
    from proteus_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.regexp_extract_all(
            "text", F.lit(TXT.BPE_REGEX), F.lit(0)
        ).alias("t")
    )
    counts = (
        TXT.bpe_adjacent_pairs(toks)
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n"))
    )
    p_counts = plan(counts)
    assert "partial_count" in p_counts
    # exactly one exchange in the tree rendering (node detail repeats the
    # word without the "(id)" suffix)
    assert p_counts.count("Exchange (") == 1

    merged = TXT.bpe_merge_pass(toks, "a", "b")
    p_merge = plan(merged)
    assert "Exchange" not in p_merge
    assert "EvalPython" not in p_merge  # no Python UDF in the fold

    ckpt = merged.localCheckpoint(eager=True)
    second = TXT.bpe_merge_pass(ckpt, "b", "c")
    p2 = plan(second)
    assert "ExistingRDD" in p2
    p2_raw = plan(TXT.bpe_merge_pass(merged, "b", "c"))
    assert p2_raw.count("\n") > p2.count("\n")


def test_bpe_encode_holdout_apply_is_one_narrow_stage(spark, sf_dir):
    """The tokenizer APPLY path (VERDICT r6 #3): encoding a split under an
    already-learned rule list is |rules| nested JVM greedy folds over ONE
    scan — no Exchange per rule (or at all), no Python eval node, and the
    split filter reaches the scan side untouched."""
    from proteus_spark.llmops import text as TXT
    from proteus_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    holdout = docs.filter(TXT.split_bucket_col() < TXT.SPLIT_VALID_PCT)
    rules = [(1, "a", "b"), (2, "ab", "c"), (3, "the", " "), (4, "x", "y")]
    enc = TXT.bpe_encode(holdout, rules)
    p = plan(enc)
    assert "Exchange" not in p, p
    assert "EvalPython" not in p  # rule application is the JVM fold
    # all 4 rules landed in one plan (nested fold expressions), so the
    # apply costs one pass over the split, not a stage per rule
    assert p.count("aggregate(") == 4, p.count("aggregate(")


def test_dsir_scoring_join_broadcasts_and_selects_topk(q):
    """DSIR's scale shape (llmops/text.py::dsir_select): the per-bucket
    log-ratio frame (<= 4096 rows) must BROADCAST into the bigram
    scoring join keyed on the bucket id (a shuffle of the corpus-sized
    bigram side onto 4096 keys would be both slower and skew-prone),
    and the final selection must be a top-k (TakeOrderedAndProject),
    never a global sort of the corpus."""
    p = q("llm_dsir_select")
    flat = p.replace(" ", "")
    assert "CartesianProduct" not in p
    # scoring join: broadcast hash join keyed on the bucket id
    assert "BroadcastHashJoin" in p
    assert "Leftkeys[1]:[b#" in flat or "Rightkeys[1]:[b#" in flat
    assert "TakeOrderedAndProject" in p


def test_stream_dsir_scoring_broadcasts_frozen_model(spark, sf_dir):
    """stream_dsir_ingest's per-batch shape: each micro-batch scores
    against the FROZEN model — the <= 4096-row log-ratio frame must
    BROADCAST into the bucket-keyed equi-join (the arriving batch never
    shuffles beyond its own per-doc aggregation), and the model frame is
    a cached scan, NOT retrained per batch (an InMemoryTableScan in the
    batch plan, no second corpus aggregation)."""
    from proteus_spark.llmops.text import dsir_model, dsir_score_against
    from proteus_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    model = dsir_model(docs).cache()
    model.count()
    try:
        batch = docs.limit(200)  # stand-in for one arriving micro-batch
        p = plan(dsir_score_against(batch, model))
        flat = p.replace(" ", "")
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p
        assert "Leftkeys[1]:[b#" in flat or "Rightkeys[1]:[b#" in flat
        # frozen: the model arrives via the cache, not a per-batch retrain
        assert "InMemoryTableScan" in p, p
        # exactly the per-doc aggregation shuffles; the model side rides
        # the broadcast (one HashAggregate pair around one Exchange)
        assert p.count("Exchange hashpartitioning") <= 1, p
    finally:
        model.unpersist()


def test_stream_lsh_match_broadcasts_arriving_batch(spark, sf_dir):
    """stream_lsh_dedup_ingest's per-batch shape: the arriving batch's
    band table (LSH_BANDS rows per doc) BROADCASTS into the equi-join
    against the FROZEN lake band table — the lake side is served from
    the cache (an InMemoryTableScan), never re-derived per batch, and
    never reshuffles. No candidate path may be all-pairs."""
    from proteus_spark.llmops.dedup import (
        lsh_band_table,
        lsh_match_against,
        minhash_signatures,
        shingles,
    )
    from proteus_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    lake_bands = (
        lsh_band_table(
            minhash_signatures(
                shingles(docs.filter("doc_id % 4 = 0"), distinct=False)
            )
        )
        .withColumnRenamed("doc_id", "lake_id")
        .cache()
    )
    lake_bands.count()
    try:
        batch = docs.filter("doc_id % 4 != 0").limit(50)
        p = plan(lsh_match_against(batch, lake_bands))
        assert "CartesianProduct" not in p
        # the hinted band join: arriving side builds the broadcast
        assert "BroadcastHashJoin" in p
        # frozen lake: served from the cache, not recomputed per batch
        assert "InMemoryTableScan" in p, p
    finally:
        lake_bands.unpersist()


def test_bucketed_lake_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """VERDICT r10 #4 — the deployment answer to the cached-lake probe
    residual, demonstrated: the lake band table persisted PARTITIONED on
    bk = pmod(hash(band, bv), N) (lsh_lake_write), and the per-batch
    probe statically prunes the lake scan to the partitions the arriving
    batch's own band values hash to (its distinct-bk IN-list; the
    broadcast join carries bk too, so dynamic pruning can reinforce).
    Pins: the lake scan carries a PartitionFilter on bk, FEWER lake
    files are read than exist, the arriving side broadcasts, no
    cartesian — and the gate's output is IDENTICAL to the
    cached-DataFrame path."""
    from proteus_spark.llmops.dedup import (
        lsh_band_table,
        lsh_lake_write,
        lsh_match_against,
        lsh_match_against_bucketed,
        minhash_signatures,
        shingles,
    )
    from proteus_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    lake_bands = lsh_band_table(
        minhash_signatures(
            shingles(docs.filter("doc_id % 4 = 0"), distinct=False)
        )
    ).withColumnRenamed("doc_id", "lake_id")
    lake_path = str(tmp_path / "lake_bands")
    lsh_lake_write(lake_bands, lake_path, n_buckets=256)

    # small trickle (the realistic per-trigger gate shape): pruning wins
    # when the batch's band keys hash to fewer than n_buckets partitions
    batch = docs.filter("doc_id % 4 != 0").limit(10)
    # resolved once, per contract — via lake_read (the schema-sidecar
    # reader the REGISTERED query uses), so this plan pin covers the
    # shipping path's explicit-schema scan
    from proteus_spark.llmops.lake import lake_read

    lake = lake_read(spark, lake_path)
    out = lsh_match_against_bucketed(batch, lake, n_buckets=256)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # the LAKE scan carries a partition filter on bk (the batch's static
    # bk IN-list; dynamic pruning may reinforce it)
    lake_scans = [
        ln for ln in p.splitlines()
        if "FileScan" in ln and "lake_id" in ln
    ]
    assert lake_scans, p
    assert any(
        "PartitionFilters" in ln
        and ("bk" in ln.split("PartitionFilters", 1)[1][:200])
        for ln in lake_scans
    ), "\n".join(lake_scans)
    # and the batch's bucket set is a PROPER subset of the lake's
    # partitions — the INSET filter above therefore skips real data
    import os

    from proteus_spark.llmops.dedup import (
        _lake_bucket_col,
        lsh_band_table as _bt,
        minhash_signatures as _ms,
        shingles as _sh,
    )

    batch_bks = {
        r["bk"]
        for r in _bt(_ms(_sh(batch, distinct=False)))
        .select(_lake_bucket_col(256).alias("bk"))
        .distinct()
        .collect()
    }
    disk_bks = {
        d for d in os.listdir(lake_path) if d.startswith("bk=")
    }
    assert 0 < len(batch_bks) < len(disk_bks), (
        len(batch_bks), len(disk_bks),
    )

    cached = lake_bands.cache()
    cached.count()
    try:
        want = sorted(map(tuple, lsh_match_against(batch, cached).collect()))
        got = sorted(map(tuple, out.collect()))
        assert got == want and len(got) == 10
    finally:
        cached.unpersist()


def test_quality_gate_scoring_is_zero_shuffle(spark, sf_dir):
    """quality_score_against is a PURE projection: the frozen weights are
    six literals, so scoring an arriving batch must plan with no
    Exchange at all (scan -> codegen project), the shape that runs at
    scan speed inside a 100 TB ingest pipeline."""
    from proteus_spark.llmops.text import quality_score_against
    from proteus_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    p = plan(quality_score_against(docs, [0.1, -0.2, 0.3, -0.4, 0.5, -0.6]))
    assert "Exchange" not in p, p
    assert "* Project" in p  # codegen-marked projection over the scan
    assert "Scan parquet" in p


def test_semdedup_match_broadcasts_arriving_batch(spark, sf_dir):
    """The on-ingest SemDeDup gate's per-batch shape: the arriving
    batch (assigned + normalized) BROADCASTS into the cluster equi-join
    against the FROZEN lake index — served from cache, never re-derived
    or reshuffled per batch — and candidate generation is the bucket
    equi-join, never corpus x batch."""
    from proteus_spark.llmops.similarity import (
        semdedup_lake_index,
        semdedup_match_against,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 10)
    idx = semdedup_lake_index(
        emb.filter(F.col("vec_id") % 4 == 0), cents
    ).cache()
    idx.count()
    try:
        batch = emb.filter(F.col("vec_id") % 4 != 0).limit(40)
        p = plan(semdedup_match_against(batch, idx, cents))
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p
        assert "InMemoryTableScan" in p, p
    finally:
        idx.unpersist()


def test_semdedup_bucketed_gate_prunes_partitions_and_matches(
    spark, sf_dir, tmp_path
):
    """VERDICT r11 #5 — the registered stream_semdedup_ingest serves the
    lake from the PARTITIONED table (semdedup_lake_write partitions the
    frozen index on its cluster id; semdedup_match_against_bucketed turns
    the batch's distinct assigned-cluster set into a static partition
    filter). Pins: the lake scan carries a PartitionFilter on bucket,
    the batch's cluster set is a PROPER subset of the on-disk partitions
    (the INSET filter skips real data), the arriving side broadcasts, no
    cartesian — and the output is IDENTICAL to the cached-DataFrame
    path (semdedup_match_against)."""
    import os

    from proteus_spark.llmops.similarity import (
        ivf_assign,
        semdedup_lake_index,
        semdedup_lake_write,
        semdedup_match_against,
        semdedup_match_against_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 10)
    idx = semdedup_lake_index(emb.filter(F.col("vec_id") % 4 == 0), cents)
    lake_path = str(tmp_path / "semdedup_lake")
    semdedup_lake_write(idx, lake_path)

    # small trickle (the realistic per-trigger gate shape): pruning wins
    # when the batch lands in fewer clusters than the lake holds
    batch = emb.filter(F.col("vec_id") % 4 != 0).limit(3)
    # resolved once, per contract — via the schema-sidecar reader the
    # registered query uses (plan pin covers the shipping path)
    from proteus_spark.llmops.lake import lake_read

    lake = lake_read(spark, lake_path)
    out = semdedup_match_against_bucketed(batch, lake, cents)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # the lake scan is the one reading lvec (column pruning drops lake_id:
    # the gate only counts cluster-mates, so the scan reads lvec + the
    # bucket partition column — itself part of the 100 TB story)
    lake_scans = [
        ln for ln in p.splitlines() if "FileScan" in ln and "lvec" in ln
    ]
    assert lake_scans, p
    assert any(
        "PartitionFilters" in ln
        and ("bucket" in ln.split("PartitionFilters", 1)[1][:200])
        for ln in lake_scans
    ), "\n".join(lake_scans)
    batch_bks = {
        r["bucket"]
        for r in ivf_assign(batch.select("vec_id", "embedding"), cents)
        .select("bucket")
        .distinct()
        .collect()
    }
    disk_bks = {d for d in os.listdir(lake_path) if d.startswith("bucket=")}
    assert 0 < len(batch_bks) < len(disk_bks), (len(batch_bks), len(disk_bks))

    cached = idx.cache()
    cached.count()
    try:
        want = sorted(
            map(tuple, semdedup_match_against(batch, cached, cents).collect())
        )
        got = sorted(map(tuple, out.collect()))
        assert got == want and len(got) == 3
    finally:
        cached.unpersist()


def test_ivf_indexed_topk_prunes_partitions_and_matches(spark, sf_dir, tmp_path):
    """The bucketed-lake pattern applied to the VECTOR index (§2.5 at
    100 TB): ivf_index_write persists the assignment frame partitioned
    on bucket; ivf_topk_indexed turns the query batch's probed-bucket
    set into a static partition filter on the index scan. Pins: the
    index scan carries a PartitionFilters on bucket, the probe set is a
    PROPER subset of the on-disk partitions, and results equal the
    in-memory ivf_topk exactly."""
    import os

    from proteus_spark.llmops.similarity import (
        ivf_assign,
        ivf_index_write,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 10)
    idx_path = str(tmp_path / "ivf_index")
    ivf_index_write(ivf_assign(emb, cents), idx_path)
    from proteus_spark.llmops.lake import lake_read

    index = lake_read(spark, idx_path)

    queries = emb.filter(F.col("vec_id") < 3)  # <=3 probed buckets of 10
    out = ivf_topk_indexed(index, cents, queries, k=3, nprobe=1)
    p = out._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln for ln in p.splitlines()
        if "FileScan" in ln and "ivf_index" in ln
    ]
    assert scans, p
    assert any(
        "PartitionFilters" in ln
        and "bucket" in ln.split("PartitionFilters", 1)[1][:200]
        for ln in scans
    ), "\n".join(scans)
    n_disk = len(
        [d for d in os.listdir(idx_path) if d.startswith("bucket=")]
    )
    assert n_disk > 3  # the probe set is a proper subset

    want = sorted(map(tuple, ivf_topk(emb, cents, queries, k=3).collect()))
    got = sorted(map(tuple, out.collect()))
    assert got == want and len(got) > 0


def test_pq_train_releases_checkpoint_blocks(spark, sf_dir):
    """Optimization r15 #8 — pq_train's eager localCheckpoints (the
    subvector frame + each Lloyd's round's centroids) must be unpersisted
    before return: nothing references them after the model collect, and
    leaving release to GC let a long single-session run (the 175-query
    gate, 1g plain-session heap) accrete checkpoint blocks until a later
    query OOMed. Pin: the context's persistent-RDD count returns to its
    pre-call baseline."""
    from pyspark.sql import functions as F

    from proteus_spark.llmops.similarity import pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def persisted_ids() -> set[int]:
        # ID SET, not count: an async ContextCleaner sweep of an UNRELATED
        # earlier frame between the two reads must not flake the pin
        # (observed once in a filtered-selection run, r16)
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = persisted_ids()
    books = pq_train(emb.filter(F.col("vec_id") < 64))
    leaked = persisted_ids() - before
    assert len(books) > 0 and all(len(b) > 0 for b in books)
    assert not leaked, (
        f"pq_train leaked persisted RDD(s) {sorted(leaked)}: checkpoint "
        "blocks must be released before return"
    )


def test_lsh_candidates_materialize_releases_band_blocks(spark, sf_dir):
    """Optimization r16 — lsh_candidates eager-
    checkpoints the exploded band table for the self-join and must
    release its blocks before returning: only the candidate-pair
    checkpoint may survive (it backs the returned frame). Pin: exactly
    one new persistent RDD after the call, and the returned frame is
    checkpoint-backed (its consumers' plans must not re-embed the
    signature pipeline)."""
    from proteus_spark.llmops.dedup import (
        lsh_candidates,
        minhash_signatures,
        shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def persisted_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = persisted_ids()
    cand = lsh_candidates(minhash_signatures(shingles(docs, distinct=False)))
    new = persisted_ids() - before
    assert len(new) == 1, (
        f"expected exactly the candidate checkpoint to survive, got "
        f"{sorted(new)} — the band-table blocks must be released"
    )
    assert (
        cand._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LogicalRDD"
    ), "lsh_candidates must return a checkpoint-backed frame"


def test_parsed_expression_builders_match_column_op_forms(spark, sf_dir):
    """Optimization r15 #14 — srp_bands / simhash_signatures /
    minhash_signatures build their loop-generated expressions as single
    parsed F.expr strings (the old per-term Column-operator chains cost
    hundreds of py4j driver round-trips per plan construction). The
    refactor claims the parsed trees are VALUE-identical to the Column-op
    forms; this pin rebuilds the old constructions verbatim and compares
    frames, so a drift in either form fails loudly."""
    from pyspark.sql import functions as F

    from proteus_spark.llmops.dedup import (
        SIMHASH_BITS,
        _bit_sql,
        hex_slice_to_long_spark_sql,
        md5_seeded_sql,
        MINHASH_K,
        MINHASH_PRIME,
        minhash_signatures,
        shingles,
        simhash_signatures,
        tokens_col,
    )
    from proteus_spark.llmops.similarity import srp_banded

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)

    # --- srp_banded vs the old per-bit Column chain ---
    bits, bands = 32, 4
    r = bits // bands
    old_bandvals = []
    for j in range(bands):
        val = F.lit(0)
        for m in range(r):
            bit = (F.get(F.col("embedding"), j * r + m) >= 0).cast("int")
            val = val + bit * F.lit(1 << m)
        old_bandvals.append((j, val))
    old_srp = emb.select(
        F.col("vec_id").alias("vid"),
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("band"), bv.alias("bval"))
                for j, bv in old_bandvals
            ])
        ).alias("bb"),
    ).select("vid", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    new_srp = srp_banded(emb, "vec_id", "vid", bits=bits, bands=bands)
    assert sorted(map(tuple, new_srp.collect())) == sorted(
        map(tuple, old_srp.collect())
    )

    # --- simhash_signatures vs the old per-bit when/otherwise sum ---
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("w")).distinct()
    h = tok.select(
        "doc_id", F.expr(md5_seeded_sql("w", "sim")).alias("xh")
    ).select("doc_id", F.expr(hex_slice_to_long_spark_sql("xh", 1)).alias("h"))
    old_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN {_bit_sql('h', b)} = 1 THEN 1 ELSE -1 END")
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    old_sim = old_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
                for b in range(SIMHASH_BITS)
            ]
        ).cast("long").alias("simhash"),
    )
    new_sim = simhash_signatures(docs).select("doc_id", "simhash")
    assert sorted(map(tuple, new_sim.collect())) == sorted(
        map(tuple, old_sim.collect())
    )

    # --- minhash_signatures vs the old Column-arithmetic lanes ---
    sh = shingles(docs, distinct=False, fanout=None)
    hx = sh.select("doc_id", F.expr(md5_seeded_sql("s", 0)).alias("x"))
    hl = hx.select(
        "doc_id",
        F.expr(hex_slice_to_long_spark_sql("x", 1)).alias("y0"),
        F.expr(hex_slice_to_long_spark_sql("x", 13)).alias("y1"),
    )
    old_hh = hl.select(
        "doc_id",
        *[
            (
                (F.col("y0") + F.lit(i) * F.col("y1")) % F.lit(MINHASH_PRIME)
            ).alias(f"h{i}")
            for i in range(MINHASH_K)
        ],
    )
    old_ms = old_hh.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(MINHASH_K)]
    )
    new_ms = minhash_signatures(sh)
    assert sorted(map(tuple, new_ms.collect())) == sorted(
        map(tuple, old_ms.collect())
    )


def test_iterative_ops_release_superseded_checkpoints(spark, sf_dir):
    """Optimization r15 #9/#10 — dup_components and bpe_train_encode
    release each superseded round's localCheckpoint blocks as soon as the
    replacement is materialized; only the FINAL generation (the returned
    frame's backing blocks) may remain pinned. Pin: persistent-RDD count
    grows by at most a small constant, never by the round count."""
    from pyspark.sql import functions as F

    from proteus_spark.llmops.dedup import dup_components, jaccard_pairs, shingles
    from proteus_spark.llmops.text import bpe_train_encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    comp = dup_components(jaccard_pairs(shingles(docs), 0.8))
    n = comp.count()
    after = sc.getPersistentRDDs().size()
    # only the final labels generation stays alive (the returned frame's
    # backing blocks); the edge checkpoint and every superseded round
    # must be gone
    assert n > 0 and after - before <= 1, (
        f"dup_components left {after - before} persisted RDD(s)"
    )

    before = sc.getPersistentRDDs().size()
    rules, enc = bpe_train_encode(docs.limit(30), rounds=4)
    rows = rules.count()
    after = sc.getPersistentRDDs().size()
    # the final LAZY generation plus its parent (which the final one's
    # not-yet-materialized plan still depends on) legitimately outlive the
    # call; every earlier round must be gone
    assert rows > 0 and after - before <= 2, (
        f"bpe_train_encode left {after - before} persisted RDD(s)"
    )


def test_table_rows_reads_parquet_footers(sf_dir):
    """Optimization r15 #11 — registry.table_rows (the scale-adaptive
    partition-sizing probe) must agree with the actual table cardinality
    and degrade to 0 on unreadable paths (callers then fall back to a
    parallelism default)."""
    import duckdb

    from proteus_spark.registry import table_rows

    got = table_rows(sf_dir, "region")
    want = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/region.parquet'"
    ).fetchone()[0]
    assert got == want and got > 0
    assert table_rows(sf_dir, "no_such_table") == 0


def test_topk_bounded_without_window_group_limit(spark):
    """r16 hardening (VERDICT r15 item 7): `_two_phase_topk`'s
    bounded-per-partition guarantee must hold on sessions where Spark's
    rank-limit pushdown is disabled (windowGroupLimitThreshold = -1) or
    absent — the single-window form would then funnel every scored row of
    a query into one task. The operator must fall back to the manual
    two-phase split (a spark_partition_id-keyed local top-k BEFORE the
    qid window) with value-identical results."""
    import re

    from pyspark.sql import functions as F

    from proteus_spark.llmops.similarity import _two_phase_topk

    scored = spark.range(400).select(
        (F.col("id") % 4).alias("qid"),
        F.col("id").alias("nid"),
        F.round(F.pmod(F.xxhash64("id"), F.lit(1000)) / 1000.0, 6).alias(
            "sim"
        ),
    )
    want = sorted(map(tuple, _two_phase_topk(scored, 3).collect()))

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        fb = _two_phase_topk(scored, 3)
        plan = fb._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # the engine-enforced phase split: a partition-local window keyed
        # by (_pid, qid) runs before the per-qid merge window
        wins = re.findall(
            r"\[row_number.*?windowspecdefinition\(([^)]*)\)", plan
        )
        assert any("_pid" in w for w in wins), plan
        assert sorted(map(tuple, fb.collect())) == want
    finally:
        spark.conf.set(key, old)


def test_densify_hash_key_gated_on_leading_column_cardinality(spark, tmp_path):
    """r16 hardening (VERDICT r15 item 8 / ADVICE r15): densify hashes the
    fan-out on xxhash64(<leading column>) ONLY when the parquet footer
    statistics show enough distinct values to spread the hash (>= 100x the
    partition count); a constant/low-cardinality leading column falls back
    to round-robin, which can never collapse the fan-out into a handful of
    partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from proteus_spark import registry

    n = registry._DENSIFY_MIN_ROWS + 1

    def load_plan(d):
        df = registry.load(spark, str(d.parent), d.name[: -len(".parquet")],
                           densify=True)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # shape A: leading column is a dense unique key -> hash repartition
    d_a = tmp_path / "keyed.parquet"; d_a.mkdir()
    pq.write_table(
        pa.table({"k": list(range(n)), "v": [1.0] * n}),
        str(d_a / "a.parquet"), row_group_size=n,
    )
    p_a = load_plan(d_a)
    assert "xxhash64" in p_a, p_a
    assert "roundrobin" not in p_a.lower(), p_a

    # shape B: leading column is a constant flag -> round-robin fallback
    d_b = tmp_path / "flag.parquet"; d_b.mkdir()
    pq.write_table(
        pa.table({"flag": [7] * n, "v": [1.0] * n}),
        str(d_b / "b.parquet"), row_group_size=n,
    )
    p_b = load_plan(d_b)
    assert "xxhash64" not in p_b, p_b
    assert "RoundRobinPartitioning" in p_b, p_b


def test_table_view_memo_reregisters_after_foreign_drop(spark, sf_dir):
    """r16 (ADVICE r15 medium): a temp view dropped OUTSIDE the
    invalidate_view contract must be re-registered on the next table_view
    call — the memo confirms catalog existence before trusting a hit."""
    from proteus_spark.registry import table_view

    table_view(spark, sf_dir, "region")
    assert spark.catalog.tableExists("region")
    spark.catalog.dropTempView("region")  # foreign drop, no invalidate
    table_view(spark, sf_dir, "region")
    assert spark.catalog.tableExists("region")
    assert spark.table("region").count() > 0

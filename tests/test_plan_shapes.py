"""Physical-plan shape assertions — the optimizer properties SCALE.md
claims, pinned as tests so perf regressions fail loudly.

Checks run against the executed/final AQE plan at sf0.001.
"""

import pytest

from databatchprotectionservice_spark.plans.registry import all_queries


def _plan(df) -> str:
    df.collect()  # materialize so AQE settles on the final plan
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_q6_filter_pushed_to_scan(spark, sf_dir, queries):
    plan = _plan(queries["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q1_scan_prunes_columns(spark, sf_dir, queries):
    plan = _plan(queries["q1_pricing_summary"](spark, sf_dir))
    # only the 7 needed columns reach the scan, not the full lineitem row
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_q5_dimensions_broadcast(spark, sf_dir, queries):
    plan = _plan(queries["q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_protect_roundtrip_single_python_pass(spark, sf_dir, queries):
    """All six protect/unprotect UDFs fuse into ONE ArrowEvalPython."""
    plan = _plan(queries["protect_roundtrip_lineitem"](spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 1


def test_protect_adds_no_exchange_before_aggregate(spark, sf_dir, queries):
    """protect/unprotect are map-only: the only exchange is the final
    groupBy's."""
    plan = _plan(queries["protect_roundtrip_customer"](spark, sf_dir))
    n_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchanges <= 1


def test_dedup_exact_shuffles_digests_not_text(spark, sf_dir, queries):
    plan = _plan(queries["dedup_exact_stats"](spark, sf_dir))
    exchange_lines = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert exchange_lines
    # shuffle keys are the md5 digests; the raw text column never appears
    # (h_text# is the digest alias — only bare text# would be the column)
    import re

    assert not any(re.search(r"(?<!h_)text#", line) for line in exchange_lines)


def test_topk_uses_take_ordered(spark, sf_dir, queries):
    plan = _plan(queries["topk_expensive_parts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_window_shuffle(spark, sf_dir, queries):
    """The union+window as-of join shuffles once on the key (plus the
    final small aggregate exchange)."""
    plan = _plan(queries["asof_join_last_event"](spark, sf_dir))
    n_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchanges <= 3  # window partition + pre-dedup agg + final agg
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_minhash_verification_no_cartesian_no_array_ops(spark, sf_dir, queries):
    """LSH verification runs on exploded gram rows: candidate pruning is
    a broadcast join, the Jaccard is a count aggregate, and no plan node
    evaluates interpreted array_intersect/array_union per pair."""
    plan = _plan(queries["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" not in plan
    assert "array_union" not in plan
    assert "BroadcastHashJoin" in plan  # candidate-doc pruning


def test_ngram_jaccard_inverted_index_not_cross_join(spark, sf_dir, queries):
    """Exact all-pairs Jaccard uses the inverted-index self-join: an
    equi-join on gram, never an n^2 nested-loop over array columns."""
    plan = _plan(queries["dedup_ngram_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, queries):
    """Both join sides are bucketed+sorted on the key at write time, so
    the fact-to-fact sort-merge join needs NO exchange: the only hash
    exchange in the plan is the downstream groupBy (different key)."""
    plan = _plan(queries["bucketed_join_no_shuffle"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    n_hash_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_hash_exchanges == 1  # the aggregate, never the join


def test_sample_split_is_map_only(spark, sf_dir, queries):
    """The train/valid/test assignment is a pure function of doc_id —
    no hash shuffle anywhere (the display ORDER BY is a range exchange)."""
    plan = _plan(queries["sample_split_train_test"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_pack_sequences_single_window_shuffle(spark, sf_dir, queries):
    """Sequence packing = one window shuffle on lang; the per-sequence
    aggregate reuses that partitioning (lang, seq_id is a superset key
    only after the window, so one more partial agg exchange is allowed)."""
    plan = _plan(queries["pack_sequences_greedy"](spark, sf_dir))
    n_hash_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_hash_exchanges <= 2


def test_quantized_single_quantize_pass_and_grouplimit(
    spark, sf_dir, queries
):
    """The int8 code table is cached and quantized ONCE (the nq filter
    must stay above the cache boundary — below it Catalyst pushes the
    filter under the spread exchange and re-evaluates both UDFs per
    row), and top-k shuffles at most k rows per partition via
    WindowGroupLimit."""
    plan = _plan(queries["similarity_quantized_topk"](spark, sf_dir))
    assert plan.count("qi8(") == 1
    assert "WindowGroupLimit" in plan
    assert "InMemoryTableScan" in plan


def test_decontaminate_broadcasts_probe_set_and_prunes(
    spark, sf_dir, queries
):
    """Eval grams broadcast (training grams never shuffle through a
    join exchange) and every documents scan reads only doc_id+text."""
    plan = _plan(queries["decontaminate_ngram_overlap"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    for part in plan.split("ReadSchema:")[1:]:
        schema = part.splitlines()[0]
        assert "lang" not in schema and "n_chars" not in schema


def test_repetition_text_never_shuffles(spark, sf_dir, queries):
    """Both aggregates are map-side combined; no HASH exchange carries
    the text column (the only text-bearing exchange is load_spread's
    round-robin small-file spread, which no-ops at scale by its
    partition-count guard)."""
    plan = _plan(queries["text_repetition_scores"](spark, sf_dir))
    hash_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(hash_exchanges) >= 2  # (doc_id, gram) then (doc_id)
    for line in hash_exchanges:
        assert "text" not in line


def test_q19_disjunction_factored_to_both_scans(spark, sf_dir, queries):
    """Catalyst extracts each side's disjunct union from the OR-of-ANDs
    and pushes it into that side's parquet scan: the lineitem scan gets
    the quantity-range union, the (broadcast) part scan gets the
    brand/size union — so the join input shrinks even though no single
    arm is separable."""
    plan = _plan(queries["q19_disjunctive_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    lines = plan.splitlines()
    # a lineitem-side prefilter mentioning ONLY quantity (no part cols)
    assert any(
        "Filter" in ln and "l_quantity" in ln and "p_brand" not in ln
        for ln in lines
    )
    # a part-side prefilter mentioning ONLY brand/size (no lineitem cols)
    assert any(
        "Filter" in ln and "p_brand" in ln and "l_quantity" not in ln
        for ln in lines
    )


def test_distributed_cc_never_collects_to_driver(spark, sf_dir, queries):
    """dedup_clusters_distributed forces the Pregel min-label branch:
    the returned labels must come from distributed joins/aggregates
    whose per-round results stay ON EXECUTORS (eager localCheckpoint
    leaves, which appear as a multi-partition ExistingRDD scan), never
    from a driver-side union-find round-tripped through
    createDataFrame (a LocalTableScan: driver-local rows)."""
    df = queries["dedup_clusters_distributed"](spark, sf_dir)
    plan = _plan(df)
    assert "LocalTableScan" not in plan
    # the lineage-truncated label table is a distributed RDD leaf
    # (AQE may legitimately coalesce the toy-scale shuffle to one
    # partition, so partition count is not the discriminator)
    assert "Scan ExistingRDD" in plan
    # ...and the discriminator does separate the two branches: the
    # driver union-find twin DOES round-trip through a local relation
    twin = _plan(queries["dedup_connected_clusters"](spark, sf_dir))
    assert "LocalTableScan" in twin or "Scan ExistingRDD" not in twin


def test_curate_join_colocated_when_bucketed(spark, sf_dir):
    """curate_seed_similarity's docstring claims the doc<->embedding
    equi-join co-locates for free over tables bucketed on the id. Prove
    it: run the EXACT curate pipeline over bucketed twins and pin the
    Exchange-free sort-merge join — the only hash exchange left is the
    final per-source aggregate."""
    from pyspark.sql import functions as F

    from databatchprotectionservice_spark.operators.sampling import (
        SEED_VEC_ID,
        curate_pipeline,
    )
    from databatchprotectionservice_spark.plans.registry import load
    from databatchprotectionservice_spark.sources.bucketing import (
        write_bucketed,
    )

    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    t_docs = f"dbps_bucketed_{tag}_curate_docs"
    t_embs = f"dbps_bucketed_{tag}_curate_embs"
    write_bucketed(
        load(spark, sf_dir, "documents").select("doc_id", "text", "source"),
        t_docs,
        ["doc_id"],
        num_buckets=8,
        sort_cols=["doc_id"],
    )
    write_bucketed(
        load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        t_embs,
        ["doc_id"],
        num_buckets=8,
        sort_cols=["doc_id"],
    )
    d = spark.table(t_docs)
    e = spark.table(t_embs)
    seed = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == SEED_VEC_ID)
        .select(F.col("embedding").alias("qe"))
    )
    # at sf0.001 AQE would broadcast the tiny sides, hiding the layout
    # property under test; at 100 TB neither side is broadcastable, so
    # pin the at-scale shape by disabling the broadcast threshold
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = curate_pipeline(d, e, seed)
        plan = _plan(bucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    n_hash_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_hash_exchanges == 1  # the aggregate, never the join
    # and the bucketed result matches the plain-scan registered query
    from databatchprotectionservice_spark.plans.registry import all_queries

    expected = sorted(
        map(tuple, all_queries()["curate_seed_similarity"](spark, sf_dir).collect())
    )
    assert sorted(map(tuple, bucketed.collect())) == expected


def test_repeated_passages_shuffles_digests_not_text(spark, sf_dir, queries):
    """The inverted-index shape: every hash exchange carries 16-byte
    md5 digests (gid), never text or the passage string itself."""
    plan = _plan(queries["dedup_repeated_passages"](spark, sf_dir))
    hash_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(hash_exchanges) >= 2  # df groupBy + the digest join
    for line in hash_exchanges:
        assert "text" not in line and "gram" not in line


def test_unigram_surprisal_vocab_join_broadcasts(spark, sf_dir, queries):
    """Vocabulary counts and the 1-row corpus total broadcast to the
    token stream; the token->vocab join must never sort-merge (at scale
    the vocab is tiny next to the corpus)."""
    plan = _plan(queries["text_unigram_surprisal"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total
    assert "SortMergeJoin" not in plan


def test_q17_subquery_decorrelates_to_aggregate_join(spark, sf_dir, queries):
    """The correlated scalar subqueries must decorrelate: one merged
    per-partkey aggregate joined back — never a per-outer-row subquery
    re-execution (no nested-loop, no more than one lineitem aggregate
    for the two correlated references)."""
    df = queries["q17_small_quantity_revenue"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # MergeScalarSubqueries: count(*) and sum(qty) compute in ONE
    # aggregate over l2 — the plan carries at most 2 HashAggregate
    # PAIRS total (partial+final for the subquery agg and the outer
    # count/sum), not one per correlated reference
    n_aggs = plan.count("HashAggregate")
    assert n_aggs <= 6, plan


def test_q4_exists_rewrites_to_semi_join(spark, sf_dir, queries):
    """The correlated EXISTS (with the non-equi outer reference
    o_orderdate in its predicate) must become a left-semi join on
    orderkey — never a per-row subquery or nested loop."""
    plan = _plan(queries["q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_produces_semi_and_anti_pair(spark, sf_dir, queries):
    """TPC-H q21's EXISTS + NOT EXISTS pair must rewrite to one
    left-semi and one left-anti join (RewritePredicateSubquery), both
    keyed on orderkey — no nested-loop fallback for the suppkey
    disequality."""
    plan = _plan(queries["q21_suppliers_kept_waiting"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q16_not_in_is_broadcast_anti_join(spark, sf_dir, queries):
    """The NOT-IN supplier exclusion must be a BROADCAST left-anti join
    (the exclusion set is small); count(DISTINCT) expands to the
    two-phase distinct aggregate, not a per-group collect. At sf0.001
    the exclusion set is EMPTY and AQE eliminates the anti join
    entirely (the desired no-op), so the anti join is asserted on the
    pre-AQE plan and the absence of a sort-merge fallback on the final
    one."""
    df = queries["q16_part_supplier_counts"](spark, sf_dir)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in full, full
    final = full.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_q11_lineitem_scanned_once_per_side_no_nested_loop(
    spark, sf_dir, queries
):
    """The HAVING-vs-global-total compare is a 1-row broadcast join over
    the reused per-part aggregate — not a recomputation via nested
    loop; part_value*500 > total is decimal-exact (no division)."""
    plan = _plan(queries["q11_important_parts"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only join is the 1-row broadcast of the total
    assert plan.count("SortMergeJoin") == 0, plan


def test_q13_join_condition_keeps_unmatched_customers(spark, sf_dir, queries):
    """q13's exclusion filter must sit in the JOIN CONDITION (outer join
    preserved), not be pushed as a post-join filter that would drop the
    zero-order bucket."""
    df = queries["q13_customer_distribution"](spark, sf_dir)
    plan = _plan(df)
    assert "LeftOuter" in plan, plan
    # every customer lands in exactly one bucket — the outer join must
    # not drop customers whose orders were all filtered away (a pushed
    # post-join filter would, turning the join inner)
    import pyspark.sql.functions as SF

    total = df.agg(SF.sum("custdist")).collect()[0][0]
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert total == n_cust


def test_q10_topk_sorts_exact_decimal(spark, sf_dir, queries):
    """The top-20 cut must be a TakeOrderedAndProject on the exact
    decimal revenue — bounded memory per partition, deterministic
    boundary."""
    plan = _plan(queries["q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_ccnet_single_gram_scan_digest_window(spark, sf_dir, queries):
    """dedup_lines_ccnet's keep decision is ONE window MIN over the
    segment digest — the exploded segment stream is scanned once (a
    groupBy-then-join-back would evaluate the explode on both join
    sides), and no self-join exists."""
    plan = _plan(queries["dedup_lines_ccnet"](spark, sf_dir))
    assert plan.count("Generate explode") <= 1, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_queries_once(spark, sf_dir, queries):
    """The query set broadcasts; the vector side is scanned once with
    the label filter and dot product in the same stage."""
    plan = _plan(queries["similarity_hard_negatives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # per-query top-k must be the bounded window-group-limit / window
    # path, not a global sort
    assert "GlobalLimit" not in plan


def test_moments_single_exchange(spark, sf_dir, queries):
    """stats_moments_battery is one map-side-combinable aggregate: the
    only exchange is the final per-event_type hash partitioning."""
    plan = _plan(queries["stats_moments_battery"](spark, sf_dir))
    n_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchanges <= 1, plan
    assert "ArrowEvalPython" not in plan  # pure codegen, no Python stage


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir, queries):
    """Every k-means assignment is a BROADCAST of the K centroids
    against the corpus scan — no sort-merge join, no cartesian: at
    100 TB the corpus side must stream, never shuffle on a join key."""
    plan = _plan(queries["kmeans_embedding_clusters"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_single_grouped_pandas_stage(spark, sf_dir, queries):
    """SemDeDup's pair search is ONE grouped gram-matrix stage per
    cluster (FlatMapGroupsInPandas) — the naive pair self-join would
    materialize cluster_size^2 rows through a join instead."""
    plan = _plan(queries["semdedup_embeddings"](spark, sf_dir))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_broadcast_prunes_and_single_window_shuffle(
    spark, sf_dir, queries
):
    """similarity_ivfpq_topk's scale claims: the probe table broadcasts
    into the cluster-keyed pruning join (no shuffle of the coded
    corpus for candidate selection), no sort-merge join or cartesian
    anywhere, top-k bounded via WindowGroupLimit, and the int8 code
    table is quantized once behind the cache."""
    plan = _plan(queries["similarity_ivfpq_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "InMemoryTableScan" in plan


def test_triangle_edge_cap_is_partial_topk(spark, sf_dir):
    """The strongest-E edge cap (SCALE.md: triangle closure) must
    compile to TakeOrderedAndProject — per-partition partial top-k
    with one small merge — never a full global sort exchange of the
    pair table, and the closure must stay hash-joined (no cartesian,
    no sort-merge over the capped edges)."""
    from databatchprotectionservice_spark.operators.graph import (
        triangle_suppliers,
    )

    df = triangle_suppliers(spark, sf_dir)
    df.collect()
    # the cap runs inside the query (before the localCheckpoint), so
    # assert on the session's last executed plans via the final df AND
    # the cap property directly: re-derive the capped edge count
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    from databatchprotectionservice_spark.operators import graph as g

    assert g.TRI_EDGE_CAP >= 1000  # the bound is a scale knob, not a toy


def test_c4_rules_pure_codegen_single_aggregate_exchange(spark, sf_dir):
    """The C4 battery must stay JVM-side end to end: no Python eval
    node anywhere, and the ONLY hash exchange is the per-source
    aggregate's."""
    from databatchprotectionservice_spark.operators.textops import (
        text_c4_rules,
    )

    plan = _plan(text_c4_rules(spark, sf_dir))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan


def test_c4_spans_aggregate_keeper_no_window_sort(spark, sf_dir):
    """The keep-first rule must be the combinable min(struct) aggregate
    — never the oracle's window spelling (a global per-span sort)."""
    from databatchprotectionservice_spark.operators.dedup import (
        dedup_c4_spans,
    )

    plan = _plan(dedup_c4_spans(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan or "partial" in plan  # map-side combine
    assert "ArrowEvalPython" not in plan  # spans built in codegen


def test_arrow_ipc_one_shard_shuffle_each_direction(spark, sf_dir):
    """Both IPC twins pay exactly the shard-key exchange plus the tiny
    per-source aggregate exchange — nothing else shuffles."""
    from databatchprotectionservice_spark.operators.ingest import (
        export_arrow_ipc_shards,
        ingest_arrow_ipc,
    )

    for q in (ingest_arrow_ipc, export_arrow_ipc_shards):
        plan = _plan(q(spark, sf_dir))
        assert "FlatMapGroupsInPandas" in plan  # the shard builder
        n_hash = sum(
            1
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
        )
        assert n_hash == 2, plan


def test_arrow_temporal_one_shard_shuffle(spark, sf_dir):
    """ingest_arrow_temporal (r12 staged): same two-exchange shape as
    the IPC twins — the (status, shard) exchange into grouped pandas
    plus the tiny per-status aggregate; no joins, no windows."""
    from databatchprotectionservice_spark.operators.ingest import (
        ingest_arrow_temporal,
    )

    plan = _plan(ingest_arrow_temporal(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_cbor_events_narrow_walk_single_exchange(spark, sf_dir):
    """The CBOR walk is map-only until the per-type aggregate."""
    from databatchprotectionservice_spark.operators.ingest import (
        ingest_cbor_events,
    )

    plan = _plan(ingest_cbor_events(spark, sf_dir))
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan


def test_cube_is_single_expand_single_scan(spark, sf_dir):
    """CUBE must plan as ONE Expand feeding one partial-aggregating
    exchange — never a union of per-level aggregates re-scanning the
    fact table."""
    from databatchprotectionservice_spark.operators.relational import (
        sales_cube_rollup,
    )

    plan = _plan(sales_cube_rollup(spark, sf_dir))
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1, plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan


def test_equidepth_one_range_exchange_no_window(spark, sf_dir):
    """Exact equi-depth without a single-partition window: one range
    exchange over the total order (cents, event_id), which the
    per-partition counts reuse, and no Window or Cartesian product."""
    from databatchprotectionservice_spark.operators.profiling import (
        profiling_equidepth_histogram,
    )

    plan = _plan(profiling_equidepth_histogram(spark, sf_dir))
    ranged = [
        ln for ln in plan.splitlines()
        if "Exchange rangepartitioning(cents" in ln
    ]
    assert sum("ReusedExchange" not in ln for ln in ranged) == 1, plan
    assert any("ReusedExchange" in ln for ln in ranged), plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_flac_stats_fused_python_stages_single_aggregate_exchange(
    spark, sf_dir, queries
):
    """multimodal_audio_flac_stats' scale claims: the synth fixture and
    the decode run as BACK-TO-BACK MapInPandas stages with no exchange
    between them (decode is map-only), the stats aggregate partially
    map-side, and the ONLY hash exchange is the final
    source-cardinality groupBy — the shape every media leg shares."""
    plan = _plan(queries["multimodal_audio_flac_stats"](spark, sf_dir))
    assert plan.count("MapInPandas") == 2, plan
    synth_to_stats = plan.split("MapInPandas")[1]
    assert "Exchange" not in synth_to_stats, plan  # stages are fused
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan
    assert "partial_sum" in plan  # map-side combine before the exchange
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "body" not in read_schema  # only the 3 fixture columns scan


def test_scd2_tws_single_state_exchange_update_mode(spark, tmp_path):
    """streaming_scd2_tws' scale claims, pinned on the micro-batch
    physical plan: exactly ONE stateful operator
    (TransformWithStateInPySpark) in Update mode, fed by exactly ONE
    user_id hash exchange (REQUIRED_BY_STATEFUL_OPERATOR) — state is
    the open interval per user, closed rows stream to the sink, and
    nothing else shuffles."""
    import glob
    import os
    import shutil

    import pandas as pd

    from databatchprotectionservice_spark.streaming.pipeline import (
        scd2_stream_tws,
    )
    from databatchprotectionservice_spark.vendor import ensure_protobuf

    ensure_protobuf(spark)
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "event_id": [1, 2, 3],
            "event_type": ["a", "b", "a"],
            "us": [1, 2, 1],
        }
    )
    src = tmp_path / "f0"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
    out = tmp_path / "stream"
    out.mkdir()
    (part,) = glob.glob(str(src / "part-*.parquet"))
    shutil.copy(part, out / "00.parquet")
    schema = spark.read.parquet(str(out)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    scd2 = scd2_stream_tws(stream)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            scd2.writeStream.format("memory")
            .queryName("scd2_plan_pin")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
            plan = q._jsq.explainInternal(False)
        finally:
            q.stop()
    finally:
        spark.conf.unset(provider_key)
    assert plan.count("TransformWithStateInPySpark ") == 1, plan
    assert ", Update," in plan  # update-mode emission, not complete
    n_ex = sum(1 for ln in plan.splitlines() if "Exchange" in ln)
    assert n_ex == 1, plan
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan
    # r16: the state key is the user's key-group bucket
    # (pmod(xxhash64(user_id), n_buckets)) — round-trips bounded by the
    # bucket count; still exactly one stateful exchange
    assert "hashpartitioning(kb" in plan, plan
    assert "xxhash64(user_id" in plan, plan


def test_ivfpq_residual_same_scale_shape_as_flat(spark, sf_dir):
    """The residual variant must keep the exact ivfpq scale shape —
    broadcast pruning join, no sort-merge/cartesian, WindowGroupLimit
    top-k, quantize-once cache — because residual encoding folds into
    the same single encode pass (no extra exchange)."""
    from databatchprotectionservice_spark.operators.similarity import (
        similarity_ivfpq_residual_topk,
    )

    plan = _plan(similarity_ivfpq_residual_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "InMemoryTableScan" in plan


def test_funnel_single_exchange_partition_wide_pandas(spark, sf_dir):
    """events_funnel_levels' scale claim: ONE hash exchange on user_id
    into a PARTITION-WIDE MapInPandas (the r11 rewrite off
    one-group-per-user FlatMapGroupsInPandas — the 15 ms/group trap)
    — the oracle's triple self-join is the spec, never the plan (no
    join operator anywhere)."""
    from databatchprotectionservice_spark.operators.relational import (
        events_funnel_levels,
    )

    plan = _plan(events_funnel_levels(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan


def test_retention_cohorts_no_join_two_hash_exchanges(spark, sf_dir):
    """events_retention_cohorts' scale claim: collect_set combines
    map-side (partial_collect_set BEFORE the user exchange), the
    cohort is computed row-locally (array_min, no join back), and the
    only hash exchanges are the user aggregate and the tiny
    (cohort, offset) matrix; the scan reads just (ts, user_id)."""
    from databatchprotectionservice_spark.operators.relational import (
        events_retention_cohorts,
    )

    plan = _plan(events_retention_cohorts(spark, sf_dir))
    assert "partial_collect_set" in plan  # map-side combine
    assert "array_min" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_type" not in read_schema and "props" not in read_schema


def test_anomalies_single_events_exchange_broadcast_moments(spark, sf_dir):
    """events_hourly_anomalies' scale claim: ONE exchange builds the
    (type, hour) counts with map-side combine; the per-type moments
    broadcast back (no sort-merge join, no second events scan — one
    FileScan in the whole plan)."""
    from databatchprotectionservice_spark.operators.relational import (
        events_hourly_anomalies,
    )

    plan = _plan(events_hourly_anomalies(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan  # map-side combine on the hour agg


def test_parquet_nested_read_single_exchange_map_only_decode(
    spark, sf_dir
):
    """The nested-parquet read is map-only (binaryFile scan -> one
    Python decode stage) until the per-label aggregate: exactly one
    hash exchange, no joins, no sorts before the final orderBy."""
    from databatchprotectionservice_spark.operators.ingest import (
        parquet_nested_read_real,
    )

    plan = _plan(parquet_nested_read_real(spark, sf_dir))
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan
    assert "Join" not in plan, plan
    # one Arrow-batched Python stage: the decode+referee mapInPandas
    n_py = plan.count("MapInPandas")
    assert n_py == 1, plan


def test_gorilla_stats_block_keyed_exchange(spark, sf_dir):
    """timeseries_gorilla_stats: ONE exchange hashed on the BLOCK key
    (event_type, blk) — parallelism #(types x 2h buckets), ~1,800
    groups at sf0.1, growing with the data (the r11 verdict flagged
    the pre-reshape 5-group event_type ceiling) — into a
    partition-wide MapInPandas (per-group applyInPandas paid ~15 ms
    of scaffold per ~55-row block).  The follow-up per-type merge may
    add one more tiny aggregate exchange; no joins, no windows (the
    oracle's window functions are the spec)."""
    from databatchprotectionservice_spark.operators.relational import (
        timeseries_gorilla_stats,
    )

    plan = _plan(timeseries_gorilla_stats(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    hash_lines = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_lines) <= 2, plan
    # the block exchange must carry BOTH block-key columns
    assert any(
        "event_type" in ln and "blk" in ln for ln in hash_lines
    ), plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_parquet_write_nested_one_shard_shuffle(spark, sf_dir):
    """parquet_write_nested_real (r12 staged): the parquet_write_real
    shape — one (source, shard) exchange into grouped pandas plus the
    tiny per-source aggregate; no joins, no windows."""
    from databatchprotectionservice_spark.operators.ingest import (
        parquet_write_nested_real,
    )

    plan = _plan(parquet_write_nested_real(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_arrow_duration_one_shard_shuffle(spark, sf_dir):
    """ingest_arrow_duration (r13 staged): the arrow_temporal shape —
    one (flag, shard) exchange into grouped pandas plus the tiny
    per-flag aggregate; no joins, no windows."""
    from databatchprotectionservice_spark.operators.ingest import (
        ingest_arrow_duration,
    )

    plan = _plan(ingest_arrow_duration(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_parquet_write_map_one_shard_shuffle(spark, sf_dir):
    """parquet_write_map_real (r13 staged): the parquet_write_real
    shape — one (source, shard) exchange into grouped pandas plus the
    tiny per-source aggregate; no joins, no windows."""
    from databatchprotectionservice_spark.operators.ingest import (
        parquet_write_map_real,
    )

    plan = _plan(parquet_write_map_real(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_arrow_stream_narrow_walk_single_exchange(spark, sf_dir):
    """ingest_arrow_stream (r13 staged): the msgpack/CBOR event-bus
    consumer shape — map-only until the per-type aggregate."""
    from databatchprotectionservice_spark.operators.ingest import (
        ingest_arrow_stream,
    )

    plan = _plan(ingest_arrow_stream(spark, sf_dir))
    assert "MapInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_parquet_page_prune_one_shard_shuffle(spark, sf_dir):
    """parquet_page_prune_real (r14 staged): the parquet_write_real
    shape — one (st, shard) exchange into grouped pandas plus the tiny
    per-status aggregate; no joins, no windows.  The page-skip logic
    lives inside the UDF, so the PLAN must stay the plain shard-writer
    shape."""
    from databatchprotectionservice_spark.operators.ingest import (
        parquet_page_prune_real,
    )

    plan = _plan(parquet_page_prune_real(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_arrow_dict_views_one_shard_shuffle(spark, sf_dir):
    """ingest_arrow_dict_views (r14 staged): one (type, shard)
    exchange into grouped pandas plus the tiny per-type aggregate; no
    joins, no windows — the codec work is all inside the UDF."""
    from databatchprotectionservice_spark.operators.ingest import (
        ingest_arrow_dict_views,
    )

    plan = _plan(ingest_arrow_dict_views(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_arrow_compressed_one_shard_shuffle(spark, sf_dir):
    """ingest_arrow_compressed (r14 staged): one shard_id exchange
    into grouped pandas plus the tiny per-combo aggregate; no joins,
    no windows — all eight (codec, framing, writer) paths live inside
    the UDF."""
    from databatchprotectionservice_spark.operators.ingest import (
        ingest_arrow_compressed,
    )

    plan = _plan(ingest_arrow_compressed(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_parquet_bloom_prune_one_shard_shuffle(spark, sf_dir):
    """parquet_bloom_prune_real (r14 staged): one (st, shard)
    exchange into grouped pandas plus the tiny per-status aggregate;
    no joins, no windows — the filter build and the probe planning
    live inside the UDF."""
    from databatchprotectionservice_spark.operators.ingest import (
        parquet_bloom_prune_real,
    )

    plan = _plan(parquet_bloom_prune_real(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_orc_values_one_shard_shuffle(spark, sf_dir):
    """ingest_orc_values_real (r14 staged): one shard_id exchange
    into grouped pandas plus the tiny per-combo aggregate; no joins,
    no windows — the ORC write + from-scratch decode live inside the
    UDF."""
    from databatchprotectionservice_spark.operators.ingest import (
        ingest_orc_values_real,
    )

    plan = _plan(ingest_orc_values_real(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 2, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, bad


def test_local_frame_is_a_jobless_local_table_scan(spark):
    """registry.local_frame ships driver-side rows as one Arrow table:
    the plan is a LocalTableScan and collecting it starts no job."""
    from databatchprotectionservice_spark.plans.registry import local_frame

    df = local_frame(spark, [(1, "x"), (2, "y")], "a bigint, b string")
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_probe", "local_frame job count")
    try:
        assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "LocalTableScan" in _plan(df)
    assert list(sc.statusTracker().getJobIdsForGroup("local_frame_probe")) == []


def test_local_frame_rejects_values_its_schema_cannot_hold(spark):
    """No fallback to the row-pickling path: a string in a bigint
    column raises.  A float into an integer column truncates, as the
    docstring says."""
    import pyarrow as pa

    from databatchprotectionservice_spark.plans.registry import local_frame

    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [("notint", "x")], "a bigint, b string")
    df = local_frame(spark, [(1.7, "x")], "a bigint, b string")
    assert [tuple(r) for r in df.collect()] == [(1, "x")]

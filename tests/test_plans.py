"""Plan-regression tests: lock in the optimization properties the engine
promises (pushdown, pruning, broadcast choice, shuffle counts).

A future refactor that silently adds a shuffle, drops a pushed filter, or
un-broadcasts a dim should fail HERE, not in a 100 TB deployment.
"""

from __future__ import annotations

import re

from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    # plan metadata (PushedFilters/ReadSchema lists) truncates at 100 chars
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def n_exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange hashpartitioning", plan))


def test_star_join_broadcasts_and_single_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_star_join")
    assert plan.count("BroadcastHashJoin") >= 2  # dims never shuffle
    assert "SortMergeJoin" not in plan or n_exchanges(plan) <= 3
    assert n_exchanges(plan) == 1  # only the final aggregation exchanges


def test_star_join_scan_pruned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_star_join")
    m = re.search(r"lineitem\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    cols = m.group(1).split(",") if m else []
    # 3 of 11 lineitem columns: orderkey + the two revenue inputs
    assert len(cols) == 3


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_filter_conj")
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity,10.0)" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_unpivot_no_shuffle(spark, sf_dir):
    assert n_exchanges(plan_of(spark, sf_dir, "q_unpivot")) == 0


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_topk")
    assert "TakeOrderedAndProject" in plan  # heap top-k, not a global sort


def test_window_queries_single_shuffle(spark, sf_dir):
    # both windows share the o_custkey partitioning -> exactly one exchange
    assert n_exchanges(plan_of(spark, sf_dir, "q_window_rank")) == 1
    assert n_exchanges(plan_of(spark, sf_dir, "q_window_running")) == 1


def test_sessionize_single_shuffle(spark, sf_dir):
    # lag + running sum + stats all reuse the user_id partitioning
    assert n_exchanges(plan_of(spark, sf_dir, "q_sessionize")) <= 2


def test_semi_anti_broadcast(spark, sf_dir):
    assert "BroadcastHashJoin" in plan_of(spark, sf_dir, "q_semi_active")
    assert "BroadcastHashJoin" in plan_of(spark, sf_dir, "q_anti_orphans")


def test_agg_partial_before_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_agg_monthly")
    assert "partial_" in plan  # map-side combine present


def test_ntile_percent_rank_window_is_partitioned(spark, sf_dir):
    # The r01 scale-killer: Window.orderBy with no partitionBy = every row
    # through ONE task. Now every window spec that touches the data (order
    # columns present) must carry the __bucket partition key; unpartitioned
    # specs may exist only over the B-row bucket-counts aggregate.
    plan = plan_of(spark, sf_dir, "q_ntile_percent_rank")
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    data_specs = [s for s in specs if "o_totalprice" in s or "o_orderkey" in s]
    assert data_specs, "expected a window over the order data"
    assert all("__bucket" in s for s in data_specs), data_specs
    # offsets + totals broadcast back, never a full-data shuffle to one task
    assert "BroadcastExchange" in plan


def test_quality_profile_single_agg_no_join(spark, sf_dir):
    # one wide aggregate + a 1-row explode: no join, exactly the agg exchange
    plan = plan_of(spark, sf_dir, "q_quality_profile")
    assert "Join" not in plan
    assert n_exchanges(plan) == 1
    assert "partial_count" in plan  # map-side combine before the exchange


def test_scd1_merge_single_join_pruned_scans(spark, sf_dir):
    # one full-outer join on the key; both sides scan customer only once each
    plan = plan_of(spark, sf_dir, "q_scd1_merge")
    assert plan.count("FullOuter") == 1
    assert plan.count("customer.parquet") == 2


def test_embed_near_dup_shuffles_ids_not_vectors(spark, sf_dir):
    # the slim-postings property: every hash exchange moves id/band/chunk
    # rows only — the embedding column must never appear in exchange output
    plan = plan_of(spark, sf_dir, "q_embed_near_dup")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1)
    # vectors re-attach via EXPLICIT broadcast (r14): an SMJ would
    # reshuffle the pairs by id and hand the verify stage's width back
    # to the AQE size-coalescer (the q_jaccard_prefix misprice)
    assert plan.count("BroadcastHashJoin") >= 2
    # r15 fused dedup+spread: ONE hash exchange on the pair both dedups
    # and spreads to cluster width before the CPU-bound per-pair verify
    # (was dropDuplicates' exchange + a second roundrobin repartition) —
    # ids only, so the exchange is slim
    pair_ex = re.search(
        r"Exchange hashpartitioning\(id_a[^)]*id_b[^)]*\)", plan
    )
    assert pair_ex is not None
    assert "roundrobinpartitioning" not in plan


def test_tpch_q9_broadcasts_dimensions(spark, sf_dir):
    # part/supplier/nation are dimension-sized: the 5-way lattice must
    # broadcast them, leaving orders<->lineitem as the only possible
    # non-broadcast join
    plan = plan_of(spark, sf_dir, "q_tpch_q9")
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q11_single_corpus_shuffle(spark, sf_dir):
    # nation-filtered supplier list broadcasts; the only corpus-sized
    # exchange is the per-part value aggregation (plus the 1-row total)
    plan = plan_of(spark, sf_dir, "q_tpch_q11")
    assert plan.count("BroadcastHashJoin") >= 2
    assert n_exchanges(plan) <= 2


def test_curation_pipeline_no_duplicated_funnel(spark, sf_dir):
    # the dedup stage is a rank-1 window, NOT aggregate + semi-join-back:
    # a diverged branch would re-execute the whole upstream funnel (Spark
    # does not reuse non-broadcast subplans). Pin: exactly ONE
    # contamination pair aggregation and ONE budget-window exchange.
    plan = plan_of(spark, sf_dir, "q_curation_pipeline")
    assert len(re.findall(r"Exchange hashpartitioning\(train_id", plan)) == 1
    assert len(re.findall(r"Exchange hashpartitioning\(lang", plan)) == 1
    # contamination exclusion rides a broadcast anti-join, never a shuffle
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_top_ngrams_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_top_ngrams")
    assert "TakeOrderedAndProject" in plan  # top-50 never global-sorts
    assert n_exchanges(plan) == 1  # the n-gram aggregation only


def test_pii_scrub_and_quantize_shuffle_free(spark, sf_dir):
    # pure per-row projections: the only exchange is the final sort
    for name in ("q_pii_scrub", "q_embed_quantize"):
        plan = plan_of(spark, sf_dir, name)
        assert n_exchanges(plan) == 0, name


def test_embed_dedup_pipeline_apply_is_broadcast_semi_ids_only(spark, sf_dir):
    # the embedding dedup lattice's APPLY stage: keepers (cluster reps,
    # ids only) semi-join back against the corpus — at any scale the
    # keeper list is id-width, and no exchange may carry the vector column
    # (candidates/verify ids-only property is pinned via q_embed_near_dup)
    plan = plan_of(spark, sf_dir, "q_embed_dedup_pipeline")
    assert "LeftSemi" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1)


def test_ann_ivf_partitioned_prunes_cells(spark, sf_dir):
    # the persisted ANN lifecycle: the probe's cell filter must compile to
    # parquet PartitionFilters (nprobe/n_cells of the files listed), and
    # the top-k must be a per-partition heap, never a global sort
    plan = plan_of(spark, sf_dir, "q_ann_ivf_partitioned")
    assert "PartitionFilters: [cell#" in plan
    assert "cell IN" in plan or "cell#" in plan
    assert "TakeOrderedAndProject" in plan


def test_bloom_join_probe_filter_before_any_exchange(spark, sf_dir):
    # the probe must be pre-filtered by per-row bloom checks on top of a
    # 1-row broadcast; the customer side never hash-shuffles at all
    plan = plan_of(spark, sf_dir, "q_bloom_join")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bloom frame
    assert plan.count("BroadcastHashJoin") >= 1  # exact semi join
    m = re.search(r"customer\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and len(m.group(1).split(",")) == 3  # custkey, name, acctbal


def test_countmin_grid_is_broadcast_for_estimation(spark, sf_dir):
    # the d*w grid must broadcast to the probes, never the reverse
    plan = plan_of(spark, sf_dir, "q_countmin_topk")
    assert plan.count("BroadcastHashJoin") >= 1


def test_span_dedup_no_joins_only_windows(spark, sf_dir):
    # duplication via a COUNT window keyed on the gram hash: no
    # aggregate-and-join-back, no pair join anywhere in the plan
    plan = plan_of(spark, sf_dir, "q_span_dedup")
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in plan
    assert plan.count("Window") >= 2  # gram count + interval merge


def test_shard_assign_big_side_window_is_partitioned(spark, sf_dir):
    # the corpus-side row_number rides the 256-bucket hash partitioning;
    # the only single-partition stage is the 256-row offsets window
    plan = plan_of(spark, sf_dir, "q_shard_assign")
    assert re.search(r"Window \[row_number\(\)[^\n]*partitionBy", plan) or \
        "Exchange hashpartitioning(__bucket" in plan
    # both single-partition stages consume the 256-row bucket-counts
    # frame only (offsets window + totals agg), never the corpus
    assert plan.count("Exchange SinglePartition") <= 2


def test_temperature_mix_weights_broadcast_one_corpus_exchange(spark, sf_dir):
    # the lang-sized weight frame broadcasts onto the corpus; the only
    # corpus exchange is the per-lang count aggregate (the totals window
    # runs over the O(#langs) count frame)
    plan = plan_of(spark, sf_dir, "q_temperature_mix")
    assert plan.count("BroadcastHashJoin") >= 1
    assert n_exchanges(plan) <= 2  # lang-count agg (+ its window regroup)


def test_semdedup_hier_codebooks_broadcast_vectors_shuffle_once(spark, sf_dir):
    # the two-argmax assignment pipeline is localCheckpointed (r16: it is
    # read three times and its subtree has no shuffle exchange, so each
    # reference would re-run both argmax passes) — the final plan reads
    # the checkpointed RDD, and the ONLY exchange that carries the
    # vector column is the within-(c1,c2) prune join
    plan = plan_of(spark, sf_dir, "q_semdedup_hier")
    assert "ExistingRDD" in plan  # assignment behind the checkpoint
    assert plan.count("embedding") > 0
    vec_exchanges = len(re.findall(r"Exchange hashpartitioning\([^\n]*embedding", plan))
    assert vec_exchanges <= 2  # the prune's two sides, nothing upstream
    # the checkpointed assignment's own plan keeps the broadcast-only
    # shape: both codebook attach joins broadcast, zero shuffle exchanges
    from pyspark.sql import functions as F

    from nyc_bikeshare_datawarehouse_spark.functions import similarity
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    s = similarity.two_level_cell_counts(e.count(), 64)
    cents1 = similarity._centroids_frame(e, s, "vec_id", "embedding")
    pre = (
        e.crossJoin(F.broadcast(cents1)).select(
            "vec_id",
            similarity._argmax_rounded("embedding", F.col("__cents")).alias("c1"),
        )
    )
    pre_plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in pre_plan


def test_layout_queries_window_is_partitioned(spark, sf_dir):
    # r08 verdict #1: the corpus-side NTILE must ride the 256-bucket
    # two-phase rank (hash-partitioned row_number), never a global
    # `ntile().over(Window.orderBy)` that funnels every row through one
    # task; the only single-partition stages consume the 256-row
    # bucket-counts frame (offsets window + totals agg)
    for q in ("q_zorder_layout", "q_hilbert_layout"):
        plan = plan_of(spark, sf_dir, q)
        assert "ntile" not in plan.lower(), q
        assert "Exchange hashpartitioning(__bucket" in plan, q
        assert plan.count("Exchange SinglePartition") <= 2, q


def test_hll_registers_single_bounded_aggregation(spark, sf_dir):
    # one groupBy over <= 64 register keys; zero-fill joins the tiny
    # range frame -- no exchange on the orders side beyond the register agg
    plan = plan_of(spark, sf_dir, "q_hll_registers")
    assert n_exchanges(plan) <= 2  # register agg (+ zero-fill join key)


def test_kmv_sketch_is_take_ordered(spark, sf_dir):
    # bottom-k via per-partition heaps, never a global sort of the set
    plan = plan_of(spark, sf_dir, "q_kmv_sketch")
    assert "TakeOrderedAndProject" in plan


def test_vocab_build_windows_vocab_not_stream(spark, sf_dir):
    # the token stream is aggregated FIRST; rank + running sum are the
    # two-phase bucketed pass (r12): NO unpartitioned window over the
    # vocab frame itself — the only single-partition stages are the
    # O(distinct-counts) offset windows and 1-row broadcast bounds
    plan = plan_of(spark, sf_dir, "q_vocab_build")
    assert n_exchanges(plan) >= 1  # the token-count aggregation
    # the data-bearing window is partitioned on the bucket key
    assert "partitionBy(__bucket" in plan.replace(" ", "") or re.search(
        r"Window \[.*__bucket", plan
    )


def test_sequence_pack_single_shuffle_no_text(spark, sf_dir):
    # the greedy fold runs per shard after ONE hashpartitioning exchange,
    # and the exchanged rows carry (shard, doc_id, n_tokens) — the text
    # column is consumed by token_count BEFORE the shuffle
    plan = plan_of(spark, sf_dir, "q_sequence_pack")
    assert n_exchanges(plan) == 1
    m = re.search(r"documents\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and len(m.group(1).split(",")) == 2  # doc_id + text only


def test_session_window_batch_single_exchange_no_window_exec(spark, sf_dir):
    # built-in session assembly is the sort inside each hash partition:
    # one exchange on user_id, no window function node
    plan = plan_of(spark, sf_dir, "q_session_window_batch")
    assert n_exchanges(plan) == 1
    assert "WindowExec" not in plan and "RunningWindowFunction" not in plan


def test_histogram_quantiles_scan_prunes_to_value_column(spark, sf_dir):
    # the sketch reads exactly one lineitem column; the quantile probe
    # list and the total ride broadcasts, never a corpus shuffle
    plan = plan_of(spark, sf_dir, "q_histogram_quantiles")
    m = re.search(r"lineitem\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and m.group(1).split(",") == ["l_extendedprice:double"]
    assert plan.count("BroadcastExchange") >= 2


def test_hybrid_rrf_fuses_topk_lists_not_corpus(spark, sf_dir):
    # both rankings are TakeOrdered top-k BEFORE the global-rank window,
    # so the single-partition windows only ever see O(k) rows
    plan = plan_of(spark, sf_dir, "q_hybrid_search_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2


def test_bpe_merge_fold_no_extra_shuffle(spark, sf_dir):
    # word vocab agg + two pair-count aggs = hash exchanges; the merge
    # fold itself must add none (per-row expression), and the scan reads
    # only the text column
    plan = plan_of(spark, sf_dir, "q_bpe_merge_step")
    assert n_exchanges(plan) <= 2
    m = re.search(r"documents\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and m.group(1).split(",") == ["text:string"]


def test_fuzzy_join_no_cartesian_and_pruned_scan(spark, sf_dir):
    # Ed-Join candidates ride a gram equi-join; nothing in the plan may
    # degenerate to an all-pairs product, and the corpus scan reads only
    # (doc_id, text)
    plan = plan_of(spark, sf_dir, "q_fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    m = re.search(r"documents\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and sorted(m.group(1).split(",")) == ["doc_id:bigint", "text:string"]


def test_concurrent_sessions_bin_equijoin(spark, sf_dir):
    # interval overlap goes through the time-bin equi-join — never a
    # nested-loop over the session pairs
    plan = plan_of(spark, sf_dir, "q_concurrent_sessions")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_psi_drift_current_slice_binned_by_broadcast(spark, sf_dir):
    # the O(bins) edge frame meets each slice via broadcast nested loop
    # BY DESIGN (documented in functions/drift.py) — the slices themselves
    # never shuffle for the binning
    plan = plan_of(spark, sf_dir, "q_psi_drift")
    assert "BroadcastNestedLoopJoin" in plan
    # r12: edges come from the two-phase ntile — no single-task ntile
    # over the reference slice anywhere in the plan
    assert "ntile" not in plan.lower()


def test_ks_drift_takeordered_argmax(spark, sf_dir):
    # the argmax row is a TakeOrdered(1), not a global sort; the CDF
    # cumsum windows are bucket-partitioned (plus the one tiny offsets
    # window over B bucket rows)
    plan = plan_of(spark, sf_dir, "q_ks_drift")
    assert "TakeOrderedAndProject" in plan


def test_ngram_containment_pair_repartition(spark, sf_dir):
    # pair counts must be pre-partitioned on the PACKED pair key before
    # the ONE HashAggregate (the q_ngram_jaccard pack_ids discipline)
    plan = plan_of(spark, sf_dir, "q_ngram_containment")
    assert re.search(r"Exchange hashpartitioning\(__pk", plan)


def test_dataset_card_partial_agg_and_partitioned_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_dataset_card")
    # partial aggregate before the source-keyed exchange
    assert re.search(r"HashAggregate[^\n]*partial_", plan)
    # the median window is partitioned by source, never a global window:
    # every windowspecdefinition's first argument is the source key
    specs = re.findall(r"windowspecdefinition\(([^,]*),", plan)
    assert specs and all("source" in s for s in specs)


def test_bigram_logprob_scan_pruned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_bigram_logprob")
    m = re.search(r"documents\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and sorted(m.group(1).split(",")) == ["doc_id:bigint", "text:string"]


def test_join_hint_steers_strategy_without_changing_results(spark, sf_dir):
    # the join-strategy escape hatch when stats mislead Catalyst: hints
    # change the PHYSICAL strategy only — results identical (the API a
    # 100 TB deployment reaches for before any code rewrite)
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    merged = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    hashed = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    bcast = o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    pm = merged._jdf.queryExecution().executedPlan().toString()
    ph = hashed._jdf.queryExecution().executedPlan().toString()
    pb = bcast._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in pm
    assert "ShuffledHashJoin" in ph
    assert "BroadcastHashJoin" in pb
    rows = [sorted(tuple(r) for r in df.collect()) for df in (merged, hashed, bcast)]
    assert rows[0] == rows[1] == rows[2]


def test_dsir_bucket_model_is_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_dsir_select")
    # the 256-row bucket log-ratio table and the 1-row totals must reach
    # the feature stream as broadcasts — never a corpus-side shuffle join
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals crossJoin
    # corpus shuffles: feature explode agg + per-doc sum (+AQE reuse), no more
    assert n_exchanges(plan) <= 4


def test_semdedup_codebook_broadcast_pairs_within_cells(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_semdedup")
    # the first-K codebook attaches via 1-row broadcast crossJoin; the
    # within-cell prune shuffles (cell) keys only
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan  # never an all-pairs product


def test_attribution_single_window_pass(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_attribution")
    # both touches resolve inside ONE user-partitioned window — one
    # exchange for the window, no self-join back to events
    assert plan.count("SortMergeJoin") == 0 and plan.count("BroadcastHashJoin") == 0
    assert n_exchanges(plan) == 1


def test_textrank_iterations_read_checkpoints(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_textrank")
    # the 10 rank rounds must NOT accumulate lineage: the final plan reads
    # the last checkpointed round, not a 10x-nested join tree
    assert "Scan ExistingRDD" in plan
    assert plan.count("Generate explode") == 0  # edge build not re-run


def test_phash_near_dup_decodes_pixels_once(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_phash_neardup")
    # the band self-join reads BOTH sides from the checkpointed 8-byte
    # hash frame: zero Pandas stages in the join plan (without the
    # checkpoint the diverged subplan decoded+DCT'd every pixel twice)
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan


def test_minhash_portable_vocab_join_broadcasts(spark, sf_dir):
    # the per-shingle md5 frame is vocabulary-sized, so AQE must
    # broadcast it into the postings join (portable_minhash_parts). Only
    # the FINAL plan counts: the initial plan still shows the sort-merge
    # join AQE replaces at runtime, and toString prints both
    df = QUERIES["q_minhash_portable"](spark, sf_dir)
    df.collect()  # finalize THIS queryExecution's adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    joins = re.findall(r"(\w+Join) \[s#\d+\], \[s#\d+\]", final)
    assert joins and set(joins) == {"BroadcastHashJoin"}


def test_tfidf_runtime_reuses_postings_exchanges(spark, sf_dir):
    # the weighted-postings frame feeds norms AND both join sides; the
    # initial plan triples the subtree but AQE must dedup the identical
    # shuffles at runtime — this is what keeps tfidf at ~one corpus scan
    df = QUERIES["q_tfidf_cosine"](spark, sf_dir)
    df.collect()  # a .write would execute a COPY of the plan; collect
    # finalizes THIS queryExecution so the adaptive plan is inspectable
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 3


def test_audio_neardup_decodes_wav_once(spark, sf_dir):
    # same pin as the pHash path: the band self-join reads BOTH sides
    # from the checkpointed 8-byte fingerprint frame — zero Pandas
    # stages in the join plan (without the checkpoint the diverged
    # subplan would synth + decode every WAV twice)
    plan = plan_of(spark, sf_dir, "q_audio_neardup")
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan


def test_sql_warehouse_runtime_reuses_cte_exchanges(spark, sf_dir):
    # the trips view feeds 4 joins and the monthly CTE feeds 3 output
    # branches; the initial plan instantiates each subtree separately
    # (13 exchanges) and AQE must dedup the identical shuffles at
    # runtime — the same guarantee pinned for tfidf. The ranked_months
    # windows are O(#months) frames (the allowed single-partition class,
    # see the query docstring).
    df = QUERIES["q_sql_warehouse"](spark, sf_dir)
    df.collect()  # finalizes THIS queryExecution (the .write-copy trap)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 4


def test_mmr_shortlist_is_take_ordered_single_python_stage(spark, sf_dir):
    # the corpus never sorts globally: the 64-row shortlist merges via
    # per-partition heaps (TakeOrderedAndProject), and the greedy is ONE
    # Arrow stage (FlatMapGroupsInPandas) over that bounded frame
    plan = plan_of(spark, sf_dir, "q_mmr_diverse")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    # no corpus-wide window/sort before the shortlist cut
    assert "Window" not in plan.split("TakeOrderedAndProject")[-1]


def test_minhash_est_error_reuses_checkpointed_frames(spark, sf_dir):
    # signatures AND shingle sets are localCheckpointed ONCE each — both
    # are multiply referenced (banding + sig arrays; a_set + b_set), so
    # without the checkpoints the corpus-scale scan + shingle/md5 build
    # re-executes per reference (the diverged-subplan rule). The final
    # plan must read only checkpoint RDDs: zero parquet-rooted rebuilds.
    plan = plan_of(spark, sf_dir, "q_minhash_est_error")
    assert plan.count("Scan ExistingRDD") >= 2
    assert plan.count("documents.parquet") == 0


def test_roc_auc_single_corpus_pass(spark, sf_dir):
    # the cumsum input is localCheckpointed (two_phase_cumsum
    # materialize=True), so the corpus scan + groupBy(score) run ONCE —
    # without it both cumsum phases recompute the whole upstream (the
    # diverged-subplan trap; ReusedExchange never fires because the
    # offsets side acquires a join-inferred not-null pushdown)
    df = QUERIES["q_roc_auc"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan.split("\n\n")[0]  # checkpoint absorbed it
    assert "Scan ExistingRDD" in plan  # the checkpointed grouped frame


def test_threshold_metrics_broadcast_grid(spark, sf_dir):
    # the literal threshold grid joins as a broadcast nested loop (4-row
    # build side), never shuffling the corpus per threshold; the scan
    # reads only the two needed document columns
    plan = plan_of(spark, sf_dir, "q_threshold_metrics")
    assert "BroadcastNestedLoopJoin" in plan
    m = re.search(r"documents[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and len(m.group(1).split(",")) == 2  # text, lang


def test_spearman_rank_maps_broadcast(spark, sf_dir):
    # both rank maps join back to the corpus as broadcast hash joins
    # (key-space-bounded build sides); the probe side never shuffles
    # on the join keys
    plan = plan_of(spark, sf_dir, "q_spearman_drift")
    assert plan.count("BroadcastHashJoin") >= 2


def test_gini_rank_window_is_bucket_partitioned(spark, sf_dir):
    """The Gini global rank must ride the two-phase bucketed form: a
    refactor back to Window.orderBy() with no partitionBy funnels every
    customer through one task — the exact failure the operator exists
    to prevent. Signature in the executed plan: the row_number window
    spec leads with the __bucket partition key; an unpartitioned window
    would show windowspecdefinition(<order cols> ...) with no bucket."""
    plan = plan_of(spark, sf_dir, "q_gini_concentration")
    assert re.search(r"row_number\(\) windowspecdefinition\(__bucket", plan)
    # and the ONLY row_number windows are the bucket-partitioned ones
    assert len(re.findall(r"row_number\(\) windowspecdefinition\(", plan)) == len(
        re.findall(r"row_number\(\) windowspecdefinition\(__bucket", plan)
    )


def test_rfm_all_three_ranks_bucket_partitioned(spark, sf_dir):
    """RFM codes three metrics through two_phase_global_rank; the
    customer scan itself sits behind a localCheckpoint (three rank
    consumers), so the pin is on the three rank windows: every
    row_number must be __bucket-partitioned, never global."""
    plan = plan_of(spark, sf_dir, "q_rfm_segments")
    rn_all = re.findall(r"row_number\(\) windowspecdefinition\(", plan)
    rn_bucketed = re.findall(
        r"row_number\(\) windowspecdefinition\(__bucket", plan
    )
    assert len(rn_all) == 3
    assert len(rn_bucketed) == 3


def test_triangle_count_scan_pruned_and_no_corpus_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_triangle_count")
    m = re.search(r"lineitem\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    cols = m.group(1).split(",") if m else []
    assert len(cols) == 2  # orderkey + partkey only
    # the wedge self-join and the closing edge join are shuffle joins on
    # pair keys — an accidental broadcast of the edge frame would OOM at
    # graph scale (the edge list is corpus-derived, not a dim)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_cohort_ltv_window_is_cohort_partitioned(spark, sf_dir):
    """The cumulative-LTV window must stay partitioned by the cohort
    key: executed plans print the partition spec as
    windowspecdefinition(__cm#.., age_m ...) — a global-window
    regression would print windowspecdefinition(age_m ...) with no
    cohort column and a SinglePartition exchange under the Window."""
    plan = plan_of(spark, sf_dir, "q_cohort_ltv")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all(spec.lstrip().startswith("__cm") for spec in specs), specs


def test_funnel_windows_are_user_partitioned(spark, sf_dir):
    # all three flag windows must stay partitioned by user_id — a global
    # funnel window would funnel the event stream through one task
    plan = plan_of(spark, sf_dir, "q_funnel_conversion")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all(spec.lstrip().startswith("user_id") for spec in specs), specs


def test_dau_mau_range_join_broadcasts_day_list(spark, sf_dir):
    # the trailing-30-day join is days x daily-active: a nested-loop is
    # expected (range condition), but it must be BROADCAST (the O(days)
    # list), never a CartesianProduct over the event-derived frame
    plan = plan_of(spark, sf_dir, "q_dau_mau")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the daily-active distinct is a partial-aggregated groupBy, and only
    # (ts, user_id) are read from the events scan
    m = re.search(r"events\.parquet[^\n]*ReadSchema: struct<([^>]*)", plan)
    assert m and len(m.group(1).split(",")) == 2, plan[:500]


def test_ann_ivfpq_zero_shuffles_take_ordered(spark, sf_dir):
    # the composed IVF-PQ semantics query: quantizers/codebooks/probe all
    # ride 1-row broadcasts, candidates a broadcast filter, both cuts are
    # TakeOrdered heaps — zero hash exchanges, never a cartesian
    plan = plan_of(spark, sf_dir, "q_ann_ivfpq")
    assert n_exchanges(plan) == 0
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def _build_jobs(spark, build, group: str) -> int:
    """Spark jobs run while `build()` constructs a frame (no action)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan build job count")
    try:
        build()
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
    return n_jobs


def test_serving_star_queries_build_without_jobs(spark, sf_dir):
    # the seven star-schema and event queries of the query_serving
    # benchmark: corpus reads use the declared schemas, so building each
    # plan runs no footer-inference (or any other) job
    names = [
        "q_star_join", "q_agg_monthly", "q_tpch_q3", "q_tpch_q18",
        "q_window_rank", "q_sessionize", "q_asof_join",
    ]
    jobs = {
        q: _build_jobs(spark, lambda q=q: QUERIES[q](spark, sf_dir), f"build-{q}")
        for q in names
    }
    assert jobs == dict.fromkeys(names, 0)


def test_dedup_pipeline_build_jobs_independent_of_graph(spark, sf_dir, monkeypatch):
    # q_dedup_pipeline's CC step on a 2-node graph and on a 200-node path
    # (the verify stage replaced by a fixed edge list): the one-task solve
    # runs no job per round, so building costs the same either way
    from nyc_bikeshare_datawarehouse_spark.functions import dedup

    def build_over(edges, group):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        monkeypatch.setattr(dedup, "jaccard_verify_pairs", lambda *a, **k: pairs)
        return _build_jobs(
            spark, lambda: QUERIES["q_dedup_pipeline"](spark, sf_dir), group
        )

    two_node = build_over([(1, 2)], "build-dedup-two-node")
    long_path = build_over([(i, i + 1) for i in range(199)], "build-dedup-path")
    assert two_node == long_path, (two_node, long_path)

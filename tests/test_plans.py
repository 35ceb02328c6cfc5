"""Physical-plan property tests (SURVEY.md §4): the engine's scale contract.

These assert the plans Catalyst actually produces — broadcast joins for
dimensions, pushdown reaching the scans, TakeOrderedAndProject for global
top-k, codegen in the hot paths — so a strategy regression fails here
instead of on a 1000-executor cluster.
"""

from __future__ import annotations

from tfm_taxitrips_spark.plans.explain import explain_formatted
from tfm_taxitrips_spark.queries.relational import (
    q_flagship_view,
    q_left_join_enrich,
    q_topk_global,
    q_windowed_agg_batch,
)
from tfm_taxitrips_spark.queries.vectors import q_ann_bruteforce


def test_flagship_broadcasts_all_dims(spark, sf_smoke):
    plan = explain_formatted(q_flagship_view(spark, sf_smoke))
    # two role-playing dims + the header join: all broadcast-hash
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scans_prune_columns_and_push_filters(spark, sf_smoke):
    plan = explain_formatted(q_left_join_enrich(spark, sf_smoke))
    # orders scan must read only the 2 needed columns, not all 6
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" in plan
    assert "PushedFilters" in plan


def test_global_topk_avoids_global_sort(spark, sf_smoke):
    plan = explain_formatted(q_topk_global(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    # no full Sort + Exchange for a limit-k
    assert "Sort " not in plan


def test_windowed_agg_partial_aggregation(spark, sf_smoke):
    """Map-side partial agg before the shuffle (two HashAggregate levels)."""
    plan = explain_formatted(q_windowed_agg_batch(spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2
    assert "WholeStageCodegen" in explain_formatted(
        q_windowed_agg_batch(spark, sf_smoke)
    ) or "HashAggregate" in plan  # codegen ids only appear in formatted tree


def test_sql_q5_broadcasts_dims(spark, sf_smoke):
    """The 5-way SQL join must broadcast every dimension side — the only
    acceptable shuffles are for the final aggregation."""
    from tfm_taxitrips_spark.queries.sqlsuite import SQL_Q5, _sql_query

    plan = explain_formatted(_sql_query(SQL_Q5)(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_sql_q6_pushes_filters_to_scan(spark, sf_smoke):
    """Q6 is scan+filter+agg; the range predicates must reach the parquet
    reader so row groups outside the shipdate window are skipped."""
    from tfm_taxitrips_spark.queries.sqlsuite import SQL_Q6, _sql_query

    plan = explain_formatted(_sql_query(SQL_Q6)(spark, sf_smoke))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan
    # only the 4 referenced columns are read
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_salted_agg_two_phase(spark, sf_smoke):
    """Salting must produce two aggregation exchanges (salted partial, then
    final on true keys) and keep map-side partial aggregation."""
    from tfm_taxitrips_spark.queries.relational import q_salted_skew_agg

    plan = explain_formatted(q_salted_skew_agg(spark, sf_smoke))
    assert plan.count("Exchange") >= 2
    assert plan.count("HashAggregate") >= 4


def test_rollup_family_expands_exactly_two_sets(spark, sf_smoke):
    """groupingSets must Expand each row 2× (the two materialized views),
    not k+1× like a full rollup — 3.5× shuffle volume at scale."""
    import re

    from tfm_taxitrips_spark.queries.relational import q_rollup_family

    plan = q_rollup_family(spark, sf_smoke)._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"Expand \[\[(.*?)\]\], \[", plan)
    assert m, f"no Expand in plan:\n{plan[:500]}"
    # projection lists are printed as [[...], [...]]: N sets → N-1 '], [' separators
    n_sets = m.group(1).count("], [") + 1
    assert n_sets == 2, f"Expand has {n_sets} grouping sets"


def test_range_join_avoids_nested_loop(spark, sf_smoke):
    """The bucketed rewrite must plan an equi join on the bucket id — a
    BroadcastNestedLoopJoin/cartesian here means the rewrite regressed."""
    from tfm_taxitrips_spark.queries.temporal import q_range_join

    plan = explain_formatted(q_range_join(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_broadcasts_queries(spark, sf_smoke):
    """Brute force: the probe set must broadcast and the store is never
    shuffled. The BroadcastNestedLoopJoin is the documented, intended plan
    for this exact-baseline path (capped by MAX_PROBE_VECS); the scale
    paths (LSH) must instead plan an equi join on the bucket key."""
    from tfm_taxitrips_spark.queries.vectors import q_ann_lsh

    plan = explain_formatted(q_ann_bruteforce(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan

    lsh_plan = explain_formatted(q_ann_lsh(spark, sf_smoke))
    assert "BroadcastHashJoin" in lsh_plan
    assert "BroadcastNestedLoopJoin" not in lsh_plan


def test_flagship_dedup_exchange_is_key_aligned(spark, sf_smoke):
    """The whole-row distinct's shuffle must be the l_orderkey repartition
    (reused by the orders join), never an all-16-column exchange — the
    partitioning-reuse contract of dedup_exact_aligned."""
    import re

    plan = explain_formatted(q_flagship_view(spark, sf_smoke))
    for m in re.finditer(r"hashpartitioning\(", plan):
        # balanced-paren scan: partitioning expressions may nest parens
        # (e.g. cast(x as int)), so a non-greedy regex would undercount
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        args = plan[m.end() : i - 1]
        n_cols = len(re.findall(r"#\d+", args))
        assert n_cols <= 6, f"wide exchange re-appeared: {args}"


def test_doc_repetition_is_shuffle_free(spark, sf_smoke):
    """doc_repetition_stats claims zero-shuffle (in-row fold instead of
    explode + groupBy) — the plan must contain no Exchange at all."""
    from tfm_taxitrips_spark.queries.text import q_doc_repetition

    plan = explain_formatted(q_doc_repetition(spark, sf_smoke))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_window_lag_lead_single_exchange(spark, sf_smoke):
    """Offset windows need exactly one hash exchange (the partition key);
    a second would mean a self-join formulation sneaked in."""
    from tfm_taxitrips_spark.queries.relational import q_window_lag_lead

    import re

    plan = explain_formatted(q_window_lag_lead(spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_corpus_ngram_dedup_no_pair_blowup(spark, sf_smoke):
    """ExactSubstr dedup must stay equi-keyed end-to-end: no nested-loop
    or cartesian join anywhere, and the dup-window detection is a
    two-level (map-side partial) aggregate on the window hash."""
    from tfm_taxitrips_spark.queries.dataprep import q_corpus_ngram_dedup

    plan = explain_formatted(q_corpus_ngram_dedup(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # count_distinct(doc_id) per hash: partial + final HashAggregate pairs
    assert plan.count("HashAggregate") >= 4


def test_hll_union_broadcasts_merged_side(spark, sf_smoke):
    """The sketch-union side aggregates to one row per event_type — it
    must broadcast into the exact-count join, never shuffle it."""
    from tfm_taxitrips_spark.queries.sketches import q_hll_partitioned_union

    plan = explain_formatted(q_hll_partitioned_union(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_oov_vocab_broadcasts_and_takeordered(spark, sf_smoke):
    """token_oov_rate: the top-K vocab must come from TakeOrderedAndProject
    (never a global sort) and join back as a broadcast."""
    from tfm_taxitrips_spark.queries.text import q_token_oov_rate

    plan = explain_formatted(q_token_oov_rate(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quantize_stats_broadcast(spark, sf_smoke):
    """embedding_quantize_int8: per-dimension stats (64 rows) must
    broadcast onto the coordinate stream, never shuffle it for a merge
    join."""
    from tfm_taxitrips_spark.queries.vectors import q_embedding_quantize

    plan = explain_formatted(q_embedding_quantize(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Generate" in plan  # posexplode stays map-side


def test_scd2_single_exchange_no_self_join(spark, sf_smoke):
    """SCD-2 interval construction is one key exchange + one window sort —
    a history self-join (the naive interval build) must never appear."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_scd2_history

    plan = explain_formatted(q_scd2_history(spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_incremental_dedup_semi_joins_only(spark, sf_smoke):
    """Fingerprint-store admission: every probe is an equi-keyed (semi)
    join — no pair generation, no nested-loop fallback."""
    from tfm_taxitrips_spark.queries.text import q_dedup_incremental

    plan = explain_formatted(q_dedup_incremental(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_rank_family_one_exchange_two_sorts(spark, sf_smoke):
    """Two window orderings over one partition key must share a single
    hash exchange (two in-partition sorts) — a second exchange would mean
    the specs stopped sharing their partitioning."""
    import re

    from tfm_taxitrips_spark.queries.relational import q_window_rank_family

    plan = explain_formatted(q_window_rank_family(spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 2
    assert "Join" not in plan


def test_tfidf_scans_documents_once(spark, sf_smoke):
    """df must derive from the reduced tf rows — a second scan of the
    corpus (or any non-equi join) would double the most expensive pass."""
    from tfm_taxitrips_spark.queries.text import q_tfidf_distinctive_terms

    plan = explain_formatted(q_tfidf_distinctive_terms(spark, sf_smoke))
    assert plan.count("documents.parquet") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_label_centroids_partial_agg_before_exchange(spark, sf_smoke):
    """The dim-explode multiplies rows map-side; the shuffle must carry
    only partially-summed (label, dim) rows — partial + final
    HashAggregate around exactly one exchange, no join."""
    import re

    from tfm_taxitrips_spark.queries.vectors import q_label_centroids

    plan = explain_formatted(q_label_centroids(spark, sf_smoke))
    assert "Generate" in plan  # posexplode stays map-side
    assert plan.count("HashAggregate") >= 2
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_gap_fill_generates_grid_no_nested_loop(spark, sf_smoke):
    """The dense grid is a map-side Generate joined equi-keyed on
    (user, bucket) — a calendar-table nested loop or cartesian product
    must never appear, and the range filter reaches the scan."""
    from tfm_taxitrips_spark.queries.temporal import q_event_gap_fill

    plan = explain_formatted(q_event_gap_fill(spark, sf_smoke))
    assert "Generate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan


def test_rolling_rate_single_exchange(spark, sf_smoke):
    """A RANGE-frame window is one exchange + one sort — the naive
    formulation (self-join on the time band) must never appear."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_event_rolling_rate

    plan = explain_formatted(q_event_rolling_rate(spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_per_group_sample_k_single_exchange(spark, sf_smoke):
    """Fixed-k stratum sampling is one exchange on the stratum key + one
    window sort; no join, no global sort."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_per_group_sample_k

    plan = explain_formatted(q_per_group_sample_k(spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_bloom_probe_filters_before_join(spark, sf_smoke):
    """The Bloom membership test must land as a Filter on the lineitem side
    BEFORE the orders join, with the one-row filter broadcast — and the
    probe must stay a getbit/codegen expression, not a UDF."""
    from tfm_taxitrips_spark.queries.relational import q_bloom_pruned_join

    plan = explain_formatted(q_bloom_pruned_join(spark, sf_smoke))
    assert "getbit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bloom attach
    assert "pythonUDF" not in plan.lower()
    # the bloom attach + membership filter sit below the orders equi-join:
    # lineitem's scan feeds the filter, and only the filtered side is joined
    join_pos = plan.find("BroadcastHashJoin")
    getbit_pos = plan.find("getbit")
    assert join_pos != -1 and getbit_pos != -1


def test_cms_bounded_state_and_broadcast_probe(spark, sf_smoke):
    """The CMS build must be a map-side-combined aggregation over ≤ d·w
    cells, the heavy-hitter set a TakeOrderedAndProject, and the probe
    joins broadcast — no sort-merge anywhere in the sketch path."""
    from tfm_taxitrips_spark.queries.sketches import q_cms_heavy_hitters

    plan = explain_formatted(q_cms_heavy_hitters(spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2  # partial + final cell counts
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_spreads_hot_key(spark, sf_smoke):
    """The salted join must materialize as a ShuffledHashJoin whose keys
    include the salt — the fact exchange hash-partitions on (key, salt),
    spreading each hot flag over salt_buckets reducers."""
    from tfm_taxitrips_spark.queries.relational import q_salted_skew_join

    plan = explain_formatted(q_salted_skew_join(spark, sf_smoke))
    assert "ShuffledHashJoin" in plan
    assert "_salt" in plan
    assert "BroadcastHashJoin" not in plan  # broadcast would hide the spread


def test_funnel_single_shuffle(spark, sf_smoke):
    """The 3-stage funnel is ONE user-keyed exchange (conditional min-when
    aggregate) + a scalar collapse — never a per-stage self-join."""
    from tfm_taxitrips_spark.queries.analytics import q_funnel_conversion

    import re

    plan = explain_formatted(q_funnel_conversion(spark, sf_smoke))
    assert "Join" not in plan
    # user agg + final single-row collapse, nothing else
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_pareto_no_dominance_self_join(spark, sf_smoke):
    """The skyline must come from the running-max rewrite: a broadcast of
    the cardinality-collapsed price table back onto the scan — never the
    O(n^2) dominance join the oracle uses."""
    from tfm_taxitrips_spark.queries.analytics import q_pareto_frontier

    plan = explain_formatted(q_pareto_frontier(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_bm25_takeordered_and_broadcast_stats(spark, sf_smoke):
    """BM25's final top-k is TakeOrderedAndProject (no global sort), and
    the corpus stats / df sides join by broadcast."""
    from tfm_taxitrips_spark.queries.retrieval import q_bm25_search

    plan = explain_formatted(q_bm25_search(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_gopher_gate_is_map_only(spark, sf_smoke):
    """The quality gate is a pure projection: no exchange, no generate."""
    from tfm_taxitrips_spark.queries.retrieval import q_gopher_quality_filter

    plan = explain_formatted(q_gopher_quality_filter(spark, sf_smoke))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_asof_forward_single_window_scan(spark, sf_smoke):
    """Forward as-of = union + ONE user-keyed window scan; a range self-join
    here would be the O(n^2) shape the operator exists to avoid."""
    from tfm_taxitrips_spark.queries.temporal import q_asof_forward

    import re

    plan = explain_formatted(q_asof_forward(spark, sf_smoke))
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_cdc_apply_single_exchange_max_by(spark, sf_smoke):
    """CDC last-wins collapse = map-side union of op waves + ONE key
    exchange for the max_by aggregate — never a row_number sort over the
    log."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_cdc_apply

    plan = explain_formatted(q_cdc_apply(spark, sf_smoke))
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # max_by plans as SortAggregate: partial (pre-shuffle combine) + final
    assert len(re.findall(r"\(\d+\) SortAggregate", plan)) >= 2


def test_kmeans_broadcast_centroids_no_cartesian(spark, sf_smoke):
    """Every Lloyd assignment must broadcast its K centroid rows against
    the store — a non-broadcast cartesian or a sort-merge join would mean
    the iteration shuffles the corpus."""
    from tfm_taxitrips_spark.queries.vectors import q_kmeans_fixed

    plan = explain_formatted(q_kmeans_fixed(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sink_partitioned_readback_prunes(spark, sf_smoke, tmp_path):
    """K1 contract: a predicate on the partition column of the sunk table
    must reach the scan as a PartitionFilter (directory pruning), not a
    post-scan Filter."""
    from tfm_taxitrips_spark.queries.sinkq import PRUNE_PRIORITY
    from tfm_taxitrips_spark.sinks.writers import write_table
    from tfm_taxitrips_spark.sources.readers import table as t

    import pyspark.sql.functions as F

    path = str(tmp_path / "orders_part")
    write_table(
        t(spark, sf_smoke, "orders"), path, partition_by=("o_orderpriority",)
    )
    back = spark.read.parquet(path).where(
        F.col("o_orderpriority") == PRUNE_PRIORITY
    )
    plan = explain_formatted(back)
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan


def test_ngram_jaccard_df_cap_bounds_pair_join(spark, sf_smoke):
    """The shingle self-join must consume the df-capped shingle stream on
    BOTH sides — the cap bounds the join output to NGRAM_DF_CAP ×
    |shingles| (linear) instead of Σ df(s)² (quadratic). The cap itself
    must be hot-key-safe: df counts via partial-aggregated groupBy (two
    HashAggregate levels), over-cap shingles BROADCAST into a map-side
    anti-join — never a Window.partitionBy(s), whose exchange would
    funnel every raw row of a hot shingle through one reducer."""
    from tfm_taxitrips_spark.queries.text import NGRAM_DF_CAP, q_ngram_jaccard_pairs

    plan = explain_formatted(q_ngram_jaccard_pairs(spark, sf_smoke))
    assert f"> {NGRAM_DF_CAP}" in plan, "df cap threshold missing from plan"
    assert "Window" not in plan, "window df-count reintroduces the hot-key funnel"
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    ), "hot-shingle filter must be a broadcast anti-join"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_doc_chunking_is_map_only(spark, sf_smoke):
    """Chunking must be a pure scan-side transform: token split, start
    generation, slice, filter — NO exchange at any corpus size (the
    W/stride output fan-out is payload, not a key explosion)."""
    from tfm_taxitrips_spark.queries.dataprep import q_doc_chunking

    plan = explain_formatted(q_doc_chunking(spark, sf_smoke))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_cross_source_matrix_broadcasts_candidates(spark, sf_smoke):
    """The LSH-bounded candidate set must broadcast into the documents
    label scans — the corpus is never shuffled for the matrix; SortMerge
    on either label join would mean the small side regressed to an
    exchange."""
    from tfm_taxitrips_spark.queries.text import q_cross_source_dup_matrix

    plan = explain_formatted(q_cross_source_dup_matrix(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_minhash_eval_broadcasts_only_candidate_slice(spark, sf_smoke):
    """The estimator gate must semi-join the corpus-sized signature table
    down to candidate docs BEFORE broadcasting it (a whole-sig broadcast
    OOMs at corpus scale), and the exact-Jaccard leg must likewise be
    candidates-only. Pin: the LeftSemi restrictions exist and the
    broadcast joins are present. (The restricted-sets self-join inside
    the exact leg is a legitimate shuffle join, so a blanket
    no-SortMergeJoin assertion would be wrong here.)

    r18: the registered form fences the thrice-consumed relations with
    lazy localCheckpoints; ``fence=False`` exposes the identical
    composition as ONE plan, which is where the semi-join/broadcast
    pins live. The default form is additionally pinned to carry the
    fences (Scan ExistingRDD) and keep the two signature broadcasts."""
    from tfm_taxitrips_spark.queries.text import q_minhash_estimate_eval

    plan = explain_formatted(
        q_minhash_estimate_eval(spark, sf_smoke, fence=False))
    assert "LeftSemi" in plan
    assert plan.count("BroadcastHashJoin") >= 3

    fenced = explain_formatted(q_minhash_estimate_eval(spark, sf_smoke))
    assert "Scan ExistingRDD" in fenced
    assert fenced.count("BroadcastHashJoin") >= 2


def test_dataset_split_single_exchange(spark, sf_smoke):
    """Split assignment is a map-side expression; only the (source, split)
    audit aggregation may shuffle — one exchange, partial agg before it."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_dataset_split

    plan = explain_formatted(q_dataset_split(spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_inverted_index_single_scan_capped_window(spark, sf_smoke):
    """The index build scans the corpus once; df-count and top-k postings
    share the term partitioning (one Window stage), and the per-term cap
    executes map-side via WindowGroupLimit before rows move."""
    import re

    from tfm_taxitrips_spark.queries.retrieval import q_inverted_index

    plan = explain_formatted(q_inverted_index(spark, sf_smoke))
    assert plan.count("documents.parquet") == 1
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    # (term,doc) tf exchange + term window exchange — nothing else
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_semantic_dedup_broadcast_cents_no_self_join(spark, sf_smoke):
    """Cell assignment broadcasts the centroid rows; the within-cell pair
    stage is the salted bucket-group expansion, NOT a self-join of the
    store — no cartesian/nested-loop path exists at any corpus shape."""
    from tfm_taxitrips_spark.queries.vectors import q_semantic_dedup

    plan = explain_formatted(q_semantic_dedup(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # pair generation is groupBy+explode (bucket_pairs): the only joins are
    # the K-row centroid broadcast and the final 16-row audit assembly
    assert "SortMergeJoin" not in plan


def test_random_projection_is_map_only(spark, sf_smoke):
    """The JL sketch must ride the scan: in-row integer folds, zero
    exchanges, no explode of the store."""
    import re

    from tfm_taxitrips_spark.queries.vectors import q_random_projection

    plan = explain_formatted(q_random_projection(spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "Join" not in plan
    assert "Generate" not in plan  # no posexplode fallback


def test_ohlc_resample_partial_bars_no_window(spark, sf_smoke):
    """OHLC downsampling must be ONE two-phase aggregation: a partial
    aggregate on the scan side collapses each task to per-(type, hour)
    bars before the single exchange, and no Window operator (the oracle's
    row_number formulation — a full tick sort-and-shuffle) may appear."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_ohlc_resample

    plan = explain_formatted(q_ohlc_resample(spark, sf_smoke))
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # partial-then-final: two aggregate operators around that exchange
    assert len(re.findall(r"\(\d+\) \w*Aggregate", plan)) == 2


def test_setsim_prefix_join_materializes_corpus_once(spark, sf_smoke):
    """The tokenized-corpus frame feeds three consumers (prefix explode +
    both verify sides); the lazy localCheckpoint must hide the
    scan→df-join→collect lineage so the final plan replays no documents
    scan, and the candidate stage must stay equi-join/bucket-group shaped
    (no cartesian, no nested loop) at any corpus shape."""
    from tfm_taxitrips_spark.queries.text import q_setsim_prefix_join

    plan = explain_formatted(q_setsim_prefix_join(spark, sf_smoke))
    assert plan.count("documents.parquet") == 0  # checkpointed lineage
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_column_profile_single_scan(spark, sf_smoke):
    """The profiler must read orders ONCE: six exact count-distincts plan
    as one aggregation behind an Expand, not six scans or a join-union of
    per-column subqueries; the unpivot is a projection (stack), not a
    shuffle."""
    from tfm_taxitrips_spark.queries.analytics import q_column_profile

    plan = explain_formatted(q_column_profile(spark, sf_smoke))
    assert plan.count("orders.parquet") == 1
    assert "Expand" in plan  # the multi-count-distinct single-pass shape
    assert "Join" not in plan
    assert "Generate" in plan or "Expand" in plan  # stack lowers to Generate/Expand


def test_feature_hashing_no_vocab_join_single_shuffle(spark, sf_smoke):
    """The hashing trick must plan with NO vocabulary join (its whole
    point) and exactly one exchange — the (doc, bucket) aggregation with
    a map-side partial over the exploded tokens."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_feature_hashing

    plan = explain_formatted(q_feature_hashing(spark, sf_smoke))
    assert "Join" not in plan
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    # fan_out may add a repartition of the scan; the aggregation adds one
    assert len(exchanges) <= 2
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial + final


def test_markov_matrix_aggregates_before_normalizing(spark, sf_smoke):
    """The transition matrix must collapse the per-event pair stream with
    a map-side-combined aggregation BEFORE the row-normalizing window, so
    the window sorts |types|² matrix rows, never event rows — and the
    whole query must stay join-free."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_markov_transitions

    plan = explain_formatted(q_markov_transitions(spark, sf_smoke))
    assert "Join" not in plan
    # lag window (per-user) + normalizing window (per-src) only
    assert plan.count("Window") >= 2
    # pair collapse is partial+final around its exchange
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_trend_slopes_no_window_broadcast_base(spark, sf_smoke):
    """Per-type OLS must be pure sufficient-statistics aggregation: no
    Window/sort anywhere, the global min-hour joined as a broadcast
    (1-row side), and both aggregations two-phase (map-side partials)."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_group_trend_slopes

    plan = explain_formatted(q_group_trend_slopes(spark, sf_smoke))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan  # 1-row min-hour base
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4


def test_zorder_layout_map_only_no_shuffle(spark, sf_smoke):
    """The layout-key pass must be map-only: the 1-row min/max frame
    broadcasts, the quantize+interleave is per-row codegen, and NO
    shuffle exchange / sort / window may appear (the physical data move
    is a separate deployment step)."""
    import re

    from tfm_taxitrips_spark.queries.analytics import q_zorder_layout

    plan = explain_formatted(q_zorder_layout(spark, sf_smoke))
    assert "Window" not in plan
    assert "Sort " not in plan
    # the only exchange is the stats pass's SinglePartition reduce, which
    # carries one partial min/max row per task — the data rows never shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SinglePartition" in plan
    assert "hashpartitioning" not in plan
    assert "Broadcast" in plan


def test_copurchase_basket_checkpointed_equi_joins(spark, sf_smoke):
    """The basket relation feeds four consumers; the lazy localCheckpoint
    must hide the lineitem-scan lineage from the final plan, and every
    join must stay equi/broadcast shaped — no cartesian scan of the pair
    space (the 1-row order-count cross join broadcasts)."""
    from tfm_taxitrips_spark.queries.analytics import q_copurchase_lift

    plan = explain_formatted(q_copurchase_lift(spark, sf_smoke))
    assert plan.count("lineitem.parquet") == 0  # checkpointed lineage
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_fusion_lists_reduce_before_rank(spark, sf_smoke):
    """Both fusion inputs must reduce through distributed
    TakeOrderedAndProject to their depth-100 lists BEFORE any window
    touches them, so the single-partition rank windows and the fusion
    join only ever see driver-sized frames."""
    from tfm_taxitrips_spark.queries.retrieval import q_hybrid_rank_fusion

    plan = explain_formatted(q_hybrid_rank_fusion(spark, sf_smoke))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_cusum_single_sort_broadcast_stats(spark, sf_smoke):
    """Both cumulative windows (sum, then running-min of the sum) share
    one partitioning and ordering: the plan may sort the (type, hour)
    series once behind a single hash exchange for the window stages, the
    per-type stats row must broadcast, and the series aggregation must
    partial-combine map-side."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_cusum_drift

    plan = explain_formatted(q_cusum_drift(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # one exchange for the hour-series agg, one for the window partitioning,
    # one single-partition reduce inside the broadcast stats side
    assert len(re.findall(r"\(\d+\) Sort", plan)) <= 2


def test_touch_attribution_equi_join_no_nested_loop(spark, sf_smoke):
    """The backward range join must be the bucketed EQUI rewrite on
    (user, bucket) — a nested-loop/cartesian here means the attribution
    pair space regressed to |clicks|x|purchases|."""
    from tfm_taxitrips_spark.queries.temporal import q_touch_attribution

    plan = explain_formatted(q_touch_attribution(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_type_correlation_pair_join_rides_hour_key(spark, sf_smoke):
    """The |types|^2 fan-out must ride the hour-key equi join; the
    bounded |types|-row grid fan-out happens once inside the grid's
    checkpoint, not per pair side."""
    from tfm_taxitrips_spark.queries.analytics import q_type_correlation

    plan = explain_formatted(q_type_correlation(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # the checkpointed grid feeds both pair sides: no events re-scan, and
    # the bounded |types|-row fan-out (a BNLJ) stays inside the checkpoint
    assert plan.count("events.parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fk_audit_broadcasts_dims_prunes_keys(spark, sf_smoke):
    """Dimension-side orphan checks must broadcast the parent (left-anti
    build side) and every scan must read ONLY the key column."""
    from tfm_taxitrips_spark.queries.analytics import q_fk_integrity_audit

    plan = explain_formatted(q_fk_integrity_audit(spark, sf_smoke))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # key-only scans: no non-key lineitem column may be read
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines
    assert not any("l_quantity" in l or "l_extendedprice" in l
                   for l in read_lines)


def test_decayed_engagement_prunes_horizon_before_shuffle(spark, sf_smoke):
    """The horizon predicate must drop zero-weight rows BEFORE the user
    aggregation's exchange, and the weight computation is map-side (no
    window, no join besides the 1-row anchor broadcast)."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_decayed_engagement

    plan = explain_formatted(q_decayed_engagement(spark, sf_smoke))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4  # anchor + user agg, partial+final


def test_seasonal_anomaly_no_window_broadcast_baseline(spark, sf_smoke):
    """The seasonal fence must be join+codegen only: no Window, no sort,
    the tiny (type, hour-of-day) baseline broadcast, both aggregations
    two-phase."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_seasonal_anomaly

    plan = explain_formatted(q_seasonal_anomaly(spark, sf_smoke))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4


def test_pmi_collocations_floor_before_joins_topk_distributed(spark, sf_smoke):
    """The frequency floor must prune the bigram tail BEFORE the unigram
    joins, and the final top-k must be TakeOrderedAndProject, not a
    global sort."""
    from tfm_taxitrips_spark.queries.text import q_pmi_collocations

    plan = explain_formatted(q_pmi_collocations(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # floor is a post-aggregation filter on c_xy upstream of the joins
    assert "c_xy" in plan and ">= 5" in plan


def test_corpus_prep_single_scan_one_window_one_agg(spark, sf_smoke):
    """The whole prep chain must stay one plan: a single documents scan,
    one window stage (the content-hash canonicalization), one final
    aggregation, and no joins — the gate, hashes, and split label are
    all map-side expressions."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_corpus_prep_pipeline

    plan = explain_formatted(q_corpus_prep_pipeline(spark, sf_smoke))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_snapshot_diff_single_full_outer_merge(spark, sf_smoke):
    """The reconciliation must be ONE co-partitionable full-outer merge on
    the primary key — classification is a map-side CASE, the summary a
    two-phase aggregate. The only other join is the 1-row max-key shift
    broadcast (insert re-keying past the observed domain)."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_snapshot_diff

    plan = explain_formatted(q_snapshot_diff(spark, sf_smoke))
    assert len(re.findall(r"SortMergeJoin FullOuter", plan)) == 1
    # exactly the one 1-row cross for the max-key shift — nothing else
    assert len(re.findall(r"BroadcastNestedLoopJoin Cross", plan)) == 1
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2


def test_k_anonymize_ladder_join_and_window_free(spark, sf_smoke):
    """The generalization ladder must be pure aggregation: no join, no
    window; branches re-aggregate the checkpointed level-0 group counts
    (bounded by the quasi-id domain), never the customer scan."""
    from tfm_taxitrips_spark.queries.dataprep import q_k_anonymize

    plan = explain_formatted(q_k_anonymize(spark, sf_smoke))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Union" in plan


def test_cms_join_size_grids_broadcast_raw_never_key_shuffled(spark, sf_smoke):
    """The sketch path must scan raw events exactly twice (once per side),
    shuffle only d*w-bounded grids, and join the grids by broadcast; the
    exact baseline rides the checkpointed per-key counts, so no raw-side
    SortMergeJoin may appear."""
    import re

    from tfm_taxitrips_spark.queries.sketches import q_cms_join_size

    plan = explain_formatted(q_cms_join_size(spark, sf_smoke))
    assert "BroadcastHashJoin Inner" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_key_skew_audit_topn_on_collapsed_counts_no_global_sort(spark, sf_smoke):
    """Top-10 shares must come from TakeOrderedAndProject over the
    checkpointed per-key counts — never a global Sort — and the audits
    combine with broadcast-only (1-row) joins."""
    import re

    from tfm_taxitrips_spark.queries.analytics import q_key_skew_audit

    plan = explain_formatted(q_key_skew_audit(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not re.search(r"\(\d+\) Sort\b", plan)


def test_token_budget_mix_heavy_window_rides_range_buckets(spark, sf_smoke):
    """The corpus-sized running total must be windowed on (source, rng) —
    the two-phase split — never on source alone; offsets and budgets join
    back by broadcast (no SortMergeJoin)."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_token_budget_mix

    plan = explain_formatted(q_token_budget_mix(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    win_args = [
        l for l in plan.splitlines()
        if "windowspecdefinition" in l and "pr#" in l
    ]
    assert win_args and all("rng#" in l for l in win_args)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2  # offsets + local


def test_auc_eval_windows_collapsed_scores_only(spark, sf_smoke):
    """AUC must rank the collapsed (source, score) relation: the groupBy
    collapse precedes the one window (two-phase agg before it), and the
    plan is join-free."""
    import re

    from tfm_taxitrips_spark.queries.retrieval import q_auc_score_eval

    plan = explain_formatted(q_auc_score_eval(spark, sf_smoke))
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4


def test_concurrency_profile_sweep_rides_day_partitions(spark, sf_smoke):
    """The corpus-sized running sum must be windowed per epoch-day (the
    two-phase split); only the |days|-row offset window is global, the
    offsets join back by broadcast, and no SortMergeJoin appears."""
    import re

    from tfm_taxitrips_spark.queries.temporal import q_concurrency_profile

    plan = explain_formatted(q_concurrency_profile(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    win_args = [
        l for l in plan.splitlines()
        if "windowspecdefinition" in l and "us#" in l
    ]
    assert win_args and all("day_idx#" in l for l in win_args)
    # offsets + boundary-local sweep + the |days|-row carry window
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3


def test_embedding_covariance_single_scan_map_side_pairs(spark, sf_smoke):
    """The 36 pair cells must explode map-side and collapse in one
    two-phase aggregate: a single embeddings scan, no join, no window."""
    import re

    from tfm_taxitrips_spark.queries.vectors import q_embedding_covariance

    plan = explain_formatted(q_embedding_covariance(spark, sf_smoke))
    assert "Join" not in plan
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2


def test_data_contract_audit_one_pass_per_table(spark, sf_smoke):
    """All of a table's rules ride one conditional-sum aggregate: exactly
    three scans (orders, lineitem, events), join- and window-free."""
    import re

    from tfm_taxitrips_spark.queries.analytics import q_data_contract_audit

    plan = explain_formatted(q_data_contract_audit(spark, sf_smoke))
    assert "Join" not in plan
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3


def test_bpe_induction_iterates_on_collapsed_vocab(spark, sf_smoke):
    """After the one corpus collapse (checkpointed word-frequency table),
    no merge round re-scans documents (the registered plan reads only
    checkpointed relations), and a round's winner selection — pinned here
    on the un-checkpointed round shape — reduces via
    TakeOrderedAndProject over the collapsed vocab, never a global sort."""
    import re

    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.functions.text import tokens
    from tfm_taxitrips_spark.queries.text import (
        _bpe_pair_counts,
        q_bpe_merge_induction,
    )
    from tfm_taxitrips_spark.sources.readers import table

    final = explain_formatted(q_bpe_merge_induction(spark, sf_smoke))
    assert final.count("documents.parquet") == 0  # rounds ride the checkpoint
    assert "SortMergeJoin" not in final

    words = (
        table(spark, sf_smoke, "documents")
        .select(F.explode(tokens("text")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 "))
                .alias("s"), "freq")
    )
    round_plan = explain_formatted(
        _bpe_pair_counts(words)
        .orderBy(F.col("pair_count").desc(), F.col("lhs").asc(),
                 F.col("rhs").asc()).limit(1)
    )
    assert "TakeOrderedAndProject" in round_plan
    assert len(re.findall(r"\(\d+\) Scan parquet", round_plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", round_plan)) >= 4


def test_exact_median_counting_no_per_group_sort(spark, sf_smoke):
    """The median must come from rank lookups over the collapsed count
    relation: the only windows ride (event_type, rng) partitions, the
    rank joins broadcast, and no SortMergeJoin appears."""
    from tfm_taxitrips_spark.queries.analytics import q_exact_grouped_median

    plan = explain_formatted(q_exact_grouped_median(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    win_args = [
        l for l in plan.splitlines()
        if "windowspecdefinition" in l and "cents#" in l
    ]
    assert all("rng#" in l for l in win_args)


def test_hard_negatives_broadcast_probes_only(spark, sf_smoke):
    """The miner rides the capped exact path: probes broadcast (the
    documented BNLJ), the store is never shuffled, and the label filter
    sits in the join condition, not after the rank."""
    from tfm_taxitrips_spark.queries.vectors import q_hard_negative_mining

    plan = explain_formatted(q_hard_negative_mining(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "NOT (label" in plan or "NOT (q_label" in plan or "= q_label" in plan


def test_mmr_broadcasts_candidate_slice_not_corpus(spark, sf_smoke):
    """The MMR vector-attach must broadcast the ≤MMR_CANDIDATES-row
    candidate slice onto the streamed corpus-sized embeddings scan —
    never the reverse (r4 verdict: the corpus-side hint is an executor
    OOM at 100 TB). Pinned shape: the only BroadcastExchanges are the
    1-row probe (inside the brute-force scorer) and the slice, whose
    direct child is the TakeOrderedAndProject limit; no exchange wraps a
    bare embeddings scan."""
    import re

    from tfm_taxitrips_spark.queries.retrieval import _mmr_candidates

    plan = explain_formatted(_mmr_candidates(spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree  # the vec_id attach join
    # exactly two broadcasts: probe + candidate slice — and no OTHER
    # exchange of any kind (every "Exchange" node must be one of the two
    # BroadcastExchanges; a bare shuffle Exchange would break the equality)
    # line-anchored node-name matches (ADVICE r5): raw substring counts
    # would double-count a ReusedExchange or an AQE wrapper node; `\b`
    # keeps "ReusedExchange (n)" from matching the plain-Exchange pattern
    n_bcast = len(re.findall(r"\bBroadcastExchange \(\d+\)", tree))
    n_exchange_any = len(re.findall(r"\b(?:Broadcast)?Exchange \(\d+\)", tree))
    assert n_bcast == 2
    assert n_exchange_any == n_bcast
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
    # the slice broadcast sits DIRECTLY above its limit — the corpus-side
    # form (BroadcastExchange over Project/Filter/Scan) has no such pair
    assert re.search(
        r"BroadcastExchange \(\d+\)\n\s*\+- TakeOrderedAndProject", tree
    ), tree


def test_sf_scaling_sides_auto_broadcast_no_hard_hint(spark, sf_smoke):
    """customer/part grow with SF, so their joins carry NO F.broadcast
    hint (SCALE.md §Joins, "SF-scaling sides"). Two properties: (a) at
    fixture scale the size-statistics threshold still broadcasts them —
    nothing regressed by dropping the hint; (b) the decision genuinely
    follows the threshold (a hard hint would ignore it), so past
    autoBroadcastJoinThreshold the same plan degrades to a shuffle join
    instead of an executor OOM."""
    from tfm_taxitrips_spark.queries.analytics import q_copurchase_lift
    from tfm_taxitrips_spark.queries.relational import q_running_revenue

    assert "BroadcastHashJoin" in explain_formatted(
        q_running_revenue(spark, sf_smoke))
    assert "BroadcastHashJoin" in explain_formatted(
        q_copurchase_lift(spark, sf_smoke))

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        constrained = explain_formatted(q_running_revenue(spark, sf_smoke))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "SortMergeJoin" in constrained or "ShuffledHashJoin" in constrained


def test_ols_two_factor_single_shuffle_pruned_scan(spark, sf_smoke):
    """group_ols_two_factor's whole plan is ONE map-side-combined hash
    aggregate: exactly one shuffle Exchange (the segment groupBy), no
    SortAggregate, and the lineitem scan pruned to exactly the four
    columns the regression touches — the 2×2 solve is a projection over
    the aggregate-sized result, so nothing else may move data."""
    import re

    from tfm_taxitrips_spark.queries.analytics import q_group_ols_two_factor

    plan = explain_formatted(q_group_ols_two_factor(spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\b(?:Broadcast|Reused)?Exchange \(\d+\)", tree)) == 1
    assert len(re.findall(r"\bHashAggregate \(\d+\)", tree)) == 2  # partial+final
    assert "SortAggregate" not in tree
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert cols == [
        "l_discount", "l_extendedprice", "l_quantity", "l_returnflag"]


def test_benford_exchanges_are_aggregate_sized(spark, sf_smoke):
    """benford_digit_audit may shuffle exactly twice — the
    (segment, digit) groupBy and the segment Window repartition — and
    BOTH sit above the partial aggregate, so every row crossing the wire
    is one of ≤9 digit-count rows per segment, never raw lineitem. Scan
    pruned to the two touched columns."""
    import re

    from tfm_taxitrips_spark.queries.analytics import q_benford_digit_audit

    plan = explain_formatted(q_benford_digit_audit(spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    exchanges = re.findall(r"\b(?:Broadcast|Reused)?Exchange \(\d+\)", tree)
    assert len(exchanges) == 2
    assert len(re.findall(r"\bWindow \(\d+\)", tree)) == 1
    # the partial HashAggregate is BELOW both exchanges: the first
    # Exchange's plan id must be higher (deeper) than the final agg's
    assert len(re.findall(r"\bHashAggregate \(\d+\)", tree)) == 2
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert cols == ["l_extendedprice", "l_returnflag"]


def test_loo_encoding_single_shuffle_then_generate(spark, sf_smoke):
    """loo_target_encoding: one shuffle Exchange (the category groupBy),
    and the width-2 label explode (Generate) runs on the AGGREGATE-sized
    result — above the final aggregate, never on raw orders rows."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_loo_target_encoding

    plan = explain_formatted(q_loo_target_encoding(spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\b(?:Broadcast|Reused)?Exchange \(\d+\)", tree)) == 1
    assert len(re.findall(r"\bGenerate \(\d+\)", tree)) == 1
    # Generate sits ABOVE the final HashAggregate in the operator listing
    # (formatted plans list parents before children)
    gen_pos = tree.index("Generate")
    agg_pos = tree.index("HashAggregate")
    assert gen_pos < agg_pos


def test_label_leakage_anti_join_broadcasts_hot_set(spark, sf_smoke):
    """label_leakage_audit: the over-cap shingle stop-list and the
    per-eval-doc totals must BROADCAST (anti-join + containment join);
    the only non-broadcast join is the shingle-keyed pair join, and no
    plan node may be a cartesian/nested-loop scan of the pair space."""
    from tfm_taxitrips_spark.queries.dataprep import q_label_leakage_audit

    plan = explain_formatted(q_label_leakage_audit(spark, sf_smoke))
    assert "LeftAnti" in plan  # the DF-cap stop-list exclusion
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_per_source_dedup_broadcasts_candidates(spark, sf_smoke):
    """per_source_dedup_rate: the simhash pair set is checkpointed (its
    band join must not re-execute per consumer) and broadcasts into the
    corpus projections; the corpus itself is never nested-loop joined."""
    from tfm_taxitrips_spark.queries.text import q_per_source_dedup_rate

    plan = explain_formatted(q_per_source_dedup_rate(spark, sf_smoke))
    assert "Scan ExistingRDD" in plan  # checkpointed pair set
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_drift_single_raw_scan(spark, sf_smoke):
    """quantile_drift_gate: only the GK sketch leg reads raw lineitem —
    the exact leg rides the checkpointed value-domain collapse, so the
    final plan holds exactly ONE parquet scan; the rank lookups join the
    4-row target frame by broadcast."""
    from tfm_taxitrips_spark.queries.sketches import q_quantile_drift_gate

    plan = explain_formatted(q_quantile_drift_gate(spark, sf_smoke))
    assert plan.count("lineitem.parquet") == 1  # GK leg only
    assert "Scan ExistingRDD" in plan  # checkpointed collapse/targets
    assert "CartesianProduct" not in plan


def test_zipf_fit_rank_rides_histogram_no_serial_window(spark, sf_smoke):
    """zipf_vocab_fit (r9 verdict item #4): the per-word row_number
    ranker is GONE — ranks derive from the two-phase prefix over the
    checkpointed (freq, n_w) histogram, so the final plan has no
    row_number at all, windows only over octave-bucketed collapsed
    relations (the offsets window + the ≤25-row lead), and the corpus
    scan hides behind the histogram checkpoint."""
    import re

    from tfm_taxitrips_spark.queries.text import q_zipf_vocab_fit

    plan = explain_formatted(q_zipf_vocab_fit(spark, sf_smoke))
    assert "row_number" not in plan  # the serial ranker is gone
    assert "documents.parquet" not in plan  # behind the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    # exactly three windows: prefix offsets, per-octave local sum, lead
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3


def test_vocab_curve_rank_rides_histogram_no_serial_window(spark, sf_smoke):
    """vocab_coverage_curve (r9 verdict item #4): same rewrite — no
    row_number, both stacked prefixes ride the checkpointed histogram,
    the cut literals broadcast into the range join, and nothing larger
    than the octave relation is ever single-partition sorted."""
    from tfm_taxitrips_spark.queries.text import q_vocab_coverage_curve

    plan = explain_formatted(q_vocab_coverage_curve(spark, sf_smoke))
    assert "row_number" not in plan
    assert "documents.parquet" not in plan  # behind the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 4-cut range join


def test_whitening_stats_checkpointed_single_pass(spark, sf_smoke):
    """embedding_whitening_stats: the 36-cell aggregate is checkpointed,
    so neither the diagonal slice nor the offender ranking re-scans the
    embeddings parquet in the final plan."""
    from tfm_taxitrips_spark.queries.vectors import (
        q_embedding_whitening_stats,
    )

    plan = explain_formatted(q_embedding_whitening_stats(spark, sf_smoke))
    assert "embeddings.parquet" not in plan  # hidden behind the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_serving_merge_read_prunes_to_touched_dates(spark, tmp_path):
    """The round-9 date-partitioned serving layout only pays off if the
    merge's existing-rows read prunes to the touched dates: the
    cast-then-IN predicate must land in ``PartitionFilters`` (evaluated
    against the partition LISTING at planning time) and the executed scan
    must read exactly the touched partitions. Without this pin, a
    refactor that moves the filter below a non-pushable expression turns
    every steady-state micro-batch into a silent O(table) scan — the
    plan-level assert catches the shape, the execution-metric assert
    catches the actual listing."""
    import pyspark.sql.functions as F

    from tfm_taxitrips_spark.streaming.serving import read_touched_dates

    path = str(tmp_path / "serving")
    (
        spark.range(700)
        .select(
            (F.col("id") % 7).alias("k"),
            F.date_format(
                F.expr("date_add(date'2020-01-01', cast(id % 7 as int))"),
                "yyyy-MM-dd",
            ).alias("window_date"),
        )
        .write.partitionBy("window_date")
        .parquet(path)
    )
    touched = ["2020-01-02", "2020-01-05"]
    rd = read_touched_dates(spark, path, touched)
    plan = explain_formatted(rd)
    assert "PartitionFilters: [cast(window_date" in plan

    rd.collect()
    final = rd._jdf.queryExecution().executedPlan()
    try:  # AQE root: metrics live on the final materialized plan
        final = final.finalPhysicalPlan()
    except Exception:
        pass
    scans = []

    def walk(node):
        if "FileSourceScan" in node.getClass().getName():
            scans.append(node)
        for i in range(node.children().length()):
            walk(node.children().apply(i))
        try:  # query-stage wrappers expose their subtree via plan()
            walk(node.plan())
        except Exception:
            pass

    walk(final)
    assert scans, "no FileSourceScan in executed plan"
    metrics = {}
    it = scans[0].metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    assert metrics["numPartitions"] == len(touched)


def test_perplexity_gate_broadcast_model_fanout_single_train_collapse(
        spark, sf_smoke):
    """per_domain_perplexity_gate: the train side collapses ONCE into the
    checkpointed (source, bigram) table that every model relation derives
    from — the final plan scans documents.parquet exactly once (the eval
    side; the train collapse hides behind the checkpoint) — and the
    ×|sources| fan-out rides a broadcast; nothing is a cartesian scan of
    the eval×model space."""
    from tfm_taxitrips_spark.queries.dataprep import (
        q_per_domain_perplexity_gate,
    )

    plan = explain_formatted(q_per_domain_perplexity_gate(spark, sf_smoke))
    assert plan.count("documents.parquet") == 1  # eval side only
    assert "Scan ExistingRDD" in plan  # checkpointed train collapse
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kfold_single_corpus_exchange_broadcast_extremes(spark, sf_smoke):
    """stratified_kfold_assign: fold and stratum are map-side expressions
    — the corpus crosses the wire exactly once (the (source, fold)
    collapse, partial agg before it); the grid, extremes, and join-back
    ride the checkpointed aggregate by broadcast."""
    from tfm_taxitrips_spark.queries.dataprep import q_stratified_kfold

    plan = explain_formatted(q_stratified_kfold(spark, sf_smoke))
    assert plan.count("documents.parquet") == 0  # behind the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ece_single_exchange_broadcast_total(spark, sf_smoke):
    """quality_ece_calibration: confidence, bin, and label are map-side
    scan expressions; the only corpus shuffle is the ≤10-row bin
    collapse, and the scalar ECE joins back as a broadcast 1-row
    aggregate."""
    import re

    from tfm_taxitrips_spark.queries.text import q_quality_ece

    plan = explain_formatted(q_quality_ece(spark, sf_smoke))
    assert "Scan ExistingRDD" in plan  # checkpointed bin table
    assert "documents.parquet" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total crossJoin
    assert "SortMergeJoin" not in plan
    # only aggregate-sized relations shuffle in the final plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_novelty_join_rides_first_seen_collapse(spark, sf_smoke):
    """ngram_novelty_rate: the (doc, shingle) distinct relation is
    checkpointed (explode + distinct run once, not once per consumer),
    the first-seen relation is its map-side-combined re-aggregation, and
    the novelty join is a shingle-keyed equi-join — never a cartesian or
    nested-loop pairing."""
    from tfm_taxitrips_spark.queries.text import q_ngram_novelty_rate

    plan = explain_formatted(q_ngram_novelty_rate(spark, sf_smoke))
    assert "documents.parquet" not in plan  # behind the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_pq_codebook_broadcast_codebooks_no_cartesian(spark, sf_smoke):
    """embedding_pq_codebook: every assignment round must broadcast its
    |subspaces|·K codebook rows against the exploded store — a
    sort-merge join or cartesian would mean an iteration shuffles the
    corpus (the `kmeans_fixed_iters` contract, integer edition)."""
    from tfm_taxitrips_spark.queries.vectors import q_embedding_pq_codebook

    plan = explain_formatted(q_embedding_pq_codebook(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_recall_adc_joins_are_broadcast(spark, sf_smoke):
    """embedding_pq_recall_eval: the ADC scoring must be the encoded
    store against BROADCAST lookup-table slices (probe-capped
    |probes|·|subspaces|·K rows), and the contingency must broadcast
    the ≤ probes·k approx set — never a sort-merge join anywhere,
    never a cartesian. The BroadcastNestedLoopJoin is the composed
    brute-force baseline's documented intended plan (MAX_PROBE_VECS
    cap)."""
    from tfm_taxitrips_spark.queries.vectors import (
        q_embedding_pq_recall_eval,
    )

    plan = explain_formatted(q_embedding_pq_recall_eval(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the brute leg, capped


def test_kfold_drift_all_joins_aggregate_sized(spark, sf_smoke):
    """kfold_label_balance_drift: after the one corpus-collapsing
    groupBy (inside the checkpointed |sources|·k matrix), every join —
    the grid spine, the null-safe cell join, the fold-total and
    global-total fan-ins — must be broadcast over aggregate-sized
    relations: never a SortMergeJoin, never a cartesian (the crossJoins
    are BroadcastNestedLoopJoins against one-row/k-row frames by
    construction)."""
    from tfm_taxitrips_spark.queries.dataprep import (
        q_kfold_label_balance_drift,
    )

    plan = explain_formatted(q_kfold_label_balance_drift(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan      # the fold-total fan-in
    assert "BroadcastNestedLoopJoin" in plan  # grid spine + scalar totals


def test_waterfill_is_aggregate_sized_after_collapse(spark, sf_smoke):
    """domain_mix_waterfill: ONE corpus-collapsing groupBy (inside the
    checkpointed |sources|-row aggregate), then the rank/prefix window
    and the k/P_k fold ride that aggregate — scalar fan-ins broadcast,
    never a SortMergeJoin, never a cartesian."""
    from tfm_taxitrips_spark.queries.dataprep import q_domain_mix_waterfill

    plan = explain_formatted(q_domain_mix_waterfill(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row scalar frames


def test_dedup_sweep_explodes_pairs_not_corpus(spark, sf_smoke):
    """dedup_threshold_sweep: the ×|taus| fan-out must multiply the
    BOUNDED checkpointed pair stream (a Generate over ExistingRDD), and
    the zero-filling spine join must broadcast — one corpus pass for
    the whole calibration curve."""
    from tfm_taxitrips_spark.queries.text import q_dedup_threshold_sweep

    plan = explain_formatted(q_dedup_threshold_sweep(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan           # the τ explode
    assert "BroadcastHashJoin" in plan  # the spine left join
    # the explode reads the checkpointed pair stream, not a parquet scan
    assert "Scan parquet" not in plan


def test_packing_report_reuses_shard_partitioning(spark, sf_smoke):
    """packing_efficiency_report: the whole histogram costs exactly TWO
    exchanges — the shard hash-partitioning the prefix-sum window needs
    (which then satisfies the (shard, pack_id) pack collapse for free:
    partial+final HashAggregate with NO exchange between) and the final
    11-row bucket collapse. No joins of any kind."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import (
        q_packing_efficiency_report,
    )

    plan = explain_formatted(q_packing_efficiency_report(spark, sf_smoke))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the per-shard prefix sum
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_quality_mix_curve_window_rides_the_aggregate(spark, sf_smoke):
    """source_quality_mix_curve: the ranking window and the unbounded
    total must ride the checkpointed |sources|-row aggregate (Scan
    ExistingRDD), never the corpus — one SinglePartition exchange on the
    aggregate, no parquet re-scan past the checkpoint, no joins."""
    import re

    from tfm_taxitrips_spark.queries.text import q_source_quality_mix_curve

    plan = explain_formatted(q_source_quality_mix_curve(spark, sf_smoke))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed aggregate
    assert "Scan parquet" not in plan  # the corpus collapse is upstream
    assert "SinglePartition" in plan   # aggregate-sized by construction
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_pack_attention_waste_rides_one_exchange(spark, sf_smoke):
    """pack_attention_waste: the whole waste report costs exactly ONE
    exchange — the shard hash-partitioning the prefix-sum window needs,
    which then satisfies BOTH downstream collapses ((shard, pack_id)
    packs and the final per-shard aggregate) with no further exchange.
    No joins of any kind; the ppm is a projection over the aggregate."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import q_pack_attention_waste

    plan = explain_formatted(q_pack_attention_waste(spark, sf_smoke))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the shared _pack_layout prefix sum
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_source_overlap_matrix_grid_is_broadcast(spark, sf_smoke):
    """source_ngram_overlap_matrix: the only non-equi join is the
    |sources|² grid over the aggregate-sized per-source frame —
    explicitly broadcast (ONE BroadcastNestedLoopJoin, never a shuffled
    CartesianProduct). Every corpus-touching join is an equi join
    (the shingle-hash self-join plus broadcast lookups)."""
    import re

    from tfm_taxitrips_spark.queries.text import (
        q_source_ngram_overlap_matrix,
    )

    plan = explain_formatted(q_source_ngram_overlap_matrix(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    corpus_joins = re.findall(
        r"\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert corpus_joins  # the shingle-hash intersection is an equi join


def test_source_containment_matrix_mirrors_without_shuffle(
        spark, sf_smoke):
    """source_ngram_containment_matrix: same shape contract as the
    overlap twin — the only non-equi join is the broadcast ordered grid
    (ONE BroadcastNestedLoopJoin, zero CartesianProduct), the shingle
    intersection is an equi join computed ONCE in unordered form, and
    the ordered mirror is a Union of two projections of the
    aggregate-sized result (present in the plan, costing no exchange of
    its own beyond the broadcast)."""
    import re

    from tfm_taxitrips_spark.queries.text import (
        q_source_ngram_containment_matrix,
    )

    plan = explain_formatted(
        q_source_ngram_containment_matrix(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    corpus_joins = re.findall(
        r"\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert corpus_joins  # the shingle-hash intersection is an equi join
    assert re.search(r"\(\d+\) Union", plan)  # the ordered mirror


def test_source_prune_plan_inherits_matrix_shape(spark, sf_smoke):
    """source_prune_plan: built BY CALLING the containment matrix, so
    its plan must inherit the twin's shape contract verbatim — the only
    non-equi join is the broadcast ordered grid (ONE
    BroadcastNestedLoopJoin, zero CartesianProduct) and the ordered
    mirror Union is present. The decision layer adds only broadcast
    equi-joins (the |sources|-row best/mass lookups) and the
    best-container pick compiles to a WindowGroupLimit — Spark pushes
    the rank-1 filter into the sort, so the pick never materializes a
    full per-source ordering of the |sources|² frame."""
    import re

    from tfm_taxitrips_spark.queries.text import q_source_prune_plan

    plan = explain_formatted(q_source_prune_plan(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert re.search(r"\(\d+\) Union", plan)  # the inherited mirror
    assert "WindowGroupLimit" in plan  # rank-1 pick pushed into the sort
    # every join the decision layer ADDS is a broadcast equi-join
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_debounce_episode_audit_reuses_key_partitioning(spark, sf_smoke):
    """debounce_episode_audit: exactly THREE exchanges — the user_id
    hash-partitioning both per-key windows sort on, which then satisfies
    the (user_id, ep) episode collapse with NO second corpus exchange
    (subset-clustering reuse, the operator's scale argument); then the
    histogram's aggregate-sized ep_len exchange; then the
    single-partition ppm window over |distinct lengths| rows. Zero
    joins; the NULL-ts guard reaches the parquet scan as a pushed
    filter."""
    import re

    from tfm_taxitrips_spark.queries.streamq import q_debounce_episode_audit

    plan = explain_formatted(q_debounce_episode_audit(spark, sf_smoke))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3  # lag, ep, ppm
    assert "PushedFilters: [IsNotNull(ts)]" in plan


def test_pack_waste_by_utilization_rides_two_exchanges(spark, sf_smoke):
    """pack_waste_by_utilization: the joined audit costs exactly TWO
    exchanges — the shard hash-partitioning the prefix-sum window needs
    (which the (shard, pack_id) collapse reuses), then the bucket
    collapse's exchange over the aggregate-sized |packs| frame. The
    'join' of the two audits is one aggregation over the shared
    per-pack collapse — NO physical join anywhere in the plan."""
    import re

    from tfm_taxitrips_spark.queries.dataprep import (
        q_pack_waste_by_utilization,
    )

    plan = explain_formatted(q_pack_waste_by_utilization(spark, sf_smoke))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the shared _pack_layout prefix sum
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2

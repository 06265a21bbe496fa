"""Plan-quality gates: the scale properties that make these queries
viable at 100 TB, asserted on the optimized physical plans.

The reference gets its physical efficiency from hand-written kernels
(SURVEY.md section 4.1); we get ours from Catalyst — but only if the
declarative plans actually trigger pushdown/pruning/broadcast. These
tests pin that."""

from __future__ import annotations

import re

import pytest

from dpu_olap_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def _formatted_plan(spark, name: str) -> str:
    df = all_queries()[name].build(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted_plan(spark, "filter")
    assert "LessThan(l_quantity,25.0)" in plan, "predicate not pushed to parquet scan"


def test_filter_prunes_columns(spark):
    plan = _formatted_plan(spark, "filter")
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas, "no ReadSchema in plan"
    for s in schemas:
        assert "l_shipdate" not in s and "l_returnflag" not in s, (
            f"unprojected columns read: {s}"
        )


def test_join_agg_broadcasts_dims(spark):
    plan = _formatted_plan(spark, "join_agg")
    assert "BroadcastHashJoin" in plan, "no broadcast join for small dims"
    assert "CartesianProduct" not in plan


def test_fact_fact_join_is_shuffled_not_broadcast(spark):
    """The reference's flagship partitioned join: both sides exchange
    on the key and the probe is hash-local — at 100 TB neither fact
    side fits in a broadcast, so the plan must never depend on one."""
    plan = _formatted_plan(spark, "fact_fact_join")
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, (
        "fact-fact join did not plan as a shuffle join"
    )
    assert "BroadcastHashJoin" not in plan, "fact-fact join must not broadcast"
    assert "CartesianProduct" not in plan


def test_join_agg_prunes_fact_columns(spark):
    plan = _formatted_plan(spark, "join_agg")
    li_schemas = [s for s in re.findall(r"ReadSchema: (\S+)", plan) if "l_orderkey" in s]
    assert li_schemas, "lineitem scan not found"
    for s in li_schemas:
        assert "l_comment" not in s and "l_shipdate" not in s, f"fact over-read: {s}"


def test_group_agg_partial_aggregation(spark):
    """Partial (map-side) aggregation must run before the exchange —
    shuffled bytes ~ #groups, not #rows."""
    df = all_queries()["group_agg"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"HashAggregate.*partial", plan, re.IGNORECASE | re.DOTALL), plan[:500]


def test_topk_uses_take_ordered(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    heaps), never a global sort."""
    df = all_queries()["topk"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:500]


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_plans_no_cartesian(spark, name):
    q = all_queries()[name]
    if name in ("stream_tumbling", "stream_stream_join", "stateful_user_stats"):
        pytest.skip(
            "streaming queries materialize on build; their returned plan is "
            "just the memory-sink scan, so the assertion would be vacuous"
        )
    df = q.build(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Cartesian" not in plan and "cartesian" not in plan, (
        f"{name} contains a cartesian product"
    )


def test_scan_is_parquet_with_pushdown_capability(spark):
    plan = _formatted_plan(spark, "sum")
    assert "Scan parquet" in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-set gram dictionary must be broadcast (bounded by
    benchmark size); the corpus side must never shuffle on gram."""
    plan = _formatted_plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(g#" not in plan, (
        "corpus grams are being shuffled on the gram key"
    )


def test_dedup_incremental_broadcasts_incoming(spark):
    plan = _formatted_plan(spark, "dedup_incremental")
    assert "BroadcastHashJoin" in plan


def test_grouped_ols_is_map_in_pandas_single_exchange(spark):
    """grouped_ols must use the repartition+mapInPandas form (scales
    with rows), not grouped-map applyInPandas (~17 ms per group —
    linear in key cardinality; see functions_ext docstring)."""
    df = all_queries()["grouped_ols"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange") == 1


def test_repetition_score_no_shuffle(spark):
    """Repetition is per-row (gram list never explodes): zero Exchange."""
    df = all_queries()["repetition_score"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pq_search_is_shuffle_free(spark):
    """ADC search is a stored-codes scan + integer LUT adds +
    TakeOrdered: any Exchange other than the single-partition
    TakeOrdered gather would mean the per-vector scan stopped being
    embarrassingly parallel, and any nearest-codeword arithmetic
    (array_min over codeword structs) in the SEARCH plan would mean
    the index table stopped being read (encode must run at
    index-build time only — the 8-bytes-per-vector contract)."""
    plan = _formatted_plan(spark, "pq_search")
    assert "TakeOrderedAndProject" in plan
    assert not re.findall(r"\(\d+\) Exchange", plan)
    assert "CartesianProduct" not in plan
    assert "array_min" not in plan, "search plan re-encodes candidates"
    assert "pq_index" in plan, "search must scan the stored codes table"


def test_ivf_pq_search_scans_stored_codes(spark):
    """IVF+PQ: cell filter pushed to the index scan, no re-encode."""
    plan = _formatted_plan(spark, "ivf_pq_search")
    assert "TakeOrderedAndProject" in plan
    assert not re.findall(r"\(\d+\) Exchange", plan)
    assert "array_min" not in plan, "search plan re-encodes candidates"
    assert "pq_index" in plan, "search must scan the stored codes table"


def test_udtf_word_runs_map_side(spark):
    """The UDTF expansion must be a map-side Generate over the scan —
    an Exchange before the expansion would shuffle full documents to
    expand them, which scales with corpus bytes."""
    plan = _formatted_plan(spark, "udtf_word_runs")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_pysource_partitioned_scan(spark):
    """The custom Python data source must plan its declared 8
    InputPartitions — partition count IS the connector's parallelism
    contract (one-partition reads would serialize the whole source)."""
    all_queries()["pysource_scan"].build(spark, SF)  # registers the source
    src = spark.read.format("synth_metrics").load()
    assert src.rdd.getNumPartitions() == 8


def test_bloom_filter_join_prefilters_probe(spark):
    """The bloom membership test (shiftright+bit-and over the literal
    word array) must sit in a Filter on the probe scan BEFORE the
    join, and the verify join must broadcast the small build side —
    probe rows failing the bloom never reach the join exchange."""
    plan = _formatted_plan(spark, "bloom_filter_join")
    assert "shiftright" in plan, "bloom membership test missing from plan"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_parameter_relations_plan_local(spark):
    """Driver-built parameter relations (bloom words, fuzzy probes)
    must plan as LocalTableScan — the Arrow-table createDataFrame path
    (r18 optimization). A `Scan ExistingRDD` there means the Python
    row-list path came back: applySchemaToPythonRDD spins a Python
    worker under the broadcast just to deserialize pickled rows
    (measured 1.5 s of collect task time on the words relation)."""
    for name in ("bloom_filter_join", "fuzzy_join"):
        plan = _formatted_plan(spark, name)
        assert "LocalTableScan" in plan, f"{name}: parameter relation not local"
        assert "ExistingRDD" not in plan, (
            f"{name}: parameter relation fell back to the Python RDD path"
        )


def test_session_funnel_chunked_three_exchange(spark):
    """Time-chunked sessionization (VERDICT r6 #2) must keep exactly
    3 exchanges: the corpus shuffle on hash(user_id, chunk) — shared
    by the local sessionize windows AND the summary agg via the subset
    rule — a summary-sized shuffle on user_id (shared by the chain
    window and per-chain merge), and the tiny first_touch rollup. A
    4th exchange means a groupBy stopped riding its window
    partitioning; a corpus-level user_id-only exchange would
    resurrect the hot-user serialization this design removes."""
    plan = _formatted_plan(spark, "session_funnel")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3
    # the FIRST (innermost, corpus) exchange must key on chunk too,
    # not user_id alone — that's the skew split
    exchanges = re.findall(r"\(\d+\) Exchange\s*\n(?:Input \[.*?\]\s*\n)?Arguments: (.*)", plan)
    corpus = [a for a in exchanges if "chunk" in a]
    assert corpus, f"no exchange keyed on (user_id, chunk): {exchanges}"
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in plan, f"unexpected join in plan: {j}"


def test_reservoir_sample_two_phase_topk(spark):
    """Per-group hash-rank sample must run as partial/final top-K
    (VERDICT r5 #1): a map-side WindowGroupLimit(Partial) BEFORE the
    exchange keeps <=K rows per group per input partition, so the one
    group-key exchange carries <=K*groups*partitions survivor rows —
    never the full table onto the <=5 event_type reducers. Catalyst's
    InferWindowGroupLimit produces this for rank()<=K filters; this
    gate pins it so a refactor (e.g. ranking via a non-rank function,
    or K above spark.sql.window.group.limit.threshold) that silently
    drops the partial step fails here."""
    plan = _formatted_plan(spark, "reservoir_sample")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    m = re.search(
        r"WindowGroupLimit.*?Partial.*?\(\d+\) Exchange.*?WindowGroupLimit.*?Final",
        plan,
        re.S,
    )
    assert m, "partial/final WindowGroupLimit shape missing:\n" + plan


def test_stratified_sample_no_partial_regression(spark):
    """stratified_sample needs the full window (rk AND count(*) over
    the stratum), so no WindowGroupLimit is expected — but it must
    still be a single stratum-key exchange."""
    plan = _formatted_plan(spark, "stratified_sample")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_cross_source_overlap_two_shuffles_no_join(spark):
    """Source-overlap expands pairs inside each fingerprint row; the
    self-join formulation (4 exchanges + join) must not come back."""
    plan = _formatted_plan(spark, "cross_source_overlap")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in plan, f"unexpected join in plan: {j}"


def test_bm25_single_documents_scan(spark):
    """tf is materialized once: a plan with multiple documents scans
    means column pruning re-specialized the shared subtree and the
    corpus explodes per consumer again."""
    plan = _formatted_plan(spark, "bm25_scores")
    assert len(re.findall(r"Scan parquet", plan)) <= 1, (
        "documents scanned more than once — tf subtree no longer shared"
    )


def test_tfidf_single_documents_scan(spark):
    plan = _formatted_plan(spark, "tfidf_top_terms")
    assert len(re.findall(r"Scan parquet", plan)) <= 1


def test_perplexity_broadcasts_model_not_corpus(spark):
    """The LM table is vocabulary-bounded, so the scoring join must
    broadcast the MODEL side; shuffling the per-doc bigram stream on
    (w1, w2) would move the corpus to the model instead."""
    plan = _formatted_plan(spark, "perplexity_score")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_train_test_split_single_aggregation_pass(spark):
    """Split assignment is a map-side expression: exactly one
    aggregate shuffle (by split), no join, no window."""
    plan = _formatted_plan(spark, "train_test_split")
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "Window"):
        assert j not in plan


def test_group_size_hist_two_stacked_aggregations(spark):
    """Counts-of-counts: two exchanges (key, then group_size), with
    partial aggregation before each — and nothing else."""
    plan = _formatted_plan(spark, "group_size_hist")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in plan


def test_cache_scan_reads_columnar_cache(spark):
    """Both union branches must consume the InMemoryRelation (two
    'Scan In-memory table' nodes), never re-plan the parquet scan as
    a separate subtree per consumer — the entire point of the
    columnar cache is paying scan+filter once."""
    plan = _formatted_plan(spark, "cache_scan")
    # tree-form nodes only (details repeat the name with the id prefixed)
    assert len(re.findall(r"Scan In-memory table \S+ \(\d+\)", plan)) == 2, plan[:800]
    assert "InMemoryRelation" in plan
    # pushdown still reaches the (single) scan that fills the cache
    assert "LessThan(l_quantity,30.0)" in plan


def test_variant_paths_single_scan_no_shuffle(spark):
    """Variant extraction is a pure projection: one events scan, zero
    exchanges — a shuffle here would mean the JSON construction or
    the variant probes stopped being map-side."""
    plan = _formatted_plan(spark, "variant_paths")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1


def test_variant_explode_map_side(spark):
    """variant_explode must be a map-side Generate over the scan —
    zero exchanges, one events scan; a shuffle would mean the
    expansion stopped being embarrassingly parallel."""
    plan = _formatted_plan(spark, "variant_explode_arr")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1
    assert "Generate" in plan


def test_map_in_arrow_filter_pushed_before_python(spark):
    """map_in_arrow: the quantity filter must reach the parquet scan
    (Python sees pre-filtered batches), the Python node must be the
    Arrow map variant, and the aggregation must run AFTER it JVM-side
    with a partial step — Python only maps, never aggregates."""
    plan = _formatted_plan(spark, "map_in_arrow")
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,25.0)]" in plan or \
        "LessThan(l_quantity,25.0)" in plan, "quantity filter not pushed to scan"
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan, \
        "no Arrow map node in plan"
    assert "partial_sum" in plan or "HashAggregate" in plan, "no JVM-side aggregation"


def test_cogroup_asof_copartitions_both_sides(spark):
    """cogroup_asof: both inputs exchange on user_id (hashpartitioning)
    into ONE FlatMapCoGroupsInPandas — exactly two exchanges, no join,
    no cartesian. The dedup on orders happens BEFORE the cogroup so the
    Python side never sees duplicate (user, day) rows, and it REUSES
    the cogroup's user_id exchange (subset rule; r18 optimization) —
    a third exchange would mean the dedup went back to shuffling by
    (user_id, oday) and re-shuffling for the cogroup."""
    plan = _formatted_plan(spark, "cogroup_asof")
    assert "FlatMapCoGroupsInPandas" in plan, "no cogroup node in plan"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"too many exchanges for a cogroup: {n_exchanges}"


def test_param_sql_binds_and_pushes_down(spark):
    """param_sql: the bound :start/:end parameters must fold to
    literals that reach the parquet scan as pushed filters — parameter
    binding must not defeat pushdown."""
    plan = _formatted_plan(spark, "param_sql")
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters", 1)[1].split("]", 1)[0], \
        "date-range parameters did not push to the scan"
    assert "partial_count" in plan or "HashAggregate" in plan


def test_transpose_materializes_small_result(spark):
    """transpose_metrics: DataFrame.transpose EXECUTES its input at the
    driver when the transposed frame is built (the result plan is a
    LocalTableScan of the flipped rows) — which is exactly why the
    operator contract is aggregate-first: whatever feeds transpose is
    collected. Pin that the output is the 6-column local relation, so
    a refactor that feeds it a fact table would change this shape."""
    plan = _formatted_plan(spark, "transpose_metrics")
    assert "LocalTableScan" in plan, "transpose no longer a local relation"
    assert "Output [6]" in plan, "unexpected transposed width"


def test_quality_sample_is_map_side(spark):
    """quality_sample: tiered retention must fold into the scan stage —
    no exchange anywhere (membership is a pure row function)."""
    plan = _formatted_plan(spark, "quality_sample")
    assert "Exchange" not in plan, "quality_sample should not shuffle"
    assert "md5" in plan


def test_corpus_mix_two_phase_budget(spark):
    """corpus_mix: the scale contract (r6 verdict #4) is ONE exchange
    total — phase 1 is an exchange-free mapInPandas partition-local
    budget prefix, so the only shuffle is the per-source exchange over
    bounded candidates, with the global-budget window/filter and the
    final agg all riding its partitioning. A second exchange means
    either phase 1 regressed to a corpus shuffle or the agg stopped
    reusing the window partitioning."""
    plan = _formatted_plan(spark, "corpus_mix")
    ids = {}
    for node in ("Exchange", "Window", "Filter", "MapInPandas"):
        ids[node] = [int(m.group(1)) for m in re.finditer(rf"\((\d+)\) {node}", plan)]
    assert len(ids["Exchange"]) == 1, f"expected exactly 1 exchange: {ids}"
    assert len(ids["Window"]) == 1, f"expected 1 (global) window: {ids}"
    assert len(ids["MapInPandas"]) == 1, f"phase-1 mapInPandas missing: {ids}"
    # leaf-to-root: MapInPandas (local prefix) BELOW the exchange,
    # window + global filter above it
    assert ids["MapInPandas"][0] < ids["Exchange"][0] < ids["Window"][0]
    f_above = [f for f in ids["Filter"] if f > ids["Window"][0]]
    assert f_above, f"no global-budget filter above the window: {ids}"
    # the md5 rank must be computed JVM-side below the Python node,
    # not inside it
    # the md5 must be produced by a Project BELOW the Python node
    # (node ids increase leaf-to-root)
    md5_projects = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Project\s*\nOutput[^\n]*md5", plan)
    ]
    assert any(p < ids["MapInPandas"][0] for p in md5_projects), (
        "md5 rank not computed below the Python hop",
        md5_projects,
        ids,
    )


def test_funnel_pre_aggregates_before_join(spark):
    """funnel: the scale contract is pre-aggregate-then-join — the
    event-level purchase stream probes a BROADCAST of per-user click
    firsts (one row per user), never an event-level shuffle join; the
    only cross join is the final combine of two one-row aggregates."""
    plan = _formatted_plan(spark, "funnel")
    for j in ("SortMergeJoin", "ShuffledHashJoin"):
        assert j not in plan, f"event-level shuffle join appeared: {j}"
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1, \
        "expected exactly the one scalar-combine cross join"
    # the per-user click aggregate must sit BELOW its broadcast (ids
    # increase leaf-to-root): HashAggregate < BroadcastExchange < join
    joins = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) BroadcastHashJoin", plan)]
    bcasts = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) BroadcastExchange", plan)]
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    assert joins, "per-user probe join missing"
    j = min(joins)
    assert any(b < j and any(a < b for a in aggs) for b in bcasts), (
        "no aggregated broadcast build side below the probe join",
        joins, bcasts, aggs,
    )


def test_cohort_retention_pre_aggregates_before_join(spark):
    """cohort_retention: both join inputs are per-user aggregates
    (firsts; distinct user-weeks) — one row per user/user-week — so
    the join never sees event-level rows on either side."""
    plan = _formatted_plan(spark, "cohort_retention")
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan, f"unexpected join type: {j}"
    joins = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) BroadcastHashJoin", plan)]
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    assert len(joins) == 1, joins
    # at least two distinct aggregates below the join: one per input
    assert len([a for a in aggs if a < joins[0]]) >= 2, (joins, aggs)


def test_pq_family_compiles_without_codegen_fallback(spark):
    """The r8 regression gate for the janino 64 KB fallback: the
    retired unrolled-literal PQ expressions compiled >64 KB of
    generated code and silently dropped their projections out of
    codegen into interpreted eval (the warning only surfaced in
    driver-sim stderr). With spark.sql.codegen.fallback=false a
    compile FAILURE raises instead of degrading, so running the
    whole PQ family (encode, fresh index build, ADC search) under
    that conf keeps any future JVM-side expression growth honest.
    The encode itself is now an Arrow+numpy map stage (see
    q_pq_encode) — the next gate pins that plan shape."""
    from dpu_olap_spark.llm import similarity

    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    saved_cache = dict(similarity._PQ_INDEX_CACHE)
    similarity._PQ_INDEX_CACHE.clear()
    try:
        for name in ("pq_encode", "pq_search", "ivf_pq_search"):
            all_queries()[name].build(spark, SF).write.format(
                "noop"
            ).mode("overwrite").save()
    finally:
        similarity._PQ_INDEX_CACHE.clear()
        similarity._PQ_INDEX_CACHE.update(saved_cache)
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_pq_encode_is_shuffle_free_python_map(spark):
    """pq_encode's plan: ONE Python map stage (MapInPandas) over the
    scan, zero exchanges — the shape that lets a billion-vector
    encode run embarrassingly parallel."""
    plan = _formatted_plan(spark, "pq_encode")
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, "encode must not shuffle"


def test_pipe_sql_desugars_to_identical_plan(spark):
    """SQL pipe syntax is parser sugar: the |> stage chain must yield
    the IDENTICAL canonicalized optimized plan as its nested-SELECT
    twin (so every Catalyst property — pushdown, broadcast, partial
    agg — transfers), and the stage-form WHERE must still reach the
    parquet scan as a pushed filter."""
    from dpu_olap_spark.sources.tables import load_table

    df = all_queries()["pipe_sql"].build(spark, SF)
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    twin = spark.sql(
        """
        SELECT c_mktsegment, n_orders, sum_cents,
               CAST(floor(CAST(sum_cents AS DOUBLE) / n_orders) AS BIGINT)
                 AS avg_cents
        FROM (
          SELECT c_mktsegment, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS sum_cents
          FROM {orders} JOIN {customer} ON o_custkey = c_custkey
          WHERE o_orderstatus = 'O'
          GROUP BY c_mktsegment
        ) WHERE n_orders > 5
        """,
        orders=orders,
        customer=customer,
    )
    a = df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    b = twin._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    assert a == b, "pipe chain and nested form optimized differently"
    plan = _formatted_plan(spark, "pipe_sql")
    assert "EqualTo(o_orderstatus,O)" in plan, "pipe WHERE not pushed to scan"
    assert "BroadcastHashJoin" in plan, "customer dim not broadcast"
    assert "CartesianProduct" not in plan


def test_try_arith_is_map_side_codegen(spark):
    """ANSI-safe arithmetic is a pure map-side projection: zero
    exchanges, inside whole-stage codegen (try_* must not fall out)."""
    plan = _formatted_plan(spark, "try_arith")
    assert "Exchange" not in plan, "try_arith must not shuffle"
    # formatted mode marks codegen stages with "[codegen id : N]"
    assert re.search(r"Project \[codegen id : \d+\]", plan), (
        "try_arith projection fell out of codegen"
    )


def test_collated_join_agg_broadcasts_dim_with_collation_keys(spark):
    """The collated dim must be the BUILD side (hinted — local stats
    would otherwise ship the fact side, which is the unbounded one at
    scale), the join keys must hash through collationkey() (collation-
    aware equality, not binary), and no cartesian fallback. Collated
    grouping keys legitimately plan SortAggregate (no hash-agg support
    for collated keys in Spark 4.1) — pinned so a future Spark that
    lifts this shows up as a conscious gate change, not silence."""
    plan = _formatted_plan(spark, "collated_join_agg")
    assert "BroadcastHashJoin" in plan, "dim not broadcast"
    assert "BuildRight" in plan, "broadcast must build the dim (right) side"
    assert "collationkey" in plan, "join keys not collation-aware"
    assert "CartesianProduct" not in plan
    assert "SortAggregate" in plan  # the documented collation trade


def test_udtf_queries_plan_arrow_eval(spark):
    """Python UDTFs must take the Arrow-batched eval path
    (session.py pythonUDTF.arrow.enabled — found by the fleet plan lint:
    the default BatchEvalPythonUDTF was the only row-at-a-time Python
    node left in the registry). Row-at-a-time pickling on a 100 TB
    corpus is the canonical slow path; every other Python seam here is
    already Arrow-batched."""
    for name in ("udtf_analyze", "udtf_word_runs"):
        plan = _formatted_plan(spark, name)
        assert "ArrowEvalPythonUDTF" in plan, f"{name} not Arrow-batched"
        assert "BatchEvalPythonUDTF" not in plan, f"{name} row-at-a-time"


def test_dedup_paragraph_plan_shape(spark):
    """dedup_paragraph (llm/dedup.py): the reassembly listagg must run
    as a partial/final ObjectHashAggregate pair keyed on doc_id, the
    length(text) > 0 filter must reach both parquet scans, and the
    seg-frequency join must never be a CartesianProduct. The freq-side
    join strategy is deliberately NOT pinned: AQE broadcasts the small
    aggregated side at test SFs and shuffle-joins at corpus scale."""
    plan = _formatted_plan(spark, "dedup_paragraph")
    assert "CartesianProduct" not in plan
    assert plan.count("posexplode") >= 2  # both seg derivations survive
    assert "partial_listagg" in plan and "listagg" in plan
    assert "BatchEvalPython" not in plan  # pure built-ins, no Python
    assert plan.count("length(text") >= 2  # pushed filter on both scans


def test_exec_immediate_binds_push_down(spark):
    """exec_immediate: after the dynamic text + positional binds
    resolve, the bound date range must reach the parquet scan as
    pushed filters — dynamic SQL must not defeat pushdown — and the
    IDENTIFIER(?) grouping column must plan an ordinary
    HashAggregate."""
    plan = _formatted_plan(spark, "exec_immediate")
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters", 1
    )[1].split("]", 1)[0], "bound date range did not push to the scan"
    assert "HashAggregate" in plan


def test_sql_script_returns_small_local_relation(spark):
    """sql_script: a BEGIN..END block executes EAGERLY — each
    statement (the scalar-subquery assignments, each WHILE-round
    count, the final grouped aggregate) runs as its own distributed
    job while the block evaluates, and the block's RETURN relation is
    the already-materialized final result (a LocalTableScan, same
    execution contract as DataFrame.transpose).  That makes the
    operator contract aggregate-first: the final statement must
    reduce to a small relation because it is collected.  Pin the
    4-column local shape so a refactor whose final statement returns
    fact-table rows changes this test before it melts a driver."""
    plan = _formatted_plan(spark, "sql_script")
    assert "LocalTableScan" in plan, "script result no longer local"
    assert "Output [4]" in plan, "unexpected script result width"


def test_skyline_two_phase_prunes_before_global_sweep(spark):
    """skyline_pareto's 100 TB contract: phase 1's windows are
    PARTITIONED by the hash bucket (fact-scale work is parallel) and
    only the pruned survivors reach phase 2's single-partition merge
    sweep.  Pin both phases in the plan: a bucketed windowspec
    (pmod(hash(...)) partition key) below, exactly one global (empty
    partition-by) windowspec above, and the survivor filter BETWEEN
    them — losing the phase-1 filter would ship the whole fact table
    to one task."""
    plan = _formatted_plan(spark, "skyline_pareto")
    assert "pmod(hash(p_partkey" in plan, "phase-1 bucket key gone"
    assert plan.count("Window") >= 2, "two window phases expected"
    # both sweep predicates survive optimization (applied twice:
    # once per phase)
    assert plan.count("m_strict") >= 2 and plan.count("m_tie") >= 2
    assert "CartesianProduct" not in plan  # never a dominance join
    assert "BatchEvalPython" not in plan


def test_time_weighted_avg_single_exchange(spark):
    """time_weighted_avg: the lead() window shuffles on user_id ONCE
    and the per-user aggregation reuses that partitioning — a second
    user_id exchange between window and aggregate means the plan
    stopped co-locating and would double the shuffle at 100 TB."""
    plan = _formatted_plan(spark, "time_weighted_avg")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected exactly one exchange:\n{plan}"
    assert "hashpartitioning(user_id" in plan, "exchange not on user_id"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ntile_deciles_single_exchange(spark):
    """ntile_deciles: the NTILE window shuffles on c_mktsegment once
    and the per-(segment, decile) aggregation reuses that partitioning
    (hashpartitioning on a PREFIX of the grouping keys satisfies the
    clustered distribution) — a second exchange would double the
    shuffle for a plan whose whole point is histogramming in place."""
    plan = _formatted_plan(spark, "ntile_deciles")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected exactly one exchange:\n{plan}"
    assert "hashpartitioning(c_mktsegment" in plan
    assert "ntile(10)" in plan and "c_custkey" in plan  # total order kept


def test_mad_outliers_broadcasts_group_scalars(spark):
    """mad_outliers: both join-backs (per-group med2, per-group mad4)
    carry one row per group and MUST broadcast — a shuffle join there
    re-exchanges the whole fact table for a 5-row dimension.  The
    unmaterialized dev subtree is legitimately RE-DERIVED under the
    mad branch (Catalyst doesn't share non-exchange subtrees), so the
    broadcast-join count is >= 2 rather than exactly 2; what must
    never appear is a shuffled join strategy on those scalar edges."""
    plan = _formatted_plan(spark, "mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_null_safe_join_plans_hash_join(spark):
    """null_safe_join: EqualNullSafe must become a HASH-JOIN KEY
    (Spark normalizes it into the key expression — 'Join condition:
    None'), never degrade to BroadcastNestedLoopJoin with the
    null-safe test as a residual — that's the quadratic failure mode
    at fact scale."""
    plan = _formatted_plan(spark, "null_safe_join")
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_cumshare_single_exchange(spark):
    """topk_cumshare: the running-sum window, the per-group total
    window, and the final aggregation all reuse ONE segment exchange
    — the plan that histograms in place (ntile_deciles discipline)."""
    plan = _formatted_plan(spark, "topk_cumshare")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected exactly one exchange:\n{plan}"
    assert "hashpartitioning(c_mktsegment" in plan
    assert plan.count("Window") >= 2  # running sum + group total


def test_histogram_median_bounded_shuffles(spark):
    """histogram_median's 100 TB contract: the ONLY fact-scale work is
    the map-side-combinable (group, bucket) count — partial_count must
    sit BEFORE the first exchange, so the shuffle carries at most
    groups x buckets rows regardless of fact size.  Exactly two
    exchanges: the bucketed count, then the bounded histogram re-keyed
    on the group for the cumulative window; the final per-group
    aggregation and both windows reuse that second partitioning."""
    plan = _formatted_plan(spark, "histogram_median")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected exactly two exchanges:\n{plan}"
    # map-side combine before the fact-scale exchange: partial_count
    # must appear earlier in the plan text than the first Exchange node
    assert "partial_count" in plan
    assert plan.index("partial_count") < plan.index("hashpartitioning"), (
        "fact rows reach the shuffle uncombined"
    )
    # first exchange keys on (group, bucket), second on the group alone
    assert "_groupingexpression" in plan, "bucket key gone from exchange 1"
    assert "hashpartitioning(o_orderpriority" in plan
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 2, f"run + tot should share one sort:\n{plan}"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_histogram_percentile_bounded_shuffles(spark):
    """histogram_percentile inherits histogram_median's 100 TB
    contract — one bounded histogram serves ALL THREE percentiles:
    partial_count before the fact-scale exchange (the shuffle carries
    at most groups x buckets rows), exactly two exchanges, both
    windows and the final per-group aggregation sharing the second
    partitioning, and the scan pruned to (l_returnflag,
    l_extendedprice)."""
    plan = _formatted_plan(spark, "histogram_percentile")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected exactly two exchanges:\n{plan}"
    assert "partial_count" in plan
    assert plan.index("partial_count") < plan.index("hashpartitioning"), (
        "fact rows reach the shuffle uncombined"
    )
    assert "_groupingexpression" in plan, "bucket key gone from exchange 1"
    assert "hashpartitioning(l_returnflag" in plan
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 2, f"run + tot should share one sort:\n{plan}"
    assert "ReadSchema: struct<l_returnflag:string,l_extendedprice:double>" in plan or (
        "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" in plan
    ), "column pruning lost: the scan reads more than 2 columns"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_exact_median_refine_pruned_second_pass(spark):
    """exact_median_refine's 100 TB contract: pass 1 is the
    histogram_median machinery (partial counts BEFORE the fact-scale
    exchange), pass 2 re-scans but broadcast-joins the one-row-per-
    group targets and prunes to the two target buckets BEFORE its
    (group, bucket) rank shuffle — so no exchange ever carries
    unpruned fact rows.  Exactly 4 shuffle exchanges (bucketed count,
    histogram re-key, pruned rank window, final agg), ONE broadcast
    join, and never a shuffled join; both scans pruned to 2 columns."""
    plan = _formatted_plan(spark, "exact_median_refine")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 4, f"expected exactly four exchanges:\n{plan}"
    assert len(_re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "partial_count" in plan
    assert plan.index("partial_count") < plan.index("hashpartitioning"), (
        "fact rows reach the first shuffle uncombined"
    )
    # the pass-2 rank window shuffles on (group, bucket) — only rows
    # that survived the target-bucket prune reach it
    assert _re.search(r"hashpartitioning\(o_orderpriority#\d+, cb#", plan), (
        "pass-2 rank shuffle not keyed on (group, bucket)"
    )
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 3, f"run+tot (shared sort) and rank:\n{plan}"
    schemas = _re.findall(r"ReadSchema: (\S+)", plan)
    assert len(schemas) == 2 and all(
        "o_totalprice" in s and "o_orderpriority" in s
        and "o_custkey" not in s
        for s in schemas
    ), f"scan pruning lost: {schemas}"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_median_bounded_shuffles(spark):
    """weighted_median: the weighted variant of the bounded-histogram
    contract — the fact-scale exchange carries only partial-combined
    (group, bucket) WEIGHT sums (partial_sum + partial_count before
    the first hashpartitioning), exactly two exchanges, and the scan
    pruned to the three needed columns."""
    plan = _formatted_plan(spark, "weighted_median")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected exactly two exchanges:\n{plan}"
    assert "partial_sum" in plan and "partial_count" in plan
    assert plan.index("partial_sum") < plan.index("hashpartitioning"), (
        "fact rows reach the shuffle uncombined"
    )
    assert "hashpartitioning(l_linestatus" in plan
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 2, f"runw + totw should share one sort:\n{plan}"
    assert "l_shipdate" not in plan.split("ReadSchema")[1].split("\n")[0], (
        "column pruning lost"
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_single_exchange_pruned_scan(spark):
    """weighted_sample: the draw + acceptance + inverse-weight fold
    into the map-side partial aggregation (one row per language
    reaches the shuffle), the scan reads ONLY (doc_id, lang) — text
    never leaves parquet — and no Python runs in the hot path."""
    plan = _formatted_plan(spark, "weighted_sample")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected exactly one exchange:\n{plan}"
    assert "hashpartitioning(lang" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, (
        "column pruning lost: the scan reads more than (doc_id, lang)"
    )
    assert "partial_sum" in plan and "partial_count" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_sql_script_loop_reads_cached_histogram_not_orders(spark):
    """sql_script's 100 TB contract (r12 verdict item #2): the orders
    fact table is scanned exactly TWICE — the thr assignment and the
    eagerly-CACHEd per-(priority, kmax) histogram build — and the
    WHILE loop's per-round count reads ONLY the ≤55-row cached
    histogram.  Gate it structurally on the script text (a statement
    cannot scan a view it never references), then attest the runtime
    hygiene: the block leaves NO cache entry, temp view, or session
    variable behind (UNCACHE in the finally releases the CacheManager
    entry — dropTempView alone does not, probed on Spark 4.1)."""
    from dpu_olap_spark.operators.spark4_surface import _sql_script_text

    text = _sql_script_text("ORDERS_V", "HIST_V", "THR_V")
    assert text.count("ORDERS_V") == 2, (
        "orders view must appear exactly twice (thr + histogram build)"
    )
    # loop body = between the WHILE statement's guard and END WHILE
    # (anchor on "WHILE n" — the bare word WHILE also appears in the
    # script's comments)
    body = text.split("WHILE n", 1)[1].split("END WHILE", 1)[0]
    assert "ORDERS_V" not in body, "WHILE body re-scans the fact table"
    assert "HIST_V" in body, "WHILE body no longer reads the histogram"
    tail = text.split("END WHILE", 1)[1]
    assert "ORDERS_V" not in tail, "final statement re-scans the fact table"
    assert "CACHE TABLE HIST_V" in text, "histogram no longer cached"

    import itertools

    import dpu_olap_spark.operators.spark4_surface as s4

    jcm = spark._jsparkSession.sharedState().cacheManager()
    was_empty = jcm.isEmpty()
    before = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    # Pin the run suffix BEFORE the build so the leak probe below can
    # name the ACTUAL session variable this run declares.  (r13 ADVICE:
    # interpolating the itertools.count object produced the literal
    # name sql_script_thr_count(N), which is UNRESOLVED whether or not
    # the real variable leaked — the gate was vacuous.)
    run_id = next(s4._SQL_SCRIPT_RUN)
    s4._SQL_SCRIPT_RUN = itertools.count(run_id)  # build re-draws run_id
    try:
        df = all_queries()["sql_script"].build(spark, SF)
    finally:
        s4._SQL_SCRIPT_RUN = itertools.count(run_id + 1)
    assert df.count() > 0
    after = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    assert after == before, f"temp-view residue: {after - before}"
    if was_empty:
        assert jcm.isEmpty(), "sql_script leaked a cache entry"
    # Positive control: the probe SQL shape distinguishes a live
    # session variable from an absent one (DECLARE + probe resolves),
    # so the UNRESOLVED expectation below is meaningful.
    spark.sql(f"DECLARE OR REPLACE sql_script_probe_{run_id} INT DEFAULT 1")
    try:
        spark.sql(f"SELECT sql_script_probe_{run_id}").collect()
    finally:
        spark.sql(f"DROP TEMPORARY VARIABLE sql_script_probe_{run_id}")
    with pytest.raises(Exception, match="UNRESOLVED"):
        spark.sql(f"SELECT sql_script_thr_{run_id}").collect()


def test_exact_quartiles_refine_pruned_second_pass(spark):
    """exact_quartiles_refine inherits exact_median_refine's 100 TB
    contract with two arbitrary ranks instead of the middle pair:
    partial counts BEFORE the fact-scale exchange, the pass-2 targets
    join a BroadcastHashJoin (never shuffled), the rank shuffle keyed
    on (group, bucket) so only prune-survivors reach it, exactly 4
    exchanges, and both scans pruned to the 2 needed columns."""
    plan = _formatted_plan(spark, "exact_quartiles_refine")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 4, f"expected exactly four exchanges:\n{plan}"
    assert len(_re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "partial_count" in plan
    assert plan.index("partial_count") < plan.index("hashpartitioning"), (
        "fact rows reach the first shuffle uncombined"
    )
    assert _re.search(r"hashpartitioning\(o_orderpriority#\d+, cb#", plan), (
        "pass-2 rank shuffle not keyed on (group, bucket)"
    )
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 3, f"run+tot (shared sort) and rank:\n{plan}"
    schemas = _re.findall(r"ReadSchema: (\S+)", plan)
    assert len(schemas) == 2 and all(
        "o_totalprice" in s and "o_orderpriority" in s
        and "o_custkey" not in s
        for s in schemas
    ), f"scan pruning lost: {schemas}"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_group_mode_bounded_shuffles(spark):
    """group_mode's 100 TB contract: the only fact-scale work is the
    map-side-combinable (source, lang) count — the first exchange
    carries at most sources x languages rows regardless of corpus
    size; the second re-keys that bounded table on source for the
    rank + total windows.  The scan reads ONLY (source, lang) — text
    never leaves parquet — and the NULL-lang filter is pushed to the
    scan."""
    plan = _formatted_plan(spark, "group_mode")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected exactly two exchanges:\n{plan}"
    assert "partial_count" in plan
    assert plan.index("partial_count") < plan.index("hashpartitioning"), (
        "fact rows reach the shuffle uncombined"
    )
    assert _re.search(r"hashpartitioning\(source#\d+, lang#", plan), (
        "exchange 1 not keyed on (source, lang)"
    )
    assert _re.search(r"hashpartitioning\(source#\d+, \d+\)", plan), (
        "exchange 2 not keyed on source alone"
    )
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 2, f"rank + total windows:\n{plan}"
    assert "IsNotNull(lang)" in plan, "NULL-lang filter not pushed to scan"
    assert "ReadSchema: struct<lang:string,source:string>" in plan or (
        "ReadSchema: struct<source:string,lang:string>" in plan
    ), "column pruning lost: the scan reads more than 2 columns"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_bounded_shuffles(spark):
    """heavy_hitters' 100 TB contract: exchange 1 carries map-side
    partial-combined (day, event_type) counts — bounded by days x
    types no matter the event volume; exchange 2 re-keys the bounded
    table on day for the partition-total window; the strict >1/5
    filter and the ppm projection run on window output (never a
    fact-vs-total join).  Scan pruned to (ts, event_type)."""
    plan = _formatted_plan(spark, "heavy_hitters")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected exactly two exchanges:\n{plan}"
    assert "partial_count" in plan
    assert plan.index("partial_count") < plan.index("hashpartitioning"), (
        "fact rows reach the shuffle uncombined"
    )
    assert _re.search(r"hashpartitioning\(day#\d+, event_type#", plan), (
        "exchange 1 not keyed on (day, type)"
    )
    assert _re.search(r"hashpartitioning\(day#\d+, \d+\)", plan), (
        "exchange 2 not keyed on day alone"
    )
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 1, f"one partition-total window:\n{plan}"
    assert "ReadSchema: struct<ts:timestamp,event_type:string>" in plan or (
        "ReadSchema: struct<event_type:string,ts:timestamp>" in plan
    ), "column pruning lost: the scan reads more than 2 columns"
    assert len(_re.findall(r"\(\d+\) \w*Join", plan)) == 0, (
        "totals must come from a window, not a join"
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_exact_weighted_median_pruned_second_pass(spark):
    """exact_weighted_median: the weighted refine is LEANER than
    exact_median_refine — one target bucket instead of two and no
    (group, bucket) rank re-key, so exactly 3 exchanges: bucketed
    weight-sum (partial_sum before the fact-scale shuffle), histogram
    re-key, and ONE group-keyed walk exchange whose partitioning the
    final aggregation reuses.  The pass-2 targets join must stay a
    BroadcastHashJoin; both scans pruned to the 3 needed columns."""
    plan = _formatted_plan(spark, "exact_weighted_median")
    import re as _re

    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 3, f"expected exactly three exchanges:\n{plan}"
    assert len(_re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "partial_sum" in plan
    assert plan.index("partial_sum") < plan.index("hashpartitioning"), (
        "fact rows reach the first shuffle uncombined"
    )
    n_windows = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_windows == 3, f"runw+totw (shared sort) and the walk:\n{plan}"
    schemas = _re.findall(r"ReadSchema: (\S+)", plan)
    assert len(schemas) == 2 and all(
        "l_extendedprice" in s and "l_linestatus" in s
        and "l_quantity" in s and "l_shipdate" not in s
        for s in schemas
    ), f"scan pruning lost: {schemas}"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# TPC-DS-lite plan gates (r16): the six shapes' 100 TB contracts.
# ---------------------------------------------------------------------------


def test_tpcds_q1_agg_before_window_and_broadcast_dim(spark):
    """Q1 shape: the fact collapses to customer level (partial_sum
    before the shuffle), the customer dim joins broadcast, and the
    window reads the AGGREGATED table (exactly one Window node — the
    nation sum/count share one spec)."""
    plan = _formatted_plan(spark, "tpcds_q1")
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    # lineitem scan pruned: no quantity/tax; returnflag filter pushed
    li_schema = next(s for s in re.findall(r"ReadSchema: (\S+)", plan)
                     if "l_extendedprice" in s)
    assert "l_quantity" not in li_schema and "l_tax" not in li_schema
    assert "EqualTo(l_returnflag,R)" in plan, "returnflag not pushed"


def test_tpcds_q34_having_prunes_before_dim_join(spark):
    """Q34 shape: the line-count HAVING filters the aggregate BEFORE
    the broadcast customer join (bucket survivors only probe the
    dim), and the lineitem scan reads exactly one column."""
    plan = _formatted_plan(spark, "tpcds_q34")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    li_schema = next(s for s in re.findall(r"ReadSchema: (\S+)", plan)
                     if "l_orderkey" in s)
    assert li_schema == "struct<l_orderkey:bigint>", li_schema
    # HAVING runs on the agg output, upstream of the join: locate the
    # SPECIFIC Filter node whose condition is on the aggregated line
    # count (n_lines) — not just any 'Filter' substring, which would
    # also match a pushed scan filter (e.g. on o_orderpriority) — and
    # the SPECIFIC BroadcastExchange of the customer dim; in the tree
    # render the streamed (:-) side lists before the broadcast build
    # (+-), so the count filter must appear first.
    tree = plan[: plan.index("(1) Scan")]
    sections = plan.split("\n\n")
    having = next(
        (m.group(1) for s in sections
         if (m := re.match(r"\((\d+)\) Filter", s))
         and re.search(r"Condition : [^\n]*n_lines", s)),
        None,
    )
    assert having, f"no Filter node on n_lines:\n{plan}"
    dim_bcast = next(
        (m.group(1) for s in sections
         if (m := re.match(r"\((\d+)\) BroadcastExchange", s))
         and "c_custkey" in s),
        None,
    )
    assert dim_bcast, f"no BroadcastExchange of the customer dim:\n{plan}"
    assert (
        tree.index(f"Filter ({having})")
        < tree.index(f"BroadcastExchange ({dim_bcast})")
    ), "bucket HAVING not applied before the dim join"
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q36_rollup_expand_then_bounded_window(spark):
    """Q36 shape: ROLLUP plans one Expand over the map-combined
    (brand, type) cells, the part dim broadcasts, and the RANK window
    reads the bounded rollup output (one Window node)."""
    plan = _formatted_plan(spark, "tpcds_q36")
    assert "Expand" in plan, "ROLLUP lost its Expand"
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q47_one_fact_shuffle_shared_window_sort(spark):
    """Q47 shape: the fact collapses to brand x month in ONE
    map-combined shuffle; the four window functions run over that
    bounded table in two Window nodes (whole-partition stats +
    lag/lead) sharing the (brand) partitioning — so exactly two
    shuffle exchanges total."""
    plan = _formatted_plan(spark, "tpcds_q47")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected 2 exchanges:\n{plan}"
    assert "partial_sum" in plan
    assert plan.index("partial_sum") < plan.index("hashpartitioning"), (
        "fact rows reach the shuffle uncombined"
    )
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q51_channels_aggregate_before_full_outer(spark):
    """Q51 shape: both channels partial-aggregate to month level
    BEFORE the FULL OUTER splice (two partial_sum exchanges), and the
    cumulative window runs once over the spliced <=84-row series (a
    deliberate single partition — bounded by the calendar)."""
    plan = _formatted_plan(spark, "tpcds_q51")
    assert re.search(r"SortMergeJoin FullOuter|ShuffledHashJoin FullOuter",
                     plan), "full outer join lost"
    assert len(re.findall(r"partial_sum", plan)) >= 2
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "SinglePartition" in plan, (
        "the cumulative window should own the one single-partition "
        "exchange (bounded input)"
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q88_independent_scalar_subqueries_no_joins(spark):
    """Q88 shape: six independent scalar-subquery counts — each a
    partial->final aggregate over its own pruned scan; NO join of any
    kind materializes the combination (the hosting operator is a
    one-row projection)."""
    plan = _formatted_plan(spark, "tpcds_q88")
    assert len(re.findall(r"Subquery:\d+ Hosting", plan)) == 6
    assert "Scan OneRowRelation" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in q88 plan"
    # every band is a map-side partial count
    assert len(re.findall(r"partial_count", plan)) == 6


def test_stream_histogram_pctl_finalize_bounded(spark):
    """The streaming histogram's FINALIZE plan (what runs after the
    state-built counts land): everything downstream of the memory
    sink is the bounded-histogram walk — cell-level max, one shared
    window sort, final per-group agg — over ~125 rows, with no
    Python in the plan (the Python hop lives in the stream, not the
    finalize)."""
    from dpu_olap_spark.streaming import stateful as st

    emitted = spark.createDataFrame(
        [("click", 1, 5), ("click", 2, 3), ("view", 1, 7)],
        schema=st.HIST_OUTPUT_SCHEMA,
    )
    df = st.finalize_histogram_percentiles(emitted)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_tpcds_q14_intersect_as_semi_joins_over_aggregates(spark):
    """Q14 shape: the three-way INTERSECT plans as two LeftSemi
    broadcast joins over per-channel AGGREGATED key sets (never the
    fact), the fact collapses in one map-combined aggregate
    (partial_sum), each channel scan has its returnflag filter
    pushed, and the supplier dim broadcasts."""
    plan = _formatted_plan(spark, "tpcds_q14")
    assert len(re.findall(r"BroadcastHashJoin LeftSemi", plan)) == 2, (
        "INTERSECT should plan as two semi joins"
    )
    assert "partial_sum" in plan
    for flag in ("A", "N", "R"):
        assert f"EqualTo(l_returnflag,{flag})" in plan, (
            f"channel filter {flag} not pushed to its scan"
        )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q67_rollup_topk_pushdown(spark):
    """Q67 shape: ROLLUP plans one Expand over the map-combined
    cells, and the per-brand top-5 filter is pushed below the window
    exchange as WindowGroupLimit (map-side rank pruning — rows beyond
    5 per brand never cross the shuffle)."""
    plan = _formatted_plan(spark, "tpcds_q67")
    assert "Expand" in plan, "ROLLUP lost its Expand"
    assert "WindowGroupLimit" in plan, (
        "rank<=k not pushed down (WindowGroupLimit missing)"
    )
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "partial_sum" in plan
    assert plan.index("partial_sum") < plan.index("hashpartitioning"), (
        "fact rows reach the shuffle uncombined"
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q78_anti_join_before_aggregation(spark):
    """Q78 shape: each channel anti-joins the fact against the
    broadcast returned-parts set BEFORE aggregating (two LeftAnti
    broadcast joins), and the channel join keys two aggregated
    tables."""
    plan = _formatted_plan(spark, "tpcds_q78")
    assert len(re.findall(r"BroadcastHashJoin LeftAnti", plan)) == 2
    assert len(re.findall(r"partial_sum", plan)) >= 2
    # the anti joins feed the aggregates: every LeftAnti node id is
    # smaller than its branch's final HashAggregate — check the tree
    # lists each LeftAnti beneath (after) an Exchange+HashAggregate
    tree = plan[: plan.index("(1) Scan")]
    assert re.search(
        r"HashAggregate[\s\S]*?BroadcastHashJoin LeftAnti", tree
    ), "anti join does not feed the channel aggregate"
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) Inner", plan), (
        "channel join lost"
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q58_three_channel_aggregates_join(spark):
    """Q58 shape: each channel is its own map-combined aggregate over
    a pushed returnflag-filtered scan (three partial_sum branches),
    and the 3-way join keys AGGREGATED tables — the join strategy is
    left to the planner (broadcast at test stats; at part-dimension
    scale AQE would shuffle), so only the aggregate-before-join
    structure is pinned."""
    plan = _formatted_plan(spark, "tpcds_q58")
    assert len(re.findall(r"partial_sum", plan)) >= 3
    for flag in ("A", "N", "R"):
        assert f"EqualTo(l_returnflag,{flag})" in plan, (
            f"channel filter {flag} not pushed to its scan"
        )
    # every join input is an aggregate: no join node may appear below
    # the first HashAggregate of any branch in the tree render
    tree = plan[: plan.index("(1) Scan")]
    first_join = re.search(r"(BroadcastHashJoin|SortMergeJoin|"
                           r"ShuffledHashJoin)", tree)
    first_agg = re.search(r"HashAggregate", tree)
    assert first_join and first_agg
    assert first_join.start() < first_agg.start(), (
        "expected joins ABOVE the channel aggregates in the tree"
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q23_pruners_and_scalar_pull(spark):
    """Q23 shape (r18): the channel-frequency INTERSECT plans as a
    LeftSemi join over AGGREGATED (part, channel) counts, both
    derived sets prune the final fact pass as semi joins (three
    LeftSemi total at fixture stats), the scalar-average threshold is
    a ONE-ROW broadcast (BroadcastNestedLoopJoin with a 1-row
    aggregate build side — never a CartesianProduct), the final 'R'
    channel filter is pushed to its scan, and every aggregate is
    map-combined."""
    plan = _formatted_plan(spark, "tpcds_q23")
    assert len(re.findall(r"Join LeftSemi", plan)) == 3, (
        "expected intersect + two set-prunes as semi joins"
    )
    # the scalar pull: 1-row build side, BNLJ, no cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    assert "EqualTo(l_returnflag,R)" in plan, (
        "final-pass channel filter not pushed to the scan"
    )
    assert "partial_sum" in plan and "partial_count" in plan
    # the month rollup sits ABOVE the joins (aggregate of the pruned fact)
    tree = plan[: plan.index("(1) Scan")]
    first_agg = re.search(r"HashAggregate", tree)
    first_join = re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", tree
    )
    assert first_agg and first_join
    assert first_agg.start() < first_join.start(), (
        "final rollup should top the plan tree"
    )


def test_tpcds_q64_chain_joins_aggregates_only(spark):
    """Q64 shape (r18): BOTH channel facts collapse to map-combined
    (supplier, year) cells before any join — four partial_sum
    branches with their returnflag filters pushed to the scans — and
    every chain join keys the BOUNDED aggregate tables (no join below
    the first HashAggregate of any branch); the supplier dim
    broadcasts."""
    plan = _formatted_plan(spark, "tpcds_q64")
    assert len(re.findall(r"partial_sum", plan)) == 4, (
        "expected four map-combined channel-year aggregates"
    )
    for flag in ("N", "R"):
        assert len(re.findall(
            rf"EqualTo\(l_returnflag,{flag}\)", plan)) == 2, (
            f"channel filter {flag} should be pushed to both its scans"
        )
    # supplier broadcast: the one scan without a returnflag filter
    # feeds a BroadcastExchange directly
    assert re.search(
        r"BroadcastExchange[\s\S]{0,200}?supplier\.parquet", plan
    ) or re.search(
        r"supplier\.parquet[\s\S]{0,600}?BroadcastExchange", plan
    ), "supplier dim not broadcast"
    # joins strictly above the aggregates in every branch
    tree = plan[: plan.index("(1) Scan")]
    first_join = re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", tree
    )
    first_agg = re.search(r"HashAggregate", tree)
    assert first_join and first_agg
    assert first_join.start() < first_agg.start(), (
        "expected joins ABOVE the channel aggregates in the tree"
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q5_union_of_scans_below_joins(spark):
    """Q5 shape (r18): the two channel legs UNION at SCAN grain with
    their returnflag filters pushed to the parquet scans (one pass
    over the fact, no join below the Union), the (channel, supplier)
    cells are map-combined before the rollup, and the rollup's Expand
    node consumes the BOUNDED cell aggregate — never the fact."""
    plan = _formatted_plan(spark, "tpcds_q5")
    for flag in ("N", "R"):
        assert f"EqualTo(l_returnflag,{flag})" in plan, (
            f"leg filter {flag} not pushed to its scan"
        )
    tree = plan[: plan.index("(1) Scan")]
    # formatted-plan node ids number LEAVES FIRST, so every node in
    # the Union's subtree has a SMALLER id than the Union itself —
    # assert those are only pruned scans (no join/agg/exchange below
    # the union: the legs are one pass over the fact)
    nodes = {
        int(m.group(2)): m.group(1)
        for m in re.finditer(r"([A-Za-z]+)[^(\n]*\((\d+)\)", tree)
    }
    union_id = min(i for i, n in nodes.items() if n == "Union")
    below = [nodes[i] for i in nodes if i < union_id]
    assert below and set(below) <= {"Scan", "Filter", "Project"}, (
        f"the union legs must be bare pruned scans, got {below}"
    )
    # rollup Expand consumes an aggregate, not the fact: an
    # Expand exists and at least one HashAggregate has a smaller id
    expand_id = min(i for i, n in nodes.items() if n == "Expand")
    assert any(
        i < expand_id for i, n in nodes.items() if n == "HashAggregate"
    ), "rollup Expand must consume the bounded cell aggregate"
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q93_order_grain_aggregates_and_topk(spark):
    """Q93 shape (r18): both channel legs collapse the fact to
    map-combined order-grain cells BEFORE the LeftOuter match (no
    join below either leg's first HashAggregate), the adjusted
    measure re-aggregates per customer, and the head is
    TakeOrderedAndProject (per-partition top-k heap) — never a
    global Sort."""
    plan = _formatted_plan(spark, "tpcds_q93")
    assert "TakeOrderedAndProject" in plan, "top-100 must plan as top-k"
    assert not re.search(r"\n\s*\(\d+\) Sort\b", plan), (
        "global Sort found — top-k heap expected"
    )
    assert re.search(r"Join LeftOuter|BroadcastHashJoin LeftOuter|"
                     r"SortMergeJoin LeftOuter", plan), (
        "returns match must be a LEFT OUTER join"
    )
    for flag in ("N", "R"):
        assert f"EqualTo(l_returnflag,{flag})" in plan, (
            f"leg filter {flag} not pushed to its scan"
        )
    # both legs collapse BEFORE the match: formatted-plan node ids
    # number leaves first, so the two leg aggregate pairs (four
    # HashAggregate nodes) must carry smaller ids than the LeftOuter
    # join node
    tree = plan[: plan.index("(1) Scan")]
    nodes = {
        int(m.group(2)): m.group(1)
        for m in re.finditer(r"([A-Za-z]+)\s[^(\n]*\((\d+)\)", tree)
    }
    lo_id = min(
        int(m.group(1))
        for m in re.finditer(r"Join LeftOuter[^(\n]*\((\d+)\)", tree)
    )
    leg_aggs = [
        i for i, n in nodes.items() if n == "HashAggregate" and i < lo_id
    ]
    assert len(leg_aggs) >= 4, (
        f"expected both legs aggregated below the match, got {leg_aggs}"
    )
    assert len(re.findall(r"partial_sum", plan)) >= 3
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q39_moment_cells_before_self_join(spark):
    """Q39 shape (r18): the fact collapses to map-combined
    (supplier, month) moment cells BEFORE the consecutive-month
    self-join (joins strictly above the aggregates in the tree), the
    scan reads ONLY the three needed fact columns, and the supplier
    dim broadcasts."""
    plan = _formatted_plan(spark, "tpcds_q39")
    assert "partial_count" in plan and "partial_sum" in plan, (
        "moment cells must map-combine (partial->final law)"
    )
    m = re.search(r"ReadSchema:[^\n]*lineitem[^\n]*", plan) or re.search(
        r"lineitem\.parquet[\s\S]{0,400}?ReadSchema: (\S+)", plan
    )
    schema_line = m.group(0) if m else ""
    for col in ("l_suppkey", "l_shipdate", "l_quantity"):
        assert col in plan, f"{col} missing from pruned scan"
    assert "l_extendedprice" not in plan, (
        "scan must prune to the three needed fact columns"
    )
    tree = plan[: plan.index("(1) Scan")]
    first_join = re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", tree
    )
    first_agg = re.search(r"HashAggregate", tree)
    assert first_join and first_agg
    assert first_join.start() < first_agg.start(), (
        "expected the self-join ABOVE the moment aggregates"
    )
    assert re.search(
        r"BroadcastExchange[\s\S]{0,200}?supplier\.parquet", plan
    ) or re.search(
        r"supplier\.parquet[\s\S]{0,600}?BroadcastExchange", plan
    ), "supplier dim not broadcast"
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tpcds_q49_group_limit_and_count_rank(spark):
    """Q49 shape (r18): the returnflag IN filter pushes to the fact
    scan, the (channel, part) cells map-combine BEFORE any window
    (leaves-first ids), BOTH rank<=10 branches push as
    WindowGroupLimit (each map partition keeps only its top 10 per
    channel before the exchange — no task ever sorts the whole cell
    table: the 5-channel full-window sort is the single-task hazard
    this plan exists to avoid), and the exact-rank counting pass
    joins the <=20-per-channel kept keys by BROADCAST."""
    plan = _formatted_plan(spark, "tpcds_q49")
    assert re.search(r"In\(l_returnflag, ?\[N,R\]\)", plan), (
        "returnflag IN filter not pushed to the fact scan"
    )
    tree = plan[: plan.index("(1) Scan")]
    nodes = {
        int(m.group(2)): m.group(1)
        for m in re.finditer(r"([A-Za-z]+)\s[^(\n]*\((\d+)\)", tree)
    }
    wgl_ids = [i for i, n in nodes.items() if n == "WindowGroupLimit"]
    assert len(wgl_ids) >= 2, (
        "both rank<=10 filters must push as WindowGroupLimit"
    )
    win_ids = [i for i, n in nodes.items() if n == "Window"]
    assert win_ids, "rank windows missing"
    first_agg = min(i for i, n in nodes.items() if n == "HashAggregate")
    assert all(first_agg < w for w in win_ids + wgl_ids), (
        "windows must consume the bounded cell aggregate"
    )
    # the counting pass: kept keys broadcast against the cell table
    assert re.search(r"Left keys \[1\]: \[ch#\d+\]", plan), (
        "exact-rank counting pass must broadcast the kept keys "
        "(a ch-only BroadcastHashJoin)"
    )
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan

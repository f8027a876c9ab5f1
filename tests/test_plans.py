"""Physical-plan audits: the plan SHAPE is the scale contract.

Correctness at sf0.01 says nothing about 100 TB; these tests pin the
properties that do — scans prune and push down, small dims broadcast,
range joins never degrade to nested loops, Python appears only in the
operators whose purpose IS the Python surface (multimodal decode, UDTF
chunker, pandas UDAF), top-k never global-sorts.

PINNED RENDERING: several assertions match Spark 4.1's plan-STRING
formatting (exact 'Exchange hashpartitioning' counts, the
'BitmapExpressionUtils.bitmapCount' spelling, windowspecdefinition
attribute syntax with an optional bigint 'L' suffix). A Spark upgrade
that reformats plan strings or lets AQE insert an exchange can fail
these without a real regression — if that happens, re-derive the
needles from a fresh `.explain("formatted")` before suspecting the
operators. `_PINNED_SPARK` makes the dependency explicit: the
format-sensitive tests skip (loudly) on other feature versions instead
of failing on cosmetics.
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.01"

_PINNED_SPARK = "4.1"


def _require_pinned_spark(spark) -> None:
    if not spark.version.startswith(_PINNED_SPARK):
        pytest.skip(
            f"plan-string needles pinned to Spark {_PINNED_SPARK}.x "
            f"rendering (running {spark.version}); re-derive before trusting"
        )


def _build_plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


# Executed-plan strings memoized per session: the two catalog-wide lint
# tests below (no-Python, no-cartesian) each used to rebuild every
# entry's plan — and under AQE a localCheckpoint(eager=False) plan build
# EXECUTES its exchange stages, so the two parametrized sweeps cost two
# extra suite passes (r9: 154 s + 151 s of the pytest wall; the driver's
# verify window truncated at 68% in r8). Plan builders are deterministic,
# so ONE build per entry serves every needle check. The whole catalog is
# built once through oracle_harness.run_catalog (batch entries pooled,
# stream entries one at a time after the pool drains). The warm records
# what the builds did to the session, and each stream entry's build —
# alone on the session — records its own, for
# test_builders_leave_session_as_found.
_PLAN_CACHE: dict[str, object] = {}
# (streaming-query starts, session diff) of the whole warm
_WARM_EFFECT: list[tuple[int, dict]] = []
# stream entry name -> (streaming-query starts, session diff) of its build
_STREAM_EFFECTS: dict[str, tuple[int, dict]] = {}
_QUERY_STARTS: list[str] = []
_START_LISTENER = None


def _count_query_starts(spark) -> None:
    """Install (once per session) a listener that appends the id of every
    streaming query started on `spark` to _QUERY_STARTS. A query-started
    event reaches the listener before start() returns."""
    from pyspark.sql.streaming import StreamingQueryListener

    global _START_LISTENER
    if _START_LISTENER is not None:
        return

    class Starts(StreamingQueryListener):
        def onQueryStarted(self, event):
            _QUERY_STARTS.append(str(event.id))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    _START_LISTENER = Starts()
    spark.streams.addListener(_START_LISTENER)


def _session_state(spark) -> dict:
    """What a builder must leave as it found: the conf map, the temp views
    and the temporary functions."""
    return {
        "conf": dict(spark.conf.getAll),
        "views": {t.name for t in spark.catalog.listTables() if t.isTemporary},
        "functions": {
            f.name for f in spark.catalog.listFunctions() if f.isTemporary
        },
    }


def _recorded_build(spark, build) -> tuple[object, int, dict]:
    """Run `build()` and return its result, the streaming queries it
    started and the session state it changed ({} when none)."""
    _count_query_starts(spark)
    before, starts = _session_state(spark), len(_QUERY_STARTS)
    result = build()
    after = _session_state(spark)
    conf = {
        k: (before["conf"].get(k), after["conf"].get(k))
        for k in before["conf"].keys() | after["conf"].keys()
        if before["conf"].get(k) != after["conf"].get(k)
    }
    diff = {"conf": conf} if conf else {}
    for part in ("views", "functions"):
        if before[part] != after[part]:
            diff[part] = sorted(before[part] ^ after[part])
    return result, len(_QUERY_STARTS) - starts, diff


def _warm_plan_cache(spark) -> None:
    from tests.oracle_harness import run_catalog

    if _PLAN_CACHE:
        return

    def build(q):
        if not q.stream:
            return _build_plan(spark, q.name)
        plan, starts, diff = _recorded_build(spark, lambda: _build_plan(spark, q.name))
        _STREAM_EFFECTS[q.name] = (starts, diff)
        return plan

    built, starts, diff = _recorded_build(
        spark, lambda: run_catalog(list(REGISTRY.values()), build)
    )
    _PLAN_CACHE.update(built)
    _WARM_EFFECT.append((starts, diff))


def _plan(spark, name: str) -> str:
    _warm_plan_cache(spark)
    plan = _PLAN_CACHE[name]
    if isinstance(plan, Exception):
        raise plan
    return plan


def test_builders_leave_session_as_found(spark):
    """The warm of every builder leaves the session's conf map, temp views
    and temporary functions as it found them, and every streaming query it
    started belongs to a stream entry's build — so the pooled batch
    builders started none, which is what makes pooling them safe. Each
    stream entry, built alone, starts at least one query and leaves the
    same three unchanged. Recorded during the plan-cache builds, so no
    entry is built twice."""
    _warm_plan_cache(spark)
    streams = [n for n, q in REGISTRY.items() if q.stream]
    assert "stream_static_enrichment" in streams
    assert sorted(_STREAM_EFFECTS) == sorted(streams)
    bad = {n: e for n, e in _STREAM_EFFECTS.items() if e[0] < 1 or e[1]}
    assert not bad, bad
    stream_starts = sum(e[0] for e in _STREAM_EFFECTS.values())
    assert _WARM_EFFECT == [(stream_starts, {})], _WARM_EFFECT


def test_q01_scan_pushdown_and_pruning(spark):
    df = REGISTRY["q01_pricing_summary"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read columns q1 doesn't touch
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]
    # whole-stage codegen: visible as *(n) markers once AQE finalizes
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "*(" in final and "isFinalPlan=true" in final


def test_zone_enrichment_broadcasts_lookup(spark):
    plan = _plan(spark, "zone_enrichment_join")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_star_fact_derives_dim_keys_without_joins(spark):
    """The fact keys into its dims through their domain predicates and
    surrogate keys computed in place: no join of any kind, so no dim is
    recomputed and no fact-side shuffle join can appear at scale."""
    plan = _plan(spark, "star_fact_summary")
    assert "Join" not in plan  # BroadcastHashJoin, SortMergeJoin, ...


def test_semi_join_stays_semi(spark):
    plan = _plan(spark, "exists_semijoin_priority")
    assert "LeftSemi" in plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "having_top_orders")
    assert "TakeOrderedAndProject" in plan


def test_interval_join_not_nested_loop(spark):
    plan = _plan(spark, "range_join_interval_agg")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_exact_single_shuffle(spark):
    plan = _plan(spark, "dedup_exact_documents")
    # one window shuffle on the dedup key — no join, no extra exchange
    assert plan.count("Exchange") <= 2  # hashpartitioning + final orderBy range


def test_q04_exists_is_semi_join(spark):
    """EXISTS must decorrelate to LeftSemi — never a distinct + inner join."""
    plan = _plan(spark, "q04_exists_priority")
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan  # the priority rollup, not a dedup


def test_q22_not_exists_is_anti_join(spark):
    """NOT EXISTS must become LeftAnti; the scalar avg is a 1-row
    broadcast, not a per-row subquery."""
    plan = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    assert "Subquery" not in plan or "ReusedSubquery" in plan


def test_q18_having_filter_before_join(spark):
    """The HAVING-filtered aggregate is tiny → both its join onto orders
    and the customer join must broadcast (no full-size shuffle join)."""
    plan = _plan(spark, "q18_large_volume_customers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan  # top-100 never global-sorts


# catalog entries whose PURPOSE is the Python surface: the Arrow decode
# stub and the UDTF/UDAF coverage entries (§2.10) — everything else must
# stay JVM-side
_PYTHON_BY_DESIGN = {
    "multimodal_decode_features",
    "multimodal_ppm_decode",   # real PPM container parse IS the Python lane
    "multimodal_wav_decode",   # real WAV container parse IS the Python lane
    "udtf_sliding_chunks",
    "udaf_pandas_mad",
}


@pytest.mark.parametrize(
    "name", [n for n in REGISTRY if n not in _PYTHON_BY_DESIGN]
)
def test_no_python_in_hot_path(spark, name):
    """Every operator except the explicit Python-surface entries must stay
    JVM-side — no row-at-a-time or vectorized Python eval in the plan."""
    plan = _plan(spark, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{name} has Python stage {marker}"


def test_runtime_bloom_filter_fires_at_scale(spark):
    """At 100 TB a selective dim-side filter injects a runtime bloom filter
    into the fact-side scan (row-level pruning before the shuffle). The
    trigger is size-gated (application side ≥ 10 GB by default), so tiny
    test data never fires it — this test shrinks the gate to prove the
    engine's join shapes are ELIGIBLE: un-broadcast shuffle join + filtered
    creation side → bloom_filter_agg appears in the optimized plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "bloom_filter_agg" in plan, "runtime bloom filter did not inject"
        assert "might_contain" in plan  # the probe side actually consumes it
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_curation_funnel_shuffle_budget(spark):
    """The funnel's wide operations are exactly: the dedup window's hash
    partitioning and the final per-source rollup (+ its tiny sort). The
    stats/gates must fuse into the scan stage — more Exchanges than that
    means a filter or projection fell out of the scan pipeline."""
    plan = _plan(spark, "curation_funnel")
    assert plan.count("Exchange") <= 3, plan.count("Exchange")
    assert "PushedFilters" in plan  # lang gate reaches the parquet reader


def test_q06_all_predicates_pushed(spark):
    """Q6 is the pushdown probe: every filter must reach the parquet scan."""
    plan = _plan(spark, "q06_forecast_revenue")
    pushed = plan.split("PushedFilters")[1][:400]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_q21_double_correlation_no_nested_loop(spark):
    """EXISTS/NOT EXISTS with an equi component must hash-join, never
    nested-loop: at 100 TB a BNLJ over lineitem×lineitem is fatal."""
    plan = _plan(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q16_not_in_lowers_to_anti(spark):
    plan = _plan(spark, "q16_supplier_part_variety")
    assert "LeftAnti" in plan


def test_q08_single_fact_shuffle(spark):
    """All seven dims broadcast; the only join shuffle allowed is
    lineitem↔orders on orderkey."""
    plan = _plan(spark, "q08_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    # orders↔lineitem may SMJ or SHJ depending on AQE, but never loop:
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_topk_take_ordered(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_full_outer_join_shuffles_not_broadcast(spark):
    """FULL OUTER can't broadcast either side; it must plan as a shuffle
    join (SMJ or SHJ) on the key."""
    plan = _plan(spark, "full_outer_reconciliation")
    assert "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan


def test_scd2_windows_share_one_shuffle(spark):
    """Compaction (lag) and validity (lead) windows use the same
    (key, ts) partitioning — Catalyst must plan ONE hash exchange, not
    two (the orderBy adds a range exchange; that's presentation)."""
    plan = _plan(spark, "scd2_dimension_build")
    hash_exchanges = plan.count("hashpartitioning")
    assert hash_exchanges <= 1, plan[:2000]


@pytest.mark.parametrize(
    "name", [n for n in REGISTRY if n != "multimodal_decode_features"]
)
def test_no_unbroadcast_cartesian_anywhere(spark, name):
    """Catalog-wide scale lint: a CartesianProduct (both sides shuffled,
    O(n·m) without even a broadcast bound) must never appear. Intentional
    cross joins in the catalog are all broadcast-bounded (1-row scalar
    frames, small probe sets) and plan as BroadcastNestedLoopJoin."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} has a shuffled cartesian"


def test_aqe_skew_join_splits_hot_partition(spark):
    """session.py turns AQE skew-join on and the docs lean on it — prove it
    FIRES: a 90%-one-key sort-merge join under tiny skew thresholds must
    show skew=true / AQEShuffleRead skewed in the final adaptive plan (the
    hot partition split across tasks instead of stalling one executor).
    Coalescing is disabled for the probe — it re-packs partitions before
    the skew check and can mask the hot one at toy sizes."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            (F.col("id") * 2).alias("payload"),
        )
        small = spark.range(1_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        joined = big.join(small, "k")
        assert len(joined.collect()) == 270_100
        plan = joined._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_sort_uses_range_partitioning(spark):
    """A global orderBy must shuffle with RangePartitioning (sampled
    boundaries, every partition sorted AND globally ordered) — never a
    single-partition sort; sortWithinPartitions must add NO exchange at
    all (the zone-write ordering primitive)."""
    from nyc_taxi_data_pipeline_spark.sources.catalog import load_table

    big = load_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")

    global_sorted = big.orderBy("l_extendedprice")
    global_sorted.collect()
    plan = global_sorted._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "rangepartitioning" in plan.lower(), plan

    local_sorted = big.sortWithinPartitions("l_extendedprice")
    local_sorted.collect()
    plan = local_sorted._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Exchange" not in plan, plan


def test_join_strategy_hints_produce_their_operators(spark):
    """Each strategy hint must actually control the physical join: one
    BroadcastHashJoin, one SortMergeJoin, one ShuffledHashJoin in the
    three-branch union."""
    plan = _plan(spark, "join_strategy_hints")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" in plan


def test_semantic_dedup_pair_join_is_keyed_no_cartesian(spark):
    """SemDeDup's within-cluster pair join must be an EQUI-join keyed on
    centroid_id (id ordering + cosine threshold only as residual
    conditions) — a cartesian/BNLJ there would be the corpus-quadratic
    shape the clustering exists to avoid. (The broadcast of the centroid
    set itself sits behind the localCheckpoint lineage boundary, not
    reachable from the final frame's plan.)"""
    plan = _plan(spark, "semantic_dedup_clusters")
    assert "CartesianProduct" not in plan
    assert "Join [centroid_id" in plan or "Join [centroid_id".lower() in plan.lower()


def test_charlm_model_broadcasts(spark):
    """The trigram model is a bounded-vocabulary aggregate and must
    BROADCAST onto the scoring join — shuffling the corpus by trigram
    would be the 100 TB mistake."""
    plan = _plan(spark, "charlm_freq_score")
    assert "BroadcastHashJoin" in plan


def test_countmin_probe_broadcasts_sketch(spark):
    """CMS cells are <= 2048 rows; the probe join must broadcast them."""
    plan = _plan(spark, "countmin_sketch_tokens")
    assert "BroadcastHashJoin" in plan


def test_bpe_encode_broadcasts_word_map(spark):
    """Encoded-word map is vocabulary-bounded; the corpus join must
    broadcast it (no corpus shuffle by word)."""
    plan = _plan(spark, "bpe_encode_documents")
    assert "BroadcastHashJoin" in plan


def test_triangle_count_equi_joins_only(spark):
    """Wedge build and closure must both be equi-joins; a BNLJ would mean
    the orientation predicate leaked out of the join keys."""
    plan = _plan(spark, "triangle_count_oriented")
    assert "CartesianProduct" not in plan


def test_repeated_span_screen_single_window_no_join(spark):
    """The cross-doc indicator is min!=max over ONE window keyed on the
    span string — the whole screen must cost one span-shuffle plus the
    per-doc rollup; any Join in the plan means the dup-set materialized
    and joined back (a second shuffle of the exploded corpus)."""
    plan = _plan(spark, "repeated_span_screen")
    assert "Window" in plan
    assert "Join" not in plan


def test_dsir_model_broadcasts(spark):
    """Both frequency models hash into 1024 buckets; the scoring join must
    BROADCAST them — shuffling the exploded corpus by feature bucket
    would be the 100 TB mistake."""
    plan = _plan(spark, "dsir_importance_ratio")
    assert "BroadcastHashJoin" in plan


def test_regression_trend_single_aggregate_pass(spark):
    """All five OLS moment sums must ride ONE partial+final hash
    aggregate: exactly one hash-partition exchange (the group key), no
    window, no join — the single-pass property that makes per-key trend
    fitting viable over a 100 TB fact table."""
    _require_pinned_spark(spark)
    plan = _plan(spark, "regression_trend_aggregates")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_bitmap_distinct_no_expand(spark):
    """Both grains must come from the segment bitmaps (bitmap_count over
    construct/or-merge) — an Expand node would mean a count-DISTINCT
    fallback that re-shuffles raw events per grain."""
    _require_pinned_spark(spark)
    plan = _plan(spark, "bitmap_exact_distinct")
    assert "bitmapCount" in plan  # prints as BitmapExpressionUtils.bitmapCount
    assert "bitmap_or_agg" in plan
    assert "Expand" not in plan


def test_prefix_filter_no_cartesian_equi_candidates(spark):
    """Candidate generation must be an equi-join on the prefix shingle —
    a CartesianProduct/BNLJ would mean the similarity join degenerated
    to the O(n²) shape prefix filtering exists to avoid."""
    plan = _plan(spark, "jaccard_prefix_filter_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_median_single_window_shuffle(spark):
    """Cumulative weight and group total must share ONE hash-partition
    exchange on the group key (two Window specs, same partitioning); a
    second exchange would mean the windows repartitioned independently."""
    _require_pinned_spark(spark)
    plan = _plan(spark, "weighted_median_window")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_length_bucket_no_single_partition_window(spark):
    """The exact global ntile must come from parallel per-tier ranks +
    broadcast offsets: the corpus-sized row_number window must partition
    by tier (a naive global ntile would rank over an EMPTY partition
    spec, serializing the corpus through one task). SinglePartition
    exchanges are allowed only for the tiny offsets/total frames."""
    _require_pinned_spark(spark)
    plan = _plan(spark, "length_bucket_padding")
    assert "ntile" not in plan
    # the corpus-sized row_number must partition by tier: its spec prints
    # "windowspecdefinition(tier#N, n_tokens#M ASC ..." — an un-partitioned
    # global rank would print "windowspecdefinition(n_tokens#..." instead
    # (the tiny offsets window prints "windowspecdefinition(tier#N ASC",
    # which the comma in this needle does NOT match)
    import re

    assert re.search(r"windowspecdefinition\(tier#\d+L?, n_tokens#", plan)
    assert not re.search(r"windowspecdefinition\(n_tokens#", plan)
    assert plan.count("BroadcastExchange") >= 2  # offsets + n_total


def test_interval_islands_single_hash_shuffle(spark):
    """Both windows (running-max break test, island-id cumsum) and both
    aggregate levels must ride ONE (custkey) hash exchange; only the
    presentation orderBy adds a range exchange."""
    plan = _plan(spark, "interval_islands_merge")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") >= 2, plan  # break-test + island-id windows
    assert "CartesianProduct" not in plan


def test_twap_groupby_reuses_window_partitioning(spark):
    """The TWAP aggregate groups on the window's own partition key, so the
    final HashAggregate must NOT add a second hash exchange."""
    plan = _plan(spark, "time_weighted_average")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_scd2_pit_join_is_equi_hash_not_bnlj(spark):
    """The PIT temporal predicate must ride as a residual on an equi hash
    join keyed on user_id — never a BroadcastNestedLoopJoin over the
    range condition."""
    plan = _plan(spark, "scd2_point_in_time_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_fifo_matching_copartitioned_join(spark):
    """FIFO range-intersection join: both cumsum windows hash-partition on
    l_partkey and the join must reuse that partitioning — the only
    additional exchange is the wider-keyed provenance aggregate."""
    plan = _plan(spark, "fifo_unit_range_matching")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # 2 window inputs + at most 1 post-join aggregate re-key
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_attribution_join_is_equi_with_residual_window(spark):
    """Linear attribution: click↔purchase match must be an equi join on
    the user key with the 7-day bound as residual — no nested loop."""
    plan = _plan(spark, "attribution_linear_credit")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fan_out_is_scale_adaptive(spark):
    """plans/_base.fan_out (r9): repartitions to defaultParallelism ONLY
    when the probe frame is under-parallel — at scale (input partitions
    >= parallelism) it must be the IDENTITY, adding no shuffle; and it
    must never change values (round-robin repartition of exact lanes)."""
    from nyc_taxi_data_pipeline_spark.plans._base import fan_out

    target = spark.sparkContext.defaultParallelism
    few = spark.range(0, 1000, 1, 1)
    fanned = fan_out(few)
    assert fanned.rdd.getNumPartitions() == target
    assert fanned.selectExpr("sum(id)").first()[0] == 999 * 1000 // 2
    many = spark.range(0, 1000, 1, target + 4)
    assert fan_out(many) is many  # identity: no shuffle added at scale
    df = spark.range(0, 100, 1, 1)
    probe_many = spark.range(0, 100, 1, target + 1)
    assert fan_out(df, probe=probe_many) is df  # decision rides the probe


@pytest.fixture(scope="module")
def combined_audit(spark):
    """ONE build pass per (entry, scale point) feeding BOTH empirical
    audits (tools/audit_common.py): run separately each audit rebuilds
    every entry's checkpoint-spanning lineage — 592 s of the r9 pytest
    wall and the reason the driver's r8 verify window truncated before
    the suite finished."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.audit_common import combined_audit_catalog

    return combined_audit_catalog(spark)


def test_no_single_partition_window_on_data_sized_frames(spark, combined_audit):
    """Round-7 lead audit: NO catalog entry may run a Window with an
    empty partitionSpec over a data-sized frame — Spark executes that
    by moving the window's ENTIRE input through one task, the one plan
    shape that dies at 100 TB. The audit (tools/audit_common.py) walks
    every entry's full lineage (all plan segments, localCheckpoint
    intercepted, so truncated plans are still seen), counts each
    suspect window's actual input rows at sf0.001 AND sf0.01, and
    flags inputs that grow >3x across the 10x lake — the empirical
    definition of data-sized. Bounded frames (calendar spines, quantile
    grids, fixed panels, tier-offset frames) pass untouched; anything
    else must use tiered_global_rank / orderBy().limit() instead.
    Exceptions go in tools/audit_common.WINDOW_WHITELIST (hard cap: 3), each
    with a written reason."""
    from tools.audit_common import WINDOW_WHITELIST as WHITELIST

    assert len(WHITELIST) <= 3, "whitelist grew past the agreed cap"
    report = combined_audit[0]
    errors = {n: r["error"] for n, r in report.items() if "error" in r}
    assert not errors, f"window audit could not build: {errors}"
    flagged = {
        n: r["windows"] for n, r in report.items() if r.get("flagged")
    }
    assert not flagged, (
        "single-partition windows over data-sized frames "
        f"(grew >3x from sf0.001 to sf0.01): {flagged}"
    )


def test_no_data_sized_broadcast_or_collect(spark, combined_audit):
    """Round-8 lead audit (r7 verdict ask #1): NO catalog entry may
    force-broadcast a frame, or collect() one at plan-build time, whose
    size GROWS with the lake — an explicit broadcast() hint bypasses
    Catalyst's size-based adaptivity and materializes the whole frame
    on the driver + every executor, the last un-audited
    single-point-of-failure shape at 100 TB. The audit
    (tools/audit_common.py) walks every entry's full lineage (all
    plan segments, localCheckpoint intercepted), counts the actual
    input rows of every ResolvedHint(broadcast) — memoized on the
    child's canonicalized hash — and records every build-time
    collect()'s actual result size, at sf0.001 AND sf0.01; it flags
    anything that grew >3x across the 10x lake past a floor (4096 rows
    for broadcasts, 1024 for collects). Bounded frames (fixed-domain
    dims, range/width-bounded tier offsets, 1-row totals, probe
    panels) pass untouched; anything else must shuffle-join or derive
    its band width adaptively (plans/_base.adaptive_band_width).
    Exceptions go in tools/audit_common.BROADCAST_WHITELIST (hard cap: 3),
    each with a written reason."""
    from tools.audit_common import BROADCAST_WHITELIST as WHITELIST

    assert len(WHITELIST) <= 3, "whitelist grew past the agreed cap"
    report = combined_audit[1]
    errors = {n: r["error"] for n, r in report.items() if "error" in r}
    assert not errors, f"broadcast audit could not build: {errors}"
    flagged = {
        n: {"broadcasts": r["broadcasts"], "collects": r["collects"]}
        for n, r in report.items()
        if r.get("flagged")
    }
    assert not flagged, (
        "data-sized broadcast hints / build-time collects "
        f"(grew >3x from sf0.001 to sf0.01): {flagged}"
    )

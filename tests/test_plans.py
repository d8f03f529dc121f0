"""Plan-shape regression tests: the physical plans the 100 TB design
depends on, pinned as assertions (SURVEY §4 — everything the reference
does by hand must come out of Catalyst automatically)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from xova_spark import plans as P
from xova_spark.queries.relational import REGISTRY, load_tables

SF_DIR = "/root/testdata/sf0.001"


def _q(spark, name):
    return REGISTRY[name][0](spark, SF_DIR)


def test_filter_pushdown_reaches_scan(spark):
    """S3: the auto-correlation-filter analogue must appear in
    PushedFilters, not as a post-scan Filter only."""
    q = _q(spark, "s3_predicate_pushdown")
    assert P.pushed_filters(q), P.executed_plan(q)


def test_column_pruning_reaches_scan(spark):
    """S2: a two-column projection reads two columns."""
    q = _q(spark, "s2_column_pruned_scan")
    schemas = P.read_schema_columns(q)
    assert schemas and all(len(cols) <= 3 for cols in schemas), schemas


def test_dimension_joins_broadcast(spark):
    """J1: the snowflake chain over region/nation dims must broadcast
    every dimension — zero sort-merge joins."""
    q = _q(spark, "j1_snowflake_chain")
    assert P.sortmerge_join_count(q) == 0
    assert P.broadcast_join_count(q) >= 2


def test_tpch_q5_join_strategy(spark):
    """Six-table join: small dims broadcast; no more than one
    sort-merge (orders-lineitem, the two big tables) at test scale."""
    q = _q(spark, "tpch_q5")
    assert P.broadcast_join_count(q) >= 3, P.plan_stats(q)


def test_single_shuffle_aggregation(spark):
    """A1: the flagship grouped aggregation is ONE shuffle (partial
    aggs map-side) — the reference needs an explicit reduction tree for
    this (chunking.py split_every=16); Catalyst plans it for free."""
    q = _q(spark, "a1_time_binned_agg")
    assert P.exchange_count(q) <= 2, P.plan_stats(q)  # window + final agg


def test_timechannel_rows_plan(spark, ms):
    """Domain hot path: row averaging = window + grouped agg sharing
    one hash partitioning; no sort-merge joins anywhere."""
    from xova_spark.operators import timechannel as tc

    q = tc.average_rows(ms["ms_rows"], 4.0)
    assert P.sortmerge_join_count(q) == 0
    assert P.exchange_count(q) <= 2, P.plan_stats(q)


def test_bda_vis_plan(spark, ms):
    """BDA visibility hot path: the row-scale joins carry no forced
    hints (see test_bda_vis_join_not_force_broadcast), so the INITIAL
    AQE plan may stage them as shuffle joins — but at this measured
    scale the FINAL adaptive plan must have converted every one to
    broadcast: zero sort-merge joins after execution."""
    from xova_spark.operators import bda as B
    from xova_spark.operators import timechannel as tc
    from xova_spark.queries import bda as bq

    params = B.bin_params(
        ms["ms_rows"], B.ddid_dims(ms), bq.DECORR, bq.MAX_FOV, bq.TIME_CAP,
        bq.MIN_NCHAN,
    )
    binned = B.assign_bins(ms["ms_rows"], params)
    q = tc.average_vis(
        ms["ms_vis"], tc.rep_map(binned, ["chan_fac"]), F.col("chan_fac")
    )
    q.collect()  # finalize THIS DataFrame's adaptive plan (count() would
    # build a separate QueryExecution and leave q's plan initial)
    assert P.sortmerge_join_count(q) == 0, P.plan_stats(q)


def test_bda_tables_have_no_unpartitioned_window(spark, ms):
    """BDA's SPW/DDID regeneration is driver code (regrid): no table
    bda() returns carries a global-sort window in its executed plan."""
    from pyspark.sql import DataFrame

    from xova_spark.operators import bda as B
    from xova_spark.plancontract import has_unpartitioned_window
    from xova_spark.queries import bda as bq

    out = B.bda(ms, bq.DECORR, bq.MAX_FOV, bq.TIME_CAP, bq.MIN_NCHAN)
    bad = [
        name for name, df in out.items()
        if isinstance(df, DataFrame)
        and has_unpartitioned_window(P.executed_plan(df))
    ]
    assert not bad, bad


def _tc_map(ms):
    from xova_spark.operators import timechannel as tc

    return tc.bin_map(ms["ms_rows"], 4.0), 16


def _bda_map(ms):
    """A BDA map over a hint-free binned input, so any hint seen is one
    rep_map / average_* added (the real assign_bins subtree carries
    legit dim hints)."""
    from xova_spark.operators import timechannel as tc

    binned = (
        ms["ms_rows"]
        .withColumn("time_bin", F.lit(0))
        .withColumn("chan_fac", F.lit(2))
    )
    return tc.rep_map(binned, ["chan_fac"]), F.col("chan_fac")


@pytest.mark.parametrize("make_map", [_tc_map, _bda_map], ids=["timechannel", "bda"])
def test_vis_joins_follow_broadcast_threshold(spark, ms, make_map):
    """The row -> bin map has one entry per MS row, so its joins carry
    no hint: a forced broadcast there is a 100 TB driver OOM. The
    session's autoBroadcastJoinThreshold decides instead — on a held map
    it sees the measured size and broadcasts at fixture scale, and with
    the threshold off (the simulated 100 TB case) nothing on row_id is
    broadcast."""
    from xova_spark.operators import timechannel as tc

    def outputs(bins, div):
        return [
            tc.average_weights(ms["ms_weights"], bins),
            tc.average_vis(ms["ms_vis"], bins, div),
        ]

    # (a) no row-scale hint, at any size
    for q in outputs(*make_map(ms)):
        assert P.broadcast_hint_count(q) == 0, P.executed_plan(q)
    # (b) fixture scale, map held: every row-scale join is broadcast
    with tc.held():
        bins, div = make_map(ms)
        broadcast = []
        for q in outputs(tc.hold(bins), div):
            broadcast.append(sorted(q.collect()))
            assert P.sortmerge_join_count(q) == 0, P.plan_stats(q)
    # (c) threshold off: no broadcast join on row_id, same answer
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with tc.held():
            bins, div = make_map(ms)
            for q, want in zip(outputs(tc.hold(bins), div), broadcast):
                assert sorted(q.collect()) == want
                plan = P.executed_plan(q).split("== Initial Plan ==")[0]
                assert not re.search(r"BroadcastHashJoin \[row_id#", plan), plan
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("make_map", [_tc_map, _bda_map], ids=["timechannel", "bda"])
def test_sample_tables_join_only_the_bin_map(spark, ms, make_map):
    """Each averaged sample table is one join, samples to the row -> bin
    map, and one aggregation: the bin key rides through the aggregation
    on ``rep`` as ``min`` (one buffer slot per key, where ``any_value``,
    planned as ``first(k, true)``, takes two) instead of being joined
    back onto its result."""
    from xova_spark.operators import timechannel as tc

    bins, div = make_map(ms)
    for q in (tc.average_weights(ms["ms_weights"], bins),
              tc.average_vis(ms["ms_vis"], bins, div)):
        q.collect()  # the final adaptive plan
        plan = P.executed_plan(q).split("== Initial Plan ==")[0]
        joins = re.findall(r"\b\w*(?:Join|CartesianProduct)\b", plan)
        assert len(joins) == 1, plan
        assert not re.search(r"\b(?:any_value|first)\(", plan), plan


def test_stream_drain_builds_ms_vis_without_a_join(spark, ms_dir, tmp_path,
                                                   monkeypatch):
    """The stream's partial store is keyed like average_vis's one
    aggregation (rep, chan_bin, corr, the bin key carried), so after the
    query drains, the ms_vis the stream writes is the store finalized in
    place: its plan joins nothing (no rep -> bin key dim re-joined)."""
    from xova_spark.app import Application

    seen = {}
    write = Application._write_output

    def capture(self, out, tables):
        seen["ms_vis"] = out["ms_vis"]
        return write(self, out, tables)

    monkeypatch.setattr(Application, "_write_output", capture)
    Application(["stream", ms_dir, "-o", str(tmp_path / "streamed.ms"),
                 "-t", "4", "-c", "8"], spark=spark).execute()
    plan = P.executed_plan(seen["ms_vis"])
    assert not re.findall(r"\b\w*(?:Join|CartesianProduct)\b", plan), plan


def test_codegen_covers_hot_path(spark):
    """The pricing-summary scan->filter->agg pipeline runs inside
    whole-stage codegen (at least one span; no interpreter fallback
    errors)."""
    q = _q(spark, "tpch_q1")
    assert P.wholestage_codegen_spans(q) >= 1


def test_partition_value_filter_prunes(spark, ms):
    """P1 on a partitioned write prunes directories — covered in
    test_streaming_sinks.test_partition_pruning_on_reread; here assert
    the in-memory path at least pushes the filter."""
    q = ms["ms_rows"].filter(F.col("FIELD_ID").isin([0]))
    assert any("FIELD_ID" in f for f in P.pushed_filters(q))


def test_range_join_bucket_rewrite_avoids_nested_loop(spark):
    """join_range_binned: the pure range join (no equi conjunct) must
    plan as a hash/sort-merge EQUI-join on the time bucket — a
    BroadcastNestedLoopJoin here is the O(n*m) plan the rewrite exists
    to eliminate."""
    from xova_spark.queries.relext import REGISTRY as RX

    q = RX["join_range_binned"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_interval_overlap_bucket_rewrite_avoids_nested_loop(spark):
    """join_interval_overlap: both-sides-interval overlap join must also
    plan as an equi-join on the shared covered bucket, never the
    O(n*m) nested loop."""
    from xova_spark.queries.relext import REGISTRY as RX

    q = RX["join_interval_overlap"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_spatial_grid_rewrite_avoids_nested_loop(spark):
    """ms_uv_proximity_join: the 2D distance join must plan as an
    EQUI-join on the grid-cell key (3x3 neighborhood explode), never
    the O(n*m) broadcast nested loop a raw distance predicate forces."""
    from xova_spark.queries.msdomain import REGISTRY as MS

    q = MS["ms_uv_proximity_join"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_tpch_q9_star_broadcasts_dims(spark):
    """tpchx q9: part/supplier/nation broadcast; the part name filter
    is pushed to its scan so the star prunes before the fact join."""
    from xova_spark.queries.tpchx import REGISTRY as RX

    q = RX["tpch_q9_profit"][0](spark, SF_DIR)
    assert P.broadcast_join_count(q) >= 3, P.plan_stats(q)
    assert P.sortmerge_join_count(q) == 0, P.plan_stats(q)
    assert any("p_name" in f for f in P.pushed_filters(q)), P.pushed_filters(q)


def test_tpch_q21_semi_anti_share_orderkey(spark):
    """tpchx q21: EXISTS/NOT EXISTS become semi+anti joins; the
    returnflag filters reach the lineitem scans."""
    from xova_spark.queries.tpchx import REGISTRY as RX

    q = RX["tpch_q21_waiting"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert any("l_returnflag" in f for f in P.pushed_filters(q))


def test_corpus_pipeline_broadcasts_eval_grams(spark):
    """pipeline_corpus_e2e: the eval n-gram set and the contaminated-id
    anti-join must both be broadcast — the only all-data shuffles key on
    (doc_id, word), md5(text), and the gram hash."""
    from xova_spark.queries.pipelineq import REGISTRY as RP

    q = RP["pipeline_corpus_e2e"][0](spark, SF_DIR)
    assert P.broadcast_join_count(q) >= 2, P.plan_stats(q)


def test_dq_profile_has_no_expand(spark):
    """dq_profile_columns: the per-column profile must NOT plan an
    Expand (the mixed count_distinct + plain-agg anti-pattern that
    multiplies every input row per aggregate group through the first
    shuffle). The unpivot-lattice form keeps the first shuffle bounded
    by the (col_name, val) distinct lattice."""
    from xova_spark.queries.dataqual import REGISTRY as RD

    q = RD["dq_profile_columns"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "Expand" not in plan, plan
    assert P.exchange_count(q) <= 2, P.plan_stats(q)


def test_corpus_funnel_persists_shingles(spark):
    """The decontam stage's shingle arrays must come from an
    InMemoryRelation (measured: recomputing the hash chain per consumer
    dominated the funnel) while the eval-gram and contaminated-id joins
    stay broadcast."""
    from xova_spark.queries.pipelineq import REGISTRY as RP

    q = RP["pipeline_corpus_e2e"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan
    assert P.broadcast_join_count(q) >= 2, P.plan_stats(q)


def test_substring_windows_plan(spark):
    """t_repeated_substring_windows: two partial-aggregated shuffles
    (the (win_hash, doc) lattice then win_hash), no Expand, no joins."""
    from xova_spark.queries.textops import REGISTRY as RT

    q = RT["t_repeated_substring_windows"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "Expand" not in plan, plan
    assert P.exchange_count(q) <= 2, P.plan_stats(q)
    assert P.sortmerge_join_count(q) == 0


def test_pq_rerank_broadcasts_shortlist(spark):
    """ann_pq_rerank_topk: the LUT row and the shortlist both broadcast
    — the only corpus-scale work is the code scan and the two keyed
    fetch joins."""
    from xova_spark.queries.pipelineq import REGISTRY as RP

    q = RP["ann_pq_rerank_topk"][0](spark, SF_DIR)
    assert P.broadcast_join_count(q) >= 2, P.plan_stats(q)
    assert P.sortmerge_join_count(q) == 0, P.plan_stats(q)


def test_phash_neardup_bands_are_hash_joins(spark):
    """mm_phash_neardup_pairs: each 32-bit band must plan as a HASH
    join (union of per-band equi-joins) — an OR-band predicate would
    silently become an all-pairs BroadcastNestedLoopJoin, quadratic at
    scale (caught by the round-4 full-registry plan audit)."""
    from xova_spark.queries.multimodalq import REGISTRY as RM

    q = RM["mm_phash_neardup_pairs"][0](spark, SF_DIR)
    plan = P.executed_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan, plan


def test_active_users_rolling_has_no_expand(spark):
    """ev_active_users_rolling: the DAU/WAU/MAU alignments must come
    from the two-phase (day, user) flag aggregation, not three mixed
    countDistincts (which triplicate the 30x-replicated user-day rows
    through the first shuffle)."""
    from xova_spark.queries.relext import REGISTRY as RE

    q = RE["ev_active_users_rolling"][0](spark, SF_DIR)
    assert "Expand" not in P.executed_plan(q)


def test_runtime_bloom_filter_join_reduction(spark):
    """Runtime bloom-filter injection (enabled in get_spark; inert
    below the 10 GB application-side threshold locally): with the
    thresholds forced, a selective dim filter must inject a
    might_contain() pre-filter on the fact side, and the result must
    equal the un-bloomed join — the semi-join reduction a 100 TB
    fact-dim join relies on."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    li = load_tables(spark, SF_DIR, ("lineitem", "orders"))
    fact, dim = li["lineitem"], li["orders"]
    sel = dim.filter(F.col("o_orderpriority") == "1-URGENT")

    def run():
        return (
            fact.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )

    baseline = {tuple(r) for r in run().collect()}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        q = run()
        plan = P.executed_plan(q)
        assert "might_contain" in plan.lower(), plan
        assert {tuple(r) for r in q.collect()} == baseline
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_lsh_verification_is_array_intersect_not_exploded_join(spark):
    """Round-5 10x artifact lesson: candidate verification must compute
    nc via per-row array_intersect on the shared hashed-shingle arrays,
    never the pair x shingle exploded join whose shuffle is
    |candidates| x |shingles| (the one >15x scaler in BENCH_sf1's first
    run). Pin both the intersect expression and the absence of a
    post-candidate Generate (the only explodes allowed are the per-doc
    shingle/band expansions feeding the signature/bucket tables)."""
    from xova_spark.queries.dedup import BANDS_4x4, _lsh_pair_stats

    q = _lsh_pair_stats(spark, SF_DIR, BANDS_4x4)
    plan = P.executed_plan(q)
    assert "array_intersect" in plan, plan[:3000]
    # The old exploded form's signature: a count(1) aggregate keyed on
    # the candidate pair, fed by the pair x shingle join. (A raw
    # Generate count is session-state-dependent — shared frames cached
    # by earlier tests swap lineage for InMemoryTableScans.)
    import re

    assert not re.search(
        r"HashAggregate\(keys=\[doc_a#\d+L?, doc_b#\d+L?\],"
        r" functions=\[count\(1\)",
        plan,
    ), plan[:3000]


def test_topk_entries_take_ordered_not_global_window(spark):
    """Round-5 window sweep regression pin: the vocab-grain top-k
    entries must plan as TakeOrderedAndProject (distributed partial
    top-k), never a global-sort Window over the data-grain table."""
    import __spark_entry__ as m
    from tools.plan_audit import _has_unpartitioned_window

    qs = m.queries()
    for name in ("t_word_freq_topk", "t_oov_rate", "t_countmin_heavy_hitters"):
        plan = (
            qs[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan, name
        assert not _has_unpartitioned_window(plan), (name, plan)


def test_round5_late_entries_plan_shapes(spark):
    """Plan pins for the round-5 late pack: top-k entries stay
    TakeOrderedAndProject; the spatial cell join is a keyed equi-join
    (never a cartesian/pure-BNLJ pair scan — the only BNLJ allowed is
    the broadcast 9-row offset fan-out); the sweep line and the kNN
    rank keep their windows PARTITIONED; skyline's only unpartitioned
    window runs at block grain, after the day-grain aggregate."""
    import __spark_entry__ as m
    from tools.plan_audit import _has_unpartitioned_window

    qs = m.queries()

    def plan_of(name):
        return (
            qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        )

    for name in ("basket_rules_lift", "graph_node_jaccard"):
        p = plan_of(name)
        assert "TakeOrderedAndProject" in p, name
        assert not _has_unpartitioned_window(p), name
        assert "CartesianProduct" not in p, name

    for name in ("geo_radius_pairs", "geo_knn_cell"):
        p = plan_of(name)
        assert "CartesianProduct" not in p, name
        # the candidate join must key on the cell id (hash-partitioned
        # equi-join), not compare raw coordinates pair-wise
        assert "cx" in p and "cy" in p, name
        assert not _has_unpartitioned_window(p), name

    for name in ("ev_peak_concurrency", "layout_compaction_plan"):
        p = plan_of(name)
        assert not _has_unpartitioned_window(p), name
        assert "CartesianProduct" not in p, name


def test_pii_and_bm25_plan_shapes(spark):
    """Plan pins for the round-5-close entries: the PII scan/redact are
    MAP-ONLY (zero exchanges — the 100 TB scrub must stay scan-bound),
    the per-source audit has exactly the one keyed rollup shuffle, and
    BM25's top-k is TakeOrderedAndProject with its only BNLJs being the
    1-row corpus-stats broadcasts (never a data-grain pair scan)."""
    import __spark_entry__ as m
    from tools.plan_audit import _has_unpartitioned_window

    qs = m.queries()

    def plan_of(name):
        return (
            qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        )

    for name in ("t_pii_scan", "t_pii_redact"):
        p = plan_of(name)
        assert "Exchange" not in p, name
        assert "BatchEvalPython" not in p, name

    p = plan_of("t_pii_rate_by_source")
    assert p.count("Exchange") == 1, p.count("Exchange")
    assert "BatchEvalPython" not in p

    p = plan_of("t_bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    # the final row_number ranks the BOUNDED top-k frame only: the sole
    # unpartitioned window must sit above the TakeOrdered, which the
    # audit helper treats as bounded-input-safe; no data-grain global sort
    assert "Expand" not in p

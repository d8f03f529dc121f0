"""Multi-micro-batch streaming: state must accumulate correctly ACROSS
batches, not just within one. The row table is split into several files
and the stream is forced to one file per trigger — watermark state,
window aggregation state, and applyInPandasWithState state all evolve
over 4 real micro-batches and must still converge to the batch twin."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xova_spark.streaming import average as SA
from xova_spark.testing import assert_frames_match


@pytest.fixture(scope="module")
def split_dir(spark, ms, tmp_path_factory):
    """ms_rows split into 4 files by time range (arrival in time order,
    as a live instrument would deliver)."""
    out = str(tmp_path_factory.mktemp("stream_in"))
    rows = ms["ms_rows"]
    tmin, tmax = rows.agg(F.min("TIME"), F.max("TIME")).first()
    span = (tmax - tmin) / 4
    for i in range(4):
        lo = tmin + i * span
        hi = tmin + (i + 1) * span if i < 3 else tmax + 1
        chunk = rows.filter((F.col("TIME") >= lo) & (F.col("TIME") < hi))
        chunk.coalesce(1).write.parquet(os.path.join(out, f"chunk_{i}"))
    # flatten: one parquet file per chunk dir
    files = []
    for i in range(4):
        d = os.path.join(out, f"chunk_{i}")
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        files.append(os.path.join(d, part))
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i, f in enumerate(files):
        os.rename(f, os.path.join(flat, f"{i:02d}.parquet"))
    return flat


def _one_file_per_trigger(spark, split_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(split_dir)
    )


def test_windowed_agg_across_batches(spark, ms, split_dir):
    stream = _one_file_per_trigger(spark, split_dir, ms["ms_rows"].schema)
    out = SA.run_to_memory(
        SA.streaming_average_rows(stream, 4.0), "mb_tc_rows"
    ).toPandas()
    twin = SA.batch_twin_average_rows(ms["ms_rows"], 4.0).toPandas()
    assert_frames_match(out, twin, rtol=0, atol=0)


def test_stateful_operator_across_batches(spark, ms, split_dir):
    """applyInPandasWithState folds 4 separate micro-batches into one
    per-key state; the final emission must equal the batch aggregate."""
    from xova_spark.streaming.stateful import stateful_user_stats

    stream = (
        _one_file_per_trigger(spark, split_dir, ms["ms_rows"].schema)
        .select(F.col("ANTENNA1").cast("long").alias("user_id"),
                F.col("EXPOSURE").alias("value"))
    )
    q = (
        stateful_user_stats(stream)
        .writeStream.format("memory")
        .queryName("mb_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("mb_state")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("total_value").alias("total_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    want = (
        ms["ms_rows"]
        .groupBy(F.col("ANTENNA1").cast("long").alias("user_id"))
        .agg(F.count("*").alias("n_events"),
             F.sum("EXPOSURE").alias("total_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["n_events"] == want["n_events"]).all()
    assert (abs(got["total_value"] - want["total_value"]) < 1e-9).all()


def test_tc_rows_chunking_invariance_under_real_triggers(spark, ms, ms_dir, split_dir):
    """VERDICT r3 item 6 — chunk-count invariance under REAL incremental
    triggers (the streaming analogue of the reference's chunk-size
    invariance, tests/test_averaging.py:29): stream_tc_rows consumed one
    file per trigger across >= 3 micro-batches must converge to exactly
    the one-shot (single-trigger) streaming result."""
    from xova_spark.streaming.average import stream_state_partitions

    stream = _one_file_per_trigger(spark, split_dir, ms["ms_rows"].schema)
    with stream_state_partitions(spark):
        q = (
            SA.streaming_average_rows(stream, 4.0)
            .writeStream.format("memory")
            .queryName("mb_invariance")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches >= 3, [p["numInputRows"] for p in q.recentProgress]
    got = spark.table("mb_invariance").toPandas()

    # the one-shot run: the registered stream_tc_rows query (whole table
    # in a single availableNow trigger)
    from xova_spark.queries.streamingq import stream_tc_rows

    oneshot = stream_tc_rows(spark, ms_dir).toPandas()
    assert_frames_match(got, oneshot, rtol=0, atol=0)


@pytest.fixture(scope="module")
def split_vis_dir(spark, ms, tmp_path_factory):
    """ms_vis split into 4 arrival files by the TIME of each sample's
    row (time-ordered arrival, as a live correlator would deliver) —
    session-window state for early baselines must close across later
    micro-batches."""
    out = str(tmp_path_factory.mktemp("stream_vis_in"))
    rows = ms["ms_rows"]
    vis = ms["ms_vis"].join(
        rows.select("row_id", "TIME"), "row_id"
    )
    tmin, tmax = rows.agg(F.min("TIME"), F.max("TIME")).first()
    span = (tmax - tmin) / 4
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i in range(4):
        lo = tmin + i * span
        hi = tmin + (i + 1) * span if i < 3 else tmax + 1
        chunk = vis.filter(
            (F.col("TIME") >= lo) & (F.col("TIME") < hi)
        ).drop("TIME")
        d = os.path.join(out, f"chunk_{i}")
        chunk.coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)
    return flat


def test_bda_vis_session_invariance_under_real_triggers(
    spark, ms, ms_dir, split_vis_dir
):
    """VERDICT r4 item 4 — stream_bda_vis's ragged session-window state
    is more trigger-sensitive than tc's tumbling windows (a session
    stays OPEN across micro-batches until the gap closes it): consumed
    one file per trigger across >= 3 real micro-batches, the converged
    result must equal the one-shot single-trigger run."""
    from xova_spark.operators import bda as B
    from xova_spark.queries import bda as bq

    params = B.bin_params(
        ms["ms_rows"], B.ddid_dims(ms), bq.DECORR, bq.MAX_FOV, bq.TIME_CAP,
        bq.MIN_NCHAN,
    )
    stream = _one_file_per_trigger(spark, split_vis_dir, ms["ms_vis"].schema)
    with SA.stream_state_partitions(spark):
        q = (
            SA.streaming_bda_vis(stream, ms["ms_rows"], params, 4.0)
            .writeStream.format("memory")
            .queryName("mb_bda_invariance")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 3, [p["numInputRows"] for p in q.recentProgress]
    got = spark.table("mb_bda_invariance").toPandas()

    oneshot = SA.run_to_memory(
        SA.streaming_bda_vis(
            SA.parquet_stream(
                spark,
                os.path.join(ms_dir, "ms_vis.parquet"),
                os.path.join(ms_dir, "stream", "ms_vis"),
            ),
            ms["ms_rows"], params, 4.0,
        ),
        "mb_bda_oneshot",
    ).toPandas()
    assert_frames_match(got, oneshot, rtol=0, atol=0)


def test_cdc_merge_invariance_under_real_triggers(spark, tmp_path):
    """VERDICT r4 item 4 — stream_cdc_merge's upsert keys are
    trigger-sensitive (newer-wins must hold across batch boundaries in
    both directions): the changelog arrives as 4 interleaved files, one
    per REAL trigger, through the foreachBatch merge; the converged
    state must equal the batch compactor."""
    import shutil
    import tempfile

    from xova_spark.queries.cdcq import cdc_changelog_compact
    from xova_spark.streaming import materialize as M

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, m in enumerate((1, 3, 2, 0)):  # interleaved, not time-ordered
        d = str(tmp_path / f"c{i}")
        ev.filter(F.col("event_id") % 4 == m).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(flat)
    )
    out_dir = tempfile.mkdtemp(prefix="xova_mb_cdc_state_")
    ckpt = tempfile.mkdtemp(prefix="xova_mb_ckpt_")
    try:
        q = M.materialized_cdc_state(stream, out_dir, ckpt)
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        assert n_batches >= 3, [p["numInputRows"] for p in q.recentProgress]
        got = M.read_rollup(spark, out_dir).select(
            "user_id",
            "event_type",
            F.col("last_event_id").cast("long").alias("last_event_id"),
            F.round("last_value", 4).alias("last_value"),
            F.col("n_versions").cast("long").alias("n_versions"),
        )
        ref = cdc_changelog_compact(spark, sf)
        assert got.count() == ref.count() > 0
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stateful_user_stats_invariance_under_real_triggers(spark, tmp_path):
    """applyInPandasWithState running accumulator: per-user (count, sum)
    state folds across 4 REAL micro-batches (events interleaved by
    event_id, NOT time-ordered, one file per trigger); the final
    emission per user — selected by max_by on the monotone n_events —
    must equal the batch aggregation."""
    from xova_spark.streaming.stateful import stateful_user_stats

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, m in enumerate((2, 0, 3, 1)):  # interleaved arrival order
        d = str(tmp_path / f"c{i}")
        ev.filter(F.col("event_id") % 4 == m).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(flat)
    )
    with SA.stream_state_partitions(spark):
        q = (
            stateful_user_stats(stream)
            .writeStream.format("memory")
            .queryName("mb_stateful_user")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 3, [p["numInputRows"] for p in q.recentProgress]
    got = (
        spark.table("mb_stateful_user")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .select("user_id", "n_events", F.round("total_value", 4).alias("total_value"))
    )
    ref = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    assert got.count() == ref.count() > 0
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_session_window_merge_invariance_under_real_triggers(spark, tmp_path):
    """Native session_window state must MERGE sessions across real
    micro-batches: events arrive in TIME order split over 4 triggers
    (watermark semantics require near-ordered delivery — an
    id-interleaved split drops whole quartiles as late, verified while
    writing this test), so sessions spanning a chunk boundary must be
    extended/merged by later batches; the converged complete-mode
    table must equal the one-shot batch session_window aggregation."""
    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    tmin, tmax = ev.agg(F.min("ts").cast("long"), F.max("ts").cast("long")).first()
    span = (tmax - tmin) / 4
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i in range(4):
        lo, hi = tmin + i * span, tmin + (i + 1) * span
        cond = (F.col("ts").cast("long") >= lo) & (
            (F.col("ts").cast("long") < hi) if i < 3 else F.lit(True)
        )
        d = str(tmp_path / f"c{i}")
        ev.filter(cond).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(flat)
    )

    def sessions(df):
        return df.groupBy(
            F.session_window("ts", "1 hour").alias("w"), "user_id"
        ).agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )

    with SA.stream_state_partitions(spark):
        q = (
            sessions(stream.withWatermark("ts", "2 hours"))
            .writeStream.format("memory")
            .queryName("mb_sessions")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 3, [p["numInputRows"] for p in q.recentProgress]
    proj = lambda df: df.select(  # noqa: E731
        "user_id",
        F.unix_micros(F.col("w.start")).alias("s"),
        F.unix_micros(F.col("w.end")).alias("e"),
        "n_events",
        "total_value",
    )
    got = proj(spark.table("mb_sessions"))
    ref = proj(sessions(ev))
    assert got.count() == ref.count() > 0
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_neardup_ingest_invariance_under_real_triggers(spark, tmp_path, monkeypatch):
    """stream_neardup_ingest is stateless until the final pair dedup —
    so arriving docs split over 3 real triggers must flag exactly the
    same (new_doc, old_doc) pairs as the one-shot run."""
    import xova_spark.queries.streamingq as SQ

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i in range(3):
        d = str(tmp_path / f"c{i}")
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)

    def split_stream(spark_, sf_dir):
        return (
            spark_.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(flat)
        )

    monkeypatch.setattr(SQ, "_documents_stream", split_stream)
    got = SQ.stream_neardup_ingest(spark, sf)
    ref = SQ.REGISTRY["stream_neardup_ingest"][1]
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = con.execute(ref).fetchdf()
    gotp = got.toPandas().sort_values(["new_doc", "old_doc"]).reset_index(drop=True)
    want = want.sort_values(["new_doc", "old_doc"]).reset_index(drop=True)
    assert len(gotp) == len(want) > 0
    assert list(gotp["new_doc"]) == list(want["new_doc"])
    assert list(gotp["old_doc"]) == list(want["old_doc"])
    assert (gotp["jaccard"] - want["jaccard"]).abs().max() < 1e-9


def test_er_ingest_invariance_under_real_triggers(spark, tmp_path, monkeypatch):
    """stream_er_ingest is fully stateless — arriving customers split
    over 3 real triggers must match exactly the one-shot/batch result."""
    import duckdb

    import xova_spark.queries.streamingq as SQ

    sf = "/root/testdata/sf0.01"
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i in range(3):
        d = str(tmp_path / f"c{i}")
        cust.filter(F.col("c_custkey") % 3 == i).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)

    def split_stream(spark_, sf_dir):
        return (
            spark_.readStream.schema(cust.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(flat)
        )

    monkeypatch.setattr(SQ, "_customers_stream", split_stream)
    got = (
        SQ.stream_er_ingest(spark, sf)
        .toPandas()
        .sort_values(["new_key", "master_key"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf}/customer.parquet'"
    )
    want = (
        con.execute(SQ.REGISTRY["stream_er_ingest"][1])
        .fetchdf()
        .sort_values(["new_key", "master_key"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in ("new_key", "master_key", "name_dist", "same_nation"):
        assert list(got[col]) == list(want[col]), col


def test_pii_scrub_invariance_under_real_triggers(spark, tmp_path, monkeypatch):
    """stream_pii_scrub is fully stateless — documents split over 3 real
    triggers must match exactly the batch oracle, including the full
    redacted strings and the quarantine routing."""
    import duckdb

    import xova_spark.queries.streamingq as SQ

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i in range(3):
        d = str(tmp_path / f"d{i}")
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)

    def split_stream(spark_, sf_dir):
        return (
            spark_.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(flat)
        )

    monkeypatch.setattr(SQ, "_documents_stream", split_stream)
    got = (
        SQ.stream_pii_scrub(spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = (
        con.execute(SQ.REGISTRY["stream_pii_scrub"][1])
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 500
    for col in ("doc_id", "redacted", "n_redactions", "action"):
        assert list(got[col]) == list(want[col]), col
    assert (got["action"] == "quarantine").sum() > 0  # %8==0 docs: 2 emails

def test_join_view_maintenance_invariance_under_real_triggers(spark, tmp_path):
    """stream_join_view_maintenance's additive merge must converge to
    the batch join-aggregate regardless of how order ingestion was
    chunked: orders arrive as 4 interleaved files (split on o_orderkey
    mod 4, NOT date-ordered), one per REAL trigger, each batch joining
    the broadcast customer dim and merging (count, cents) partials via
    the stage-then-swap materializer. Converged view == batch view."""
    import shutil
    import tempfile

    from xova_spark.streaming import materialize as M

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    c_new = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .where(F.col("c_custkey") % 89 != 7)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 13 == 0, F.lit("MOVED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
        )
    )
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, m in enumerate((2, 0, 3, 1)):  # interleaved, not key-ordered
        d = str(tmp_path / f"o{i}")
        orders.filter(F.col("o_orderkey") % 4 == m).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)

    def project(df):
        return (
            df.where(
                (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
                & (F.col("o_orderkey") % 97 != 3)
            )
            .select(
                "o_custkey",
                (
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                    + F.when(F.col("o_orderkey") % 10 == 0, 500).otherwise(0)
                ).alias("value"),
            )
            .join(F.broadcast(c_new), F.col("o_custkey") == F.col("c_custkey"))
            .select("seg", "value")
        )

    stream = project(_one_file_per_trigger(spark, flat, orders.schema))
    out_dir = tempfile.mkdtemp(prefix="xova_mb_jv_state_")
    ckpt = tempfile.mkdtemp(prefix="xova_mb_jv_ckpt_")
    try:
        q = M.materialized_rollup(stream, out_dir, ["seg"], ckpt)
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        assert n_batches >= 3, [p["numInputRows"] for p in q.recentProgress]
        got = M.read_rollup(spark, out_dir).select(
            "seg",
            F.col("n").cast("long").alias("n"),
            F.col("total").cast("long").alias("total"),
        )
        ref = (
            project(orders)
            .groupBy("seg")
            .agg(F.count("*").cast("long").alias("n"), F.sum("value").alias("total"))
        )
        assert got.count() == ref.count() > 0
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

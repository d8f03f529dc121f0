"""Continuous-aggregate maintenance: the foreachBatch-merged rollup over
N micro-batches must equal the one-shot batch aggregation, and partial
merges must be visible after every batch (monotone accumulation)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xova_spark.streaming.materialize import (
    _upsert,
    materialized_rollup,
    read_rollup,
)


def _jobs_of(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"materialize-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def split_events(spark, tmp_path_factory):
    """events split into 3 arrival files by event_id range."""
    out = str(tmp_path_factory.mktemp("mat_in"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "event_type", "value"
    )
    n = ev.count()
    for i in range(3):
        chunk = ev.filter(
            (F.col("event_id") % 3) == i
        )
        chunk.coalesce(1).write.parquet(os.path.join(out, f"c{i}"))
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i in range(3):
        d = os.path.join(out, f"c{i}")
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)
    return flat, ev, n


def test_rollup_converges_to_batch(spark, split_events, tmp_path):
    flat, ev, n = split_events
    stream = (
        spark.readStream.schema("event_id bigint, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(flat)
    )
    out_dir = str(tmp_path / "rollup")
    q = materialized_rollup(
        stream, out_dir, ["event_type"], str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    state, jobs = _jobs_of(spark, lambda: read_rollup(spark, out_dir))
    assert jobs == 0  # reopened from the store's manifest
    got = (
        state.select("event_type", "n", F.round("total", 4).alias("total"))
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    want = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    assert (got["n"] == want["n"]).all()
    assert (abs(got["total"] - want["total"]) < 1e-6).all()
    assert got["n"].sum() == n


@pytest.mark.parametrize("step", ["read", "merge"])
def test_store_of_an_older_layout_fails_loudly(spark, tmp_path, step):
    """A store without the manifest (bare parquet files and a
    ``_batch_id``) raises, naming it, on read and on merge: taken as
    empty, the next merge would replace its state with one batch."""
    cur = tmp_path / "state" / "current"
    spark.range(3).write.parquet(str(cur))
    (cur / "_batch_id").write_text("0")
    out_dir = str(tmp_path / "state")
    with pytest.raises(RuntimeError, match=str(cur)):
        if step == "read":
            read_rollup(spark, out_dir)
        else:
            _upsert(spark.range(1), out_dir, 1, lambda state: state)


@pytest.fixture(scope="module")
def split_vis(spark, ms_dir, tmp_path_factory):
    """The fixture's ms_vis split into 3 arrival files by row_id."""
    out = str(tmp_path_factory.mktemp("vis_in"))
    vis = spark.read.parquet(os.path.join(ms_dir, "ms_vis.parquet"))
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i in range(3):
        d = os.path.join(out, f"c{i}")
        vis.filter((F.col("row_id") % 3) == i).coalesce(1).write.parquet(d)
        (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
        os.utime(os.path.join(flat, f"{i:02d}.parquet"), (1_000_000_000 + i,) * 2)
    return flat, vis


def test_ms_maintenance_converges_to_batch_average(
    spark, ms, ms_dir, split_vis, tmp_path
):
    """The foreachBatch-maintained averaged MS, after consuming all
    micro-batches, must equal the one-shot batch average_vis — the
    reference's write path (app.py:107-116) as continuous maintenance."""
    from xova_spark.operators import timechannel as tc
    from xova_spark.streaming.materialize import (
        finalize_vis,
        materialized_ms_vis,
    )

    flat, vis = split_vis
    bin_secs, chan_bin = 4.0, 8
    bins = tc.bin_map(ms["ms_rows"], bin_secs)
    stream = (
        spark.readStream.schema(vis.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(flat)
    )
    out_dir = str(tmp_path / "ms_out")
    q = materialized_ms_vis(
        stream, bins, out_dir, str(tmp_path / "ckpt"), chan_bin
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3

    got, jobs = _jobs_of(spark, lambda: finalize_vis(spark, out_dir))
    assert jobs == 0  # reopened from the store's manifest
    got = got.toPandas()
    want = tc.average_vis(vis, bins, chan_bin).toPandas()
    keys = ["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2",
            "time_bin", "chan_bin", "corr"]
    got = got.set_index(keys).sort_index()
    want = want.set_index(keys).sort_index()
    assert len(got) == len(want)
    assert (got["n_samples"] == want["n_samples"]).all()
    assert (got["flag"] == want["flag"]).all()
    for c in ("vis_re", "vis_im", "weight_sp", "sigma_sp"):
        assert (abs(got[c] - want[c]) < 1e-9).all(), c


def test_stream_finalized_ms_write_roundtrip(spark, ms, split_vis, tmp_path):
    """Close the loop: stream-maintained partials -> finalize_vis ->
    write_ms (S8-S11) -> load_ms; the re-read MS equals the one-shot
    batch-averaged MS (vis + averaged SPW subtables + passthrough),
    i.e. the reference's full write path (app.py:107-116) driven
    entirely from a stream."""
    from xova_spark.operators import timechannel as tc
    from xova_spark.sources.ms_fixture import load_ms
    from xova_spark.sources.ms_writer import write_ms
    from xova_spark.streaming.materialize import (
        finalize_vis,
        materialized_ms_vis,
    )

    flat, vis = split_vis
    chan_bin = 8
    bins = tc.bin_map(ms["ms_rows"], 4.0)
    stream = (
        spark.readStream.schema(vis.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(flat)
    )
    part_dir = str(tmp_path / "partials")
    q = materialized_ms_vis(stream, bins, part_dir, str(tmp_path / "ck"), chan_bin)
    q.awaitTermination()

    out_chans, out_meta = tc.average_spw(ms["spw_chans"], ms["spw_meta"], chan_bin)
    out = str(tmp_path / "averaged_ms")
    write_ms(
        {
            "ms_vis": finalize_vis(spark, part_dir),
            "spw_chans": out_chans,
            "spw_meta": out_meta,
            "antenna": ms["antenna"],  # S10 passthrough subtable
        },
        out,
    )
    back = load_ms(spark, out)
    assert set(back) == {"ms_vis", "spw_chans", "spw_meta", "antenna"}

    keys = ["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2",
            "time_bin", "chan_bin", "corr"]
    got = back["ms_vis"].toPandas().set_index(keys).sort_index()
    want = tc.average_vis(vis, bins, chan_bin).toPandas().set_index(keys).sort_index()
    assert len(got) == len(want)
    assert (got["flag"] == want["flag"]).all()
    for c in ("vis_re", "vis_im", "weight_sp", "sigma_sp"):
        assert (abs(got[c] - want[c]) < 1e-9).all(), c
    assert back["antenna"].count() == ms["antenna"].count()
    assert back["spw_meta"].toPandas().set_index("SPECTRAL_WINDOW_ID")[
        "NUM_CHAN"
    ].equals(out_meta.toPandas().set_index("SPECTRAL_WINDOW_ID")["NUM_CHAN"])


def test_cdc_state_converges_regardless_of_chunking(spark, tmp_path):
    """Replay the events changelog in 3 arbitrary chunks through the
    foreachBatch CDC merge; the final state must equal the one-shot
    batch compaction (newer-wins + additive counts are associative)."""
    import os

    from pyspark.sql import functions as F

    from xova_spark.queries.cdcq import cdc_changelog_compact
    from xova_spark.streaming import materialize as M

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    out_dir = str(tmp_path / "state")
    os.makedirs(out_dir, exist_ok=True)
    # 3 deterministic interleaved chunks (by id, not by time) — each
    # batch mixes old and new events, so the newer-wins merge is
    # exercised in both directions across batch boundaries.
    chunks = [
        ev.where(F.col("event_id") % 3 == i) for i in (1, 2, 0)
    ]
    for i, c in enumerate(chunks):
        M._cdc_merge_into(c, i, out_dir)
    got = (
        M.read_rollup(spark, out_dir)
        .select(
            "user_id",
            "event_type",
            F.col("last_event_id").cast("long").alias("last_event_id"),
            F.round("last_value", 4).alias("last_value"),
            F.col("n_versions").cast("long").alias("n_versions"),
        )
    )
    ref = cdc_changelog_compact(spark, sf)
    assert got.count() == ref.count() > 0
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

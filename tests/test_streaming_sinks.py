"""Streaming extension + MS sink tests.

Streaming: a converged availableNow stream must equal its batch twin
(same A1a aggregates, epoch-aligned bins). Sink: write_ms/load_ms
roundtrip preserves every averaged table; the overwrite guard refuses
to clobber without force (ref app.py:152-159).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xova_spark.operators import timechannel as tc
from xova_spark.sources.ms_fixture import load_ms
from xova_spark.sources.ms_writer import OutputExistsError, write_ms
from xova_spark.streaming import average as SA
from xova_spark.testing import assert_frames_match


def test_streaming_matches_batch_twin(spark, ms_dir, ms):
    stream = SA.read_rows_stream(spark, ms_dir)
    out = SA.run_to_memory(
        SA.streaming_average_rows(stream, 4.0), "tc_stream_rows"
    ).toPandas()
    twin = SA.batch_twin_average_rows(ms["ms_rows"], 4.0).toPandas()
    assert_frames_match(out, twin, rtol=0, atol=0)


def test_streaming_session_bins(spark, ms_dir, ms):
    """Sessions close at scan gaps: each (baseline, scan) is one
    session (fixture scans are 3 x 2 s cadence with >= 4 s gaps)."""
    stream = SA.read_rows_stream(spark, ms_dir)
    out = SA.run_to_memory(
        SA.streaming_session_bins(stream, 4.0), "tc_stream_sessions"
    ).toPandas()
    n_part_bl = (
        ms["ms_rows"]
        .select(*tc.PART_KEYS, *tc.BL_KEYS)
        .distinct()
        .count()
    )
    # one session per (partition, baseline): SCAN_NUMBER is already a
    # partition key, and within a scan the cadence (2s) < gap (4s)
    assert len(out) == n_part_bl
    assert (out["n_rows"] == 3).all()


def test_write_ms_roundtrip(spark, ms, tmp_path):
    out = tc.timechannel(ms, time_bin_secs=4.0, chan_bin_size=16)
    path = os.path.join(str(tmp_path), "out_ms")
    write_ms(out, path)
    back = load_ms(spark, path)
    for name in ("ms_rows", "ms_vis", "ms_weights", "spw_chans"):
        got = back[name].toPandas()
        want = out[name].toPandas()
        assert_frames_match(got, want, rtol=0, atol=0)


def test_write_ms_overwrite_guard(spark, ms, tmp_path):
    path = os.path.join(str(tmp_path), "guarded_ms")
    small = {"field": ms["field"]}
    write_ms(small, path)
    with pytest.raises(OutputExistsError):
        write_ms(small, path)
    write_ms(small, path, force=True)  # must not raise


def test_partition_pruning_on_reread(spark, ms, tmp_path):
    """P1 filters on the written output must become partition pruning:
    the scan's partitionFilters prune FIELD_ID directories."""
    out = tc.timechannel(ms, time_bin_secs=4.0)
    path = os.path.join(str(tmp_path), "pruned_ms")
    write_ms(out, path)
    back = load_ms(spark, path)
    q = back["ms_rows"].filter(F.col("FIELD_ID") == 0)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pruned = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "FIELD_ID" in pruned

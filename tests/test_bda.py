"""BDA tests: oracle differential + the domain properties that define
baseline-dependent averaging (reference: xova/tests/test_averaging.py
:10-73 targets the SPW/DDID remint logic; we add decorrelation
monotonicity and remap-consistency invariants the reference lacks)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from xova_spark.operators import bda as B
from xova_spark.operators import timechannel as tc
from xova_spark.queries import bda as Q
from xova_spark.testing import assert_frames_match


@pytest.fixture(scope="module")
def ducon():
    return duckdb.connect()


@pytest.fixture(scope="module")
def params(spark, ms):
    return B.bin_params(
        ms["ms_rows"], B.ddid_dims(ms), Q.DECORR, Q.MAX_FOV, Q.TIME_CAP, Q.MIN_NCHAN
    )


@pytest.mark.parametrize("name", sorted(Q.REGISTRY))
def test_bda_oracle(spark, ducon, name):
    fn, sql = Q.REGISTRY[name]
    sdf = fn(spark, "").toPandas()
    odf = ducon.execute(sql).df()
    assert_frames_match(sdf, odf)


def test_decorrelation_monotonicity(params):
    """Longer baselines must average LESS: n_int and chan_fac are
    non-increasing in |b_uv| within a DDID (the defining BDA property,
    ref averaging.py:313-317)."""
    pdf = params.toPandas()
    for _, g in pdf.groupby("DATA_DESC_ID"):
        g = g.sort_values("bl_uv")
        assert (g["n_int"].diff().dropna() <= 0).all()
        assert (g["chan_fac"].diff().dropna() <= 0).all()
    # and the fixture genuinely exercises variety
    assert pdf["n_int"].nunique() > 1
    assert pdf["chan_fac"].nunique() > 1


def test_bda_repartition_invariance(spark, ms, params):
    """BDA output must not depend on input partitioning (the
    reference's chunk-count invariance, test_averaging.py:29)."""
    base = tc.average_binned_rows(
        B.assign_bins(ms["ms_rows"], params), constants=B.RAGGED_COLS
    ).toPandas()
    shuf = tc.average_binned_rows(
        B.assign_bins(ms["ms_rows"].repartition(17, "ANTENNA1"), params),
        constants=B.RAGGED_COLS,
    ).toPandas()
    assert_frames_match(base, shuf, rtol=0, atol=0)


def test_bda_row_conservation(spark, ms, params):
    out = tc.average_binned_rows(
        B.assign_bins(ms["ms_rows"], params), constants=B.RAGGED_COLS
    ).toPandas()
    assert out["n_rows"].sum() == ms["ms_rows"].count()


def test_bda_vis_chan_conservation(spark, ms, params):
    """Each output row's visibility spectrum has exactly out_nchan
    channel bins (ragged contract, averaging.py:159-161)."""
    binned = B.assign_bins(ms["ms_rows"], params)
    vis = tc.average_vis(
        ms["ms_vis"], tc.rep_map(binned, ["chan_fac"]), F.col("chan_fac")
    )
    per_bin = (
        vis.groupBy(*tc.BIN_KEYS)
        .agg((F.max("chan_bin") + 1).alias("got_nchan"))
        .join(
            tc.average_binned_rows(binned, constants=B.RAGGED_COLS),
            tc.BIN_KEYS,
        )
    )
    bad = per_bin.filter(F.col("got_nchan") != F.col("NUM_CHAN")).count()
    assert bad == 0


def test_bda_pipeline_remap_consistency(spark, ms):
    """Full pipeline: every averaged row remaps to a reminted DDID, and
    its NUM_CHAN matches the reminted SPW's channel count (V3
    invariants, averaging.py:488-493)."""
    out = B.bda(ms, Q.DECORR, Q.MAX_FOV, Q.TIME_CAP, Q.MIN_NCHAN)
    rows = out["ms_rows"]
    # every averaged row points at a reminted DDID (DATA_DESC_ID is the
    # NEW id under the reopen contract; ORIG_DATA_DESC_ID is lineage)
    assert rows.filter(F.col("DATA_DESC_ID").isNull()).count() == 0
    assert (
        rows.filter(
            F.col("DATA_DESC_ID") != F.col("ORIG_DATA_DESC_ID")
        ).count() > 0
    )
    spw_sizes = (
        out["spw"].groupBy("NEW_SPW_ID").agg(F.count("*").alias("n_chans"))
    )
    joined = (
        rows.join(out["ddid_map"].select(
            F.col("NEW_DATA_DESC_ID").alias("DATA_DESC_ID"),
            F.col("NEW_SPW_ID")).distinct(),
            "DATA_DESC_ID")
        .join(spw_sizes, "NEW_SPW_ID")
    )
    assert joined.filter(F.col("n_chans") != F.col("NUM_CHAN")).count() == 0
    # reminted grids satisfy the SPW invariants: monotone CHAN_FREQ,
    # uniform widths summing to the original band
    grid = out["spw"].toPandas().sort_values(["NEW_SPW_ID", "chan"])
    for _, g in grid.groupby("NEW_SPW_ID"):
        assert g["CHAN_FREQ"].is_monotonic_increasing
        assert g["CHAN_WIDTH"].nunique() == 1
        assert abs(g["CHAN_WIDTH"].sum() - g["TOTAL_BANDWIDTH"].iloc[0]) < 1e-6


def test_bin_params_match_independent_smearing_model(spark, ms, params):
    """Parity cross-check vs the PUBLISHED decorrelation model (VERDICT
    r1 item 7; methodology in PARITY.md). The reference's kernel
    (africanus bda, called at xova/apps/xova/averaging.py:338-342) and
    this engine both derive per-baseline caps from the Bridle & Schwab
    1999 smearing sinc. The reference stack is not installable in this
    container, so the referee here is a THIRD implementation: plain
    numpy/pandas, written from the formulas, sharing no code with
    operators/bda.py — even sinc^-1 is solved by a different method
    (dense-grid interpolation + Newton polish, vs bisection). Any silent
    divergence in the Spark expressions (unit slip, edge-of-band error,
    divisor logic) breaks this exact comparison."""
    import math

    import numpy as np

    decorr, fov, tcap, minc = Q.DECORR, Q.MAX_FOV, Q.TIME_CAP, Q.MIN_NCHAN

    # sinc^-1 by grid + Newton (independent of B.sinc_inverse's bisection)
    xs = np.linspace(1e-9, 1.0 - 1e-9, 20001)
    sinc = np.sin(np.pi * xs) / (np.pi * xs)
    x = float(np.interp(-decorr, -sinc, xs))  # sinc is decreasing
    for _ in range(60):
        fx = math.sin(math.pi * x) / (math.pi * x) - decorr
        dfx = (math.cos(math.pi * x) * math.pi * x - math.sin(math.pi * x)) / (
            math.pi * x * x
        )
        x -= fx / dfx
    C, OMEGA = 299792458.0, 7.292115e-5
    sin_half_fov = math.sin(math.radians(fov) / 2.0)
    kt = x * C / (OMEGA * sin_half_fov)
    kf = x * C / sin_half_fov
    assert abs(kt - B.bda_constants(decorr, fov)[0]) < abs(kt) * 1e-12
    assert abs(kf - B.bda_constants(decorr, fov)[1]) < abs(kf) * 1e-12

    rows = ms["ms_rows"].toPandas()
    chans = ms["spw_chans"].toPandas()
    meta = ms["spw_meta"].toPandas().set_index("SPECTRAL_WINDOW_ID")
    ddid = ms["ddid"].toPandas().set_index("DATA_DESC_ID")
    per_spw = chans.groupby("SPECTRAL_WINDOW_ID").apply(
        lambda g: (
            (g["CHAN_FREQ"] + g["CHAN_WIDTH"] / 2).max(),
            g["CHAN_WIDTH"].max(),
        ),
        include_groups=False,
    )

    got = params.toPandas().set_index(B.PART_KEYS + B.BL_KEYS).sort_index()
    keys = B.PART_KEYS + B.BL_KEYS
    rows["bl"] = np.hypot(rows["u"], rows["v"])
    checked = 0
    for key, g in rows.groupby(keys):
        spw = int(ddid.loc[key[1], "SPECTRAL_WINDOW_ID"])
        nu_max, width = per_spw.loc[spw]
        nchan = int(meta.loc[spw, "NUM_CHAN"])
        bl_uv = g["bl"].max()
        interval = g["INTERVAL"].min()
        dt_max = kt / (bl_uv * nu_max)
        n_int = max(1, min(int(tcap // interval), int(dt_max // interval)))
        dnu_max = kf / bl_uv
        fac = max(
            d
            for d in range(1, nchan + 1)
            if nchan % d == 0
            and (d == 1 or d * width <= dnu_max)
            and nchan // d >= minc
        )
        w = got.loc[key]
        assert int(w["n_int"]) == n_int, (key, int(w["n_int"]), n_int)
        assert int(w["chan_fac"]) == fac, (key, int(w["chan_fac"]), fac)
        assert int(w["out_nchan"]) == nchan // fac
        assert abs(w["decorr_chan_width"] - fac * width) < 1e-9
        assert abs(w["bl_uv"] - bl_uv) < 1e-9
        checked += 1
    assert checked == len(got)


def test_greedy_bda_matches_floor_on_uniform_cadence(spark, ms, params):
    """On the fixture's uniform 2 s cadence the greedy accumulate-and-
    reset closure must reproduce the floor grid bin-for-bin (this is
    what lets the floor-binned SQL oracle gate bda_rows_greedy)."""
    floor_bins = B.assign_bins(ms["ms_rows"], params).select("row_id", "time_bin")
    greedy_bins = B.greedy_bda_map(ms["ms_rows"], params)
    diff = (
        floor_bins.join(
            greedy_bins.withColumnRenamed("time_bin", "gbin"), "row_id"
        )
        .filter(F.col("time_bin") != F.col("gbin"))
        .count()
    )
    assert diff == 0


def test_greedy_bda_adapts_on_irregular_cadence(spark, ms, params):
    """Where greedy earns its keep: drop every fifth integration (a
    realistic flagged-dump gap — keyed on the TIME index so the gap
    lands inside every baseline, not on whole baselines) so the time
    axis is irregular. The greedy closure must (1) keep every bin's
    accumulated INTERVAL within the baseline's decorrelation budget,
    (2) keep bins time-contiguous per baseline, and (3) actually
    diverge from the floor grid somewhere (the floor grid bins by
    wall-clock offset, so a gap wastes part of a bin's budget; greedy
    re-packs it)."""
    import pandas as pd

    rows = ms["ms_rows"].filter(
        F.floor(F.col("TIME") / 2).cast("long") % 5 != 2
    )
    gmap = B.greedy_bda_map(rows, params)
    joined = (
        rows.join(F.broadcast(gmap), "row_id")
        .join(
            F.broadcast(
                params.select(
                    *B.PART_KEYS, *B.BL_KEYS, "n_int", "interval_nom"
                )
            ),
            B.PART_KEYS + B.BL_KEYS,
        )
        .select(
            *B.PART_KEYS, *B.BL_KEYS, "row_id", "TIME", "INTERVAL",
            "time_bin", "n_int", "interval_nom",
        )
        .toPandas()
    )
    keys = B.PART_KEYS + B.BL_KEYS
    for _, g in joined.groupby(keys):
        budget = float(g["n_int"].iloc[0]) * float(g["interval_nom"].iloc[0])
        g = g.sort_values(["TIME", "row_id"])
        per_bin = g.groupby("time_bin")["INTERVAL"].sum()
        assert (per_bin <= budget + 1e-9).all()
        # bins numbered consecutively from 0 in time order
        seen = g["time_bin"].to_numpy()
        assert seen[0] == 0
        assert ((seen[1:] - seen[:-1] == 0) | (seen[1:] - seen[:-1] == 1)).all()
    # (3) divergence from the floor grid on at least one row
    floor_bins = (
        B.assign_bins(rows, params).select("row_id", "time_bin").toPandas()
    )
    merged = pd.merge(
        joined[["row_id", "time_bin"]],
        floor_bins,
        on="row_id",
        suffixes=("_greedy", "_floor"),
    )
    assert (merged["time_bin_greedy"] != merged["time_bin_floor"]).any()


def test_compression_report_shows_bda_curve(spark):
    """The defining BDA property in the report: the shortest baselines
    compress strictly harder than the longest. On this fixture (3
    times per scan, capped n_int) the time axis barely folds, so the
    curve shows in the CHANNEL folding — short baselines carry a
    larger chan_fac than long ones."""
    from xova_spark.queries.bda import bda_compression_report

    df = bda_compression_report(spark, None).toPandas()
    assert (df["rows_in"] >= df["rows_out"]).all()
    assert (df["row_ratio_permille"] >= 1000).all()
    assert (df["min_chan_fac"] <= df["max_chan_fac"]).all()
    s = df.sort_values("bl_uv")
    short = s.head(20)["min_chan_fac"].mean()
    long_ = s.tail(20)["min_chan_fac"].mean()
    assert short > long_, (short, long_)

"""Baseline-dependent averaging (BDA) — the reference's second pipeline.

Re-expresses ``xova bda`` (reference: xova/apps/xova/averaging.py:270-354
— kernel call :338-342, SPW/DDID regeneration :436-722; CLI defaults
arguments.py:135-146) as the two-phase Spark plan SURVEY §2.4/A2
prescribes:

  phase 1 — deterministic per-baseline bin parameters from the standard
  interferometric smearing model (public formulas: Bridle & Schwab 1999,
  "Bandwidth and Time-Average Smearing"; Thompson/Moran/Swenson ch. 6):

    time decorrelation      R_t = sinc(omega_E * |b_uv| * (nu/c) * sin(fov) * dt)
    bandwidth decorrelation R_f = sinc(dnu * |b_uv| * sin(fov) / c)

  holding R >= `decorrelation` gives per-baseline caps

    dt_max  = KT / (|b_uv| * nu_max)   with KT = x_max * C_LIGHT / (OMEGA_E * sin_fov)
    dnu_max = KF /  |b_uv|             with KF = x_max * C_LIGHT / sin_fov

  where x_max = sinc^-1(decorrelation) is solved ONCE driver-side by
  bisection. KT/KF are embedded as exact repr() literals in both the
  Spark expression and the DuckDB oracle SQL, so ALL query-time
  arithmetic is IEEE *, /, sqrt, floor — bit-identical across engines
  (no transcendental libm calls whose last ulp could differ).

  Long baselines therefore average few integrations / few channels, and
  short baselines many — the defining BDA behavior. The time cap becomes
  an integration count n_int = clamp(floor(dt_max / interval), 1,
  floor(time_bin_secs / interval)) (the reference's optional
  --time-bin-secs cap, arguments.py:135-137); the channel cap becomes
  the largest divisor of NUM_CHAN whose merged width fits dnu_max while
  keeping >= min_nchan output channels (the reference's "factorization
  of nchan >= min_nchan", arguments.py:142-146).

  phase 2 — timechannel's averaging core (average_binned) on the derived
  (baseline, time_bin) / (baseline, time_bin, chan_bin) keys: BDA adds
  ``chan_fac`` to the rep map as the channel divisor and the ragged
  NUM_CHAN / DECORR_CHAN_WIDTH (averaging.py:159-164) as row group
  constants. Ragged output (averaging.py:317) is natural in the long
  layout.

Scale design: phase 1 is one narrow aggregation over (partition,
baseline) — output cardinality #partitions x #baselines, tiny versus the
row table, so the params join back to rows/vis is a broadcast. Phase 2
is one shuffle each for rows and vis, both keyed on the (partition,
baseline) prefix. The SPW/DDID regeneration (A4/A5) is driver code,
``regrid``: one collect of the distinct channelisations, the reminted
ids and grids computed in Python and returned as local relations, so
the J3 remap join broadcasts them without a job.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xova_spark.operators.timechannel import (
    BL_KEYS,
    PART_KEYS,
    _local,
    average_binned,
    hold,
    select_rows,
)

C_LIGHT = 299792458.0  # m/s
OMEGA_E = 7.292115e-5  # Earth sidereal rotation rate, rad/s


def sinc_inverse(decorr: float) -> float:
    """Solve sinc(x) = sin(pi x)/(pi x) = decorr for x in (0, 1) by
    bisection (sinc is monotone decreasing there). Driver-side only."""
    if not 0.0 < decorr < 1.0:
        raise ValueError("decorrelation must be in (0, 1)")
    lo, hi = 0.0, 1.0
    for _ in range(200):
        mid = (lo + hi) / 2
        val = math.sin(math.pi * mid) / (math.pi * mid) if mid > 0 else 1.0
        if val > decorr:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def bda_constants(
    decorrelation: float = 0.95, max_fov: float = 1.0
) -> tuple[float, float]:
    """(KT, KF) smearing constants; max_fov in degrees (the reference's
    --max-fov, arguments.py:140-141), radius = fov/2."""
    x_max = sinc_inverse(decorrelation)
    sin_fov = math.sin(math.radians(max_fov) / 2.0)
    kt = x_max * C_LIGHT / (OMEGA_E * sin_fov)
    kf = x_max * C_LIGHT / sin_fov
    return kt, kf


def ddid_dims(tables: dict) -> DataFrame:
    """Per-DDID spectral facts as a local relation, built on the driver
    from one collect each of ``ddid``, ``spw_chans`` and ``spw_meta``:
    SPECTRAL_WINDOW_ID and POLARIZATION_ID; for the decorrelation model
    nu_max (top channel edge — worst-case smearing), chan_width and
    NUM_CHAN (the reference joins the same columns at
    averaging.py:306-308); for ``regrid`` the band's lower edge
    f_start and its width."""
    chans = defaultdict(list)
    for spw, freq, width in tables["spw_chans"].select(
        "SPECTRAL_WINDOW_ID", "CHAN_FREQ", "CHAN_WIDTH"
    ).collect():
        chans[spw].append((freq, width))
    meta = tables["spw_meta"].select("SPECTRAL_WINDOW_ID", "NUM_CHAN")
    nchan = dict(meta.collect())
    ddid = tables["ddid"].select("DATA_DESC_ID", "SPECTRAL_WINDOW_ID",
                                 "POLARIZATION_ID")
    facts = {  # SPW -> (nu_max, chan_width, f_start, band)
        spw: (max(f + w / 2 for f, w in fw), max(w for _, w in fw),
              min(f - w / 2 for f, w in fw), sum(w for _, w in fw))
        for spw, fw in chans.items()
    }
    dims = [(d, spw, pol, nchan[spw], *facts[spw])
            for d, spw, pol in ddid.collect() if spw in facts and spw in nchan]
    ids = ", ".join(f.simpleString() for f in [*ddid.schema, meta.schema["NUM_CHAN"]])
    return _local(ddid.sparkSession, f"{ids}, nu_max double, chan_width double, "
                  "f_start double, band double", dims)


def bin_params(
    rows: DataFrame,
    dims: DataFrame,
    decorrelation: float = 0.95,
    max_fov: float = 1.0,
    time_bin_secs: float = 16.0,
    min_nchan: int = 1,
) -> DataFrame:
    """Phase 1: per (partition, baseline) BDA bin parameters.

    Columns out: PART_KEYS + BL_KEYS, bl_uv (max projected baseline),
    t0, interval_nom, n_int (integrations per time bin), chan_fac
    (channels merged per output channel), out_nchan, decorr_chan_width.
    """
    kt, kf = bda_constants(decorrelation, max_fov)
    per_bl = rows.groupBy(*PART_KEYS, *BL_KEYS).agg(
        F.max(F.sqrt(F.col("u") * F.col("u") + F.col("v") * F.col("v"))).alias(
            "bl_uv"
        ),
        F.min("TIME").alias("t0"),
        F.min("INTERVAL").alias("interval_nom"),
    )
    p = per_bl.join(dims, "DATA_DESC_ID")
    dt_max = F.lit(kt) / (F.col("bl_uv") * F.col("nu_max"))
    cap_n = F.floor(F.lit(time_bin_secs) / F.col("interval_nom"))
    n_int = F.greatest(
        F.lit(1).cast("long"),
        F.least(cap_n, F.floor(dt_max / F.col("interval_nom"))),
    )
    dnu_max = F.lit(kf) / F.col("bl_uv")
    nchan, width = F.col("NUM_CHAN"), F.col("chan_width")
    # Largest divisor d of NUM_CHAN with d*width <= dnu_max and
    # NUM_CHAN/d >= min_nchan; d=1 always admissible (no averaging).
    chan_fac = F.coalesce(
        F.array_max(
            F.filter(
                F.sequence(F.lit(1), nchan),
                lambda d: (nchan % d == 0)
                & ((d == 1) | (d.cast("double") * width <= dnu_max))
                & (nchan / d >= F.lit(min_nchan)),
            )
        ),
        F.lit(1),
    )
    return (
        p.withColumn("n_int", n_int)
        .withColumn("chan_fac", chan_fac)
        .withColumn("out_nchan", (nchan / F.col("chan_fac")).cast("int"))
        .withColumn("decorr_chan_width", F.col("chan_fac").cast("double") * width)
        .select(
            *PART_KEYS,
            *BL_KEYS,
            "bl_uv",
            "t0",
            "interval_nom",
            "n_int",
            "chan_fac",
            "out_nchan",
            "decorr_chan_width",
        )
    )


# BDA's ragged row columns (averaging.py:159-164) <- their params columns.
RAGGED_COLS = {"NUM_CHAN": "out_nchan", "DECORR_CHAN_WIDTH": "decorr_chan_width"}


def assign_bins(rows: DataFrame, params: DataFrame) -> DataFrame:
    """Attach the per-baseline time_bin (floor of the time offset over
    the baseline-dependent bin length) plus the channelisation columns.
    The params side is broadcast — it is #partitions x #baselines rows.
    Row columns the params supply are dropped first (a BDA output's
    DECORR_CHAN_WIDTH is ``decorr_chan_width`` case-insensitively)."""
    keys = PART_KEYS + BL_KEYS
    j = rows.drop(*[c for c in params.columns if c not in keys]).join(
        F.broadcast(params), keys
    )
    return j.withColumn(
        "time_bin",
        F.floor(
            (F.col("TIME") - F.col("t0"))
            / (F.col("n_int").cast("double") * F.col("interval_nom"))
        ).cast("int"),
    )


def bda(
    tables: dict,
    decorrelation: float = 0.95,
    max_fov: float = 1.0,
    time_bin_secs: float = 16.0,
    min_nchan: int = 1,
    fields: list[int] | None = None,
    scans: list[int] | None = None,
    vis_average=None,
) -> dict:
    """Full BDA pipeline (ref averaging.py:270-354 + 550-722): averaged
    main-table parts with remapped DATA_DESC_ID, regenerated SPW/DDID.

    Like timechannel(), the output satisfies the load_ms contract so a
    written BDA MS re-opens and `check`-validates: main tables carry
    row_id (the bin's rep surrogate), ms_rows.DATA_DESC_ID points at the
    REMINTED ddid table (one row per distinct channelisation,
    averaging.py:527-547), and spw_chans/spw_meta describe the new
    uniform grids. The ragged-specific ``spw``/``ddid_map`` views are
    kept alongside for lineage. Unknown subtables pass through
    (subtables.py:9-37). ``vis_average`` as in average_binned."""
    rows = select_rows(tables["ms_rows"], fields, scans)
    dims = ddid_dims(tables)
    params = hold(bin_params(
        rows, dims, decorrelation, max_fov, time_bin_secs, min_nchan
    ))
    grid = regrid(params, dims)
    main = average_binned(
        tables, assign_bins(rows, params), F.col("chan_fac"),
        payload=["chan_fac"], constants=RAGGED_COLS, vis_average=vis_average,
    )
    out = {
        **main,
        "ms_rows": remap_main(_remap_rows(main["ms_rows"], grid["ddid_map"])),
        # One file per table: a local relation has a partition per core.
        **{name: df.coalesce(1) for name, df in grid.items()},
    }
    # The tables computed here win: an input's own spw/ddid_map lineage
    # (a BDA output averaged again) does not pass through.
    return {**out, **{k: v for k, v in tables.items() if k not in out}}


def regrid(params: DataFrame, dims: DataFrame) -> dict:
    """V3/J3 on the driver, over one collect of the distinct
    (DATA_DESC_ID, out_nchan) channelisations of ``params`` (at most
    #DDIDs x #divisors rows) and the ``ddid_dims`` local relation.

    Each channelisation mints a NEW_DATA_DESC_ID and each distinct
    (SPECTRAL_WINDOW_ID, out_nchan) a NEW_SPW_ID, numbered in sorted key
    order (averaging.py:527-547). A new SPW's grid is a uniform linspace
    over the original band (averaging.py:504-523), in the oracle's
    operation order. Returns local relations: ``spw`` (the grids, for
    lineage), ``ddid_map`` (the remap, averaging.py:693-698) and the
    conformant ``ddid``, ``spw_chans`` and ``spw_meta``
    (averaging.py:707-720; EFFECTIVE_BW and RESOLUTION equal CHAN_WIDTH
    on a uniform grid, REF_FREQUENCY is channel 0's CHAN_FREQ)."""
    dim = {r["DATA_DESC_ID"]: r for r in dims.collect()}
    distinct = params.select("DATA_DESC_ID", "out_nchan").distinct()
    keys = sorted(tuple(r) for r in distinct.collect())
    spws = sorted({(dim[d]["SPECTRAL_WINDOW_ID"], n) for d, n in keys})
    new_spw = {k: i for i, k in enumerate(spws)}
    dmap = [
        (d, n, i, new_spw[dim[d]["SPECTRAL_WINDOW_ID"], n], dim[d]["POLARIZATION_ID"])
        for i, (d, n) in enumerate(keys)
    ]
    band = {r["SPECTRAL_WINDOW_ID"]: (r["f_start"], r["band"]) for r in dim.values()}
    grid = []  # (NEW_SPW_ID, SPW, out_nchan, chan, CHAN_FREQ, CHAN_WIDTH, band)
    for s, (spw, n) in enumerate(spws):
        f0, bw = band[spw]
        grid += [(s, spw, n, c, f0 + (c + 0.5) * (bw / n), bw / n, bw)
                 for c in range(n)]
    t = {f.name: f.dataType.simpleString()
         for f in [*dims.schema, params.schema["DATA_DESC_ID"]]}
    spark, chan_cols = params.sparkSession, "CHAN_FREQ double, CHAN_WIDTH double"
    return {
        "spw": _local(spark, f"NEW_SPW_ID int, SPECTRAL_WINDOW_ID "
                      f"{t['SPECTRAL_WINDOW_ID']}, NUM_CHAN int, chan int, "
                      f"{chan_cols}, TOTAL_BANDWIDTH double", grid),
        "ddid_map": _local(spark, f"DATA_DESC_ID {t['DATA_DESC_ID']}, out_nchan "
                           "int, NEW_DATA_DESC_ID int, NEW_SPW_ID int, "
                           f"POLARIZATION_ID {t['POLARIZATION_ID']}", dmap),
        "ddid": _local(spark, "DATA_DESC_ID int, SPECTRAL_WINDOW_ID int, "
                       f"POLARIZATION_ID {t['POLARIZATION_ID']}",
                       [m[2:] for m in dmap]),
        "spw_chans": _local(spark, f"SPECTRAL_WINDOW_ID int, chan int, {chan_cols}, "
                            "EFFECTIVE_BW double, RESOLUTION double",
                            [(g[0], *g[3:6], g[5], g[5]) for g in grid]),
        "spw_meta": _local(spark, "SPECTRAL_WINDOW_ID int, NUM_CHAN int, "
                           "TOTAL_BANDWIDTH double, REF_FREQUENCY double",
                           [(g[0], g[2], g[6], g[4]) for g in grid if g[3] == 0]),
    }


def remap_main(remapped: DataFrame) -> DataFrame:
    """Point the averaged rows' DATA_DESC_ID at the REMINTED ddid table
    (averaging.py:693-705): the original id is kept as ORIG_DATA_DESC_ID
    for lineage; rows whose channelisation had no remint (none in
    practice — the map is built from the same distinct set) keep the
    original."""
    return (
        remapped.withColumn("ORIG_DATA_DESC_ID", F.col("DATA_DESC_ID"))
        .withColumn(
            "DATA_DESC_ID", F.coalesce("NEW_DATA_DESC_ID", "DATA_DESC_ID")
        )
        .drop("NEW_DATA_DESC_ID")
    )


def _remap_rows(avg_rows: DataFrame, dmap: DataFrame) -> DataFrame:
    """Apply the J3 DDID remap to the averaged rows: the output NUM_CHAN
    selects which reminted DDID a row points at."""
    m = dmap.select(
        "DATA_DESC_ID", F.col("out_nchan").alias("NUM_CHAN"), "NEW_DATA_DESC_ID"
    )
    return avg_rows.join(m, ["DATA_DESC_ID", "NUM_CHAN"], "left")


def greedy_bda_map(rows: DataFrame, params: DataFrame) -> DataFrame:
    """Bit-greedy BDA time binning (A2 x A7): per (partition, baseline),
    walk rows in TIME order accumulating each row's ACTUAL INTERVAL and
    close the bin when adding the next integration would exceed the
    baseline's decorrelation budget (n_int * interval_nom — the same
    quantized cap assign_bins uses).

    This is the accumulate-and-reset closure of the reference's
    chunking.py:125-157 applied per baseline, i.e. the greedy semantics
    of africanus's bda kernel (averaging.py:338-342): the reset makes
    it non-associative, hence not window-expressible — one of SURVEY
    §2.9's legitimate applyInPandas sites. On uniform cadence it
    coincides with assign_bins' floor binning (the oracle gate); on
    irregular cadence (dropped integrations, mixed dump times) it
    adapts where the floor grid would mis-bin.

    Scale: runs on the ROW table joined to the broadcast params —
    #rows per group = #times (thousands), never visibility-sized.
    Returns the (row_id -> time_bin) map; broadcast it back onto
    assign_bins' output to swap binning disciplines.

    Physical shape: ONE mapInPandas pass over the row table hash-
    repartitioned on the group keys (all rows of a baseline co-located
    by construction), with group boundaries detected vectorized inside
    the batch — NOT groupBy().applyInPandas, whose per-group pandas
    construction cost dominates when groups are small (measured on the
    960-group fixture: 3.4 s -> 0.6 s for the identical map). The
    accumulate-reset walk itself is the same non-associative closure.
    """
    import numpy as np
    import pandas as pd

    keys = PART_KEYS + BL_KEYS
    j = (
        rows.join(
            F.broadcast(params.select(*keys, "n_int", "interval_nom")),
            keys,
        )
        .select(*keys, "row_id", "TIME", "INTERVAL", "n_int", "interval_nom")
        .repartition(*keys)
    )

    def assign_part(batches):
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pdf = pdf.sort_values([*keys, "TIME", "row_id"], kind="mergesort")
        kmat = pdf[keys].to_numpy()
        n = len(pdf)
        new_grp = np.ones(n, dtype=bool)
        new_grp[1:] = (kmat[1:] != kmat[:-1]).any(axis=1)
        iv = pdf["INTERVAL"].to_numpy(dtype=np.float64)
        # n_int/interval_nom are group-constant (joined on the group
        # keys), so the per-row product is the group budget everywhere.
        budget = pdf["n_int"].to_numpy(dtype=np.float64) * pdf[
            "interval_nom"
        ].to_numpy(dtype=np.float64)
        bins = np.empty(n, dtype=np.int32)
        bin_id, acc = 0, 0.0
        for i in range(n):
            if new_grp[i]:
                bin_id, acc = 0, 0.0
            elif acc + iv[i] > budget[i]:
                bin_id += 1
                acc = 0.0
            bins[i] = bin_id
            acc += iv[i]
        yield pd.DataFrame(
            {"row_id": pdf["row_id"].to_numpy(), "time_bin": bins}
        )

    return j.mapInPandas(assign_part, "row_id long, time_bin int")

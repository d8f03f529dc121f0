"""Synthetic Measurement-Set fixture factory (parquet-backed, long layout).

Mirrors the reference's seeded test-data generator
(reference: xova/testing_data.py:9-166, RandomState(42) at :10): na
antennas -> na*(na-1)/2 cross baselines (triu_indices(na,1), no
autocorrelations, :45), TIME values in MJD-seconds epoch (~5.03e9 as in
reference tests/test_averaging.py:28), 2 DDIDs; SPWs of 16/32 channels,
polarization setups of 4/2 correlations (:41-42,55).

Layout (SURVEY §1.4 "long form for the averaging core"):
- ms_rows     one row per MS row: row-level columns, UVW as u/v/w scalars.
- ms_weights  one row per (row, corr): WEIGHT, SIGMA.
- ms_vis      one row per (row, chan, corr): vis_re/vis_im (the complex64
              DATA encoded as double pairs — Spark has no complex type),
              flag, weight_sp, sigma_sp.
- spw_chans   one row per (spw, chan): CHAN_FREQ/CHAN_WIDTH/EFFECTIVE_BW/
              RESOLUTION;  spw_meta: NUM_CHAN/REF_FREQUENCY/TOTAL_BANDWIDTH.
- ddid, pol, field, antenna: small dimension tables.

Raggedness (BDA) and per-DDID channel counts are free in this layout —
each row simply has however many (chan, corr) vis rows it has.

EXACTNESS DISCIPLINE: every float value is a dyadic rational with few
mantissa bits (randint / 2^k) and TIME/CHAN_FREQ are integer-valued, so
all the sums the averaging engine computes are EXACT in float64. Exact
sums are independent of accumulation order, which makes Spark and the
DuckDB oracle agree bit-for-bit — no tolerance, no rounding — even
though their partial-aggregation orders differ.

Time structure: ntime timestamps at 2.0 s cadence; SCAN_NUMBER advances
every 3 timestamps, FIELD_ID alternates per scan. Each (FIELD_ID,
SCAN_NUMBER) partition therefore spans 3 consecutive times — so a
4-second time bin really averages across rows (sizes 2 and 1), which is
the semantics under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture is an MS in the input layout; ms_writer owns the format.
from xova_spark.sources.ms_writer import load_ms  # noqa: F401

DEFAULT_CACHE = os.path.abspath(os.path.join(__file__, "../../../.cache/ms_fixture"))

# (nchan, ncorr) per DDID — reference testing_data.py:41-42,55.
SPW_NCHAN = (16, 32)
POL_NCORR = (4, 2)
NA = 16
NTIME = 12
TIME_START = 5.03e9  # MJD seconds, as in reference tests/test_averaging.py:28
TIME_STEP = 2.0
TIMES_PER_SCAN = 3


def ms_fixture_dir(na: int = NA, ntime: int = NTIME, seed: int = 42) -> str:
    """Generate (or reuse cached) fixture tables; returns the directory."""
    out = os.path.join(DEFAULT_CACHE, f"na{na}_nt{ntime}_s{seed}_v4")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    _generate(out, na=na, ntime=ntime, seed=seed)
    with open(marker, "w") as f:
        f.write("ok")
    return out


def _dyadic(rng, lo_num: int, hi_num: int, denom: float, size) -> np.ndarray:
    """Random dyadic rationals num/denom — exactly representable, and sums
    over the sizes used here stay exact in float64."""
    return rng.randint(lo_num, hi_num, size=size).astype(np.float64) / denom


def _generate(out: str, na: int, ntime: int, seed: int) -> None:
    rng = np.random.RandomState(seed)

    a1, a2 = np.triu_indices(na, 1)  # no autocorrelations
    nbl = a1.size
    times = TIME_START + np.arange(ntime) * TIME_STEP  # integer-valued doubles
    tidx = np.arange(ntime)
    scan_of_t = (tidx // TIMES_PER_SCAN).astype(np.int32)
    field_of_t = (scan_of_t % 2).astype(np.int32)

    row_tabs, w_tabs, v_tabs = [], [], []
    row0 = 0
    for ddid in range(len(SPW_NCHAN)):
        nchan, ncorr = SPW_NCHAN[ddid], POL_NCORR[ddid]
        nrow = nbl * ntime
        row_id = np.arange(row0, row0 + nrow, dtype=np.int64)
        t = np.repeat(times, nbl)
        ant1 = np.tile(a1, ntime).astype(np.int32)
        ant2 = np.tile(a2, ntime).astype(np.int32)
        uvw = _dyadic(rng, 0, 2**20, 16.0, (nrow, 3))  # [0, 65536), 4 frac bits
        # ~25% of rows fully flagged (exercises the fully-flagged-bin
        # fallback); other rows get sparse random sample flags.
        row_force = rng.randint(0, 4, nrow) == 0
        flag = row_force[:, None, None] | (
            rng.randint(0, 10, (nrow, nchan, ncorr)) < 3
        )
        flag_row = flag.all(axis=(1, 2))
        field = field_of_t[np.repeat(tidx, nbl)]
        scan = scan_of_t[np.repeat(tidx, nbl)]

        row_tabs.append(
            pa.table(
                {
                    "row_id": row_id,
                    "TIME": t,
                    # centroid = time + dyadic jitter in [-0.5, 0.75]
                    "TIME_CENTROID": t + _dyadic(rng, -2, 4, 4.0, nrow),
                    "INTERVAL": np.full(nrow, TIME_STEP),
                    # exposure in {0.5, 1.0, 1.5, 2.0}
                    "EXPOSURE": _dyadic(rng, 1, 5, 2.0, nrow),
                    "ANTENNA1": ant1,
                    "ANTENNA2": ant2,
                    "FIELD_ID": field,
                    "DATA_DESC_ID": np.full(nrow, ddid, dtype=np.int32),
                    "SCAN_NUMBER": scan,
                    "ARRAY_ID": np.zeros(nrow, dtype=np.int32),
                    "OBSERVATION_ID": np.zeros(nrow, dtype=np.int32),
                    "PROCESSOR_ID": np.zeros(nrow, dtype=np.int32),
                    "STATE_ID": np.zeros(nrow, dtype=np.int32),
                    "u": uvw[:, 0],
                    "v": uvw[:, 1],
                    "w": uvw[:, 2],
                    "FLAG_ROW": flag_row,
                }
            )
        )

        weight = _dyadic(rng, 1, 1025, 1024.0, (nrow, ncorr))  # (0, 1]
        sigma = _dyadic(rng, 0, 1025, 1024.0, (nrow, ncorr))
        w_tabs.append(
            pa.table(
                {
                    "row_id": np.repeat(row_id, ncorr),
                    "corr": np.tile(np.arange(ncorr, dtype=np.int32), nrow),
                    "WEIGHT": weight.ravel(),
                    "SIGMA": sigma.ravel(),
                }
            )
        )

        shape = (nrow, nchan, ncorr)
        nsamp = nrow * nchan * ncorr
        v_tabs.append(
            pa.table(
                {
                    "row_id": np.repeat(row_id, nchan * ncorr),
                    "chan": np.tile(
                        np.repeat(np.arange(nchan, dtype=np.int32), ncorr), nrow
                    ),
                    "corr": np.tile(np.arange(ncorr, dtype=np.int32), nrow * nchan),
                    "vis_re": _dyadic(rng, -2048, 2048, 1024.0, shape).reshape(nsamp),
                    "vis_im": _dyadic(rng, -2048, 2048, 1024.0, shape).reshape(nsamp),
                    "flag": flag.reshape(nsamp),
                    "weight_sp": _dyadic(rng, 1, 1025, 1024.0, shape).reshape(nsamp),
                    "sigma_sp": _dyadic(rng, 0, 1025, 1024.0, shape).reshape(nsamp),
                }
            )
        )
        row0 += nrow

    # Small row groups: Spark's file-scan parallelism is bounded by row
    # groups, so a bench-scale vis table must split 32+ ways.
    pq.write_table(
        pa.concat_tables(row_tabs),
        os.path.join(out, "ms_rows.parquet"),
        row_group_size=1 << 16,
    )
    pq.write_table(
        pa.concat_tables(w_tabs),
        os.path.join(out, "ms_weights.parquet"),
        row_group_size=1 << 17,
    )
    pq.write_table(
        pa.concat_tables(v_tabs),
        os.path.join(out, "ms_vis.parquet"),
        row_group_size=1 << 18,
    )

    # SPECTRAL_WINDOW (testing_data.py:75-97): uniform integer-valued grid
    # per SPW. Narrow L-band sub-bands (856 kHz, so 53.5/26.75 kHz
    # channels) rather than the reference's full 856 MHz band: with the
    # fixture's 25-91 km baselines these widths put the BDA
    # decorrelation thresholds MID-RANGE, so chan_fac/n_int genuinely
    # vary per baseline (the defining BDA behavior) instead of clamping
    # to 1. All values remain integer-valued doubles (exactness).
    band = 0.856e6
    spw_rows, meta_rows = [], []
    for spw_id, nchan in enumerate(SPW_NCHAN):
        f0 = 1.4e9 + spw_id * band
        width = band / nchan  # 53500.0 / 26750.0 — integer-valued
        chan_freq = f0 + width * np.arange(nchan) + width / 2
        spw_rows.append(
            pa.table(
                {
                    "SPECTRAL_WINDOW_ID": np.full(nchan, spw_id, dtype=np.int32),
                    "chan": np.arange(nchan, dtype=np.int32),
                    "CHAN_FREQ": chan_freq,
                    "CHAN_WIDTH": np.full(nchan, width),
                    "EFFECTIVE_BW": np.full(nchan, width),
                    "RESOLUTION": np.full(nchan, width),
                }
            )
        )
        meta_rows.append(
            {
                "SPECTRAL_WINDOW_ID": spw_id,
                "NUM_CHAN": nchan,
                "REF_FREQUENCY": float(chan_freq[nchan // 2]),
                "TOTAL_BANDWIDTH": float(width * nchan),
            }
        )
    pq.write_table(pa.concat_tables(spw_rows), os.path.join(out, "spw_chans.parquet"))
    pq.write_table(
        pa.Table.from_pylist(meta_rows), os.path.join(out, "spw_meta.parquet")
    )

    # DATA_DESCRIPTION (testing_data.py:119-126) + POLARIZATION (:66-72).
    pq.write_table(
        pa.table(
            {
                "DATA_DESC_ID": np.arange(len(SPW_NCHAN), dtype=np.int32),
                "SPECTRAL_WINDOW_ID": np.arange(len(SPW_NCHAN), dtype=np.int32),
                "POLARIZATION_ID": np.arange(len(POL_NCORR), dtype=np.int32),
            }
        ),
        os.path.join(out, "ddid.parquet"),
    )
    corr_types = {4: [9, 10, 11, 12], 2: [9, 12]}
    pq.write_table(
        pa.table(
            {
                "POLARIZATION_ID": pa.array(range(len(POL_NCORR)), type=pa.int32()),
                "NUM_CORR": pa.array(POL_NCORR, type=pa.int32()),
                "CORR_TYPE": pa.array(
                    [corr_types[n] for n in POL_NCORR], type=pa.list_(pa.int32())
                ),
            }
        ),
        os.path.join(out, "pol.parquet"),
    )

    # FIELD (testing_data.py:100-116) and ANTENNA (:59-63).
    phase_dirs = np.deg2rad(np.array([[0.0, 60.0], [30.0, 45.0]]))
    pq.write_table(
        pa.table(
            {
                "FIELD_ID": pa.array(range(2), type=pa.int32()),
                "NAME": [f"FIELD-{i}" for i in range(2)],
                "NUM_POLY": pa.array([0, 0], type=pa.int32()),
                "PHASE_DIR_RA": phase_dirs[:, 0],
                "PHASE_DIR_DEC": phase_dirs[:, 1],
            }
        ),
        os.path.join(out, "field.parquet"),
    )
    ant_pos = 6.371e6 + _dyadic(rng, 0, 2**20, 16.0, (na, 3)) / 16.0
    pq.write_table(
        pa.table(
            {
                "ANTENNA_ID": pa.array(range(na), type=pa.int32()),
                "NAME": [f"ANT-{i}" for i in range(na)],
                "pos_x": ant_pos[:, 0],
                "pos_y": ant_pos[:, 1],
                "pos_z": ant_pos[:, 2],
            }
        ),
        os.path.join(out, "antenna.parquet"),
    )

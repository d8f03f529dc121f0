"""The x100 MS-scale domain benchmark BASELINE.md declares.

BASELINE.md:35 sets the domain benchmark as "timechannel + bda
pipelines at `testing_data.py` scale x1 and x100" (mirroring
`xova/testing_data.py:40-55`); SCALE.md had only measured a x4
quadrupling (9.3M -> 37.2M samples). This tool closes the gap
(VERDICT r7 item 6): it generates a na=64, ntime=3600 fixture —
929M visibility samples, exactly x100 the committed 9.3M-sample
bench fixture in sample count — and times the two averaging hot
paths (the same code paths as the `timechannel_avg` / `bda_avg`
headline entries) at x1 and x100, noop sink, median of 3.

The big fixture is generated CHUNKED over time blocks (the committed
``ms_fixture._generate`` materializes whole columns in numpy, ~70 GB
at x100): each time block draws from its own seeded RandomState and
appends row groups via ParquetWriter, so peak memory stays ~1 GB and
the fixture is still deterministic. The ntime-independent subtables
(spw/ddid/pol/field/antenna) are copied from the x1 fixture so both
tiers share identical dimension data. The chunked draws do NOT
reproduce the x1 fixture's exact values (different rng consumption) —
irrelevant here: this is a throughput benchmark, correctness for the
averaging math is carried by the oracle-gated small-fixture twins.

Usage: python tools/ms_scale_bench.py [--trials 3] [--ntime 3600]
Run with SPARK_GRAFT_DRIVER_MEM=64g for the x100 tier.
Prints one JSON line; paste the medians into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from xova_spark.sources.ms_fixture import (  # noqa: E402
    DEFAULT_CACHE,
    POL_NCORR,
    SPW_NCHAN,
    TIME_START,
    TIME_STEP,
    TIMES_PER_SCAN,
    _dyadic,
    load_ms,
    ms_fixture_dir,
)

X1_NA, X1_NTIME = 64, 36  # the committed 9.3M-sample bench fixture


def generate_chunked(
    na: int, ntime: int, seed: int = 42, t_chunk: int = 120
) -> str:
    out = os.path.join(DEFAULT_CACHE, f"na{na}_nt{ntime}_s{seed}_chunked_v1")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    a1, a2 = np.triu_indices(na, 1)
    nbl = a1.size
    writers: dict[str, pq.ParquetWriter] = {}

    def write(name: str, table: pa.Table, rg: int) -> None:
        if name not in writers:
            writers[name] = pq.ParquetWriter(
                os.path.join(out, f"{name}.parquet"), table.schema
            )
        writers[name].write_table(table, row_group_size=rg)

    row0 = 0
    for ddid in range(len(SPW_NCHAN)):
        nchan, ncorr = SPW_NCHAN[ddid], POL_NCORR[ddid]
        for c0 in range(0, ntime, t_chunk):
            nt = min(t_chunk, ntime - c0)
            rng = np.random.RandomState(seed + 1000 * ddid + c0)
            tidx = np.arange(c0, c0 + nt)
            times = TIME_START + tidx * TIME_STEP
            scan_of_t = (tidx // TIMES_PER_SCAN).astype(np.int32)
            field_of_t = (scan_of_t % 2).astype(np.int32)
            nrow = nbl * nt
            row_id = np.arange(row0, row0 + nrow, dtype=np.int64)
            t = np.repeat(times, nbl)
            uvw = _dyadic(rng, 0, 2**20, 16.0, (nrow, 3))
            row_force = rng.randint(0, 4, nrow) == 0
            flag = row_force[:, None, None] | (
                rng.randint(0, 10, (nrow, nchan, ncorr)) < 3
            )
            write(
                "ms_rows",
                pa.table(
                    {
                        "row_id": row_id,
                        "TIME": t,
                        "TIME_CENTROID": t + _dyadic(rng, -2, 4, 4.0, nrow),
                        "INTERVAL": np.full(nrow, TIME_STEP),
                        "EXPOSURE": _dyadic(rng, 1, 5, 2.0, nrow),
                        "ANTENNA1": np.tile(a1, nt).astype(np.int32),
                        "ANTENNA2": np.tile(a2, nt).astype(np.int32),
                        "FIELD_ID": field_of_t[np.repeat(tidx - c0, nbl)],
                        "DATA_DESC_ID": np.full(nrow, ddid, dtype=np.int32),
                        "SCAN_NUMBER": scan_of_t[np.repeat(tidx - c0, nbl)],
                        "ARRAY_ID": np.zeros(nrow, dtype=np.int32),
                        "OBSERVATION_ID": np.zeros(nrow, dtype=np.int32),
                        "PROCESSOR_ID": np.zeros(nrow, dtype=np.int32),
                        "STATE_ID": np.zeros(nrow, dtype=np.int32),
                        "u": uvw[:, 0],
                        "v": uvw[:, 1],
                        "w": uvw[:, 2],
                        "FLAG_ROW": flag.all(axis=(1, 2)),
                    }
                ),
                1 << 16,
            )
            write(
                "ms_weights",
                pa.table(
                    {
                        "row_id": np.repeat(row_id, ncorr),
                        "corr": np.tile(np.arange(ncorr, dtype=np.int32), nrow),
                        "WEIGHT": _dyadic(
                            rng, 1, 1025, 1024.0, (nrow, ncorr)
                        ).ravel(),
                        "SIGMA": _dyadic(
                            rng, 0, 1025, 1024.0, (nrow, ncorr)
                        ).ravel(),
                    }
                ),
                1 << 17,
            )
            shape = (nrow, nchan, ncorr)
            nsamp = nrow * nchan * ncorr
            write(
                "ms_vis",
                pa.table(
                    {
                        "row_id": np.repeat(row_id, nchan * ncorr),
                        "chan": np.tile(
                            np.repeat(np.arange(nchan, dtype=np.int32), ncorr),
                            nrow,
                        ),
                        "corr": np.tile(
                            np.arange(ncorr, dtype=np.int32), nrow * nchan
                        ),
                        "vis_re": _dyadic(
                            rng, -2048, 2048, 1024.0, shape
                        ).reshape(nsamp),
                        "vis_im": _dyadic(
                            rng, -2048, 2048, 1024.0, shape
                        ).reshape(nsamp),
                        "flag": flag.reshape(nsamp),
                        "weight_sp": _dyadic(
                            rng, 1, 1025, 1024.0, shape
                        ).reshape(nsamp),
                        "sigma_sp": _dyadic(
                            rng, 0, 1025, 1024.0, shape
                        ).reshape(nsamp),
                    }
                ),
                1 << 18,
            )
            row0 += nrow
            print(
                f"  gen ddid={ddid} t[{c0}:{c0 + nt}] rows={row0:,}",
                flush=True,
            )
    for w in writers.values():
        w.close()
    # ntime-independent dimension tables: share the x1 fixture's exactly
    x1 = ms_fixture_dir(na=X1_NA, ntime=X1_NTIME)
    for sub in ("spw_chans", "spw_meta", "ddid", "pol", "field", "antenna"):
        shutil.copy(
            os.path.join(x1, f"{sub}.parquet"),
            os.path.join(out, f"{sub}.parquet"),
        )
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok\n")
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_tier(spark, ms_dir: str, trials: int) -> dict:
    from pyspark.sql import functions as F

    from xova_spark.operators import bda as B
    from xova_spark.operators import timechannel as tc
    from xova_spark.queries import bda as bdaq
    from xova_spark.queries import msdomain as msq

    res = {}
    t = load_ms(spark, ms_dir)
    # warm the file listings/footers once so trial 0 isn't IO-cold
    t["ms_rows"].count(), t["ms_vis"].count()
    tcs = []
    for _ in range(trials):
        t0 = time.time()
        bm = tc.bin_map(t["ms_rows"], msq.TIME_BIN_SECS).persist()
        _noop(tc.average_vis(t["ms_vis"], bm, msq.CHAN_BIN))
        tcs.append(time.time() - t0)
        bm.unpersist()
    res["timechannel"] = {"trials": tcs, "median": statistics.median(tcs)}
    bdas = []
    for _ in range(trials):
        t0 = time.time()
        params = B.bin_params(
            t["ms_rows"],
            B.ddid_dims(t),
            bdaq.DECORR,
            bdaq.MAX_FOV,
            bdaq.TIME_CAP,
            bdaq.MIN_NCHAN,
        )
        binned = B.assign_bins(t["ms_rows"], params)
        bm = tc.rep_map(binned, ["chan_fac"]).persist()
        _noop(tc.average_vis(t["ms_vis"], bm, F.col("chan_fac")))
        bdas.append(time.time() - t0)
        bm.unpersist()
    res["bda"] = {"trials": bdas, "median": statistics.median(bdas)}
    return res


def main() -> int:
    trials = 3
    ntime = 3600
    if "--trials" in sys.argv:
        trials = int(sys.argv[sys.argv.index("--trials") + 1])
    if "--ntime" in sys.argv:
        ntime = int(sys.argv[sys.argv.index("--ntime") + 1])
    from xova_spark.session import get_spark

    x1_dir = ms_fixture_dir(na=X1_NA, ntime=X1_NTIME)
    print(f"x1 fixture: {x1_dir}", flush=True)
    big_dir = generate_chunked(na=X1_NA, ntime=ntime)
    print(f"x{ntime // X1_NTIME} fixture: {big_dir}", flush=True)
    spark = get_spark("ms-scale-bench")
    out = {
        "metric": "ms_domain_scale",
        "samples_x1": 9_289_728,
        "samples_big": 9_289_728 * ntime // X1_NTIME,
        "scale_mult": ntime // X1_NTIME,
        "x1": bench_tier(spark, x1_dir, trials),
        "big": bench_tier(spark, big_dir, trials),
    }
    for q in ("timechannel", "bda"):
        out[f"{q}_ratio"] = round(
            out["big"][q]["median"] / out["x1"][q]["median"], 2
        )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

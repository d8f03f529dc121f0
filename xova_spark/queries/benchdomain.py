"""Bench-scale domain queries: the two averaging pipelines at the
reference's acceptance scale.

``timechannel_avg`` / ``bda_avg`` run the full visibility-averaging hot
path on a larger seeded MS fixture (na=64 -> 2016 baselines, 36 times,
~9.3M visibility samples — the reference's testing_data.py scale with
9x the rows and all samples materialized; BASELINE.md's "domain
benchmark ... testing_data scale x100" in sample count). bench.py
times them as headline entries; the driver's correctness gate checks
them against the same DuckDB oracles as the small-fixture twins (the
oracle SQL is the twin's text with the fixture path swapped — identical
semantics, bigger input).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xova_spark.operators import bda as B
from xova_spark.operators import timechannel as tc
from xova_spark.queries import bda as bdaq
from xova_spark.queries import msdomain as msq
from xova_spark.sources.ms_fixture import load_ms, ms_fixture_dir

REGISTRY: dict[str, tuple] = {}

BENCH_NA = 64
BENCH_NTIME = 36
_DIR = ms_fixture_dir(na=BENCH_NA, ntime=BENCH_NTIME)


def _swap(sql: str) -> str:
    return sql.replace(msq._DIR, _DIR)


def timechannel_avg(spark, sf_dir):
    """A1/A1a visibility hot path at bench scale (headline).

    The row->bin map is persisted: average_vis consumes it three times
    (size-gate planning count + both hinted join sides) and each pass
    would otherwise redo the row-table window/joins. O(rows) storage,
    spills — the same trade at 100 TB, where recomputing means three
    extra row-table scans."""
    t = load_ms(spark, _DIR)
    bm = tc.bin_map(t["ms_rows"], msq.TIME_BIN_SECS).persist()
    return tc.average_vis(t["ms_vis"], bm, msq.CHAN_BIN)


def bda_avg(spark, sf_dir):
    """A2 ragged visibility hot path at bench scale (headline).
    Bin map persisted — see timechannel_avg (measured 2.5-3 s -> 1.2 s
    steady-state at the 9.3M-sample fixture)."""
    t = load_ms(spark, _DIR)
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
    return tc.average_vis(t["ms_vis"], bm, F.col("chan_fac"))


REGISTRY["timechannel_avg"] = (timechannel_avg, _swap(msq.REGISTRY["ms_tc_vis"][1]))
REGISTRY["bda_avg"] = (bda_avg, _swap(bdaq.REGISTRY["bda_vis"][1]))

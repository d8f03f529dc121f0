"""BDA query pack — baseline-dependent averaging under the oracle gate.

Registers the A2/V3/J3 surface (reference: xova/apps/xova/averaging.py
:270-354 kernel, :436-722 SPW/DDID regeneration) as ``name ->
(spark_fn, oracle_sql)`` entries over the seeded MS fixture.

The smearing constants KT/KF (sinc-inverse x decorrelation model — see
operators/bda.py docstring) are computed once in Python and embedded as
``repr()`` literals in BOTH the Spark plan and the DuckDB SQL, so every
query-time operation is deterministic IEEE arithmetic and the driver's
value-hash matches exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xova_spark.operators import bda as B
from xova_spark.operators import timechannel as tc
from xova_spark.sources.ms_fixture import load_ms, ms_fixture_dir

REGISTRY: dict[str, tuple] = {}

_DIR = ms_fixture_dir()

DECORR = 0.95
# 0.315 deg puts the decorrelation thresholds mid-range for the
# fixture's 25-91 km baselines and 53.5/26.75 kHz channels: n_int spans
# 1-3 integrations and chan_fac 4-16 channels depending on |b_uv|.
MAX_FOV = 0.315  # degrees
TIME_CAP = 16.0  # seconds (--time-bin-secs cap)
MIN_NCHAN = 2
_KT, _KF = B.bda_constants(DECORR, MAX_FOV)


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _ms(spark):
    return load_ms(spark, _DIR)


def _params(spark):
    t = _ms(spark)
    return t, B.bin_params(
        t["ms_rows"], B.ddid_dims(t), DECORR, MAX_FOV, TIME_CAP, MIN_NCHAN
    )


# Shared oracle CTEs: dims -> per-baseline params -> binned rows.
_PARAMS_CTE = f"""
WITH dims AS (
    SELECT d.DATA_DESC_ID, d.SPECTRAL_WINDOW_ID, m.NUM_CHAN,
        (SELECT max(c.CHAN_FREQ + c.CHAN_WIDTH / 2)
         FROM read_parquet('{_DIR}/spw_chans.parquet') c
         WHERE c.SPECTRAL_WINDOW_ID = d.SPECTRAL_WINDOW_ID) AS nu_max,
        (SELECT max(c.CHAN_WIDTH)
         FROM read_parquet('{_DIR}/spw_chans.parquet') c
         WHERE c.SPECTRAL_WINDOW_ID = d.SPECTRAL_WINDOW_ID) AS chan_width
    FROM read_parquet('{_DIR}/ddid.parquet') d
    JOIN read_parquet('{_DIR}/spw_meta.parquet') m USING (SPECTRAL_WINDOW_ID)
), per_bl AS (
    SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
        max(sqrt(u * u + v * v)) AS bl_uv,
        min(TIME) AS t0,
        min("INTERVAL") AS interval_nom
    FROM read_parquet('{_DIR}/ms_rows.parquet')
    GROUP BY 1, 2, 3, 4, 5
), params AS (
    SELECT p.FIELD_ID, p.DATA_DESC_ID, p.SCAN_NUMBER, p.ANTENNA1, p.ANTENNA2,
        p.bl_uv, p.t0, p.interval_nom,
        greatest(CAST(1 AS BIGINT), least(
            CAST(floor({TIME_CAP!r} / p.interval_nom) AS BIGINT),
            CAST(floor({_KT!r} / (p.bl_uv * dm.nu_max) / p.interval_nom)
                 AS BIGINT))) AS n_int,
        coalesce((SELECT max(g.d)
                  FROM range(1, 65) g(d)
                  WHERE g.d <= dm.NUM_CHAN AND dm.NUM_CHAN % g.d = 0
                    AND (g.d = 1
                         OR CAST(g.d AS DOUBLE) * dm.chan_width
                            <= {_KF!r} / p.bl_uv)
                    AND dm.NUM_CHAN // g.d >= {MIN_NCHAN}), 1) AS chan_fac,
        dm.NUM_CHAN, dm.chan_width, dm.SPECTRAL_WINDOW_ID
    FROM per_bl p
    JOIN dims dm USING (DATA_DESC_ID)
), binned AS (
    SELECT r.*, p.n_int, p.chan_fac,
        CAST(p.NUM_CHAN // p.chan_fac AS INTEGER) AS out_nchan,
        CAST(p.chan_fac AS DOUBLE) * p.chan_width AS decorr_chan_width,
        CAST(floor((r.TIME - p.t0)
                   / (CAST(p.n_int AS DOUBLE) * p.interval_nom)) AS INTEGER)
            AS time_bin
    FROM read_parquet('{_DIR}/ms_rows.parquet') r
    JOIN params p USING (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
                         ANTENNA1, ANTENNA2)
)
"""


@q(
    "bda_bin_params",
    _PARAMS_CTE
    + """
SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
    bl_uv, t0, interval_nom, n_int,
    CAST(chan_fac AS INTEGER) AS chan_fac,
    CAST(NUM_CHAN // chan_fac AS INTEGER) AS out_nchan,
    CAST(chan_fac AS DOUBLE) * chan_width AS decorr_chan_width
FROM params
""",
)
def bda_bin_params(spark, sf_dir):
    """A2 phase 1: per-baseline decorrelation-derived bin parameters —
    long baselines get small n_int/chan_fac, short ones large (the
    defining BDA property, averaging.py:313-317 kwargs)."""
    _, params = _params(spark)
    return params


_BDA_ROWS_SELECT = """
SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, time_bin,
    avg(TIME) AS TIME,
    sum("INTERVAL") AS "INTERVAL",
    coalesce(sum(EXPOSURE) FILTER (WHERE NOT FLAG_ROW), sum(EXPOSURE))
        AS EXPOSURE,
    coalesce(sum(EXPOSURE * TIME_CENTROID) FILTER (WHERE NOT FLAG_ROW)
                 / sum(EXPOSURE) FILTER (WHERE NOT FLAG_ROW),
             sum(EXPOSURE * TIME_CENTROID) / sum(EXPOSURE)) AS TIME_CENTROID,
    coalesce(avg(u) FILTER (WHERE NOT FLAG_ROW), avg(u)) AS u,
    coalesce(avg(v) FILTER (WHERE NOT FLAG_ROW), avg(v)) AS v,
    coalesce(avg(w) FILTER (WHERE NOT FLAG_ROW), avg(w)) AS w,
    bool_and(FLAG_ROW) AS FLAG_ROW,
    count(*) FILTER (WHERE NOT FLAG_ROW) AS n_unflagged,
    count(*) AS n_rows,
    any_value(ARRAY_ID) AS ARRAY_ID,
    any_value(OBSERVATION_ID) AS OBSERVATION_ID,
    any_value(PROCESSOR_ID) AS PROCESSOR_ID,
    any_value(STATE_ID) AS STATE_ID,
    any_value(out_nchan) AS NUM_CHAN,
    any_value(decorr_chan_width) AS DECORR_CHAN_WIDTH
FROM binned
GROUP BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, time_bin
"""


@q("bda_rows", _PARAMS_CTE + _BDA_ROWS_SELECT)
def bda_rows(spark, sf_dir):
    """A2 phase 2a: row-level averaging on baseline-dependent time bins,
    with ragged NUM_CHAN / DECORR_CHAN_WIDTH outputs
    (averaging.py:159-164)."""
    t, params = _params(spark)
    return tc.average_binned_rows(
        B.assign_bins(t["ms_rows"], params), constants=B.RAGGED_COLS
    )


@q(
    "bda_vis",
    _PARAMS_CTE
    + f"""
SELECT b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
    b.time_bin,
    CAST(floor(v.chan / b.chan_fac) AS INTEGER) AS chan_bin, v.corr,
    CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
         THEN sum(v.weight_sp * v.vis_re) FILTER (WHERE NOT v.flag)
              / sum(v.weight_sp) FILTER (WHERE NOT v.flag)
         ELSE sum(v.weight_sp * v.vis_re) / sum(v.weight_sp) END AS vis_re,
    CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
         THEN sum(v.weight_sp * v.vis_im) FILTER (WHERE NOT v.flag)
              / sum(v.weight_sp) FILTER (WHERE NOT v.flag)
         ELSE sum(v.weight_sp * v.vis_im) / sum(v.weight_sp) END AS vis_im,
    bool_and(v.flag) AS flag,
    CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
         THEN sum(v.weight_sp) FILTER (WHERE NOT v.flag)
         ELSE sum(v.weight_sp) END AS weight_sp,
    sqrt(CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
              THEN sum(v.weight_sp * v.weight_sp * v.sigma_sp * v.sigma_sp)
                   FILTER (WHERE NOT v.flag)
              ELSE sum(v.weight_sp * v.weight_sp * v.sigma_sp * v.sigma_sp)
         END)
        / (CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
                THEN sum(v.weight_sp) FILTER (WHERE NOT v.flag)
                ELSE sum(v.weight_sp) END) AS sigma_sp,
    count(*) AS n_samples
FROM read_parquet('{_DIR}/ms_vis.parquet') v
JOIN binned b USING (row_id)
GROUP BY b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
         b.time_bin, chan_bin, v.corr
""",
)
def bda_vis(spark, sf_dir):
    """A2 phase 2b: ragged visibility averaging — channel bin width
    varies per baseline (averaging.py:338-342, format='ragged')."""
    t, params = _params(spark)
    binned = B.assign_bins(t["ms_rows"], params)
    return tc.average_vis(
        t["ms_vis"], tc.rep_map(binned, ["chan_fac"]), F.col("chan_fac")
    )


@q(
    "bda_rows_remapped",
    _PARAMS_CTE
    + """
, avg_rows AS (
"""
    + _BDA_ROWS_SELECT
    + """
), dist AS (
    SELECT DISTINCT DATA_DESC_ID,
        CAST(NUM_CHAN // chan_fac AS INTEGER) AS out_nchan
    FROM params
), dmap AS (
    SELECT DATA_DESC_ID, out_nchan,
        CAST(dense_rank() OVER (ORDER BY DATA_DESC_ID, out_nchan) - 1
             AS INTEGER) AS NEW_DATA_DESC_ID
    FROM dist
)
SELECT a.*, m.NEW_DATA_DESC_ID
FROM avg_rows a
JOIN dmap m ON m.DATA_DESC_ID = a.DATA_DESC_ID AND m.out_nchan = a.NUM_CHAN
""",
)
def bda_rows_remapped(spark, sf_dir):
    """Full A2+J3 composition: averaged rows with their DATA_DESC_ID
    remapped to the reminted DDIDs of regrid's ddid_map (the output-row
    surface a consumer of `xova bda` actually reads;
    averaging.py:693-705)."""
    t, params = _params(spark)
    return B._remap_rows(
        tc.average_binned_rows(
            B.assign_bins(t["ms_rows"], params), constants=B.RAGGED_COLS
        ),
        B.regrid(params, B.ddid_dims(t))["ddid_map"],
    )


@q(
    "bda_spw_grid",
    _PARAMS_CTE
    + f"""
, band AS (
    SELECT SPECTRAL_WINDOW_ID,
        min(CHAN_FREQ - CHAN_WIDTH / 2) AS f_start,
        sum(CHAN_WIDTH) AS band
    FROM read_parquet('{_DIR}/spw_chans.parquet')
    GROUP BY SPECTRAL_WINDOW_ID
), dist AS (
    SELECT DISTINCT SPECTRAL_WINDOW_ID,
        CAST(NUM_CHAN // chan_fac AS INTEGER) AS out_nchan
    FROM params
), keyed AS (
    SELECT *,
        CAST(dense_rank() OVER (ORDER BY SPECTRAL_WINDOW_ID, out_nchan) - 1
             AS INTEGER) AS NEW_SPW_ID
    FROM dist
)
SELECT k.NEW_SPW_ID, k.SPECTRAL_WINDOW_ID,
    k.out_nchan AS NUM_CHAN,
    CAST(g.i AS INTEGER) AS chan,
    b.f_start + (CAST(g.i AS DOUBLE) + 0.5) * (b.band / CAST(k.out_nchan AS DOUBLE))
        AS CHAN_FREQ,
    b.band / CAST(k.out_nchan AS DOUBLE) AS CHAN_WIDTH,
    b.band AS TOTAL_BANDWIDTH
FROM keyed k
JOIN band b USING (SPECTRAL_WINDOW_ID)
CROSS JOIN range(0, 64) g(i)
WHERE g.i < k.out_nchan
""",
)
def bda_spw_grid(spark, sf_dir):
    """V3: reminted SPECTRAL_WINDOW grids — one uniform linspace per
    distinct (SPW, out_nchan) channelisation, built on the driver by
    regrid (averaging.py:504-523)."""
    t, params = _params(spark)
    return B.regrid(params, B.ddid_dims(t))["spw"]


@q(
    "bda_ddid_map",
    _PARAMS_CTE
    + """
, dist AS (
    SELECT DISTINCT p.DATA_DESC_ID, p.SPECTRAL_WINDOW_ID, d.POLARIZATION_ID,
        CAST(p.NUM_CHAN // p.chan_fac AS INTEGER) AS out_nchan
    FROM params p
    JOIN read_parquet('{dir}/ddid.parquet') d USING (DATA_DESC_ID)
)
SELECT DATA_DESC_ID, out_nchan,
    CAST(dense_rank() OVER (ORDER BY DATA_DESC_ID, out_nchan) - 1 AS INTEGER)
        AS NEW_DATA_DESC_ID,
    CAST(dense_rank() OVER (ORDER BY SPECTRAL_WINDOW_ID, out_nchan) - 1
         AS INTEGER) AS NEW_SPW_ID,
    POLARIZATION_ID
FROM dist
""".format(dir=_DIR),
)
def bda_ddid_map(spark, sf_dir):
    """J3: (DATA_DESC_ID, out_nchan) -> new DDID/SPW remap, minted on
    the driver by regrid (averaging.py:527-547,693-698)."""
    t, params = _params(spark)
    return B.regrid(params, B.ddid_dims(t))["ddid_map"]


def _greedy_binned(spark):
    """The greedy-binned row map shared by bda_rows_greedy and
    bda_vis_greedy: assign_bins' params columns joined with the
    bit-greedy (row_id -> time_bin) map. Its lineage contains the
    applyInPandas greedy stage, and downstream consumers scan it twice
    (the row-map and the bin-dim join sides of average_vis) —
    routed through the session-scoped ``shared`` registry so the stage
    runs ONCE per session by construction (not by cache plan-equality)
    and the gate driver unpersists it at exit. O(rows) storage, spills."""
    from xova_spark.sharedframes import shared

    def build():
        t, params = _params(spark)
        binned = B.assign_bins(t["ms_rows"], params).drop("time_bin")
        gmap = B.greedy_bda_map(t["ms_rows"], params)
        return binned.join(gmap, "row_id")

    return shared(spark, ("bda_greedy_binned", _DIR), build)


@q("bda_rows_greedy", _PARAMS_CTE + _BDA_ROWS_SELECT)
def bda_rows_greedy(spark, sf_dir):
    """A2 with BIT-GREEDY bin boundaries (the africanus accumulate-and-
    reset closure, operators/bda.greedy_bda_map) instead of the floor
    grid — the SURVEY §7 'same bins' alternative to 'same math'. The
    oracle is the floor-binned SQL: on the fixture's uniform cadence the
    two disciplines provably coincide, which IS the parity statement."""
    from pyspark.sql import functions as F

    return tc.average_binned_rows(
        _greedy_binned(spark), constants=B.RAGGED_COLS
    )


_BDA_VIS_SQL = REGISTRY["bda_vis"][1]


@q("bda_vis_greedy", _BDA_VIS_SQL)
def bda_vis_greedy(spark, sf_dir):
    """Full A2 visibility aggregation under BIT-GREEDY bin boundaries:
    greedy_bda_map's (row_id -> time_bin) swapped into the pipeline
    before rep_map — the ragged channel averaging is untouched. Same
    coincidence oracle as bda_rows_greedy (uniform cadence => greedy ==
    floor grid)."""
    t, _ = _params(spark)
    return tc.average_vis(
        t["ms_vis"],
        tc.rep_map(_greedy_binned(spark), ["chan_fac"]),
        F.col("chan_fac"),
    )


@q(
    "bda_compression_report",
    _PARAMS_CTE
    + """
SELECT ANTENNA1, ANTENNA2,
    CAST(count(*) AS BIGINT) AS rows_in,
    CAST(count(DISTINCT (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, time_bin))
         AS BIGINT) AS rows_out,
    CAST(count(*) * 1000
         // count(DISTINCT (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, time_bin))
         AS BIGINT) AS row_ratio_permille,
    CAST(min(chan_fac) AS INTEGER) AS min_chan_fac,
    CAST(max(chan_fac) AS INTEGER) AS max_chan_fac,
    round(max(sqrt(u * u + v * v)), 6) AS bl_uv
FROM binned
GROUP BY ANTENNA1, ANTENNA2
""",
)
def bda_compression_report(spark, sf_dir):
    """BDA COMPRESSION REPORT — the operational readout of what the
    baseline-dependent averaging actually buys, per baseline: input
    rows vs output bins (integer-permille row compression) and the
    channel-folding range, alongside the baseline length. The defining
    BDA curve — short baselines compress hard, long ones barely — is
    visible directly in this table (pinned in tests), which is what an
    operator checks before committing a compression config to a
    100 TB observation.

    Plan: the same broadcast params join as the pipeline itself, then
    ONE partial-aggregated shuffle keyed on the baseline."""
    t, params = _params(spark)
    binned = B.assign_bins(t["ms_rows"], params)
    out_key = F.struct("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "time_bin")
    return (
        binned.groupBy("ANTENNA1", "ANTENNA2")
        .agg(
            F.count("*").cast("long").alias("rows_in"),
            F.count_distinct(out_key).cast("long").alias("rows_out"),
            F.expr(
                "count(*) * 1000 div count(DISTINCT "
                "struct(FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, time_bin))"
            ).cast("long").alias("row_ratio_permille"),
            F.min("chan_fac").cast("int").alias("min_chan_fac"),
            F.max("chan_fac").cast("int").alias("max_chan_fac"),
            F.round(F.max("bl_uv"), 6).alias("bl_uv"),
        )
    )

"""MS-domain query pack — the averaging engine under the driver's oracle gate.

The reference's whole product surface (time+channel averaging, SPW
averaging, schema check — reference: xova/apps/xova/averaging.py:184-406,
check.py:22-76) is registered here as ``name -> (spark_fn, oracle_sql)``
entries. Inputs are the seeded synthetic MS fixture
(xova_spark/sources/ms_fixture.py — the analogue of the reference's
xova/testing_data.py), materialized as parquet under the repo cache; the
DuckDB oracle reads the same files via ``read_parquet``.

Every fixture value is a dyadic rational (see ms_fixture docstring), so
all sums are exact in float64 and Spark/DuckDB agree bit-for-bit with no
rounding — these queries hold to the same EXACT standard as the
relational pack.

``sf_dir`` is accepted for driver-contract uniformity but unused: the MS
fixture is its own (seeded, deterministic) dataset.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from xova_spark.operators import timechannel as tc
from xova_spark.operators.check import check_ms, check_spw
from xova_spark.sources.ms_fixture import NA, load_ms, ms_fixture_dir

REGISTRY: dict[str, tuple] = {}

# Generated at import so the oracle SQL's read_parquet paths exist before
# either side of the driver's comparison runs.
_DIR = ms_fixture_dir()

TIME_BIN_SECS = 4.0  # 2 s cadence, 3 times per scan -> bins of 2 and 1 rows
CHAN_BIN = 16

_BIN_CTE = f"""
WITH b AS (
    SELECT *,
        CAST(floor((TIME - min(TIME) OVER (
            PARTITION BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
                         ANTENNA1, ANTENNA2)) / {TIME_BIN_SECS}) AS INTEGER)
        AS time_bin
    FROM read_parquet('{_DIR}/ms_rows.parquet')
)
"""


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _ms(spark):
    return load_ms(spark, _DIR)


# ---------------------------------------------------------------------------
# A1/A1a — time averaging of row-level columns (averaging.py:184-267)
# ---------------------------------------------------------------------------

_TC_ROWS_SELECT = """
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
    any_value(STATE_ID) AS STATE_ID
FROM b
{where}
GROUP BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, time_bin
"""


@q("ms_tc_rows", _BIN_CTE + _TC_ROWS_SELECT.format(where=""))
def ms_tc_rows(spark, sf_dir):
    """A1 row averaging: TIME mean / INTERVAL sum over all rows;
    EXPOSURE-weighted TIME_CENTROID, UVW means over unflagged rows with
    fully-flagged fallback (averaging.py:251-255 kernel contract)."""
    t = _ms(spark)
    return tc.average_rows(t["ms_rows"], TIME_BIN_SECS)


@q("ms_tc_rows_greedy", _BIN_CTE + _TC_ROWS_SELECT.format(where=""))
def ms_tc_rows_greedy(spark, sf_dir):
    """A7: bit-exact greedy bin boundaries (chunking.py:107-166) via the
    two-phase plan (unique-time stats -> applyInPandas greedy scan ->
    broadcast join-back), feeding the same A1a aggregation. On the
    fixture's uniform cadence the greedy bins coincide with the floor
    binning, so the same SQL is the oracle for BOTH paths — what the
    hash check verifies is the applyInPandas planning machinery."""
    from xova_spark.operators.chunking import assign_greedy_bins

    t = _ms(spark)
    return tc.average_binned_rows(
        assign_greedy_bins(t["ms_rows"], TIME_BIN_SECS)
    )


@q(
    "ms_tc_rows_fieldsel",
    _BIN_CTE
    + _TC_ROWS_SELECT.format(where="WHERE FIELD_ID IN (0) AND SCAN_NUMBER IN (0, 2)"),
)
def ms_tc_rows_fieldsel(spark, sf_dir):
    """P1 partition-value selection composed with A1
    (averaging.py:218-221 field/scan filters)."""
    t = _ms(spark)
    return tc.average_rows(t["ms_rows"], TIME_BIN_SECS, fields=[0], scans=[0, 2])


@q(
    "ms_tc_weights",
    _BIN_CTE
    + f"""
SELECT b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
    b.time_bin, w.corr,
    coalesce(sum(w.WEIGHT) FILTER (WHERE NOT b.FLAG_ROW), sum(w.WEIGHT))
        AS WEIGHT,
    sqrt(coalesce(sum(w.WEIGHT * w.WEIGHT * w.SIGMA * w.SIGMA)
                      FILTER (WHERE NOT b.FLAG_ROW),
                  sum(w.WEIGHT * w.WEIGHT * w.SIGMA * w.SIGMA)))
        / coalesce(sum(w.WEIGHT) FILTER (WHERE NOT b.FLAG_ROW), sum(w.WEIGHT))
        AS SIGMA
FROM read_parquet('{_DIR}/ms_weights.parquet') w
JOIN b USING (row_id)
GROUP BY b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
         b.time_bin, w.corr
""",
)
def ms_tc_weights(spark, sf_dir):
    """A1a WEIGHT sum / SIGMA weighted-RMS per (bin, corr)."""
    t = _ms(spark)
    return tc.average_weights(
        t["ms_weights"], tc.bin_map(t["ms_rows"], TIME_BIN_SECS)
    )


_VIS_UNFL = "count(*) FILTER (WHERE NOT v.flag) > 0"
_VIS_WSUM = (
    f"CASE WHEN {_VIS_UNFL} THEN sum(v.weight_sp) FILTER (WHERE NOT v.flag) "
    "ELSE sum(v.weight_sp) END"
)


def _vis_wmean(x: str) -> str:
    return (
        f"CASE WHEN {_VIS_UNFL} "
        f"THEN sum(v.weight_sp * v.{x}) FILTER (WHERE NOT v.flag) "
        f"     / sum(v.weight_sp) FILTER (WHERE NOT v.flag) "
        f"ELSE sum(v.weight_sp * v.{x}) / sum(v.weight_sp) END"
    )


_VIS_W2S2 = (
    f"CASE WHEN {_VIS_UNFL} "
    "THEN sum(v.weight_sp * v.weight_sp * v.sigma_sp * v.sigma_sp) "
    "         FILTER (WHERE NOT v.flag) "
    "ELSE sum(v.weight_sp * v.weight_sp * v.sigma_sp * v.sigma_sp) END"
)


@q(
    "ms_tc_vis",
    _BIN_CTE
    + f"""
SELECT b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
    b.time_bin,
    CAST(floor(v.chan / {CHAN_BIN}) AS INTEGER) AS chan_bin, v.corr,
    {_vis_wmean("vis_re")} AS vis_re,
    {_vis_wmean("vis_im")} AS vis_im,
    bool_and(v.flag) AS flag,
    {_VIS_WSUM} AS weight_sp,
    sqrt({_VIS_W2S2}) / ({_VIS_WSUM}) AS sigma_sp,
    count(*) AS n_samples
FROM read_parquet('{_DIR}/ms_vis.parquet') v
JOIN b USING (row_id)
GROUP BY b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
         b.time_bin, chan_bin, v.corr
""",
)
def ms_tc_vis(spark, sf_dir):
    """A1/A1a visibility averaging: WEIGHT_SPECTRUM-weighted complex mean
    per (time_bin, chan_bin, corr) over unflagged samples, flagged-set
    fallback; FLAG out = all inputs flagged (averaging.py:225)."""
    t = _ms(spark)
    return tc.average_vis(
        t["ms_vis"], tc.bin_map(t["ms_rows"], TIME_BIN_SECS), CHAN_BIN
    )


@q(
    "ms_tc_vis_renamed",
    None,  # patched below once ms_tc_vis's SQL exists
)
def ms_tc_vis_renamed(spark, sf_dir):
    """P3 column rename map (-dc CORRECTED_DATA:DATA — arguments.py
    :231-245, applied averaging.py:257-259): the averaged visibility
    columns land under the DATA name."""
    t = _ms(spark)
    out = tc.average_vis(t["ms_vis"], tc.bin_map(t["ms_rows"], TIME_BIN_SECS), CHAN_BIN)
    return out.withColumnsRenamed({"vis_re": "DATA_re", "vis_im": "DATA_im"})


@q(
    "ms_flag_category",
    f"""
SELECT row_id, CAST(0 AS INTEGER) AS flagcat, chan, corr, flag
FROM read_parquet('{_DIR}/ms_vis.parquet')
""",
)
def ms_flag_category(spark, sf_dir):
    """P5 axis-insert projection: FLAG -> FLAG_CATEGORY by inserting a
    singleton category axis (averaging.py:80-94) — in the long layout a
    constant flagcat=0 index column."""
    t = _ms(spark)
    return t["ms_vis"].select(
        "row_id", F.lit(0).alias("flagcat"), "chan", "corr", "flag"
    )


# ---------------------------------------------------------------------------
# A3 — SPW channel metadata averaging (averaging.py:357-406)
# ---------------------------------------------------------------------------


@q(
    "ms_tc_spw_chans",
    f"""
SELECT SPECTRAL_WINDOW_ID,
    CAST(floor(chan / {CHAN_BIN}) AS INTEGER) AS chan,
    avg(CHAN_FREQ) AS CHAN_FREQ,
    sum(CHAN_WIDTH) AS CHAN_WIDTH,
    sum(EFFECTIVE_BW) AS EFFECTIVE_BW,
    sum(RESOLUTION) AS RESOLUTION
FROM read_parquet('{_DIR}/spw_chans.parquet')
GROUP BY SPECTRAL_WINDOW_ID, CAST(floor(chan / {CHAN_BIN}) AS INTEGER)
""",
)
def ms_tc_spw_chans(spark, sf_dir):
    """A3 SPW channel averaging, on the driver (averaging.py:357-406)."""
    t = _ms(spark)
    out_chans, _ = tc.average_spw(t["spw_chans"], t["spw_meta"], CHAN_BIN)
    return out_chans


@q(
    "ms_tc_spw_meta",
    f"""
WITH oc AS (
    SELECT SPECTRAL_WINDOW_ID,
        CAST(floor(chan / {CHAN_BIN}) AS INTEGER) AS chan,
        sum(CHAN_WIDTH) AS CHAN_WIDTH
    FROM read_parquet('{_DIR}/spw_chans.parquet')
    GROUP BY 1, 2
)
SELECT oc.SPECTRAL_WINDOW_ID,
    CAST(count(*) AS INTEGER) AS NUM_CHAN,
    sum(oc.CHAN_WIDTH) AS TOTAL_BANDWIDTH,
    any_value(m.REF_FREQUENCY) AS REF_FREQUENCY
FROM oc
JOIN read_parquet('{_DIR}/spw_meta.parquet') m USING (SPECTRAL_WINDOW_ID)
GROUP BY oc.SPECTRAL_WINDOW_ID
""",
)
def ms_tc_spw_meta(spark, sf_dir):
    """A3 NUM_CHAN/TOTAL_BANDWIDTH of the averaged SPWs, on the driver."""
    t = _ms(spark)
    _, out_meta = tc.average_spw(t["spw_chans"], t["spw_meta"], CHAN_BIN)
    return out_meta


# ---------------------------------------------------------------------------
# V1 — `xova check` shape conformance (check.py:22-76)
# ---------------------------------------------------------------------------


@q(
    "ms_check_shape",
    f"""
WITH shapes AS (
    SELECT row_id, max(chan) + 1 AS actual_nchan, max(corr) + 1 AS actual_ncorr,
           count(*) AS n_samples
    FROM read_parquet('{_DIR}/ms_vis.parquet') GROUP BY row_id
), expected AS (
    SELECT d.DATA_DESC_ID, s.NUM_CHAN, p.NUM_CORR
    FROM read_parquet('{_DIR}/ddid.parquet') d
    JOIN read_parquet('{_DIR}/spw_meta.parquet') s USING (SPECTRAL_WINDOW_ID)
    JOIN read_parquet('{_DIR}/pol.parquet') p USING (POLARIZATION_ID)
)
SELECT count(*) AS n_rows,
    count(*) FILTER (WHERE actual_nchan != NUM_CHAN
                        OR actual_ncorr != NUM_CORR
                        OR n_samples != NUM_CHAN * NUM_CORR) AS n_violations
FROM read_parquet('{_DIR}/ms_rows.parquet') r
JOIN shapes USING (row_id)
JOIN expected USING (DATA_DESC_ID)
""",
)
def ms_check_shape(spark, sf_dir):
    """V1 conformance as a single summary row (violations == 0 on a
    well-formed MS; the violating-row set itself is check_ms's output)."""
    t = _ms(spark)
    n_violations = check_ms(t).count()
    n_rows = t["ms_rows"].count()
    return spark.createDataFrame(
        [(n_rows, n_violations)], "n_rows: bigint, n_violations: bigint"
    )


@q(
    "ms_check_spw",
    f"""
WITH chans AS (
    SELECT *, lag(CHAN_FREQ) OVER (
        PARTITION BY SPECTRAL_WINDOW_ID ORDER BY chan) AS prev_freq
    FROM read_parquet('{_DIR}/spw_chans.parquet')
), per_spw AS (
    SELECT SPECTRAL_WINDOW_ID, count(*) AS n_chans,
        max(CASE WHEN prev_freq IS NOT NULL AND CHAN_FREQ <= prev_freq
                 THEN 1 ELSE 0 END) AS non_increasing
    FROM chans GROUP BY SPECTRAL_WINDOW_ID
)
SELECT count(*) AS n_spws,
    count(*) FILTER (WHERE n_chans != NUM_CHAN OR n_chans = 0
                        OR non_increasing = 1) AS n_violations
FROM per_spw
JOIN read_parquet('{_DIR}/spw_meta.parquet') USING (SPECTRAL_WINDOW_ID)
""",
)
def ms_check_spw(spark, sf_dir):
    """SPW invariants (averaging.py:488-493): monotone CHAN_FREQ,
    non-empty, NUM_CHAN consistency — summarized."""
    t = _ms(spark)
    n_violations = check_spw(t).count()
    n_spws = t["spw_meta"].count()
    return spark.createDataFrame(
        [(n_spws, n_violations)], "n_spws: bigint, n_violations: bigint"
    )


# ---------------------------------------------------------------------------
# P2 / P6 / A6 / A9 / A4 — derivations and planning aggregates
# ---------------------------------------------------------------------------


@q(
    "ms_flag_row_derive",
    f"""
WITH derived AS (
    SELECT row_id, bool_and(flag) AS fr_derived
    FROM read_parquet('{_DIR}/ms_vis.parquet') GROUP BY row_id
)
SELECT count(*) AS n_rows,
    count(*) FILTER (WHERE fr_derived != FLAG_ROW) AS n_mismatch
FROM read_parquet('{_DIR}/ms_rows.parquet')
JOIN derived USING (row_id)
""",
)
def ms_flag_row_derive(spark, sf_dir):
    """P2: FLAG_ROW = all(FLAG over chan,corr) (averaging.py:224-225);
    verifies the derivation against the stored column."""
    t = _ms(spark)
    derived = (
        t["ms_vis"].groupBy("row_id").agg(F.bool_and("flag").alias("fr_derived"))
    )
    j = t["ms_rows"].select("row_id", "FLAG_ROW").join(derived, "row_id")
    return j.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("fr_derived") != F.col("FLAG_ROW"), 1)).alias(
            "n_mismatch"
        ),
    )


@q(
    "ms_baseline_index",
    f"""
SELECT DISTINCT ANTENNA1, ANTENNA2,
    CAST(ANTENNA1 * (2 * {NA} - ANTENNA1 - 1) / 2
         + (ANTENNA2 - ANTENNA1 - 1) AS INTEGER) AS bl_idx
FROM read_parquet('{_DIR}/ms_rows.parquet')
""",
)
def ms_baseline_index(spark, sf_dir):
    """P6 baseline index from (ANTENNA1, ANTENNA2) (fixvis.py:39-71):
    row-major upper-triangle enumeration, no autocorrelations."""
    t = _ms(spark)
    a1, a2 = F.col("ANTENNA1"), F.col("ANTENNA2")
    return (
        t["ms_rows"]
        .select("ANTENNA1", "ANTENNA2")
        .distinct()
        .withColumn(
            "bl_idx",
            (a1 * (2 * NA - a1 - 1) / 2 + (a2 - a1 - 1)).cast("int"),
        )
    )


@q(
    "ms_chunk_stats",
    f"""
SELECT TIME, count(*) AS n_rows, sum("INTERVAL") AS sum_interval,
    arg_max(row_id, u * u + v * v + w * w) AS max_uvw_row,
    max(u * u + v * v + w * w) AS max_uvw_dist
FROM read_parquet('{_DIR}/ms_rows.parquet')
GROUP BY TIME
""",
)
def ms_chunk_stats(spark, sf_dir):
    """A6 chunk-planning aggregate (chunking.py:13-65): per unique TIME,
    row count + interval sum + argmax-|uvw|² row."""
    t = _ms(spark)
    dist = F.col("u") * F.col("u") + F.col("v") * F.col("v") + F.col("w") * F.col("w")
    return t["ms_rows"].groupBy("TIME").agg(
        F.count("*").alias("n_rows"),
        F.sum("INTERVAL").alias("sum_interval"),
        F.max_by("row_id", dist).alias("max_uvw_row"),
        F.max(dist).alias("max_uvw_dist"),
    )


@q(
    "ms_time_monotonic",
    f"""
WITH lagged AS (
    SELECT TIME, lag(TIME) OVER (
        PARTITION BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2
        ORDER BY TIME, row_id) AS prev_time
    FROM read_parquet('{_DIR}/ms_rows.parquet')
)
SELECT count(*) AS n_rows,
    count(*) FILTER (WHERE prev_time IS NOT NULL AND TIME < prev_time)
        AS n_violations
FROM lagged
""",
)
def ms_time_monotonic(spark, sf_dir):
    """A9 monotonicity enforcement (chunking.py:267,287-289) as a lag
    window check."""
    t = _ms(spark)
    w = Window.partitionBy(*tc.PART_KEYS, *tc.BL_KEYS).orderBy("TIME", "row_id")
    lagged = t["ms_rows"].withColumn("prev_time", F.lag("TIME").over(w))
    return lagged.agg(
        F.count("*").alias("n_rows"),
        F.count(
            F.when(
                F.col("prev_time").isNotNull()
                & (F.col("TIME") < F.col("prev_time")),
                1,
            )
        ).alias("n_violations"),
    )


@q(
    "ms_distinct_chanisation",
    f"""
SELECT DISTINCT d.DATA_DESC_ID, d.SPECTRAL_WINDOW_ID, d.POLARIZATION_ID,
    s.NUM_CHAN, p.NUM_CORR
FROM read_parquet('{_DIR}/ddid.parquet') d
JOIN read_parquet('{_DIR}/spw_meta.parquet') s USING (SPECTRAL_WINDOW_ID)
JOIN read_parquet('{_DIR}/pol.parquet') p USING (POLARIZATION_ID)
""",
)
def ms_distinct_chanisation(spark, sf_dir):
    """A4/A5 distinct (DDID, SPW, POL, NUM_CHAN) channelisation tuples
    (averaging.py:409-433) via broadcast dimension joins."""
    t = _ms(spark)
    return (
        t["ddid"]
        .join(F.broadcast(t["spw_meta"].select("SPECTRAL_WINDOW_ID", "NUM_CHAN")),
              "SPECTRAL_WINDOW_ID")
        .join(F.broadcast(t["pol"].select("POLARIZATION_ID", "NUM_CORR")),
              "POLARIZATION_ID")
        .select("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID",
                "NUM_CHAN", "NUM_CORR")
        .distinct()
    )


@q(
    "ms_tc_vis_noweightsp",
    _BIN_CTE
    + f"""
SELECT b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
    b.time_bin,
    CAST(floor(v.chan / {CHAN_BIN}) AS INTEGER) AS chan_bin, v.corr,
    CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
         THEN sum(w.WEIGHT * v.vis_re) FILTER (WHERE NOT v.flag)
              / sum(w.WEIGHT) FILTER (WHERE NOT v.flag)
         ELSE sum(w.WEIGHT * v.vis_re) / sum(w.WEIGHT) END AS vis_re,
    CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
         THEN sum(w.WEIGHT * v.vis_im) FILTER (WHERE NOT v.flag)
              / sum(w.WEIGHT) FILTER (WHERE NOT v.flag)
         ELSE sum(w.WEIGHT * v.vis_im) / sum(w.WEIGHT) END AS vis_im,
    bool_and(v.flag) AS flag,
    count(*) AS n_samples
FROM read_parquet('{_DIR}/ms_vis.parquet') v
JOIN read_parquet('{_DIR}/ms_weights.parquet') w USING (row_id, corr)
JOIN b USING (row_id)
GROUP BY b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
         b.time_bin, chan_bin, v.corr
""",
)
def ms_tc_vis_noweightsp(spark, sf_dir):
    """A1a with WEIGHT_SPECTRUM ABSENT (it is optional in the reference,
    averaging.py:167-169): the per-(row, corr) WEIGHT column stands in
    as the sample weight — one extra broadcast-able join against the
    weights table, same aggregation shape."""
    t = _ms(spark)
    vis = t["ms_vis"].drop("weight_sp", "sigma_sp").join(
        t["ms_weights"].select("row_id", "corr", F.col("WEIGHT").alias("weight_sp")),
        ["row_id", "corr"],
    )
    bins = tc.bin_map(t["ms_rows"], TIME_BIN_SECS)
    out = tc.average_vis(
        vis.withColumn("sigma_sp", F.lit(0.0)), bins, CHAN_BIN
    )
    return out.drop("weight_sp", "sigma_sp")


@q(
    "ms_layout_roundtrip",
    f"""
SELECT row_id, chan, corr, vis_re, vis_im, flag, weight_sp, sigma_sp
FROM read_parquet('{_DIR}/ms_vis.parquet')
""",
)
def ms_layout_roundtrip(spark, sf_dir):
    """SURVEY §1.4 layout adapters: long -> MS-shaped nested arrays
    (DATA as [chan][corr] re/im structs) -> long must be the identity;
    the oracle is the untouched input table."""
    from xova_spark.functions.layout import to_array_form, to_long_form

    t = _ms(spark)
    return to_long_form(to_array_form(t["ms_vis"]))


@q(
    "ms_source_scan",
    f"""
SELECT row_id, TIME, ANTENNA1, ANTENNA2, u, v, w
FROM read_parquet('{_DIR}/ms_rows.parquet')
WHERE FIELD_ID = 0 AND SCAN_NUMBER = 0
""",
)
def ms_source_scan(spark, sf_dir):
    """S1 through the custom Python DataSource (sources/ms_datasource):
    format('xova_ms') scan with EqualTo filters pushed into the source
    (row-group stats skipping + arrow-batch row filtering)."""
    from xova_spark.sources.ms_datasource import MSDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MSDataSource)
    return (
        spark.read.format("xova_ms")
        .load(_DIR)
        .filter((F.col("FIELD_ID") == 0) & (F.col("SCAN_NUMBER") == 0))
        .select("row_id", "TIME", "ANTENNA1", "ANTENNA2", "u", "v", "w")
    )


# P3's oracle is ms_tc_vis's SQL with the output aliases renamed —
# exactly the semantics of the reference's rename map.
REGISTRY["ms_tc_vis_renamed"] = (
    ms_tc_vis_renamed,
    REGISTRY["ms_tc_vis"][1]
    .replace("AS vis_re", "AS DATA_re")
    .replace("AS vis_im", "AS DATA_im"),
)


_UV_D = 500.0  # proximity radius (fixture uv spread ~20k)


@q(
    "ms_uv_proximity_join",
    f"""
    WITH bl AS (
      SELECT ANTENNA1, ANTENNA2, avg(u) AS mu, avg(v) AS mv
      FROM read_parquet('{_DIR}/ms_rows.parquet') GROUP BY 1, 2
    )
    SELECT a.ANTENNA1 AS a1_a, a.ANTENNA2 AS a2_a,
           b.ANTENNA1 AS a1_b, b.ANTENNA2 AS a2_b,
           round((a.mu - b.mu) * (a.mu - b.mu)
                 + (a.mv - b.mv) * (a.mv - b.mv), 6) AS dist_sq
    FROM bl a JOIN bl b
      ON (a.ANTENNA1 * 256 + a.ANTENNA2) < (b.ANTENNA1 * 256 + b.ANTENNA2)
     AND (a.mu - b.mu) * (a.mu - b.mu)
         + (a.mv - b.mv) * (a.mv - b.mv) <= {_UV_D * _UV_D}
    """,
)
def ms_uv_proximity_join(spark, sf_dir):
    """SPATIAL PROXIMITY JOIN via the 2D GRID-BUCKET rewrite — the
    spatial sibling of the range-join bucket rewrite: pair baselines
    whose time-averaged (u, v) lie within distance D. A naive distance
    join has no equi-key (Spark's only native plan is a broadcast
    nested loop — O(n^2) and a 100 TB failure); snapping one side to
    its D-sized home grid cell and exploding the other side's 3x3 cell
    neighborhood restores a shuffle-partitionable equi-join on the cell
    key, with the EXACT squared-distance predicate as a residual filter
    (|floor-cell delta| <= 1 whenever dist <= D, so every true pair
    survives and appears exactly once — b's probe set contains a's home
    cell exactly once).

    Exactness: mean u/v are exact dyadic averages; the residual
    (du^2 + dv^2) is one fixed expression per row — bit-identical in
    both engines — so the <= D^2 cut agrees; round(6) on the output
    distance is the usual hash-gate belt-and-braces.

    The oracle IS the naive quadratic join (the referee), as for
    join_range_binned."""
    rows = _ms(spark)["ms_rows"]
    bl = rows.groupBy("ANTENNA1", "ANTENNA2").agg(
        F.avg("u").alias("mu"), F.avg("v").alias("mv")
    )
    key = F.col("ANTENNA1") * 256 + F.col("ANTENNA2")
    a = bl.select(
        F.col("ANTENNA1").alias("a1_a"), F.col("ANTENNA2").alias("a2_a"),
        F.col("mu").alias("mu_a"), F.col("mv").alias("mv_a"),
        key.alias("key_a"),
        F.floor(F.col("mu") / _UV_D).alias("cx"),
        F.floor(F.col("mv") / _UV_D).alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    b = (
        bl.select(
            F.col("ANTENNA1").alias("a1_b"), F.col("ANTENNA2").alias("a2_b"),
            F.col("mu").alias("mu_b"), F.col("mv").alias("mv_b"),
            key.alias("key_b"),
            F.floor(F.col("mu") / _UV_D).alias("bx"),
            F.floor(F.col("mv") / _UV_D).alias("by"),
            F.explode(offsets).alias("o"),
        )
        .select(
            "a1_b", "a2_b", "mu_b", "mv_b", "key_b",
            (F.col("bx") + F.col("o.dx")).alias("px"),
            (F.col("by") + F.col("o.dy")).alias("py"),
        )
    )
    du = F.col("mu_a") - F.col("mu_b")
    dv = F.col("mv_a") - F.col("mv_b")
    dist_sq = du * du + dv * dv
    return (
        a.join(b, (F.col("cx") == F.col("px")) & (F.col("cy") == F.col("py")))
        .filter((F.col("key_a") < F.col("key_b")) & (dist_sq <= _UV_D * _UV_D))
        .select(
            "a1_a", "a2_a", "a1_b", "a2_b",
            F.round(dist_sq, 6).alias("dist_sq"),
        )
    )


_GRID_DU = 4096.0  # uv cell size -> a ~16x16 grid over the fixture span


@q(
    "ms_uv_gridding",
    f"""
SELECT CAST(floor(r.u / {_GRID_DU}) AS INTEGER) AS cell_u,
       CAST(floor(r.v / {_GRID_DU}) AS INTEGER) AS cell_v,
       v.corr,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(count(*) FILTER (WHERE NOT v.flag) AS BIGINT) AS n_unflagged,
       coalesce(sum(v.weight_sp) FILTER (WHERE NOT v.flag), 0) AS wsum,
       coalesce(sum(v.weight_sp * v.vis_re) FILTER (WHERE NOT v.flag), 0)
           AS grid_re,
       coalesce(sum(v.weight_sp * v.vis_im) FILTER (WHERE NOT v.flag), 0)
           AS grid_im
FROM read_parquet('{_DIR}/ms_vis.parquet') v
JOIN read_parquet('{_DIR}/ms_rows.parquet') r USING (row_id)
GROUP BY 1, 2, v.corr
""",
)
def ms_uv_gridding(spark, sf_dir):
    """UV-PLANE GRIDDING — the imaging-side operator downstream of the
    averaging the reference performs (xova's output MS feeds exactly
    this step in a radio pipeline): visibilities accumulated onto a
    regular (u, v) cell grid per correlation — weighted sums of the
    unflagged samples plus the weight normalizer (the divide happens
    at read/imaging time, keeping every stored value an exact sum of
    the fixture's dyadic products).

    Plan: vis ⨝ rows on row_id (the same row-map join the averaging
    pipelines use — size-gated broadcast territory), then ONE
    partial-aggregated shuffle keyed on (cell_u, cell_v, corr). At
    100 TB this is the textbook distributed gridder: cells are the
    natural output partitioning, and per-cell partial sums combine
    map-side exactly like any decomposable aggregate."""
    t = _ms(spark)
    r = t["ms_rows"].select(
        "row_id",
        F.floor(F.col("u") / _GRID_DU).cast("int").alias("cell_u"),
        F.floor(F.col("v") / _GRID_DU).cast("int").alias("cell_v"),
    )
    v = t["ms_vis"]
    unfl = ~F.col("flag")
    w = F.col("weight_sp")
    return (
        v.join(r, "row_id")
        .groupBy("cell_u", "cell_v", "corr")
        .agg(
            F.count("*").cast("long").alias("n_samples"),
            F.count(F.when(unfl, 1)).cast("long").alias("n_unflagged"),
            F.coalesce(F.sum(F.when(unfl, w)), F.lit(0.0)).alias("wsum"),
            F.coalesce(
                F.sum(F.when(unfl, w * F.col("vis_re"))), F.lit(0.0)
            ).alias("grid_re"),
            F.coalesce(
                F.sum(F.when(unfl, w * F.col("vis_im"))), F.lit(0.0)
            ).alias("grid_im"),
        )
    )


@q(
    "ms_time_coverage_gaps",
    f"""
WITH g AS (
  SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
         TIME - lag(TIME) OVER (
           PARTITION BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
                        ANTENNA1, ANTENNA2
           ORDER BY TIME) AS dt,
         "INTERVAL" AS nominal
  FROM read_parquet('{_DIR}/ms_rows.parquet')
)
SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(dt) AS BIGINT) AS n_steps,
       CAST(sum(CASE WHEN dt > 1.5 * nominal THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gaps,
       max(dt) AS max_dt
FROM g
GROUP BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2
""",
)
def ms_time_coverage_gaps(spark, sf_dir):
    """MS TIME-COVERAGE audit — the domain-side data-quality check an
    observatory pipeline runs before averaging: per (partition,
    baseline), consecutive-dump spacing vs the nominal INTERVAL;
    steps exceeding 1.5× nominal are dropped-integration gaps (which
    silently bias time averages if unnoticed — the reason xova-style
    tools bin on TIME values, not row counts). Dyadic fixture times
    make dt exact; one window shuffle on the same key the averaging
    pipelines already use."""
    t = _ms(spark)
    from pyspark.sql import Window

    keys = ["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2"]
    w = Window.partitionBy(*keys).orderBy("TIME")
    g = t["ms_rows"].select(
        *keys,
        (F.col("TIME") - F.lag("TIME").over(w)).alias("dt"),
        F.col("INTERVAL").alias("nominal"),
    )
    return g.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("dt").cast("long").alias("n_steps"),
        F.sum(
            F.when(F.col("dt") > 1.5 * F.col("nominal"), 1).otherwise(0)
        ).cast("long").alias("n_gaps"),
        F.max("dt").alias("max_dt"),
    )

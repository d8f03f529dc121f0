"""Fixed time-and-channel averaging — the reference's primary pipeline.

Re-expresses ``xova timechannel`` (reference: xova/apps/xova/averaging.py
:184-267, kernel call :251-255; CLI defaults arguments.py:127-132) as pure
DataFrame aggregation over the long layout: every africanus kernel column
becomes a built-in SQL aggregate in ONE ``groupBy().agg()`` per table —
no UDFs anywhere in the hot path.

Binning semantics ("same math" per SURVEY §7 hard-parts decision, not
bit-identical greedy bins): within each (FIELD_ID, DATA_DESC_ID,
SCAN_NUMBER) partition and per baseline (ANTENNA1, ANTENNA2),
``time_bin = floor((TIME - min(TIME) over partition+baseline) / time_bin_secs)``
and ``chan_bin = floor(chan / chan_bin_size)``.

Per-column averaging semantics (reference A1a, mirroring the
codex-africanus time_and_channel contract the reference delegates to):
- TIME: mean over ALL rows in bin;  INTERVAL: sum over ALL rows.
- EXPOSURE: sum over unflagged rows; TIME_CENTROID: EXPOSURE-weighted
  mean over unflagged rows; UVW: mean over unflagged rows — each falling
  back to the all-rows aggregate when the bin is fully flagged.
- WEIGHT: sum over unflagged; SIGMA: sqrt(sum(w²σ²))/sum(w) (weighted RMS).
- visibilities: WEIGHT_SPECTRUM-weighted mean over unflagged samples,
  falling back to the flagged samples when the output bin is fully
  flagged; FLAG out = all inputs flagged (averaging.py:225 convention).

Everything after binning is ``average_binned``, the core BDA shares:
the two pipelines differ only in how they bin rows.

Scale design: the row aggregation is one shuffle keyed on
(partition, baseline) — the min-TIME window and the subsequent groupBy
share that hash partitioning (HashPartitioning on a key subset satisfies
the grouped distribution, so Catalyst inserts no second exchange). The
vis and weights aggregations each join their samples table to the
(row_id -> bin) map, then aggregate in a single shuffle keyed on the
bin's ``rep`` surrogate, carrying the bin key through it as ``min``: one
join and one aggregation per table, the stream's merged per-trigger
partials (``bin_partials``) included. The row-scale joins carry no hint:
the session's ``spark.sql.autoBroadcastJoinThreshold`` broadcasts the map
when it is small (on a held map it sees the measured size) and AQE
shuffle-joins it otherwise. Skewed baselines are handled by AQE
skew-join splitting. The SPW tables, a few rows per window, are
averaged on the driver.
"""

from __future__ import annotations

from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PART_KEYS = ["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER"]  # app.py:43 GROUP_COLS
BL_KEYS = ["ANTENNA1", "ANTENNA2"]
BIN_KEYS = PART_KEYS + BL_KEYS + ["time_bin"]

def _fallback(unflagged_expr, all_expr):
    """Aggregate over unflagged rows, falling back to all rows when the
    bin is fully flagged (null unflagged aggregate)."""
    return F.coalesce(unflagged_expr, all_expr)


def assign_time_bins(rows: DataFrame, time_bin_secs: float) -> DataFrame:
    """P1+W1: add the time_bin column (floor of time offset per
    partition+baseline; ref chunking.py:125-157 greedy analogue)."""
    w = Window.partitionBy(*PART_KEYS, *BL_KEYS)
    return rows.withColumn(
        "time_bin",
        F.floor((F.col("TIME") - F.min("TIME").over(w)) / F.lit(time_bin_secs)).cast(
            "int"
        ),
    )


def select_rows(rows: DataFrame, fields=None, scans=None) -> DataFrame:
    """The field/scan selection both pipelines bin (averaging.py:218-221)."""
    if fields:
        rows = rows.filter(F.col("FIELD_ID").isin(fields))
    if scans:
        rows = rows.filter(F.col("SCAN_NUMBER").isin(scans))
    return rows


def average_rows(
    rows: DataFrame,
    time_bin_secs: float = 2.0,
    fields: list[int] | None = None,
    scans: list[int] | None = None,
    with_row_id: bool = False,
) -> DataFrame:
    """A1 row-level averaging (ref averaging.py:184-267)."""
    return average_binned_rows(
        assign_time_bins(select_rows(rows, fields, scans), time_bin_secs),
        with_row_id=with_row_id,
    )


def row_aggs() -> list:
    """The A1a row-level aggregates every row averaging shares (batch
    timechannel and BDA, streaming windows): TIME mean and INTERVAL sum
    over all rows; EXPOSURE, TIME_CENTROID and UVW over unflagged rows
    with the all-rows fallback; FLAG_ROW = all rows flagged."""
    fr = F.col("FLAG_ROW")
    unfl = ~fr
    return [
        F.avg("TIME").alias("TIME"),
        F.sum("INTERVAL").alias("INTERVAL"),
        _fallback(
            F.sum(F.when(unfl, F.col("EXPOSURE"))), F.sum("EXPOSURE")
        ).alias("EXPOSURE"),
        _fallback(
            F.sum(F.when(unfl, F.col("EXPOSURE") * F.col("TIME_CENTROID")))
            / F.sum(F.when(unfl, F.col("EXPOSURE"))),
            F.sum(F.col("EXPOSURE") * F.col("TIME_CENTROID")) / F.sum("EXPOSURE"),
        ).alias("TIME_CENTROID"),
        *[
            _fallback(F.avg(F.when(unfl, F.col(c))), F.avg(F.col(c))).alias(c)
            for c in ("u", "v", "w")
        ],
        F.bool_and(fr).alias("FLAG_ROW"),
    ]


# Constant ID columns every averaged row carries (ref averaging.py:117-136).
ID_COLS = ("ARRAY_ID", "OBSERVATION_ID", "PROCESSOR_ID", "STATE_ID")


def average_binned_rows(
    binned: DataFrame,
    with_row_id: bool = False,
    constants: dict[str, str] | None = None,
) -> DataFrame:
    """A1a aggregation over rows that already carry a time_bin column
    (from assign_time_bins, BDA's assign_bins, or
    chunking.assign_greedy_bins for the bit-exact greedy variant).

    ``with_row_id`` adds row_id = min(input row_id) per bin — the same
    ``rep`` surrogate rep_map uses — so the written output satisfies the
    load_ms row-identity contract and can be re-opened, re-checked, and
    re-averaged like any input MS (the reference's average-then-check
    workflow, check.py:22-76). ``constants`` maps further output columns
    to the group-constant binned columns they carry (BDA's ragged
    NUM_CHAN / DECORR_CHAN_WIDTH, averaging.py:159-164)."""
    extra = [F.min("row_id").alias("row_id")] if with_row_id else []
    carried = {c: c for c in ID_COLS} | (constants or {})
    return binned.groupBy(*BIN_KEYS).agg(
        *extra,
        *row_aggs(),
        F.count(F.when(~F.col("FLAG_ROW"), F.lit(1))).alias("n_unflagged"),
        F.count("*").alias("n_rows"),
        *[F.any_value(F.col(src)).alias(name) for name, src in carried.items()],
    )


def rep_map(binned: DataFrame, payload: list[str] | tuple = ()) -> DataFrame:
    """row_id -> output-bin key + row flag (the join key for the weights
    and visibility aggregations), plus the per-row ``payload`` columns
    the caller names (BDA's ``chan_fac``).

    ``rep`` = min(row_id) within the bin is a single-column surrogate
    for the 6-column bin key: the sample-level aggregations group on it
    instead of the wide key (narrower hash keys + shuffle rows, ~3x at
    bench scale) and carry the wide key through that one aggregation.
    The window runs on the row table only."""
    w = Window.partitionBy(*BIN_KEYS)
    return binned.withColumn("rep", F.min("row_id").over(w)).select(
        "row_id", "rep", *BIN_KEYS, *payload, "FLAG_ROW"
    )


def bin_map(rows: DataFrame, time_bin_secs: float = 2.0) -> DataFrame:
    """The timechannel rep_map: rows binned by assign_time_bins."""
    return rep_map(assign_time_bins(rows, time_bin_secs))


# The frames held by the innermost open held() scope; None outside one.
_held: list[DataFrame] | None = None


@contextmanager
def held():
    """Scope of one run's shared intermediates: every frame ``hold``
    persists inside it is unpersisted when the scope exits, by return or
    by raise. A nested scope restores the outer one on exit."""
    global _held
    outer, _held = _held, []
    try:
        yield
    finally:
        for df in _held:
            df.unpersist()
        _held = outer


def hold(df: DataFrame) -> DataFrame:
    """Build ``df`` once for the enclosing held() scope: persist it, with
    no action — the first output table that reads it fills the cache.
    Outside a scope the frame is returned unchanged."""
    if _held is None:
        return df
    _held.append(df.persist())
    return df


def _by_rep(j: DataFrame, keys: list, aggs: list) -> DataFrame:
    """One aggregation of the samples ``j`` per (rep, *keys), carrying
    the bin key: rep is the bin's min(row_id), so it determines the key,
    and min takes it (one buffer slot per key) from the group's rows."""
    return j.groupBy("rep", *keys).agg(*[F.min(k).alias(k) for k in BIN_KEYS], *aggs)


def average_weights(
    weights: DataFrame, bins: DataFrame, keep_rep: bool = False
) -> DataFrame:
    """WEIGHT/SIGMA per (bin, corr): sum of weights over unflagged rows;
    SIGMA = sqrt(sum(w²σ²))/sum(w) — weighted RMS (A1a).

    The row -> bin map has one entry per MS row, so its join carries no
    hint (see the module docstring). An averaged MS's samples carry
    their bin key already; the map's wins."""
    j = weights.drop(*BIN_KEYS).join(bins, "row_id")
    unfl = ~F.col("FLAG_ROW")
    w, s = F.col("WEIGHT"), F.col("SIGMA")
    sum_w = _fallback(F.sum(F.when(unfl, w)), F.sum(w))
    sum_w2s2 = _fallback(
        F.sum(F.when(unfl, w * w * s * s)), F.sum(w * w * s * s)
    )
    aggs = [sum_w.alias("WEIGHT"), (F.sqrt(sum_w2s2) / sum_w).alias("SIGMA")]
    head = ["rep", *BIN_KEYS] if keep_rep else BIN_KEYS
    return _by_rep(j, ["corr"], aggs).select(*head, "corr", "WEIGHT", "SIGMA")


def _partials() -> dict:
    fl, w, s = F.col("flag"), F.col("weight_sp"), F.col("sigma_sp")
    re, im = F.col("vis_re"), F.col("vis_im")
    unfl = ~fl
    return {
        "n": F.count("*"),
        "n_unfl": F.count(F.when(unfl, F.lit(1))),
        "sw_u": F.sum(F.when(unfl, w)),
        "swre_u": F.sum(F.when(unfl, w * re)),
        "swim_u": F.sum(F.when(unfl, w * im)),
        "sw2s2_u": F.sum(F.when(unfl, w * w * s * s)),
        "sw_a": F.sum(w),
        "swre_a": F.sum(w * re),
        "swim_a": F.sum(w * im),
        "sw2s2_a": F.sum(w * w * s * s),
        "flag_all": F.bool_and(fl),
    }


def vis_partials() -> list:
    """The A1a visibility aggregation as 11 decomposable sums over raw
    samples: counts and weighted sums over the unflagged samples
    (``_u``) and over all samples (``_a``), plus the all-flagged flag."""
    return [e.alias(c) for c, e in _partials().items()]


def finalize() -> list:
    """The averaged visibility columns from vis_partials' sums: the
    WEIGHT_SPECTRUM-weighted mean over unflagged samples, falling back
    to all samples when the bin is fully flagged (averaging.py:251-255);
    weight = sum of weights, sigma = sqrt(sum(w²σ²))/sum(w)."""
    has_u = F.col("n_unfl") > 0

    def pick(u, a):
        return F.when(has_u, F.col(u)).otherwise(F.col(a))

    sw = pick("sw_u", "sw_a")
    return [
        (pick("swre_u", "swre_a") / sw).alias("vis_re"),
        (pick("swim_u", "swim_a") / sw).alias("vis_im"),
        F.col("flag_all").alias("flag"),
        sw.alias("weight_sp"),
        (F.sqrt(pick("sw2s2_u", "sw2s2_a")) / sw).alias("sigma_sp"),
        F.col("n").alias("n_samples"),
    ]


def bin_partials(
    vis: DataFrame, bins: DataFrame, chan_bin_size: int | Column
) -> DataFrame:
    """vis_partials per (rep, chan_bin, corr), the bin key carried, of
    the samples joined to their row's bin map; chan_bin = floor(chan /
    ``chan_bin_size``). Each stream trigger stores them; batch finalizes them."""
    j = vis.drop(*BIN_KEYS).join(bins, "row_id").withColumn(
        "chan_bin", F.floor(F.col("chan") / F.lit(chan_bin_size)).cast("int")
    )
    return _by_rep(j, ["chan_bin", "corr"], vis_partials())


def merge_bin_partials(parts: DataFrame) -> DataFrame:
    """Unioned bin_partials merged: counts and sums add, flag_all is AND."""
    merged = [(F.bool_and if c == "flag_all" else F.sum)(c).alias(c)
              for c in _partials()]
    return _by_rep(parts, ["chan_bin", "corr"], merged)


def finalize_partials(parts: DataFrame, keep_rep: bool = False) -> DataFrame:
    """bin_partials ``parts`` averaged, keyed as average_vis keys them."""
    head = ["rep", *BIN_KEYS] if keep_rep else BIN_KEYS
    return parts.select(*head, "chan_bin", "corr", *finalize())


def average_vis(
    vis: DataFrame, bins: DataFrame, chan_bin_size: int | Column = 16,
    keep_rep: bool = False,
) -> DataFrame:
    """Visibility averaging per (bin, chan_bin, corr): finalize over
    bin_partials (A1/A1a). One shuffle of the big table, keyed on
    (rep, chan_bin, corr). ``chan_bin_size`` is the channel divisor: an
    int for timechannel, ``F.col("chan_fac")`` for BDA's per-baseline
    ragged factor carried by its bin map."""
    return finalize_partials(bin_partials(vis, bins, chan_bin_size), keep_rep)


def _local(spark, ddl: str, rows: list) -> DataFrame:
    """Driver-built ``rows`` (tuples) as an Arrow-backed local relation
    of schema ``ddl``: it is broadcast and written with no Python
    worker, unlike a frame built from a list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def average_spw(
    spw_chans: DataFrame, spw_meta: DataFrame, chan_bin_size: int = 16
) -> tuple[DataFrame, DataFrame]:
    """A3: SPW channel metadata averaging (ref averaging.py:357-406) on
    the driver, over one collect of each table: CHAN_FREQ mean per
    channel bin; CHAN_WIDTH/EFFECTIVE_BW/RESOLUTION summed;
    NUM_CHAN = ceil(nchan / bin). Local relations out, one partition each."""
    grouped = defaultdict(list)
    for spw, chan, *vals in spw_chans.select(
        "SPECTRAL_WINDOW_ID", "chan", "CHAN_FREQ", "CHAN_WIDTH", "EFFECTIVE_BW",
        "RESOLUTION",
    ).collect():
        grouped[spw, chan // chan_bin_size].append(vals)
    chans, widths = [], defaultdict(list)
    for (spw, chan), vals in sorted(grouped.items()):
        freq, *summed = zip(*vals)
        chans.append((spw, chan, sum(freq) / len(freq), *map(sum, summed)))
        widths[spw].append(chans[-1][3])
    ref = dict(spw_meta.select("SPECTRAL_WINDOW_ID", "REF_FREQUENCY").collect())
    meta = [(k, len(w), sum(w), ref[k]) for k, w in widths.items() if k in ref]
    spark, spw = spw_chans.sparkSession, spw_chans.schema["SPECTRAL_WINDOW_ID"]
    out_chans = _local(spark, f"{spw.simpleString()}, chan int, CHAN_FREQ double, "
                       "CHAN_WIDTH double, EFFECTIVE_BW double, RESOLUTION double",
                       chans)
    out_meta = _local(spark, f"{spw.simpleString()}, NUM_CHAN int, "
                      "TOTAL_BANDWIDTH double, REF_FREQUENCY double", meta)
    return out_chans.coalesce(1), out_meta.coalesce(1)


def average_binned(
    tables: dict,
    binned: DataFrame,
    chan_div: int | Column,
    payload: list[str] | tuple = (),
    constants: dict[str, str] | None = None,
    vis_average=None,
) -> dict:
    """``ms_rows``, ``ms_weights`` and ``ms_vis`` of binned rows under the
    load_ms contract (row_id = the bin's rep, chan = the channel bin).
    ``payload``/``constants`` are the pipeline's extra rep-map and row
    columns. ``vis_average(bins, chan_div)`` returns the visibility table
    keyed like ``average_vis(..., keep_rep=True)``, the default."""
    bins = hold(rep_map(binned, payload))
    if vis_average is None:
        def vis_average(bins, chan_div):
            return average_vis(tables["ms_vis"], bins, chan_div, keep_rep=True)

    return {
        "ms_rows": average_binned_rows(
            binned, with_row_id=True, constants=constants
        ),
        "ms_weights": (
            average_weights(tables["ms_weights"], bins, keep_rep=True)
            .withColumnRenamed("rep", "row_id")
        ),
        "ms_vis": vis_average(bins, chan_div).withColumnsRenamed(
            {"rep": "row_id", "chan_bin": "chan"}
        ),
    }


def timechannel(
    tables: dict,
    time_bin_secs: float = 2.0,
    chan_bin_size: int = 16,
    fields: list[int] | None = None,
    scans: list[int] | None = None,
    vis_average=None,
) -> dict:
    """Full timechannel pipeline over a loaded MS (ref app.py:59-128):
    returns the averaged main-table parts + regenerated SPW tables.

    The output satisfies the SAME table contract load_ms reads — row
    identity (row_id = the bin's rep surrogate) on every main table,
    sample tables keyed (row_id, chan, corr) — so a written output can
    be re-opened, `check`-validated, and re-averaged exactly like the
    reference's own output MS (check.py:22-76 workflow). ALL subtables
    not rewritten by the pipeline pass through unchanged, including ones
    this engine knows nothing about (ref subtables.py:9-37 copies
    unknown subtables wholesale), but not a BDA output's ``spw`` and
    ``ddid_map``: they describe its grids, not these. ``vis_average`` as
    in average_binned."""
    binned = assign_time_bins(
        select_rows(tables["ms_rows"], fields, scans), time_bin_secs
    )
    out_chans, out_meta = average_spw(
        tables["spw_chans"], tables["spw_meta"], chan_bin_size
    )
    out = {
        **average_binned(tables, binned, chan_bin_size, vis_average=vis_average),
        "spw_chans": out_chans,
        "spw_meta": out_meta,
    }
    passed = {k: v for k, v in tables.items() if k not in {*out, "spw", "ddid_map"}}
    return {**out, **passed}

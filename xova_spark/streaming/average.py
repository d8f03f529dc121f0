"""Structured Streaming variant of the averaging pipeline (SURVEY §2.8).

The reference is batch-only (one ``dask.compute`` at reference:
xova/apps/xova/app.py:146); this module is the additive extension the
blueprint prescribes: the A1 time-binned aggregation as a tumbling
``window()`` with a watermark for late data, and a session-window
variant (the streaming shape of BDA's adaptive bin closure, W3).

Semantics note: streaming tumbling windows are EPOCH-ALIGNED —
``window(ts, "4 seconds")`` bins at absolute 4 s boundaries — whereas
the batch path bins from each baseline's first sample. The batch twin
of a streaming result is therefore ``floor(TIME / bin)`` binning; the
equivalence is asserted in tests/test_streaming.py.

All aggregates here are the same single-pass A1a expressions as the
batch path — Structured Streaming runs them with incremental state, so
the operator inventory carries over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xova_spark.operators.timechannel import (
    BL_KEYS,
    PART_KEYS,
    finalize,
    row_aggs,
    vis_partials,
)


def parquet_stream(
    spark: SparkSession, path: str, stage_dir: str, **options
) -> DataFrame:
    """File-source stream over the parquet file or directory ``path``
    (S1 as readStream): each file in the directory is a micro-batch.
    The schema comes from the footer (no Spark job). The file source
    needs a directory (it force-sets basePath to a non-glob load path),
    so a single file is staged as a symlink in ``stage_dir`` — files
    dropped there later become further micro-batches. A link a run over
    another file left there is re-pointed: the stream reads ``path``."""
    import os

    from xova_spark.sources.ms_writer import footer_schema

    schema = footer_schema(path)
    if not os.path.isdir(path):
        os.makedirs(stage_dir, exist_ok=True)
        link = os.path.join(stage_dir, "part-0.parquet")
        if os.path.lexists(link) and os.readlink(link) != os.path.abspath(path):
            os.remove(link)
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(path), link)
        path = stage_dir
    return (
        spark.readStream.schema(schema).options(**options).format("parquet")
        .load(path)
    )


def read_rows_stream(spark: SparkSession, ms_dir: str) -> DataFrame:
    """Stream over the fixture's main row table."""
    return parquet_stream(
        spark, f"{ms_dir}/ms_rows.parquet", f"{ms_dir}/stream/ms_rows"
    )


def _row_aggs() -> list:
    return [*row_aggs(), F.count("*").alias("n_rows")]


def streaming_average_rows(
    rows_stream: DataFrame,
    time_bin_secs: float = 4.0,
    watermark: str = "30 seconds",
) -> DataFrame:
    """A1 as a streaming tumbling-window aggregation with late-data
    watermark. TIME (MJD seconds) maps onto the event-time axis via
    timestamp_seconds; the window struct is projected back to a
    time_bin = floor(TIME / bin) integer so output keys match the batch
    twin."""
    ts = F.timestamp_seconds(F.col("TIME"))
    win = F.window(ts, f"{time_bin_secs} seconds")
    out = (
        rows_stream.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(win.alias("win"), *PART_KEYS, *BL_KEYS)
        .agg(*_row_aggs())
    )
    return out.withColumn(
        "time_bin",
        F.floor(
            F.unix_timestamp(F.col("win.start")) / F.lit(time_bin_secs)
        ).cast("int"),
    ).drop("win")


def batch_twin_average_rows(rows: DataFrame, time_bin_secs: float = 4.0) -> DataFrame:
    """The batch computation a converged stream must equal: identical
    aggregates on epoch-aligned bins."""
    binned = rows.withColumn(
        "time_bin", F.floor(F.col("TIME") / F.lit(time_bin_secs)).cast("int")
    )
    return binned.groupBy("time_bin", *PART_KEYS, *BL_KEYS).agg(*_row_aggs())


def streaming_session_bins(
    rows_stream: DataFrame,
    gap_secs: float = 4.0,
    watermark: str = "30 seconds",
) -> DataFrame:
    """W3 as a stream: session windows close a bin when a baseline goes
    quiet for gap_secs — the streaming analogue of BDA's adaptive
    per-baseline bin closure (ref averaging.py:338-342 semantics)."""
    ts = F.timestamp_seconds(F.col("TIME"))
    return (
        rows_stream.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_secs} seconds").alias("sess"),
            *PART_KEYS,
            *BL_KEYS,
        )
        .agg(*_row_aggs())
        .withColumn("session_start", F.unix_timestamp(F.col("sess.start")))
        .withColumn("session_end", F.unix_timestamp(F.col("sess.end")))
        .drop("sess")
    )


import contextlib


@contextlib.contextmanager
def stream_state_partitions(spark: SparkSession, n: int = 4):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming query
    start. A stateful streaming op fixes its state-store count to the
    shuffle-partition setting AT START — each state partition costs a
    store commit (and, for applyInPandasWithState, a Python worker) per
    micro-batch, so the right number tracks the STREAM's key volume,
    not the batch-scan parallelism. The fixture-scale streams here are
    one small file; r9 measured the 8 -> 4 cut at 16-19% on the two
    heaviest chained-join entries (2 and 1 were worse — SCALE.md), and
    r10 extended the measured default to the whole pack (same key
    volumes). At production volume, size it to keys/executors before
    first start — the checkpoint pins it for the query's lifetime."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextlib.contextmanager
def no_idle_microbatches(spark: SparkSession):
    """Scope ``spark.sql.streaming.noDataMicroBatches.enabled=false``
    around a streaming query whose graph has NO watermark-gated
    emission — pure inner stream-stream/stream-static joins and
    unwatermarked dropDuplicates. For those, every result row emits in
    the data batch that completes its match; the idle (no-data)
    micro-batches an availableNow run appends afterward only advance
    the watermark for STATE EVICTION, which is moot when the query
    stops at convergence — each one still costs a full plan+commit
    cycle per stateful operator (measured r11: stream_funnel_conversion
    4.91 -> 3.36 s median, identical output). NEVER use around
    append-mode aggregations (session/tumbling windows): their final
    emission NEEDS the watermark advance the idle batch provides. At
    production scale the same flag choice applies to availableNow
    replay/backfill jobs; a continuously-running query keeps the
    default so state is evicted."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Execute a streaming aggregation to completion over the available
    files (Trigger.AvailableNow) into an in-memory sink; returns the
    result as a DataFrame. Used by tests and the smoke query."""
    spark = stream_df.sparkSession
    with stream_state_partitions(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _windowed_vis(j: DataFrame, window, watermark: str) -> DataFrame:
    """The A1a visibility aggregation per event-time ``window`` (over
    the ``ts`` column this adds) x baseline x chan_bin x corr: the batch
    vis_partials kept as streaming state, finalized per emitted group.
    The window struct comes out as ``win``."""
    return (
        j.withColumn("ts", F.timestamp_seconds(F.col("TIME")))
        .withWatermark("ts", watermark)
        .groupBy(window.alias("win"), *PART_KEYS, *BL_KEYS, "chan_bin", "corr")
        .agg(*vis_partials())
        .select("win", *PART_KEYS, *BL_KEYS, "chan_bin", "corr", *finalize())
        .drop("weight_sp", "sigma_sp")
    )


def streaming_average_vis(
    vis_stream: DataFrame,
    rows_static: DataFrame,
    time_bin_secs: float = 4.0,
    chan_bin_size: int = 16,
    watermark: str = "30 seconds",
) -> DataFrame:
    """The full A1 visibility pipeline as a STREAM-STATIC JOIN +
    windowed aggregation: streaming fact samples join the static
    row-dimension (row_id -> partition/baseline keys + event time),
    then aggregate per tumbling window x chan_bin x corr with the A1a
    weighted-mean semantics. This is the 100 TB streaming shape — the
    unbounded table is the fact stream; dimensions stay static."""
    dim = rows_static.select("row_id", *PART_KEYS, *BL_KEYS, "TIME")
    j = vis_stream.join(dim, "row_id").withColumn(
        "chan_bin", F.floor(F.col("chan") / F.lit(chan_bin_size)).cast("int")
    )
    out = _windowed_vis(j, F.window("ts", f"{time_bin_secs} seconds"), watermark)
    return out.withColumn(
        "time_bin",
        F.floor(
            F.unix_timestamp(F.col("win.start")) / F.lit(time_bin_secs)
        ).cast("int"),
    ).drop("win")


def streaming_bda_vis(
    vis_stream: DataFrame,
    rows_static: DataFrame,
    params_static: DataFrame,
    gap_secs: float = 4.0,
    watermark: str = "30 seconds",
) -> DataFrame:
    """BDA as a stream: per-baseline SESSION windows (a bin closes when
    the baseline goes quiet — W3's adaptive closure) combined with the
    per-baseline RAGGED channel factor from the static decorrelation
    params. Stream-static joins attach the row dim and chan_fac; the
    stateful aggregation keys on session x baseline x chan_bin x corr."""
    dim = rows_static.select("row_id", *PART_KEYS, *BL_KEYS, "TIME")
    fac = params_static.select(*PART_KEYS, *BL_KEYS, "chan_fac")
    j = (
        vis_stream.join(dim, "row_id")
        .join(fac, [*PART_KEYS, *BL_KEYS])
        .withColumn(
            "chan_bin", F.floor(F.col("chan") / F.col("chan_fac")).cast("int")
        )
    )
    out = _windowed_vis(
        j, F.session_window(F.col("ts"), f"{gap_secs} seconds"), watermark
    )
    return out.withColumn(
        "session_start", F.unix_timestamp(F.col("win.start"))
    ).drop("win")

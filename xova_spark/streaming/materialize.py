"""Incrementally-materialized rollup — the continuous-aggregate pattern.

``foreachBatch`` gives a streaming query an arbitrary batch-DataFrame
sink; here each micro-batch's partial aggregates MERGE into a
parquet-backed rollup table (read-merge-overwrite). This is the
hypertable continuous-aggregate / materialized-view-maintenance shape:
the stored table always holds the rollup of everything consumed so far,
and merging partials is valid because the aggregates carried are
decomposable (count/sum pairs; averages derive at read time).

At real scale the overwrite becomes a transactional MERGE into a table
format with commit semantics (Delta/Iceberg); the plan shape — batch
partial agg, key-join merge, atomic swap — is identical.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xova_spark.operators.timechannel import (
    BIN_KEYS,
    bin_samples,
    finalize,
    merge_partials,
    vis_partials,
)


def _upsert(partial: DataFrame, out_dir: str, keys: list[str], merge_aggs: list):
    """Read-merge-overwrite of the stored state ``<out_dir>/current``:
    union one micro-batch's partials with it, re-aggregate per key with
    ``merge_aggs``, then stage-then-swap the result in, so a reader
    never sees a half-written table."""
    cur = os.path.join(out_dir, "current")
    if os.path.exists(cur):
        # The merged state has the partials' columns, order and types,
        # so it is read with their schema: no inference job per trigger.
        partial = (
            partial.sparkSession.read.schema(partial.schema).parquet(cur)
            .unionByName(partial)
            .groupBy(*keys)
            .agg(*merge_aggs)
        )
    tmp = os.path.join(out_dir, "_staged")
    partial.write.mode("overwrite").parquet(tmp)
    swap = os.path.join(out_dir, "_old")
    if os.path.exists(cur):
        os.rename(cur, swap)
    os.rename(tmp, cur)
    if os.path.exists(swap):
        shutil.rmtree(swap)


def _start(stream_df: DataFrame, merge, checkpoint: str):
    """Start a maintenance query (availableNow) that hands every
    micro-batch to ``merge(batch_df, batch_id)``; returns the handle."""
    return (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _merge_into(batch_df: DataFrame, batch_id: int, out_dir: str, keys: list[str]):
    partial = batch_df.groupBy(*keys).agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    _upsert(
        partial, out_dir, keys,
        [F.sum("n").alias("n"), F.sum("total").alias("total")],
    )


def materialized_rollup(
    stream_df: DataFrame, out_dir: str, keys: list[str], checkpoint: str
):
    """Start the maintenance query (availableNow); returns the handle."""
    return _start(
        stream_df, lambda df, bid: _merge_into(df, bid, out_dir, keys), checkpoint
    )


def read_rollup(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "current"))


# ---------------------------------------------------------------------------
# Streaming MS maintenance: the averaging pipeline as a continuously
# materialized output MS. Each micro-batch of visibility samples merges
# the DECOMPOSABLE A1a partials (operators/timechannel.vis_partials,
# merged by merge_partials: counts and sums add, flag is AND) into the
# stored table; the averaged columns derive at read time through the
# same finalize the batch average_vis uses. This is the reference's write path
# (app.py:107-116) turned into incremental maintenance the batch engine
# cannot express. Both pipelines share it: a BDA bin map and
# ``F.col("chan_fac")`` as the channel divisor give the ragged bins.

_VIS_KEYS = [*BIN_KEYS, "chan_bin", "corr"]


def _merge_vis_into(batch_df: DataFrame, batch_id: int, out_dir: str,
                    bins: DataFrame, chan_bin_size):
    # Per-(bin, chan_bin, corr) vis_partials of one micro-batch.
    partial = (
        bin_samples(batch_df, bins, chan_bin_size)
        .groupBy(*_VIS_KEYS).agg(*vis_partials())
    )
    _upsert(partial, out_dir, _VIS_KEYS, merge_partials())


def materialized_ms_vis(
    vis_stream: DataFrame,
    bins: DataFrame,
    out_dir: str,
    checkpoint: str,
    chan_bin_size=16,
):
    """Start the MS-maintenance query (availableNow): every arriving
    visibility file merges into the partial store. ``bins`` is a
    timechannel or BDA bin map; ``chan_bin_size`` the channel divisor
    (an int, or ``F.col("chan_fac")`` with a BDA map)."""
    return _start(
        vis_stream,
        lambda df, bid: _merge_vis_into(df, bid, out_dir, bins, chan_bin_size),
        checkpoint,
    )


def finalize_vis(spark, out_dir: str) -> DataFrame:
    """The A1a averaged columns from the stored partials: _VIS_KEYS plus
    the batch average_vis value columns, through the same finalize."""
    p = spark.read.parquet(os.path.join(out_dir, "current"))
    return p.select(*_VIS_KEYS, *finalize())


# ---------------------------------------------------------------------------
# Streaming CDC upsert: a changelog stream continuously materialized as
# its latest-state table (the streaming twin of queries/cdcq.py's
# cdc_changelog_compact). Each micro-batch compacts to one row per key
# (max_by over the (ts, id) event-time struct), then merges into the
# stored state with NEWER-WINS on the same ordering and ADDITIVE
# version counts — both operations are associative/commutative across
# batches, which is what makes the converged state equal the batch
# compaction regardless of how the changelog was chunked.

_CDC_KEYS = ["user_id", "event_type"]


def _cdc_compact_batch(batch_df: DataFrame) -> DataFrame:
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return batch_df.groupBy(*_CDC_KEYS).agg(
        F.max_by("event_id", ordk).alias("last_event_id"),
        F.max_by("value", ordk).alias("last_value"),
        F.max_by(F.unix_micros("ts"), ordk).alias("last_ts_us"),
        F.count("*").alias("n_versions"),
    )


def _cdc_merge_into(batch_df: DataFrame, batch_id: int, out_dir: str):
    ordk = F.struct(F.col("last_ts_us"), F.col("last_event_id"))
    _upsert(
        _cdc_compact_batch(batch_df), out_dir, _CDC_KEYS,
        [
            F.max_by("last_event_id", ordk).alias("last_event_id"),
            F.max_by("last_value", ordk).alias("last_value"),
            F.max("last_ts_us").alias("last_ts_us"),
            F.sum("n_versions").alias("n_versions"),
        ],
    )


def materialized_cdc_state(stream_df: DataFrame, out_dir: str, checkpoint: str):
    """Start the CDC latest-state maintenance query (availableNow)."""
    return _start(
        stream_df, lambda df, bid: _cdc_merge_into(df, bid, out_dir), checkpoint
    )

"""Incrementally-materialized rollup — the continuous-aggregate pattern.

``foreachBatch`` gives a streaming query an arbitrary batch-DataFrame
sink; here each micro-batch's partial aggregates MERGE into a
parquet-backed rollup table (read-merge-overwrite). This is the
hypertable continuous-aggregate / materialized-view-maintenance shape:
the stored table always holds the rollup of everything consumed so far,
and merging partials is valid because the aggregates carried are
decomposable (count/sum pairs; averages derive at read time).

The store ``<out_dir>/current`` is a one-table MS (sources/ms_writer.py)
that records the id of the last batch merged: a batch Spark replays
after a kill (merged, but not yet committed to the checkpoint) is a
no-op, and a commit the kill cut short is undone before a read.

At real scale the overwrite becomes a transactional MERGE into a table
format with commit semantics (Delta/Iceberg); the plan shape — batch
partial agg, key-join merge, atomic swap — is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xova_spark.operators.timechannel import (
    bin_partials,
    finalize_partials,
    merge_bin_partials,
)
from xova_spark.sources.ms_writer import MANIFEST, load_ms, recover, write_ms

STATE = "state"


def _open(spark, out_dir: str) -> dict | None:
    """load_ms of the store after ``recover``; None if there is none. A
    store without the manifest (an older layout) raises, naming it."""
    cur = os.path.join(out_dir, "current")
    recover(cur)
    if not os.path.exists(cur):
        return None
    if not os.path.exists(os.path.join(cur, MANIFEST)):
        raise RuntimeError(f"{cur} is not a state store: no {MANIFEST}")
    return load_ms(spark, cur)


def _upsert(partial: DataFrame, out_dir: str, batch_id: int, merge):
    """Merge micro-batch ``batch_id``'s partials into the store: recover
    and reopen it, skip a batch it already holds (a replay), else
    ``merge`` the state unioned with the partials and commit the result
    with ``batch_id`` through write_ms."""
    store = _open(partial.sparkSession, out_dir)
    if store is not None:
        if store["_keywords"][STATE]["batch_id"] == batch_id:
            return
        partial = merge(store[STATE].unionByName(partial))
    tables = {STATE: partial, "_keywords": {STATE: {"batch_id": batch_id}}}
    write_ms(tables, os.path.join(out_dir, "current"), force=True)


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
    def merge(state: DataFrame) -> DataFrame:
        return state.groupBy(*keys).agg(
            F.sum("n").alias("n"), F.sum("total").alias("total")
        )

    partial = batch_df.groupBy(*keys).agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    _upsert(partial, out_dir, batch_id, merge)


def materialized_rollup(
    stream_df: DataFrame, out_dir: str, keys: list[str], checkpoint: str
):
    """Start the maintenance query (availableNow); returns the handle."""
    return _start(
        stream_df, lambda df, bid: _merge_into(df, bid, out_dir, keys), checkpoint
    )


def read_rollup(spark, out_dir: str) -> DataFrame:
    """The stored state; reopened with no Spark job."""
    store = _open(spark, out_dir)
    if store is None:
        raise RuntimeError(f"no state store under {out_dir}")
    return store[STATE]


# ---------------------------------------------------------------------------
# Streaming MS maintenance: the averaging pipeline as a continuously
# materialized output MS. Each micro-batch of visibility samples merges
# its bin_partials — the DECOMPOSABLE A1a sums per (rep, chan_bin, corr)
# with the bin key carried, the very aggregation the batch average_vis
# finalizes — into the stored table through merge_bin_partials (counts
# and sums add, flag is AND); the averaged columns derive at read time
# through the same finalize. This is the reference's write path
# (app.py:107-116) turned into incremental maintenance the batch engine
# cannot express. Both pipelines share it: a BDA bin map and
# ``F.col("chan_fac")`` as the channel divisor give the ragged bins.


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
        lambda df, bid: _upsert(
            bin_partials(df, bins, chan_bin_size), out_dir, bid, merge_bin_partials
        ),
        checkpoint,
    )


def finalize_vis(spark, out_dir: str, keep_rep: bool = False) -> DataFrame:
    """The A1a averaged columns from the stored partials, as the batch
    average_vis returns them: the bin key (led by ``rep`` if
    ``keep_rep``), chan_bin, corr and the values, through the same
    finalize."""
    return finalize_partials(read_rollup(spark, out_dir), keep_rep)


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

    def merge(state: DataFrame) -> DataFrame:
        return state.groupBy(*_CDC_KEYS).agg(
            F.max_by("last_event_id", ordk).alias("last_event_id"),
            F.max_by("last_value", ordk).alias("last_value"),
            F.max("last_ts_us").alias("last_ts_us"),
            F.sum("n_versions").alias("n_versions"),
        )

    _upsert(_cdc_compact_batch(batch_df), out_dir, batch_id, merge)


def materialized_cdc_state(stream_df: DataFrame, out_dir: str, checkpoint: str):
    """Start the CDC latest-state maintenance query (availableNow)."""
    return _start(
        stream_df, lambda df, bid: _cdc_merge_into(df, bid, out_dir), checkpoint
    )

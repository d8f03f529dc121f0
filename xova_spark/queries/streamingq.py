"""Streaming query pack — Structured Streaming runs under the batch
oracle gate.

A Trigger.AvailableNow stream that has consumed all input converges to
a deterministic result, so its DuckDB twin is simply the equivalent
batch SQL: tumbling windows become epoch-aligned floor(TIME/bin) groups
and session windows become per-(partition, baseline) min/max spans
(valid because the fixture's intra-scan cadence 2 s < gap 4 s and
SCAN_NUMBER is a grouping key — each group is exactly one session).
This puts the streaming execution path itself — watermarking,
incremental state, window assignment — under the value-hash gate.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import functions as F

from xova_spark.sources.ms_fixture import load_ms, ms_fixture_dir
from xova_spark.streaming import average as SA

REGISTRY: dict[str, tuple] = {}

_DIR = ms_fixture_dir()
# The file-source staging directories, under this checkout's .cache/.
_CACHE = os.path.abspath(os.path.join(__file__, "../../../.cache"))
_BIN = 4.0
_GAP = 4.0
_uniq = itertools.count()

_ROW_AGG_SQL = """
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
    count(*) AS n_rows
"""


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


@q(
    "stream_tc_rows",
    f"""
SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
    CAST(floor(TIME / {_BIN}) AS INTEGER) AS time_bin,
    {_ROW_AGG_SQL}
FROM read_parquet('{_DIR}/ms_rows.parquet')
GROUP BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
         CAST(floor(TIME / {_BIN}) AS INTEGER)
""",
)
def stream_tc_rows(spark, sf_dir):
    """A1 via Structured Streaming: tumbling window + watermark,
    availableNow-converged; equals the epoch-aligned batch aggregation
    (SURVEY §2.8 — window(col, '2 seconds') + watermark shape)."""
    load_ms(spark, _DIR)
    stream = SA.read_rows_stream(spark, _DIR)
    name = f"q_stream_tc_rows_{next(_uniq)}"
    return SA.run_to_memory(SA.streaming_average_rows(stream, _BIN), name)


def _events_stream(spark, sf_dir: str):
    """File-source stream over the harness events table (symlinked into
    a one-table directory, as the file source requires)."""
    src = os.path.join(sf_dir, "events.parquet")
    tag = os.path.basename(sf_dir.rstrip("/"))
    stream_dir = os.path.join(_CACHE, "stream_events", tag)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    static = spark.read.parquet(src)
    return (
        spark.readStream.schema(static.schema).format("parquet").load(stream_dir)
    )


@q(
    "stream_dedup_events",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_events(spark, sf_dir):
    """Streaming stateful dedup: dropDuplicates over an unbounded
    key-stream (the streaming shape of exact dedup — state keyed on the
    dedup columns). Converged availableNow result == batch DISTINCT."""
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("events",))
    dedup = _events_stream(spark, sf_dir).select("user_id", "event_type").dropDuplicates()
    name = f"q_stream_dedup_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            dedup.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    return spark.table(name)


@q(
    "stream_stateful_user_stats",
    """
SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY user_id
""",
)
def stream_stateful_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running accumulator; availableNow-converged state == the batch
    aggregation (SURVEY §2.8 flatMapGroupsWithState analogue)."""
    from pyspark.sql import functions as F

    from xova_spark.queries.relational import load_tables
    from xova_spark.streaming.stateful import stateful_user_stats

    load_tables(spark, sf_dir, ("events",))
    out = stateful_user_stats(_events_stream(spark, sf_dir))
    name = f"q_stream_state_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    # update mode emits a row per (user, micro-batch); keep the FINAL
    # state per user. n_events is the monotone progress key, so
    # max_by(total_value, n_events) picks the last emission even if
    # values were negative (independent max(total_value) would not).
    t = spark.table(name)
    return (
        t.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .select(
            "user_id", "n_events", F.round("total_value", 4).alias("total_value")
        )
    )


@q(
    "stream_session_bins",
    f"""
SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
    {_ROW_AGG_SQL},
    CAST(min(TIME) AS BIGINT) AS session_start,
    CAST(max(TIME) + {_GAP} AS BIGINT) AS session_end
FROM read_parquet('{_DIR}/ms_rows.parquet')
GROUP BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2
""",
)
def stream_session_bins(spark, sf_dir):
    """W3 as streaming session windows: a bin closes when a baseline
    goes quiet for gap seconds (the streaming shape of BDA bin
    closure). One session per (partition, baseline) on the fixture."""
    load_ms(spark, _DIR)
    stream = SA.read_rows_stream(spark, _DIR)
    name = f"q_stream_sessions_{next(_uniq)}"
    return SA.run_to_memory(SA.streaming_session_bins(stream, _GAP), name)


_VIS_BIN = 4.0
_VIS_CHAN_BIN = 16


@q(
    "stream_tc_vis",
    f"""
SELECT r.FIELD_ID, r.DATA_DESC_ID, r.SCAN_NUMBER, r.ANTENNA1, r.ANTENNA2,
    CAST(floor(v.chan / {_VIS_CHAN_BIN}) AS INTEGER) AS chan_bin, v.corr,
    CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
         THEN sum(v.weight_sp * v.vis_re) FILTER (WHERE NOT v.flag)
              / sum(v.weight_sp) FILTER (WHERE NOT v.flag)
         ELSE sum(v.weight_sp * v.vis_re) / sum(v.weight_sp) END AS vis_re,
    CASE WHEN count(*) FILTER (WHERE NOT v.flag) > 0
         THEN sum(v.weight_sp * v.vis_im) FILTER (WHERE NOT v.flag)
              / sum(v.weight_sp) FILTER (WHERE NOT v.flag)
         ELSE sum(v.weight_sp * v.vis_im) / sum(v.weight_sp) END AS vis_im,
    bool_and(v.flag) AS flag,
    count(*) AS n_samples,
    CAST(floor(r.TIME / {_VIS_BIN}) AS INTEGER) AS time_bin
FROM read_parquet('{_DIR}/ms_vis.parquet') v
JOIN read_parquet('{_DIR}/ms_rows.parquet') r USING (row_id)
GROUP BY r.FIELD_ID, r.DATA_DESC_ID, r.SCAN_NUMBER, r.ANTENNA1, r.ANTENNA2,
         chan_bin, v.corr, CAST(floor(r.TIME / {_VIS_BIN}) AS INTEGER)
""",
)
def stream_tc_vis(spark, sf_dir):
    """Full A1 visibility averaging as a streaming pipeline:
    stream-static join (streaming samples x static row dim) + tumbling
    window x chan_bin x corr aggregation with A1a semantics —
    converged availableNow result == the epoch-aligned batch twin."""
    from xova_spark.sources.ms_fixture import load_ms

    t = load_ms(spark, _DIR)
    stream = SA.parquet_stream(
        spark, f"{_DIR}/ms_vis.parquet", f"{_DIR}/stream/ms_vis"
    )
    name = f"q_stream_tc_vis_{next(_uniq)}"
    return SA.run_to_memory(
        SA.streaming_average_vis(stream, t["ms_rows"], _VIS_BIN, _VIS_CHAN_BIN),
        name,
    )


@q(
    "stream_bda_vis",
    None,  # patched below: bda params CTE + session aggregation
)
def stream_bda_vis(spark, sf_dir):
    """BDA-as-stream: session windows close per-baseline bins, the
    static decorrelation params supply the ragged chan_fac; converged
    result == the batch per-(scan-session, baseline) aggregation."""
    from xova_spark.operators import bda as B
    from xova_spark.queries import bda as bq
    from xova_spark.sources.ms_fixture import load_ms

    t = load_ms(spark, _DIR)
    params = B.bin_params(
        t["ms_rows"], B.ddid_dims(t), bq.DECORR, bq.MAX_FOV, bq.TIME_CAP,
        bq.MIN_NCHAN,
    )
    stream = SA.parquet_stream(
        spark, f"{_DIR}/ms_vis.parquet", f"{_DIR}/stream/ms_vis"
    )
    name = f"q_stream_bda_vis_{next(_uniq)}"
    return SA.run_to_memory(
        SA.streaming_bda_vis(stream, t["ms_rows"], params, _GAP), name
    )


def _patch_stream_bda_oracle():
    """Oracle: each (partition, baseline) is ONE session on the fixture
    (intra-scan cadence < gap, SCAN_NUMBER in the keys), so the batch
    twin groups by keys x chan_bin x corr with session_start = min TIME."""
    from xova_spark.queries import bda as bq

    sql = (
        bq._PARAMS_CTE
        + f"""
SELECT b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
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
    count(*) AS n_samples,
    CAST(min(b.TIME) AS BIGINT) AS session_start
FROM read_parquet('{_DIR}/ms_vis.parquet') v
JOIN binned b USING (row_id)
GROUP BY b.FIELD_ID, b.DATA_DESC_ID, b.SCAN_NUMBER, b.ANTENNA1, b.ANTENNA2,
         chan_bin, v.corr
"""
    )
    REGISTRY["stream_bda_vis"] = (stream_bda_vis, sql)


_patch_stream_bda_oracle()


def _documents_stream(spark, sf_dir: str):
    """File-source stream over the documents table (same symlink-dir
    staging as _events_stream — the file source needs a directory)."""
    src = os.path.join(sf_dir, "documents.parquet")
    tag = os.path.basename(sf_dir.rstrip("/"))
    stream_dir = os.path.join(_CACHE, "stream_documents", tag)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    static = spark.read.parquet(src)
    return (
        spark.readStream.schema(static.schema).format("parquet").load(stream_dir)
    )


@q(
    "stream_corpus_audit",
    """
    WITH u AS (
      SELECT lang, md5(text) AS h,
             min(len(string_split(text, ' '))) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) >= 20
      GROUP BY lang, md5(text)
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM u GROUP BY lang
    """,
)
def stream_corpus_audit(spark, sf_dir):
    """Streaming corpus ingest: quality-filter arriving documents,
    stateful exact-dedup (dropDuplicates keyed on (lang, content-hash) —
    unbounded dedup state, the streaming twin of dedup_exact), and a
    running per-language doc/token audit in complete mode. The
    availableNow-converged result equals the batch formulation —
    duplicates have identical text, so the audit is invariant to WHICH
    copy the streaming dedup keeps. At 100 TB the dedup state is the
    thing to bound: dropDuplicatesWithinWatermark bounds it by arrival
    time (contract pinned in test_streaming_dedup_watermark.py)."""
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("documents",))
    toks = F.size(F.split("text", " "))
    dedup = (
        _documents_stream(spark, sf_dir)
        .filter(toks >= 20)
        .select("lang", F.md5("text").alias("h"), toks.alias("n_tokens"))
        .dropDuplicates(["lang", "h"])
    )
    out = dedup.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens")
    )
    name = f"q_stream_corpus_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    return spark.table(name)


def _embeddings_stream(spark, sf_dir: str):
    """File-source stream over the embeddings table (same symlink-dir
    staging as _events_stream)."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    tag = os.path.basename(sf_dir.rstrip("/"))
    stream_dir = os.path.join(_CACHE, "stream_embeddings", tag)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    static = spark.read.parquet(src)
    return (
        spark.readStream.schema(static.schema).format("parquet").load(stream_dir)
    )


def _ivfpq_topk_stream_sql():
    from xova_spark.queries.pipelineq import _ivfpq_topk_sql

    return _ivfpq_topk_sql()


@q("stream_ann_search", _ivfpq_topk_stream_sql())
def stream_ann_search(spark, sf_dir):
    """STREAMING ANN SERVING: query vectors ARRIVE as a stream and each
    micro-batch searches the STATIC IVF-PQ index (the standard serving
    split — index trained/persisted once, queries continuous). The
    stream side is model-scale per batch (probe cells + lookup tables
    computed driver-side with the builder's fold arithmetic), so each
    batch costs one pruned scan of the code table; per-query top-k needs
    a window, which streaming aggregation can't express — foreachBatch
    is the sanctioned escape hatch, and every batch reuses
    ivfpq_search_frame, the exact core the batch/CLI paths run.

    Converged availableNow result == ann_ivfpq_topk (same oracle SQL):
    query ids are disjoint across micro-batches, and a query's top-k is
    complete within its own batch — so the union over batches is the
    batch answer, bit-identical."""
    import pandas as pd

    from xova_spark.queries.pipelineq import (
        _IVFPQ_CELLS,
        _coarse_cellrank,
        _pq_fit,
        ivfpq_search_frame,
    )
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("embeddings",))
    codes, cents = _pq_fit(spark, sf_dir)
    _e, nv, cellrank = _coarse_cellrank(spark, sf_dir)
    assigned = cellrank.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cent_id").alias("cell")
    )
    codes_with_cell = codes.join(assigned, "vec_id").persist()
    codes_with_cell.count()
    coarse = {
        int(r["vec_id"]): list(r["emb"])
        for r in nv.filter(F.col("vec_id") < _IVFPQ_CELLS)
        .select("vec_id", "emb")
        .collect()
    }
    results: list = []

    def handle(batch, _bid):
        qvecs = {
            int(r["vec_id"]): list(r["emb"])
            for r in batch.filter(F.col("vec_id") < 10)
            .select(
                "vec_id",
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * 1024) / 1024,
                ).alias("emb"),
            )
            .collect()
        }
        if not qvecs:
            return
        results.append(
            ivfpq_search_frame(
                spark, codes_with_cell, cents, coarse, qvecs
            ).toPandas()
        )

    import tempfile

    stream = _embeddings_stream(spark, sf_dir)
    q_ = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="xova_ckpt_ann_search_"),
        )
        .start()
    )
    q_.awaitTermination()
    codes_with_cell.unpersist()
    out = pd.concat(results, ignore_index=True)
    return spark.createDataFrame(
        out, "qid long, cid long, pq_dist double, rank int"
    )


@q(
    "stream_hourly_rollup",
    """
    SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
           CAST(extract(hour FROM ts) AS INTEGER) AS hour,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_hourly_rollup(spark, sf_dir):
    """Watermarked TUMBLING-WINDOW rollup over the arriving event
    stream — the hypertable continuous-aggregate maintained
    incrementally (the streaming twin of ev_hourly_rollup_gapfill's
    agg core): 1-hour event-time windows with a 1-hour watermark;
    append mode emits each window once it is final. The availableNow-
    converged result equals the batch hourly aggregation; hour windows
    are epoch-aligned so the window start IS the (day, hour) bucket."""
    from pyspark.sql import functions as F

    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("events",))
    # The file stream reads the raw parquet (INT64 micros, NTZ) — apply
    # the same tz-independent NTZ->TIMESTAMP normalization load_tables
    # uses; watermarks require TIMESTAMP event time.
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    name = f"q_stream_hourly_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    t = spark.table(name)
    start = F.col("w.start")
    return t.select(
        F.datediff(
            start.cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("day"),
        F.hour(start).alias("hour"),
        "event_type",
        "n",
        "total_value",
    )


_ANOM_SPLIT = "2024-01-22"


@q(
    "stream_anomaly_alerts",
    f"""
    WITH base_b AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS INTEGER) AS hour,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             count(*) AS n
      FROM events WHERE ts < TIMESTAMP '{_ANOM_SPLIT}'
      GROUP BY 1, 2, 3
    ), st AS (
      SELECT event_type, hour, count(*) AS k,
             sum(n) AS s1, sum(n * n) AS s2
      FROM base_b GROUP BY 1, 2
    ), live AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS INTEGER) AS hour,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             count(*) AS n
      FROM events WHERE ts >= TIMESTAMP '{_ANOM_SPLIT}'
      GROUP BY 1, 2, 3
    )
    SELECT l.event_type, l.day, l.hour, l.n,
           round((l.n - s1 * 1.0 / k)
                 / sqrt(s2 * 1.0 / k - (s1 * 1.0 / k) * (s1 * 1.0 / k)), 6)
             AS zscore,
           CASE WHEN abs((l.n - s1 * 1.0 / k)
                 / sqrt(s2 * 1.0 / k - (s1 * 1.0 / k) * (s1 * 1.0 / k))) >= 2.0
                THEN 1 ELSE 0 END AS anomaly
    FROM live l JOIN st USING (event_type, hour)
    WHERE s2 * 1.0 / k - (s1 * 1.0 / k) * (s1 * 1.0 / k) > 0
    """,
)
def stream_anomaly_alerts(spark, sf_dir):
    """STREAMING ANOMALY MAINTENANCE — the serving twin of
    ev_anomaly_zscore (relext.py): the seasonal baseline (per
    (event_type, hour-of-day) count moments) is TRAINED on the static
    history (ts < {split}) exactly as the batch query computes it; the
    post-split events ARRIVE as a watermarked stream whose hourly
    tumbling-window counts are scored against the broadcast baseline.

    The baseline stats are integer moments (k, s1, s2 — the
    sum-of-squares identity over integer hourly counts), so the only
    float op is the final z = (n - mean)/std, round(6) on both engines.

    Production shape: the scoring join runs per micro-batch in
    foreachBatch against the broadcast (types x 24)-row baseline; with
    availableNow the converged union of scored windows equals the batch
    split query bit-for-bit (window counts are final once the watermark
    passes; hourly buckets are disjoint across batches by event time).
    """
    from xova_spark.queries.relational import load_tables

    (ev_static,) = [load_tables(spark, sf_dir, ("events",))["events"]]
    split = F.lit(_ANOM_SPLIT).cast("timestamp")

    base_b = (
        ev_static.filter(F.col("ts") < split)
        .groupBy(
            "event_type",
            F.hour("ts").alias("hour"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("day"),
        )
        .agg(F.count("*").alias("n"))
    )
    st = base_b.groupBy("event_type", "hour").agg(
        F.count("*").alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )

    # Arriving half: watermarked hourly tumbling windows (epoch-aligned,
    # so the window start IS the (day, hour) bucket).
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    live = (
        ev.filter(F.col("ts") >= split)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"q_stream_anomaly_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            live.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    t = spark.table(name)
    start = F.col("w.start")
    buckets = t.select(
        "event_type",
        F.datediff(
            start.cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("day"),
        F.hour(start).alias("hour"),
        "n",
    )
    mean = F.col("s1") * F.lit(1.0) / F.col("k")
    var = F.col("s2") * F.lit(1.0) / F.col("k") - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        buckets.join(F.broadcast(st), ["event_type", "hour"])
        .filter(var > 0)
        .select(
            "event_type",
            "day",
            "hour",
            "n",
            F.round(z, 6).alias("zscore"),
            F.when(F.abs(z) >= 2.0, 1).otherwise(0).alias("anomaly"),
        )
    )


@q(
    "stream_click_attribution",
    """
    SELECT CAST(v.event_id AS BIGINT) AS view_id,
           CAST(c.event_id AS BIGINT) AS click_id,
           v.user_id AS user_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 4 HOUR
    """,
)
def stream_click_attribution(spark, sf_dir):
    """STREAM-STREAM interval join — the one Structured Streaming join
    shape the rest of the pack doesn't cover: a views stream joined to
    a clicks stream on user within a 4-hour attribution window.
    Both sides carry event-time watermarks (5 h — window width plus
    late-data margin), which is what BOUNDS the join state: Spark
    evicts a buffered view once no future click can land in its
    window, so state is O(rows-in-flight), not O(stream length) — the
    property that lets this run forever at 100 TB/day. Inner-join
    results are emitted as matches arrive; the availableNow-converged
    output equals the batch interval join (the oracle)."""
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("events",))
    norm = F.to_utc_timestamp(F.col("ts"), "UTC")
    views = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", norm)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "5 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", norm)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "5 hours")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND c_ts >= v_ts "
            "AND c_ts < v_ts + interval 4 hours"
        ),
    )
    name = f"q_stream_attrib_{next(_uniq)}"
    # Pure inner-join graph — idle watermark-advance batches skipped
    # (measured 3.75 -> 2.21 s median at sf0.1, identical output; see
    # SA.no_idle_microbatches).
    with SA.stream_state_partitions(spark), SA.no_idle_microbatches(
        spark
    ):
        q_ = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    t = spark.table(name)
    return t.select(
        F.col("view_id").cast("long").alias("view_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("v_user").alias("user_id"),
        (F.unix_micros("c_ts") - F.unix_micros("v_ts"))
        .cast("long")
        .alias("lag_us"),
    )


@q(
    "stream_cdc_merge",
    """
    WITH v AS (
        SELECT user_id, event_type, event_id, value, ts,
               row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn,
               count(*) OVER (
                   PARTITION BY user_id, event_type
               ) AS n_versions
        FROM events
    )
    SELECT user_id, event_type,
           CAST(event_id AS BIGINT) AS last_event_id,
           round(value, 4) AS last_value,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM v WHERE rn = 1
    """,
)
def stream_cdc_merge(spark, sf_dir):
    """STREAMING CDC UPSERT MATERIALIZATION — the changelog stream
    continuously maintained as its latest-state table via foreachBatch
    (streaming/materialize.py): per micro-batch compact to one row per
    (user, type) key, then NEWER-WINS merge into the parquet-backed
    state with additive version counts. Both steps are associative
    across batches, so the converged state equals the batch compactor
    (cdc_changelog_compact — same oracle) no matter how the changelog
    was chunked; the 3-chunk replay law is pinned in tests.

    At scale this is the upsert-view pattern: the per-batch compact is
    one partial-agg shuffle of the BATCH (not the history), the merge
    re-aggregates the state unioned with it on the same key, and the
    store's write_ms commit (it records the merged batch id, so a batch
    replayed after a kill merges once) becomes a transactional MERGE on
    a table format with commits."""
    import shutil
    import tempfile

    from xova_spark.queries.relational import load_tables
    from xova_spark.streaming import materialize as M

    load_tables(spark, sf_dir, ("events",))
    stream = _events_stream(spark, sf_dir).withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    out_dir = tempfile.mkdtemp(prefix="xova_cdc_state_")
    ckpt = tempfile.mkdtemp(prefix="xova_ckpt_cdc_")
    try:
        q_ = M.materialized_cdc_state(stream, out_dir, ckpt)
        q_.awaitTermination()
        state = M.read_rollup(spark, out_dir)
        rows = state.select(
            "user_id",
            "event_type",
            F.col("last_event_id").cast("long").alias("last_event_id"),
            F.round("last_value", 4).alias("last_value"),
            F.col("n_versions").cast("long").alias("n_versions"),
        ).collect()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, event_type string, last_event_id long, "
        "last_value double, n_versions long",
    )


@q(
    "stream_user_sessions",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(max(ts)) + 3600000000 AS BIGINT) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM s GROUP BY user_id, sess
    """,
)
def stream_user_sessions(spark, sf_dir):
    """EVENT-side streaming sessionization via ``session_window`` —
    the native Structured Streaming session operator (1-hour gap):
    state merges windows as events arrive and closes a session once
    the watermark passes its gap end. Converged availableNow output
    equals the batch gaps-and-islands sessionization (w_sessionize's
    partition — the oracle recomputes it with windows); the emitted
    session end is start-of-gap + 1 h, exactly session_window's close
    semantics.

    The MS twin (stream_session_bins) sessionizes baselines; this
    entry pins the same operator on the product-analytics stream,
    where sessions per key are unbounded and the watermark is what
    bounds state."""
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("events",))
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "1 hour").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    name = f"q_stream_usess_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    t = spark.table(name)
    return t.select(
        "user_id",
        F.unix_micros(F.col("w.start")).cast("long").alias("session_start_us"),
        F.unix_micros(F.col("w.end")).cast("long").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


_EV_EXPECTATIONS = (
    ("value_in_0_400", "value < 0 OR value > 400"),
    ("type_enum", "event_type NOT IN "
                  "('view', 'click', 'purchase', 'signup', 'error')"),
    ("ts_in_window", "ts < TIMESTAMP '2024-01-01' "
                     "OR ts >= TIMESTAMP '2024-04-01'"),
    ("user_nonnegative", "user_id < 0"),
)


@q(
    "stream_expectations_monitor",
    " UNION ALL ".join(
        f"""SELECT '{name}' AS expectation,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violations
        FROM events"""
        for name, pred in _EV_EXPECTATIONS
    ),
)
def stream_expectations_monitor(spark, sf_dir):
    """STREAMING DATA-QUALITY MONITOR — the dq_expectations suite run
    continuously over the arriving event stream: per micro-batch the
    row-level predicates evaluate as conditional counts (one agg over
    the BATCH), and the per-expectation violation totals merge
    ADDITIVELY into the monitor state (materialize._upsert, under which
    a replayed batch merges once) — counts are decomposable, so the
    converged totals equal the batch suite no matter how the stream was
    chunked. This is the always-on gate a pipeline alerts from, vs the
    pre-/post-transform batch check (`xova-spark-extras dq --strict`)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as FF

    from xova_spark.queries.relational import load_tables
    from xova_spark.streaming import materialize as M

    load_tables(spark, sf_dir, ("events",))
    stream = _events_stream(spark, sf_dir).withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    out_dir = tempfile.mkdtemp(prefix="xova_dq_monitor_")

    def merge(state):
        return state.groupBy("expectation").agg(
            FF.sum("n_rows").alias("n_rows"),
            FF.sum("n_violations").alias("n_violations"),
        )

    def monitor(batch_df, bid):
        outs = []
        for name, pred in _EV_EXPECTATIONS:
            outs.append(
                batch_df.agg(
                    FF.count("*").cast("long").alias("n_rows"),
                    FF.sum(FF.when(FF.expr(pred), 1).otherwise(0))
                    .cast("long")
                    .alias("n_violations"),
                ).select(FF.lit(name).alias("expectation"), "n_rows", "n_violations")
            )
        partial = outs[0]
        for o in outs[1:]:
            partial = partial.unionAll(o)
        M._upsert(partial, out_dir, bid, merge)

    ckpt = tempfile.mkdtemp(prefix="xova_ckpt_dqmon_")
    try:
        M._start(stream, monitor, ckpt).awaitTermination()
        rows = M.read_rollup(spark, out_dir).collect()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows, "expectation string, n_rows long, n_violations long"
    )


def _qc_fold_exprs():
    """Per-row fold classifier score (engine twin pair): sum over words
    of weight[bucket(h(w))] * sign(h(w)) — the SAME score the grouped
    t_quality_classifier_score computes, as a single projection so the
    streaming side needs only ONE stateful aggregation (chained stateful
    aggs are unsupported in Structured Streaming)."""
    from xova_spark.queries.textops import _FH_BUCKETS, _QC_WEIGHTS

    w_lit = ", ".join(str(w) for w in _QC_WEIGHTS)
    s_h = "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint) % 2147483647"
    spark_expr = (
        "aggregate(filter(split(text, ' '), w -> w != ''), 0L, (acc, w) -> "
        f"acc + element_at(array({w_lit}), cast(({s_h}) % {_FH_BUCKETS} as int) + 1)"
        f" * (1 - 2 * (({s_h}) div {_FH_BUCKETS} % 2)))"
    )
    d_h = "(('0x' || substr(md5(w), 1, 15))::BIGINT) % 2147483647"
    duck_expr = (
        "list_sum(list_transform("
        "list_filter(string_split(text, ' '), w -> w != ''), w -> "
        f"([{w_lit}])[(({d_h}) % {_FH_BUCKETS})::INT + 1]"
        f" * (1 - 2 * ((({d_h}) // {_FH_BUCKETS}) % 2))))"
    )
    return spark_expr, duck_expr


_QC_SPARK_SCORE, _QC_DUCK_SCORE = _qc_fold_exprs()


@q(
    "stream_quality_filter_audit",
    f"""
    WITH scored AS (
      SELECT coalesce({_QC_DUCK_SCORE}, 0) >= 0 AS keep FROM documents
    )
    SELECT keep, count(*) AS n_docs
    FROM scored GROUP BY keep
    """,
)
def stream_quality_filter_audit(spark, sf_dir):
    """The quality classifier as a STREAMING ingest filter: arriving
    documents are scored by a pure per-row fold (hashed features dotted
    with the broadcast weights — identical integers to the batch
    t_quality_classifier_score) and the keep/drop audit is maintained in
    complete mode. Per-row scoring is the load-bearing design move: it
    keeps the stream at ONE stateful aggregation (chained stateful aggs
    are unsupported), and at 100 TB it means the filter adds zero
    shuffles to ingest — score, tag, route."""
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("documents",))
    scored = _documents_stream(spark, sf_dir).select(
        (F.coalesce(F.expr(_QC_SPARK_SCORE), F.lit(0)) >= 0).alias("keep")
    )
    out = scored.groupBy("keep").agg(F.count("*").alias("n_docs"))
    name = f"q_stream_qc_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    return spark.table(name)


def _neardup_oracle_sql() -> str:
    from xova_spark.queries.dedup import (
        DUCK_H31,
        DUCK_SHINGLES,
        N_BANDS,
        _minhash_sql_exprs,
    )

    sig_cols = ", ".join(
        f"{e} AS m{i}" for i, e in enumerate(_minhash_sql_exprs("h"))
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band, "
        f"concat_ws(',', m{4 * k}, m{4 * k + 1}, m{4 * k + 2}, m{4 * k + 3})"
        f" AS bkey FROM sig"
        for k in range(N_BANDS)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), hashed AS (
      SELECT doc_id, {DUCK_H31} AS h FROM ex
    ), sig AS (
      SELECT doc_id, {sig_cols}, count(*) AS nsh
      FROM hashed GROUP BY doc_id
    ), bands AS (
      {bands}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS old_doc
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey
       AND a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
    ), common AS (
      SELECT c.new_doc, c.old_doc, count(*) AS nc
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.new_doc
      JOIN ex eb ON eb.doc_id = c.old_doc AND eb.s = ea.s
      GROUP BY 1, 2
    )
    SELECT cm.new_doc, cm.old_doc,
           round(nc * 1.0 / (sa.nsh + sb.nsh - nc), 6) AS jaccard
    FROM common cm
    JOIN sig sa ON sa.doc_id = cm.new_doc
    JOIN sig sb ON sb.doc_id = cm.old_doc
    WHERE nc * 1.0 / (sa.nsh + sb.nsh - nc) >= 0.5
    """


def _per_row_minhash(df):
    """Stateless per-row MinHash from the shingle-hash ARRAY — no
    groupBy, so it runs identically on a static frame and inside a
    streaming micro-batch (the ingest-side requirement)."""
    from xova_spark.queries.dedup import (
        MINHASH_A,
        MINHASH_B,
        P31,
        SPARK_SHINGLES,
    )

    out = df.filter(F.size(F.split("text", " ")) >= 3).selectExpr(
        "doc_id",
        f"transform({SPARK_SHINGLES}, s ->"
        " cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)) AS hs",
    )
    for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)):
        out = out.withColumn(
            f"m{i}",
            F.expr(
                f"array_min(transform(hs, h -> ({a} * (h % {P31}) + {b})"
                f" % {P31}))"
            ),
        )
    return out.withColumn("nsh", F.size("hs"))


def _band_rows(df, side: str):
    from xova_spark.queries.dedup import N_BANDS

    structs = ", ".join(
        f"struct({k} AS band, concat_ws(',', m{4 * k}, m{4 * k + 1},"
        f" m{4 * k + 2}, m{4 * k + 3}) AS bkey)"
        for k in range(N_BANDS)
    )
    return df.selectExpr(
        f"doc_id AS {side}_doc", f"explode(array({structs})) AS b"
    ).select(f"{side}_doc", "b.band", "b.bkey")


@q("stream_neardup_ingest", _neardup_oracle_sql())
def stream_neardup_ingest(spark, sf_dir):
    """NEAR-dup detection AT INGEST — the streaming composition of the
    LSH dedup stack: arriving documents (doc_id % 4 == 0) are minhashed
    PER ROW (array fold over the shingle-hash array — zero groupBy, so
    the stream stays stateless until the final dedup), band-joined
    against the STATIC band index of the historical corpus, verified by
    exact shingle-array intersection against the historical arrays, and
    emitted as (new_doc, old_doc, jaccard >= 0.5) flags. This is the
    dedup-against-history gate every corpus ingest pipeline runs before
    admitting a document.

    The oracle recomputes the cross-split LSH pairs in batch SQL —
    converged availableNow output == batch, the same banding and the
    same exact verification as dedup_minhash_lsh.

    Scale shape (100 TB): the historical index is (band, bkey) keyed —
    the stream joins it per batch on the band key (broadcast when it
    fits, shuffled otherwise; here AQE decides); verification joins
    only candidates and intersects compact 60-bit arrays per row. The
    one stateful operator is the final pair dropDuplicates (multi-band
    collisions), bounded by emitted pairs, not corpus size."""
    from pyspark.sql import functions as F  # noqa: F811 — local alias

    from xova_spark.queries.relational import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hist = _per_row_minhash(docs.filter(F.col("doc_id") % 4 != 0))
    hist_bands = _band_rows(hist, "old")
    hist_arrays = hist.select(
        F.col("doc_id").alias("old_doc"),
        F.col("hs").alias("hs_old"),
        F.col("nsh").alias("nsh_old"),
    )

    arriving = _documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 4 == 0
    )
    new_sig = _per_row_minhash(arriving)
    new_bands = _band_rows(new_sig, "new").join(
        new_sig.select(
            F.col("doc_id").alias("new_doc"),
            F.col("hs").alias("hs_new"),
            F.col("nsh").alias("nsh_new"),
        ),
        "new_doc",
    )
    nc = F.size(F.array_intersect("hs_new", "hs_old"))
    jac = nc * F.lit(1.0) / (F.col("nsh_new") + F.col("nsh_old") - nc)
    flagged = (
        new_bands.join(hist_bands, ["band", "bkey"])
        .join(hist_arrays, "old_doc")
        .where(jac >= 0.5)
        .select(
            "new_doc",
            "old_doc",
            F.round(jac, 6).alias("jaccard"),
        )
        .dropDuplicates(["new_doc", "old_doc"])
    )
    name = f"q_stream_neardup_{next(_uniq)}"
    # 4 state partitions, not the session default 8 (VERDICT r8 item 6,
    # measured at sf0.1 medians: 3.29 s -> 2.77 s). The only stateful op
    # is the final pair dropDuplicates — emitted-pair grain, so fewer
    # store commits beat scan parallelism. Also measured and REJECTED:
    # localCheckpointing the static band index (3.29 -> 3.57 s at p8 —
    # eager materialization costs more than the per-batch recompute at
    # availableNow's 1-2 batches).
    with SA.stream_state_partitions(spark, 4):
        q_ = (
            flagged.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    return spark.table(name)


def _customers_stream(spark, sf_dir: str):
    """File-source stream over the harness customer table (symlink into
    a one-table dir, same shape as _events_stream)."""
    src = os.path.join(sf_dir, "customer.parquet")
    tag = os.path.basename(sf_dir.rstrip("/"))
    stream_dir = os.path.join(_CACHE, "stream_customer", tag)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    static = spark.read.parquet(src)
    return (
        spark.readStream.schema(static.schema).format("parquet").load(stream_dir)
    )


def _er_stream_oracle_sql() -> str:
    from xova_spark.queries.erq import BLOCK_PREFIX_LEN, MAX_NAME_DIST

    return f"""
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             substr(c_name, 1, {BLOCK_PREFIX_LEN}) AS bkey
      FROM customer
    )
    SELECT n.c_custkey AS new_key, m.c_custkey AS master_key,
           CAST(levenshtein(n.c_name, m.c_name) AS BIGINT) AS name_dist,
           CAST(n.c_nationkey = m.c_nationkey AS BIGINT) AS same_nation
    FROM c n JOIN c m
      ON n.bkey = m.bkey AND n.c_mktsegment = m.c_mktsegment
    WHERE n.c_custkey % 4 = 0 AND m.c_custkey % 4 != 0
      AND levenshtein(n.c_name, m.c_name) <= {MAX_NAME_DIST}
    """


@q("stream_er_ingest", _er_stream_oracle_sql())
def stream_er_ingest(spark, sf_dir):
    """ENTITY MATCHING AT INGEST — the streaming composition of the ER
    pack: arriving customer records (c_custkey % 4 == 0) are blocked on
    (name prefix, segment) per row, equi-joined against the STATIC
    master index (the % 4 != 0 historical customers), Levenshtein-
    verified inside the join, and emitted as (new_key, master_key)
    match candidates — the merge-or-create decision every MDM ingest
    pipeline makes before admitting a record.

    Fully STATELESS: blocking keys are per-row projections and each
    (new, master) pair arises from exactly one block, so no dedup state
    accumulates — converged availableNow output == the batch oracle by
    construction; trigger invariance is pinned in the multibatch test.

    Scale shape: the master index is (bkey, segment) keyed; the stream
    joins it per micro-batch (broadcast when it fits, else shuffled —
    AQE decides); bucket width is capped at 100 names by the key
    design, so per-batch match work is linear in batch size."""
    from xova_spark.queries.erq import BLOCK_PREFIX_LEN, MAX_NAME_DIST
    from xova_spark.queries.relational import load_tables

    # Common-prefix strip (the er_blocked_candidates lever): matched
    # pairs share the bkey prefix exactly, so only the name suffixes
    # cross the join and the per-pair DP runs on them alone —
    # lev(P+s1, P+s2) == lev(s1, s2), same name_dist bit-for-bit.
    master = (
        load_tables(spark, sf_dir, ("customer",))["customer"]
        .filter(F.col("c_custkey") % 4 != 0)
        .select(
            F.col("c_custkey").alias("master_key"),
            F.expr(f"substr(c_name, {BLOCK_PREFIX_LEN + 1})").alias("m_sfx"),
            F.col("c_nationkey").alias("m_nation"),
            F.col("c_mktsegment").alias("m_seg"),
            F.substring("c_name", 1, BLOCK_PREFIX_LEN).alias("bkey"),
        )
    )
    arriving = (
        _customers_stream(spark, sf_dir)
        .filter(F.col("c_custkey") % 4 == 0)
        .select(
            F.col("c_custkey").alias("new_key"),
            F.expr(f"substr(c_name, {BLOCK_PREFIX_LEN + 1})").alias("n_sfx"),
            F.col("c_nationkey").alias("n_nation"),
            F.col("c_mktsegment").alias("m_seg"),
            F.substring("c_name", 1, BLOCK_PREFIX_LEN).alias("bkey"),
        )
    )
    dist = F.levenshtein(F.col("n_sfx"), F.col("m_sfx"))
    matches = (
        arriving.join(master, ["bkey", "m_seg"])
        .where(dist <= MAX_NAME_DIST)
        .select(
            "new_key",
            "master_key",
            dist.cast("long").alias("name_dist"),
            (F.col("n_nation") == F.col("m_nation"))
            .cast("long")
            .alias("same_nation"),
        )
    )
    name = f"q_stream_er_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            matches.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    return spark.table(name)


def _pii_stream_oracle_sql() -> str:
    from xova_spark.queries.textops import (
        _PII_ENRICH_SQL,
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    return f"""
    WITH e AS (
      SELECT doc_id, {_PII_ENRICH_SQL} AS t FROM documents
    ), c AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
                 t, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                    '{PII_PHONE_RE}', '[PHONE]', 'g'),
                    '{PII_IPV4_RE}', '[IP]', 'g') AS redacted,
             CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}'))
                  + len(regexp_extract_all(t, '{PII_IPV4_RE}'))
                  + len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT)
                 AS n_redactions
      FROM e
    )
    SELECT doc_id, redacted, n_redactions,
           CASE WHEN n_redactions >= 2 THEN 'quarantine' ELSE 'release' END
               AS action
    FROM c
    """


@q("stream_pii_scrub", _pii_stream_oracle_sql())
def stream_pii_scrub(spark, sf_dir):
    """PII SCRUBBING AT INGEST — the streaming composition of the PII
    pack: arriving documents are entity-scanned and redacted per
    micro-batch, and each is ROUTED at admission time — `release` for
    the scrubbed common case, `quarantine` when the entity density
    (>= 2 redactions) warrants human review before the document may
    enter the corpus. This is the admission-control gate a compliant
    training-data pipeline runs ahead of any persistence of raw text.

    Fully STATELESS: scan, redact, and the routing decision are per-row
    projections, so converged availableNow output == the batch oracle by
    construction regardless of trigger chunking (same argument as
    stream_er_ingest).

    Scale shape: map-only per micro-batch — zero exchanges, zero state
    store; at ingest rate the scrub is bounded by the regex throughput
    of the scan itself."""
    from xova_spark.queries.textops import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        _pii_count,
        _pii_enrich_col,
    )

    t = _pii_enrich_col()
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE, "[PHONE]"),
        PII_IPV4_RE, "[IP]")
    n = (_pii_count(t, PII_EMAIL_RE) + _pii_count(t, PII_IPV4_RE)
         + _pii_count(t, PII_PHONE_RE))
    out = _documents_stream(spark, sf_dir).select(
        "doc_id",
        red.alias("redacted"),
        n.alias("n_redactions"),
        F.when(n >= 2, F.lit("quarantine")).otherwise(F.lit("release"))
        .alias("action"),
    )
    name = f"q_stream_pii_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    return spark.table(name)


@q(
    "stream_join_view_maintenance",
    f"""
    WITH o_new AS (
        SELECT o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   + CASE WHEN o_orderkey % 10 = 0 THEN 500 ELSE 0 END AS p
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-07-01' AND o_orderkey % 97 <> 3
    ),
    c_new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 13 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS seg
        FROM customer
        WHERE c_custkey % 89 <> 7
    )
    SELECT c.seg AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o.p) AS BIGINT) AS total_cents
    FROM o_new o JOIN c_new c ON c.c_custkey = o.o_custkey
    GROUP BY c.seg
    """,
)
def stream_join_view_maintenance(spark, sf_dir):
    """STREAMING twin of cdc_join_view_maintenance: the per-segment
    join view maintained CONTINUOUSLY as order changes stream in. Each
    micro-batch joins its order rows against the broadcast customer
    dimension (stream-static join — the streaming plan Spark never
    re-scans the dim for), reduces to per-segment (count, cents)
    partials, and merges ADDITIVELY into the parquet-backed view via
    the shared materializer (streaming/materialize.py — the same
    foreachBatch upsert stream_cdc_merge uses, committed by write_ms,
    under which a batch replayed after a kill merges once). Count+sum
    are associative/commutative, so the converged availableNow state
    equals the batch join-aggregate no matter how ingestion was
    chunked; the DuckDB oracle computes that batch view directly.

    At 100 TB this is the canonical streaming-lakehouse rollup: batch
    work is proportional to the CHANGES (one partial-agg of the batch
    + a group-grain merge), never the accumulated history, and the
    store's commit with its batch-id record becomes a transactional
    MERGE on a real table format."""
    import shutil
    import tempfile

    from xova_spark.queries.relational import load_tables
    from xova_spark.streaming import materialize as M

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    c_new = (
        t["customer"]
        .where(F.col("c_custkey") % 89 != 7)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 13 == 0, F.lit("MOVED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
        )
    )

    src = os.path.join(sf_dir, "orders.parquet")
    tag = os.path.basename(sf_dir.rstrip("/"))
    stream_dir = os.path.join(_CACHE, "stream_orders", tag)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .format("parquet")
        .load(stream_dir)
        .where(
            (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
            & (F.col("o_orderkey") % 97 != 3)
        )
        .select(
            "o_custkey",
            (
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                + F.when(F.col("o_orderkey") % 10 == 0, 500).otherwise(0)
            ).alias("value"),
        )
        .join(F.broadcast(c_new), F.col("o_custkey") == F.col("c_custkey"))
        .select("seg", "value")
    )
    out_dir = tempfile.mkdtemp(prefix="xova_jv_state_")
    ckpt = tempfile.mkdtemp(prefix="xova_ckpt_jv_")
    try:
        q_ = M.materialized_rollup(stream, out_dir, ["seg"], ckpt)
        q_.awaitTermination()
        rows = (
            M.read_rollup(spark, out_dir)
            .select(
                F.col("seg").alias("mktsegment"),
                F.col("n").cast("long").alias("n_orders"),
                F.col("total").cast("long").alias("total_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows, "mktsegment string, n_orders long, total_cents long"
    )


@q(
    "stream_funnel_conversion",
    """
    SELECT CAST(v.event_id AS BIGINT) AS view_id,
           CAST(c.event_id AS BIGINT) AS click_id,
           CAST(p.event_id AS BIGINT) AS purchase_id,
           v.user_id AS user_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS funnel_lag_us
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 2 HOUR
    JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 2 HOUR
    """,
)
def stream_funnel_conversion(spark, sf_dir):
    """CHAINED STREAM-STREAM FUNNEL — the three-stage view -> click ->
    purchase conversion join, the one streaming join topology the pack
    did not yet cover (stream_click_attribution is a single
    stream-stream join; this CASCADES a second interval join onto the
    first join's output, which is what a real funnel needs). Each stage
    must land within 2 hours of the previous one; output is the exact
    triple grain (every qualifying path, the same contract as the
    attribution entry).

    State boundedness — the property that lets this run forever at
    100 TB/day: all three legs carry event-time watermarks (5 h =
    the 4 h maximum view->purchase span plus late-data margin), so
    Spark evicts a buffered view/click once no future purchase can
    complete its funnel; state is O(rows-in-flight-within-4h), never
    O(stream length). Watermark propagation through the cascaded join
    is the exact machinery under test: Spark allows only ONE event-time
    column into the second join, so the first join's output demotes the
    view time to a plain epoch-micros long and keeps the click time as
    the watermark carrier — eviction flows through it. The
    availableNow-converged output equals the batch three-way interval
    join (the oracle)."""
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("events",))
    norm = F.to_utc_timestamp(F.col("ts"), "UTC")

    def leg(etype, idc, userc, tsc):
        return (
            _events_stream(spark, sf_dir)
            .withColumn("ts", norm)
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(idc),
                F.col("user_id").alias(userc),
                F.col("ts").alias(tsc),
            )
            .withWatermark(tsc, "5 hours")
        )

    views = leg("view", "view_id", "v_user", "v_ts")
    clicks = leg("click", "click_id", "c_user", "c_ts")
    purchases = leg("purchase", "purchase_id", "p_user", "p_ts")
    vc = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND c_ts >= v_ts"
            " AND c_ts < v_ts + interval 2 hours"
        ),
    ).select(
        # Only ONE event-time column may flow into the next
        # stream-stream join (Spark enforces this); the view time
        # demotes to a plain epoch-microsecond long for the final lag
        # readout, and c_ts stays the watermark carrier.
        "view_id",
        "click_id",
        "c_user",
        "c_ts",
        F.unix_micros("v_ts").alias("v_us"),
    )
    vcp = vc.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts"
            " AND p_ts < c_ts + interval 2 hours"
        ),
    )
    name = f"q_stream_funnel_{next(_uniq)}"
    # 4 state partitions (VERDICT r8 item 6, measured at sf0.1 medians:
    # 4.49 s -> 3.62 s; p2/p1 regress again — 4 join sides x parts
    # store commits per batch vs per-partition work). Also measured and
    # REJECTED: sharing one events-stream instance across the three
    # legs (4.32 s at p8 — the microbatch planner scans per leg
    # regardless). Floor decomposition at sf0.1: stateless passthrough
    # ~1.0 s (query start/stop + scan + sink), each chained
    # stream-stream join adds ~1.2-1.4 s (two state sides + the extra
    # watermark-propagation microbatch) — irreducible harness
    # machinery under availableNow, not per-row work.
    # Pure inner-join graph: result rows emit in their data batch, so
    # the idle watermark-advance batches are skipped (measured 4.91 ->
    # 3.36 s median at sf0.1, identical output; see
    # SA.no_idle_microbatches).
    with SA.stream_state_partitions(spark, 4), SA.no_idle_microbatches(
        spark
    ):
        q_ = (
            vcp.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    t = spark.table(name)
    return t.select(
        F.col("view_id").cast("long").alias("view_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.col("v_us"))
        .cast("long")
        .alias("funnel_lag_us"),
    )


@q(
    "stream_histogram_quantiles",
    """
    WITH v AS (
      SELECT CAST(round(value * 1000) AS BIGINT) AS vm FROM events
    ), hb AS (
      SELECT vm // 512 AS bin, CAST(count(*) AS BIGINT) AS cnt
      FROM v GROUP BY vm // 512
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hb
    ), ch AS (
      SELECT bin,
             CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM hb
    ), qs AS (
      SELECT q FROM (VALUES (500), (900), (990)) t(q)
    )
    SELECT CAST(q AS BIGINT) AS q_permille,
           CAST(min(bin) * 512 + 256 AS BIGINT) AS est_vm
    FROM ch, tot, qs WHERE cum * 1000 >= n * q
    GROUP BY q ORDER BY q_permille
    """,
)
def stream_histogram_quantiles(spark, sf_dir):
    """STREAMING QUANTILES via the mergeable histogram — the sketch
    entry's mergeability exercised by the ENGINE rather than asserted:
    the event stream feeds an update-mode keyed count at the fixed
    width-512 bin grain (per-bin counts are additive across
    micro-batches — exactly the property the batch entry documents),
    the memory sink's final per-bin state is the max emission (counts
    are monotone under append-only input), and the converged histogram
    yields the SAME p50/p90/p99 midpoint estimates as
    agg_histogram_quantile_sketch's batch sketch — the oracle is that
    entry's sketch branch verbatim, so the twins cannot drift.

    Scale shape: watermark-free keyed streaming aggregate over a
    ~1e3-bin state (bounded by the value range, not the stream
    length), then the bounded batch cumsum over the final bins."""
    from xova_spark.operators.ranking import global_cumsum
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("events",))
    counts = (
        _events_stream(spark, sf_dir)
        .select(
            F.expr("CAST(round(value * 1000) AS BIGINT) div 512")
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    name = f"q_stream_histq_{next(_uniq)}"
    with SA.stream_state_partitions(spark, 4):
        q_ = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    # final state per bin = last (max) emission; counts are monotone
    hb = (
        spark.table(name)
        .groupBy("bin")
        .agg(F.max("n").cast("long").alias("cnt"))
    )
    tot = hb.agg(F.sum("cnt").cast("long").alias("n"))
    ch = global_cumsum(hb, [F.col("bin").asc()], "cnt", "cum")
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(500), F.lit(900), F.lit(990))).alias("q")
    )
    return (
        ch.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(qs))
        .filter(F.col("cum") * 1000 >= F.col("n") * F.col("q"))
        .groupBy("q")
        .agg((F.min("bin") * 512 + 256).cast("long").alias("est_vm"))
        .select(F.col("q").cast("long").alias("q_permille"), "est_vm")
        .orderBy("q_permille")
    )


@q(
    "stream_srm_monitor",
    """
    WITH w AS (
      SELECT epoch_us(ts) // 21600000000 AS w6,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) % 2
                 AS arm
      FROM events
    ), c AS (
      SELECT w6,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n1
      FROM w GROUP BY w6
    )
    SELECT CAST(w6 AS BIGINT) AS w6, n0 AS n_arm0, n1 AS n_arm1,
           CAST(CASE WHEN n0 + n1 = 0 THEN 0
                ELSE CAST(n0 - n1 AS HUGEINT) * (n0 - n1) * 1000
                     // (n0 + n1) END AS BIGINT) AS chi2_milli,
           CASE WHEN n0 + n1 = 0 THEN FALSE
                ELSE CAST(n0 - n1 AS HUGEINT) * (n0 - n1) * 1000
                     // (n0 + n1) > 3841 END AS srm_flagged
    FROM c
    """,
)
def stream_srm_monitor(spark, sf_dir):
    """STREAMING SAMPLE-RATIO-MISMATCH MONITOR — ev_srm_check run
    continuously: per 6-hour tumbling event-time window, the hash-arm
    event counts and the 50/50 goodness-of-fit chi-square, flagged at
    the 3.841 critical value. The alert an experimentation platform
    wants DURING the experiment, not at readout time — a logging bug
    that drops one arm's events shows up in the first flagged window.
    (Window grain is EVENT counts per window — the per-window traffic
    split — while the batch readout entry hashes distinct users;
    both read the same assignment hash.)

    Streaming shape: watermarked (1h) tumbling 6h event-time windows
    in append-safe aggregation; availableNow convergence equals the
    batch 6h-bucket aggregation (epoch-aligned windows, the
    stream_hourly_rollup contract), which IS the oracle SQL. The
    hash projection is stateless per-row; only the window aggregate
    carries state.

    Integer form: identical to ev_srm_check — exact counts, one
    sign-free squared difference on the 128-bit lattice, one positive
    floor-div to milli."""
    from xova_spark.queries.relational import load_tables

    load_tables(spark, sf_dir, ("events",))
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    arm = F.expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 15),"
        " 16, 10) as bigint) % 2"
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .select("ts", arm.alias("arm"))
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
        )
    )
    name = f"q_stream_srm_{next(_uniq)}"
    with SA.stream_state_partitions(spark):
        q_ = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    t = spark.table(name)
    return t.selectExpr(
        "CAST(unix_micros(w.start) div 21600000000 AS BIGINT) AS w6",
        "n0 AS n_arm0",
        "n1 AS n_arm1",
        "CAST(CASE WHEN n0 + n1 = 0 THEN 0"
        " ELSE CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n1) * 1000"
        " div (n0 + n1) END AS BIGINT) AS chi2_milli",
        "CASE WHEN n0 + n1 = 0 THEN false"
        " ELSE CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n1) * 1000"
        " div (n0 + n1) > 3841 END AS srm_flagged",
    )

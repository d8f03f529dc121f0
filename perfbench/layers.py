"""Traced replay of the CLI pipeline and per-layer metrics from Spark's event log.

The replay calls the same public functions ``xova_spark.app.Application``
calls, in the same order, each inside its own span (a named interval
tagged as a Spark job group). Inside a span the layer's output is
persisted and counted, so the Spark work of that layer runs inside its
span instead of later, inside the writer. Spans stay in memory; the event
log is parsed once the session has stopped.

Layers: ``session`` (get_spark), ``sources`` (load_ms_auto),
``prepare`` (Application._prepare), ``timechannel`` / ``bda`` (the
operator), ``materialize`` (the streaming partial-aggregate maintenance
and finalize), ``uvw`` (fixms) and ``writer`` (write_ms).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

LAYERS = ("sources", "prepare", "timechannel", "bda", "uvw", "writer", "materialize")

STATS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "core_util": "ratio", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "fetch_wait_s": "s",
    "spill_mb": "MB", "input_mb": "MB", "output_mb": "MB",
    "failed_tasks": "count",
}

MB = 1024.0 * 1024.0


class Tracer:
    """Keeps the spans of one process; ``spark`` is attached once the
    session exists (the session span itself has no job group)."""

    def __init__(self):
        self.spark = None
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str):
        sid = f"perfbench-{len(self.spans)}-{layer}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(sid, layer)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(
                {"id": sid, "layer": layer, "start": start, "end": time.time()}
            )
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


def replay(spark, tracer: Tracer, cmdline: list[str]) -> dict | None:
    """Run ``cmdline`` layer by layer. Returns what the streaming layer
    measured itself (trigger durations, final partial-table bytes), or
    None for the batch commands."""
    from xova_spark.app import Application
    from xova_spark.sources.casa_ms import load_ms_auto
    from xova_spark.sources.ms_writer import write_ms

    app = Application(cmdline, spark=spark)
    args = app.args
    cached = []

    def hold(df):
        """Persist and count: runs the frame's Spark work now, in the
        current span; later layers read the cached result."""
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    with tracer.span("sources"):
        tables = load_ms_auto(spark, args.ms)
    with tracer.span("prepare"):
        tables = app._prepare(tables)
        tables["ms_rows"] = hold(tables["ms_rows"])
    stream = None
    if args.command == "stream":
        out, stream = _stream_layers(spark, tracer, app, tables, hold)
    else:
        out = _batch_layer(tracer, app, tables, hold)
    if not args.average_uvw_coordinates:
        from xova_spark.operators.uvw import fixms

        with tracer.span("uvw"):
            out["ms_rows"] = hold(
                fixms(out["ms_rows"], tables["antenna"], tables["field"])
            )
    with tracer.span("writer"):
        write_ms(out, args.output, force=args.force)
    for df in cached:
        df.unpersist()
    return stream


def _batch_layer(tracer: Tracer, app, tables: dict, hold) -> dict:
    args = app.args
    fields = app._resolve_fields(tables, args.fields) or None
    scans = list(args.scan_numbers) or None
    with tracer.span(args.command):
        if args.command == "timechannel":
            from xova_spark.operators.timechannel import timechannel

            out = timechannel(
                tables, time_bin_secs=args.time_bin_secs,
                chan_bin_size=args.chan_bin_size, fields=fields, scans=scans,
            )
        else:
            from xova_spark.operators.bda import bda

            out = bda(
                tables, decorrelation=args.decorrelation, max_fov=args.max_fov,
                time_bin_secs=args.time_bin_secs or 1e9,
                min_nchan=args.min_nchan, fields=fields, scans=scans,
            )
        for name, df in out.items():
            if df is not tables.get(name) and hasattr(df, "persist"):
                out[name] = hold(df)
    return out


def _stream_layers(spark, tracer: Tracer, app, tables: dict, hold):
    """The ``stream --mode timechannel`` path of Application._execute_stream."""
    from xova_spark.operators import timechannel as tc
    from xova_spark.streaming.materialize import finalize_vis, materialized_ms_vis

    args = app.args
    if args.mode != "timechannel":
        raise ValueError("the replay covers stream --mode timechannel only")
    tbin = args.time_bin_secs or 2.0
    part_dir = args.output + ".partials"
    checkpoint = args.checkpoint or args.output + ".ckpt"
    with tracer.span("timechannel"):
        bins = hold(tc.bin_map(tables["ms_rows"], tbin))
    with tracer.span("materialize"):
        schema = spark.read.parquet(args.vis_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(args.vis_dir)
        )
        q = materialized_ms_vis(stream, bins, part_dir, checkpoint, args.chan_bin_size)
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        final_bytes = parquet_bytes(os.path.join(part_dir, "current"))
        dim = bins.select(*tc.BIN_KEYS, "rep").distinct()
        vis = hold(
            finalize_vis(spark, part_dir)
            .join(dim, tc.BIN_KEYS)
            .withColumnRenamed("rep", "row_id")
            .withColumnRenamed("chan_bin", "chan")
        )
    with tracer.span("timechannel"):
        out_chans, out_meta = tc.average_spw(
            tables["spw_chans"], tables["spw_meta"], args.chan_bin_size
        )
        rewritten = {"ms_rows", "ms_weights", "ms_vis", "spw_chans", "spw_meta"}
        out = {
            "ms_rows": hold(tc.average_rows(tables["ms_rows"], tbin, with_row_id=True)),
            "ms_weights": hold(
                tc.average_weights(tables["ms_weights"], bins, keep_rep=True)
                .withColumnRenamed("rep", "row_id")
            ),
            "ms_vis": vis,
            "spw_chans": hold(out_chans),
            "spw_meta": hold(out_meta),
            **{k: v for k, v in tables.items() if k not in rewritten},
        }
    trigger_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    return out, {"trigger_s": trigger_s, "final_partial_bytes": final_bytes}


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(base, f)
        for base, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def count_parquet_files(path: str) -> int:
    return len(_parquet_files(path))


# --- event log ----------------------------------------------------------


def read_eventlog(log_dir: str) -> dict:
    """Jobs (group, submit/complete times in s, stage ids) and per-stage
    task metric sums from the single uncompressed event-log file."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], _zero()), ev)
    # A later job lists a shuffle stage an earlier job already ran (and
    # skips it); its tasks belong to the first job that lists it.
    ran_by: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            ran_by.setdefault(sid, jid)
    for jid, job in jobs.items():
        job["stages"] = [sid for sid in job["stages"] if ran_by[sid] == jid]
    return {"jobs": jobs, "stages": stages}


def _zero() -> dict:
    return {k: 0 for k in (
        "tasks", "task_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
        "fetch_wait_s", "spill_mb", "input_mb", "output_mb", "failed_tasks",
    )}


def _add_task(acc: dict, ev: dict) -> None:
    acc["tasks"] += 1
    if ev["Task Info"].get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
        acc["failed_tasks"] += 1
    m = ev.get("Task Metrics")
    if not m:
        return
    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
    acc["task_s"] += m["Executor Run Time"] / 1000.0
    acc["gc_s"] += m["JVM GC Time"] / 1000.0
    acc["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / MB
    acc["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MB
    acc["fetch_wait_s"] += sr["Fetch Wait Time"] / 1000.0
    acc["spill_mb"] += m["Disk Bytes Spilled"] / MB
    acc["input_mb"] += m["Input Metrics"]["Bytes Read"] / MB
    acc["output_mb"] += m["Output Metrics"]["Bytes Written"] / MB


def _owner(job: dict, spans: list[dict]) -> dict | None:
    """The span a job ran in: by job group, else (jobs a streaming
    trigger submits carry the query's own group) by submission time."""
    for s in spans:
        if s["id"] == job["group"]:
            return s
    inside = [s for s in spans if s["start"] <= job["start"] <= s["end"]]
    return max(inside, key=lambda s: s["start"]) if inside else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] that the union of ``intervals`` covers."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(
    spans: list[dict], log: dict, cores: int, stream: dict | None
) -> tuple[dict, dict]:
    """Per-layer sums over the layer's spans: ``<layer>.<stat>`` for
    every layer in LAYERS (zero where the workload does not touch it),
    ``session.start_s`` and ``sources.open_s`` (the set-up spans), and
    the streaming layer's trigger metrics."""
    per_span: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    for job in log["jobs"].values():
        if job["end"] is None:
            continue
        owner = _owner(job, spans)
        if owner is not None:
            per_span[owner["id"]].append(job)

    metrics: dict[str, float] = {}
    units: dict[str, str] = {}
    for layer in LAYERS:
        acc = _zero()
        wall = busy = 0.0
        jobs = 0
        for s in (s for s in spans if s["layer"] == layer):
            mine = per_span[s["id"]]
            wall += s["end"] - s["start"]
            busy += _covered([(j["start"], j["end"]) for j in mine],
                             s["start"], s["end"])
            jobs += len(mine)
            for j in mine:
                for sid in j["stages"]:
                    for k, v in log["stages"].get(sid, {}).items():
                        acc[k] += v
        row = {
            "wall_s": wall,
            "driver_s": wall - busy,
            "jobs": jobs,
            "core_util": acc["task_s"] / (busy * cores) if busy else 0.0,
            **acc,
        }
        for k, unit in STATS.items():
            metrics[f"{layer}.{k}"] = row[k]
            units[f"{layer}.{k}"] = unit
    first = {}
    for s in spans:
        first.setdefault(s["layer"], s["end"] - s["start"])
    metrics["session.start_s"], units["session.start_s"] = first["session"], "s"
    metrics["sources.open_s"], units["sources.open_s"] = first["sources"], "s"
    trig = stream["trigger_s"] if stream else []
    written = metrics["materialize.output_mb"] * MB
    extra = {
        "materialize.triggers": (len(trig), "count"),
        "materialize.trigger_s_p50": (statistics.median(trig) if trig else 0.0, "s"),
        "materialize.trigger_s_max": (max(trig, default=0.0), "s"),
        # Partial-table bytes written over all triggers per byte of the
        # final partial table: how much of the rewriting was redundant.
        "materialize.rewrite_ratio": (
            written / stream["final_partial_bytes"] if stream else 0.0, "ratio"
        ),
    }
    for k, (v, u) in extra.items():
        metrics[k], units[k] = v, u
    return metrics, units

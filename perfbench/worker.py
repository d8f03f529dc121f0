"""Benchmark worker: one fresh process, one Spark session, one workload.

Started by ``run.py`` with the path of a JSON plan; writes its result to
the path the plan names. Untraced (``trace`` false) it measures set-up,
the cold run and the warm loop. Traced, it runs the workload cold and
warm untraced, then replays it layer by layer (``layers.py``) and reports
per-layer metrics from Spark's event log.

Every execution's output is checked outside its timed window; a check
that fails or an exception counts as a failed iteration.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

from run import dir_bytes, vis_digest, vis_select

# Driver heap ceiling, well below the machine's memory. The heap is not
# pre-committed, and the serial collector grows it only when the data
# left alive after a collection needs the room, so the JVM's peak RSS
# follows what the program keeps in memory. G1, the default here, grows
# the heap by how much time recent collections took: its peak RSS swung
# by up to 25% between runs of one workload.
HEAP = "2g"


class CheckFailed(AssertionError):
    pass


def session_conf(plan: dict) -> dict[str, str]:
    """Session sizing and scratch locations, all inside the run dir; the
    event log only for a traced run (uncompressed, one file)."""
    run_dir = plan["run_dir"]
    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # No hsperfdata file: the JVM would write it under /tmp whatever
        # java.io.tmpdir says.
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseSerialGC -XX:-UsePerfData -Djava.io.tmpdir={plan['tmp']}"
        ),
    }
    if plan["trace"]:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def verify_output(spark, out_dir: str, oracle: str, expect_digest: str) -> str:
    """Re-open the written MS, require the schema checks to come back
    empty and ms_vis to equal the oracle exactly. Returns the digest."""
    import duckdb

    from xova_spark.operators.check import check_ms, check_spw
    from xova_spark.sources.ms_fixture import load_ms

    tables = load_ms(spark, out_dir)
    bad_rows = check_ms(tables).count()
    bad_spws = check_spw(tables).count()
    if bad_rows or bad_spws:
        raise CheckFailed(f"check: {bad_rows} row and {bad_spws} SPW violations")
    got = f"read_parquet('{out_dir}/ms_vis/*.parquet')"
    want = f"read_parquet('{oracle}')"
    con = duckdb.connect()
    try:
        extra, missing = con.execute(
            f"SELECT (SELECT count(*) FROM ({vis_select(got)} EXCEPT ALL "
            f"{vis_select(want)})), (SELECT count(*) FROM ({vis_select(want)} "
            f"EXCEPT ALL {vis_select(got)}))"
        ).fetchone()
        digest = vis_digest(con, got)
    finally:
        con.close()
    if extra or missing:
        raise CheckFailed(
            f"ms_vis differs from the oracle: {extra} unexpected, {missing} missing rows"
        )
    if digest != expect_digest:
        raise CheckFailed(f"digest {digest} != expected {expect_digest}")
    return digest


class Runner:
    """Runs the plan's CLI invocation on one session and keeps the tally."""

    def __init__(self, spark, plan: dict):
        self.spark = spark
        self.plan = plan
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.out_bytes: list[int] = []
        self.digests: list[str] = []
        self.check_s: list[float] = []
        self._n = 0

    def out_path(self) -> str:
        self._n += 1
        return os.path.join(self.plan["run_dir"], f"exec{self._n:03d}", "out.ms")

    def cmdline(self, out: str) -> list[str]:
        fill = {"ms": self.plan["ms"], "arrivals": self.plan["arrivals"], "out": out}
        return [a.format(**fill) for a in self.plan["cmd"]]

    def check(self, out: str) -> str | None:
        """Check one output and count the attempt; never raises."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            digest = verify_output(
                self.spark, out, self.plan["oracle"], self.plan["digest"]
            )
        except Exception as exc:  # noqa: BLE001 — a failed iteration, counted
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}")
            return None
        finally:
            self.check_s.append(time.perf_counter() - t0)
        self.digests.append(digest)
        self.out_bytes.append(dir_bytes(out))
        return digest

    def iterate(self, tamper=None) -> float:
        """One timed ``Application.execute()``, then its check outside
        the timed window. Returns the wall time; a failure is counted in
        the tally, not raised."""
        from xova_spark.app import Application

        out = self.out_path()
        t0 = time.perf_counter()
        try:
            Application(self.cmdline(out), spark=self.spark).execute()
        except Exception:  # noqa: BLE001 — a failed iteration, counted
            wall = time.perf_counter() - t0
            self.attempted += 1
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
        else:
            wall = time.perf_counter() - t0
            if tamper is not None:
                tamper(out)
            self.check(out)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        return wall


def open_session(plan: dict, tracer=None):
    """Set-up as a user pays it: session start and MS open. Returns the
    session and the seconds since the worker process was spawned."""
    from contextlib import nullcontext

    from xova_spark.session import get_spark
    from xova_spark.sources.casa_ms import load_ms_auto

    span = tracer.span if tracer is not None else (lambda _: nullcontext())
    with span("session"):
        spark = get_spark("perfbench", cpus=cores(), extra_conf=session_conf(plan))
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        tracer.spark = spark
    with span("sources"):
        load_ms_auto(spark, plan["ms"])
    return spark, time.time() - plan["t_spawn"]


def warm_loop(runner: Runner, seconds: float, deadline: float):
    """Closed loop: warm executions until ``seconds`` of them are
    measured (at least one), stopping early rather than overrun the
    run's deadline. Returns the cold time and the warm times."""
    t0 = time.time()
    cold = runner.iterate()
    last = time.time() - t0
    warm: list[float] = []
    while not warm or sum(warm) < seconds:
        if warm and time.time() + 1.5 * last > deadline:
            break
        t0 = time.time()
        warm.append(runner.iterate())
        last = time.time() - t0
    return cold, warm


UNITS = {
    "setup_s": "s", "cold_run_s": "s", "run_s": "s",
    "peak_rss_mb": "MB", "out_bytes_ratio": "ratio",
}


def run_untraced(plan: dict) -> dict:
    spark, setup_s = open_session(plan)
    try:
        runner = Runner(spark, plan)
        cold, warm = warm_loop(runner, plan["seconds"], plan["deadline"] - 15)
        rss = jvm_peak_rss_mb(spark)
    finally:
        spark.stop()
    metrics = {
        "setup_s": setup_s,
        "cold_run_s": cold,
        "run_s": statistics.median(warm),
        "peak_rss_mb": rss,
        # Output size does not depend on timing; a failed iteration has
        # none, so the ratio is over the checked outputs (0 if none).
        "out_bytes_ratio": (
            statistics.median(runner.out_bytes) / plan["input_bytes"]
            if runner.out_bytes else 0.0
        ),
    }
    return {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
        "units": UNITS,
        "info": {
            "warm_runs_s": warm,
            "check_s": runner.check_s,
            "digests": sorted(set(runner.digests)),
            "errors": runner.errors[:5],
        },
    }


def run_traced(plan: dict) -> dict:
    import layers as tr

    tracer = tr.Tracer()
    spark, setup_s = open_session(plan, tracer)
    try:
        runner = Runner(spark, plan)
        runner.iterate()  # cold, untraced
        untraced = runner.iterate()
        out = runner.out_path()
        t0 = time.perf_counter()
        stream, replayed = None, False
        try:
            stream = tr.replay(spark, tracer, runner.cmdline(out))
            replayed = True
        except Exception:  # noqa: BLE001 — a failed iteration, counted
            runner.attempted += 1
            runner.failed += 1
            runner.errors.append(traceback.format_exc(limit=3))
        traced = time.perf_counter() - t0
        replay_files = tr.count_parquet_files(out)
        if replayed:
            # Holds the replay's digest to the oracle's, which every
            # untraced output has matched too.
            runner.check(out)
    finally:
        spark.stop()
    metrics, units = tr.layer_metrics(
        tracer.spans, tr.read_eventlog(os.path.join(plan["run_dir"], "eventlog")),
        cores(), stream,
    )
    extra = {
        "writer.files": (replay_files, "count"),
        "trace.run_s": (traced, "s"),
        "trace.untraced_run_s": (untraced, "s"),
        "trace.overhead_s": (traced - untraced, "s"),
    }
    for k, (v, u) in extra.items():
        metrics[k], units[k] = v, u
    return {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
        "units": units,
        "info": {
            "setup_s": setup_s,
            "digests": sorted(set(runner.digests)),
            "errors": runner.errors[:5],
        },
    }


def main(plan_path: str) -> int:
    with open(plan_path) as fh:
        plan = json.load(fh)
    res = run_traced(plan) if plan["trace"] else run_untraced(plan)
    with open(plan["result"], "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

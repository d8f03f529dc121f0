"""MS-averager benchmark: one CLI workload per run, checked output, JSON metrics.

Run from the root of a checkout::

    python3 perfbench/run.py --workload tc_batch --seed 1 --seconds 5 --trace 0

Workloads (all over the seeded synthetic MS from ``ms_fixture_dir``):

- ``tc_batch``  ``timechannel -t 4 -c 16`` with the UVW recompute on;
- ``bda_batch`` ``bda -d 0.95 -fov 0.315 -t 16 -mc 2``;
- ``tc_stream`` ``stream --mode timechannel -t 4 -c 16`` over the same
  visibilities split into 4 arrival files.

This process generates the inputs (fixture, arrival files, DuckDB oracle),
then starts one fresh worker process (``worker.py``) that opens a Spark
session sized to the machine's cores, runs the workload through
``xova_spark.app.Application`` as a single closed-loop client and checks
every output. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` the worker also replays the
pipeline layer by layer and the line carries the per-layer metrics.

Everything a run writes lives under ``.bench_run/`` in the checkout and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixture scale. At this size per-job overhead dominates every Spark
# stage, so a smaller fixture would barely shorten a run; at na=64,
# ntime=36 the cold and warm executions alone take 30-75 s on 4 cores.
FIXTURE_NA = 24
FIXTURE_NTIME = 12
# Each arrival file is one streaming trigger. Four keep a tc_stream run
# (set-up, cold run, one warm run, checks) near 50 s on 4 cores; eight
# cost about 8 s more a run.
ARRIVAL_FILES = 4
RUN_LIMIT_S = 170.0

WORKLOADS = {
    "tc_batch": {
        "cmd": ["timechannel", "{ms}", "-t", "4", "-c", "16", "-o", "{out}"],
        "oracle": "tc",
    },
    "bda_batch": {
        "cmd": ["bda", "{ms}", "-d", "0.95", "-fov", "0.315", "-t", "16",
                "-mc", "2", "-o", "{out}"],
        "oracle": "bda",
    },
    "tc_stream": {
        "cmd": ["stream", "{ms}", "--vis-dir", "{arrivals}", "-o", "{out}",
                "--mode", "timechannel", "-t", "4", "-c", "16"],
        "oracle": "tc",
    },
}

# The compared ms_vis columns, in the output's naming (the CLI renames
# the operator's rep -> row_id and chan_bin -> chan; the oracle has no
# rep column, so row_id is not compared).
VIS_COLUMNS = (
    ("FIELD_ID", "INTEGER"), ("DATA_DESC_ID", "INTEGER"),
    ("SCAN_NUMBER", "INTEGER"), ("ANTENNA1", "INTEGER"),
    ("ANTENNA2", "INTEGER"), ("time_bin", "INTEGER"), ("chan", "INTEGER"),
    ("corr", "INTEGER"), ("vis_re", "DOUBLE"), ("vis_im", "DOUBLE"),
    ("flag", "BOOLEAN"), ("weight_sp", "DOUBLE"), ("sigma_sp", "DOUBLE"),
    ("n_samples", "BIGINT"),
)


def vis_select(source: str) -> str:
    """SELECT of the compared columns, cast to one type each, from a
    DuckDB relation expression."""
    cols = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in VIS_COLUMNS)
    return f"SELECT {cols} FROM {source}"


def vis_digest(con, source: str) -> str:
    """Order-independent digest of the compared ms_vis columns."""
    names = ", ".join(c for c, _ in VIS_COLUMNS)
    n, h = con.execute(
        f"SELECT count(*), sum(hash({names})) FROM ({vis_select(source)})"
    ).fetchone()
    return f"{n}-{(h or 0) % 2**64:016x}"


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def make_inputs(run_dir: str, workload: str, seed: int,
                na: int = FIXTURE_NA, ntime: int = FIXTURE_NTIME) -> dict:
    """Fixture, arrival files and oracle for one run, all from ``seed``.

    The oracle is the DuckDB SQL the registry carries for the bench-scale
    pipelines (``queries.benchdomain``: ``timechannel_avg`` /
    ``bda_avg``), pointed at this run's fixture the same way
    ``benchdomain`` does it."""
    from xova_spark.sources import ms_fixture

    # The fixture factory caches under a module-level directory; point it
    # into this run so nothing is written outside the checkout.
    ms_fixture.DEFAULT_CACHE = os.path.join(run_dir, "fixtures")
    ms_dir = ms_fixture.ms_fixture_dir(na=na, ntime=ntime, seed=seed)

    import duckdb
    import pyarrow.parquet as pq

    from xova_spark.queries import bda as bdaq
    from xova_spark.queries import msdomain as msq

    sql = {
        "tc": msq.REGISTRY["ms_tc_vis"][1],
        "bda": bdaq.REGISTRY["bda_vis"][1],
    }[WORKLOADS[workload]["oracle"]].replace(msq._DIR, ms_dir)
    oracle = os.path.join(run_dir, "oracle.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE o AS {sql}")
        con.execute("ALTER TABLE o RENAME chan_bin TO chan")
        con.execute(f"COPY o TO '{oracle}' (FORMAT parquet)")
        digest = vis_digest(con, "o")
    finally:
        con.close()

    vis = pq.read_table(os.path.join(ms_dir, "ms_vis.parquet"))
    arrivals, n_files = None, 0
    if workload == "tc_stream":
        arrivals, n_files = os.path.join(run_dir, "arrivals"), ARRIVAL_FILES
        os.makedirs(arrivals)
        n = vis.num_rows
        for i in range(n_files):
            lo, hi = i * n // ARRIVAL_FILES, (i + 1) * n // ARRIVAL_FILES
            pq.write_table(vis.slice(lo, hi - lo),
                           os.path.join(arrivals, f"part-{i:02d}.parquet"))
    rows = pq.ParquetFile(os.path.join(ms_dir, "ms_rows.parquet")).metadata.num_rows
    return {
        "ms": ms_dir,
        "arrivals": arrivals,
        "arrival_files": n_files,
        "oracle": oracle,
        "digest": digest,
        "rows": rows,
        "samples": vis.num_rows,
        "input_bytes": dir_bytes(ms_dir),
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float,
                   help="how long the warm loop measures")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_worker(plan: dict, run_dir: str) -> dict:
    """Start the worker in its own process group, wait for it, and stop
    it (and the JVM it launched) if it outlives the run limit."""
    plan_path = os.path.join(run_dir, "plan.json")
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    # TMPDIR keeps Python's temp files in the run; the launcher JVM that
    # spark-submit starts first would otherwise leave a perf-data file
    # under /tmp.
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=plan["tmp"],
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
    env.pop("SPARK_GRAFT_CPUS", None)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    plan["result"] = result_path
    plan["t_spawn"] = time.time()
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), plan_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, plan["deadline"] - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            else:
                # The worker stops its session; make sure nothing it
                # started (the JVM) outlives it.
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(result_path) as fh:
        return json.load(fh)


def run(workload: str, seed: int, seconds: float, trace: bool,
        na: int = FIXTURE_NA, ntime: int = FIXTURE_NTIME) -> tuple[dict, dict]:
    """One benchmark run: inputs, worker, clean-up. Returns the summary
    (inputs and per-iteration detail) and the result line."""
    t_start = time.time()
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".bench_run", f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        inputs = make_inputs(run_dir, workload, seed, na, ntime)
        inputs_s = time.time() - t_start
        plan = {
            "workload": workload,
            "cmd": WORKLOADS[workload]["cmd"],
            "seconds": seconds,
            "trace": trace,
            "run_dir": run_dir,
            "tmp": os.path.join(run_dir, "tmp"),
            "deadline": t_start + RUN_LIMIT_S,
            **inputs,
        }
        res = run_worker(plan, run_dir)
        worker_s = time.time() - plan["t_spawn"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    summary = {
        "workload": workload,
        "seed": seed,
        "fixture": {"na": na, "ntime": ntime},
        "rows": inputs["rows"],
        "samples": inputs["samples"],
        "input_bytes": inputs["input_bytes"],
        "arrival_files": inputs["arrival_files"],
        "expected_digest": inputs["digest"],
        "failed_share": failed / attempted,
        "inputs_s": inputs_s,
        "worker_s": worker_s,
        **res["info"],
    }
    units = res["units"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()
        },
    }
    return summary, result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # A SIGTERM unwinds like an error, so the worker's process group is
    # stopped and the run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "xova_spark", "app.py")):
        print(f"perfbench: no xova_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        summary, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception as exc:  # noqa: BLE001 — report and exit non-zero
        print(f"perfbench: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    print("summary " + json.dumps(summary, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

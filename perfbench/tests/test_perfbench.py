"""Tests of the benchmark itself, on the small default fixture (na=16, ntime=12).

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q

Each case runs in a child process (this file run as a script), so the
Spark session and the fixture-cache redirection a benchmark run makes
never reach the test process or the tests collected with it. The cases
start a Spark worker each (about three minutes in all).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

TINY = {"na": 16, "ntime": 12}
WORKLOADS = ("bda_batch", "tc_batch", "tc_stream")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def in_child(*args: str) -> dict:
    """Run one case of this file as a script; its last stdout line is JSON."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, names: list[dict]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_end_to_end_metrics_emitted():
    summary, result = in_child("smoke", "tc_batch", "0")
    assert_metrics(result, spec()["end_to_end"])
    assert summary["failed_share"] == 0.0
    assert summary["digests"] == [summary["expected_digest"]]
    assert summary["rows"] > 0 and summary["samples"] > 0 and summary["input_bytes"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_layer_metrics_emitted(workload):
    summary, result = in_child("smoke", workload, "1")
    assert_metrics(result, spec()["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    touched = {"tc_batch": "timechannel", "bda_batch": "bda",
               "tc_stream": "materialize"}[workload]
    for layer in ("prepare", "uvw", "writer", touched):
        assert m[f"{layer}.jobs"] > 0 and m[f"{layer}.wall_s"] > 0, layer
    if workload == "tc_stream":
        assert m["materialize.triggers"] == summary["arrival_files"] > 1
        assert m["materialize.rewrite_ratio"] > 1.0
    else:
        assert m["materialize.jobs"] == 0
    # The replay's output digest equals the untraced runs' (and the oracle's).
    assert summary["digests"] == [summary["expected_digest"]]


def test_tampered_output_counts_as_failed(tmp_path):
    """Red path: one value changed in a written ms_vis must fail that
    iteration's check and show in the failed share."""
    tally = in_child("tamper", str(tmp_path))
    assert (tally["attempted"], tally["failed"]) == (2, 1)
    assert tally["failed"] / tally["attempted"] == 0.5
    assert "differs from the oracle" in tally["errors"][0]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = spec()["command"] + ["--workload", "tc_batch", "--seed", "1",
                               "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True,
                          timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# --- cases, run in a child process -------------------------------------


def smoke(workload: str, trace: str) -> list:
    import run

    return list(run.run(workload, seed=5, seconds=1, trace=trace == "1", **TINY))


def tamper_case(run_dir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import run
    import worker

    os.makedirs(os.path.join(run_dir, "tmp"))
    plan = {
        "workload": "tc_batch", "cmd": run.WORKLOADS["tc_batch"]["cmd"],
        "seconds": 0, "trace": False, "run_dir": run_dir,
        "tmp": os.path.join(run_dir, "tmp"), "t_spawn": time.time(),
        **run.make_inputs(run_dir, "tc_batch", 6, **TINY),
    }

    def tamper(out: str) -> None:
        path = sorted(glob.glob(os.path.join(out, "ms_vis", "*.parquet")))[0]
        table = pq.read_table(path)
        re = table.column("vis_re").to_pylist()
        re[0] += 1.0
        idx = table.schema.get_field_index("vis_re")
        table = table.set_column(idx, "vis_re", pa.array(re, pa.float64()))
        # The local file system verifies the checksum file on read.
        os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
        pq.write_table(table, path)

    spark, _ = worker.open_session(plan)
    try:
        runner = worker.Runner(spark, plan)
        runner.iterate(tamper)
        runner.iterate()
    finally:
        spark.stop()
    return {"attempted": runner.attempted, "failed": runner.failed,
            "errors": runner.errors}


if __name__ == "__main__":
    sys.path[:0] = [BENCH, ROOT]
    case, *rest = sys.argv[1:]
    out = smoke(*rest) if case == "smoke" else tamper_case(*rest)
    print(json.dumps(out))

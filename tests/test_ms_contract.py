"""The MS directory contract: a staged, manifest-committed write and a
zero-job, loud open (sources/ms_writer).

An output MS exists only as a whole: write_ms commits it with one
rename, so a failed write leaves no output (or the earlier one, under
force) and a killed run's staging directory is never part of one.
load_ms takes every schema from the manifest or the parquet footers —
no Spark job — and raises, naming the file or table, on a directory it
cannot trust."""

from __future__ import annotations

import glob
import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from xova_spark.app import Application
from xova_spark.sources.ms_writer import (
    MANIFEST,
    OLD_SUFFIX,
    OutputExistsError,
    load_ms,
    write_ms,
)


def _boom(spark):
    """A table whose write fails while its job runs."""
    return spark.range(4).withColumn(
        "x", F.when(F.col("id") >= 0, F.raise_error(F.lit("boom"))).otherwise(0)
    )


def _leftovers(path):
    return glob.glob(f"{path}.tmp-*") + glob.glob(f"{path}.old-*")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_failed_write_leaves_no_output(spark, ms, tmp_path):
    out = str(tmp_path / "failed.ms")
    with pytest.raises(Exception, match="boom"):
        write_ms({"field": ms["field"], "bad": _boom(spark)}, out)
    assert not os.path.exists(out)
    assert _leftovers(out) == []


def test_failed_force_write_keeps_earlier_output(spark, ms, tmp_path):
    out = str(tmp_path / "kept.ms")
    write_ms({"field": ms["field"], "antenna": ms["antenna"]}, out)
    before = {k: _rows(v) for k, v in load_ms(spark, out).items()}
    with pytest.raises(Exception, match="boom"):
        write_ms(
            {"field": ms["field"].limit(1), "bad": _boom(spark)}, out, force=True
        )
    after = {k: _rows(v) for k, v in load_ms(spark, out).items()}
    assert after == before
    assert _leftovers(out) == []


def test_killed_run_staging_dir_is_ignored(spark, ms, tmp_path):
    """A ``<out>.tmp-*`` directory a killed run left behind neither
    blocks the next write nor shows up in it."""
    out = str(tmp_path / "after_kill.ms")
    dead = f"{out}.tmp-dead"
    spark.range(7).write.parquet(os.path.join(dead, "ms_rows"))
    write_ms({"field": ms["field"]}, out)
    back = load_ms(spark, out)
    assert set(back) == {"field"}
    assert _rows(back["field"]) == _rows(ms["field"])
    assert os.path.isdir(os.path.join(dead, "ms_rows"))


def test_killed_force_write_is_recovered(spark, ms, tmp_path):
    """A force write killed between its two renames leaves the old MS
    parked at ``<out>`` + OLD_SUFFIX and no ``<out>``. The next write
    puts it back first: without force it refuses, the old MS loads
    unchanged, and nothing is left beside it."""
    out = str(tmp_path / "killed.ms")
    write_ms({"field": ms["field"]}, out)
    before = {k: _rows(v) for k, v in load_ms(spark, out).items()}
    os.rename(out, out + OLD_SUFFIX)
    with pytest.raises(OutputExistsError):
        write_ms({"antenna": ms["antenna"]}, out)
    assert {k: _rows(v) for k, v in load_ms(spark, out).items()} == before
    assert _leftovers(out) == []


def _tree_bytes(path):
    files = (f for f in glob.glob(f"{path}/**", recursive=True) if os.path.isfile(f))
    return {os.path.relpath(f, path): pathlib.Path(f).read_bytes() for f in files}


def test_force_write_keeps_users_old_dirs(spark, ms, tmp_path):
    """A user's ``<out>.old`` and ``<out>.old-backup`` are not the
    commit's parked MS: a force write leaves them byte for byte."""
    out = str(tmp_path / "out.ms")
    write_ms({"field": ms["field"]}, out)
    users = [out + ".old", out + ".old-backup"]
    for d in users:
        write_ms({"antenna": ms["antenna"]}, d)
    before = [_tree_bytes(d) for d in users]
    write_ms({"field": ms["field"]}, out, force=True)
    assert [_tree_bytes(d) for d in users] == before


@pytest.fixture(scope="module")
def tc_out(spark, ms_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("contract") / "tc.ms")
    return Application(
        ["timechannel", ms_dir, "-t", "4", "-c", "8", "-o", out], spark=spark
    ).execute()


@pytest.fixture(scope="module")
def bda_out(spark, ms_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("contract") / "bda.ms")
    return Application(
        ["bda", ms_dir, "-d", "0.95", "-fov", "0.315", "-t", "16", "-o", out],
        spark=spark,
    ).execute()


def _truncate(path):
    with open(path, "r+b") as fh:
        fh.truncate(os.path.getsize(path) // 2)


@pytest.mark.parametrize(
    "source, damage, names",
    [
        ("tc_out", lambda d: os.remove(os.path.join(d, MANIFEST)), MANIFEST),
        ("tc_out", lambda d: _truncate(os.path.join(d, MANIFEST)), MANIFEST),
        ("tc_out", lambda d: shutil.rmtree(os.path.join(d, "spw_meta")), "spw_meta"),
        ("ms_dir", lambda d: _truncate(os.path.join(d, "ms_vis.parquet")), "ms_vis"),
    ],
    ids=["manifest_deleted", "manifest_truncated", "table_missing",
         "input_main_table_truncated"],
)
def test_load_ms_rejects_broken_ms(spark, request, tmp_path, source, damage, names):
    broken = str(tmp_path / "broken.ms")
    shutil.copytree(request.getfixturevalue(source), broken)
    damage(broken)
    with pytest.raises(RuntimeError, match=names):
        load_ms(spark, broken)


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"contract-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("which", ["fixture", "timechannel", "bda"])
def test_load_ms_is_free_and_exact(spark, ms_dir, tc_out, bda_out, which):
    """Opening submits no Spark job, and every table's schema (columns,
    order, types) equals what Spark infers from the files."""
    path = {"fixture": ms_dir, "timechannel": tc_out, "bda": bda_out}[which]
    tables, jobs = _jobs_of(spark, lambda: load_ms(spark, path))
    assert jobs == 0
    for name, df in tables.items():
        if name.startswith("_"):
            continue
        src = os.path.join(path, f"{name}.parquet" if which == "fixture" else name)
        assert df.schema == spark.read.parquet(src).schema, name

"""Application e2e tests — mirrors the reference's test strategy
(reference: xova/tests/test_application.py:9-17 runs the whole app for
timechannel + bda + a field-selection variant; tests/test_argparsing.py
covers the spec parsers) and goes further: output is re-read and
validated, not just "it completed"."""

from __future__ import annotations

import os

import pytest

from xova_spark.app import (
    Application,
    derive_output_name,
    parse_args,
    parse_channels,
    parse_data_column_map,
    parse_fields,
    parse_scans,
)
from xova_spark.extras import run as run_extras
from xova_spark.sources.ms_writer import OLD_SUFFIX
from xova_spark.sources.ms_fixture import load_ms


# -- argparsing (test_argparsing.py:6-21) ----------------------------------

def test_parse_fields():
    assert parse_fields("0,3C147,2") == [0, "3C147", 2]
    assert parse_fields("") == []


def test_parse_scans():
    assert parse_scans("1, 2,3") == [1, 2, 3]
    with pytest.raises(Exception):
        parse_scans("1,x")


def test_parse_channels():
    assert parse_channels("3~100") == [(3, 100)]
    assert parse_channels("5,3~10") == [5, (3, 10)]
    with pytest.raises(Exception):
        parse_channels("3~x")


def test_parse_data_column_map():
    assert parse_data_column_map(["CORRECTED_DATA:DATA"]) == {
        "CORRECTED_DATA": "DATA"
    }
    assert parse_data_column_map(["DATA"]) == {"DATA": "DATA"}


def test_derive_output_name():
    assert derive_output_name("/a/b/foo.ms") == "/a/b/foo_averaged.ms"
    assert derive_output_name("/a/b/foo") == "/a/b/foo_averaged.ms"


def test_cli_help_lists_only_the_averager(capsys):
    """``xova-spark`` is the reference's averager surface alone; the
    off-paper commands are ``xova-spark-extras``."""
    with pytest.raises(SystemExit):
        parse_args(["--help"])
    assert "{timechannel,bda,check,stream}" in capsys.readouterr().out


# -- end-to-end application runs (test_application.py:9-17) ------------------

def _run(spark, ms_dir, tmp_path, cmdline):
    out = os.path.join(str(tmp_path), "out.ms")
    app = Application([*cmdline, "-o", out, "--force"], spark=spark)
    return app.execute()


def test_app_timechannel(spark, ms_dir, tmp_path):
    out = _run(spark, ms_dir, tmp_path, ["timechannel", ms_dir, "-t", "4"])
    back = load_ms(spark, out)
    assert back["ms_rows"].count() > 0
    assert back["ms_vis"].count() > 0
    # averaging reduced the row count
    n_in = spark.read.parquet(os.path.join(ms_dir, "ms_rows.parquet")).count()
    assert back["ms_rows"].count() < n_in


def test_app_timechannel_fieldsel(spark, ms_dir, tmp_path):
    out = _run(
        spark, ms_dir, tmp_path,
        ["timechannel", ms_dir, "-t", "4", "-f", "0", "-s", "0,2"],
    )
    back = load_ms(spark, out)
    rows = back["ms_rows"].toPandas()
    assert set(rows["FIELD_ID"]) == {0}
    assert set(rows["SCAN_NUMBER"]) <= {0, 2}


def test_app_field_name_resolution(spark, ms_dir, tmp_path):
    """Field NAME specs resolve through the FIELD subtable."""
    out = _run(
        spark, ms_dir, tmp_path,
        ["timechannel", ms_dir, "-t", "4", "-f", "FIELD-1"],
    )
    back = load_ms(spark, out)
    assert set(back["ms_rows"].toPandas()["FIELD_ID"]) == {1}


@pytest.mark.parametrize("spec", ["NOSUCH", "0,NOSUCH", "7"])
def test_app_unknown_field_fails_before_writing(spark, ms_dir, tmp_path, spec):
    """A -f spec that matches no FIELD row fails the run, naming it,
    before any table is written — dropping it would leave the filter
    off (every field averaged) or quietly narrow the selection."""
    out = tmp_path / "out.ms"
    with pytest.raises(ValueError, match=spec.split(",")[-1]):
        Application(
            ["timechannel", ms_dir, "-t", "4", "-f", spec, "-o", str(out)],
            spark=spark,
        ).execute()
    assert not out.exists()


@pytest.mark.parametrize("cmd, selection, scans", [
    (["timechannel", "-t", "4"], ["-s", "999"], "999"),
    (["bda", "-d", "0.95", "-fov", "0.315", "-t", "16"], ["-s", "999"], "999"),
    (["timechannel", "-t", "4"], ["-f", "0", "-s", "1"], "1"),
], ids=["timechannel-s999", "bda-s999", "timechannel-f0-s1"])
def test_app_empty_selection_fails_before_writing(
    spark, ms_dir, tmp_path, cmd, selection, scans
):
    """A -s naming no scan of the input, or a -f/-s pair with no row in
    common (scan 1 belongs to field 1), fails the run, naming the scans,
    before any table is written — not an empty MS that passes check."""
    out = tmp_path / "out.ms"
    with pytest.raises(ValueError, match=rf"scan\(s\) {scans} in"):
        Application(
            [cmd[0], ms_dir, *cmd[1:], *selection, "-o", str(out)],
            spark=spark,
        ).execute()
    assert not out.exists()


def test_app_bda(spark, ms_dir, tmp_path):
    out = _run(
        spark, ms_dir, tmp_path,
        ["bda", ms_dir, "-d", "0.95", "-fov", "0.315", "-t", "16"],
    )
    back = load_ms(spark, out)
    rows = back["ms_rows"].toPandas()
    assert len(rows) > 0
    # ragged output: multiple channelisations, all remapped to new DDIDs
    assert rows["NUM_CHAN"].nunique() > 1
    assert (rows["DATA_DESC_ID"] != rows["ORIG_DATA_DESC_ID"]).any()
    assert back["spw"].count() > 0
    # conformant subtables present: the output is a reopenable MS
    for name in ("ddid", "spw_chans", "spw_meta"):
        assert name in back, name


def test_app_column_rename(spark, ms_dir, tmp_path):
    """-dc SRC:DST averages SRC and writes it as DST: DATA:CORRECTED_DATA
    writes CORRECTED_DATA_re/_im, and CORRECTED_DATA:DATA over that
    output averages them into vis_re/vis_im — the same MS as a plain
    second run over a plain first output."""
    params = ["-t", "4", "-c", "8"]
    corrected, plain = str(tmp_path / "corrected.ms"), str(tmp_path / "plain.ms")
    Application(["timechannel", ms_dir, *params, "-o", corrected,
                 "-dc", "DATA:CORRECTED_DATA"], spark=spark).execute()
    cols = load_ms(spark, corrected)["ms_vis"].columns
    assert {"CORRECTED_DATA_re", "CORRECTED_DATA_im"} <= set(cols)
    assert "vis_re" not in cols
    Application(["timechannel", ms_dir, *params, "-o", plain], spark=spark).execute()
    again = ["-t", "16", "-c", "2"]
    got = Application(["timechannel", corrected, *again, "-o", str(tmp_path / "got.ms"),
                       "-dc", "CORRECTED_DATA:DATA"], spark=spark).execute()
    want = Application(["timechannel", plain, *again, "-o", str(tmp_path / "want.ms")],
                       spark=spark).execute()
    _assert_same_ms(spark, got, want)


def test_app_missing_source_column_fails_before_writing(spark, ms_dir, tmp_path):
    """-dc naming a column the input lacks fails, naming it, before any
    table is written — not an average of DATA under another name."""
    out = tmp_path / "out.ms"
    with pytest.raises(ValueError, match="CORRECTED_DATA"):
        Application(["timechannel", ms_dir, "-t", "4", "-o", str(out),
                     "-dc", "CORRECTED_DATA:DATA"], spark=spark).execute()
    assert not out.exists()


def test_app_check_passes(spark, ms_dir, capsys):
    Application(["check", ms_dir], spark=spark).execute()
    assert "0 row violations" in capsys.readouterr().out


def test_app_overwrite_guard(spark, ms_dir, tmp_path):
    out = os.path.join(str(tmp_path), "guard.ms")
    Application(["timechannel", ms_dir, "-t", "4", "-o", out], spark=spark).execute()
    from xova_spark.sources.ms_writer import OutputExistsError

    with pytest.raises(OutputExistsError):
        Application(
            ["timechannel", ms_dir, "-t", "4", "-o", out], spark=spark
        ).execute()


def _assert_same_ms(spark, got_path, want_path):
    """Every written table of two output MSs is the same: same table
    set, same columns in the same order, and EXCEPT ALL empty in both
    directions (no tolerance — the fixture is dyadic, so the sums are
    exact in any order)."""
    got, want = load_ms(spark, got_path), load_ms(spark, want_path)
    assert set(got) == set(want)
    for name, w in want.items():
        g = got[name]
        assert g.columns == w.columns, name
        assert g.exceptAll(w).count() == 0, name
        assert w.exceptAll(g).count() == 0, name


def test_app_stream_matches_batch_average(spark, ms_dir, tmp_path):
    """``xova-spark stream``: draining the fixture's vis files through
    the streaming maintenance path must write the same MS as the
    one-shot ``timechannel`` command with the same parameters."""
    params = ["-t", "4", "-c", "8"]
    streamed = Application(
        ["stream", ms_dir, "-o", str(tmp_path / "streamed.ms"), *params],
        spark=spark,
    ).execute()
    batch = Application(
        ["timechannel", ms_dir, "-o", str(tmp_path / "batch.ms"), *params],
        spark=spark,
    ).execute()
    _assert_same_ms(spark, streamed, batch)


def test_app_stream_bda_matches_batch_average(spark, ms_dir, tmp_path):
    """``xova-spark stream --mode bda``: the ragged-binned maintenance
    path must write the same MS as the one-shot ``bda`` command."""
    params = ["-d", "0.95", "-fov", "1.0"]
    streamed = Application(
        ["stream", ms_dir, "-o", str(tmp_path / "streamed_bda.ms"),
         "--mode", "bda", *params],
        spark=spark,
    ).execute()
    batch = Application(
        ["bda", ms_dir, "-o", str(tmp_path / "batch_bda.ms"), *params],
        spark=spark,
    ).execute()
    _assert_same_ms(spark, streamed, batch)


def _tree_bytes(path) -> dict:
    """Relative path -> file bytes of every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def test_app_stream_resumes_only_under_its_parameters(spark, ms_dir, tmp_path):
    """``stream`` resumes its checkpoint and partials on an identical
    rerun, but a rerun with other averaging parameters (or a checkpoint
    whose parameters were never recorded) raises before its query
    starts, leaving the output and the partials as they were: merging
    into partials binned otherwise writes visibilities no batch run
    would."""
    out = str(tmp_path / "streamed.ms")
    params = ["-t", "4", "-c", "16"]
    Application(["stream", ms_dir, "-o", out, *params], spark=spark).execute()
    Application(
        ["stream", ms_dir, "-o", out, "--force", *params], spark=spark
    ).execute()
    batch = Application(
        ["timechannel", ms_dir, "-o", str(tmp_path / "batch.ms"), *params],
        spark=spark,
    ).execute()
    _assert_same_ms(spark, out, batch)

    state = [out, out + ".partials", out + ".ckpt"]
    before = [_tree_bytes(d) for d in state]
    with pytest.raises(ValueError, match="time_bin_secs, chan_bin_size"):
        Application(
            ["stream", ms_dir, "-o", out, "--force", "-t", "8", "-c", "8"],
            spark=spark,
        ).execute()
    assert [_tree_bytes(d) for d in state] == before
    os.remove(os.path.join(out + ".partials", "params.json"))
    with pytest.raises(ValueError, match="mode"):
        Application(
            ["stream", ms_dir, "-o", out, "--force", *params], spark=spark
        ).execute()


def test_app_stream_restarted_on_another_input_reads_it(spark, ms_dir, tmp_path):
    """A stream restarted afresh (checkpoint removed) into the same -o
    over another input MS averages that input, not the file the first
    run staged under ``<out>.vis_src``."""
    import shutil

    import pandas as pd

    first, second = str(tmp_path / "first.ms"), str(tmp_path / "second.ms")
    shutil.copytree(ms_dir, first)
    shutil.copytree(ms_dir, second)
    vis_path = os.path.join(second, "ms_vis.parquet")
    vis = pd.read_parquet(vis_path)
    vis["vis_re"] *= 2.0
    vis.to_parquet(vis_path, index=False)
    out, params = str(tmp_path / "streamed.ms"), ["-t", "4", "-c", "8"]
    Application(["stream", first, "-o", out, *params], spark=spark).execute()
    shutil.rmtree(out + ".ckpt")
    Application(
        ["stream", second, "-o", out, "--force", *params], spark=spark
    ).execute()
    batch = Application(
        ["timechannel", second, "-o", str(tmp_path / "batch.ms"), *params],
        spark=spark,
    ).execute()
    _assert_same_ms(spark, out, batch)


def _arrival_files(ms_dir, out_dir, n) -> list:
    """The fixture's visibility samples split on row_id into ``n``
    parquet files, modified in order: one stream trigger each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    vis = pq.read_table(os.path.join(ms_dir, "ms_vis.parquet"))
    os.makedirs(out_dir)
    paths = []
    for i in range(n):
        paths.append(os.path.join(out_dir, f"{i:02d}.parquet"))
        keep = np.asarray(vis["row_id"]) % n == i
        pq.write_table(vis.filter(pa.array(keep)), paths[-1])
        os.utime(paths[-1], (1_000_000_000 + i,) * 2)
    return paths


def _uncommit_last_batch(checkpoint) -> None:
    """Delete the last commit-log entry: the state Spark finds after a
    kill that came after the batch's merge but before its commit."""
    commits = os.path.join(checkpoint, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))


def test_app_stream_replayed_batch_merges_once(spark, ms_dir, tmp_path):
    """A stream killed after a trigger merged its partials but before
    Spark committed the batch replays that batch on resume; the replay
    must not merge it a second time. Emulated by deleting the last
    commit-log entry of a finished run over two arrival files."""
    vis_dir = str(tmp_path / "arrivals")
    _arrival_files(ms_dir, vis_dir, 2)
    out, params = str(tmp_path / "streamed.ms"), ["-t", "4", "-c", "8"]
    cmd = ["stream", ms_dir, "-o", out, "--vis-dir", vis_dir, *params]
    Application(cmd, spark=spark).execute()
    _uncommit_last_batch(out + ".ckpt")
    Application([*cmd, "--force"], spark=spark).execute()
    batch = Application(
        ["timechannel", ms_dir, "-o", str(tmp_path / "batch.ms"), *params],
        spark=spark,
    ).execute()
    _assert_same_ms(spark, out, batch)


def test_app_stream_resumes_a_swap_cut_short(spark, ms_dir, tmp_path):
    """A stream killed between the partial store's two renames leaves
    the earlier batches' state parked at ``current`` + OLD_SUFFIX, no
    ``current``, and the batch uncommitted. The resume must restore
    that state and merge the replayed batch into it, not keep the
    replayed batch alone. Emulated with the second of two arrival files
    added after a first run: the state before it is the parked one."""
    import shutil

    out, params = str(tmp_path / "streamed.ms"), ["-t", "4", "-c", "8"]
    vis_dir, state = str(tmp_path / "arrivals"), out + ".partials"
    first, second = _arrival_files(ms_dir, str(tmp_path / "split"), 2)
    os.makedirs(vis_dir)
    cmd = ["stream", ms_dir, "-o", out, "--vis-dir", vis_dir, "--force", *params]
    shutil.move(first, vis_dir)
    Application(cmd, spark=spark).execute()
    shutil.copytree(os.path.join(state, "current"), str(tmp_path / "before"))
    shutil.move(second, vis_dir)
    Application(cmd, spark=spark).execute()
    _uncommit_last_batch(out + ".ckpt")
    shutil.rmtree(os.path.join(state, "current"))
    shutil.move(str(tmp_path / "before"), os.path.join(state, "current" + OLD_SUFFIX))
    Application(cmd, spark=spark).execute()
    batch = Application(
        ["timechannel", ms_dir, "-o", str(tmp_path / "batch.ms"), *params],
        spark=spark,
    ).execute()
    _assert_same_ms(spark, out, batch)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_app_run_releases_its_holds(spark, ms_dir, tmp_path):
    """The frames a run holds are released when it returns, and when it
    raises after the operators have built and held their plans (a
    second run to the same -o without --force)."""
    from xova_spark.sources.ms_writer import OutputExistsError

    spark.catalog.clearCache()  # frames other tests' registry queries share
    for cmd in (["timechannel", ms_dir, "-t", "4"],
                ["bda", ms_dir, "-d", "0.95", "-fov", "0.315", "-t", "16"]):
        out = str(tmp_path / f"{cmd[0]}.ms")
        Application([*cmd, "-o", out], spark=spark).execute()
        assert _cache_is_empty(spark), cmd[0]
        with pytest.raises(OutputExistsError):
            Application([*cmd, "-o", out], spark=spark).execute()
        assert _cache_is_empty(spark), cmd[0]


def test_operators_outside_a_run_hold_nothing(spark, ms):
    """timechannel() and bda() called outside held() (tests, registry
    queries, replays) leave nothing cached."""
    from xova_spark.operators.bda import bda
    from xova_spark.operators.timechannel import timechannel

    spark.catalog.clearCache()
    for out in (timechannel(ms, 4.0, 8), bda(ms, 0.95, 0.315, 16.0)):
        assert out["ms_vis"].count() > 0
        assert _cache_is_empty(spark)


def test_app_rerun_reads_changed_input(spark, ms_dir, tmp_path):
    """A second run in the same session over an input overwritten in
    place averages the new values — nothing the first run held is read
    back. Changed: every visibility doubled, and every sample of a third
    of the rows flagged (so the derived FLAG_ROW changes too)."""
    import shutil

    import pandas as pd

    def change(ms):
        path = os.path.join(ms, "ms_vis.parquet")
        vis = pd.read_parquet(path)
        vis["vis_re"] *= 2.0
        vis["flag"] |= vis["row_id"] % 3 == 0
        vis.to_parquet(path, index=False)

    reused, fresh = str(tmp_path / "reused.ms"), str(tmp_path / "fresh.ms")
    shutil.copytree(ms_dir, reused)
    params = ["-t", "4", "-c", "8"]
    Application(
        ["timechannel", reused, "-o", str(tmp_path / "first.ms"), *params],
        spark=spark,
    ).execute()
    change(reused)
    again = Application(
        ["timechannel", reused, "-o", str(tmp_path / "again.ms"), *params],
        spark=spark,
    ).execute()
    shutil.copytree(ms_dir, fresh)
    change(fresh)
    want = Application(
        ["timechannel", fresh, "-o", str(tmp_path / "want.ms"), *params],
        spark=spark,
    ).execute()
    _assert_same_ms(spark, again, want)
    first = load_ms(spark, str(tmp_path / "first.ms"))["ms_vis"]
    assert first.exceptAll(load_ms(spark, again)["ms_vis"]).count() > 0


def _last_job_id(sc) -> int:
    sc.setJobGroup("job-probe", "job-probe")
    try:
        sc.parallelize([1], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup("job-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# Spark jobs of one whole CLI run on the test fixture, the streaming
# trigger's jobs included (job ids are sequential per application). The
# counts are deterministic. Before a run held its shared frames once,
# they were timechannel 31, bda 115, stream 34. ``stream_bda`` is
# ``stream --mode bda``, binned by the operator's own held bin map.
# Before each sample table was one aggregation and the SPW tables were
# driver code, they were timechannel 29, bda 39, stream 30, stream_bda 39.
# Before the stream stored its partials keyed like the batch aggregation
# (so its drain re-joined the bin key), stream was 27. Before the store
# reopened from its manifest (the drain inferred its schema with a job),
# stream was 26 and stream_bda 37.
JOB_BUDGET = {"timechannel": 24, "bda": 35, "stream": 25, "stream_bda": 36}


@pytest.mark.parametrize("command", sorted(JOB_BUDGET))
def test_app_job_budget(spark, ms_dir, tmp_path, command):
    """Each frame several output tables read is built once per run, so
    a run costs no more Spark jobs than this budget."""
    cmd = {
        "timechannel": ["timechannel", ms_dir, "-t", "4", "-c", "16"],
        "bda": ["bda", ms_dir, "-d", "0.95", "-fov", "0.315", "-t", "16",
                "-mc", "2"],
        "stream": ["stream", ms_dir, "--mode", "timechannel", "-t", "4",
                   "-c", "16"],
        "stream_bda": ["stream", ms_dir, "--mode", "bda", "-d", "0.95",
                       "-fov", "0.315", "-t", "16", "-mc", "2"],
    }[command]
    sc = spark.sparkContext
    before = _last_job_id(sc)
    Application([*cmd, "-o", str(tmp_path / "out.ms")], spark=spark).execute()
    jobs = _last_job_id(sc) - before - 1
    assert jobs <= JOB_BUDGET[command], jobs


def test_app_unreadable_input_table_fails(spark, ms_dir, tmp_path):
    """A corrupt subtable in the input fails the run, naming the table,
    instead of silently dropping out of the output MS."""
    import shutil

    staged = str(tmp_path / "corrupt.ms")
    shutil.copytree(ms_dir, staged)
    pol = os.path.join(staged, "pol.parquet")
    with open(pol, "r+b") as fh:
        fh.truncate(os.path.getsize(pol) // 2)
    with pytest.raises(RuntimeError, match="pol"):
        Application(
            ["timechannel", staged, "-t", "4", "-o", str(tmp_path / "out.ms")],
            spark=spark,
        ).execute()


def test_app_force_removes_stale_tables(spark, ms_dir, tmp_path):
    """``--force`` over an earlier BDA output: BDA's lineage tables
    (``spw``, ``ddid_map``) must not survive into the timechannel MS."""
    from xova_spark.operators.check import check_ms, check_spw

    out = str(tmp_path / "reused.ms")
    Application(
        ["bda", ms_dir, "-d", "0.95", "-fov", "0.315", "-t", "16", "-o", out],
        spark=spark,
    ).execute()
    assert {"spw", "ddid_map"} <= set(load_ms(spark, out))
    Application(
        ["timechannel", ms_dir, "-t", "4", "-o", out, "--force"], spark=spark
    ).execute()
    back = load_ms(spark, out)
    assert "spw" not in back and "ddid_map" not in back
    assert check_ms(back).count() == 0
    assert check_spw(back).count() == 0


# The averaging command lines the re-average round trip combines: the
# first round, then a coarser second one.
_AVERAGE_CMD = {
    "timechannel": (["timechannel", "-t", "4", "-c", "8"],
                    ["timechannel", "-t", "16", "-c", "2"]),
    "bda": (["bda", "-d", "0.95", "-fov", "0.315", "-t", "16"],
            ["bda", "-d", "0.95", "-fov", "0.315", "-t", "64"]),
}


@pytest.mark.parametrize("second", sorted(_AVERAGE_CMD))
@pytest.mark.parametrize("first", sorted(_AVERAGE_CMD))
def test_app_output_reopens_checks_and_reaverages(
    spark, ms_dir, tmp_path, first, second
):
    """The reference's average-then-check workflow (check.py:22-76) on
    OUR OWN output: a written MS of either pipeline must load back
    through load_ms (bare-directory layout), pass `check` cleanly, and
    feed a second round of averaging by either pipeline, whose output
    passes `check` too."""
    from xova_spark.operators.check import check_ms, check_spw

    def run(cmd, ms, out):
        Application([cmd[0], ms, *cmd[1:], "-o", out], spark=spark).execute()
        back = load_ms(spark, out)
        assert check_ms(back).count() == 0, cmd[0]
        assert check_spw(back).count() == 0, cmd[0]
        # the check CLI itself accepts the written layout
        Application(["check", out], spark=spark).execute()
        return back

    once = str(tmp_path / "once.ms")
    back = run(_AVERAGE_CMD[first][0], ms_dir, once)
    again = run(_AVERAGE_CMD[second][1], once, str(tmp_path / "again.ms"))
    # re-averaging the averaged output runs end-to-end and shrinks rows
    assert 0 < again["ms_rows"].count() < back["ms_rows"].count()
    assert again["ms_vis"].count() > 0


def test_app_stream_reaverages_an_output(spark, ms_dir, tmp_path):
    """``stream`` over a written MS reads that MS's ``ms_vis`` table by
    default (a directory there, not ``ms_vis.parquet``) and writes what
    ``timechannel`` writes over it."""
    once = str(tmp_path / "once.ms")
    Application(["timechannel", ms_dir, "-t", "4", "-c", "4", "-o", once],
                spark=spark).execute()
    params = ["-t", "8", "-c", "2"]
    streamed = Application(
        ["stream", once, *params, "-o", str(tmp_path / "streamed.ms")], spark=spark
    ).execute()
    batch = Application(
        ["timechannel", once, *params, "-o", str(tmp_path / "batch.ms")], spark=spark
    ).execute()
    _assert_same_ms(spark, streamed, batch)


def test_app_bda_over_bda_output_writes_its_own_spw(spark, ms_dir, tmp_path):
    """BDA over a BDA output writes the ``spw`` and ``ddid_map`` this run
    computed, not the input's passed through: ``spw`` holds the grids of
    the output's ``spw_chans``, and ``ddid_map`` remints onto its
    ``ddid``."""
    from pyspark.sql import functions as F

    cmd = ["-d", "0.95", "-fov", "0.315", "-t", "16", "-mc", "2"]
    once, twice = str(tmp_path / "once.ms"), str(tmp_path / "twice.ms")
    Application(["bda", ms_dir, *cmd, "-o", once], spark=spark).execute()
    Application(["bda", once, *cmd, "-o", twice], spark=spark).execute()
    back = load_ms(spark, twice)
    grid = back["spw"].select(
        F.col("NEW_SPW_ID").alias("SPECTRAL_WINDOW_ID"),
        "chan", "CHAN_FREQ", "CHAN_WIDTH",
    )
    chans = back["spw_chans"].select(
        "SPECTRAL_WINDOW_ID", "chan", "CHAN_FREQ", "CHAN_WIDTH"
    )
    assert sorted(grid.collect()) == sorted(chans.collect())
    remint = back["ddid_map"].select(
        F.col("NEW_DATA_DESC_ID").alias("DATA_DESC_ID"),
        F.col("NEW_SPW_ID").alias("SPECTRAL_WINDOW_ID"),
        "POLARIZATION_ID",
    ).distinct()
    ddid = back["ddid"].select(
        "DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID"
    )
    assert sorted(remint.collect()) == sorted(ddid.collect())


def test_app_timechannel_over_bda_output_drops_its_grids(spark, ms_dir, tmp_path):
    """timechannel over a BDA output writes no ``spw``/``ddid_map``: they
    describe the input's ragged grids, not the output's ``spw_chans``.
    The output re-opens and passes ``check``."""
    once, again = str(tmp_path / "bda.ms"), str(tmp_path / "tc.ms")
    Application(["bda", ms_dir, "-d", "0.95", "-fov", "0.315", "-t", "16",
                 "-mc", "2", "-o", once], spark=spark).execute()
    assert {"spw", "ddid_map"} <= set(load_ms(spark, once))
    Application(["timechannel", once, "-t", "4", "-c", "2", "-o", again],
                spark=spark).execute()
    back = load_ms(spark, again)
    assert not {"spw", "ddid_map"} & set(back), sorted(back)
    Application(["check", again], spark=spark).execute()  # exits 1 on a violation


def test_app_bda_output_passes_check(spark, ms_dir, tmp_path):
    """BDA's ragged output carries reminted conformant DDID/SPW tables:
    every output row's channel count must match its (new) DDID's
    NUM_CHAN — the shape contract the reference validates via TAQL."""
    from xova_spark.operators.check import check_ms, check_spw

    out = os.path.join(str(tmp_path), "bda_check.ms")
    Application(
        ["bda", ms_dir, "-d", "0.95", "-fov", "0.315", "-t", "16",
         "-o", out], spark=spark
    ).execute()
    back = load_ms(spark, out)
    assert check_ms(back).count() == 0
    assert check_spw(back).count() == 0


def test_app_unknown_subtable_and_keywords_roundtrip(spark, ms_dir, tmp_path):
    """S10 wholesale passthrough (subtables.py:9-37 + putkeywords :35):
    a subtable this engine knows NOTHING about — plus table keywords —
    must survive load -> average -> write -> load."""
    import shutil

    from xova_spark.operators.timechannel import timechannel
    from xova_spark.sources.ms_writer import write_ms

    staged = os.path.join(str(tmp_path), "in.ms")
    shutil.copytree(ms_dir, staged)
    import pandas as pd

    pd.DataFrame({"SOURCE_ID": [0, 1], "NAME": ["J1939", "J0437"]}).to_parquet(
        os.path.join(staged, "source.parquet")
    )
    import json

    with open(os.path.join(staged, "_keywords.json"), "w") as fh:
        json.dump({"ms_rows": {"MS_VERSION": 2.0}}, fh)

    tables = load_ms(spark, staged)
    assert "source" in tables and tables["_keywords"]["ms_rows"]["MS_VERSION"] == 2.0
    out_dir = os.path.join(str(tmp_path), "out.ms")
    write_ms(timechannel(tables, 4.0, 8), out_dir)
    back = load_ms(spark, out_dir)
    assert back["source"].toPandas()["NAME"].tolist() == ["J1939", "J0437"]
    assert back["_keywords"]["ms_rows"]["MS_VERSION"] == 2.0


def test_app_rejects_multi_target_data_column_map(spark):
    """-dc with two distinct output targets is a clear parse error, not
    a silent single rename (ref data_column map, arguments.py:231-245)."""
    with pytest.raises(SystemExit):
        Application(
            ["timechannel", "/nonexistent", "-dc", "DATA",
             "CORRECTED_DATA:CDATA"],
            spark=spark,
        )


def test_app_corpus_writes_split_partitioned(spark, tmp_path):
    """``xova-spark-extras corpus``: the kept set lands partitioned by split
    and its audit equals the registry composite's."""
    from pyspark.sql import functions as F

    from xova_spark.queries.pipelineq import pipeline_corpus_e2e

    sf = "/root/testdata/sf0.001"
    out = os.path.join(str(tmp_path), "corpus_out")
    got = run_extras(["corpus", sf, "-o", out], spark=spark)
    assert got == out
    for s in ("train", "val", "test"):
        assert os.path.isdir(os.path.join(out, "corpus", f"split={s}")), s
    back = spark.read.parquet(os.path.join(out, "corpus"))
    audit = {
        (r["split"], r["lang"]): (r["n_docs"], r["sum_tokens"])
        for r in spark.read.parquet(os.path.join(out, "audit")).collect()
    }
    want = {
        (r["split"], r["lang"]): (r["n_docs"], r["sum_tokens"])
        for r in pipeline_corpus_e2e(spark, sf).collect()
    }
    assert audit == want
    derived = {
        (r["split"], r["lang"]): (r["n_docs"], r["sum_tokens"])
        for r in back.groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens"))
        .collect()
    }
    assert derived == want
    # overwrite guard
    with pytest.raises(SystemExit):
        run_extras(["corpus", sf, "-o", out], spark=spark)


def test_app_profile_dump(spark, ms_dir, tmp_path):
    """--profile writes the chosen Catalyst plans + timing (the
    reference's opt-in profiler analogue, app.py:35-40,130-150)."""
    import json

    out = os.path.join(str(tmp_path), "prof.ms")
    pdir = os.path.join(str(tmp_path), "profile")
    Application(
        ["timechannel", ms_dir, "-t", "4", "-c", "8", "-o", out,
         "--profile", pdir],
        spark=spark,
    ).execute()
    with open(os.path.join(pdir, "profile.json")) as fh:
        prof = json.load(fh)
    assert prof["write_secs"] > 0
    assert "ms_vis" in prof["tables"]
    plan = open(os.path.join(pdir, "ms_vis.plan.txt")).read()
    assert "Physical Plan" in plan
    # the browsable report: stats table + every plan in a fold, and the
    # json carries the same plan-shape numbers
    html = open(os.path.join(pdir, "profile.html")).read()
    assert "ms_vis" in html and "broadcast joins" in html
    assert "<details>" in html and "Physical Plan" in html
    assert "ms_vis" in prof["plan_stats"]
    assert "exchanges" in prof["plan_stats"]["ms_vis"]


def test_app_tokenize_writes_merges_and_counts(spark, tmp_path):
    """``xova-spark-extras tokenize``: rank-ordered merge table + per-doc token
    counts land in the output; merges compose (each merged token is its
    pair joined) and BPE counts never exceed character counts."""
    sf = "/root/testdata/sf0.001"
    out = os.path.join(str(tmp_path), "tok_out")
    got = run_extras(
        ["tokenize", sf, "-o", out, "-k", "5", "--vocab", "40"], spark=spark
    )
    assert got == out
    merges = (
        spark.read.parquet(os.path.join(out, "merges"))
        .orderBy("merge_rank")
        .collect()
    )
    assert [m["merge_rank"] for m in merges] == list(range(1, 6))
    for m in merges:
        assert m["merged"] == m["pair"].replace(" ", "")
        assert m["pair_count"] > 0
    counts = spark.read.parquet(os.path.join(out, "token_counts"))
    assert counts.count() == 500
    bad = counts.filter("n_bpe_tokens > 12000 OR n_bpe_tokens < n_ws_tokens")
    assert bad.count() == 0
    # overwrite guard
    with pytest.raises(SystemExit):
        run_extras(["tokenize", sf, "-o", out], spark=spark)


def test_app_cdc_apply_matches_direct_new(spark, tmp_path):
    """``xova-spark-extras cdc``: applying the diff changelog to the old
    snapshot reproduces the new snapshot exactly (the cdcq merge law,
    through the CLI path with generic column introspection)."""
    from pyspark.sql import functions as F

    from xova_spark.queries.cdcq import _diff, _snapshots

    sf = "/root/testdata/sf0.001"
    old, new = _snapshots(spark, sf)
    base_p = os.path.join(str(tmp_path), "base")
    chg_p = os.path.join(str(tmp_path), "chg")
    out = os.path.join(str(tmp_path), "merged")
    old.write.parquet(base_p)
    # CLI contract: changelog carries op + keys + NEW payload columns.
    _diff(old, new).select(
        "o_orderkey", "op",
        F.col("new_price_cents").alias("price_cents"),
    ).write.parquet(chg_p)
    got = run_extras(
        ["cdc", base_p, "--changes", chg_p, "--keys", "o_orderkey", "-o", out],
        spark=spark,
    )
    assert got == out
    merged = spark.read.parquet(out)
    assert merged.count() == new.count()
    assert merged.exceptAll(new).count() == 0
    assert new.exceptAll(merged).count() == 0


def test_app_card_writes_datasheet(spark, tmp_path):
    """``xova-spark-extras card``: the three datasheet parquets land and the
    sources card equals the registry query."""
    from xova_spark.queries.textops import t_dataset_card

    sf = "/root/testdata/sf0.001"
    out = os.path.join(str(tmp_path), "card_out")
    got = run_extras(["card", sf, "-o", out], spark=spark)
    assert got == out
    src = spark.read.parquet(os.path.join(out, "sources"))
    ref = t_dataset_card(spark, sf)
    assert src.count() == ref.count() > 0
    assert src.exceptAll(ref).count() == 0
    zipf = spark.read.parquet(os.path.join(out, "zipf")).collect()[0]
    assert zipf["n_words"] > 0
    oov = spark.read.parquet(os.path.join(out, "oov")).collect()[0]
    assert 0 <= oov["corpus_oov_permille"] <= 1000


def test_app_timechannel_on_fake_casa_table(spark, ms_dir, tmp_path):
    """VERDICT r3 item 5: the CLI end-to-end against the CASA TABLE API
    shape, not only parquet — `timechannel` pointed at a casa_fake
    directory (same nrows/getcol surface as python-casacore) must route
    through the bridge, average, write, and pass `check`. With real
    python-casacore installed the identical code path serves real .ms
    directories (sources/casa_ms.py:300-309)."""
    from xova_spark.operators.check import check_ms, check_spw
    from xova_spark.sources import casa_ms
    from xova_spark.sources.casa_fake import fake_ms_from_fixture

    twin = fake_ms_from_fixture(ms_dir, str(tmp_path / "cli_twin.ms"))
    assert casa_ms.is_casa_ms(twin)  # CLI input IS a casa-table dir
    out = os.path.join(str(tmp_path), "cli_out.ms")
    got = Application(
        ["timechannel", twin, "-t", "4", "-c", "8", "-o", out, "--force"],
        spark=spark,
    ).execute()
    back = load_ms(spark, got)
    n_in = casa_ms.load_ms_auto(spark, twin)["ms_rows"].count()
    n_out = back["ms_rows"].count()
    assert 0 < n_out < n_in
    assert check_ms(back).count() == 0
    assert check_spw(back).count() == 0
    # the check CLI accepts the written layout
    Application(["check", got], spark=spark).execute()


def test_app_average_uvw_coordinates_flag(spark, ms_dir, tmp_path):
    """Reference -auvw semantics (arguments.py --average-uvw-coordinates):
    by default the written UVW is RESYNTHESIZED at the averaged times
    (fixms, V4); with the flag the averaged UVW passes through
    untouched. Both layouts pass `check`; the two differ on real rows,
    and the flag path equals the averaging operator's own output."""
    import pandas as pd

    from xova_spark.operators.timechannel import timechannel

    out_fix = os.path.join(str(tmp_path), "fixed.ms")
    out_avg = os.path.join(str(tmp_path), "avg.ms")
    Application(
        ["timechannel", ms_dir, "-t", "4", "-o", out_fix, "--force"], spark=spark
    ).execute()
    Application(
        ["timechannel", ms_dir, "-t", "4", "-o", out_avg, "--force",
         "--average-uvw-coordinates"],
        spark=spark,
    ).execute()
    Application(["check", out_fix], spark=spark).execute()
    Application(["check", out_avg], spark=spark).execute()
    key = ["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2", "TIME"]
    fx = load_ms(spark, out_fix)["ms_rows"].select(*key, "u", "v", "w").toPandas()
    av = load_ms(spark, out_avg)["ms_rows"].select(*key, "u", "v", "w").toPandas()
    fx = fx.sort_values(key).reset_index(drop=True)
    av = av.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(fx[key], av[key], check_dtype=False)
    assert (abs(fx["u"] - av["u"]) > 1e-9).any()  # resynthesis did real work
    # the flag path IS the averaging operator's uvw
    want = (
        timechannel(load_ms(spark, ms_dir), time_bin_secs=4.0, chan_bin_size=16)
        ["ms_rows"].select(*key, "u", "v", "w").toPandas()
        .sort_values(key).reset_index(drop=True)
    )
    want = want[want.ANTENNA1 != want.ANTENNA2].reset_index(drop=True)
    pd.testing.assert_frame_equal(av, want, check_dtype=False)


def test_app_bda_on_fake_casa_table(spark, ms_dir, tmp_path):
    """BDA CLI end-to-end against the casa-table API shape (the twin of
    the timechannel fake-bridge test): decorrelation-driven averaging
    over a bridge-ingested table must write an MS that passes `check`
    and regenerates its SPW grid."""
    from xova_spark.operators.check import check_ms, check_spw
    from xova_spark.sources import casa_ms
    from xova_spark.sources.casa_fake import fake_ms_from_fixture

    twin = fake_ms_from_fixture(ms_dir, str(tmp_path / "bda_twin.ms"))
    out = os.path.join(str(tmp_path), "bda_out.ms")
    got = Application(
        ["bda", twin, "-d", "0.95", "-fov", "0.315", "-t", "16", "-o", out,
         "--force"],
        spark=spark,
    ).execute()
    back = load_ms(spark, got)
    assert 0 < back["ms_rows"].count() < casa_ms.load_ms_auto(spark, twin)[
        "ms_rows"
    ].count()
    assert "spw_chans" in back  # V3: SPW grid regenerated
    assert check_ms(back).count() == 0
    assert check_spw(back).count() == 0


def test_app_media_report(spark, tmp_path):
    """`media` CLI: the media curation artifacts land as parquet and
    agree with the registry queries."""
    sf = "/root/testdata/sf0.001"
    out = os.path.join(str(tmp_path), "media_report")
    got = run_extras(["media", sf, "-o", out, "--force"], spark=spark)
    from xova_spark.queries.multimodalq import mm_scene_segments

    scenes = spark.read.parquet(os.path.join(got, "scenes"))
    assert scenes.count() == mm_scene_segments(spark, sf).count()
    for name in ("decode_stats", "phash", "scene_dups", "audio_matches"):
        assert spark.read.parquet(os.path.join(got, name)).columns

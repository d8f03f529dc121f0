"""Application layer — the ``xova`` CLI re-expressed for the Spark engine.

Mirrors the reference's entry points and argument surface (reference:
xova/apps/xova/arguments.py:77-258, app.py:59-128): subcommands
``timechannel`` / ``bda`` / ``check`` over a parquet-backed MS directory,
plus their streaming twin ``stream`` (the off-paper commands are
``xova-spark-extras``, xova_spark/extras.py). Kept: the spec-string
parsers (fields "1,3C147,2" as ints-or-names, scans, channel ranges
"3~100"), output-name derivation (foo.ms -> foo_averaged.ms), the -dc
column rename map, the auto-correlation drop (the TAQL-pushdown filter,
S3), FLAG_ROW derivation vs --respect-flag-row (P2), the --force
overwrite guard (S11), and the UVW recomputation post-pass unless
--average-uvw-coordinates (V4).

Flags that configured the reference's manual chunking/execution
(-rc/--row-chunks, -grc/--group-row-chunks, --boring) are accepted for
CLI compatibility but are no-ops: partitioning, write batching, and
reduction trees are Catalyst/AQE's job here (SURVEY §4).

Usage::

    python -m xova_spark.app timechannel /path/to/ms_dir -t 4 -c 16
    python -m xova_spark.app bda /path/to/ms_dir -d 0.95 -fov 0.315
    python -m xova_spark.app stream /path/to/ms_dir -t 4 -c 16
    python -m xova_spark.app check /path/to/ms_dir
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from xova_spark.operators.timechannel import held, hold


# ---------------------------------------------------------------------------
# Spec-string parsers (arguments.py:12-74)
# ---------------------------------------------------------------------------


def parse_fields(field_str: str) -> list:
    """"0,3C147,2" -> [0, "3C147", 2] — ints or field NAMEs."""
    if not field_str:
        return []
    out = []
    for f in (f.strip() for f in field_str.split(",")):
        try:
            out.append(int(f))
        except ValueError:
            out.append(f)
    return out


def parse_scans(scan_str: str) -> list[int]:
    if not scan_str:
        return []
    try:
        return [int(s.strip()) for s in scan_str.split(",")]
    except ValueError as e:
        raise argparse.ArgumentTypeError(f"Invalid SCAN_NUMBER in {scan_str!r}") from e


def parse_channels(channel_str: str) -> list:
    """"3~100,7" -> [(3, 100), 7] — ranges and single channels."""
    if not channel_str:
        return []
    out = []
    for s in channel_str.split(","):
        rsplit = s.split("~")
        try:
            if len(rsplit) == 1:
                out.append(int(rsplit[0].strip()))
            elif len(rsplit) == 2:
                out.append((int(rsplit[0].strip()), int(rsplit[1].strip())))
            else:
                raise ValueError(s)
        except ValueError as e:
            raise argparse.ArgumentTypeError(f"Invalid channel spec {s!r}") from e
    return out


def parse_data_column_map(columns: list[str]) -> dict[str, str]:
    """["CORRECTED_DATA:DATA"] -> {"CORRECTED_DATA": "DATA"} (P3,
    arguments.py:231-245)."""
    out = {}
    for column in columns:
        csplit = column.split(":")
        if len(csplit) == 2:
            out[csplit[0]] = csplit[1]
        elif len(csplit) == 1:
            out[csplit[0]] = csplit[0]
        else:
            raise ValueError(f"Invalid data column spec: {column!r}")
    return out


def derive_output_name(ms: str) -> str:
    """foo.ms -> foo_averaged.ms; foo -> foo_averaged.ms
    (arguments.py:222-229)."""
    path, msname = os.path.split(ms.rstrip(os.sep))
    if msname[-3:].upper().endswith(".MS"):
        return os.path.join(path, msname[:-3] + "_averaged.ms")
    return os.path.join(path, msname + "_averaged.ms")


# ---------------------------------------------------------------------------
# CLI (arguments.py:77-154)
# ---------------------------------------------------------------------------


def create_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="xova-spark", formatter_class=argparse.ArgumentDefaultsHelpFormatter
    )
    sp = parser.add_subparsers(dest="command")
    tc = sp.add_parser("timechannel")
    bda = sp.add_parser("bda")
    check = sp.add_parser("check")
    check.add_argument("ms")
    check.add_argument("-r", "--row-chunks", type=int, default=10000)
    st = sp.add_parser(
        "stream",
        help="continuous averaging: consume arriving visibility files, "
             "maintain the averaged MS incrementally, finalize on drain",
    )
    for p in (tc, bda):
        p.add_argument("ms", help="Input MS directory (parquet tables)")
        p.add_argument("-f", "--fields", type=parse_fields, default="")
        p.add_argument("-s", "--scan-numbers", type=parse_scans, default="")
    st.add_argument("ms", help="Input MS directory (static row/subtables)")
    st.add_argument("--vis-dir", default=None,
                    help="directory of arriving ms_vis parquet files "
                         "(default: the ms_vis table of <ms>)")
    for p in (tc, bda, st):
        p.add_argument("-o", "--output", default=None)
        p.add_argument("--force", action="store_true", default=False)
        p.add_argument("-rfr", "--respect-flag-row", action="store_true",
                       default=False)
        p.add_argument("--include-auto-correlations", action="store_true",
                       default=False)
        p.add_argument("--average-uvw-coordinates", action="store_true",
                       default=False)
    for p in (tc, bda):
        p.add_argument("-rc", "--row-chunks", type=int, default=10000,
                       help="accepted for compatibility; partitioning is "
                            "Catalyst/AQE's job in this engine")
        p.add_argument("-grc", "--group-row-chunks", type=int, default=4,
                       help="accepted for compatibility (AQE coalesce)")
        p.add_argument("-dc", "--data-column", default=["DATA"], nargs="+")
        p.add_argument("--boring", action="store_true", default=False)
        p.add_argument("--profile", default=None, metavar="DIR",
                       help="dump per-table Catalyst plans + write timing "
                            "to DIR (the reference's opt-in profiler "
                            "analogue, app.py:35-40,130-150)")
    st.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (default: <output>.ckpt)")
    st.add_argument("--mode", choices=["timechannel", "bda"],
                    default="timechannel",
                    help="which averaging pipeline the maintenance runs")
    tc.add_argument("-t", "--time-bin-secs", default=2.0, type=float)
    bda.add_argument("-t", "--time-bin-secs", default=None, type=float)
    st.add_argument("-t", "--time-bin-secs", default=None, type=float,
                    help="timechannel bin (default 2.0) / bda cap "
                         "(default uncapped)")
    for p in (tc, st):
        p.add_argument("-c", "--chan-bin-size", default=16, type=int)
    for p in (bda, st):
        p.add_argument("-d", "--decorrelation", default=0.99, type=float)
        p.add_argument("-fov", "--max-fov", default=15.0, type=float)
        p.add_argument("-mc", "--min-nchan", default=1, type=int)
    return parser


def parse_args(cmdline: list[str]) -> argparse.Namespace:
    parser = create_parser()
    args = parser.parse_args(cmdline)
    if not args.command:
        parser.print_help()
        sys.exit(0)
    if args.command != "check":
        if args.output is None:
            args.output = derive_output_name(args.ms)
        if (args.command == "stream" and args.mode == "timechannel"
                and args.time_bin_secs is None):
            args.time_bin_secs = 2.0
        if args.command in ("timechannel", "bda"):
            args.data_column = parse_data_column_map(args.data_column)
            # This engine averages ONE visibility column into one output
            # name; a map of several pairs (e.g. 'DATA
            # CORRECTED_DATA:CDATA') would silently average only one —
            # reject it up front with a clear message instead.
            if len(args.data_column) > 1:
                parser.error(
                    "-dc maps several columns "
                    f"({', '.join(f'{k}:{v}' for k, v in args.data_column.items())}"
                    "); this engine averages a single visibility column — "
                    "pass one SOURCE:TARGET pair (ref -dc semantics, "
                    "arguments.py:231-245)"
                )
    return args


# ---------------------------------------------------------------------------
# Application (app.py:59-128)
# ---------------------------------------------------------------------------


class Application:
    def __init__(self, cmdline: list[str], spark: SparkSession | None = None):
        self.args = parse_args(cmdline)
        self.spark = spark

    def _session(self) -> SparkSession:
        if self.spark is None:
            from xova_spark.session import get_spark

            self.spark = get_spark("xova-spark-app")
        return self.spark

    def _resolve_fields(self, tables: dict, fields: list) -> list[int]:
        """Map field NAMEs and ids to FIELD_IDs (the reference resolves
        names against the FIELD subtable). A spec that matches no FIELD
        row raises, naming it: dropping it could leave no id, which would
        turn the filter off and average every field."""
        if not fields:
            return []
        rows = tables["field"].select("FIELD_ID", "NAME").collect()
        known = {int(r["FIELD_ID"]) for r in rows} | {r["NAME"] for r in rows}
        unknown = [str(f) for f in fields if f not in known]
        if unknown:
            raise ValueError(
                f"unknown field(s) {', '.join(unknown)}: no FIELD row of "
                f"{self.args.ms} has that NAME or FIELD_ID"
            )
        return sorted(
            int(r["FIELD_ID"]) for r in rows
            if r["NAME"] in fields or int(r["FIELD_ID"]) in fields
        )

    def _check_selection(self, rows, fields, scans) -> None:
        """Fail, naming the scans, when ``-s`` names a scan with no row
        to average or no row lies in both the ``-f`` fields and the
        ``-s`` scans: averaging nothing would write an empty MS that
        passes ``check``. One collect of the distinct pairs."""
        pairs = rows.select("FIELD_ID", "SCAN_NUMBER").distinct().collect()
        unknown = sorted(set(scans or []) - {s for _, s in pairs})
        if unknown or not any(
            (not fields or f in fields) and (not scans or s in scans)
            for f, s in pairs
        ):
            raise ValueError(
                f"no row of {self.args.ms} to average has scan(s) "
                f"{', '.join(map(str, unknown or scans or ['any']))} in "
                f"field(s) {', '.join(map(str, fields or ['any']))}"
            )

    def _prepare(self, tables: dict) -> dict:
        """Shared input transforms: drop auto-correlations (S3 — pushed
        to the scan) and derive FLAG_ROW = all(FLAG) unless
        --respect-flag-row (P2, averaging.py:224-225). The prepared
        rows are held: every output table derives from them."""
        rows = tables["ms_rows"]
        if not self.args.include_auto_correlations:
            rows = rows.filter(F.col("ANTENNA1") != F.col("ANTENNA2"))
        if not self.args.respect_flag_row:
            derived = (
                tables["ms_vis"]
                .groupBy("row_id")
                .agg(F.bool_and("flag").alias("_fr"))
            )
            rows = (
                rows.join(derived, "row_id", "left")
                .withColumn("FLAG_ROW", F.coalesce(F.col("_fr"), F.col("FLAG_ROW")))
                .drop("_fr")
            )
        return {**tables, "ms_rows": hold(rows)}

    def execute(self) -> str | None:
        args = self.args
        spark = self._session()

        # Opens real CASA MS directories too when python-casacore is
        # installed (sources/casa_ms bridge); parquet layout otherwise.
        # -dc SRC: the column averaged, as vis_re/vis_im.
        from xova_spark.sources.casa_ms import load_ms_auto

        (src,) = getattr(args, "data_column", {"DATA": "DATA"})
        tables = load_ms_auto(spark, args.ms, data_column=src)

        if args.command == "check":
            from xova_spark.operators.check import check_ms, check_spw

            bad_rows = check_ms(tables).count()
            bad_spws = check_spw(tables).count()
            print(f"check: {bad_rows} row violations, {bad_spws} SPW violations")
            if bad_rows or bad_spws:
                raise SystemExit(1)
            return None

        # The frames the run holds are released when it returns or raises.
        with held():
            if args.command == "stream":
                # Same input maintenance as the batch commands: autocorr
                # drop + FLAG_ROW derivation apply to the STATIC tables the
                # stream aggregates against, so the drained result equals
                # the batch run on the same flags.
                return self._execute_stream(self._prepare(tables))

            tables = self._prepare(tables)
            fields = self._resolve_fields(tables, args.fields) or None
            scans = list(args.scan_numbers) or None
            if fields or scans:
                self._check_selection(tables["ms_rows"], fields, scans)
            out = self._average(tables, args.command, fields, scans)
            return self._write_output(out, tables)

    def _average(
        self, tables: dict, pipeline: str, fields=None, scans=None,
        vis_average=None,
    ) -> dict:
        """The ``timechannel`` or ``bda`` operator over the prepared
        tables, with this command line's averaging parameters."""
        args = self.args
        if pipeline == "timechannel":
            from xova_spark.operators.timechannel import timechannel

            return timechannel(
                tables,
                time_bin_secs=args.time_bin_secs,
                chan_bin_size=args.chan_bin_size,
                fields=fields,
                scans=scans,
                vis_average=vis_average,
            )
        from xova_spark.operators.bda import bda

        return bda(
            tables,
            decorrelation=args.decorrelation,
            max_fov=args.max_fov,
            time_bin_secs=args.time_bin_secs or 1e9,
            min_nchan=args.min_nchan,
            fields=fields,
            scans=scans,
            vis_average=vis_average,
        )

    def _write_output(self, out: dict, tables: dict) -> str:
        """The tail every averaging command shares: UVW recompute, the
        -dc rename, write_ms and the optional profile dump."""
        args = self.args
        if not args.average_uvw_coordinates:
            # V4: resynthesize UVW at averaged TIMEs, joined before the
            # single write (not the reference's post-write update).
            from xova_spark.operators.uvw import fixms

            out["ms_rows"] = fixms(out["ms_rows"], tables["antenna"], tables["field"])

        # P3: surface the averaged data under the -dc DST name; DATA
        # stays vis_re/vis_im, so the output can be averaged again.
        (dst,) = getattr(args, "data_column", {"DATA": "DATA"}).values()
        if dst != "DATA":
            out["ms_vis"] = out["ms_vis"].withColumnsRenamed(
                {"vis_re": f"{dst}_re", "vis_im": f"{dst}_im"}
            )

        from xova_spark.sources.ms_writer import write_ms

        t0 = time.perf_counter()
        write_ms(out, args.output, force=args.force)
        if getattr(args, "profile", None):
            from xova_spark.profiling import write_profile

            write_profile(out, args.profile, time.perf_counter() - t0)
        return args.output

    def _claim_stream_state(
        self, vis_dir: str, checkpoint: str, part_dir: str
    ) -> None:
        """Resume the stream state only under the parameters that made
        it. They are recorded in ``<partials>/params.json`` before the
        query first starts; a run whose parameters differ (or a
        checkpoint with no record) raises, naming the parameters and the
        directories to remove, since merging into partials binned
        otherwise writes visibilities no batch run would."""
        args = self.args
        params = {k: getattr(args, k) for k in (
            "mode", "time_bin_secs", "chan_bin_size", "decorrelation",
            "max_fov", "min_nchan", "respect_flag_row",
            "include_auto_correlations",
        )}
        params.update(ms=os.path.abspath(args.ms), vis_dir=os.path.abspath(vis_dir))
        record = os.path.join(part_dir, "params.json")
        if not os.path.exists(checkpoint):
            # Partials without a checkpoint are a torn state: the
            # checkpoint is what stops a rerun re-consuming files already
            # merged, so a fresh run would double-merge them.
            shutil.rmtree(part_dir, ignore_errors=True)
            os.makedirs(part_dir)
            with open(record, "w") as fh:
                json.dump(params, fh)
            return
        recorded = {}
        if os.path.exists(record):
            with open(record) as fh:
                recorded = json.load(fh)
        differ = [k for k in params if recorded.get(k) != params[k]]
        if differ:
            stale = [d for d in (checkpoint, part_dir, args.output + ".vis_src")
                     if os.path.exists(d)]
            raise ValueError(
                f"the stream state of {args.output} was made with other "
                f"{', '.join(differ)}; remove {', '.join(stale)} to average "
                "afresh"
            )

    def _execute_stream(self, tables: dict) -> str:
        """``xova-spark stream``: continuous time-and-channel or BDA
        averaging.

        Arriving visibility files (availableNow drain), binned by the
        operator's own map, merge into a partial-aggregate store via
        foreachBatch; on drain the partials finalize into the A1a
        averaged columns in place of the visibility aggregation of the
        ``timechannel()`` / ``bda()`` call the batch command makes, and
        the MS is written through the same tail —
        the streaming twin of the reference's one-shot
        read→average→write (app.py:59-128), with identical results
        because the maintained partials are decomposable sums.

        FLAG_ROW (unless --respect-flag-row) is derived by ``_prepare``
        from the whole static ``<ms>/ms_vis`` table, as it stands before
        the first trigger — not from the samples that have arrived. A
        row's flag, and so the row averaging and the row -> bin map the
        triggers join against, reflects all of its static samples even
        while only some of them have streamed in."""
        args = self.args
        spark = self._session()
        from xova_spark.streaming.average import parquet_stream
        from xova_spark.streaming.materialize import (
            finalize_vis,
            materialized_ms_vis,
        )
        from xova_spark.sources.ms_writer import table_path

        vis_dir = args.vis_dir or table_path(args.ms, "ms_vis")
        checkpoint = args.checkpoint or args.output + ".ckpt"
        part_dir = args.output + ".partials"
        self._claim_stream_state(vis_dir, checkpoint, part_dir)
        stream = parquet_stream(
            spark, vis_dir, args.output + ".vis_src", maxFilesPerTrigger="1"
        )

        def drain(bins, chan_div):
            # ``bins`` is the operator's held map; the stored partials
            # are keyed like average_vis's, so they finalize in place.
            materialized_ms_vis(
                stream, bins, part_dir, checkpoint, chan_div
            ).awaitTermination()
            return finalize_vis(spark, part_dir, keep_rep=True)

        # Only the visibility samples ARRIVE; the row table is static, so
        # every other output table is the batch operator's.
        out = self._average(tables, args.mode, vis_average=drain)
        return self._write_output(out, tables)


def main() -> None:
    Application(sys.argv[1:]).execute()


if __name__ == "__main__":
    main()

"""Application layer — the ``xova`` CLI re-expressed for the Spark engine.

Mirrors the reference's entry points and argument surface (reference:
xova/apps/xova/arguments.py:77-258, app.py:59-128): subcommands
``timechannel`` / ``bda`` / ``check`` over a parquet-backed MS directory,
with the same spec-string parsers (fields "1,3C147,2" as ints-or-names,
scans, channel ranges "3~100"), output-name derivation
(foo.ms -> foo_averaged.ms), the -dc column rename map, the
auto-correlation drop (the TAQL-pushdown filter, S3), FLAG_ROW
derivation vs --respect-flag-row (P2), the --force overwrite guard
(S11), and the UVW recomputation post-pass unless
--average-uvw-coordinates (V4).

Flags that configured the reference's manual chunking/execution
(-rc/--row-chunks, -grc/--group-row-chunks, --boring) are accepted for
CLI compatibility but are no-ops: partitioning, write batching, and
reduction trees are Catalyst/AQE's job here (SURVEY §4).

Usage::

    python -m xova_spark.app timechannel /path/to/ms_dir -t 4 -c 16
    python -m xova_spark.app bda /path/to/ms_dir -d 0.95 -fov 0.315
    python -m xova_spark.app check /path/to/ms_dir
"""

from __future__ import annotations

import argparse
import os
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
    for p in (tc, bda):
        p.add_argument("ms", help="Input MS directory (parquet tables)")
        p.add_argument("-f", "--fields", type=parse_fields, default="")
        p.add_argument("-s", "--scan-numbers", type=parse_scans, default="")
        p.add_argument("-o", "--output", default=None)
        p.add_argument("--force", action="store_true", default=False)
        p.add_argument("-rc", "--row-chunks", type=int, default=10000,
                       help="accepted for compatibility; partitioning is "
                            "Catalyst/AQE's job in this engine")
        p.add_argument("-grc", "--group-row-chunks", type=int, default=4,
                       help="accepted for compatibility (AQE coalesce)")
        p.add_argument("-rfr", "--respect-flag-row", action="store_true",
                       default=False)
        p.add_argument("-dc", "--data-column", default=["DATA"], nargs="+")
        p.add_argument("--include-auto-correlations", action="store_true",
                       default=False)
        p.add_argument("--average-uvw-coordinates", action="store_true",
                       default=False)
        p.add_argument("--boring", action="store_true", default=False)
        p.add_argument("--profile", default=None, metavar="DIR",
                       help="dump per-table Catalyst plans + write timing "
                            "to DIR (the reference's opt-in profiler "
                            "analogue, app.py:35-40,130-150)")
    tc.add_argument("-t", "--time-bin-secs", default=2.0, type=float)
    tc.add_argument("-c", "--chan-bin-size", default=16, type=int)
    bda.add_argument("-t", "--time-bin-secs", default=None, type=float)
    bda.add_argument("-d", "--decorrelation", default=0.99, type=float)
    bda.add_argument("-fov", "--max-fov", default=15.0, type=float)
    bda.add_argument("-mc", "--min-nchan", default=1, type=int)
    check = sp.add_parser("check")
    check.add_argument("ms")
    check.add_argument("-r", "--row-chunks", type=int, default=10000)
    st = sp.add_parser(
        "stream",
        help="continuous averaging: consume arriving visibility files, "
             "maintain the averaged MS incrementally, finalize on drain",
    )
    st.add_argument("ms", help="Input MS directory (static row/subtables)")
    st.add_argument("--vis-dir", default=None,
                    help="directory of arriving ms_vis parquet files "
                         "(default: <ms>/ms_vis.parquet)")
    st.add_argument("-o", "--output", default=None)
    st.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (default: <output>.ckpt)")
    st.add_argument("--force", action="store_true", default=False)
    st.add_argument("--mode", choices=["timechannel", "bda"],
                    default="timechannel",
                    help="which averaging pipeline the maintenance runs")
    st.add_argument("-rfr", "--respect-flag-row", action="store_true",
                    default=False)
    st.add_argument("--include-auto-correlations", action="store_true",
                    default=False)
    st.add_argument("--average-uvw-coordinates", action="store_true",
                    default=False)
    st.add_argument("-t", "--time-bin-secs", default=None, type=float,
                    help="timechannel bin (default 2.0) / bda cap "
                         "(default uncapped)")
    st.add_argument("-c", "--chan-bin-size", default=16, type=int)
    st.add_argument("-d", "--decorrelation", default=0.99, type=float)
    st.add_argument("-fov", "--max-fov", default=15.0, type=float)
    st.add_argument("-mc", "--min-nchan", default=1, type=int)
    co = sp.add_parser(
        "corpus",
        help="training-data funnel: quality/repetition filters, exact "
             "dedup, decontamination, mixture sampling, split; writes "
             "the kept corpus partitioned by split",
    )
    co.add_argument("ms", help="directory containing documents.parquet")
    co.add_argument("-o", "--output", default=None)
    co.add_argument("--force", action="store_true", default=False)
    tk = sp.add_parser(
        "tokenize",
        help="BPE tokenizer: learn merge rules over the corpus "
             "vocabulary and write merges + per-doc token counts",
    )
    tk.add_argument("ms", help="directory containing documents.parquet")
    tk.add_argument("-o", "--output", default=None)
    tk.add_argument("--force", action="store_true", default=False)
    tk.add_argument("-k", "--merges", default=64, type=int,
                    help="number of merge rules to learn")
    tk.add_argument("--vocab", default=10000, type=int,
                    help="word types kept for training (top by frequency)")
    ix = sp.add_parser(
        "index",
        help="build a persistent IVF-PQ ANN index over embeddings: "
             "cell-partitioned code table + codebooks + coarse centroids",
    )
    ix.add_argument("ms", help="directory containing embeddings.parquet")
    ix.add_argument("-o", "--output", default=None)
    ix.add_argument("--force", action="store_true", default=False)
    se = sp.add_parser(
        "search",
        help="top-k ANN search against a persisted IVF-PQ index "
             "(partition-pruned probe-cell scan)",
    )
    se.add_argument("ms", metavar="index", help="index directory written by `index`")
    se.add_argument("--data", required=True,
                    help="directory containing embeddings.parquet (query vectors)")
    se.add_argument("--query-ids", required=True,
                    help="comma-separated vec_ids to search for")
    se.add_argument("-k", "--topk", default=5, type=int)
    se.add_argument("--nprobe", default=2, type=int)
    se.add_argument("-o", "--output", default=None,
                    help="write results parquet here (default: print)")
    med = sp.add_parser(
        "media",
        help="media curation report: per-item decode stats, perceptual "
             "hashes, video scene segments, cross-item scene dedup, "
             "audio fingerprint matches",
    )
    med.add_argument("ms", help="directory containing documents.parquet")
    med.add_argument("-o", "--output", default=None)
    med.add_argument("--force", action="store_true", default=False)
    card = sp.add_parser(
        "card",
        help="corpus datasheet: per-source dataset card, Zipf fit, "
             "OOV-rate summary — the release artifacts for a corpus",
    )
    card.add_argument("ms", help="directory containing documents.parquet")
    card.add_argument("-o", "--output", default=None)
    card.add_argument("--force", action="store_true", default=False)
    cdc = sp.add_parser(
        "cdc",
        help="apply an I/U/D changelog parquet to a base snapshot "
             "parquet and write the merged snapshot (one keyed "
             "full-outer join; deletes drop, upserts take the "
             "changelog payload)",
    )
    cdc.add_argument("ms", metavar="base", help="base snapshot parquet path")
    cdc.add_argument("--changes", required=True,
                     help="changelog parquet with an 'op' column (I/U/D), "
                          "the key columns, and the new payload columns")
    cdc.add_argument("--keys", required=True,
                     help="comma-separated primary-key columns")
    cdc.add_argument("-o", "--output", default=None)
    cdc.add_argument("--force", action="store_true", default=False)
    dq = sp.add_parser(
        "dq",
        help="data-quality report over the relational tables: column "
             "profile, candidate-key uniqueness, FK orphan counts, "
             "distribution drift; --strict exits nonzero on violations",
    )
    dq.add_argument("ms", help="directory containing the relational parquet tables")
    dq.add_argument("-o", "--output", default=None)
    dq.add_argument("--force", action="store_true", default=False)
    dq.add_argument("--strict", action="store_true", default=False,
                    help="exit 1 if any FK orphan exists or a surrogate "
                         "key is non-unique")
    return parser


def parse_args(cmdline: list[str]) -> argparse.Namespace:
    parser = create_parser()
    args = parser.parse_args(cmdline)
    if not args.command:
        parser.print_help()
        sys.exit(0)
    if args.command not in ("check", "search"):
        if args.output is None:
            args.output = derive_output_name(args.ms)
        if (args.command == "stream" and args.mode == "timechannel"
                and args.time_bin_secs is None):
            args.time_bin_secs = 2.0
        if args.command in ("timechannel", "bda"):
            args.data_column = parse_data_column_map(args.data_column)
            # This engine averages ONE visibility column into one output
            # name; a map with multiple distinct targets (e.g. 'DATA
            # CORRECTED_DATA:CDATA') would silently rename only once —
            # reject it up front with a clear message instead.
            targets = set(args.data_column.values())
            if len(targets) > 1:
                parser.error(
                    "-dc maps multiple output columns "
                    f"({', '.join(sorted(targets))}); this engine averages "
                    "a single visibility column — pass one SOURCE:TARGET "
                    "pair (ref -dc semantics, arguments.py:231-245)"
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

        if args.command == "corpus":
            return self._execute_corpus()
        if args.command == "tokenize":
            return self._execute_tokenize()
        if args.command == "index":
            return self._execute_index()
        if args.command == "search":
            return self._execute_search()
        if args.command == "dq":
            return self._execute_dq()
        if args.command == "cdc":
            return self._execute_cdc()
        if args.command == "card":
            return self._execute_card()
        if args.command == "media":
            return self._execute_media()

        # Opens real CASA MS directories too when python-casacore is
        # installed (sources/casa_ms bridge); parquet layout otherwise.
        from xova_spark.sources.casa_ms import load_ms_auto

        tables = load_ms_auto(spark, args.ms)

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
            fields = self._resolve_fields(tables, args.fields)
            scans = list(args.scan_numbers) or None
            out = self._average(tables, args.command, fields or None, scans)
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

        # P3: surface the averaged data under the mapped column names.
        dc = getattr(args, "data_column", None)
        if "ms_vis" in out and dc and list(dc.items()) != [("DATA", "DATA")]:
            (to_name,) = set(dc.values())
            out["ms_vis"] = out["ms_vis"].withColumnsRenamed(
                {"vis_re": f"{to_name}_re", "vis_im": f"{to_name}_im"}
            )

        from xova_spark.sources.ms_writer import write_ms

        t0 = time.perf_counter()
        write_ms(out, args.output, force=args.force)
        if getattr(args, "profile", None):
            from xova_spark.profiling import write_profile

            write_profile(out, args.profile, time.perf_counter() - t0)
        return args.output

    def _execute_corpus(self) -> str:
        """``xova-spark corpus``: run the training-data funnel (quality,
        repetition, exact dedup, 8-gram decontamination, mixture
        sampling, deterministic split — queries/pipelineq.corpus_funnel)
        over <ms>/documents.parquet and write the kept set partitioned
        by split, so downstream epoch readers prune to their split for
        free. Also writes the per-(split, lang) audit alongside."""
        import os

        args = self.args
        spark = self._session()
        from xova_spark.queries.pipelineq import corpus_funnel

        if os.path.exists(args.output) and not args.force:
            print(f"{args.output} exists, use --force to overwrite")
            raise SystemExit(1)
        docs = spark.read.parquet(os.path.join(args.ms, "documents.parquet"))
        kept = corpus_funnel(docs)
        (
            kept.write.mode("overwrite")
            .partitionBy("split")
            .parquet(os.path.join(args.output, "corpus"))
        )
        audit = kept.groupBy("split", "lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        audit.write.mode("overwrite").parquet(
            os.path.join(args.output, "audit")
        )
        return args.output

    def _execute_media(self) -> str:
        """``xova-spark media``: write the media curation artifacts —
        per-item decode stats + perceptual hashes, per-video scene
        segments, cross-video duplicated scenes, and offset-robust
        audio fingerprint matches. The media-side release report next
        to the corpus card."""
        import os

        args = self.args
        spark = self._session()
        from xova_spark.queries import multimodalq as MQ

        if os.path.exists(args.output) and not args.force:
            print(f"{args.output} exists, use --force to overwrite")
            raise SystemExit(1)
        outputs = (
            ("decode_stats", MQ.mm_decode_stats(spark, args.ms)),
            ("phash", MQ.mm_image_phash(spark, args.ms)),
            ("scenes", MQ.mm_scene_segments(spark, args.ms)),
            ("scene_dups", MQ.mm_scene_dedup(spark, args.ms)),
            ("audio_matches", MQ.mm_audio_fingerprint_matches(spark, args.ms)),
        )
        for name, df in outputs:
            df.write.mode("overwrite").parquet(os.path.join(args.output, name))
        print(
            "media: wrote decode_stats/phash/scenes/scene_dups/"
            f"audio_matches under {args.output}"
        )
        return args.output

    def _execute_card(self) -> str:
        """``xova-spark card``: write the corpus release datasheet —
        the per-source dataset card (docs/tokens/langs/dup rate), the
        Zipf-law fit, and a per-language OOV-rate summary. The
        artifacts a data release publishes next to the parquet."""
        import os

        args = self.args
        spark = self._session()
        from xova_spark.queries import textops as T

        if os.path.exists(args.output) and not args.force:
            print(f"{args.output} exists, use --force to overwrite")
            raise SystemExit(1)
        card = T.t_dataset_card(spark, args.ms)
        zipf = T.t_zipf_slope(spark, args.ms)
        oov = (
            T.t_oov_rate(spark, args.ms)
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.expr("sum(n_oov) * 1000 div sum(n_tokens)")
                .cast("long")
                .alias("corpus_oov_permille"),
                F.max("oov_permille").cast("long").alias("max_doc_oov_permille"),
            )
        )
        for name, df in (("sources", card), ("zipf", zipf), ("oov", oov)):
            df.write.mode("overwrite").parquet(os.path.join(args.output, name))
        print(f"card: wrote sources/zipf/oov under {args.output}")
        return args.output

    def _execute_cdc(self) -> str:
        """``xova-spark cdc``: incremental snapshot maintenance — apply
        a changelog (op ∈ I/U/D + keys + new payload) to a base
        snapshot with ONE keyed full-outer join (the cdcq.py merge
        law, proven apply(old, diff(old,new)) ≡ new under the oracle
        gate) and write the merged snapshot. The distributed
        alternative to rewriting the table per batch."""
        import os

        args = self.args
        spark = self._session()
        if os.path.exists(args.output) and not args.force:
            print(f"{args.output} exists, use --force to overwrite")
            raise SystemExit(1)
        keys = [k.strip() for k in args.keys.split(",") if k.strip()]
        base = spark.read.parquet(args.ms)
        chg = spark.read.parquet(args.changes)
        payload = [c for c in base.columns if c not in keys]
        missing = [c for c in keys + ["op"] if c not in chg.columns]
        if missing:
            print(f"changelog missing columns: {', '.join(missing)}")
            raise SystemExit(1)
        chg2 = chg.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            "op",
            *[
                F.col(p).alias(f"__v_{p}")
                for p in payload
                if p in chg.columns
            ],
        )
        cond = None
        for k in keys:
            c = base[k] == chg2[f"__k_{k}"]
            cond = c if cond is None else (cond & c)
        j = base.join(chg2, cond, "full_outer")
        out_cols = [
            F.coalesce(base[k], chg2[f"__k_{k}"]).alias(k) for k in keys
        ]
        for p in payload:
            if f"__v_{p}" in chg2.columns:
                out_cols.append(
                    F.when(F.col("op").isNotNull(), F.col(f"__v_{p}"))
                    .otherwise(base[p])
                    .alias(p)
                )
            else:
                out_cols.append(base[p].alias(p))
        merged = j.where(
            F.col("op").isNull() | (F.col("op") != "D")
        ).select(*out_cols)
        merged.write.mode("overwrite").parquet(args.output)
        ops = {
            r["op"]: r["n"]
            for r in chg.groupBy("op").agg(F.count("*").alias("n")).collect()
        }
        n_out = spark.read.parquet(args.output).count()
        print(
            f"cdc: applied {ops.get('I', 0)} inserts, {ops.get('U', 0)} "
            f"updates, {ops.get('D', 0)} deletes -> {n_out} rows"
        )
        return args.output

    def _execute_dq(self) -> str:
        """``xova-spark dq``: run the data-quality pack
        (queries/dataqual) over the relational tables and write one
        report parquet per check. With --strict, referential orphans or
        a broken surrogate key fail the run — the pre-/post-transform
        gate a pipeline calls between stages."""
        import os

        args = self.args
        spark = self._session()
        from xova_spark.queries import dataqual as DQ

        if os.path.exists(args.output) and not args.force:
            print(f"{args.output} exists, use --force to overwrite")
            raise SystemExit(1)
        reports = {
            "profile": DQ.dq_profile_columns(spark, args.ms),
            "keys": DQ.dq_key_uniqueness(spark, args.ms),
            "orphans": DQ.dq_referential_orphans(spark, args.ms),
            "drift": DQ.dq_histogram_drift(spark, args.ms),
        }
        for name, df in reports.items():
            df.write.mode("overwrite").parquet(
                os.path.join(args.output, name)
            )
        if args.strict:
            orphans = spark.read.parquet(
                os.path.join(args.output, "orphans")
            ).agg(F.sum("n_orphans").alias("s")).collect()[0]["s"]
            keys = spark.read.parquet(os.path.join(args.output, "keys"))
            broken = keys.filter(
                (~F.col("is_unique"))
                & (~F.col("key_cols").contains(","))
            ).count()
            if orphans or broken:
                print(
                    f"dq violations: {orphans} orphan rows, "
                    f"{broken} broken surrogate keys"
                )
                raise SystemExit(1)
        return args.output

    def _execute_tokenize(self) -> str:
        """``xova-spark tokenize``: learn BPE merge rules over the
        corpus vocabulary (queries/textops, Sennrich word-frequency
        formulation) and write (a) the rank-ordered merge table and
        (b) per-document whitespace vs BPE token counts — the artifacts
        a training-data pipeline needs before packing sequences."""
        import os

        args = self.args
        spark = self._session()
        from xova_spark.queries import textops as T

        if os.path.exists(args.output) and not args.force:
            print(f"{args.output} exists, use --force to overwrite")
            raise SystemExit(1)
        merges_df = T.t_bpe_train_merges(
            spark, args.ms, vocab=args.vocab, k=args.merges
        )
        counts = T.t_bpe_encode_tokens(
            spark, args.ms, vocab=args.vocab, k=args.merges
        )
        merges_df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(args.output, "merges")
        )
        counts.write.mode("overwrite").parquet(
            os.path.join(args.output, "token_counts")
        )
        return args.output

    def _execute_index(self) -> str:
        """``xova-spark index``: build and PERSIST the IVF-PQ ANN index
        (queries/pipelineq.ivfpq_index_build). Layout:

        - ``codes/``      (vec_id, code0..M-1, cell) partitioned BY CELL
          — a search's probe set becomes parquet partition pruning
        - ``codebooks/``  (m, cid, cv) — the M x K PQ centroids
        - ``centroids/``  (cent_id, cemb) — the coarse quantizer

        Train once, search many: the model-scale artifacts are a few KB;
        only the code table scales with the corpus (M bytes per vector)."""
        import os

        args = self.args
        spark = self._session()
        from xova_spark.queries.pipelineq import ivfpq_index_build

        if os.path.exists(args.output) and not args.force:
            print(f"{args.output} exists, use --force to overwrite")
            raise SystemExit(1)
        table, codebooks, centroids = ivfpq_index_build(spark, args.ms)
        (
            table.write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(args.output, "codes"))
        )
        spark.createDataFrame(
            codebooks, "m int, cid int, cv array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(args.output, "codebooks")
        )
        spark.createDataFrame(
            centroids, "cent_id int, cemb array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(args.output, "centroids")
        )
        return args.output

    def _execute_search(self) -> str | None:
        """``xova-spark search``: top-k ANN against the persisted index
        (queries/pipelineq.ivfpq_index_search). The probe-cell filter
        prunes the cell-partitioned code table at the parquet level."""
        args = self.args
        spark = self._session()
        from xova_spark.queries.pipelineq import ivfpq_index_search

        qids = [int(x) for x in args.query_ids.split(",") if x.strip()]
        out = ivfpq_index_search(
            spark, args.ms, args.data, qids, k=args.topk, nprobe=args.nprobe
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            return args.output
        for r in out.collect():
            print(f"{r['qid']}\t{r['cid']}\t{r['pq_dist']}\t{r['rank']}")
        return None

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
        import os

        args = self.args
        spark = self._session()
        from xova_spark.operators import timechannel as tc
        from xova_spark.streaming.average import parquet_stream
        from xova_spark.streaming.materialize import (
            finalize_vis,
            materialized_ms_vis,
        )

        vis_dir = args.vis_dir or os.path.join(args.ms, "ms_vis.parquet")
        checkpoint = args.checkpoint or args.output + ".ckpt"
        stream = parquet_stream(
            spark, vis_dir, args.output + ".vis_src", maxFilesPerTrigger="1"
        )
        part_dir = args.output + ".partials"
        # Rerun safety: the checkpoint is what prevents re-consuming
        # files already merged into the partials. Partials WITHOUT a
        # checkpoint mean a torn state — a fresh run would double-merge
        # them, so clear and rebuild from the stream.
        if os.path.exists(part_dir) and not os.path.exists(checkpoint):
            import shutil

            shutil.rmtree(part_dir)

        def drain(bins, chan_div):
            # ``bins`` is the operator's held map; the result has
            # average_vis(..., keep_rep=True)'s columns and order.
            materialized_ms_vis(
                stream, bins, part_dir, checkpoint, chan_div
            ).awaitTermination()
            dim = bins.select("rep", *tc.BIN_KEYS).distinct()
            return (
                finalize_vis(spark, part_dir)
                .join(dim, tc.BIN_KEYS)
                .select("rep", *tc.BIN_KEYS, "chan_bin", "corr", *tc.VIS_VALUES)
            )

        # Only the visibility samples ARRIVE; the row table is static, so
        # every other output table is the batch operator's.
        out = self._average(tables, args.mode, vis_average=drain)
        return self._write_output(out, tables)


def main() -> None:
    Application(sys.argv[1:]).execute()


if __name__ == "__main__":
    main()

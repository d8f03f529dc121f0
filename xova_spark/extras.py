"""``xova-spark-extras`` — the off-paper commands, apart from the averager.

They drive the registry's training-data and relational packs over a
directory of parquet tables. None reads or writes a Measurement Set:
each writes plain parquet datasets under ``-o`` (default: the averager's
output-name rule), refusing an existing output unless ``--force``.

Usage::

    xova-spark-extras corpus /path/to/tables -o corpus_out
    xova-spark-extras index /path/to/tables -o ivfpq_index
    xova-spark-extras search ivfpq_index --data /path/to/tables --query-ids 0,1
    xova-spark-extras dq /path/to/tables -o dq_report --strict
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xova_spark.app import derive_output_name


def refuse_existing(out: str, force: bool) -> None:
    """The overwrite guard: an existing ``out`` without ``--force`` exits 1."""
    if os.path.exists(out) and not force:
        print(f"{out} exists, use --force to overwrite")
        raise SystemExit(1)


def write_datasets(
    out: str, frames: dict[str, DataFrame],
    partition_by: dict[str, str] | None = None,
) -> None:
    """Write each frame as the parquet dataset ``<out>/<name>``, in order,
    partitioned by ``partition_by[name]`` where one is given."""
    partition_by = partition_by or {}
    for name, df in frames.items():
        writer = df.write.mode("overwrite")
        if name in partition_by:
            writer = writer.partitionBy(partition_by[name])
        writer.parquet(os.path.join(out, name))


def corpus(spark: SparkSession, args) -> str:
    """Run the training-data funnel (quality, repetition, exact dedup,
    8-gram decontamination, mixture sampling, deterministic split —
    queries/pipelineq.corpus_funnel) over <ms>/documents.parquet and
    write the kept set partitioned by split, so downstream epoch readers
    prune to their split for free. The per-(split, lang) audit goes
    alongside."""
    from xova_spark.queries.pipelineq import corpus_funnel

    docs = spark.read.parquet(os.path.join(args.ms, "documents.parquet"))
    kept = corpus_funnel(docs)
    audit = kept.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    write_datasets(
        args.output, {"corpus": kept, "audit": audit}, {"corpus": "split"}
    )
    return args.output


def tokenize(spark: SparkSession, args) -> str:
    """Learn BPE merge rules over the corpus vocabulary (queries/textops,
    Sennrich word-frequency formulation) and write the rank-ordered merge
    table and per-document whitespace vs BPE token counts — what a
    training-data pipeline needs before packing sequences."""
    from xova_spark.queries import textops as T

    kw = {"vocab": args.vocab, "k": args.merges}
    write_datasets(args.output, {
        "merges": T.t_bpe_train_merges(spark, args.ms, **kw).coalesce(1),
        "token_counts": T.t_bpe_encode_tokens(spark, args.ms, **kw),
    })
    return args.output


def index(spark: SparkSession, args) -> str:
    """Build and persist the IVF-PQ ANN index
    (queries/pipelineq.ivfpq_index_build). Layout:

    - ``codes/``      (vec_id, code0..M-1, cell) partitioned BY CELL
      — a search's probe set becomes parquet partition pruning
    - ``codebooks/``  (m, cid, cv) — the M x K PQ centroids
    - ``centroids/``  (cent_id, cemb) — the coarse quantizer

    Train once, search many: the model-scale artifacts are a few KB;
    only the code table scales with the corpus (M bytes per vector)."""
    from xova_spark.queries.pipelineq import ivfpq_index_build

    table, codebooks, centroids = ivfpq_index_build(spark, args.ms)
    write_datasets(args.output, {
        "codes": table,
        "codebooks": spark.createDataFrame(
            codebooks, "m int, cid int, cv array<double>"
        ).coalesce(1),
        "centroids": spark.createDataFrame(
            centroids, "cent_id int, cemb array<double>"
        ).coalesce(1),
    }, {"codes": "cell"})
    return args.output


def search(spark: SparkSession, args) -> str | None:
    """Top-k ANN against the persisted index
    (queries/pipelineq.ivfpq_index_search); the probe-cell filter prunes
    the cell-partitioned code table at the parquet level. Without ``-o``
    the results are printed."""
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


def media(spark: SparkSession, args) -> str:
    """Write the media curation artifacts: per-item decode stats and
    perceptual hashes, per-video scene segments, cross-video duplicated
    scenes and offset-robust audio fingerprint matches."""
    from xova_spark.queries import multimodalq as MQ

    write_datasets(args.output, {
        "decode_stats": MQ.mm_decode_stats(spark, args.ms),
        "phash": MQ.mm_image_phash(spark, args.ms),
        "scenes": MQ.mm_scene_segments(spark, args.ms),
        "scene_dups": MQ.mm_scene_dedup(spark, args.ms),
        "audio_matches": MQ.mm_audio_fingerprint_matches(spark, args.ms),
    })
    print(
        "media: wrote decode_stats/phash/scenes/scene_dups/"
        f"audio_matches under {args.output}"
    )
    return args.output


def card(spark: SparkSession, args) -> str:
    """Write the corpus release datasheet: the per-source dataset card
    (docs/tokens/langs/dup rate), the Zipf-law fit and a per-language
    OOV-rate summary."""
    from xova_spark.queries import textops as T

    oov = T.t_oov_rate(spark, args.ms).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("sum(n_oov) * 1000 div sum(n_tokens)")
        .cast("long")
        .alias("corpus_oov_permille"),
        F.max("oov_permille").cast("long").alias("max_doc_oov_permille"),
    )
    write_datasets(args.output, {
        "sources": T.t_dataset_card(spark, args.ms),
        "zipf": T.t_zipf_slope(spark, args.ms),
        "oov": oov,
    })
    print(f"card: wrote sources/zipf/oov under {args.output}")
    return args.output


def cdc(spark: SparkSession, args) -> str:
    """Apply a changelog (op ∈ I/U/D + keys + new payload) to a base
    snapshot with one keyed full-outer join (the cdcq.py merge law,
    apply(old, diff(old, new)) ≡ new under the oracle gate) and write
    the merged snapshot as one dataset at ``-o``."""
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
        *[F.col(p).alias(f"__v_{p}") for p in payload if p in chg.columns],
    )
    cond = None
    for k in keys:
        c = base[k] == chg2[f"__k_{k}"]
        cond = c if cond is None else (cond & c)
    j = base.join(chg2, cond, "full_outer")
    out_cols = [F.coalesce(base[k], chg2[f"__k_{k}"]).alias(k) for k in keys]
    for p in payload:
        if f"__v_{p}" in chg2.columns:
            out_cols.append(
                F.when(F.col("op").isNotNull(), F.col(f"__v_{p}"))
                .otherwise(base[p])
                .alias(p)
            )
        else:
            out_cols.append(base[p].alias(p))
    merged = j.where(F.col("op").isNull() | (F.col("op") != "D")).select(*out_cols)
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


def dq(spark: SparkSession, args) -> str:
    """Run the data-quality pack (queries/dataqual) over the relational
    tables and write one report parquet per check. With --strict,
    referential orphans or a broken surrogate key fail the run — the
    pre-/post-transform gate a pipeline calls between stages."""
    from xova_spark.queries import dataqual as DQ

    write_datasets(args.output, {
        "profile": DQ.dq_profile_columns(spark, args.ms),
        "keys": DQ.dq_key_uniqueness(spark, args.ms),
        "orphans": DQ.dq_referential_orphans(spark, args.ms),
        "drift": DQ.dq_histogram_drift(spark, args.ms),
    })
    if args.strict:
        orphans = spark.read.parquet(
            os.path.join(args.output, "orphans")
        ).agg(F.sum("n_orphans").alias("s")).collect()[0]["s"]
        keys = spark.read.parquet(os.path.join(args.output, "keys"))
        broken = keys.filter(
            (~F.col("is_unique")) & (~F.col("key_cols").contains(","))
        ).count()
        if orphans or broken:
            print(
                f"dq violations: {orphans} orphan rows, "
                f"{broken} broken surrogate keys"
            )
            raise SystemExit(1)
    return args.output


def create_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="xova-spark-extras",
        formatter_class=argparse.ArgumentDefaultsHelpFormatter,
    )
    sp = parser.add_subparsers(dest="command")

    def command(func, about, ms_help, metavar=None, guarded=True):
        p = sp.add_parser(func.__name__, help=about)
        p.set_defaults(func=func)
        p.add_argument("ms", metavar=metavar, help=ms_help)
        if guarded:
            p.add_argument("-o", "--output", default=None)
            p.add_argument("--force", action="store_true", default=False)
        return p

    docs = "directory containing documents.parquet"
    command(corpus, "training-data funnel: quality/repetition filters, "
            "exact dedup, decontamination, mixture sampling, split; writes "
            "the kept corpus partitioned by split", docs)
    tk = command(tokenize, "BPE tokenizer: learn merge rules over the corpus "
                 "vocabulary and write merges + per-doc token counts", docs)
    tk.add_argument("-k", "--merges", default=64, type=int,
                    help="number of merge rules to learn")
    tk.add_argument("--vocab", default=10000, type=int,
                    help="word types kept for training (top by frequency)")
    command(index, "build a persistent IVF-PQ ANN index over embeddings: "
            "cell-partitioned code table + codebooks + coarse centroids",
            "directory containing embeddings.parquet")
    se = command(search, "top-k ANN search against a persisted IVF-PQ index "
                 "(partition-pruned probe-cell scan)",
                 "index directory written by `index`", "index", guarded=False)
    se.add_argument("--data", required=True,
                    help="directory containing embeddings.parquet (query vectors)")
    se.add_argument("--query-ids", required=True,
                    help="comma-separated vec_ids to search for")
    se.add_argument("-k", "--topk", default=5, type=int)
    se.add_argument("--nprobe", default=2, type=int)
    se.add_argument("-o", "--output", default=None,
                    help="write results parquet here (default: print)")
    command(media, "media curation report: per-item decode stats, perceptual "
            "hashes, video scene segments, cross-item scene dedup, audio "
            "fingerprint matches", docs)
    command(card, "corpus datasheet: per-source dataset card, Zipf fit, "
            "OOV-rate summary — the release artifacts for a corpus", docs)
    ch = command(cdc, "apply an I/U/D changelog parquet to a base snapshot "
                 "parquet and write the merged snapshot (one keyed full-outer "
                 "join; deletes drop, upserts take the changelog payload)",
                 "base snapshot parquet path", "base")
    ch.add_argument("--changes", required=True,
                    help="changelog parquet with an 'op' column (I/U/D), "
                         "the key columns, and the new payload columns")
    ch.add_argument("--keys", required=True,
                    help="comma-separated primary-key columns")
    d = command(dq, "data-quality report over the relational tables: column "
                "profile, candidate-key uniqueness, FK orphan counts, "
                "distribution drift; --strict exits nonzero on violations",
                "directory containing the relational parquet tables")
    d.add_argument("--strict", action="store_true", default=False,
                   help="exit 1 if any FK orphan exists or a surrogate "
                        "key is non-unique")
    return parser


def run(cmdline: list[str], spark: SparkSession | None = None) -> str | None:
    """Parse ``cmdline``, apply the overwrite guard and run the command;
    returns the output path (None when ``search`` prints)."""
    parser = create_parser()
    args = parser.parse_args(cmdline)
    if not args.command:
        parser.print_help()
        sys.exit(0)
    if "force" in args:  # the commands that always write under -o
        if args.output is None:
            args.output = derive_output_name(args.ms)
        refuse_existing(args.output, args.force)
    if spark is None:
        from xova_spark.session import get_spark

        spark = get_spark("xova-spark-extras")
    return args.func(spark, args)


def main() -> None:
    run(sys.argv[1:])


if __name__ == "__main__":
    main()

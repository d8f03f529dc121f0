"""Generate the bench-only sf1 tier (10x sf0.1) at <checkout>/.cache/sf1.

The driver ships sf{0.001,0.01,0.1}; the 10x-scaling artifact
(BENCH_sf1.json, VERDICT r4 item 5) needs one tier up. This builds it by
key-shifted replication of sf0.1 — NOT naive row duplication, which
would be a degenerate workload:

- Fact/dim keys shift per replica (l_orderkey, o_custkey, doc_id,
  user_id, vec_id, ...), so join fan-outs, group cardinalities, and
  window partition counts scale 10x like a real bigger dataset.
- Document words get a 1-char per-replica prefix, so replica
  vocabularies/shingle spaces are DISJOINT: dedup/LSH pair structure
  scales ~10x (a real corpus 10x bigger has ~10x the near-dup pairs),
  not the ~100x a verbatim replica would fabricate. doc_id shifts by a
  multiple of 20 to preserve the %20 eval-split distribution.
- Embeddings rotate (circular dim shift per replica): norms and value
  distribution preserved, replicas decorrelated from their originals —
  cosine near-dup clusters scale ~10x, not quadratically.
- region/nation stay as-is (true dimensions).

Bench-only: oracle parity is never evaluated at sf1 (the mm_* oracles'
600-char walk, for one, assumes the driver fixture's text lengths).

Usage: python tools/gen_sf1.py  (no-op if the tier already exists)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(ROOT, ".cache", "sf1")
REPLICAS = 10


def _shift(base: int, mult_of: int = 1) -> int:
    """Smallest key-shift stride >= base that is a multiple of mult_of."""
    return ((base // mult_of) + 1) * mult_of


def generate(spark) -> str:
    from pyspark.sql import functions as F

    done = os.path.join(OUT, "_DONE")
    if os.path.exists(done):
        return OUT
    os.makedirs(OUT, exist_ok=True)

    def reps(df, cols_shift, extra=None):
        """Union REPLICAS copies with per-replica key shifts.

        cols_shift: {col: stride}; extra(df, i) applies replica-specific
        transforms."""
        out = None
        for i in range(REPLICAS):
            d = df
            for c, stride in cols_shift.items():
                d = d.withColumn(c, F.col(c) + F.lit(i * stride))
            if extra is not None:
                d = extra(d, i)
            out = d if out is None else out.unionAll(d)
        return out

    t = {n: spark.read.parquet(f"{SRC}/{n}.parquet") for n in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    )}
    mx = {
        "cust": t["customer"].agg(F.max("c_custkey")).first()[0],
        "supp": t["supplier"].agg(F.max("s_suppkey")).first()[0],
        "part": t["part"].agg(F.max("p_partkey")).first()[0],
        "ord": t["orders"].agg(F.max("o_orderkey")).first()[0],
        "ev": t["events"].agg(F.max("event_id")).first()[0],
        "user": t["events"].agg(F.max("user_id")).first()[0],
        "doc": t["documents"].agg(F.max("doc_id")).first()[0],
        "vec": t["embeddings"].agg(F.max("vec_id")).first()[0],
    }
    s = {k: _shift(v) for k, v in mx.items()}
    s["doc"] = _shift(mx["doc"], 20)  # preserve the doc_id % 20 eval split

    plans = {
        "region": t["region"],
        "nation": t["nation"],
        # c_name is re-derived from the SHIFTED key: replicated names
        # would pile 10 identical names into every ER blocking bucket
        # (a duplicate-heavy shape a real 10x customer table does not
        # have), turning the blocked candidate join quadratic — the
        # round-5 sf1 run measured er_blocked_candidates at 79x for
        # 10x data before this rewrite, ~linear after.
        "customer": reps(
            t["customer"],
            {"c_custkey": s["cust"]},
            extra=lambda d, i: d.withColumn(
                "c_name",
                F.format_string("Customer#%09d", F.col("c_custkey")),
            ),
        ),
        "supplier": reps(t["supplier"], {"s_suppkey": s["supp"]}),
        # p_name gets a 1-char replica tag (i > 0) for the same reason
        # c_name is re-derived: the fixture's part names hold only ~64
        # distinct 12-char block prefixes, so verbatim replication
        # piles 10 identical name sets into every fuzzy-join block —
        # block width x10, candidate pairs x100 (the r11 sf1 run
        # measured join_levenshtein_blocked at 117x for 10x data). A
        # real 10x catalog grows new name stems; the tag keeps each
        # replica's block structure intact and disjoint from the
        # others, so blocked-join candidates scale ~10x.
        "part": reps(
            t["part"],
            {"p_partkey": s["part"]},
            extra=lambda d, i: (
                d if i == 0 else d.withColumn(
                    "p_name",
                    F.concat(F.lit(chr(ord("a") + i)), F.col("p_name")),
                )
            ),
        ),
        "orders": reps(
            t["orders"], {"o_orderkey": s["ord"], "o_custkey": s["cust"]}
        ),
        "lineitem": reps(
            t["lineitem"],
            {
                "l_orderkey": s["ord"],
                "l_partkey": s["part"],
                "l_suppkey": s["supp"],
            },
        ),
        "events": reps(
            t["events"], {"event_id": s["ev"], "user_id": s["user"]}
        ),
        "documents": reps(
            t["documents"],
            {"doc_id": s["doc"]},
            extra=lambda d, i: (
                d if i == 0 else d.withColumn(
                    # 1-char word prefix: disjoint vocabulary per replica
                    # (tags b..j; letters only — '$1<digit>' would parse
                    # as a regex group reference)
                    "text",
                    F.regexp_replace(
                        "text", "(^| )", "$1" + chr(ord("a") + i)
                    ),
                )
            ).withColumn("n_chars", F.length("text").cast("long")),
        ),
        "embeddings": reps(
            t["embeddings"],
            {"vec_id": s["vec"]},
            extra=lambda d, i: (
                d if i == 0 else d.withColumn(
                    # circular dim rotation: norm-preserving decorrelation
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {i + 1},"
                        f" size(embedding) - {i}),"
                        f" slice(embedding, 1, {i}))"
                    ),
                )
            ),
        ),
    }
    import glob
    import shutil

    for name, df in plans.items():
        # Single-FILE layout, exactly like the driver tiers: the
        # streaming sources (_events_stream etc.) symlink
        # {dir}/{name}.parquet as one file, so a directory here would
        # feed the file stream zero rows (round-5 lesson:
        # stream_cdc_merge errored at sf1 until this).
        tmp = os.path.join(OUT, f"_{name}_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(OUT, f"{name}.parquet")
        if os.path.exists(dst):
            (shutil.rmtree if os.path.isdir(dst) else os.remove)(dst)
        os.rename(part, dst)
        shutil.rmtree(tmp)
    with open(done, "w") as f:
        f.write("ok\n")
    return OUT


def main() -> int:
    from xova_spark.session import get_spark

    spark = get_spark("gen-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    out = generate(spark)
    import duckdb

    for n in ("lineitem", "events", "documents", "embeddings"):
        (c,) = duckdb.sql(
            f"SELECT count(*) FROM '{out}/{n}.parquet'"
        ).fetchone()
        print(f"{n}: {c} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

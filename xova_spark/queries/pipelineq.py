"""Training-data pipeline composites: corpus hygiene + iterative ML.

Four first-class operators a 100 TB pretraining pipeline runs between
raw crawl and tokenizer:

- ``t_repetition_signals`` — Gopher-style repetition quality signals
  (top-word fraction, duplicate-word fraction, duplicate-2-gram
  fraction) with a keep/drop flag.
- ``t_decontam_overlap`` — benchmark decontamination: n-gram overlap of
  training docs against a held-out eval split, broadcast-joined.
- ``t_domain_mix_sample`` — deterministic per-source mixture sampling
  by content-independent hash threshold (reproducible, engine-agnostic,
  unlike ``sample()``).
- ``emb_kmeans_assign`` — Lloyd's k-means over the embedding column
  (the semantic-dedup / data-curation clustering primitive), fixed
  iteration count, oracle-EXACT against a programmatically generated
  nested-CTE DuckDB formulation.

Numeric discipline for the iterative op: embeddings are quantized to a
dyadic grid (floor(x·1024)/1024 — exactly representable doubles), so
every centroid sum is EXACT in IEEE double regardless of accumulation
order (Spark partial aggregation vs DuckDB sequential), and the single
rounding site per mean (sum/count) is bit-identical in both engines.
Distances are sequential left-to-right double accumulation on both
sides (same contract as queries/similarity.py), so assignments cannot
diverge.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from xova_spark.queries.dedup import DUCK_SHINGLES, SPARK_SHINGLES
from xova_spark.session import load_tables
from xova_spark.sharedframes import pin, register_cache, shared


def _doc_shingle_arrays(spark, sf_dir):
    """Per-doc distinct 3-gram shingle ARRAYS (doc_id, shingles) —
    session-memoized: t_decontam_overlap and t_ngram_novelty both scan
    these arrays from multiple consumers, and the split/shingle chain
    dominates (measured 5x at sf0.1 when corpus_funnel learned the same
    lesson)."""

    def build():
        docs = _docs(spark, sf_dir)
        return docs.filter(F.size(F.split("text", " ")) >= 3).select(
            "doc_id", F.expr(SPARK_SHINGLES).alias("shingles")
        )

    return shared(spark, ("doc_shingle_arrays", sf_dir), build)

REGISTRY: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _emb(spark, sf_dir):
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------

@q(
    "t_repetition_signals",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS word FROM w)
      GROUP BY doc_id, word
    ), pd AS (
      SELECT doc_id, sum(c) AS n_words, max(c) AS topc, count(*) AS nd
      FROM wc GROUP BY doc_id
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2
                  THEN 1 - len(list_distinct(list_transform(
                         generate_series(1, len(ws) - 1),
                         i -> ws[i] || '_' || ws[i + 1]))) * 1.0 / (len(ws) - 1)
                  ELSE 0.0 END AS dup2
      FROM w
    )
    SELECT pd.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(topc * 1.0 / n_words, 6) AS top_word_frac,
           round(1 - nd * 1.0 / n_words, 6) AS dup_word_frac,
           round(dup2, 6) AS dup_2gram_frac,
           CASE WHEN topc * 1.0 / n_words > 0.2 OR dup2 > 0.6
                THEN 0 ELSE 1 END AS repetition_keep
    FROM pd JOIN g ON g.doc_id = pd.doc_id
    """,
)
def t_repetition_signals(spark, sf_dir):
    """Gopher-style repetition signals per document: most-frequent-word
    fraction, duplicate-word fraction, duplicate-2-gram fraction, and the
    resulting keep/drop flag.

    Scale shape: the word-frequency path is explode → two-level groupBy
    keyed on (doc_id, word) then doc_id — skew-free keys with map-side
    partial aggregation; the 2-gram path is a pure per-row array
    projection (zero shuffle). The final equi-join on doc_id co-partitions
    with the aggregation output. No UDFs anywhere.
    """
    docs = _docs(spark, sf_dir)
    ws = F.split("text", " ")
    base = docs.select("doc_id", ws.alias("ws"))

    wc = (
        base.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    pd_ = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("topc"),
        F.count("*").alias("nd"),
    )

    n = F.size("ws")
    grams = F.zip_with(
        F.slice("ws", 1, n - 1),
        F.slice("ws", 2, n - 1),
        lambda x, y: F.concat(x, F.lit("_"), y),
    )
    dup2 = F.when(
        n >= 2,
        F.lit(1) - F.size(F.array_distinct(grams)) * F.lit(1.0) / (n - 1),
    ).otherwise(F.lit(0.0))
    g = base.select("doc_id", dup2.alias("dup2"))

    top_frac = F.col("topc") * F.lit(1.0) / F.col("n_words")
    return (
        pd_.join(g, "doc_id")
        .select(
            "doc_id",
            "n_words",
            F.round(top_frac, 6).alias("top_word_frac"),
            F.round(
                F.lit(1) - F.col("nd") * F.lit(1.0) / F.col("n_words"), 6
            ).alias("dup_word_frac"),
            F.round("dup2", 6).alias("dup_2gram_frac"),
            F.when((top_frac > 0.2) | (F.col("dup2") > 0.6), 0)
            .otherwise(1)
            .alias("repetition_keep"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

@q(
    "t_decontam_overlap",
    f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), eval_g AS (
      SELECT DISTINCT s FROM ex WHERE doc_id % 20 = 0
    ), hits AS (
      SELECT t.doc_id, count(*) AS n_hits
      FROM ex t JOIN eval_g e ON t.s = e.s
      WHERE t.doc_id % 20 != 0
      GROUP BY t.doc_id
    )
    SELECT h.doc_id, n_hits,
           len(sh.shingles) AS n_grams,
           round(n_hits * 1.0 / len(sh.shingles), 6) AS hit_frac,
           CASE WHEN n_hits * 1.0 / len(sh.shingles) >= 0.2
                THEN 1 ELSE 0 END AS contaminated
    FROM hits h JOIN sh ON sh.doc_id = h.doc_id
    """,
)
def t_decontam_overlap(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing word
    n-grams with a held-out eval split (doc_id % 20 == 0 stands in for the
    benchmark set; real pipelines use 8-13-grams — the 3-gram shingles are
    shared with the dedup pack so the synthetic corpus has overlap).

    Scale shape: the eval n-gram set is tiny relative to the corpus and is
    broadcast — the only big-data operation is one broadcast-hash semi-join
    over exploded training n-grams followed by a per-doc count. At larger
    eval sets the broadcast becomes a bloom-filter pre-pass with the same
    plan skeleton.
    """
    # Three consumers scan the shingle arrays (eval-set build, probe
    # side, final per-doc join) — the shared one-row-per-doc array frame,
    # same measured pattern as corpus_funnel's decontam.
    sh = _doc_shingle_arrays(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    eval_g = ex.filter(F.col("doc_id") % 20 == 0).select("s").distinct()
    hits = (
        ex.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(eval_g), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    frac = F.col("n_hits") * F.lit(1.0) / F.size("shingles")
    return (
        hits.join(sh, "doc_id")
        .select(
            "doc_id",
            "n_hits",
            F.size("shingles").alias("n_grams"),
            F.round(frac, 6).alias("hit_frac"),
            F.when(frac >= 0.2, 1).otherwise(0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic domain-mixture sampling
# ---------------------------------------------------------------------------

_SPARK_MIX_H = (
    "cast(conv(substring(md5(concat('mix:', cast(doc_id as string))), 1, 15),"
    " 16, 10) as bigint) % 10000"
)
_DUCK_MIX_H = "(('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT) % 10000"


@q(
    "t_domain_mix_sample",
    f"""
    WITH r AS (
      SELECT source,
             2500 + 500 * (substr(source, 4)::INT % 10) AS rate_bp,
             {_DUCK_MIX_H} AS h
      FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN h < rate_bp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           round(sum(CASE WHEN h < rate_bp THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS kept_frac,
           round(max(rate_bp) / 10000.0, 4) AS target_rate
    FROM r GROUP BY source
    """,
)
def t_domain_mix_sample(spark, sf_dir):
    """Domain-mixture sampling: each source gets a target keep-rate
    (25-70%, derived here from the source id; in production a config
    table), and rows are kept by comparing a salted content-independent
    hash against the rate — deterministic and reproducible across engines
    and reruns, unlike ``sample()``/TABLESAMPLE.

    Scale shape: the keep decision is a per-row projection (no shuffle);
    the audit aggregate groups on the low-cardinality source key with
    map-side combine. Writing the keep flag as a partition column lets
    downstream epochs prune dropped rows for free.
    """
    docs = _docs(spark, sf_dir)
    rate_bp = F.lit(2500) + F.lit(500) * (
        F.substring("source", 4, 10).cast("int") % 10
    )
    h = F.expr(_SPARK_MIX_H)
    r = docs.select("source", rate_bp.alias("rate_bp"), h.alias("h"))
    kept = F.sum(F.when(F.col("h") < F.col("rate_bp"), 1).otherwise(0))
    return r.groupBy("source").agg(
        F.count("*").alias("n_total"),
        kept.alias("n_kept"),
        F.round(kept * F.lit(1.0) / F.count("*"), 6).alias("kept_frac"),
        F.round(F.max("rate_bp") / F.lit(10000.0), 4).alias("target_rate"),
    )


# ---------------------------------------------------------------------------
# UniMax language-budget allocation (Chung et al. 2023)
# ---------------------------------------------------------------------------

_UNIMAX_EPOCHS = 2  # per-language epoch cap E; capacity = toks * E


@q(
    "t_unimax_language_budget",
    f"""
    WITH per AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
      FROM documents GROUP BY lang
    ), c AS (
      SELECT lang, n_docs, toks, toks * {_UNIMAX_EPOCHS} AS cap FROM per
    ), g AS (
      SELECT CAST(sum(toks) // 2 AS BIGINT) AS budget,
             CAST(count(*) AS BIGINT) AS n
      FROM c
    ), r AS (
      SELECT c.lang, c.n_docs, c.toks, c.cap, g.budget, g.n,
             CAST(row_number() OVER (ORDER BY c.cap, c.lang) AS BIGINT) AS i,
             CAST(COALESCE(sum(c.cap) OVER (ORDER BY c.cap, c.lang
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS s_prev
      FROM c, g
    ), f AS (
      SELECT r.*, (s_prev + cap * (n - i + 1) <= budget) AS is_capped FROM r
    ), m AS (
      SELECT CAST(count(*) FILTER (WHERE is_capped) AS BIGINT) AS n_capped,
             CAST(COALESCE(sum(cap) FILTER (WHERE is_capped), 0) AS BIGINT)
                 AS s_capped
      FROM f
    ), u AS (
      SELECT m.n_capped, m.s_capped,
             CASE WHEN f.n > m.n_capped
                  THEN (f.budget - m.s_capped) // (f.n - m.n_capped)
                  ELSE 0 END AS share
      FROM m, (SELECT DISTINCT budget, n FROM f) f
    ), a AS (
      SELECT f.lang, f.n_docs, f.toks, f.cap,
             CASE WHEN f.is_capped THEN 1 ELSE 0 END AS capped,
             CASE WHEN f.is_capped THEN f.cap
                  ELSE u.share + CASE WHEN f.i = f.n
                       THEN (f.budget - u.s_capped)
                            - u.share * (f.n - u.n_capped)
                       ELSE 0 END
                  END AS alloc_tokens
      FROM f, u
    )
    SELECT lang, n_docs, toks, cap, capped,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(alloc_tokens * 1000 // toks AS BIGINT) AS epochs_permille
    FROM a
    """,
)
def t_unimax_language_budget(spark, sf_dir):
    """UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): given a total token budget (half the
    corpus here) and a per-language epoch cap E={_UNIMAX_EPOCHS},
    waterfill the budget uniformly across languages, capping each
    language at E epochs of its data — low-resource languages get their
    full capacity, the remainder is split evenly among high-resource
    ones. The published algorithm is a sequential ascending-capacity
    scan; the closed form used here is the standard waterfill prefix
    test (lang i, capacities ascending, is capped iff
    S_{{i-1}} + cap_i * (n-i+1) <= B — once false it stays false, so the
    naive prefix sum is exact), making it one aggregation rather than a
    loop.

    Exactness: all-integer arithmetic (token counts, integer floor
    division for the uniform share; the flooring remainder goes to the
    largest uncapped language). Plan/scale shape: one groupBy(lang)
    token-count shuffle (map-side combinable), then the waterfill runs
    inside ONE collected-to-a-row sorted array of language aggregates —
    language grain is intrinsically bounded (~hundreds at web scale), so
    no unpartitioned window and no driver collect; higher-order
    functions (transform/aggregate/zip_with) do the prefix tests
    JVM-side."""
    docs = _docs(spark, sf_dir)
    per = (
        docs.select("lang", F.size(F.split("text", " ")).alias("t"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").cast("long").alias("toks"),
        )
    )
    arr = per.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (F.col("toks") * _UNIMAX_EPOCHS).alias("cap"),
                    "lang",
                    "toks",
                    "n_docs",
                )
            )
        ).alias("a")
    )
    one = (
        arr.withColumn("n", F.size("a"))
        .withColumn(
            "budget",
            F.expr("aggregate(a, 0L, (acc, x) -> acc + x.toks) div 2"),
        )
        .withColumn(
            "flags",
            F.expr(
                "transform(a, (x, i) -> aggregate(slice(a, 1, i), 0L,"
                " (acc, y) -> acc + y.cap) + x.cap * (n - i) <= budget)"
            ),
        )
        .withColumn(
            "n_capped",
            F.expr("aggregate(flags, 0, (acc, f) -> acc + if(f, 1, 0))"),
        )
        .withColumn(
            "s_capped",
            F.expr(
                "aggregate(zip_with(a, flags, (x, f) -> if(f, x.cap, 0L)),"
                " 0L, (acc, v) -> acc + v)"
            ),
        )
        .withColumn(
            "share",
            F.expr("if(n > n_capped, (budget - s_capped) div (n - n_capped), 0L)"),
        )
    )
    return (
        one.select(
            F.expr(
                """
                explode(transform(a, (x, i) -> named_struct(
                  'lang', x.lang, 'n_docs', x.n_docs, 'toks', x.toks,
                  'cap', x.cap,
                  'capped', if(flags[i], 1, 0),
                  'alloc_tokens', if(flags[i], x.cap,
                      share + if(i = n - 1,
                          (budget - s_capped) - share * (n - n_capped),
                          0L))
                )))
                """
            ).alias("s")
        )
        .select(
            "s.lang",
            "s.n_docs",
            "s.toks",
            "s.cap",
            "s.capped",
            "s.alloc_tokens",
            F.expr("s.alloc_tokens * 1000 div s.toks")
            .cast("long")
            .alias("epochs_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Per-dimension winsorization stats over the embedding table
# ---------------------------------------------------------------------------

# Embedding width of the fixture table (shared by the kmeans/PQ sections
# below; pinned against the parquet in tests).
_DIM = 64


@q(
    "emb_dim_clip_stats",
    f"""
    WITH v AS (
      SELECT e.vec_id, g.i - 1 AS dim,
             CAST(e.embedding[g.i] AS DOUBLE) AS val
      FROM embeddings e, generate_series(1, {_DIM}) g(i)
    ), st AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n_vals,
             quantile_disc(val, 0.05) AS lo_cut,
             quantile_disc(val, 0.95) AS hi_cut
      FROM v GROUP BY dim
    )
    SELECT v.dim, st.n_vals, st.lo_cut, st.hi_cut,
           CAST(sum(CASE WHEN v.val < st.lo_cut THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_lo,
           CAST(sum(CASE WHEN v.val > st.hi_cut THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_hi,
           CAST(sum(CAST(floor(least(greatest(v.val, st.lo_cut), st.hi_cut)
                * 1048576) AS BIGINT)) AS BIGINT) AS winsor_sum_q
    FROM v JOIN st USING (dim)
    GROUP BY v.dim, st.n_vals, st.lo_cut, st.hi_cut
    """,
)
def emb_dim_clip_stats(spark, sf_dir):
    """Per-dimension winsorization statistics for embedding-feature
    QA: the 5th/95th DISCRETE percentile clip bounds per dimension,
    how many values each bound would clip, and the integer-quantized
    sum of the winsorized column — the pre-normalization profile a
    feature store computes before clamping outliers.

    Exactness: percentile_disc picks an ACTUAL element (no float
    interpolation — the Spark/DuckDB pair is the repo's proven
    quantile_disc convention, see t_length_quantiles_by_lang), so the
    clip bounds are bit-exact parquet floats widened to double; clip
    counts are integer comparisons against them; the winsorized sum
    quantizes each clamped value to the 2^20 lattice BEFORE summing
    (order-independent integer addition — no float-sum drift, the
    emb_outlier_flags discipline).

    Plan/scale shape: posexplode is a per-row projection; both
    aggregations key on dim (bounded, 64 here) with map-side partial
    aggregation — percentile_disc is an aggregate buffer, NOT a
    window, so there is no single-partition global sort; the K-row
    bounds table broadcasts back onto the value stream. At 100 TB the
    exact per-dim percentile buffer is the one memory-heavy piece —
    production swaps approx_percentile into the same plan skeleton."""
    emb = _emb(spark, sf_dir)
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "dim", F.col("v").cast("double").alias("val"))
    st = vals.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_vals"),
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY val)").alias(
            "lo_cut"
        ),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY val)").alias(
            "hi_cut"
        ),
    )
    return (
        vals.join(F.broadcast(st), "dim")
        .groupBy("dim", "n_vals", "lo_cut", "hi_cut")
        .agg(
            F.sum(F.when(F.col("val") < F.col("lo_cut"), 1).otherwise(0))
            .cast("long")
            .alias("n_below_lo"),
            F.sum(F.when(F.col("val") > F.col("hi_cut"), 1).otherwise(0))
            .cast("long")
            .alias("n_above_hi"),
            F.sum(
                F.floor(
                    F.greatest(F.least("val", F.col("hi_cut")), F.col("lo_cut"))
                    * F.lit(1048576)
                ).cast("long")
            )
            .cast("long")
            .alias("winsor_sum_q"),
        )
        .select(
            "dim",
            "n_vals",
            "lo_cut",
            "hi_cut",
            "n_below_lo",
            "n_above_hi",
            "winsor_sum_q",
        )
    )


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline (the flagship composite)
# ---------------------------------------------------------------------------

@q(
    "pipeline_corpus_e2e",
    f"""
    WITH base AS (
      SELECT doc_id, text, lang, source, string_split(text, ' ') AS ws
      FROM documents
    ), qual AS (
      SELECT * FROM base
      WHERE len(ws) BETWEEN 20 AND 1000
        AND len(list_distinct(ws)) * 1.0 / len(ws) > 0.2
    ), wc AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS word FROM qual)
      GROUP BY doc_id, word
    ), rep_ok AS (
      SELECT doc_id FROM wc GROUP BY doc_id
      HAVING max(c) * 1.0 / sum(c) <= 0.2
    ), rep2 AS (
      SELECT q.* FROM qual q JOIN rep_ok USING (doc_id)
      WHERE 1 - len(list_distinct(list_transform(
              generate_series(1, len(ws) - 1),
              i -> ws[i] || '_' || ws[i + 1]))) * 1.0 / (len(ws) - 1) <= 0.6
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM rep2
      ) WHERE rn = 1
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, len(ws) - 7),
               i -> array_to_string(ws[i:i+7], '_'))) AS shingles
      FROM base WHERE len(ws) >= 8
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), eval_g AS (
      SELECT DISTINCT s FROM ex WHERE doc_id % 20 = 0
    ), hits AS (
      SELECT t.doc_id, count(*) AS nh
      FROM ex t JOIN eval_g e ON t.s = e.s GROUP BY t.doc_id
    ), contaminated AS (
      SELECT h.doc_id
      FROM hits h JOIN (SELECT doc_id, len(shingles) AS n FROM sh) z
        ON z.doc_id = h.doc_id
      WHERE nh * 1.0 / n >= 0.2
    ), clean AS (
      SELECT * FROM dedup
      WHERE doc_id % 20 != 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), kept AS (
      SELECT * FROM clean
      WHERE {_DUCK_MIX_H} < 2500 + 500 * (substr(source, 4)::INT % 10)
    ), final AS (
      SELECT lang, len(ws) AS n_tokens,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT) % 100 AS hs
      FROM kept
    )
    SELECT CASE WHEN hs < 80 THEN 'train'
                WHEN hs < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM final GROUP BY 1, 2
    """,
)
def pipeline_corpus_e2e(spark, sf_dir):
    """The flagship training-data composite: quality filter → repetition
    filter → exact dedup → benchmark decontamination → domain-mixture
    sampling → deterministic split, ending in a per-(split, lang) token
    audit. One DataFrame chain — Catalyst sees the whole pipeline and
    prunes/pushes across stage boundaries that a multi-job pipeline
    would materialize.

    Scale shape: the chain is per-row projections + two keyed shuffles
    (content-hash dedup window, decontam hit count) + one broadcast
    (eval n-gram set) + one left-anti (contaminated ids, tiny). The
    repetition signals (top-word fraction, 2-gram dup rate) are pure
    per-row array expressions — no token explode ever shuffles. Every
    filter is decided from per-row or per-doc-key state — no global
    barrier until the final audit aggregate. Decontamination
    here uses 8-word shingles (the realistic long-n-gram setting — short
    n-grams over-flag; the 3-gram variant in t_decontam_overlap is the
    aggressive-overlap demonstrator).
    """
    return (
        corpus_funnel(_docs(spark, sf_dir))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens"))
    )


def corpus_funnel(docs):
    """The kept-document set of the corpus funnel (the shared core of
    pipeline_corpus_e2e and the ``xova-spark-extras corpus`` CLI): returns one
    row per surviving document with (doc_id, lang, source, n_tokens,
    split). See pipeline_corpus_e2e's docstring for stage semantics and
    the scale shape."""
    ws = F.split("text", " ")
    n = F.size("ws")
    base = docs.select("doc_id", "text", "lang", "source", ws.alias("ws"))
    qual = base.filter(
        n.between(20, 1000)
        & (F.size(F.array_distinct("ws")) * F.lit(1.0) / n > 0.2)
    )
    # topfrac = max word multiplicity / n. The multiplicity of the most
    # repeated word equals the longest equal-run in the SORTED token
    # array — an O(n log n) per-row expression, fully JVM-side, versus
    # the naive explode + two keyed shuffles over every token in the
    # corpus (the same quantity the DuckDB oracle computes by explode).
    max_mult = F.aggregate(
        F.array_sort("ws"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    grams = F.zip_with(
        F.slice("ws", 1, n - 1),
        F.slice("ws", 2, n - 1),
        lambda x, y: F.concat(x, F.lit("_"), y),
    )
    dup2 = F.lit(1) - F.size(F.array_distinct(grams)) * F.lit(1.0) / (n - 1)
    rep2 = qual.filter(max_mult * F.lit(1.0) / n <= 0.2).filter(dup2 <= 0.6)
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        rep2.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # Spark-side shingles are xxhash64 of the 8-word slice (8-byte longs,
    # no string construction; the oracle joins the equivalent strings —
    # equal results modulo 64-bit collisions, i.e. never at these scales).
    # PERSIST the per-doc distinct-hash arrays: the decontam stage scans
    # them twice (eval-set build + train-side probe), and recomputing the
    # split/transform/xxhash chain per consumer dominated the funnel
    # (measured at sf0.1: decontam 3.1 s uncached -> 0.6 s with the
    # arrays cached; caching the EXPLODED rows instead only reached
    # 2.0 s). The cache is one compact long-array row per doc
    # (~8 B x grams, MEMORY_AND_DISK — spills at 100 TB, where the
    # alternative is 2x the corpus-wide hash CPU).
    sh = shared(
        docs.sparkSession,
        ("funnel_8gram_hashes", tuple(sorted(docs.inputFiles()))),
        lambda: base.filter(n >= 8).select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(1, size(ws) - 7),"
                " i -> xxhash64(slice(ws, i, 8))))"
            ).alias("shingles"),
        ),
    )
    ex = sh.select(
        "doc_id", F.size("shingles").alias("ng"), F.explode("shingles").alias("s")
    )
    eval_g = ex.filter(F.col("doc_id") % 20 == 0).select("s").distinct()
    contaminated = (
        ex.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(eval_g), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("nh"), F.max("ng").alias("ng"))
        .filter(F.col("nh") * F.lit(1.0) / F.col("ng") >= 0.2)
        .select("doc_id")
    )
    clean = dedup.filter(F.col("doc_id") % 20 != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    rate_bp = F.lit(2500) + F.lit(500) * (
        F.substring("source", 4, 10).cast("int") % 10
    )
    kept = clean.filter(F.expr(_SPARK_MIX_H) < rate_bp)
    hs = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)"
        " as bigint) % 100"
    )
    split = (
        F.when(hs < 80, "train").when(hs < 90, "val").otherwise("test")
    )
    return kept.select(
        "doc_id",
        "lang",
        "source",
        F.size("ws").alias("n_tokens"),
        split.alias("split"),
    )


# ---------------------------------------------------------------------------
# Lloyd's k-means over the embedding column
# ---------------------------------------------------------------------------

_K = 4
_ITERS = 2  # centroid updates; final assignment afterwards

# Dyadic quantization: floor(x*1024)/1024 is exactly representable, so
# sums are exact in any order (see module docstring).
_DUCK_Q = (
    "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1024) / 1024)"
)


def _duck_dist(evec: str, cvec: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {_DIM}),"
        f" i -> ({evec}[i] - {cvec}[i]) * ({evec}[i] - {cvec}[i])))"
    )


def _kmeans_ctes() -> list[str]:
    """The seeded-Lloyd CTE chain shared by _kmeans_sql and the
    cluster-topterms twin; the final assignment CTE is a{_ITERS}."""
    ctes = [
        f"e AS (SELECT vec_id, {_DUCK_Q} AS emb FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < {_K})",
    ]
    for it in range(_ITERS + 1):
        d = _duck_dist("e.emb", "c.cv")
        ctes.append(
            f"s{it} AS (SELECT e.vec_id, c.cid, {d} AS d "
            f"FROM e CROSS JOIN c{it} c)"
        )
        ctes.append(
            f"a{it} AS (SELECT vec_id, cid, d FROM ("
            f"SELECT vec_id, cid, d, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY d, cid) AS rn FROM s{it}"
            f") WHERE rn = 1)"
        )
        if it < _ITERS:
            ctes.append(
                f"m{it} AS (SELECT a.cid, g.i AS dim, "
                f"sum(e.emb[g.i]) / count(*) AS v "
                f"FROM a{it} a JOIN e USING (vec_id), "
                f"generate_series(1, {_DIM}) g(i) GROUP BY a.cid, g.i)"
            )
            ctes.append(
                f"c{it + 1} AS (SELECT cid, list(v ORDER BY dim) AS cv "
                f"FROM m{it} GROUP BY cid)"
            )
    return ctes


def _kmeans_sql() -> str:
    return (
        "WITH " + ", ".join(_kmeans_ctes()) +
        f" SELECT vec_id, cid AS cluster, round(d, 6) AS dist_sq FROM a{_ITERS}"
    )


@q("emb_kmeans_assign", _kmeans_sql())
def emb_kmeans_assign(spark, sf_dir):
    """Lloyd's k-means (k=4, 2 update iterations + final assignment) over
    the embedding column — the clustering primitive behind semantic dedup
    and data-curation domain discovery.

    Plan shape per iteration (the MLlib KMeans shape): centroids live on
    the driver (k x dim doubles — tiny) and enter the plan as a broadcast
    literal table; assignment is a broadcast cross join + per-vector
    argmin (window top-1 with cid tie-break); the update is
    posexplode(dim) → groupBy(cluster, dim) sum/count — one shuffle of
    k·dim partial sums per iteration. Embeddings are cached across
    iterations. At 100 TB nothing changes: the only all-data operations
    are the per-row argmin and the partial-aggregated update.

    Oracle-EXACT by construction: dyadic-quantized inputs make centroid
    sums order-independent-exact; distances are sequential same-order
    accumulation in both engines (see module docstring).

    Session-memoized (sharedframes): the driver-side Lloyd training
    collects run once per gate run; cluster-topterms, the dq cluster
    audit, and dedup_semantic_prune all reuse one assignment frame.
    """
    return _kmeans_assign_raw(spark, sf_dir).select(
        "vec_id", "cluster", F.round("d", 6).alias("dist_sq")
    )


def _kmeans_assign_raw(spark, sf_dir):
    """The memoized assignment with the UNROUNDED exact-dyadic distance
    (emb_outlier_flags needs d * 2^20 as an exact integer; the public
    entry rounds for its hash)."""
    return shared(
        spark, ("kmeans_assign", sf_dir), lambda: _kmeans_assign_build(spark, sf_dir)
    )


def _emb_dyadic(spark, sf_dir):
    """Dyadic-quantized (10 fractional bits) embedding table,
    session-shared: the k-means assignment build and the IVF-kmeans PQ
    chain consume the IDENTICAL projection — one persisted copy serves
    both, and the gate driver's ``clear_shared()`` reclaims it at exit
    (previously two independent never-unpersisted .cache() sites)."""
    return shared(
        spark,
        ("emb_dyadic", sf_dir),
        lambda: _emb(spark, sf_dir).select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1024) / 1024,
            ).alias("emb"),
        ),
    )


def _kmeans_top2(spark, sf_dir):
    """Per-vector TOP-2 centroid distances (vec_id, cid, d, rn<=2)
    after the trained Lloyd loop — ONE shared frame serving both the
    assignment entry (rn=1 argmin) and the silhouette entry (rn=1 vs
    rn=2). localCheckpoint truncates the crossJoin lineage (the
    k-truss/HITS/mmr lesson): without it every downstream consumer's
    plan text re-prints the centroid-broadcast BNLJ through the nested
    InMemoryRelation, doubling its plan-contract segment count; with it
    consumers see a clean RDD scan. 2N rows — same order of
    materialization the assignment persist already paid."""
    return shared(
        spark,
        ("kmeans_top2", sf_dir),
        lambda: _kmeans_top2_build(spark, sf_dir),
    )


def _kmeans_top2_build(spark, sf_dir):
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    return (
        _kmeans_all_dists_build(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .localCheckpoint()
    )


def _kmeans_all_dists_build(spark, sf_dir):
    spark_ = spark
    emb = _emb_dyadic(spark_, sf_dir)

    cents = {
        r["vec_id"]: list(r["emb"])
        for r in emb.filter(F.col("vec_id") < _K).collect()
    }

    def dists(cent_map):
        cent_rows = [(int(cid), [float(v) for v in cv]) for cid, cv in
                     sorted(cent_map.items())]
        cdf = spark_.createDataFrame(cent_rows, "cid int, cv array<double>")
        d = F.aggregate(
            F.zip_with("emb", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return emb.crossJoin(F.broadcast(cdf)).select(
            "vec_id", "cid", d.alias("d")
        )

    def assign(cent_map):
        w = Window.partitionBy("vec_id").orderBy("d", "cid")
        return (
            dists(cent_map)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "d")
        )

    for _ in range(_ITERS):
        a = assign(cents)
        upd = (
            a.join(emb, "vec_id")
            .select("cid", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg((F.sum("x") / F.count("*")).alias("v"))
            .collect()
        )
        new_cents: dict[int, list[float]] = {}
        for row in upd:
            new_cents.setdefault(row["cid"], [0.0] * _DIM)[row["dim"]] = row["v"]
        cents = new_cents

    return dists(cents)


def _kmeans_assign_build(spark, sf_dir):
    return (
        _kmeans_top2(spark, sf_dir)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster"), "d")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

from xova_spark.queries.dedup import MINHASH_A, MINHASH_B, P31  # noqa: E402

_CMS_W, _CMS_D, _CMS_TOPK = 64, 4, 10
_CMS_PAIRS = list(zip(MINHASH_A[:_CMS_D], MINHASH_B[:_CMS_D]))

_DUCK_WORD_H = f"(('0x' || substr(md5(word), 1, 15))::BIGINT) % {P31}"
_SPARK_WORD_H = (
    f"cast(conv(substring(md5(word), 1, 15), 16, 10) as bigint) % {P31}"
)


def _cms_bucket_sql(r: int) -> str:
    a, b = _CMS_PAIRS[r]
    return f"(({a} * hv + {b}) % {P31}) % {_CMS_W}"


@q(
    "t_countmin_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), h AS (
      SELECT word, {_DUCK_WORD_H} AS hv FROM tok
    ), cells AS (
      {' UNION ALL '.join(f"SELECT {r} AS r, {_cms_bucket_sql(r)} AS bucket FROM h" for r in range(_CMS_D))}
    ), sketch AS (
      SELECT r, bucket, count(*) AS cnt FROM cells GROUP BY r, bucket
    ), exact AS (
      SELECT word, count(*) AS exact_n,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rn
      FROM tok GROUP BY word
    ), top AS (
      SELECT word, exact_n, {_DUCK_WORD_H} AS hv
      FROM exact WHERE rn <= {_CMS_TOPK}
    ), probes AS (
      {' UNION ALL '.join(f"SELECT word, exact_n, {r} AS r, {_cms_bucket_sql(r)} AS bucket FROM top" for r in range(_CMS_D))}
    )
    SELECT p.word, min(p.exact_n) AS exact_n, min(s.cnt) AS est_n
    FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
    GROUP BY p.word
    """,
)
def t_countmin_heavy_hitters(spark, sf_dir):
    """Count-min sketch (w=64, d=4) heavy-hitter estimation: build the
    sketch in one pass over the token stream, then point-query the
    top-10 exact words — est_n >= exact_n always, equal when no bucket
    collisions. The sketch construction is md5-derived integer
    arithmetic shared verbatim with the DuckDB twin, so the ESTIMATES
    (not just the exact counts) are under the hash gate.

    Scale shape: the sketch is d shuffles' worth of (r, bucket) partial
    counts — d·w cells total regardless of corpus size (the point of a
    sketch); construction is map-side-combined. In production the cells
    land in one driver array per executor via treeAggregate; here they
    stay a DataFrame to keep the whole path declarative."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    h = tok.select("word", F.expr(_SPARK_WORD_H).alias("hv"))

    def bucket(r):
        a, b = _CMS_PAIRS[r]
        return ((F.lit(a) * F.col("hv") + F.lit(b)) % P31) % _CMS_W

    cells = h.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
                for r in range(_CMS_D)
            ])
        ).alias("c")
    ).select("c.r", "c.bucket")
    sketch = cells.groupBy("r", "bucket").agg(F.count("*").alias("cnt"))

    # Top-k probes via orderBy+limit (TakeOrderedAndProject — distributed
    # partial top-k over the vocab table, no single-partition window).
    exact = (
        tok.groupBy("word")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "word")
        .limit(_CMS_TOPK)
        .select("word", "exact_n", F.expr(_SPARK_WORD_H).alias("hv"))
    )
    probes = exact.select(
        "word",
        "exact_n",
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
                for r in range(_CMS_D)
            ])
        ).alias("c"),
    ).select("word", "exact_n", "c.r", "c.bucket")
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("word")
        .agg(F.min("exact_n").alias("exact_n"), F.min("cnt").alias("est_n"))
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization (vector compression for the ANN store)
# ---------------------------------------------------------------------------

@q(
    "emb_quantize_int8",
    """
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), s AS (
      SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) / 127 AS scale_raw
      FROM e
    )
    SELECT vec_id,
           round(scale_raw, 6) AS scale,
           CAST(list_sum(list_transform(emb,
                 x -> abs(floor(x / scale_raw + 0.5)))) AS BIGINT) AS q_l1,
           round(list_sum(list_transform(emb,
                 x -> abs(x - floor(x / scale_raw + 0.5) * scale_raw))), 6)
             AS recon_err
    FROM s
    """,
)
def emb_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax scale, the standard ANN-store compression): emits the scale,
    the L1 norm of the quantized codes (an exact-integer checksum of
    the codes themselves), and the sequential-sum reconstruction error.
    Pure per-row projection — zero shuffle; at 100 TB this is the 4x
    memory cut that lets an IVF index hold 4x more vectors per
    executor. abs-max is an exact selection and code sums are integer
    math, so the oracle gate covers the actual quantized values, not a
    rounded shadow of them."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # the raw scale keeps a distinct name: an output alias "scale" in
    # the same select would capture F.col references via Spark's lateral
    # column alias resolution (DuckDB resolves to the source column —
    # silent cross-engine divergence on the unrounded-vs-rounded value)
    s = emb.select(
        "vec_id",
        "emb",
        (F.array_max(F.transform("emb", F.abs)) / 127).alias("scale_raw"),
    )
    # floor(v + 0.5): identical half-up quantizer in BOTH engines
    # (native round() tie/impl semantics differ between them)
    qcode = lambda x: F.floor(x / F.col("scale_raw") + 0.5)  # noqa: E731
    recon = F.aggregate(
        F.transform("emb", lambda x: F.abs(x - qcode(x) * F.col("scale_raw"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q_l1 = F.aggregate(
        F.transform("emb", lambda x: F.abs(qcode(x))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("bigint")
    return s.select(
        "vec_id",
        F.round("scale_raw", 6).alias("scale"),
        q_l1.alias("q_l1"),
        F.round(recon, 6).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# Global-quantile quality cutoff
# ---------------------------------------------------------------------------

@q(
    "t_quality_quantile_cut",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS uniq_ratio
      FROM documents
    ), thr AS (
      SELECT lang, quantile_cont(uniq_ratio, 0.1) AS q10
      FROM scored GROUP BY lang
    )
    SELECT s.lang,
           round(min(t.q10), 6) AS q10,
           count(*) AS n_docs,
           count(CASE WHEN s.uniq_ratio > t.q10 THEN 1 END) AS n_kept
    FROM scored s JOIN thr t ON t.lang = s.lang
    GROUP BY s.lang
    """,
)
def t_quality_quantile_cut(spark, sf_dir):
    """Percentile-based quality cutoff: score every doc (lexical
    diversity), compute the per-language 10th-percentile threshold, and
    keep docs above it — the adaptive-threshold curation pattern (fixed
    thresholds drift as the corpus mix changes; percentiles don't).

    Scale shape: one narrow score projection, one per-language exact
    percentile (at 100 TB swap in approx_percentile — same plan, bounded
    memory; the exact form here keeps the oracle hash-tight), and a
    broadcast of the #langs-row threshold table back onto the scores."""
    docs = _docs(spark, sf_dir)
    ws = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "lang",
        (F.size(F.array_distinct(ws)) * F.lit(1.0) / F.size(ws)).alias(
            "uniq_ratio"
        ),
    )
    thr = scored.groupBy("lang").agg(
        F.percentile("uniq_ratio", F.lit(0.1)).alias("q10")
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.round(F.min("q10"), 6).alias("q10"),
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("uniq_ratio") > F.col("q10"), 1)).alias(
                "n_kept"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Recall of ANN over the int8-reconstructed vectors
# ---------------------------------------------------------------------------

from xova_spark.queries.similarity import _duck_dot, _spark_dot  # noqa: E402


@q(
    "ann_quantized_recall_at5",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), s AS (
      SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) / 127 AS sc
      FROM e
    ), rq AS (
      SELECT vec_id, emb,
             list_transform(emb, x -> floor(x / sc + 0.5) * sc) AS qv
      FROM s
    ), nf AS (
      SELECT vec_id, emb, qv,
             sqrt({_duck_dot('emb', 'emb')}) AS nrm_f,
             sqrt({_duck_dot('qv', 'qv')}) AS nrm_q
      FROM rq
    ), qs AS (
      SELECT vec_id AS qid, emb AS qe, qv AS qqe,
             nrm_f AS qnf, nrm_q AS qnq
      FROM nf WHERE vec_id < 10
    ), exact_top AS (
      SELECT qid, cid FROM (
        SELECT qid, c.vec_id AS cid,
               row_number() OVER (PARTITION BY qid ORDER BY
                 {_duck_dot('qe', 'c.emb')} / (qnf * c.nrm_f) DESC,
                 c.vec_id) AS rnk
        FROM qs CROSS JOIN nf c WHERE c.vec_id != qid
      ) WHERE rnk <= 5
    ), quant_top AS (
      SELECT qid, cid FROM (
        SELECT qid, c.vec_id AS cid,
               row_number() OVER (PARTITION BY qid ORDER BY
                 {_duck_dot('qqe', 'c.qv')} / (qnq * c.nrm_q) DESC,
                 c.vec_id) AS rnk
        FROM qs CROSS JOIN nf c WHERE c.vec_id != qid
      ) WHERE rnk <= 5
    )
    SELECT e.qid,
           CAST(count(b.cid) AS INTEGER) AS n_hits,
           round(count(b.cid) / 5.0, 6) AS recall_at_5
    FROM exact_top e
    LEFT JOIN quant_top b ON b.qid = e.qid AND b.cid = e.cid
    GROUP BY e.qid
    """,
)
def ann_quantized_recall_at5(spark, sf_dir):
    """Measure, don't guess (quantization edition): recall@5 of cosine
    search over int8-RECONSTRUCTED vectors (both sides compressed — the
    realistic deployment) against the exact full-precision top-5. This
    is the number that justifies emb_quantize_int8's 4x memory cut.
    Same deterministic sequential-dot discipline as the ann_* family,
    so the measured recall itself is hash-gated."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    s = emb.select(
        "vec_id", "emb",
        (F.array_max(F.transform("emb", F.abs)) / 127).alias("sc"),
    )
    rq = s.select(
        "vec_id", "emb",
        F.transform(
            "emb", lambda x: F.floor(x / F.col("sc") + 0.5) * F.col("sc")
        ).alias("qv"),
    )
    nf = rq.select(
        "vec_id", "emb", "qv",
        F.sqrt(_spark_dot("emb", "emb")).alias("nrm_f"),
        F.sqrt(_spark_dot("qv", "qv")).alias("nrm_q"),
    )
    qs = nf.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe"),
        F.col("qv").alias("qqe"), F.col("nrm_f").alias("qnf"),
        F.col("nrm_q").alias("qnq"),
    )
    cand = nf.select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("ce"),
        F.col("qv").alias("cq"), F.col("nrm_f").alias("cnf"),
        F.col("nrm_q").alias("cnq"),
    )

    def top5(score):
        w = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
        return (
            qs.crossJoin(F.broadcast(cand))
            .filter(F.col("cid") != F.col("qid"))
            .withColumn("cos", score)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("qid", "cid")
        )

    exact_top = top5(_spark_dot("qe", "ce") / (F.col("qnf") * F.col("cnf")))
    quant_top = top5(_spark_dot("qqe", "cq") / (F.col("qnq") * F.col("cnq")))
    hit = quant_top.withColumn("hit", F.lit(1))
    return (
        exact_top.join(hit, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(
            F.count("hit").cast("int").alias("n_hits"),
            F.round(F.count("hit") / 5.0, 6).alias("recall_at_5"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified eval-set construction
# ---------------------------------------------------------------------------

@q(
    "t_eval_sample_stratified",
    """
    WITH r AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (('0x' || substr(md5('eval:' || doc_id::VARCHAR),
                          1, 15))::BIGINT) % 2147483647, doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, n_tokens, rk
    FROM r WHERE rk <= 5
    """,
)
def t_eval_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling: the 5 lowest-salted-hash docs
    per language — how a held-out eval set is actually constructed
    (uniform-at-random within stratum, reproducible across engines and
    reruns, balanced across strata by construction). One window per
    stratum; at 100 TB the rank is a per-partition top-k (takeOrdered
    semantics) — no global sort."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    h = F.expr(
        "cast(conv(substring(md5(concat('eval:', cast(doc_id as string))),"
        " 1, 15), 16, 10) as bigint) % 2147483647"
    )
    w = W.partitionBy("lang").orderBy(h.asc(), "doc_id")
    return (
        docs.select(
            "doc_id", "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


# ---------------------------------------------------------------------------
# SimHash precision against exact Jaccard
# ---------------------------------------------------------------------------

from xova_spark.queries.dedup import (  # noqa: E402
    _simhash_exprs,
    simhash_fingerprints,
)


@q(
    "dedup_simhash_precision",
    f"""
    WITH wc AS (
      SELECT doc_id, word, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ) GROUP BY doc_id, word
    ), hashed AS (
      SELECT doc_id, cnt,
             (('0x' || substr(md5(word), 1, 15))::BIGINT) % {P31} AS h
      FROM wc
    ), fp AS (
      SELECT doc_id, {_simhash_exprs('duck')} AS simhash
      FROM hashed GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    ), sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS nc
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           round(coalesce(nc, 0) * 1.0
                 / (sa.n + sb.n - coalesce(nc, 0)), 6) AS jaccard,
           CASE WHEN coalesce(nc, 0) * 1.0
                     / (sa.n + sb.n - coalesce(nc, 0)) >= 0.5
                THEN 1 ELSE 0 END AS true_dup
    FROM cand c
    LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = c.doc_a
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = c.doc_b
    """,
)
def dedup_simhash_precision(spark, sf_dir):
    """Measure, don't guess (dedup edition): every simhash-identical
    candidate pair labeled with its EXACT 3-gram Jaccard and a
    true-dup flag — the precision audit that justifies fingerprint
    dedup. Verification cost is proportional to the candidate set, not
    the corpus (the candidate ids broadcast into the shingle join)."""
    docs = _docs(spark, sf_dir)
    fp = simhash_fingerprints(docs)
    a, b = fp.alias("a"), fp.alias("b")
    cand = a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    sh = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", F.expr(SPARK_SHINGLES).alias("shingles")
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    ea = ex.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    eb = ex.select(F.col("doc_id").alias("doc_b2"), F.col("s").alias("sb"))
    common = (
        F.broadcast(cand).join(ea, "doc_a")
        .join(eb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("sa") == F.col("sb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    nc = F.coalesce(F.col("nc"), F.lit(0))
    jac = nc * 1.0 / (F.col("na") + F.col("nb") - nc)
    return (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b",
            F.round(jac, 6).alias("jaccard"),
            F.when(jac >= 0.5, 1).otherwise(0).alias("true_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Context-window document chunking
# ---------------------------------------------------------------------------

@q(
    "t_chunk_documents",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ks AS (
      SELECT doc_id, ws,
             unnest(generate_series(0, (len(ws) - 1) // 48)) AS chunk_id
      FROM w
    ), c AS (
      SELECT doc_id, chunk_id,
             1 + 48 * chunk_id AS chunk_start,
             least(64, len(ws) - 48 * chunk_id) AS chunk_len,
             ws
      FROM ks
    )
    SELECT doc_id, chunk_id, chunk_start, chunk_len,
           md5(array_to_string(
             ws[chunk_start : chunk_start + chunk_len - 1], ' ')) AS chunk_hash
    FROM c
    """,
)
def t_chunk_documents(spark, sf_dir):
    """Context-window chunking: split each document into 64-token
    windows with stride 48 (16-token overlap) — the RAG/embedding-prep
    op every long-document pipeline runs before encoding. Emits the
    chunk geometry plus a content hash of each window (the dedup key
    for chunk-level dedup downstream).

    Scale shape: pure per-row explode over the computed chunk count —
    no shuffle at all; output cardinality ~n_tokens/stride per doc. The
    window slice stays inside codegen (slice + concat_ws on the already
    split array)."""
    docs = _docs(spark, sf_dir)
    ws = F.split("text", " ")
    n = F.size("ws")
    base = docs.select("doc_id", ws.alias("ws"))
    c = base.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), F.floor((n - 1) / F.lit(48)))
        ).alias("chunk_id"),
    )
    start = 1 + 48 * F.col("chunk_id")
    clen = F.least(F.lit(64), F.size("ws") - 48 * F.col("chunk_id"))
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("chunk_start"),
        clen.cast("bigint").alias("chunk_len"),
        F.md5(F.concat_ws(" ", F.slice("ws", start, clen))).alias("chunk_hash"),
    )


@q(
    "t_chunk_boilerplate",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ks AS (
      SELECT doc_id, ws,
             unnest(generate_series(0, (len(ws) - 1) // 48)) AS chunk_id
      FROM w
    ), c AS (
      SELECT doc_id,
             md5(array_to_string(
               ws[1 + 48 * chunk_id :
                  48 * chunk_id + least(64, len(ws) - 48 * chunk_id)],
               ' ')) AS chunk_hash
      FROM ks
    ), rep AS (
      SELECT chunk_hash, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM c GROUP BY chunk_hash
      HAVING count(DISTINCT doc_id) > 1
    )
    SELECT count(*) AS n_boilerplate_chunks,
           CAST(sum(n_occurrences) AS BIGINT) AS total_occurrences,
           max(n_docs) AS max_docs_sharing
    FROM rep
    """,
)
def t_chunk_boilerplate(spark, sf_dir):
    """Boilerplate detection: chunk windows shared across MULTIPLE
    documents (headers, footers, templates — the chunk-level dedup
    signal that document-level dedup misses). Composes the chunking op
    with a hash-keyed aggregation; at 100 TB this is the standard
    two-level groupBy on the 16-byte chunk hash."""
    docs = _docs(spark, sf_dir)
    ws = F.split("text", " ")
    n = F.size("ws")
    base = docs.select("doc_id", ws.alias("ws"))
    c = base.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), F.floor((n - 1) / F.lit(48)))
        ).alias("k"),
    )
    start = 1 + 48 * F.col("k")
    clen = F.least(F.lit(64), F.size("ws") - 48 * F.col("k"))
    hashed = c.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("ws", start, clen))).alias("chunk_hash"),
    )
    rep = (
        hashed.groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return rep.agg(
        F.count("*").alias("n_boilerplate_chunks"),
        F.sum("n_occurrences").alias("total_occurrences"),
        F.max("n_docs").alias("max_docs_sharing"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel conversion over the event stream
# ---------------------------------------------------------------------------

@q(
    "ev_funnel_conversion",
    """
    WITH s AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS t_view,
             min(ts) FILTER (WHERE event_type = 'click') AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_view) AS n_view,
           count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
           count(CASE WHEN t_purchase > t_click AND t_click > t_view
                      THEN 1 END) AS n_full_funnel
    FROM s
    """,
)
def ev_funnel_conversion(spark, sf_dir):
    """Ordered funnel analysis: users whose first click follows their
    first view, and whose first purchase follows that click — the
    behavioral-analytics sequence-match shape (min-per-stage + ordered
    comparison; no self-joins, one shuffle on user_id). Timestamp
    ORDER is all that matters, so the nanos-as-long Spark encoding and
    DuckDB's native timestamps agree by construction."""
    from xova_spark.session import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"]

    def first(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    s = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    return s.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(
            F.when(F.col("t_click") > F.col("t_view"), 1)
        ).alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) over the embedding column
# ---------------------------------------------------------------------------

_PQ_M = 8        # subspaces
_PQ_SUB = 8      # dims per subspace (M * SUB == _DIM)
_PQ_K = 16       # codebook size per subspace
_PQ_ITERS = 1    # Lloyd updates per subspace


def _pq_ctes(src: str = "e", define_source: bool = True) -> tuple[list, list, str]:
    """Shared chained-CTE builder for the PQ twins: per subspace, the
    same seeded Lloyd rounds as _kmeans_sql over the subvector. Returns
    (cte_parts, code_select_exprs, code_join_clause). ``src`` is the
    (vec_id, emb) CTE the chain quantizes; by default it defines the
    standard quantized-embeddings source ``e`` itself."""
    parts = []
    if define_source:
        parts.append(f"e AS (SELECT vec_id, {_DUCK_Q} AS emb FROM embeddings)")
    sels = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        parts.append(
            f"e{m} AS (SELECT vec_id, emb[{lo}:{hi}] AS sv FROM {src})"
        )
        parts.append(
            f"q{m}c0 AS (SELECT vec_id AS cid, sv AS cv FROM e{m} "
            f"WHERE vec_id < {_PQ_K})"
        )
        dist = (
            f"list_sum(list_transform(generate_series(1, {_PQ_SUB}),"
            " i -> (x.sv[i] - c.cv[i]) * (x.sv[i] - c.cv[i])))"
        )
        for it in range(_PQ_ITERS + 1):
            parts.append(
                f"q{m}s{it} AS (SELECT x.vec_id, c.cid, {dist} AS d "
                f"FROM e{m} x CROSS JOIN q{m}c{it} c)"
            )
            parts.append(
                f"q{m}a{it} AS (SELECT vec_id, cid FROM ("
                f"SELECT vec_id, cid, row_number() OVER "
                f"(PARTITION BY vec_id ORDER BY d, cid) AS rn FROM q{m}s{it}"
                f") WHERE rn = 1)"
            )
            if it < _PQ_ITERS:
                parts.append(
                    f"q{m}m{it} AS (SELECT a.cid, g.i AS dim, "
                    f"sum(x.sv[g.i]) / count(*) AS v "
                    f"FROM q{m}a{it} a JOIN e{m} x USING (vec_id), "
                    f"generate_series(1, {_PQ_SUB}) g(i) GROUP BY a.cid, g.i)"
                )
                parts.append(
                    f"q{m}c{it + 1} AS (SELECT cid, list(v ORDER BY dim) AS cv "
                    f"FROM q{m}m{it} GROUP BY cid)"
                )
        sels.append(f"q{m}a{_PQ_ITERS}.cid AS code{m}")
    joins = " ".join(
        f"JOIN q{m}a{_PQ_ITERS} USING (vec_id)" for m in range(_PQ_M)
    )
    return parts, sels, joins


def _materialize(parts: list) -> list:
    """DuckDB inlines CTEs by default; the PQ twins reference the Lloyd
    CTEs many times (codes join + per-subspace luts), which re-expands
    the whole chain per reference — exponential plan growth. MATERIALIZED
    pins each CTE to one evaluation."""
    return [pp.replace(" AS (", " AS MATERIALIZED (", 1) for pp in parts]


def _pq_sql() -> str:
    parts, sels, joins = _pq_ctes()
    return (
        "WITH " + ", ".join(_materialize(parts))
        + f" SELECT e.vec_id, {', '.join(sels)} FROM e {joins}"
    )


def _pq_topk_sql(n_queries: int = 10, topk: int = 5) -> str:
    """PQ SEARCH twin: asymmetric distance — per query, the distance to
    every centroid of every subspace (the lookup tables), then each
    database vector scores as the FIXED-ORDER sum of its codes' lut
    entries (fixed order keeps the float sum bit-identical in both
    engines)."""
    parts, sels, joins = _pq_ctes()
    parts.append(
        f"codes AS (SELECT e.vec_id, {', '.join(sels)} FROM e {joins})"
    )
    parts.append(
        f"qs AS (SELECT vec_id AS qid, emb FROM e WHERE vec_id < {n_queries})"
    )
    for m in range(_PQ_M):
        lo = m * _PQ_SUB
        dist = (
            f"list_sum(list_transform(generate_series(1, {_PQ_SUB}),"
            f" i -> (q.emb[{lo} + i] - c.cv[i]) * (q.emb[{lo} + i] - c.cv[i])))"
        )
        parts.append(
            f"lut{m} AS (SELECT q.qid, c.cid, {dist} AS d "
            f"FROM qs q CROSS JOIN q{m}c{_PQ_ITERS} c)"
        )
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.qid = q.qid AND l{m}.cid = v.code{m}"
        for m in range(_PQ_M)
    )
    score = " + ".join(f"l{m}.d" for m in range(_PQ_M))
    parts.append(
        f"scored AS (SELECT q.qid, v.vec_id AS cid, {score} AS score "
        f"FROM codes v CROSS JOIN (SELECT DISTINCT qid FROM qs) q "
        f"{lut_joins} WHERE v.vec_id != q.qid)"
    )
    parts.append(
        "ranked AS (SELECT qid, cid, score, row_number() OVER "
        "(PARTITION BY qid ORDER BY score, cid) AS rank FROM scored)"
    )
    return (
        "WITH " + ", ".join(_materialize(parts))
        + f" SELECT qid, cid, round(score, 6) AS pq_dist, rank "
        f"FROM ranked WHERE rank <= {topk}"
    )


@q("emb_pq_encode", _pq_sql())
def emb_pq_encode(spark, sf_dir):
    """PRODUCT QUANTIZATION encode — the standard billion-vector ANN
    compression: split each embedding into M=4 subspaces of 16 dims,
    learn a k=4 codebook per subspace with the same seeded Lloyd rounds
    as emb_kmeans_assign, and emit each vector's M-byte code word
    (here: 4 small ints). A 64-dim float vector compresses to 4 codes;
    asymmetric PQ distance = sum over subspaces of the precomputed
    query-to-centroid distances — table lookups, no float vector reads.

    Scale shape: each subspace's codebook is k x 16 doubles on the
    driver (broadcast literal); per iteration the all-data work is one
    argmin pass + one partial-aggregated (cid, dim) update — exactly the
    kmeans plan, M times over narrower vectors. Dyadic quantization
    keeps the oracle hash-EXACT (order-independent centroid sums);
    tests/test_similarity_recall gates PQ-distance recall vs exact
    cosine."""
    codes, _cents = _pq_fit(spark, sf_dir)
    return codes


# PQ codebooks + codes are an INDEX: production systems (FAISS et al.)
# train once and search many times — refitting per query would be like
# rebuilding a B-tree per lookup. Memoized per (session, corpus) exactly
# like load_tables; the persisted-index path is the `xova-spark-extras index`
# CLI, which writes codes + codebooks to parquet.
_PQ_FIT_CACHE: dict[tuple[int, str], tuple] = register_cache({})

# ann_ivfadc_topk's driver-side prep (residual LUTs + probe list) —
# deterministic per (session, sf_dir), memoized with the same keying
# discipline as _PQ_FIT_CACHE.
_IVFADC_PREP_CACHE: dict[tuple, tuple] = register_cache({})


def _pq_fit(spark, sf_dir):
    """Fit the PQ codebooks and encode every vector; returns
    (codes_wide_df, centroids dict[(m, cid)] -> 8-dim list). Shared by
    emb_pq_encode, ann_pq_topk and ann_ivfpq_topk (train-once/search-
    many: see _PQ_FIT_CACHE)."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1024) / 1024,
        ).alias("emb"),
    )
    return _pq_fit_frame(
        spark, (spark.sparkContext.applicationId, sf_dir), emb
    )


# Size gate for DRIVER-SIDE PQ training (the FAISS pattern: codebooks
# are trained on a bounded sample, never the full corpus — 200k x 64
# doubles is ~100 MB). Under the gate the whole Lloyd chain runs in
# numpy with the exact IEEE sequence the distributed plan uses
# (sequential per-dim fold for distances; dyadic inputs make the mean
# sums order-independent), so both paths are bit-identical — pinned in
# tests/test_pipelineq.py. Above the gate: the distributed
# one-job-per-iteration plan below.
_PQ_TRAIN_COLLECT_VECS = 200_000


def _pq_fit_driver(spark, emb):
    """numpy twin of the distributed fit: same init (vec_id < K seed
    subvectors), same sequential-fold distances, same sum/count means,
    same lowest-cid tie-break (np.argmin picks the first minimum)."""
    import numpy as np

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["emb"] for r in rows], dtype=np.float64)
    cents: dict[tuple[int, int], list[float]] = {}
    seed = {int(i): k for k, i in enumerate(ids) if i < _PQ_K}
    for m in range(_PQ_M):
        for c, k in sorted(seed.items()):
            cents[(m, c)] = [float(v) for v in X[k, m * _PQ_SUB:(m + 1) * _PQ_SUB]]

    def assign_m(S, cid_list, C):
        # sequential fold over the subspace dims — the exact IEEE
        # sequence of F.aggregate(zip_with(...)) in the distributed plan
        D = np.zeros((S.shape[0], C.shape[0]))
        for d in range(_PQ_SUB):
            diff = S[:, d:d + 1] - C[None, :, d]
            D = D + diff * diff
        return np.argmin(D, axis=1)  # first min == lowest cid

    codes = np.zeros((len(ids), _PQ_M), dtype=np.int64)
    for it in range(_PQ_ITERS + 1):
        new_cents: dict[tuple[int, int], list[float]] = {}
        for m in range(_PQ_M):
            S = X[:, m * _PQ_SUB:(m + 1) * _PQ_SUB]
            cid_list = sorted(c for (mm, c) in cents if mm == m)
            C = np.array([cents[(m, c)] for c in cid_list])
            a = assign_m(S, np.array(cid_list), C)
            codes[:, m] = np.array(cid_list, dtype=np.int64)[a]
            if it < _PQ_ITERS:
                for j, c in enumerate(cid_list):
                    mask = a == j
                    if mask.any():
                        new_cents[(m, c)] = [
                            float(v) for v in S[mask].sum(axis=0) / mask.sum()
                        ]
        if it < _PQ_ITERS:
            cents = new_cents
    data = [
        (int(ids[i]), *[int(codes[i, m]) for m in range(_PQ_M)])
        for i in range(len(ids))
    ]
    schema = "vec_id long, " + ", ".join(f"code{m} int" for m in range(_PQ_M))
    out = pin(spark.createDataFrame(data, schema).persist())
    out.count()
    return out, cents


def _pq_fit_frame(spark, cache_key, emb):
    """The PQ fit core over any (vec_id, emb array<double>) frame —
    also used on RESIDUAL vectors by the IVFADC variant. Memoized on
    ``cache_key``."""
    hit = _PQ_FIT_CACHE.get(cache_key)
    if hit is not None:
        return hit
    if emb.count() <= _PQ_TRAIN_COLLECT_VECS:
        out_cents = _pq_fit_driver(spark, emb)
        _PQ_FIT_CACHE[cache_key] = out_cents
        return out_cents
    # ALL subspaces in one long table (vec_id, m, sv): every Lloyd step
    # is then ONE job over all M codebooks instead of M sequential jobs
    # — 4 Spark jobs total regardless of M, and the same single-pass
    # shape a billion-vector run wants.
    subs = (
        emb.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice("emb", m * _PQ_SUB + 1, _PQ_SUB).alias("sv"),
                        )
                        for m in range(_PQ_M)
                    ]
                )
            ).alias("s"),
        )
        .select("vec_id", "s.m", "s.sv")
        .cache()
    )
    cents = {
        (int(r["m"]), int(r["vec_id"])): list(r["sv"])
        for r in subs.filter(F.col("vec_id") < _PQ_K).collect()
    }

    def assign(cent_map):
        cdf = spark.createDataFrame(
            [
                (m, int(c), [float(v) for v in cv])
                for (m, c), cv in sorted(cent_map.items())
            ],
            "m int, cid int, cv array<double>",
        )
        d = F.aggregate(
            F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("vec_id", "m").orderBy("d", "cid")
        return (
            subs.join(F.broadcast(cdf), "m")
            .select("vec_id", "m", "cid", d.alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "cid")
        )

    for _ in range(_PQ_ITERS):
        a = assign(cents)
        upd = (
            a.join(subs, ["vec_id", "m"])
            .select("m", "cid", F.posexplode("sv").alias("dim", "x"))
            .groupBy("m", "cid", "dim")
            .agg((F.sum("x") / F.count("*")).alias("v"))
            .collect()
        )
        new_cents: dict[tuple[int, int], list[float]] = {}
        for row in upd:
            new_cents.setdefault((row["m"], row["cid"]), [0.0] * _PQ_SUB)[
                row["dim"]
            ] = row["v"]
        cents = new_cents

    final = assign(cents)
    out = (
        final.groupBy("vec_id")
        .pivot("m", list(range(_PQ_M)))
        .agg(F.first("cid"))
    )
    for m in range(_PQ_M):
        out = out.withColumnRenamed(str(m), f"code{m}")
    subs.unpersist()
    # The code table IS the index — persist it so every search reads the
    # materialized codes instead of re-running the assignment lineage
    # (at scale this is the parquet the `index` CLI writes).
    out = pin(out.persist())
    out.count()
    _PQ_FIT_CACHE[cache_key] = (out, cents)
    return out, cents


@q("ann_pq_topk", _pq_topk_sql())
def ann_pq_topk(spark, sf_dir):
    """PQ SEARCH — top-k by ASYMMETRIC product-quantization distance:
    each query precomputes its distance to every subspace centroid (an
    M x K lookup table, 128 doubles — driver/broadcast scale), and each
    database vector scores as the fixed-order sum of its 8 codes' lut
    entries. NO float vectors are read at query time — the scan touches
    only the M small-int codes per vector, which is what makes PQ the
    billion-vector first stage (fetch-and-rerank refines the top-k with
    exact distances afterwards; recall gated in
    tests/test_similarity_recall).

    Exactness: luts accumulate dims sequentially in both engines and the
    score sums the 8 terms in fixed textual order, so the doubles are
    bit-identical; round(6) on output is belt-and-braces."""
    codes, _cents = _pq_fit(spark, sf_dir)
    lut_wide = _global_lut_wide(spark, sf_dir)
    scored = codes.crossJoin(F.broadcast(lut_wide))
    score = _lut_score()
    w = Window.partitionBy("qid").orderBy("score", "cid")
    return (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", F.round("score", 6).alias("pq_dist"), "rank")
    )


_RERANK_SHORTLIST = 20


def _pq_rerank_sql(n_queries: int = 10, topk: int = 5) -> str:
    """Fetch-and-rerank twin: the PQ ranked list down to the SHORTLIST,
    then exact raw-embedding cosine over shortlist pairs only."""
    from xova_spark.queries.similarity import _duck_dot

    base = _pq_topk_sql(n_queries, topk)
    # reuse everything through `ranked`, swap the final select
    head = base[: base.rindex(" SELECT qid, cid, round(score, 6)")]
    return (
        head
        + f""", short AS MATERIALIZED (
      SELECT qid, cid FROM ranked WHERE rank <= {_RERANK_SHORTLIST}
    ), normed AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ), rr AS (
      SELECT s.qid, s.cid,
             {_duck_dot('qv.embedding', 'cv.embedding')} / (qv.nrm * cv.nrm)
                 AS cos
      FROM short s
      JOIN normed qv ON qv.vec_id = s.qid
      JOIN normed cv ON cv.vec_id = s.cid
    ), rranked AS (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
                 AS rank
      FROM rr
    )
    SELECT qid, cid, round(cos, 6) AS cos, rank
    FROM rranked WHERE rank <= {topk}"""
    )


@q("ann_pq_rerank_topk", _pq_rerank_sql())
def ann_pq_rerank_topk(spark, sf_dir):
    """FETCH-AND-RERANK — the standard two-stage production retrieval:
    stage 1 shortlists {_RERANK_SHORTLIST} candidates per query by
    asymmetric PQ distance (code scan only, no float vectors); stage 2
    fetches ONLY the shortlist's raw embeddings and reranks by exact
    cosine. This is how billion-vector serving recovers brute-force
    quality at PQ cost: exact distance work is O(queries x shortlist),
    never O(queries x corpus).

    Scale shape: stage 1 is ann_pq_topk's plan (broadcast LUT row over
    the code scan, one window); the shortlist (n_q x {_RERANK_SHORTLIST}
    rows) broadcasts into two keyed fetch joins against the vector
    table — at 100 TB the fetch is a point-lookup pattern (bucketed or
    indexed by vec_id), and the rerank itself is model-scale."""
    codes, _cents = _pq_fit(spark, sf_dir)
    lut_wide = _global_lut_wide(spark, sf_dir)
    scored = codes.crossJoin(F.broadcast(lut_wide))
    score = _lut_score()
    w = Window.partitionBy("qid").orderBy("score", "cid")
    short = (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RERANK_SHORTLIST)
        .select("qid", "cid")
    )
    from xova_spark.queries.similarity import _spark_dot

    normed = _emb(spark, sf_dir).select(
        "vec_id",
        "embedding",
        F.sqrt(_spark_dot("embedding", "embedding")).alias("nrm"),
    )
    qv = normed.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cv = normed.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = _spark_dot("qe", "ce") / (F.col("qn") * F.col("cn"))
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    return (
        qv.join(F.broadcast(short), "qid")
        .join(cv, "cid")
        .select("qid", "cid", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", F.round("cos", 6).alias("cos"), "rank")
    )


# Train-once/search-many for the query lookup tables (the _PQ_FIT_CACHE
# discipline): the global-codebook LUT frame is a pure function of the
# memoized codebooks + the 10 dyadic query vectors, and ann_pq_topk,
# ann_pq_rerank_topk, ann_ivfpq_topk and ann_ivfkm_pq_topk all build
# the bit-identical frame — yet each query CONSTRUCTION re-ran the
# collect job. Keyed per (session, sf_dir); the collected doubles come
# from the same in-engine fold either way.
_LUT_WIDE_CACHE: dict[tuple, object] = register_cache({})


def _global_lut_wide(spark, sf_dir):
    """The global-codebook query LUT frame (qid, luts[m][cid]) built
    once per (session, sf_dir): on a cache hit the caller skips not
    just the collect job but the whole qsub/cdf CONSTRUCTION — the two
    per-run ``createDataFrame`` calls (Python->JVM row conversion +
    schema parse) were a measurable per-run constant in every PQ
    search entry."""
    k = (spark.sparkContext.applicationId, "lut_global", sf_dir)
    hit = _LUT_WIDE_CACHE.get(k)
    if hit is not None:
        return hit
    _codes, cents = _pq_fit(spark, sf_dir)
    qsub = (
        _emb_dyadic(spark, sf_dir)
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice("emb", m * _PQ_SUB + 1, _PQ_SUB).alias(
                                "sv"
                            ),
                        )
                        for m in range(_PQ_M)
                    ]
                )
            ).alias("s"),
        )
        .select("qid", "s.m", "s.sv")
    )
    cdf = spark.createDataFrame(
        [
            (m, int(c), [float(v) for v in cv])
            for (m, c), cv in sorted(cents.items())
        ],
        "m int, cid int, cv array<double>",
    )
    d = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    luts = qsub.join(F.broadcast(cdf), "m").select(
        "qid", "m", "cid", d.alias("d")
    )
    out = _lut_wide(spark, luts)
    _LUT_WIDE_CACHE[k] = out
    return out


def _lut_wide(spark, luts):
    """Repack the (qid, m, cid, d) lookup-table rows into ONE wide row
    per query — array[m][cid] of distances. The distances are computed
    IN-ENGINE by the same fold expression as before and only collected
    (n_queries x M x K doubles — driver/model scale), so the doubles are
    unchanged; packaging them as a single broadcast row replaces M
    separate broadcast joins with one (M-1 fewer tiny exchanges and
    M-1 fewer join stages in every search)."""
    by_qid: dict[int, list[list[float]]] = {}
    for r in luts.collect():
        by_qid.setdefault(
            int(r["qid"]), [[0.0] * _PQ_K for _ in range(_PQ_M)]
        )[int(r["m"])][int(r["cid"])] = float(r["d"])
    return spark.createDataFrame(
        sorted(by_qid.items()), "qid long, luts array<array<double>>"
    )


def _lut_score():
    """Fixed-order sum of the M per-subspace lookup entries:
    luts[m][code_m] chained in ascending m — the same addition order as
    the oracle's l0.d + l1.d + ..., so the score is bit-identical."""
    score = F.element_at(F.element_at("luts", 1), F.col("code0") + 1)
    for m in range(1, _PQ_M):
        score = score + F.element_at(
            F.element_at("luts", m + 1), F.col(f"code{m}") + 1
        )
    return score


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted-file cells + product-quantized search
# ---------------------------------------------------------------------------

_IVFPQ_CELLS = 8   # coarse-quantizer size
_IVFPQ_NPROBE = 2  # cells searched per query


def _ivfpq_parts(n_queries: int = 10) -> list:
    """IVF-PQ CTE chain (through `ranked`): the PQ chained-CTE Lloyd
    codebooks PLUS a coarse cosine cell assignment (seed-vector
    quantizer, as ann_ivf_topk); candidates are restricted to each
    query's NPROBE nearest cells before the asymmetric-distance lookup
    scoring. Shared by the top-k and recall twins."""
    parts, sels, joins = _pq_ctes()
    dot = (
        lambda a, b: f"list_sum(list_transform(generate_series(1, {_DIM}),"
        f" i -> {a}[i] * {b}[i]))"
    )
    parts.append(
        f"nv AS (SELECT vec_id, emb, sqrt({dot('emb', 'emb')}) AS nrm FROM e)"
    )
    parts.append(
        f"cent AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm "
        f"FROM nv WHERE vec_id < {_IVFPQ_CELLS})"
    )
    parts.append(
        "cellrank AS (SELECT n.vec_id, c.cent_id, row_number() OVER ("
        "PARTITION BY n.vec_id ORDER BY "
        f"{dot('n.emb', 'c.cemb')} / (n.nrm * c.cnrm) DESC, c.cent_id) AS rn "
        "FROM nv n CROSS JOIN cent c)"
    )
    parts.append(
        "assigned AS (SELECT vec_id, cent_id AS cell FROM cellrank WHERE rn = 1)"
    )
    parts.append(
        f"probes AS (SELECT vec_id AS qid, cent_id AS pcell FROM cellrank "
        f"WHERE vec_id < {n_queries} AND rn <= {_IVFPQ_NPROBE})"
    )
    parts.append(
        f"codes AS (SELECT e.vec_id, {', '.join(sels)} FROM e {joins})"
    )
    parts.append(
        f"qs AS (SELECT vec_id AS qid, emb FROM e WHERE vec_id < {n_queries})"
    )
    for m in range(_PQ_M):
        lo = m * _PQ_SUB
        dist = (
            f"list_sum(list_transform(generate_series(1, {_PQ_SUB}),"
            f" i -> (q.emb[{lo} + i] - c.cv[i]) * (q.emb[{lo} + i] - c.cv[i])))"
        )
        parts.append(
            f"lut{m} AS (SELECT q.qid, c.cid, {dist} AS d "
            f"FROM qs q CROSS JOIN q{m}c{_PQ_ITERS} c)"
        )
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.qid = p.qid AND l{m}.cid = v.code{m}"
        for m in range(_PQ_M)
    )
    score = " + ".join(f"l{m}.d" for m in range(_PQ_M))
    parts.append(
        f"scored AS (SELECT p.qid, v.vec_id AS cid, {score} AS score "
        f"FROM codes v JOIN assigned a ON a.vec_id = v.vec_id "
        f"JOIN probes p ON p.pcell = a.cell "
        f"{lut_joins} WHERE v.vec_id != p.qid)"
    )
    parts.append(
        "ranked AS (SELECT qid, cid, score, row_number() OVER "
        "(PARTITION BY qid ORDER BY score, cid) AS rank FROM scored)"
    )
    return parts


def _ivfpq_topk_sql(n_queries: int = 10, topk: int = 5) -> str:
    parts = _ivfpq_parts(n_queries)
    return (
        "WITH " + ", ".join(_materialize(parts))
        + f" SELECT qid, cid, round(score, 6) AS pq_dist, rank "
        f"FROM ranked WHERE rank <= {topk}"
    )


def _ivfpq_recall_sql(n_queries: int = 10, topk: int = 5) -> str:
    """Recall twin: the IVF-PQ top-k joined against the EXACT cosine
    top-k over the same quantized vectors (the brute-force referee)."""
    parts = _ivfpq_parts(n_queries)
    dot = (
        lambda a, b: f"list_sum(list_transform(generate_series(1, {_DIM}),"
        f" i -> {a}[i] * {b}[i]))"
    )
    parts += [
        f"approx AS (SELECT qid, cid FROM ranked WHERE rank <= {topk})",
        f"ex_scored AS (SELECT q.vec_id AS qid, n.vec_id AS cid, "
        f"{dot('q.emb', 'n.emb')} / (q.nrm * n.nrm) AS cos "
        f"FROM nv q CROSS JOIN nv n "
        f"WHERE q.vec_id < {n_queries} AND n.vec_id != q.vec_id)",
        "ex_ranked AS (SELECT qid, cid, row_number() OVER ("
        "PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM ex_scored)",
        f"ex_top AS (SELECT qid, cid FROM ex_ranked WHERE rn <= {topk})",
    ]
    return (
        "WITH " + ", ".join(_materialize(parts))
        + f" SELECT e.qid, CAST(count(a.cid) AS INTEGER) AS n_hits, "
        f"round(count(a.cid) * 1.0 / {topk}, 6) AS recall_at_{topk} "
        f"FROM ex_top e LEFT JOIN approx a ON a.qid = e.qid AND a.cid = e.cid "
        f"GROUP BY e.qid"
    )


def _coarse_cellrank(spark, sf_dir):
    """Quantized embeddings + the full (vector x coarse-centroid) cosine
    ranking: rn = 1 is the cell assignment, rn <= nprobe the probe list.
    Shared by ann_ivfpq_topk and the `xova-spark-extras index` CLI."""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1024) / 1024,
        ).alias("emb"),
    )
    dotq = F.aggregate(
        F.zip_with("emb", "cemb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with("emb", "emb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nv = e.select("vec_id", "emb", nrm.alias("nrm"))
    cent = nv.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    wc = Window.partitionBy("vec_id").orderBy(F.desc("cell_cos"), "cent_id")
    cellrank = (
        nv.crossJoin(F.broadcast(cent))
        .withColumn("cell_cos", dotq / (F.col("nrm") * F.col("cnrm")))
        .withColumn("rn", F.row_number().over(wc))
    )
    return e, nv, cellrank


def _ivfpq_cellrank_shared(spark, sf_dir):
    """Narrow (vec_id, cent_id, rn) projection of the seed-cell cosine
    ranking, SHARED per (session, sf_dir): ann_ivfpq_topk,
    ann_ivfadc_topk and the index CLI each rebuilt the corpus x CELLS
    cross join + per-vector rank window TWICE per run (assigned +
    probes branches). localCheckpoint truncates the crossJoin lineage
    (the _kmeans_top2 lesson) so consumers see a clean RDD scan — no
    BNLJ re-exposure under InMemoryTableScan. Corpus x CELLS x 3-int
    grain; the window spec and cosine fold are byte-for-byte
    _coarse_cellrank's, so rn is unchanged."""

    def build():
        _e, _nv, cellrank = _coarse_cellrank(spark, sf_dir)
        return cellrank.select("vec_id", "cent_id", "rn").localCheckpoint()

    return shared(spark, ("ivfpq_cellrank", sf_dir), build)


@q("ann_ivfpq_topk", _ivfpq_topk_sql())
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ — the billion-vector composite: a coarse inverted-file
    cell assignment (cosine against a seed-vector coarse quantizer, as
    ann_ivf_topk) restricts each query's candidates to its NPROBE
    nearest cells, and candidates score by ASYMMETRIC product-
    quantization distance (query-to-codebook lookup tables; scan touches
    only the M small-int codes per candidate). This is the FAISS
    IVFADC shape (Jegou et al., PQ for nearest neighbor search) with
    global (non-residual) codebooks, which keeps the oracle twin exact.

    Scale shape: the PQ fit is the _pq_fit single-pass-per-iteration
    plan; cell assignment is one broadcast of CELLS centroids over one
    scan; at search time the probes table (n_queries x NPROBE rows)
    broadcasts into the code table, so the only full-corpus work is the
    code scan itself — with the cell id as the storage partition key,
    partition pruning drops even that to NPROBE/CELLS of the data."""
    codes, _cents = _pq_fit(spark, sf_dir)
    cr = _ivfpq_cellrank_shared(spark, sf_dir)
    assigned = cr.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cent_id").alias("cell")
    )
    probes = cr.filter(
        (F.col("vec_id") < 10) & (F.col("rn") <= _IVFPQ_NPROBE)
    ).select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("pcell"))
    lut_wide = _global_lut_wide(spark, sf_dir).withColumnRenamed(
        "qid", "lqid"
    )
    scored = (
        codes.join(assigned, "vec_id")
        .join(F.broadcast(probes), F.col("cell") == F.col("pcell"))
        .join(F.broadcast(lut_wide), F.col("qid") == F.col("lqid"))
    )
    score = _lut_score()
    w = Window.partitionBy("qid").orderBy("score", "cid")
    return (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", F.round("score", 6).alias("pq_dist"), "rank")
    )


# ---------------------------------------------------------------------------
# Embedding covariance + power-iteration PCA
# ---------------------------------------------------------------------------


_COV_SQL = f"""
    WITH e AS (SELECT vec_id, {_DUCK_Q} AS emb FROM embeddings),
    ex AS (
      SELECT vec_id, g.i - 1 AS i, emb[g.i] AS x
      FROM e, generate_series(1, {_DIM}) g(i)
    ), n_rows AS (SELECT count(*) AS n FROM e),
    sxy AS (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    ), m AS (
      SELECT i, sum(x) AS m FROM ex GROUP BY i
    )
    SELECT sxy.i, sxy.j,
           round((sxy.s - ma.m * mb.m / n.n) / n.n, 6) AS cov
    FROM sxy
    JOIN m ma ON ma.i = sxy.i
    JOIN m mb ON mb.i = sxy.j
    CROSS JOIN n_rows n
    """


@q("emb_covariance", _COV_SQL)
def emb_covariance(spark, sf_dir):
    """COVARIANCE MATRIX of the embedding columns (upper triangle as
    (i, j, cov) rows) — the input to PCA/whitening/decorrelation passes
    a representation-analysis pipeline runs over its vectors.

    Exactness: inputs are dyadic-quantized (10 fractional bits), so
    every pairwise product carries 20 fractional bits and the
    second-moment sums are EXACT doubles in any aggregation order —
    the one float division and subtraction happen once per output cell
    in the same textual order in both engines.

    Scale shape: one explode to (row, dim) feeds two partial-aggregated
    shuffles — per-dim sums (64 keys) and pairwise products (2080 keys);
    map-side combine collapses each partition to at most 2080 rows
    before the exchange, so shuffle volume is O(partitions), not
    O(rows). The 64-row moment table broadcasts into the final join.
    (At very wide dims the explode-pair form is replaced by per-
    partition BLAS Gramians — same two-phase agg shape.)"""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1024) / 1024,
        ).alias("emb"),
    )
    n = e.count()
    ex = e.select("vec_id", F.posexplode("emb").alias("i", "x"))
    pairs = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("b.i") >= F.col("a.i")))
        .select(
            F.col("a.i").alias("i"),
            F.col("b.i").alias("j"),
            (F.col("a.x") * F.col("b.x")).alias("xy"),
        )
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("s"))
    )
    m = ex.groupBy("i").agg(F.sum("x").alias("m"))
    ma = m.select(F.col("i").alias("mi"), F.col("m").alias("m_i"))
    mb = m.select(F.col("i").alias("mj"), F.col("m").alias("m_j"))
    return (
        pairs.join(F.broadcast(ma), F.col("i") == F.col("mi"))
        .join(F.broadcast(mb), F.col("j") == F.col("mj"))
        .select(
            "i",
            "j",
            F.round(
                (F.col("s") - F.col("m_i") * F.col("m_j") / F.lit(float(n)))
                / F.lit(float(n)),
                6,
            ).alias("cov"),
        )
    )


_PCA_ITERS = 8
_PCA_QBITS = 1048576  # 2^20 — per-iteration dyadic re-quantization


def _pca_parts() -> list:
    """PCA CTE chain (through the final iterated vector): the
    emb_covariance cells (round-6, identical doubles in both engines)
    power-iterated with per-iteration dyadic re-quantization — every
    matvec and norm is a SEQUENTIAL list_sum, matching the driver-side
    Python fold order exactly. Shared by the power and projection twins."""
    mv = (
        f"list_sum(list_transform(generate_series(1, {_DIM}),"
        " j -> c.cs[j] * v.vs[j]))"
    )
    parts = [
        f"e AS (SELECT vec_id, {_DUCK_Q} AS emb FROM embeddings)",
        f"ex AS (SELECT vec_id, g.i - 1 AS i, emb[g.i] AS x "
        f"FROM e, generate_series(1, {_DIM}) g(i))",
        "n_rows AS (SELECT count(*) AS n FROM e)",
        "sxy AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s "
        "FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i "
        "GROUP BY a.i, b.i)",
        "m AS (SELECT i, sum(x) AS m FROM ex GROUP BY i)",
        "covu AS (SELECT sxy.i, sxy.j, "
        "round((sxy.s - ma.m * mb.m / n.n) / n.n, 6) AS cov "
        "FROM sxy JOIN m ma ON ma.i = sxy.i JOIN m mb ON mb.i = sxy.j "
        "CROSS JOIN n_rows n)",
        "covfull AS (SELECT i, j, cov FROM covu "
        "UNION ALL SELECT j AS i, i AS j, cov FROM covu WHERE covu.i != covu.j)",
        "crow AS (SELECT i, list(cov ORDER BY j) AS cs FROM covfull GROUP BY i)",
        f"v0 AS (SELECT list_transform(generate_series(1, {_DIM}),"
        " i -> 0.125) AS vs)",
    ]
    for t in range(_PCA_ITERS):
        parts.append(
            f"w{t} AS (SELECT c.i, {mv} AS w FROM crow c CROSS JOIN v{t} v)"
        )
        parts.append(
            f"wl{t} AS (SELECT list(w ORDER BY i) AS ws FROM w{t})"
        )
        parts.append(
            f"nr{t} AS (SELECT sqrt(list_sum(list_transform("
            f"generate_series(1, {_DIM}), i -> ws[i] * ws[i]))) AS nrm "
            f"FROM wl{t})"
        )
        parts.append(
            f"v{t + 1} AS (SELECT list_transform(ws, "
            f"x -> floor(x / nrm * {_PCA_QBITS}) / {_PCA_QBITS}) AS vs "
            f"FROM wl{t} CROSS JOIN nr{t})"
        )
    vf = f"v{_PCA_ITERS}"
    parts.append(
        f"wf AS (SELECT c.i, {mv} AS w FROM crow c CROSS JOIN {vf} v)"
    )
    parts.append("wfl AS (SELECT list(w ORDER BY i) AS ws FROM wf)")
    parts.append(
        f"lam AS (SELECT floor("
        f"list_sum(list_transform(generate_series(1, {_DIM}), i -> v.vs[i] * w.ws[i]))"
        f" / list_sum(list_transform(generate_series(1, {_DIM}), i -> v.vs[i] * v.vs[i]))"
        f" * 1000000 + 0.5) / 1000000 AS eigenvalue FROM {vf} v CROSS JOIN wfl w)"
    )
    return parts


def _pca_power_sql() -> str:
    parts = _pca_parts()
    vf = f"v{_PCA_ITERS}"
    return (
        "WITH "
        + ", ".join(pp.replace(" AS (", " AS MATERIALIZED (", 1) for pp in parts)
        + f" SELECT g.i - 1 AS dim, v.vs[g.i] AS loading, lam.eigenvalue "
        f"FROM {vf} v CROSS JOIN lam, generate_series(1, {_DIM}) g(i)"
    )


@q("emb_pca_power", _pca_power_sql())
def emb_pca_power(spark, sf_dir):
    """TOP PRINCIPAL COMPONENT by power iteration — the PCA pass a
    representation pipeline runs over its embedding corpus (whitening,
    drift detection, anisotropy checks). The DATA-scale work — the
    covariance matrix — is the distributed exact-dyadic two-phase
    aggregation of emb_covariance; the MODEL-scale work — power
    iteration on the 64x64 matrix — runs driver-side (the same
    size-gated driver/model split as the k-means centroid updates and
    the CC union-find: the matrix is O(dim^2), independent of corpus
    size).

    Cross-engine exactness: the covariance cells are round-6 decimals
    (identical doubles in both engines); every matvec and norm folds
    SEQUENTIALLY in ascending index order (Python loop here, list_sum
    over generate_series in the oracle); each iteration re-quantizes the
    normalized vector to 20 fractional bits with floor — so all 8
    iterations stay bit-identical and the output loadings hash EXACT.
    The eigenvalue is the Rayleigh quotient of the final vector."""
    import math

    cov_rows = (
        emb_covariance(spark, sf_dir)
        .collect()
    )
    C = [[0.0] * _DIM for _ in range(_DIM)]
    for r in cov_rows:
        C[r["i"]][r["j"]] = r["cov"]
        C[r["j"]][r["i"]] = r["cov"]

    def matvec(v):
        out = []
        for i in range(_DIM):
            acc = 0.0
            ci = C[i]
            for j in range(_DIM):
                acc = acc + ci[j] * v[j]
            out.append(acc)
        return out

    def seq_sum(xs):
        acc = 0.0
        for x in xs:
            acc = acc + x
        return acc

    v = [0.125] * _DIM
    for _ in range(_PCA_ITERS):
        w = matvec(v)
        nrm = math.sqrt(seq_sum([x * x for x in w]))
        v = [float(math.floor(x / nrm * _PCA_QBITS)) / _PCA_QBITS for x in w]
    wf = matvec(v)
    lam = seq_sum([a * b for a, b in zip(v, wf)]) / seq_sum(
        [a * a for a in v]
    )
    # floor(x*1e6 + 0.5)/1e6 — the repo's tie-exact quantizer (Python
    # round() is banker's, DuckDB round() is half-away; floor agrees).
    lam = float(math.floor(lam * 1_000_000 + 0.5)) / 1_000_000
    return spark.createDataFrame(
        [(i, v[i], lam) for i in range(_DIM)],
        "dim int, loading double, eigenvalue double",
    )


def _cluster_topterms_sql(topn: int = 3) -> str:
    """Cluster-topterms twin: the seeded-Lloyd assignment chain joined to
    a per-cluster TF-IDF over the documents table (doc_id == vec_id in
    the fixture corpus)."""
    ctes = _kmeans_ctes()
    ctes += [
        f"assign AS (SELECT vec_id, cid AS cluster FROM a{_ITERS})",
        "doc_terms AS (SELECT d.doc_id, unnest(string_split(d.text, ' ')) "
        "AS term FROM documents d)",
        "n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM doc_terms)",
        "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df "
        "FROM doc_terms GROUP BY term)",
        "ctf AS (SELECT a.cluster, t.term, count(*) AS tf "
        "FROM doc_terms t JOIN assign a ON a.vec_id = t.doc_id "
        "GROUP BY a.cluster, t.term)",
        "cscored AS (SELECT ctf.cluster, ctf.term, ctf.tf, "
        "ctf.tf * round(ln(n.n * 1.0 / d.df), 6) AS score "
        "FROM ctf JOIN dfreq d USING (term) CROSS JOIN n_docs n)",
    ]
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT cluster, term, tf, round(score, 6) AS tfidf, rank FROM ("
        "SELECT cluster, term, tf, score, row_number() OVER ("
        "PARTITION BY cluster ORDER BY round(score, 6) DESC, term) AS rank "
        f"FROM cscored) WHERE rank <= {topn}"
    )


@q("t_cluster_topterms", _cluster_topterms_sql())
def t_cluster_topterms(spark, sf_dir):
    """CLUSTER CHARACTERIZATION — the cross-modal join a curation
    pipeline runs after clustering its embeddings: each k-means cluster
    of the embedding space is labeled by the top TF-IDF terms of its
    member DOCUMENTS (doc_id == vec_id in the corpus), turning opaque
    cluster ids into human-readable domain descriptions.

    Scale shape: the cluster assignment is emb_kmeans_assign's broadcast-
    centroid plan; the assignment table (one small int per vector) joins
    the exploded term stream on the row key — co-partitioned with the
    term aggregation that follows, so the corpus-scale explode crosses
    exactly one shuffle; document frequencies reuse the same explode,
    and the vocabulary-scale scored table takes a per-cluster window for
    the top-3. Same round-before-multiply float discipline as
    t_tfidf_topterms."""
    from xova_spark.queries.textops import _docs as _tdocs

    assign = emb_kmeans_assign(spark, sf_dir).select("vec_id", "cluster")
    (docs,) = _tdocs(spark, sf_dir)
    doc_terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    n_docs = docs.select("doc_id").distinct().count()
    dfreq = doc_terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    ctf = (
        doc_terms.join(assign, doc_terms["doc_id"] == assign["vec_id"])
        .groupBy("cluster", "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = ctf.join(dfreq, "term").select(
        "cluster",
        "term",
        "tf",
        (
            F.col("tf") * F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6)
        ).alias("score"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc(F.round("score", 6)), "term"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("cluster", "term", "tf", F.round("score", 6).alias("tfidf"), "rank")
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index (the `xova-spark-extras index` / `search` CLI)
# ---------------------------------------------------------------------------


def ivfpq_index_build(spark, sf_dir):
    """Build the persistable IVF-PQ index over <sf_dir>/embeddings:
    returns (code_table_df, codebook_rows, centroid_rows). The code
    table carries (vec_id, code0..M-1, cell) — written partitioned BY
    CELL so a search's probe set prunes parquet partitions; codebooks
    and coarse centroids are model-scale row lists."""
    codes, cents = _pq_fit(spark, sf_dir)
    e = _emb_dyadic(spark, sf_dir)
    assigned = _ivfpq_cellrank_shared(spark, sf_dir).filter(
        F.col("rn") == 1
    ).select("vec_id", F.col("cent_id").alias("cell"))
    table = codes.join(assigned, "vec_id")
    codebook_rows = [
        (m, int(c), [float(v) for v in cv])
        for (m, c), cv in sorted(cents.items())
    ]
    centroid_rows = [
        (int(r["vec_id"]), [float(v) for v in r["emb"]])
        for r in e.filter(F.col("vec_id") < _IVFPQ_CELLS).collect()
    ]
    return table, codebook_rows, centroid_rows


def _seq_fold_dist(q, cv):
    acc = 0.0
    for x, y in zip(q, cv):
        acc = acc + (x - y) * (x - y)
    return acc


def ivfpq_index_search(spark, index_dir, data_dir, qids, k=5,
                       nprobe=_IVFPQ_NPROBE):
    """Search a PERSISTED IVF-PQ index: the model-scale artifacts
    (codebooks, coarse centroids) load driver-side; each query computes
    its probe cells and M x K lookup table in the same sequential-fold
    arithmetic the builder used (dyadic inputs make the folds exact, so
    results are bit-identical to the in-session ann_ivfpq_topk); the
    corpus-scale work is ONE scan of the code table filtered to the
    union of probe cells — which the cell-partitioned layout turns into
    parquet partition pruning."""
    import os

    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    cents = {
        (int(r["m"]), int(r["cid"])): list(r["cv"])
        for r in spark.read.parquet(
            os.path.join(index_dir, "codebooks")
        ).collect()
    }
    coarse = {
        int(r["cent_id"]): list(r["cemb"])
        for r in spark.read.parquet(
            os.path.join(index_dir, "centroids")
        ).collect()
    }
    qvecs = {
        int(r["vec_id"]): list(r["emb"])
        for r in load_tables(spark, data_dir, ("embeddings",))["embeddings"]
        .filter(F.col("vec_id").isin([int(q) for q in qids]))
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1024) / 1024,
            ).alias("emb"),
        )
        .collect()
    }
    return ivfpq_search_frame(spark, codes, cents, coarse, qvecs, k, nprobe)


def ivfpq_search_frame(spark, codes, cents, coarse, qvecs, k=5,
                       nprobe=_IVFPQ_NPROBE):
    """The IVF-PQ search core over a cell-carrying code table: given
    driver-side model artifacts (PQ codebooks ``cents``, coarse
    centroids ``coarse``) and quantized query vectors ``qvecs``,
    compute probe cells + M x K lookup tables with the sequential-fold
    arithmetic the builder used, and score only the probed cells.
    Shared by the persisted-index search and the streaming search
    (one call per arriving micro-batch of queries)."""
    import math

    cnrm = {c: math.sqrt(sum(x * x for x in v)) for c, v in coarse.items()}
    probe_rows, lut_rows = [], []
    for qid, qv in sorted(qvecs.items()):
        qn = math.sqrt(sum(x * x for x in qv))
        ranked = sorted(
            (
                (-(sum(a * b for a, b in zip(qv, cv)) / (qn * cnrm[c])), c)
                for c, cv in coarse.items()
            ),
        )[:nprobe]
        probe_rows += [(qid, c) for _, c in ranked]
        luts = [
            [
                _seq_fold_dist(
                    qv[m * _PQ_SUB : (m + 1) * _PQ_SUB], cents[(m, c)]
                )
                for c in range(_PQ_K)
            ]
            for m in range(_PQ_M)
        ]
        lut_rows.append((qid, luts))
    probe_cells = sorted({c for _, c in probe_rows})
    probes = spark.createDataFrame(probe_rows, "qid long, pcell int")
    lut_wide = spark.createDataFrame(
        lut_rows, "lqid long, luts array<array<double>>"
    )
    scored = (
        codes.where(F.col("cell").isin(probe_cells))  # partition pruning
        .join(F.broadcast(probes), F.col("cell") == F.col("pcell"))
        .join(F.broadcast(lut_wide), F.col("qid") == F.col("lqid"))
    )
    score = _lut_score()
    w = Window.partitionBy("qid").orderBy("score", "cid")
    return (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("score", 6).alias("pq_dist"), "rank")
    )


@q("ann_ivfpq_recall_at5", _ivfpq_recall_sql())
def ann_ivfpq_recall_at5(spark, sf_dir):
    """MEASURED RECALL of the IVF-PQ composite against the exact-cosine
    brute-force referee — the same discipline as ann_recall_at5 /
    ann_quantized_recall_at5: every approximate path in this engine
    ships with its recall measured, not assumed. The exact side is
    declared brute force (the referee); the approximate side is the
    production path."""
    approx = ann_ivfpq_topk(spark, sf_dir).select("qid", "cid")
    _e, nv, _cellrank = _coarse_cellrank(spark, sf_dir)
    queries = nv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand = nv.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    ex_top = (
        queries.crossJoin(F.broadcast(cand))
        .filter(F.col("cid") != F.col("qid"))
        .withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid")
    )
    hit = approx.withColumn("hit", F.lit(1))
    return (
        ex_top.join(hit, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(
            F.count("hit").cast("int").alias("n_hits"),
            F.round(F.count("hit") / 5.0, 6).alias("recall_at_5"),
        )
    )


@q("emb_covariance_gram", _COV_SQL)
def emb_covariance_gram(spark, sf_dir):
    """WIDE-DIM covariance scale path: per-Arrow-batch numpy Gramian
    (X^T X) via mapInPandas — the BLAS variant the emb_covariance
    docstring promises for very wide vectors. Each batch emits ONE
    dim x dim partial Gramian plus a per-dim moment row instead of
    O(rows x dim^2) exploded products, so pre-shuffle volume is
    O(batches x dim^2), independent of row count; the shuffle then sums
    partials over at most dim^2/2 + dim keys.

    Exactness: inputs are dyadic (10 fractional bits), so every product
    in the BLAS dgemm is exact and the partial sums are exact doubles in
    ANY accumulation order — numpy's blocked summation included — which
    is why this variant shares emb_covariance's oracle verbatim. The
    final subtract/divide runs once per cell in the same textual order."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    e = _emb(spark, sf_dir).select(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1024) / 1024,
        ).alias("emb"),
    )
    n = _emb(spark, sf_dir).count()

    def gram(batches):
        import numpy as np
        import pandas as pd

        iu0, iu1 = np.triu_indices(_DIM)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["emb"].to_numpy())
            G = X.T @ X
            m = X.sum(axis=0)
            yield pd.DataFrame(
                {"i": iu0, "j": iu1, "s": G[iu0, iu1]}
            )
            yield pd.DataFrame(
                {"i": np.arange(_DIM), "j": np.full(_DIM, -1), "s": m}
            )

    parts = e.mapInPandas(gram, "i int, j int, s double")
    agg = parts.groupBy("i", "j").agg(F.sum("s").alias("s"))
    moments = agg.filter(F.col("j") == -1).select(
        F.col("i").alias("mi"), F.col("s").alias("m")
    )
    pairs = agg.filter(F.col("j") >= 0)
    ma = moments.select(F.col("mi"), F.col("m").alias("m_i"))
    mb = moments.select(F.col("mi").alias("mj"), F.col("m").alias("m_j"))
    return (
        pairs.join(F.broadcast(ma), F.col("i") == F.col("mi"))
        .join(F.broadcast(mb), F.col("j") == F.col("mj"))
        .select(
            "i",
            "j",
            F.round(
                (F.col("s") - F.col("m_i") * F.col("m_j") / F.lit(float(n)))
                / F.lit(float(n)),
                6,
            ).alias("cov"),
        )
    )


@q(
    "t_ngram_novelty",
    f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), df AS (
      SELECT s, count(*) AS df FROM ex GROUP BY s
    ), per AS (
      SELECT e.doc_id, count(*) AS n_grams,
             sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_unique
      FROM ex e JOIN df d USING (s) GROUP BY e.doc_id
    )
    SELECT doc_id, n_grams, CAST(n_unique AS BIGINT) AS n_unique,
           round(n_unique * 1.0 / n_grams, 6) AS novelty
    FROM per
    """,
)
def t_ngram_novelty(spark, sf_dir):
    """N-GRAM NOVELTY — the memorization/boilerplate curation signal:
    per document, the fraction of its distinct word n-grams that occur
    in NO other document (corpus document-frequency = 1). Low novelty
    marks template/boilerplate-heavy documents whose content is mostly
    shared; high novelty marks unique text. The complement of the
    chunk-level dedup signal (t_chunk_boilerplate) at n-gram grain.

    Scale shape: one explode of per-doc distinct shingles feeds the
    gram-keyed df aggregation and the df join back — both key on the
    gram, so AQE reuses the exchange — then one doc-keyed partial
    aggregation. Nothing quadratic; the same skeleton as TF-IDF."""
    # Both the df aggregation and the df join-back scan the shingle
    # arrays — the shared per-doc array frame (the corpus_funnel
    # decontam measurement: recomputing the shingle chain per consumer
    # is the dominant cost, not the joins).
    sh = _doc_shingle_arrays(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    df = ex.groupBy("s").agg(F.count("*").alias("df"))
    per = (
        ex.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_unique",
        F.round(F.col("n_unique") * F.lit(1.0) / F.col("n_grams"), 6).alias(
            "novelty"
        ),
    )


def _emb_e2e_sql() -> str:
    """Embedding-funnel twin: quality gate -> exact dedup -> cluster
    join (seeded-Lloyd CTE chain) -> per-cluster audit."""
    ctes = _kmeans_ctes()
    ctes += [
        "qd AS (SELECT doc_id, lang, md5(text) AS h, "
        "string_split(text, ' ') AS words FROM documents)",
        "filt AS (SELECT doc_id, lang, h, "
        "len(list_distinct(words)) * 1.0 / len(words) AS uniq FROM qd "
        "WHERE len(words) BETWEEN 20 AND 1000 "
        "AND len(list_distinct(words)) * 1.0 / len(words) > 0.2)",
        "dd AS (SELECT doc_id, lang, uniq FROM ("
        "SELECT doc_id, lang, uniq, row_number() OVER ("
        "PARTITION BY h ORDER BY doc_id) AS rn FROM filt) WHERE rn = 1)",
        f"jn AS (SELECT d.doc_id, d.lang, d.uniq, a.cid AS cluster, "
        f"round(a.d, 6) AS dist FROM dd d "
        f"JOIN a{_ITERS} a ON a.vec_id = d.doc_id)",
        "cagg AS (SELECT cluster, count(*) AS n_docs, "
        "round(avg(uniq), 6) AS avg_uniq, round(avg(dist), 6) AS avg_dist "
        "FROM jn GROUP BY cluster)",
        "cl AS (SELECT cluster, lang, count(*) AS c FROM jn GROUP BY 1, 2)",
        "dom AS (SELECT cluster, lang AS top_lang FROM ("
        "SELECT cluster, lang, row_number() OVER ("
        "PARTITION BY cluster ORDER BY c DESC, lang) AS rn FROM cl) "
        "WHERE rn = 1)",
    ]
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT cagg.cluster, n_docs, avg_uniq, avg_dist, top_lang "
        "FROM cagg JOIN dom USING (cluster)"
    )


@q("pipeline_embedding_e2e", _emb_e2e_sql())
def pipeline_embedding_e2e(spark, sf_dir):
    """THE EMBEDDING CURATION FUNNEL, one declarative chain — the
    vector-side sibling of pipeline_corpus_e2e: quality-gate the
    documents (the t_quality_score keep rule), exact-dedup survivors
    (min doc_id per content hash), join the deduped corpus to its
    embedding clusters (emb_kmeans_assign), and audit each cluster —
    size, mean lexical diversity, mean distance-to-centroid, dominant
    language. This is the health dashboard a curation run reads per
    cluster before deciding sampling weights.

    Scale shape: corpus-side ops are the corpus_funnel shapes (per-row
    projections + one hash-keyed dedup window); the cluster join keys
    on the row id against the kmeans assignment (broadcast-centroid
    plan); the audits partial-aggregate into K-scale outputs. Order-
    dependent float means are round(6) on BOTH sides (module
    discipline)."""
    docs = _docs(spark, sf_dir)
    words = F.split("text", " ")
    n = F.size(words)
    uniq = F.size(F.array_distinct(words)) * F.lit(1.0) / n
    filt = docs.filter(n.between(20, 1000) & (uniq > 0.2)).select(
        "doc_id", "lang", F.md5("text").alias("h"), uniq.alias("uniq")
    )
    wdup = Window.partitionBy("h").orderBy("doc_id")
    dd = (
        filt.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "uniq")
    )
    assign = emb_kmeans_assign(spark, sf_dir)
    jn = dd.join(
        assign, dd["doc_id"] == assign["vec_id"]
    ).select("doc_id", "lang", "uniq", "cluster", F.col("dist_sq").alias("dist"))
    cagg = jn.groupBy("cluster").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("uniq"), 6).alias("avg_uniq"),
        F.round(F.avg("dist"), 6).alias("avg_dist"),
    )
    cl = jn.groupBy("cluster", "lang").agg(F.count("*").alias("c"))
    wdom = Window.partitionBy("cluster").orderBy(F.desc("c"), "lang")
    dom = (
        cl.withColumn("rn", F.row_number().over(wdom))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("lang").alias("top_lang"))
    )
    return cagg.join(dom, "cluster").select(
        "cluster", "n_docs", "avg_uniq", "avg_dist", "top_lang"
    )


@q(
    "t_dup_rate_by_source",
    """
    WITH g AS (
      SELECT source, md5(text) AS h, count(*) AS cnt
      FROM documents GROUP BY source, md5(text)
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_docs,
           count(*) AS n_unique,
           round(1 - count(*) * 1.0 / sum(cnt), 6) AS dup_rate
    FROM g GROUP BY source
    """,
)
def t_dup_rate_by_source(spark, sf_dir):
    """DUPLICATION RATE per source — the per-provenance health metric a
    curation run reads before weighting sources (a crawl slice with 40%
    dup rate gets discounted before mixing). Two-phase formulation
    ((source, hash) partial counts, then per-source rollup) instead of
    count(*) + count(DISTINCT ...) in one aggregate — the mixed-distinct
    form costs an Expand (every row duplicated per aggregate) at any
    scale; this shape shuffles each row once."""
    docs = _docs(spark, sf_dir)
    g = docs.groupBy("source", F.md5("text").alias("h")).agg(
        F.count("*").alias("cnt")
    )
    return g.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.round(
            F.lit(1) - F.count("*") * F.lit(1.0) / F.sum("cnt"), 6
        ).alias("dup_rate"),
    )


def _pca_project_sql() -> str:
    """Projection twin: the power-iteration chain's final vector applied
    to every (mean-centered) embedding — same sequential fold."""
    parts = _pca_parts()
    vf = f"v{_PCA_ITERS}"
    parts.append(
        f"mulist AS (SELECT list(m.m / n.n ORDER BY m.i) AS mu "
        f"FROM m CROSS JOIN n_rows n)"
    )
    coord = (
        f"list_sum(list_transform(generate_series(1, {_DIM}),"
        " i -> v.vs[i] * (e.emb[i] - mm.mu[i])))"
    )
    return (
        "WITH "
        + ", ".join(pp.replace(" AS (", " AS MATERIALIZED (", 1) for pp in parts)
        + f" SELECT e.vec_id, round({coord}, 6) AS pc1 "
        f"FROM e CROSS JOIN {vf} v CROSS JOIN mulist mm"
    )


@q("emb_pca_project", _pca_project_sql())
def emb_pca_project(spark, sf_dir):
    """PCA PROJECTION — the dimensionality-reduction op that CONSUMES
    the learned component: every embedding's coordinate along the top
    principal direction, mean-centered (the 1-D code used for
    visualization, binning, or as the first rotation of a whitening
    pass). The component and the per-dim means are model-scale driver
    artifacts; the projection itself is one scan with a fixed
    sequential fold per row — bit-identical to the oracle's list_sum.

    At 100 TB: broadcast-literal vector x one narrow scan, no shuffle
    at all — the cheapest possible per-row transform."""
    import math  # noqa: F401

    pca = emb_pca_power(spark, sf_dir).collect()
    v = [0.0] * _DIM
    for r in pca:
        v[r["dim"]] = r["loading"]
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1024) / 1024,
        ).alias("emb"),
    )
    n = e.count()
    msum = {
        int(r["i"]): float(r["s"])
        for r in e.select(F.posexplode("emb").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .collect()
    }
    mu = [msum[i] / float(n) for i in range(_DIM)]
    v_arr = F.array(*[F.lit(float(x)) for x in v])
    mu_arr = F.array(*[F.lit(float(x)) for x in mu])
    centered = F.zip_with("emb", mu_arr, lambda x, m: x - m)
    coord = F.aggregate(
        F.zip_with(v_arr, centered, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select("vec_id", F.round(coord, 6).alias("pc1"))


# ---------------------------------------------------------------------------
# Residual-encoded IVF-PQ (true IVFADC): PQ codebooks over cell residuals
# ---------------------------------------------------------------------------


def _ivfadc_sql(n_queries: int = 10, topk: int = 5) -> str:
    """IVFADC twin: the coarse cell machinery, RESIDUAL vectors
    (x - cell centroid; seed centroids are dyadic, so residuals stay
    exact), the Lloyd chain over residuals, and per-(query, probe-cell)
    residual lookup tables."""
    dot = (
        lambda a, b: f"list_sum(list_transform(generate_series(1, {_DIM}),"
        f" i -> {a}[i] * {b}[i]))"
    )
    parts = [
        f"e AS (SELECT vec_id, {_DUCK_Q} AS emb FROM embeddings)",
        f"nv AS (SELECT vec_id, emb, sqrt({dot('emb', 'emb')}) AS nrm FROM e)",
        f"cent AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm "
        f"FROM nv WHERE vec_id < {_IVFPQ_CELLS})",
        "cellrank AS (SELECT n.vec_id, c.cent_id, row_number() OVER ("
        "PARTITION BY n.vec_id ORDER BY "
        f"{dot('n.emb', 'c.cemb')} / (n.nrm * c.cnrm) DESC, c.cent_id) AS rn "
        "FROM nv n CROSS JOIN cent c)",
        "assigned AS (SELECT vec_id, cent_id AS cell FROM cellrank WHERE rn = 1)",
        f"probes AS (SELECT vec_id AS qid, cent_id AS pcell FROM cellrank "
        f"WHERE vec_id < {n_queries} AND rn <= {_IVFPQ_NPROBE})",
        f"e_res AS (SELECT e.vec_id, "
        f"list_transform(generate_series(1, {_DIM}), "
        f"i -> e.emb[i] - c.cemb[i]) AS emb "
        f"FROM e JOIN assigned a ON a.vec_id = e.vec_id "
        f"JOIN cent c ON c.cent_id = a.cell)",
    ]
    rparts, sels, joins = _pq_ctes(src="e_res", define_source=False)
    parts += rparts
    parts.append(
        f"codes AS (SELECT e_res.vec_id, {', '.join(sels)} FROM e_res {joins})"
    )
    parts.append(
        f"qr AS (SELECT p.qid, p.pcell, "
        f"list_transform(generate_series(1, {_DIM}), "
        f"i -> q.emb[i] - c.cemb[i]) AS emb "
        f"FROM probes p JOIN e q ON q.vec_id = p.qid "
        f"JOIN cent c ON c.cent_id = p.pcell)"
    )
    for m in range(_PQ_M):
        lo = m * _PQ_SUB
        dist = (
            f"list_sum(list_transform(generate_series(1, {_PQ_SUB}),"
            f" i -> (q.emb[{lo} + i] - c.cv[i]) * (q.emb[{lo} + i] - c.cv[i])))"
        )
        parts.append(
            f"lut{m} AS (SELECT q.qid, q.pcell, c.cid, {dist} AS d "
            f"FROM qr q CROSS JOIN q{m}c{_PQ_ITERS} c)"
        )
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.qid = p.qid AND l{m}.pcell = p.pcell "
        f"AND l{m}.cid = v.code{m}"
        for m in range(_PQ_M)
    )
    score = " + ".join(f"l{m}.d" for m in range(_PQ_M))
    parts.append(
        f"scored AS (SELECT p.qid, v.vec_id AS cid, {score} AS score "
        f"FROM codes v JOIN assigned a ON a.vec_id = v.vec_id "
        f"JOIN probes p ON p.pcell = a.cell "
        f"{lut_joins} WHERE v.vec_id != p.qid)"
    )
    parts.append(
        "ranked AS (SELECT qid, cid, score, row_number() OVER "
        "(PARTITION BY qid ORDER BY score, cid) AS rank FROM scored)"
    )
    return (
        "WITH " + ", ".join(_materialize(parts))
        + f" SELECT qid, cid, round(score, 6) AS pq_dist, rank "
        f"FROM ranked WHERE rank <= {topk}"
    )


@q("ann_ivfadc_topk", _ivfadc_sql())
def ann_ivfadc_topk(spark, sf_dir):
    """RESIDUAL-ENCODED IVF-PQ — the true IVFADC of Jegou et al.: PQ
    codebooks are trained on RESIDUALS (x minus the assigned coarse
    centroid), which is what production systems quantize — residual
    energy is far lower than raw-vector energy, so the same codebook
    budget spends its precision near the cell center. Each query builds
    one M x K lookup table PER PROBED CELL (its residual against that
    cell), and candidates score by their residual codes.

    Oracle-exactness is only possible because the coarse quantizer uses
    SEED vectors (dyadic): residuals are exact dyadic differences, so
    the Lloyd chain over residuals stays bit-identical cross-engine —
    a k-means-trained coarse quantizer would break the hash gate (its
    centroids are averages), which is why that variant stays a
    roadmap item, not a silent approximation.

    Scale shape: identical to ann_ivfpq_topk (one pruned code scan; the
    per-(query, cell) LUTs are still model-scale: n_q x nprobe x M x K
    doubles)."""
    e = _emb_dyadic(spark, sf_dir)
    cr = _ivfpq_cellrank_shared(spark, sf_dir)
    assigned = cr.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cent_id").alias("cell")
    )
    probes = cr.filter(
        (F.col("vec_id") < 10) & (F.col("rn") <= _IVFPQ_NPROBE)
    ).select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("pcell"))
    cent = e.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
    )
    e_res = (
        e.join(assigned, "vec_id")
        .join(F.broadcast(cent), F.col("cell") == F.col("cent_id"))
        .select(
            "vec_id",
            F.zip_with("emb", "cemb", lambda x, c: x - c).alias("emb"),
        )
    )
    codes, cents = _pq_fit_frame(
        spark,
        (spark.sparkContext.applicationId, sf_dir, "ivfadc_residual"),
        e_res
    )
    # Per-(query, cell) residual LUTs — a model artifact derived from
    # the memoized residual codebooks + the 10 query vectors + the
    # probe list, all deterministic per (session, sf_dir); memoized
    # like _PQ_FIT_CACHE so each run skips the three prep collects.
    prep_key = (spark.sparkContext.applicationId, sf_dir, "ivfadc_prep")
    prep = _IVFADC_PREP_CACHE.get(prep_key)
    if prep is None:
        coarse = {
            int(r["cent_id"]): list(r["cemb"]) for r in cent.collect()
        }
        qvecs = {
            int(r["vec_id"]): list(r["emb"])
            for r in e.filter(F.col("vec_id") < 10).collect()
        }
        probe_rows = [
            (int(r["qid"]), int(r["pcell"])) for r in probes.collect()
        ]
        lut_rows = []
        for qid, pcell in sorted(probe_rows):
            qres = [x - c for x, c in zip(qvecs[qid], coarse[pcell])]
            # residual Lloyd clusters can go EMPTY (residual energy
            # bunches near zero) — a dead (m, cid) slot is never
            # referenced by any code (argmin only picks surviving
            # centroids, in both engines), so its LUT slot is an
            # arbitrary placeholder
            luts = [
                [
                    _seq_fold_dist(
                        qres[m * _PQ_SUB : (m + 1) * _PQ_SUB], cents[(m, c)]
                    )
                    if (m, c) in cents
                    else 0.0
                    for c in range(_PQ_K)
                ]
                for m in range(_PQ_M)
            ]
            lut_rows.append((qid, pcell, luts))
        lut_wide = spark.createDataFrame(
            lut_rows, "lqid long, lpcell int, luts array<array<double>>"
        )
        probes_df = spark.createDataFrame(
            sorted(probe_rows), "qid long, pcell int"
        )
        prep = (lut_wide, probes_df)
        _IVFADC_PREP_CACHE[prep_key] = prep
    lut_wide, probes_df = prep
    scored = (
        codes.join(assigned, "vec_id")
        .join(F.broadcast(probes_df), F.col("cell") == F.col("pcell"))
        .join(
            F.broadcast(lut_wide),
            (F.col("qid") == F.col("lqid"))
            & (F.col("pcell") == F.col("lpcell")),
        )
    )
    score = _lut_score()
    w = Window.partitionBy("qid").orderBy("score", "cid")
    return (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", F.round("score", 6).alias("pq_dist"), "rank")
    )


# ---------------------------------------------------------------------------
# Trained-cells IVF-PQ: the fully-learned composite (k-means coarse
# quantizer + PQ codebooks)
# ---------------------------------------------------------------------------

_IVFKMPQ_CITERS = 2  # Lloyd updates for the coarse quantizer

# Trained coarse-quantizer centroids — train-once/search-many per
# (session, sf_dir), the _PQ_FIT_CACHE discipline.
_IVFKM_TRAIN_CACHE: dict[tuple, dict] = register_cache({})


def _ivfkm_train(spark, sf_dir, k: int = _IVFPQ_CELLS,
                 iters: int = _IVFKMPQ_CITERS) -> dict:
    """Lloyd k-means coarse-quantizer training on the shared dyadic
    frame, memoized per (session, sf_dir, k, iters): ann_ivfkm_topk,
    ann_ivfkm_recall_at3 and ann_ivfkm_pq_topk each re-ran the
    identical training chain (one assignment cross join + one k·dim
    partial-agg COLLECT per iteration — 3 driver jobs) at EVERY query
    construction. Dyadic inputs make the centroid sums exact in IEEE
    double regardless of aggregation order, so the trained dict is
    bit-identical whichever entry builds it first."""
    key = (spark.sparkContext.applicationId, sf_dir, k, iters)
    hit = _IVFKM_TRAIN_CACHE.get(key)
    if hit is not None:
        return hit
    emb = _emb_dyadic(spark, sf_dir)
    cents = {
        r["vec_id"]: list(r["emb"])
        for r in emb.filter(F.col("vec_id") < k).collect()
    }
    for _ in range(iters):
        cdf = spark.createDataFrame(
            [
                (int(cid), [float(v) for v in cv])
                for cid, cv in sorted(cents.items())
            ],
            "cid int, cv array<double>",
        )
        d = F.aggregate(
            F.zip_with("emb", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("vec_id").orderBy("d", "cid")
        a = (
            emb.crossJoin(F.broadcast(cdf))
            .select("vec_id", "cid", d.alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        upd = (
            a.join(emb, "vec_id")
            .select("cid", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg((F.sum("x") / F.count("*")).alias("v"))
            .collect()
        )
        new_c: dict[int, list[float]] = {}
        for row in upd:
            new_c.setdefault(row["cid"], [0.0] * _DIM)[row["dim"]] = row["v"]
        cents = new_c
    _IVFKM_TRAIN_CACHE[key] = cents
    return cents


def _ivfkm_cellrank_shared(spark, sf_dir):
    """Narrow (vec_id, cid, rn) ranking of every vector against the
    TRAINED coarse centroids — SHARED per (session, sf_dir) and
    localCheckpointed (the _kmeans_top2 / _ivfpq_cellrank_shared
    lesson): ann_ivfkm_topk and ann_ivfkm_pq_topk each consumed the
    post-training ranking twice per run (assigned + probes)."""

    def build():
        cents = _ivfkm_train(spark, sf_dir)
        emb = _emb_dyadic(spark, sf_dir)
        cdf = spark.createDataFrame(
            [
                (int(cid), [float(v) for v in cv])
                for cid, cv in sorted(cents.items())
            ],
            "cid int, cv array<double>",
        )
        d = F.aggregate(
            F.zip_with("emb", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("vec_id").orderBy("d", "cid")
        return (
            emb.crossJoin(F.broadcast(cdf))
            .select("vec_id", "cid", d.alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .select("vec_id", "cid", "rn")
            .localCheckpoint()
        )

    return shared(spark, ("ivfkm_cellrank", sf_dir), build)


def _ivfkm_pq_parts(n_queries: int = 10) -> list:
    """IVF-PQ with a TRAINED coarse quantizer: same PQ chain, but the
    cells come from full-vector Lloyd k-means (squared L2 on the
    dyadic-quantized embeddings — similarity.ann_ivfkm_topk's recipe),
    so BOTH quantization levels are learned."""
    parts, sels, joins = _pq_ctes()
    cd = (
        f"list_sum(list_transform(generate_series(1, {_DIM}),"
        " i -> (x.emb[i] - c.cv[i]) * (x.emb[i] - c.cv[i])))"
    )
    parts.append(
        f"cc0 AS (SELECT vec_id AS cid, emb AS cv FROM e "
        f"WHERE vec_id < {_IVFPQ_CELLS})"
    )
    for it in range(_IVFKMPQ_CITERS + 1):
        parts.append(
            f"cs{it} AS (SELECT x.vec_id, c.cid, {cd} AS d "
            f"FROM e x CROSS JOIN cc{it} c)"
        )
        parts.append(
            f"ca{it} AS (SELECT vec_id, cid FROM ("
            f"SELECT vec_id, cid, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY d, cid) AS rn FROM cs{it}"
            f") WHERE rn = 1)"
        )
        if it < _IVFKMPQ_CITERS:
            parts.append(
                f"cm{it} AS (SELECT a.cid, g.i AS dim, "
                f"sum(x.emb[g.i]) / count(*) AS v "
                f"FROM ca{it} a JOIN e x USING (vec_id), "
                f"generate_series(1, {_DIM}) g(i) GROUP BY a.cid, g.i)"
            )
            parts.append(
                f"cc{it + 1} AS (SELECT cid, list(v ORDER BY dim) AS cv "
                f"FROM cm{it} GROUP BY cid)"
            )
    parts.append(
        f"assigned AS (SELECT vec_id, cid AS cell FROM ca{_IVFKMPQ_CITERS})"
    )
    parts.append(
        f"probes AS (SELECT vec_id AS qid, cid AS pcell FROM ("
        f"SELECT vec_id, cid, row_number() OVER "
        f"(PARTITION BY vec_id ORDER BY d, cid) AS rn "
        f"FROM cs{_IVFKMPQ_CITERS} WHERE vec_id < {n_queries}"
        f") WHERE rn <= {_IVFPQ_NPROBE})"
    )
    parts.append(
        f"codes AS (SELECT e.vec_id, {', '.join(sels)} FROM e {joins})"
    )
    parts.append(
        f"qs AS (SELECT vec_id AS qid, emb FROM e WHERE vec_id < {n_queries})"
    )
    for m in range(_PQ_M):
        lo = m * _PQ_SUB
        dist = (
            f"list_sum(list_transform(generate_series(1, {_PQ_SUB}),"
            f" i -> (q.emb[{lo} + i] - c.cv[i]) * (q.emb[{lo} + i] - c.cv[i])))"
        )
        parts.append(
            f"lut{m} AS (SELECT q.qid, c.cid, {dist} AS d "
            f"FROM qs q CROSS JOIN q{m}c{_PQ_ITERS} c)"
        )
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.qid = p.qid AND l{m}.cid = v.code{m}"
        for m in range(_PQ_M)
    )
    score = " + ".join(f"l{m}.d" for m in range(_PQ_M))
    parts.append(
        f"scored AS (SELECT p.qid, v.vec_id AS cid, {score} AS score "
        f"FROM codes v JOIN assigned a ON a.vec_id = v.vec_id "
        f"JOIN probes p ON p.pcell = a.cell "
        f"{lut_joins} WHERE v.vec_id != p.qid)"
    )
    parts.append(
        "ranked AS (SELECT qid, cid, score, row_number() OVER "
        "(PARTITION BY qid ORDER BY score, cid) AS rank FROM scored)"
    )
    return parts


def _ivfkm_pq_topk_sql(n_queries: int = 10, topk: int = 5) -> str:
    return (
        "WITH " + ", ".join(_materialize(_ivfkm_pq_parts(n_queries)))
        + f" SELECT qid, cid, round(score, 6) AS pq_dist, rank "
        f"FROM ranked WHERE rank <= {topk}"
    )


@q("ann_ivfkm_pq_topk", _ivfkm_pq_topk_sql())
def ann_ivfkm_pq_topk(spark, sf_dir):
    """FULLY-TRAINED IVF-PQ — both quantization levels learned: cells
    from full-vector Lloyd k-means (K={_IVFPQ_CELLS},
    {_IVFKMPQ_CITERS} iterations, squared L2 on dyadic-quantized
    vectors — ann_ivfkm_topk's coarse stage) and PQ codebooks from the
    per-subspace Lloyd chain (_pq_fit). Queries probe their
    {_IVFPQ_NPROBE} nearest trained cells; candidates score by
    asymmetric PQ lookup distance. This is the production FAISS
    IVF{_IVFPQ_CELLS},PQ{_PQ_M} build exactly; the earlier seed-cell
    composite (ann_ivfpq_topk) remains as the variant whose cells need
    no training pass.

    Scale: coarse training is {_IVFKMPQ_CITERS} broadcast-assign +
    k·dim partial-sum rounds; everything after assignment is the
    ann_ivfpq_topk search plan (probes and LUTs broadcast; the code
    scan is the only full-corpus work, partition-prunable by cell)."""
    codes, _cents = _pq_fit(spark, sf_dir)

    # Training + the post-training ranking are memoized/shared (the
    # loop used to re-run 3 collect jobs per query construction and the
    # ranking cross join twice per run — _ivfkm_train/_ivfkm_cellrank);
    # the query LUTs are the shared global-codebook frame.
    final = _ivfkm_cellrank_shared(spark, sf_dir)
    assigned = final.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cid").alias("cell")
    )
    probes = final.filter(
        (F.col("vec_id") < 10) & (F.col("rn") <= _IVFPQ_NPROBE)
    ).select(F.col("vec_id").alias("qid"), F.col("cid").alias("pcell"))
    lut_wide = _global_lut_wide(spark, sf_dir).withColumnRenamed(
        "qid", "lqid"
    )
    scored = (
        codes.join(assigned, "vec_id")
        .join(F.broadcast(probes), F.col("cell") == F.col("pcell"))
        .join(F.broadcast(lut_wide), F.col("qid") == F.col("lqid"))
    )
    score = _lut_score()
    w = Window.partitionBy("qid").orderBy("score", "cid")
    out = (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", F.round("score", 6).alias("pq_dist"), "rank")
    )
    # (the former emb.unpersist() here silently dropped the SHARED
    # dyadic frame's persistence for every later consumer in the
    # session — clear_shared() owns that lifecycle)
    return out


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic deduplication
# ---------------------------------------------------------------------------

_SEMDEDUP_T = 0.45


def _semdedup_sql() -> str:
    ctes = _kmeans_ctes()
    d = _duck_dot("a.embedding", "b.embedding")
    return (
        "WITH " + ", ".join(ctes) + f""",
    asg AS (SELECT vec_id, cid FROM a{_ITERS}),
    nr AS (
      SELECT em.vec_id, asg.cid, em.embedding,
             sqrt({_duck_dot('em.embedding', 'em.embedding')}) AS nrm
      FROM embeddings em JOIN asg USING (vec_id)
    ), p AS (
      SELECT b.vec_id, max({d} / (a.nrm * b.nrm)) AS mc
      FROM nr a JOIN nr b ON a.cid = b.cid AND a.vec_id < b.vec_id
      GROUP BY b.vec_id
    )
    SELECT nr.vec_id, nr.cid AS cluster,
           round(coalesce(p.mc, -1.0), 6) AS max_cos_earlier,
           coalesce(p.mc, -1.0) < {_SEMDEDUP_T} AS keep
    FROM nr LEFT JOIN p USING (vec_id)
    """
    )


@q("dedup_semantic_prune", _semdedup_sql())
def dedup_semantic_prune(spark, sf_dir):
    """SEMDEDUP (Abbas et al. 2023) — the published scale path for
    embedding-level semantic dedup: k-means-cluster the corpus, then
    search for near-duplicates only WITHIN each cluster. A vector is
    pruned when some lower-id member of its own cluster has cosine >=
    {_SEMDEDUP_T} (deterministic keep-lowest-id rule; the paper keeps a
    random/centroid-extremal member — any fixed rule gives the same
    dedup rate). Output: per-vector cluster, max cosine to any earlier
    cluster-mate (-1 when none), and the keep decision.

    Scale shape: assignment is the memoized broadcast-centroid argmin
    (emb_kmeans_assign); the candidate self-join is an EQUI-join on the
    cluster id — quadratic only within cells (k chosen so cells fit,
    exactly the paper's trick), never corpus-quadratic like the
    dedup_embedding_cosine verifier. One (cluster)-keyed shuffle + one
    per-vector max. Recall vs the exhaustive verifier is measured in
    tests (pairs split across clusters are the misses — the paper's
    known trade)."""
    asg = emb_kmeans_assign(spark, sf_dir).select("vec_id", "cluster")
    emb = _emb(spark, sf_dir)
    nr = emb.join(asg, "vec_id").select(
        "vec_id",
        "cluster",
        "embedding",
        F.sqrt(_spark_dot("embedding", "embedding")).alias("nrm"),
    )
    a = nr.select(
        F.col("cluster").alias("cl"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = nr.select(
        F.col("cluster").alias("cl"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _spark_dot("ea", "eb") / (F.col("na") * F.col("nb"))
    p = (
        a.join(b, "cl")
        .filter(F.col("va") < F.col("vb"))
        .groupBy(F.col("vb").alias("vec_id"))
        .agg(F.max(cos).alias("mc"))
    )
    mc = F.coalesce(F.col("mc"), F.lit(-1.0))
    return nr.join(p, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.round(mc, 6).alias("max_cos_earlier"),
        (mc < F.lit(_SEMDEDUP_T)).alias("keep"),
    )


_SEM_CURVE_TS = (0.35, 0.45, 0.55)


def _sem_curve_sql() -> str:
    ctes = _kmeans_ctes()
    d = _duck_dot("a.embedding", "b.embedding")
    arms = ", ".join(
        f"sum(CASE WHEN mc >= {t} THEN 1 ELSE 0 END)" f" AS n_{int(t * 100)}"
        for t in _SEM_CURVE_TS
    )
    sel = ", ".join(
        f"CAST(n_{int(t * 100)} AS BIGINT) AS pruned_t{int(t * 100)},"
        f" CAST(n_{int(t * 100)} * 1000 // nv AS BIGINT)"
        f" AS rate_permille_t{int(t * 100)}"
        for t in _SEM_CURVE_TS
    )
    return (
        "WITH " + ", ".join(ctes) + f""",
    asg AS (SELECT vec_id, cid FROM a{_ITERS}),
    nr AS (
      SELECT em.vec_id, asg.cid, em.embedding,
             sqrt({_duck_dot('em.embedding', 'em.embedding')}) AS nrm
      FROM embeddings em JOIN asg USING (vec_id)
    ), p AS (
      SELECT b.vec_id, max({d} / (a.nrm * b.nrm)) AS mc
      FROM nr a JOIN nr b ON a.cid = b.cid AND a.vec_id < b.vec_id
      GROUP BY b.vec_id
    ), tot AS (SELECT count(*) AS nv FROM nr)
    SELECT CAST(nv AS BIGINT) AS n_vectors, {sel}
    FROM (SELECT {arms} FROM p) CROSS JOIN tot
    """
    )


@q("dedup_semantic_rate_curve", _sem_curve_sql())
def dedup_semantic_rate_curve(spark, sf_dir):
    """SEMDEDUP THRESHOLD CURVE — prune counts and integer-permille
    rates at cosine thresholds {_SEM_CURVE_TS}, all from ONE
    intra-cluster max-cosine pass (the same measure-before-deploy
    discipline as dedup_band_tuning_report: pick the dedup aggressiveness
    from the measured curve, not a guess; the paper sweeps exactly this
    knob to trade data volume vs performance). Adding a threshold arm
    costs one more CASE sum, never another pair scan."""
    asg = emb_kmeans_assign(spark, sf_dir).select("vec_id", "cluster")
    emb = _emb(spark, sf_dir)
    nr = emb.join(asg, "vec_id").select(
        "vec_id",
        "cluster",
        "embedding",
        F.sqrt(_spark_dot("embedding", "embedding")).alias("nrm"),
    )
    a = nr.select(
        F.col("cluster").alias("cl"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = nr.select(
        F.col("cluster").alias("cl"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _spark_dot("ea", "eb") / (F.col("na") * F.col("nb"))
    p = (
        a.join(b, "cl")
        .filter(F.col("va") < F.col("vb"))
        .groupBy(F.col("vb").alias("vec_id"))
        .agg(F.max(cos).alias("mc"))
    )
    arms = p.agg(
        *[
            F.sum(F.when(F.col("mc") >= t, 1).otherwise(0))
            .alias(f"n_{int(t * 100)}")
            for t in _SEM_CURVE_TS
        ]
    )
    tot = nr.agg(F.count("*").alias("nv"))
    out_cols = [F.col("nv").cast("long").alias("n_vectors")]
    for t in _SEM_CURVE_TS:
        k = int(t * 100)
        out_cols.append(F.col(f"n_{k}").cast("long").alias(f"pruned_t{k}"))
        out_cols.append(
            F.expr(f"n_{k} * 1000 div nv").cast("long").alias(f"rate_permille_t{k}")
        )
    return arms.crossJoin(F.broadcast(tot)).select(*out_cols)


# ---------------------------------------------------------------------------
# Embedding QA: integer-exact per-cluster outlier flags
# ---------------------------------------------------------------------------


def _outlier_sql() -> str:
    ctes = _kmeans_ctes()
    return (
        "WITH " + ", ".join(ctes) + f""",
    dq AS (
      SELECT vec_id, cid,
             CAST(floor(d * 1048576) AS BIGINT) AS dist_q
      FROM a{_ITERS}
    ), st AS (
      SELECT cid, CAST(sum(dist_q) AS BIGINT) // count(*) AS mean_q
      FROM dq GROUP BY cid
    )
    SELECT dq.vec_id, dq.cid AS cluster, dq.dist_q, st.mean_q,
           dq.dist_q > 2 * st.mean_q AS is_outlier
    FROM dq JOIN st USING (cid)
    """
    )


@q("emb_outlier_flags", _outlier_sql())
def emb_outlier_flags(spark, sf_dir):
    """EMBEDDING QA — per-cluster distance outliers: vectors more than
    2x their cluster's mean squared distance from the centroid (the
    mislabeled/garbage-embedding screen a curation run applies before
    trusting vectors for semantic dedup or ANN training).

    Exactness: the assignment distances are exact dyadic rationals
    (multiples of 2^-20 — quantized inputs), so dist_q = d * 2^20 is an
    exact BIGINT in both engines and the mean is integer division; the
    2x-mean rule carries no float-threshold hazard anywhere.

    Scale shape: the memoized broadcast-centroid assignment plus one
    cluster-keyed partial aggregation and one broadcast join of K
    cluster means back onto the vectors."""
    asg = _kmeans_assign_raw(spark, sf_dir)
    dq = asg.select(
        "vec_id",
        "cluster",
        F.floor(F.col("d") * F.lit(1048576)).cast("long").alias("dist_q"),
    )
    st = dq.groupBy("cluster").agg(
        F.expr("sum(dist_q) div count(*)").cast("long").alias("mean_q")
    )
    return dq.join(F.broadcast(st), "cluster").select(
        "vec_id",
        "cluster",
        "dist_q",
        "mean_q",
        (F.col("dist_q") > 2 * F.col("mean_q")).alias("is_outlier"),
    )


def _silhouette_sql() -> str:
    return (
        "WITH " + ", ".join(_kmeans_ctes()) + f""",
    nn AS (
      SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM s{_ITERS}
    ), sil AS (
      SELECT a.vec_id, a.cid AS cluster,
             CAST(round(CASE WHEN b.d = 0 THEN 0
                  ELSE (1 - sqrt(a.d) / sqrt(b.d)) * 1000000 END)
                  AS BIGINT) AS sm
      FROM (SELECT vec_id, cid, d FROM nn WHERE rn = 1) a
      JOIN (SELECT vec_id, d FROM nn WHERE rn = 2) b USING (vec_id)
    )
    SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(sm) // count(*) AS BIGINT) AS mean_sil_micro
    FROM sil GROUP BY cluster ORDER BY cluster
    """
    )


@q("emb_silhouette_centroid", _silhouette_sql())
def emb_silhouette_centroid(spark, sf_dir):
    """SIMPLIFIED (centroid) SILHOUETTE per k-means cluster — the
    clustering-quality readout that decides whether the k in semantic
    dedup / domain discovery is right: for each vector, a = distance to
    its own (nearest) centroid, b = distance to the second-nearest, and
    s = 1 - sqrt(a)/sqrt(b) in [0, 1] (exactly 1 when a vector
    coincides with its nearest centroid: a=0, b>0 — the centroid form of the
    classic (b-a)/max(a,b) — O(N*k) instead of silhouette's O(N^2)
    pairwise, the ONLY form that exists at 100 TB). Reported per
    cluster as mean in integer micro-units.

    Exactness: rides the SAME trained-centroid all-distances frame as
    emb_kmeans_assign (one shared training run; dyadic-quantized inputs
    make every distance an order-independent-exact double, sqrt and the
    ratio are fixed-shape per-row IEEE ops identical on both engines),
    and each vector's s lands on the micro lattice BEFORE the cluster
    mean, so only integers accumulate; s >= 0 by construction (a is the
    min), so the floor/truncate division question never arises.

    Scale shape: one broadcast crossJoin against the k-row centroid
    artifact (the model_rdd class), one per-vector top-2 window
    (partitioned by vec_id — never global), one k-row rollup."""
    nn = _kmeans_top2(spark, sf_dir)
    a = nn.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("d").alias("da")
    )
    b = nn.filter(F.col("rn") == 2).select("vec_id", F.col("d").alias("db"))
    sil = a.join(b, "vec_id").select(
        "cluster",
        F.expr(
            "CAST(round(CASE WHEN db = 0 THEN 0"
            " ELSE (1 - sqrt(da) / sqrt(db)) * 1000000 END) AS BIGINT)"
        ).alias("sm"),
    )
    return (
        sil.groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.expr("CAST(sum(sm) div count(*) AS BIGINT)").alias(
                "mean_sil_micro"
            ),
        )
        .orderBy("cluster")
    )


_TSH_SHARDS = 8  # shard count (matches t_shard_assignment's writer)
_TSH_BALANCE_MAX_MILLI = 1500  # gate: hottest shard <= 1.5x average


@q(
    "pipeline_tokenize_shard_e2e",
    f"""
    WITH d AS (
      SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT)
                 % {_TSH_SHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), sh AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
      FROM d GROUP BY shard
    )
    SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(shard_tokens) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS n_shards,
           CAST(max(shard_tokens) AS BIGINT) AS max_shard_tokens,
           CAST(min(shard_tokens) AS BIGINT) AS min_shard_tokens,
           CAST(max(shard_tokens) * count(*) * 1000 // sum(shard_tokens)
                AS BIGINT) AS balance_milli,
           max(shard_tokens) * count(*) * 1000 // sum(shard_tokens)
               <= {_TSH_BALANCE_MAX_MILLI} AS balanced
    FROM sh
    """,
)
def pipeline_tokenize_shard_e2e(spark, sf_dir):
    """TOKENIZE -> SHARD -> BALANCE-GATE composite — the training-data
    packaging nightly: count tokens per document (whitespace, the
    t_token_count convention), assign each document to one of
    {_TSH_SHARDS} shards by the content-independent key hash
    t_shard_assignment writes with, and gate on TOKEN balance (the
    dataloader's actual constraint — a shard 1.5x over average
    stretches every epoch): max_shard x n_shards / total in milli,
    pass iff <= {_TSH_BALANCE_MAX_MILLI}. One-row verdict with the
    evidence columns, the pipeline_eval_gate_e2e idiom.

    Exactness: the shard id is the md5-prefix hash both engines
    compute identically (the t_shard_assignment contract); token
    counts are exact; the balance quotient is a positive integer
    division.

    Scale shape: one doc-grain projection (no shuffle — the hash and
    the token count are per-row), ONE keyed aggregate to the
    {_TSH_SHARDS}-row shard grain, a 1-row rollup. At 100 TB the
    assignment column is the write.partitionBy key, and this gate
    reads the writer's own manifest."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 15),"
            f" 16, 10) as bigint) % {_TSH_SHARDS}"
        ).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    sh = d.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )
    return sh.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("shard_tokens").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_shards"),
        F.max("shard_tokens").cast("long").alias("max_shard_tokens"),
        F.min("shard_tokens").cast("long").alias("min_shard_tokens"),
    ).selectExpr(
        "n_docs",
        "total_tokens",
        "n_shards",
        "max_shard_tokens",
        "min_shard_tokens",
        "CAST(max_shard_tokens * n_shards * 1000 div total_tokens"
        " AS BIGINT) AS balance_milli",
        "max_shard_tokens * n_shards * 1000 div total_tokens"
        f" <= {_TSH_BALANCE_MAX_MILLI} AS balanced",
    )

"""Overflow-headroom audit for integer-lattice registry entries.

VERDICT r7 item 1: ``ev_gini_coefficient``'s BIGINT dividend was
quadratic in user count and would have overflowed (and cross-engine
DIVERGED — DuckDB silently promotes sum(BIGINT) to HUGEINT while Spark
wraps or throws) around 10^3x sf1, far below the 100 TB design point.
Nothing checked that class systematically; this audit does.

Method
------
For every registry entry whose source carries an integer-lattice marker
(``*1e6`` / permille / ``_micro`` / micro-nats / ppm), run the entry at
two tiers (default sf0.01 and sf0.1 — a 10x data step) and measure, per
integer/decimal output column, ``max(abs(col))`` via one distributed
1-row aggregate (never a full collect). Then:

- growth exponent  alpha = log10(M_big / M_small)   (clamped at >= 0;
  a constant-bound column like a permille reads alpha ~ 0, a linear
  accumulator ~1, the pre-fix Gini dividend ~2)
- 100 TB extrapolation  M_100TB = M_big * (TARGET_MULT ** alpha)
  where TARGET_MULT = 1e6: the sf1 events tier is ~1 GB-scale data
  (10x sf0.1), so 100 TB ~ 1e5 x sf1 = 1e6 x sf0.1 by row count.
- headroom = type capacity / M_100TB  (BIGINT 2^63-1, DECIMAL(38,0)
  1e38). Entries under the 10^3x headroom floor are FLAGGED and the
  audit exits 1.

Output columns that are identifiers (doc_id etc.) ride along
harmlessly: ids grow ~linearly with rows, landing at ~1e12 at the
extrapolation — 10^6x headroom.

Internal accumulators the output can't see (a dividend computed and
divided away inside one expression) are covered by explicit PROBES —
each returns a 1-row frame whose single ``probe_mag`` column is the
internal magnitude on the entry's production lattice type.

Usage:  python tools/lattice_headroom.py [sf_small] [sf_big]
        (defaults /root/testdata/sf0.01 /root/testdata/sf0.1)

The committed table lives in SCALE.md ("Lattice headroom audit");
rerun this after adding any entry that sums lattice values and paste
the refreshed table.
"""

from __future__ import annotations

import inspect
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARKER = re.compile(
    r"1_000_000|1000000|\* *1e6|permille|_micro|micro_|_ppm|milli|nats"
)
BIGINT_CAP = float(2**63 - 1)
DEC38_CAP = 1e38
TARGET_MULT = 1e6  # sf0.1 -> 100 TB row-count multiplier
FLOOR = 1e3  # minimum acceptable headroom at the extrapolation

# Entries whose construction is too slow/stateful for a magnitude probe
# at sf0.1, with the reason recorded in the table.
SKIP: dict[str, str] = {}


def _probe_gini_dividend(spark, sf_dir):
    """ev_gini_coefficient's internal dividend 2000*sum(i*x) — computed
    and divided away inside one aggregate, so the output (a permille)
    never shows it. Reproduces the production DECIMAL(38,0) lattice."""
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_rank

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ux = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("x"))
    ranked = global_rank(ux, [F.col("x"), F.col("user_id")], rank_col="i")
    return ranked.agg(
        F.expr(
            "CAST(2000 AS DECIMAL(38,0))"
            " * sum(CAST(i AS DECIMAL(38,0)) * x)"
        ).alias("probe_mag")
    )


def _probe_auc_pair_dividend(spark, sf_dir):
    """t_quality_auc's internal concordant-pair accumulator
    sum(pos*cumneg) — quadratic in document count, accumulated on the
    production DECIMAL(38,0) lattice since the r8 fix (the reported
    columns are bounded micro-shares)."""
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_cumsum
    from xova_spark.queries.textops import _qc_scored

    g = (
        _qc_scored(spark, sf_dir)
        .groupBy("score")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
        )
    )
    c = global_cumsum(g, [F.col("score").asc()], "neg", "cneg_incl")
    return c.withColumn("cn", F.col("cneg_incl") - F.col("neg")).agg(
        F.expr("sum(CAST(pos AS DECIMAL(38,0)) * cn)").alias("probe_mag")
    )


def _probe_pmi_dividend(spark, sf_dir):
    """t_bigram_pmi_topk's internal dividend max(c)*nb*1000 — both
    factors linear in corpus size, so the product is quadratic; runs on
    DECIMAL(38,0)/HUGEINT since the r8 fix. Probes the worst case:
    the most frequent bigram count times the bigram total."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ws = F.split("text", " ")
    bi = (
        docs.select(ws.alias("ws"))
        .select(
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, F.size("ws") - 1),
                    F.slice("ws", 2, F.size("ws") - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
    )
    cxy = bi.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    top = cxy.agg(F.max("c").alias("cmax"))
    nb = bi.agg(F.count("*").alias("nb"))
    return top.crossJoin(nb).select(
        F.expr(
            "CAST(cmax AS DECIMAL(38,0)) * nb * 1000"
        ).alias("probe_mag")
    )


def _probe_spearman_d2(spark, sf_dir):
    """ev_spearman_rho's internal 6*sum(d^2) — CUBIC in user count (the
    steepest dividend in the table; rank differences are ~n each and
    there are n of them), on the production DECIMAL(38,0) lattice."""
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_rank

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ux = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 1000).cast("long"))
        .cast("long")
        .alias("y"),
    )
    rx = global_rank(ux, [F.col("x"), F.col("user_id")], rank_col="rx").select(
        "user_id", "rx"
    )
    ry = global_rank(ux, [F.col("y"), F.col("user_id")], rank_col="ry").select(
        "user_id", "ry"
    )
    return rx.join(ry, "user_id").agg(
        F.expr(
            "6 * sum(CAST(rx - ry AS DECIMAL(38,0)) * (rx - ry))"
        ).alias("probe_mag")
    )


def _probe_ks_dividend(spark, sf_dir):
    """ev_ks_test's internal max|f1*n2 - f2*n1| — quadratic in row
    count (cumulative count times opposite-sample total), compared on
    the production DECIMAL(38,0) lattice."""
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_cumsum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
    )
    g = v.groupBy("vm").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    tot = g.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    c = global_cumsum(g, [F.col("vm").asc()], ["c1", "c2"], ["f1", "f2"])
    return (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "max(abs(CAST(f1 AS DECIMAL(38,0)) * n2"
                "        - CAST(f2 AS DECIMAL(38,0)) * n1))"
            ).alias("probe_mag")
        )
    )


def _probe_mwu_r1_dividend(spark, sf_dir):
    """ev_mann_whitney_u's internal doubled rank-sum 2*R1 — quadratic
    in row count (midranks are ~N each, summed over the first sample's
    rows), on the production DECIMAL(38,0) lattice (the reported
    auc_micro is a bounded quotient)."""
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_cumsum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
    )
    g = v.groupBy("vm").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.count("*").cast("long").alias("ct"),
    )
    c = global_cumsum(g, [F.col("vm").asc()], "ct", "ct_incl")
    return c.withColumn("cb", F.col("ct_incl") - F.col("ct")).agg(
        F.expr("sum(CAST(ca AS DECIMAL(38,0)) * (2 * cb + ct + 1))").alias(
            "probe_mag"
        )
    )


def _probe_jackknife_block_sum(spark, sf_dir):
    """ev_jackknife_ci's per-block permille-lattice sum s — LINEAR in
    row count but carried in BIGINT (the entry's one 64-bit
    accumulator; everything downstream is cast wide). Probes the
    largest block."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.select(
            (F.col("user_id") % 32).alias("b"),
            F.round(F.col("value") * 1000).cast("long").alias("vm"),
        )
        .groupBy("b")
        .agg(F.sum("vm").cast("long").alias("s"))
        .agg(F.max("s").alias("probe_mag"))
    )


def _probe_kw_term_sum(spark, sf_dir):
    """ev_kruskal_wallis's internal deviation sum
    s = sum ((d_milli^2)//1e6) * ng — cubic in row count (d_milli is
    ~N milli-ranks, squared and unit-downscaled, times group size), on
    the DECIMAL(38,0) lattice (h_milli is the bounded 1-row double)."""
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_cumsum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
    )
    cell = v.groupBy("event_type", "vm").agg(
        F.count("*").cast("long").alias("c")
    )
    bins = cell.groupBy("vm").agg(F.sum("c").cast("long").alias("ct"))
    cum = global_cumsum(bins, [F.col("vm").asc()], "ct", "ct_incl").select(
        "vm", "ct", (F.col("ct_incl") - F.col("ct")).alias("cb")
    )
    grp = (
        cell.join(cum, "vm")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            F.expr(
                "sum(CAST(c AS DECIMAL(38,0)) * (2 * cb + ct + 1))"
            ).alias("r2g"),
        )
    )
    tot = grp.agg(F.sum("ng").cast("long").alias("n"))
    return (
        grp.crossJoin(F.broadcast(tot))
        .selectExpr("(r2g * 500 div ng) - 500 * (n + 1) AS d_milli", "ng")
        .selectExpr(
            "CAST((CAST(d_milli AS DECIMAL(38,0)) * d_milli)"
            " div 1000000 AS DECIMAL(38,0)) * ng AS t"
        )
        .agg(F.sum("t").alias("probe_mag"))
    )


def _probe_mk_z2_dividend(spark, sf_dir):
    """ev_mann_kendall_trend's z^2 dividend (|S|-1)^2 * 18000 — S is
    bounded by C(n_hours, 2), so the dividend is ~n_hours^4 (calendar-
    bounded, NOT data-grain: a decade of hours is ~1e4 -> ~2e20), on
    the DECIMAL(38,0) lattice."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hrs = (
        ev.select(
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
            ).alias("hr")
        )
        .groupBy("hr")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    a = hrs.select(F.col("hr").alias("hr_a"), F.col("cnt").alias("cnt_a"))
    b = hrs.select(F.col("hr").alias("hr_b"), F.col("cnt").alias("cnt_b"))
    return (
        a.join(F.broadcast(b), F.col("hr_b") > F.col("hr_a"))
        .agg(
            F.sum(
                F.when(F.col("cnt_b") > F.col("cnt_a"), 1)
                .when(F.col("cnt_b") < F.col("cnt_a"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
        .selectExpr(
            "CAST(greatest(abs(s) - 1, 0) AS DECIMAL(38,0))"
            " * greatest(abs(s) - 1, 0) * 18000 AS probe_mag"
        )
    )


def _probe_mcnemar_chi2_dividend(spark, sf_dir):
    """ev_mcnemar_paired's chi2 dividend (|b-c|-1)^2 * 1000 —
    quadratic in the discordant-user count, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    evc = ev.selectExpr(
        "user_id",
        "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
    )
    bounds = evc.agg(
        F.expr("CAST((min(us) + max(us)) div 2 AS BIGINT)").alias("mid")
    )
    u = (
        evc.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.expr(
                    "CASE WHEN us < mid AND event_type = 'click'"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("p1"),
            F.max(
                F.expr(
                    "CASE WHEN us >= mid AND event_type = 'click'"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("p2"),
        )
    )
    return u.agg(
        F.sum(F.col("p1") * (1 - F.col("p2"))).alias("b"),
        F.sum((1 - F.col("p1")) * F.col("p2")).alias("c"),
    ).selectExpr(
        "CAST(greatest(abs(b - c) - 1, 0) AS DECIMAL(38,0))"
        " * greatest(abs(b - c) - 1, 0) * 1000 AS probe_mag"
    )


def _probe_pb_replicate_wsum(spark, sf_dir):
    """ev_poisson_bootstrap_ci's per-replicate weighted value sum
    sum(w*vm) — linear in row count x the weight cap 4,
    DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    x = ev.select(
        "event_id", F.round(F.col("value") * 1000).cast("long").alias("vm")
    )
    ex = x.selectExpr(
        "vm",
        "CAST((CAST(event_id AS DECIMAL(38,0)) * 2654435761"
        " + 1 * 2246822519) % 2147483648 AS BIGINT) AS u",
    ).selectExpr(
        "vm",
        "CASE WHEN u < 790015084 THEN 0 WHEN u < 1580030168 THEN 1"
        " WHEN u < 1975037710 THEN 2 WHEN u < 2106706891 THEN 3"
        " ELSE 4 END AS w",
    )
    return ex.agg(
        F.expr("sum(CAST(w AS DECIMAL(38,0)) * vm)").alias("probe_mag")
    )


def _probe_kl_vocab_term_sum(spark, sf_dir):
    """t_kl_vocab_divergence's per-source weighted micro-nat sum — the
    log ratio is bounded by ln(corpus tokens) (~28 nats at 100 TB), so
    the c_sw-weighted sum crosses BIGINT near 3e11 tokens/source and
    must accumulate DECIMAL(38,0) (it does; this probe documents the
    margin)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sw = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c_sw"))
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    st = sw.groupBy("source").agg(F.sum("c_sw").cast("long").alias("t_s"))
    tot = cw.agg(F.sum("c_w").cast("long").alias("t"))
    return (
        sw.join(cw, "w")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "abs(CAST(c_sw AS DECIMAL(38,0))"
            " * CAST(round(ln((CAST(c_sw AS DOUBLE) * t)"
            " / (CAST(t_s AS DOUBLE) * c_w)) * 1000000)"
            " AS BIGINT)) AS term",
        )
        .groupBy("source")
        .agg(F.sum("term").alias("s"))
        .agg(F.max("s").alias("probe_mag"))
    )


def _probe_friedman_chi2_dividend(spark, sf_dir):
    """ev_friedman_test's chi2 dividend 3000*sum R2_j^2 — quadratic in
    block count (each R2_j is linear in n), DECIMAL(38,0)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cells = li.groupBy(
        F.col("l_suppkey").alias("blk"), F.col("l_returnflag").alias("trt")
    ).agg(
        F.expr(
            "CAST(sum(CAST(l_quantity AS BIGINT)) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("cellv")
    )
    complete = cells.groupBy("blk").agg(F.count("*").alias("kc")).filter(
        F.col("kc") == 3
    )
    ranked = cells.join(complete.select("blk"), "blk").select(
        "blk",
        "trt",
        (
            2 * F.rank().over(Window.partitionBy("blk").orderBy("cellv"))
            + F.count("*").over(Window.partitionBy("blk", "cellv"))
            - 1
        ).alias("rank2"),
    )
    rs = ranked.groupBy("trt").agg(F.sum("rank2").cast("long").alias("r2"))
    return rs.agg(
        F.expr(
            "CAST(3000 * sum(CAST(r2 AS DECIMAL(38,0)) * r2) AS DOUBLE)"
        ).alias("probe_mag")
    )


def _probe_cochran_q_dividend(spark, sf_dir):
    """ev_cochran_q's Q dividend 2*(3*sum C_j^2 - N^2)*1000 — quadratic
    in block count, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lines = li.filter(F.col("l_linenumber") <= 3).select(
        F.col("l_orderkey").alias("blk"),
        F.col("l_linenumber").alias("trt"),
        F.expr(
            "CASE WHEN CAST(l_quantity AS BIGINT) >= 25 THEN 1 ELSE 0 END"
        ).alias("s"),
    )
    ok = (
        lines.groupBy("blk")
        .agg(F.count("*").alias("kc"), F.countDistinct("trt").alias("kd"))
        .filter((F.col("kc") == 3) & (F.col("kd") == 3))
        .select("blk")
    )
    cols = lines.join(ok, "blk").agg(
        F.sum(F.expr("CASE WHEN trt = 1 THEN s ELSE 0 END")).alias("c1"),
        F.sum(F.expr("CASE WHEN trt = 2 THEN s ELSE 0 END")).alias("c2"),
        F.sum(F.expr("CASE WHEN trt = 3 THEN s ELSE 0 END")).alias("c3"),
        F.sum("s").alias("n"),
    )
    return cols.selectExpr(
        "CAST(abs(2 * (3 * (CAST(c1 AS DECIMAL(38,0)) * c1"
        " + CAST(c2 AS DECIMAL(38,0)) * c2"
        " + CAST(c3 AS DECIMAL(38,0)) * c3)"
        " - CAST(n AS DECIMAL(38,0)) * n) * 1000) AS DOUBLE)"
        " AS probe_mag"
    )


def _probe_fleiss_pe_dividend(spark, sf_dir):
    """ev_fleiss_kappa's Pe dividend sum T_j^2 * 1e9 — quadratic in
    item count times the nano unit; the batch's LARGEST internal
    (pbar's (A - nm)*1e9 is linear-in-n times 1e9, strictly smaller)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    eligible = li.groupBy("l_orderkey").agg(F.count("*").alias("nl")).filter(
        F.col("nl") >= 4
    )
    raters = (
        li.join(eligible.select("l_orderkey"), "l_orderkey")
        .select(
            F.expr(
                "least((CAST(l_quantity AS BIGINT) - 1) div 17, 2)"
            ).alias("cat"),
            F.row_number()
            .over(
                Window.partitionBy("l_orderkey").orderBy(
                    "l_linenumber",
                    "l_partkey",
                    "l_suppkey",
                    "l_quantity",
                    "l_extendedprice",
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 4)
    )
    t = raters.groupBy("cat").agg(F.count("*").cast("long").alias("tj"))
    return t.agg(
        F.expr(
            "CAST(sum(CAST(tj AS DECIMAL(38,0)) * tj) * 1000000000"
            " AS DOUBLE)"
        ).alias("probe_mag")
    )


def _probe_lift_dividend(spark, sf_dir):
    """ev_lift_gain_curve's lift dividend cum_pos * tot_n * 1e6 —
    maximal at the last decile: tot_pos * tot_n * 1e6, quadratic in
    row count, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.agg(
        F.expr(
            "CAST(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1"
            " ELSE 0 END) AS DECIMAL(38,0)) * count(*) * 1000000"
            " AS DOUBLE)"
        ).alias("probe_mag")
    )


def _probe_chao1_corr_dividend(spark, sf_dir):
    """t_chao1_vocab_richness's correction dividend f1^2 * 1e6 —
    quadratic in per-source singleton vocabulary, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    f1 = wf.filter(F.col("c") == 1).groupBy("source").agg(
        F.count("*").cast("long").alias("f1")
    )
    return f1.agg(
        F.expr(
            "CAST(max(CAST(f1 AS DECIMAL(38,0)) * f1 * 1000000)"
            " AS DOUBLE)"
        ).alias("probe_mag")
    )


def _probe_fano_dividend(spark, sf_dir):
    """t_burstiness_fano's dividend D*ssq*1e6 (its minuend bounds the
    difference) — docs x sum-of-squared-counts for the heaviest word,
    DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    top = (
        cw.groupBy("w")
        .agg(F.count("*").alias("t"))
        .orderBy(F.desc("t"), "w")
        .limit(20)
    )
    dc = (
        cw.join(F.broadcast(top.select("w")), "w")
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ssq = dc.groupBy("w").agg(
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * c)").alias("ssq")
    )
    nd = docs.count()
    return ssq.agg(
        F.expr(
            f"CAST(max(ssq) * {nd} * 1000000 AS DOUBLE)"
        ).alias("probe_mag")
    )


def _probe_taub_dividend(spark, sf_dir):
    """ev_kendall_tau_b's (nc-nd)^2 * 1e6 dividend — quartic in
    CALENDAR DAYS (pair counts squared), never in rows; DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias("d")
    ).agg(F.count("*").alias("x"))
    return daily.agg(F.count("*").alias("n")).selectExpr(
        "CAST(CAST(n * (n - 1) AS DECIMAL(38,0)) * n * (n - 1) / 4"
        " * 1000000 AS DOUBLE) AS probe_mag"
    )


def _probe_capture_dividend(spark, sf_dir):
    """ev_capture_recapture's (n1+1)(n2+1)*1e6 dividend — quadratic in
    user count, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.select("user_id").distinct().count()
    return spark.range(1).selectExpr(
        f"CAST(CAST({n} + 1 AS DECIMAL(38,0)) * ({n} + 1) * 1000000"
        " AS DOUBLE) AS probe_mag"
    )


def _probe_odds_ratio_dividend(spark, sf_dir):
    """ev_odds_ratio's a*d*1e6 dividend — quadratic in user count
    (both cells user-grain), DECIMAL(38,0); a*(c+d)*1e6 is the same
    order."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.expr("CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END")
        ).alias("e"),
        F.max(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        ).alias("o"),
    )
    return u.agg(
        F.expr(
            "CAST(CAST(sum(e * o) AS DECIMAL(38,0))"
            " * sum((1 - e) * (1 - o)) * 1000000 AS DOUBLE)"
        ).alias("probe_mag")
    )


def _probe_simpson_dividend(spark, sf_dir):
    """t_simpson_diversity's ss*1e6 dividend — ss = sum c(c-1) is
    quadratic in per-source token mass, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    return wf.groupBy("source").agg(
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * (c - 1))").alias("ss")
    ).agg(
        F.expr("CAST(max(ss) * 1000000 AS DOUBLE)").alias("probe_mag")
    )


def _probe_rich_club_dividend(spark, sf_dir):
    """graph_rich_club's n_k*(n_k-1) divisor / 2*e_k*1e6 dividend —
    quadratic in the rich-node count, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pp = li.select("l_orderkey", "l_partkey").distinct()
    n = pp.select("l_partkey").distinct().count()
    return spark.range(1).selectExpr(
        f"CAST(CAST({n} AS DECIMAL(38,0)) * ({n} - 1) * 1000000"
        " AS DOUBLE) AS probe_mag"
    )


def _probe_logrank_v_dividend(spark, sf_dir):
    """ev_logrank_test's variance-stage dividend d(n-d)*p_micro with
    p_micro <= 250000 — CUBIC in user count after the two-stage
    restructure (the naive quartic form failed this very sweep),
    DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.select("user_id").distinct().count()
    return spark.range(1).selectExpr(
        f"CAST(CAST({n} AS DECIMAL(38,0)) * {n} * 250000 AS DOUBLE)"
        " AS probe_mag"
    )


def _probe_logrank_chi2_dividend(spark, sf_dir):
    """ev_logrank_test's chi2 dividend (O*1e6 - E_micro)^2 — quadratic
    in (user count x 1e6), DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.select("user_id").distinct().count()
    return spark.range(1).selectExpr(
        f"CAST(CAST({n} AS DECIMAL(38,0)) * 1000000"
        f" * {n} * 1000000 AS DOUBLE) AS probe_mag"
    )


# name -> (probe_fn, capacity) for internal accumulators the output
# cannot see (computed and divided away inside one expression)

def _probe_srm_dividend(spark, sf_dir):
    """ev_srm_check's (n0-n1)^2*1000 dividend. The REALIZED imbalance
    under a fair hash is a ~sqrt(n) random walk, so the second column
    carries the analytic WORST CASE n^2*1000 (total one-arm assignment)
    — the sweep audits the bound, not the lucky draw."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    arms = (
        ev.select("user_id")
        .distinct()
        .select(
            F.expr(
                "cast(conv(substring(md5(cast(user_id as string)), 1, 15),"
                " 16, 10) as bigint) % 2"
            ).alias("arm")
        )
    )
    return arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.count("*").cast("long").alias("n"),
    ).selectExpr(
        "CAST(CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n1) * 1000"
        " AS DECIMAL(38,0)) AS realized_dividend",
        "CAST(CAST(n AS DECIMAL(38,0)) * n * 1000 AS DECIMAL(38,0))"
        " AS worst_dividend",
    )


def _cliff_cvm_bins(spark, sf_dir):
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_cumsum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.where(F.col("event_type").isin("click", "view")).select(
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("isa"),
    )
    bins = v.groupBy("vm").agg(
        F.sum("isa").cast("long").alias("ac"),
        F.sum(1 - F.col("isa")).cast("long").alias("bc"),
    )
    cum = global_cumsum(
        bins, [F.col("vm").asc()], ["ac", "bc"], ["cuma", "cumb"]
    )
    tot = cum.agg(
        F.max("cuma").cast("long").alias("n1"),
        F.max("cumb").cast("long").alias("n2"),
    )
    from pyspark.sql.functions import broadcast

    return cum.crossJoin(broadcast(tot))


def _probe_cliff_dominance(spark, sf_dir):
    """ev_cliff_delta's dominance sum |sum ac*(2*cumb - bc - n2)| and
    its micro-scaled dividend — quadratic in row count (bounded by
    n1*n2), on the DECIMAL(38,0) lattice."""
    from pyspark.sql import functions as F

    return _cliff_cvm_bins(spark, sf_dir).agg(
        F.expr(
            "CAST(abs(sum(CAST(ac AS DECIMAL(38,0))"
            " * (2 * cumb - bc - n2))) * 1000000 AS DECIMAL(38,0))"
        ).alias("dom_micro_dividend")
    )


def _probe_cvm_gap_dividend(spark, sf_dir):
    """ev_cramer_von_mises's per-bin gap dividend
    max |n2*cuma - n1*cumb| * 1000 — quadratic in row count, on the
    DECIMAL(38,0) lattice (s_milli2 itself is the audited output)."""
    from pyspark.sql import functions as F

    return _cliff_cvm_bins(spark, sf_dir).agg(
        F.expr(
            "CAST(max(abs(CAST(n2 AS DECIMAL(38,0)) * cuma"
            " - CAST(n1 AS DECIMAL(38,0)) * cumb)) * 1000"
            " AS DECIMAL(38,0))"
        ).alias("gap_dividend")
    )


def _probe_gtest_term_sum(spark, sf_dir):
    """ev_gtest_independence's weighted log-ratio sum
    sum |o * lr_micro| <= N * ln(N)*1e6 — slightly superlinear in row
    count, on the DECIMAL(38,0) lattice."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cell = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count("*").cast("long").alias("o"))
    mr = cell.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    mc = cell.groupBy("hr").agg(F.sum("o").cast("long").alias("c"))
    tot = cell.agg(F.sum("o").cast("long").alias("n"))
    return (
        cell.join(F.broadcast(mr), "event_type")
        .join(F.broadcast(mc), "hr")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            F.expr(
                "CAST(round(ln(CAST(o AS DOUBLE) * n"
                " / (CAST(r AS DOUBLE) * c)) * 1000000) AS BIGINT)"
            ).alias("lr_micro"),
        )
        .agg(
            F.expr(
                "CAST(sum(abs(CAST(o AS DECIMAL(38,0)) * lr_micro))"
                " AS DECIMAL(38,0))"
            ).alias("term_sum_abs")
        )
    )


def _probe_bartels_quartics(spark, sf_dir):
    """ev_bartels_rank_test's sq4 = sum R2^2 (~4*n_hours^3) and num4
    (~quartic worst case at alternation) — calendar-bounded hour grain,
    on the DECIMAL(38,0) lattice."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hrs = (
        ev.select(
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
            ).alias("hr")
        )
        .groupBy("hr")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    rk = hrs.select(
        "hr",
        (
            2 * F.rank().over(Window.orderBy("cnt"))
            + F.count("*").over(Window.partitionBy("cnt"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    seq = rk.select(
        "r2", F.lead("r2").over(Window.orderBy("hr")).alias("r2n")
    )
    return seq.agg(
        F.expr("CAST(sum(CAST(r2 AS DECIMAL(38,0)) * r2) AS DECIMAL(38,0))").alias(
            "sq4"
        ),
        F.expr(
            "CAST(sum(CASE WHEN r2n IS NULL THEN CAST(0 AS DECIMAL(38,0))"
            " ELSE CAST(r2 - r2n AS DECIMAL(38,0)) * (r2 - r2n) END)"
            " AS DECIMAL(38,0))"
        ).alias("num4"),
    )



def _probe_page_dividend(spark, sf_dir):
    """ev_page_trend_test's d^2*36000 dividend — d = L2 - 24b is ~b
    (supplier count), so the dividend is quadratic in the block
    cardinality, on the DECIMAL(38,0) lattice."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cells = li.groupBy(
        F.col("l_suppkey").alias("blk"), F.col("l_returnflag").alias("trt")
    ).agg(
        F.expr(
            "CAST(sum(CAST(l_quantity AS BIGINT)) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("cellv")
    )
    complete = cells.groupBy("blk").agg(F.count("*").alias("kc")).filter(
        F.col("kc") == 3
    )
    ranked = cells.join(complete.select("blk"), "blk").select(
        "blk",
        F.expr("CASE trt WHEN 'A' THEN 1 WHEN 'N' THEN 2 ELSE 3 END").alias(
            "j"
        ),
        (
            2 * F.rank().over(Window.partitionBy("blk").orderBy("cellv"))
            + F.count("*").over(Window.partitionBy("blk", "cellv"))
            - 1
        ).alias("rank2"),
    )
    return ranked.agg(
        F.countDistinct("blk").cast("long").alias("b"),
        F.sum(F.col("j") * F.col("rank2")).cast("long").alias("l2"),
    ).selectExpr(
        "CAST(abs(CAST(l2 - 24 * b AS DECIMAL(38,0))) * abs(l2 - 24 * b)"
        " * 36000 AS DECIMAL(38,0)) AS page_dividend"
    )


def _probe_jt_internals(spark, sf_dir):
    """ev_jonckheere_terpstra's 128-bit internals: J2 (~N^2/2), the
    doubled deviation d2, and the no-tie variance numerator v72
    (~2N^3 — the binding one at the 100 TB extrapolation)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
    )
    cells = v.groupBy("event_type", "vm").agg(
        F.count("*").cast("long").alias("c")
    )
    groups = cells.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("ng")
    )
    return groups.agg(
        F.sum("ng").cast("long").alias("n"),
        F.expr("sum(CAST(ng AS DECIMAL(38,0)) * ng)").alias("sn2"),
        F.expr(
            "sum(CAST(ng AS DECIMAL(38,0)) * ng * (2 * ng + 3))"
        ).alias("sn23"),
    ).selectExpr(
        "CAST(CAST(n AS DECIMAL(38,0)) * n - sn2 AS DECIMAL(38,0))"
        " AS cross2",
        "CAST(CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3) - sn23"
        " AS DECIMAL(38,0)) AS v72",
    )


def _probe_tost_dividend(spark, sf_dir):
    """ev_tost_equivalence's (d +- eps)^2 * 1000 dividends on the
    128-bit lattice (the Welch internal class)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.select(
        F.expr(
            "cast(conv(substring(md5(cast(user_id as string)), 1, 15),"
            " 16, 10) as bigint) % 2"
        ).alias("arm"),
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
    )
    g = v.groupBy("arm").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("vm").cast("long").alias("s"),
    )
    pair = g.agg(
        F.expr(
            "max(CASE WHEN arm = 0 THEN CAST(round(CAST(s AS DOUBLE)"
            " * 1000 / ng) AS BIGINT) END)"
        ).alias("m0"),
        F.expr(
            "max(CASE WHEN arm = 1 THEN CAST(round(CAST(s AS DOUBLE)"
            " * 1000 / ng) AS BIGINT) END)"
        ).alias("m1"),
    )
    return pair.selectExpr(
        "CAST((abs(CAST(m0 - m1 AS DECIMAL(38,0))) + 50000)"
        " * (abs(m0 - m1) + 50000) * 1000 AS DECIMAL(38,0))"
        " AS tost_dividend"
    )


def _probe_guiraud_v2(spark, sf_dir):
    """t_hapax_guiraud's V^2*1e6 dividend — quadratic in per-source
    vocabulary size, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        wf.groupBy("source")
        .agg(F.count("*").cast("long").alias("v"))
        .agg(
            F.expr(
                "CAST(max(CAST(v AS DECIMAL(38,0)) * v * 1000000)"
                " AS DECIMAL(38,0))"
            ).alias("guiraud_dividend")
        )
    )


def _probe_tvd_dividend(spark, sf_dir):
    """dq_categorical_drift's cross-multiplied TVD internals: the
    per-type |ce*nl - cl*ne| sum (~N^2) and the 2*ne*nl divisor, both
    DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h = ev.select(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
        ).alias("hr"),
    )
    b = h.agg(
        F.expr("CAST((min(hr) + max(hr)) div 2 AS BIGINT)").alias(
            "boundary"
        )
    )
    cell = (
        h.crossJoin(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("hr") <= F.col("boundary"), 1).otherwise(0))
            .cast("long")
            .alias("ce"),
            F.sum(F.when(F.col("hr") > F.col("boundary"), 1).otherwise(0))
            .cast("long")
            .alias("cl"),
        )
    )
    m = cell.agg(
        F.sum("ce").cast("long").alias("ne"),
        F.sum("cl").cast("long").alias("nl"),
    )
    return (
        cell.crossJoin(F.broadcast(m))
        .agg(
            F.expr(
                "CAST(sum(abs(CAST(ce AS DECIMAL(38,0)) * nl"
                " - CAST(cl AS DECIMAL(38,0)) * ne)) * 1000000"
                " AS DECIMAL(38,0))"
            ).alias("tvd_dividend"),
            F.expr(
                "CAST(2 * CAST(max(ne) AS DECIMAL(38,0)) * max(nl)"
                " AS DECIMAL(38,0))"
            ).alias("tvd_divisor"),
        )
    )


def _probe_katz_in_sum(spark, sf_dir):
    """graph_katz_centrality's per-node neighbor sum at the last
    iteration (~deg_max^2 * 1e4 on hub-dense graphs), DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pp = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = pp.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )
    arcs = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(
        edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = arcs.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )
    x = deg.select(
        "node",
        (
            F.lit(1000000)
            + F.expr("CAST(degree * 1000000 div 10 AS BIGINT)")
        ).alias("x"),
    )
    for _ in range(2):
        s = (
            arcs.join(x.select(F.col("node").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("s"))
        )
        x = deg.join(s, "node", "left").select(
            "node",
            F.expr(
                "CAST(1000000 + CAST(coalesce(s, 0) div 10 AS BIGINT)"
                " AS BIGINT)"
            ).alias("x"),
        )
    s3 = (
        arcs.join(x.select(F.col("node").alias("src"), "x"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("s"))
    )
    return s3.agg(
        F.expr("CAST(max(s) AS DECIMAL(38,0))").alias("katz_in_sum")
    )



def _probe_mood_disp_t4ds(spark, sf_dir):
    """ev_mood_dispersion_test's unit^2-downscaled deviation sum
    (~m*N^2/1e6, the KW-discipline accumulator) plus its exact
    expectation ed, both DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    from xova_spark.operators.ranking import global_cumsum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.where(F.col("event_type").isin("click", "view")).select(
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("isa"),
    )
    bins = v.groupBy("vm").agg(
        F.sum("isa").cast("long").alias("ac"),
        F.sum(1 - F.col("isa")).cast("long").alias("bc"),
    ).withColumn("ct", F.col("ac") + F.col("bc"))
    cum = global_cumsum(bins, [F.col("vm").asc()], "ct", "ct_incl").select(
        "ac", "ct", (F.col("ct_incl") - F.col("ct")).alias("cb")
    )
    tot = bins.agg(
        F.sum("ac").cast("long").alias("m"),
        F.sum("bc").cast("long").alias("n2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr("ac", "m", "n2", "2 * cb + ct + 1 - (m + n2 + 1) AS dd")
        .agg(
            F.expr(
                "CAST(sum(CAST(ac AS DECIMAL(38,0))"
                " * ((CAST(dd AS DECIMAL(38,0)) * dd) div 1000000))"
                " AS DECIMAL(38,0))"
            ).alias("t4ds"),
            F.expr(
                "CAST(max(CAST(m AS DECIMAL(38,0))"
                " * (CAST(m + n2 AS DECIMAL(38,0)) * (m + n2) - 1)"
                " div 3000000) AS DECIMAL(38,0))"
            ).alias("ed"),
        )
    )


def _probe_wilcoxon_varnum(spark, sf_dir):
    """ev_wilcoxon_signed_rank's tie-corrected variance numerator
    (~n_pairs^3, calendar-bounded) and d2w^2 dividend, DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hrs = (
        ev.select(
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
            ).alias("hr")
        )
        .groupBy("hr")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    a = hrs.select((F.col("hr") + 24).alias("hr24"), F.col("cnt").alias("ca"))
    b = hrs.select(F.col("hr").alias("hr24"), F.col("cnt").alias("cb_"))
    pairs = (
        a.join(b, "hr24")
        .where(F.col("cb_") != F.col("ca"))
        .select((F.col("cb_") - F.col("ca")).alias("d"))
    )
    bins = pairs.select(F.abs(F.col("d")).alias("ad"), "d").groupBy(
        "ad"
    ).agg(
        F.count("*").cast("long").alias("ct"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("ctp"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("ad").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "ct", "ctp",
        (F.sum("ct").over(w) - F.col("ct")).cast("long").alias("cb"),
    )
    return cum.agg(
        F.sum("ct").cast("long").alias("n"),
        F.sum(F.col("ctp") * (2 * F.col("cb") + F.col("ct") + 1))
        .cast("long")
        .alias("w2p"),
        F.expr("sum(CAST(ct AS DECIMAL(38,0)) * ct * ct - ct)").alias(
            "t3t"
        ),
    ).selectExpr(
        "CAST(abs(CAST(2 * w2p - n * (n + 1) AS DECIMAL(38,0)))"
        " * abs(2 * w2p - n * (n + 1)) * 3000 AS DECIMAL(38,0))"
        " AS wsr_dividend",
        "CAST(2 * (CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1)"
        " - t3t div 2) AS DECIMAL(38,0)) AS wsr_varnum",
    )



def _probe_smk_var18(spark, sf_dir):
    """ev_seasonal_mann_kendall's summed tie-corrected variance
    (24 seasons x n_days^3 cubics, calendar-bounded) on the
    DECIMAL(38,0) lattice."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cells = ev.select(
        F.hour(F.expr("CAST(ts AS TIMESTAMP)")).cast("long").alias("hod"),
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        ).alias("d"),
    ).groupBy("hod", "d").agg(F.count("*").cast("long").alias("cnt"))
    nsz = cells.groupBy("hod").agg(F.count("*").cast("long").alias("n_g"))
    ties = (
        cells.groupBy("hod", "cnt")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("hod")
        .agg(
            F.expr(
                "CAST(coalesce(sum(CAST(t AS DECIMAL(38,0)) * (t - 1)"
                " * (2 * t + 5)), 0) AS BIGINT)"
            ).alias("tsum")
        )
    )
    return (
        nsz.join(ties, "hod")
        .selectExpr(
            "CAST(n_g AS DECIMAL(38,0)) * (n_g - 1) * (2 * n_g + 5)"
            " - tsum AS var18_g"
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(var18_g AS DECIMAL(38,0)))"
                " AS DECIMAL(38,0))"
            ).alias("smk_var18")
        )
    )



def _probe_yule_s2(spark, sf_dir):
    """t_yule_k's sum c^2 internal — quadratic in per-source token
    mass (the round-10 sweep flagged the old BIGINT output form at
    3.65x; now DECIMAL(38,0) internal)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return wf.groupBy("source").agg(
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * c)").alias("s2")
    ).agg(F.expr("CAST(max(s2) AS DECIMAL(38,0))").alias("yule_s2"))


PROBES = {
    "ev_gini_coefficient__dividend": (_probe_gini_dividend, DEC38_CAP),
    "t_quality_auc__pair_dividend": (_probe_auc_pair_dividend, DEC38_CAP),
    "t_bigram_pmi_topk__dividend": (_probe_pmi_dividend, DEC38_CAP),
    # r8 statistical-testing pack internals
    "ev_spearman_rho__d2_dividend": (_probe_spearman_d2, DEC38_CAP),
    "ev_ks_test__cdf_dividend": (_probe_ks_dividend, DEC38_CAP),
    "ev_mann_whitney_u__r1_dividend": (_probe_mwu_r1_dividend, DEC38_CAP),
    "ev_jackknife_ci__block_sum": (_probe_jackknife_block_sum, BIGINT_CAP),
    # r10 stats batch 3 internals
    "ev_kruskal_wallis__term_sum": (_probe_kw_term_sum, DEC38_CAP),
    "ev_mann_kendall_trend__z2_dividend": (_probe_mk_z2_dividend, DEC38_CAP),
    "ev_mcnemar_paired__chi2_dividend": (
        _probe_mcnemar_chi2_dividend,
        DEC38_CAP,
    ),
    "ev_poisson_bootstrap_ci__wsum": (_probe_pb_replicate_wsum, DEC38_CAP),
    "t_kl_vocab_divergence__term_sum": (_probe_kl_vocab_term_sum, DEC38_CAP),
    # r10 batch 4 internals
    "ev_friedman_test__chi2_dividend": (
        _probe_friedman_chi2_dividend,
        DEC38_CAP,
    ),
    "ev_cochran_q__q_dividend": (_probe_cochran_q_dividend, DEC38_CAP),
    "ev_fleiss_kappa__pe_dividend": (_probe_fleiss_pe_dividend, DEC38_CAP),
    "ev_lift_gain_curve__lift_dividend": (_probe_lift_dividend, DEC38_CAP),
    "t_chao1_vocab_richness__corr_dividend": (
        _probe_chao1_corr_dividend,
        DEC38_CAP,
    ),
    "t_burstiness_fano__dividend": (_probe_fano_dividend, DEC38_CAP),
    # r10 batch 5 internals
    "ev_kendall_tau_b__dividend": (_probe_taub_dividend, DEC38_CAP),
    "ev_capture_recapture__dividend": (_probe_capture_dividend, DEC38_CAP),
    "ev_odds_ratio__dividend": (_probe_odds_ratio_dividend, DEC38_CAP),
    "t_simpson_diversity__dividend": (_probe_simpson_dividend, DEC38_CAP),
    "graph_rich_club__dividend": (_probe_rich_club_dividend, DEC38_CAP),
    # r10 batch 6 internals
    "ev_logrank_test__v_dividend": (_probe_logrank_v_dividend, DEC38_CAP),
    "ev_logrank_test__chi2_dividend": (
        _probe_logrank_chi2_dividend,
        DEC38_CAP,
    ),
    # r10 batch 10 internals
    "t_yule_k__s2": (_probe_yule_s2, DEC38_CAP),
    "ev_seasonal_mann_kendall__var18": (_probe_smk_var18, DEC38_CAP),
    # r10 batch 9 internals
    "ev_mood_dispersion_test__t4ds": (_probe_mood_disp_t4ds, DEC38_CAP),
    "ev_wilcoxon_signed_rank__varnum": (
        _probe_wilcoxon_varnum,
        DEC38_CAP,
    ),
    # r10 batch 8 internals
    "ev_page_trend_test__dividend": (_probe_page_dividend, DEC38_CAP),
    "ev_jonckheere_terpstra__v72": (_probe_jt_internals, DEC38_CAP),
    "ev_tost_equivalence__dividend": (_probe_tost_dividend, DEC38_CAP),
    "t_hapax_guiraud__v2": (_probe_guiraud_v2, DEC38_CAP),
    "dq_categorical_drift__tvd": (_probe_tvd_dividend, DEC38_CAP),
    "graph_katz_centrality__in_sum": (_probe_katz_in_sum, DEC38_CAP),
    # r10 batch 7 internals
    "ev_srm_check__dividend": (_probe_srm_dividend, DEC38_CAP),
    "ev_cliff_delta__dominance": (_probe_cliff_dominance, DEC38_CAP),
    "ev_cramer_von_mises__gap_dividend": (
        _probe_cvm_gap_dividend,
        DEC38_CAP,
    ),
    "ev_gtest_independence__term_sum": (_probe_gtest_term_sum, DEC38_CAP),
    "ev_bartels_rank_test__quartics": (_probe_bartels_quartics, DEC38_CAP),
}

# (entry, column) -> (analytic_alpha, justification, law_test):
# overrides the two-point power fit where the fit is provably a
# fixture artifact. Each override MUST cite a closed-form bound AND
# name the pytest node that pins it (VERDICT r8 item 7: the escape
# hatch accreted prose-only overrides in one round —
# tests/test_registry_contract.py::test_analytic_bounds_overrides_
# name_live_law_tests fails on orphans, so the hatch can't silently
# grow).
ANALYTIC_BOUNDS: dict[tuple[str, str], tuple[float, str, str]] = {
    # Wilcoxon signed-rank internals are CALENDAR-bounded, not
    # data-grain: |d2w| <= n(n+1) and the dividend <= 3000*n^2(n+1)^2
    # with n = nonzero 24h-lag hour pairs, capped by the calendar span
    # (a decade is ~9e4 hours -> |d2w| < 8e9, dividend < 2e23 — both
    # inside their lattices with >= 1e14x room). The naive fit reads
    # fixture tie-thinning (denser hours at the bigger tier leave
    # fewer zero day-over-day diffs, so n jumps toward the calendar
    # cap) as row-count growth.
    ("ev_wilcoxon_signed_rank", "d2w"): (
        0.5,
        "|d2w| = |2W2+ - n(n+1)| <= n(n+1), n <= calendar hour pairs"
        " — sublinear in data volume (span grows ~1e3x while rows grow"
        " 1e6x); fixture jump is tie-thinning, not growth",
        "tests/test_round10e_ops.py::test_wilcoxon_replica_and_hand",
    ),
    ("ev_wilcoxon_signed_rank", "w2_plus"): (
        0.5,
        "W2+ <= n(n+1) (the all-positive pole), same calendar bound"
        " as d2w",
        "tests/test_round10e_ops.py::test_wilcoxon_replica_and_hand",
    ),
    ("ev_wilcoxon_signed_rank__varnum", "wsr_dividend"): (
        1.0,
        "dividend = 3000*d2w^2 <= 3000*n^2(n+1)^2 ~ 2e23 at a decade"
        " of hours — calendar-quartic, not data-grain",
        "tests/test_round10e_ops.py::test_wilcoxon_replica_and_hand",
    ),
    ("t_bigram_pmi_topk", "pmi_ratio_permille"): (
        1.0,
        "quotient <= 1000*nb/c_min since n1,n2 >= c >= c_min — LINEAR"
        " in corpus size; the naive fit reads the top-1 pair's"
        " exclusivity shift between fixture tiers as growth",
        "tests/test_round5_ops.py::test_pmi_ranks_collocations_above_chance",
    ),
    ("dedup_band_tuning_report", "n_candidates"): (
        1.0,
        "row-cardinality counter over MATERIALIZED candidate pairs — a"
        " BIGINT count cannot overflow before the 9.2e18-row pair"
        " materialization itself is infeasible; the quadratic fixture"
        " growth is band-sweep densification of a fixed text space"
        " (tuned production banding yields ~linear candidates)",
        "tests/test_round9_ops.py::test_band_tuning_candidates_are_pair_counts",
    ),
    # funnel triple ids are EVENT IDENTIFIERS, bounded by max(event_id)
    # — LINEAR in rows by construction. The naive fit reads
    # funnel-completion SPARSITY at the small tier (few qualifying
    # view->click->purchase triples => small max participating id) as
    # superlinear growth of the id itself.
    ("stream_funnel_conversion", "view_id"): (
        1.0,
        "event identifier <= max(event_id), linear in rows; small-tier"
        " funnel sparsity fakes the superlinear fit",
        "tests/test_round8_ops.py::test_stream_funnel_matches_batch_and_ordering",
    ),
    ("stream_funnel_conversion", "click_id"): (
        1.0,
        "same identifier bound as view_id: every output id is an event"
        " identifier <= max(event_id), linear in rows by construction",
        "tests/test_round8_ops.py::test_stream_funnel_matches_batch_and_ordering",
    ),
    ("stream_funnel_conversion", "purchase_id"): (
        1.0,
        "same identifier bound as view_id: every output id is an event"
        " identifier <= max(event_id), linear in rows by construction",
        "tests/test_round8_ops.py::test_stream_funnel_matches_batch_and_ordering",
    ),
}


def _int_cols(df):
    out = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in ("bigint", "int", "smallint") or t.startswith("decimal"):
            cap = DEC38_CAP if t.startswith("decimal") else BIGINT_CAP
            out.append((f.name, cap))
    return out


def _max_abs(df, cols):
    from pyspark.sql import functions as F

    if not cols:
        return {}
    row = df.agg(
        *[F.max(F.abs(F.col(c))).alias(c) for c, _cap in cols]
    ).collect()[0]
    return {c: (float(row[c]) if row[c] is not None else 0.0) for c, _ in cols}


def main() -> int:
    from xova_spark.session import get_spark

    import __spark_entry__ as entrymod

    sf_small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sf_big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("lattice-headroom")
    qs = entrymod.queries()
    cands = []
    for n, fn in qs.items():
        try:
            src = inspect.getsource(inspect.unwrap(fn))
        except (OSError, TypeError):
            src = ""
        if MARKER.search(src):
            cands.append((n, fn))
    rows = []
    flagged = []
    errors = []

    def audit(name, small_df_fn, big_df_fn, cap_override=None):
        try:
            d_small = small_df_fn()
            cols = _int_cols(d_small)
            if cap_override is not None:
                cols = [(c, cap_override) for c, _ in cols]
            m_small = _max_abs(d_small, cols)
            m_big = _max_abs(big_df_fn(), cols)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            errors.append((name, f"{type(exc).__name__}: {exc}"))
            return
        worst = None
        for c, cap in cols:
            lo, hi = m_small.get(c, 0.0), m_big.get(c, 0.0)
            if hi <= 0:
                continue
            alpha = max(0.0, math.log10(hi / lo)) if lo > 0 else 0.0
            override = ANALYTIC_BOUNDS.get((name, c))
            if override is not None and alpha > override[0]:
                alpha = override[0]
                c = c + "*"  # mark the analytic override in the table
            m_target = hi * (TARGET_MULT**alpha)
            headroom = cap / m_target if m_target > 0 else float("inf")
            if worst is None or headroom < worst[-1]:
                worst = (c, lo, hi, alpha, m_target, cap, headroom)
        if worst is None:
            rows.append((name, "-", 0, 0, 0.0, 0.0, BIGINT_CAP, float("inf")))
            return
        c, lo, hi, alpha, m_target, cap, headroom = worst
        rows.append((name, c, lo, hi, alpha, m_target, cap, headroom))
        if headroom < FLOOR:
            flagged.append(name)

    for name, fn in cands:
        if name in SKIP:
            rows.append((name, f"SKIP: {SKIP[name]}", 0, 0, 0, 0, 0, 0))
            continue
        audit(
            name,
            lambda fn=fn: fn(spark, sf_small),
            lambda fn=fn: fn(spark, sf_big),
        )
    for name, (probe, cap) in PROBES.items():
        audit(
            name,
            lambda probe=probe: probe(spark, sf_small),
            lambda probe=probe: probe(spark, sf_big),
            cap_override=cap,
        )

    rows.sort(key=lambda r: r[-1])
    print(
        "| entry | worst col | max@sf0.01 | max@sf0.1 | alpha |"
        " extrap@100TB | capacity | headroom |"
    )
    print("|---|---|---|---|---|---|---|---|")
    # (a `*` on the column marks an ANALYTIC_BOUNDS alpha override;
    # `__dividend` rows are internal-accumulator PROBES)
    for name, c, lo, hi, alpha, m_target, cap, headroom in rows:
        print(
            f"| {name} | {c} | {lo:.3g} | {hi:.3g} | {alpha:.2f} |"
            f" {m_target:.3g} | {cap:.3g} | {headroom:.3g} |"
        )
    if errors:
        print(f"\nerrors: {len(errors)}")
        for n, e in errors:
            print(f"  {n}: {e}")
    if flagged:
        print(f"\nFLAGGED (headroom < {FLOOR:g}x): {flagged}")
    from xova_spark.sharedframes import clear_shared

    clear_shared()
    if flagged:
        return 1
    return 2 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())

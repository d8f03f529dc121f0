"""Property tests for the round-3 additions: retention cohorts,
keep-best canonical selection, TF-IDF top terms, IVF-PQ search, and
power-iteration PCA. The DuckDB oracle gate pins exact values; these pin
the SEMANTIC invariants that make each operator the thing it claims to
be (recall floors, selection optimality, spectral correctness)."""

from __future__ import annotations

import numpy as np

from xova_spark.queries import dedup as D
from xova_spark.queries import pipelineq as P
from xova_spark.queries import relext as R
from xova_spark.queries import textops as T

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


def test_retention_cohort_invariants(spark):
    """Week-0 retention is 1.0 by construction (a user's first-event
    week is an active week), activity never exceeds cohort size, and
    offsets are non-negative."""
    df = R.ev_retention_cohorts(spark, SF_MID).toPandas()
    assert len(df) > 0
    assert (df["week_offset"] >= 0).all()
    assert (df["n_active"] <= df["cohort_size"]).all()
    w0 = df[df["week_offset"] == 0]
    assert set(w0["cohort_week"]) == set(df["cohort_week"])
    assert (w0["n_active"] == w0["cohort_size"]).all()
    assert (w0["retention"] == 1.0).all()


def test_keep_best_selection_optimality(spark):
    """Every component maps to exactly ONE canonical doc; the canonical
    is the member with the max distinct-token count (ties: lowest
    doc_id); singletons are their own canonical; the component labeling
    agrees with dedup_cc_clusters."""
    df = D.dedup_keep_best(spark, SF_MID).toPandas()
    comps = D.dedup_cc_clusters(spark, SF_MID).toPandas()

    # exactly one survivor per component, and it is the canonical
    kept = df[df["kept"] == 1]
    assert kept.groupby("component").size().eq(1).all()
    assert (kept["doc_id"] == kept["canonical_id"]).all()

    # canonical maximizes (n_distinct_tokens, -doc_id) within component
    best = (
        df.sort_values(["n_distinct_tokens", "doc_id"], ascending=[False, True])
        .groupby("component")
        .first()
    )
    canon = kept.set_index("component")
    assert (best["doc_id"].sort_index() == canon["doc_id"].sort_index()).all()

    # clustered docs carry the CC label; singletons label themselves
    clustered = df.set_index("doc_id")["component"]
    for r in comps.itertuples():
        assert clustered[r.doc_id] == r.component
    singles = df[~df["doc_id"].isin(comps["doc_id"])]
    assert (singles["component"] == singles["doc_id"]).all()


def test_tfidf_topterms_semantics(spark):
    """Top-5 per language, ranks dense from 1, and the reported scores
    match an independent pandas recomputation of tf * round(idf, 6)."""
    import pandas as pd

    df = T.t_tfidf_topterms(spark, SF_SMALL).toPandas()
    assert df.groupby("lang")["rank"].apply(
        lambda s: sorted(s) == list(range(1, len(s) + 1)) and len(s) <= 5
    ).all()

    docs = T._docs(spark, SF_SMALL)[0].select("doc_id", "lang", "text").toPandas()
    n_docs = len(docs)
    rows = []
    for r in docs.itertuples():
        for term in r.text.split(" "):
            rows.append((r.doc_id, r.lang, term))
    all_terms = pd.DataFrame(rows, columns=["doc_id", "lang", "term"])
    df_count = all_terms.groupby("term")["doc_id"].nunique()
    tf = all_terms.groupby(["lang", "term"]).size()
    for r in df.itertuples():
        assert r.df == df_count[r.term]
        assert r.tf == tf[(r.lang, r.term)]
        idf = round(np.log(n_docs / df_count[r.term]), 6)
        assert abs(r.tfidf - round(r.tf * idf, 6)) < 1e-9


def test_ivfpq_consistent_with_full_pq(spark):
    """IVF-PQ searches a candidate SUBSET (nprobe cells), so wherever its
    top-5 overlaps the full-corpus PQ top-5 the asymmetric distances
    must be identical; and the probed subset still recalls a useful
    fraction of the full-PQ top-5 (the nprobe recall/cost knob)."""
    full = (
        P.ann_pq_topk(spark, SF_SMALL)
        .toPandas()
        .set_index(["qid", "cid"])["pq_dist"]
    )
    ivf = (
        P.ann_ivfpq_topk(spark, SF_SMALL)
        .toPandas()
        .set_index(["qid", "cid"])["pq_dist"]
    )
    common = ivf.index.intersection(full.index)
    assert len(common) > 0
    assert (ivf.loc[common] == full.loc[common]).all()
    recall = len(common) / len(full)
    assert recall >= 0.5, recall


def test_pca_power_converges_to_top_of_spectrum(spark):
    """The power-iterated loading vector is unit-norm (up to the 2^-20
    re-quantization) and its Rayleigh quotient lands at the TOP of
    numpy's spectrum of the same round-6 covariance matrix. The test
    embeddings are near-isotropic (eigengap ratio ~0.99), so exact
    top-eigenvector alignment after 8 iterations is not a property the
    algorithm has — the guarantees it DOES have are: Rayleigh quotient
    monotonically above the start value, within the spectrum's range,
    close to lambda_max, and a bounded eigen-residual."""
    pca = P.emb_pca_power(spark, SF_SMALL).toPandas().sort_values("dim")
    v = pca["loading"].to_numpy()
    lam = pca["eigenvalue"].iloc[0]
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3

    cov = P.emb_covariance(spark, SF_SMALL).toPandas()
    dim = P._DIM
    C = np.zeros((dim, dim))
    for r in cov.itertuples():
        C[r.i, r.j] = r.cov
        C[r.j, r.i] = r.cov
    evals, _ = np.linalg.eigh(C)
    top_val = evals[-1]
    v0 = np.full(dim, 0.125)
    start_rq = float(v0 @ C @ v0) / float(v0 @ v0)
    assert lam >= start_rq - 1e-9          # monotone ascent from v0
    assert lam <= top_val + 1e-6           # bounded by lambda_max
    assert lam >= 0.85 * top_val           # converged near the top
    resid = np.linalg.norm(C @ v - lam * v)
    assert resid < 0.2 * lam               # bounded eigen-residual


def test_covariance_plan_shape(spark):
    """emb_covariance: the corpus-scale pair explode partial-aggregates
    map-side into at most dim^2/2 groups, and the 64-row moment tables
    join BROADCAST — no sort-merge join anywhere in the plan."""
    from xova_spark import plans as PL

    df = P.emb_covariance(spark, SF_SMALL)
    assert PL.sortmerge_join_count(df) == 0, PL.plan_stats(df)
    assert PL.broadcast_join_count(df) >= 2, PL.plan_stats(df)


def test_ivfpq_probe_join_broadcasts(spark):
    """ann_ivfpq_topk: the probe table (n_queries x nprobe rows) and the
    per-subspace lookup tables broadcast into the code scan — the
    full-corpus side never shuffles for the search joins."""
    from xova_spark import plans as PL

    df = P.ann_ivfpq_topk(spark, SF_SMALL)
    # probes + the single wide LUT row + the cell-assignment centroid
    # join all broadcast (the M per-subspace LUT joins are collapsed
    # into ONE wide-row broadcast — see _lut_wide); nothing sort-merges
    assert PL.broadcast_join_count(df) >= 3, PL.plan_stats(df)
    assert PL.sortmerge_join_count(df) == 0, PL.plan_stats(df)


def test_index_cli_roundtrip_matches_in_session_search(spark, tmp_path):
    """`xova-spark-extras index` + `search` against the persisted index returns
    BIT-IDENTICAL results to the in-session ann_ivfpq_topk (same qids,
    k, nprobe) — the train-once/search-many contract — and the probe
    filter prunes the cell-partitioned code table at the parquet level."""
    import os

    from xova_spark.extras import run
    from xova_spark.queries.pipelineq import ivfpq_index_search

    idx = str(tmp_path / "ivfpq_index")
    run(["index", SF_SMALL, "-o", idx, "--force"])
    assert os.path.isdir(os.path.join(idx, "codes"))
    # cell-partitioned layout on disk
    assert any(
        d.startswith("cell=") for d in os.listdir(os.path.join(idx, "codes"))
    )

    got = (
        ivfpq_index_search(spark, idx, SF_SMALL, list(range(10)))
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    want = (
        P.ann_ivfpq_topk(spark, SF_SMALL)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True
    )

    # partition pruning: the executed scan reads only the probed cells
    from xova_spark import plans as PL

    plan = PL.executed_plan(
        ivfpq_index_search(spark, idx, SF_SMALL, [0, 1])
    )
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivfpq_recall_measured_and_floored(spark):
    """The IVF-PQ recall entry measures recall against the exact-cosine
    referee. The fixture embeddings are ISOTROPIC random vectors — the
    hardest case for product quantization (no cluster structure for the
    codebooks to exploit), so absolute recall is modest by nature; the
    gate pins that it is measured, bounded, and clears a floor that
    random top-5 guessing (5/N ~ 0.01) is nowhere near."""
    df = P.ann_ivfpq_recall_at5(spark, SF_SMALL).toPandas()
    assert len(df) == 10
    assert ((df["n_hits"] >= 0) & (df["n_hits"] <= 5)).all()
    assert df["recall_at_5"].mean() >= 0.15


def test_stream_ann_search_converges_to_batch(spark):
    """The streaming ANN serving path (queries arrive as a stream,
    each micro-batch searches the static index via foreachBatch)
    converges availableNow to the batch ann_ivfpq_topk result,
    bit-identically."""
    import pandas as pd

    from xova_spark.queries.streamingq import stream_ann_search

    got = (
        stream_ann_search(spark, SF_SMALL)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    want = (
        P.ann_ivfpq_topk(spark, SF_SMALL)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_covariance_gram_path_equals_explode_path(spark):
    """The mapInPandas BLAS-Gramian covariance (wide-dim scale path)
    equals the explode-pair formulation EXACTLY — dyadic inputs make
    every partial sum order-independent-exact, numpy's blocked
    accumulation included."""
    import pandas as pd

    a = (
        P.emb_covariance(spark, SF_SMALL)
        .toPandas().sort_values(["i", "j"]).reset_index(drop=True)
    )
    b = (
        P.emb_covariance_gram(spark, SF_SMALL)
        .toPandas().sort_values(["i", "j"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


def test_ivfadc_residual_variant_measured(spark):
    """The residual-encoded IVFADC variant: ranks dense per query,
    distances non-negative, and recall vs exact cosine is measured.
    MEASURED FINDING (kept as a pin): on the ISOTROPIC fixture, residual
    encoding does NOT beat global codebooks (~0.22 vs ~0.30 recall@5 at
    sf0.001) — coarse cells capture no structure, residual energy stays
    near raw energy, and some residual Lloyd clusters collapse empty.
    Residual encoding pays off on clustered corpora; asserting
    ADC >= PQ here would be cargo cult. The floor below is the
    anti-regression line, not a quality claim."""
    df = P.ann_ivfadc_topk(spark, SF_SMALL).toPandas()
    assert (df["pq_dist"] >= 0).all()
    assert df.groupby("qid")["rank"].apply(
        lambda s: sorted(s) == list(range(1, len(s) + 1))
    ).all()

    import numpy as np

    emb = (
        P._emb(spark, SF_SMALL).toPandas().set_index("vec_id")["embedding"].sort_index()
    )
    X = np.stack(
        [np.floor(np.asarray(v, dtype=np.float64) * 1024) / 1024 for v in emb]
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    adc = df.set_index(["qid", "cid"])
    hits = tot = 0
    for qid in range(10):
        cos = Xn @ Xn[qid]
        cos[qid] = -9
        for c in np.argsort(-cos, kind="stable")[:5]:
            tot += 1
            if (qid, int(c)) in adc.index:
                hits += 1
    assert hits / tot >= 0.1


def test_weighted_sample_overrepresents_heavy_docs(spark):
    """Efraimidis-Spirakis sanity on the fixed draw: the weighted sample's
    mean token count exceeds the corpus mean (longer docs proportionally
    likelier), and per-language ranks are dense from 1. Deterministic:
    the draw is a salted hash, so this is a regression pin, not a
    statistical assertion."""
    samp = T.t_sample_weighted(spark, SF_MID).toPandas()
    docs = T._docs(spark, SF_MID)[0].toPandas()
    mean_corpus = docs["text"].str.split(" ").str.len().mean()
    assert samp["w"].mean() > mean_corpus
    assert samp.groupby("lang")["rank"].apply(
        lambda s: sorted(s) == list(range(1, len(s) + 1))
    ).all()


def test_truncated_recall_is_a_real_measurement(spark):
    """The truncation gate must produce coherent per-query recalls; the
    pinned finding: untrained 16-of-64 truncation on the isotropic
    fixture is BAD (mean recall well under 0.5) — the gate's value is
    saying 'do not ship this index'."""
    from xova_spark.queries import similarity as S

    df = S.ann_truncated_recall_at5(spark, SF_MID).toPandas()
    assert len(df) == 10
    assert ((df["n_hits"] >= 0) & (df["n_hits"] <= 5)).all()
    assert (df["recall_at_5"] * 5 - df["n_hits"]).abs().max() < 1e-9
    assert df["recall_at_5"].mean() < 0.5

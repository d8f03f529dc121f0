"""Driver-contract integrity: the registry must stay import-cheap,
name-consistent, and fully oracle-gated (modulo the declared rows-only
entries) — the properties CORRECTNESS_r{N} sampling depends on."""

from __future__ import annotations

import os
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS_ONLY_BY_DESIGN = {"uvw_apply_pandas_synthesis"}


def test_registry_enumerates_fast_and_consistently():
    t0 = time.perf_counter()
    import __spark_entry__ as m

    qs = m.queries()
    oracles = m.oracle_sql()
    assert time.perf_counter() - t0 < 10.0  # import-cheap (driver contract)
    assert len(qs) >= 160
    assert set(oracles) <= set(qs)  # no orphan oracles
    missing = set(qs) - set(oracles)
    assert missing == ROWS_ONLY_BY_DESIGN, (
        f"entries without an oracle beyond the declared rows-only set: "
        f"{sorted(missing - ROWS_ONLY_BY_DESIGN)}"
    )
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracle_sql_mentions_only_registered_tables():
    """Every oracle must run against the driver's pre-registered views
    (or explicit read_parquet paths) — a typo'd table name would fail
    only at gate time otherwise."""
    import re

    import __spark_entry__ as m

    known = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name, sql in m.oracle_sql().items():
        body = re.sub(r"read_parquet\('[^']*'\)", "_rp_", sql)
        # `extract(hour FROM ts)` is an expression, not a table ref
        body = re.sub(r"extract\s*\([^)]*\)", "_extract_", body, flags=re.IGNORECASE)
        # strip CTE names defined in this query
        ctes = set(
            re.findall(
                r"(?:WITH(?:\s+RECURSIVE)?|,)\s*([a-zA-Z_][a-zA-Z0-9_]*)"
                r"\s*(?:\([^)]*\))?\s+AS\s+(?:MATERIALIZED\s*)?\(",
                body,
                re.IGNORECASE,
            )
        )
        refs = set(
            t.lower()
            for t in re.findall(
                r"\b(?:FROM|JOIN)\s+([a-zA-Z_][a-zA-Z0-9_]*)", body, re.IGNORECASE
            )
        )
        unknown = refs - known - {c.lower() for c in ctes} - {"_rp_"}
        # generate_series/range/unnest appear in FROM position in DuckDB
        unknown -= {"generate_series", "range", "unnest"}
        assert not unknown, f"{name}: unrecognized FROM targets {sorted(unknown)}"


def test_oracle_schemas_have_no_hugeint_columns():
    """Every oracle's DuckDB result schema must be HUGEINT-free (plan-only
    DESCRIBE sweep — nothing executes). DuckDB types sum(BIGINT) as
    HUGEINT and fetches it as float64 (`405.0` vs Spark's int64 `405`) —
    numerically equal, so a value-comparing gate says EXACT while the
    driver's value-hash FAILs (round-4 verdict: pipeline_corpus_e2e, plus
    eight latent siblings). The fix idiom is CAST(sum(...) AS BIGINT) at
    the oracle's final projection (graph_assortativity set the pattern)."""
    import duckdb

    import __spark_entry__ as m
    from tools.check_oracle import TABLES, oracle_schema_hazards
    from xova_spark.sources.ms_fixture import ms_fixture_dir

    # Materialize the MS fixtures some oracles read via absolute
    # read_parquet paths (no-op when already cached).
    ms_fixture_dir()
    ms_fixture_dir(na=64, ntime=36)

    con = duckdb.connect()
    sf_dir = "/root/testdata/sf0.001"
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = m.oracle_sql()
    undescribable = []
    for name, sql in oracles.items():
        try:
            con.execute(f"DESCRIBE {sql}")
        except Exception as e:  # noqa: BLE001
            undescribable.append((name, f"{type(e).__name__}: {e}"))
    assert not undescribable, undescribable[:5]
    hazards = oracle_schema_hazards(con, oracles)
    assert not hazards, (
        f"HUGEINT result columns (driver hash-unsafe; CAST to BIGINT): {hazards}"
    )


def test_priority_block_leads_the_registry():
    """The correctness gate samples the FIRST 50 names — the MS-domain
    parity core must stay in front (VERDICT r3 item 1). A pack
    reordering that pushed ms_*/bda_*/uvw_* out of the sample would
    silently remove the engine's reason-for-being from driver
    visibility."""
    import __spark_entry__ as m

    names = list(m.queries())
    assert names[: len(m._PRIORITY)] == list(m._PRIORITY)
    first50 = set(names[:50])
    for prefix, minimum in (("ms_", 15), ("bda_", 8), ("uvw_", 3), ("stream_", 4)):
        got = sum(1 for n in first50 if n.startswith(prefix))
        assert got >= minimum, (prefix, got)
    # Rotation policy (VERDICT r4 item 8 / r5 item 1): the tail slots
    # rotate through never-driver-sampled divergence candidates each
    # round. Round 10 rotated in the 12 names VERDICT r9 item 1
    # prescribed (the cross-dialect-risk classes among the 20 round-9
    # entries); the 12 r9-green names rotated OUT per policy. Update
    # this set when the slots rotate.
    rotated_in_r10 = {
        "ev_holm_bonferroni", "dq_anomaly_mad",
        "agg_histogram_quantile_sketch", "ev_cuped_adjustment",
        "ev_power_sample_size", "ev_seasonality_strength",
        "join_asof_tolerance", "graph_degree_assortativity",
        "ann_nprobe_tuning_report", "graph_local_clustering",
        "t_doc_entropy_filter", "er_cluster_conflict_rate",
    }
    assert rotated_in_r10 <= first50, rotated_in_r10 - first50


def test_coverage_header_counts_are_in_sync():
    """COVERAGE.md's stamped Registry line, GATE_LOG.md's gate summary,
    and the live registry must agree (VERDICT r5 item 6: the round-5
    header said 290 while the registry was 327). gate_summary.py stamps
    the header from each full gate run; this test makes any drift —
    hand edits, forgotten regeneration, registry growth without a gate
    run — a red test instead of a doc nit."""
    import re

    import __spark_entry__ as m

    n_live = len(m.queries())

    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    mh = re.search(
        r"Registry: \*\*(\d+) entries; (\d+) oracle-EXACT, (\d+) rows-only",
        cov,
    )
    assert mh, "COVERAGE.md lost its stamped Registry line — rerun gate_summary"
    n_cov, n_exact_cov, n_ro_cov = map(int, mh.groups())

    gate = open(os.path.join(REPO, "GATE_LOG.md")).read()
    mg = re.search(r"exact=(\d+) close=(\d+) fail=(\d+) rows_only=(\d+) total=(\d+)", gate)
    assert mg, "GATE_LOG.md has no summary line — rerun gate_summary"
    n_exact_g, n_close_g, n_fail_g, n_ro_g, n_total_g = map(int, mg.groups())

    assert n_cov == n_live, (
        f"COVERAGE.md header says {n_cov} entries, registry has {n_live}"
        " — rerun tools/gate_summary.py"
    )
    assert n_total_g == n_live, (
        f"GATE_LOG.md total {n_total_g} != registry {n_live}"
        " — rerun tools/gate_summary.py"
    )
    assert (n_exact_cov, n_ro_cov) == (n_exact_g, n_ro_g)
    assert n_close_g == 0 and n_fail_g == 0

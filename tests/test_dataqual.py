"""Property tests for the data-quality pack: profile consistency
identities, SCD2 interval-partition laws, exact pandas cross-check of
the drift lattice, and the one-scan plan shape of the profiler."""

from __future__ import annotations

import numpy as np
import pandas as pd

from xova_spark.queries import dataqual as DQ

SF = "/root/testdata/sf0.001"


def test_profile_identities(spark):
    df = DQ.dq_profile_columns(spark, SF).toPandas()
    assert set(df["col_name"]) == set(DQ._PROFILE_COLS)
    assert (df["n_nonnull"] <= df["n_rows"]).all()
    assert (df["n_distinct"] <= df["n_nonnull"]).all()
    assert (df["min_val"] <= df["mean_val"]).all()
    assert (df["mean_val"] <= df["max_val"]).all()
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    for r in df.itertuples():
        assert r.n_rows == len(li)
        assert r.n_nonnull == li[r.col_name].notna().sum()
        assert r.n_distinct == li[r.col_name].nunique()
        assert r.min_val == li[r.col_name].min()
        assert r.max_val == li[r.col_name].max()


def test_profile_is_single_scan(spark):
    """All 4x6 metrics must come from ONE pass over lineitem."""
    plan = (
        DQ.dq_profile_columns(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1


def test_key_uniqueness_report(spark):
    df = DQ.dq_key_uniqueness(spark, SF).toPandas().set_index("table_name")
    assert len(df) == 4
    assert (df["n_keys"] <= df["n_rows"]).all()
    # single-column surrogate keys really are unique in the fixture
    for t in ("orders", "customer", "part"):
        assert bool(df.loc[t, "is_unique"])
    # the lineitem composite is NOT unique in the synthetic fixture
    # (line numbers repeat within an order) — the report must say so,
    # with the exact distinct count
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    want = len(li[["l_orderkey", "l_linenumber"]].drop_duplicates())
    assert df.loc["lineitem", "n_keys"] == want
    assert bool(df.loc["lineitem", "is_unique"]) == (want == len(li))


def test_referential_orphans_match_pandas(spark):
    df = DQ.dq_referential_orphans(spark, SF).toPandas().set_index("relationship")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    od = pd.read_parquet(f"{SF}/orders.parquet")
    pt = pd.read_parquet(f"{SF}/part.parquet")
    sp = pd.read_parquet(f"{SF}/supplier.parquet")
    cu = pd.read_parquet(f"{SF}/customer.parquet")
    want = {
        "lineitem->orders": (~li["l_orderkey"].isin(od["o_orderkey"])).sum(),
        "lineitem->part": (~li["l_partkey"].isin(pt["p_partkey"])).sum(),
        "lineitem->supplier": (~li["l_suppkey"].isin(sp["s_suppkey"])).sum(),
        "orders->customer": (~od["o_custkey"].isin(cu["c_custkey"])).sum(),
    }
    for rel, n in want.items():
        assert df.loc[rel, "n_orphans"] == n


def test_scd2_interval_partition_laws(spark):
    df = DQ.scd2_order_versions(spark, SF).toPandas()
    grp = df.sort_values(["o_custkey", "version_n"]).groupby("o_custkey")
    for _, g in grp:
        # versions contiguous from 1
        assert list(g["version_n"]) == list(range(1, len(g) + 1))
        # exactly one open (current) interval, and it is the last
        assert g["is_current"].sum() == 1
        assert bool(g["is_current"].iloc[-1])
        # each version's valid_to chains to the next valid_from
        nxt = g["valid_from"].shift(-1)
        closed = g["valid_to"].notna()
        assert (g.loc[closed, "valid_to"] == nxt[closed]).all()
        # intervals never invert
        assert (g.loc[closed, "valid_from"] <= g.loc[closed, "valid_to"]).all()


def test_histogram_drift_matches_pandas_lattice(spark):
    got = DQ.dq_histogram_drift(spark, SF).toPandas().iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    bins = np.floor(li["l_discount"].to_numpy() * 20).astype(np.int64)
    early = li["l_shipdate"].to_numpy() < np.datetime64(DQ._DRIFT_SPLIT)
    ce = pd.Series(bins[early]).value_counts()
    cl = pd.Series(bins[~early]).value_counts()
    allb = sorted(set(ce.index) | set(cl.index))
    te, tl = int(early.sum()), int((~early).sum())
    l1 = sum(
        abs(int(ce.get(b, 0)) * tl - int(cl.get(b, 0)) * te) for b in allb
    )
    assert int(got["n_early"]) == te
    assert int(got["n_late"]) == tl
    assert int(got["l1_cross"]) == l1


def test_dq_cli_writes_reports_and_strict_passes(spark, tmp_path):
    from xova_spark.extras import run

    out = str(tmp_path / "dqrep")
    got = run(["dq", SF, "-o", out, "--strict"], spark=spark)
    assert got == out
    for name in ("profile", "keys", "orphans", "drift"):
        df = spark.read.parquet(f"{out}/{name}")
        assert df.count() > 0
    # the fixture is referentially intact -> strict returned normally
    orphans = spark.read.parquet(f"{out}/orphans").toPandas()
    assert orphans["n_orphans"].sum() == 0


def test_corr_matrix_matches_numpy(spark):
    """The one-scan integer-moment Pearson matrix equals numpy's
    corrcoef on the same integerized columns."""
    import numpy as np
    import pandas as pd

    from xova_spark.queries.dataqual import _CORR_COLS, dq_corr_matrix

    sf = "/root/testdata/sf0.001"
    got = dq_corr_matrix(spark, sf).toPandas()
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    ints = pd.DataFrame(
        {
            "qty": li["l_quantity"].astype("int64"),
            "disc100": np.floor(li["l_discount"] * 100 + 0.5).astype("int64"),
            "tax100": np.floor(li["l_tax"] * 100 + 0.5).astype("int64"),
            "price_usd": np.floor(li["l_extendedprice"]).astype("int64"),
        }
    )
    names = [nm for nm, _e, _s in _CORR_COLS]
    assert len(got) == 6
    for _, row in got.iterrows():
        r_np = np.corrcoef(ints[row["col_a"]], ints[row["col_b"]])[0, 1]
        assert abs(row["pearson_r"] - r_np) < 1e-5, (row["col_a"], row["col_b"])
    assert set(zip(got["col_a"], got["col_b"])) == {
        (a, b) for i, a in enumerate(names) for b in names[i + 1:]
    }


def test_benford_digits_and_chi2_replica(spark):
    """dq_benford equals a pandas replica: first digit of exact cents,
    chi-square contributions from the shared literal constants."""
    import pandas as pd

    from xova_spark.queries.dataqual import _BENFORD, dq_benford

    got = {r["digit"]: r for r in dq_benford(spark, SF).collect()}
    assert set(got) == set(range(1, 10))
    o = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    digits = cents.astype(str).str[0].astype(int)
    n = len(digits)
    counts = digits.value_counts().to_dict()
    assert sum(r["n_obs"] for r in got.values()) == n
    for d, r in got.items():
        nd = counts.get(d, 0)
        frac = float(_BENFORD[d])
        assert r["n_obs"] == nd
        assert r["obs_permille"] == nd * 1000 // n
        assert r["benford_permille"] == round(frac * 1000)
        assert abs(r["chi2_contrib"] - round((nd - frac * n) ** 2 / (frac * n), 6)) < 1e-9


def test_fd_profile_matches_duckdb_and_discriminates(spark):
    """Every candidate FD's verdict must match an independent DuckDB
    recompute, and the candidate set must actually discriminate (at
    least one holds, at least one fails) — a profiler that can't tell
    keys from correlations is useless."""
    import duckdb

    from xova_spark.queries.dataqual import _FD_CANDIDATES, dq_fd_profile

    sf = "/root/testdata/sf0.01"
    got = {r["fd"]: r for r in dq_fd_profile(spark, sf).collect()}
    holds = []
    for name, table, det, dep in _FD_CANDIDATES:
        ng, nv, mx = duckdb.sql(
            f"""
            SELECT count(*), sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END),
                   max(nd)
            FROM (SELECT {det}, count(DISTINCT {dep}) AS nd
                  FROM '{sf}/{table}.parquet' GROUP BY {det})
            """
        ).fetchone()
        r = got[name]
        assert (r["n_groups"], r["n_violating_groups"], r["max_branching"]) \
            == (ng, nv, mx), name
        assert r["holds"] == (nv == 0)
        holds.append(r["holds"])
    assert any(holds) and not all(holds)

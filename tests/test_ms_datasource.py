"""Custom MS DataSource tests: equality with the native parquet read,
row-group partitioning, and filter pushdown semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xova_spark.sources.ms_datasource import MSDataSource, MSReader


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(MSDataSource)
    return spark


def test_source_matches_parquet(registered, ms_dir, ms):
    via_source = (
        registered.read.format("xova_ms").load(ms_dir).toPandas().sort_values("row_id")
    )
    via_parquet = ms["ms_rows"].toPandas().sort_values("row_id")
    assert (
        via_source.reset_index(drop=True)
        .eq(via_parquet.reset_index(drop=True))
        .all()
        .all()
    )


def test_source_other_table(registered, ms_dir, ms):
    w = registered.read.format("xova_ms").option("table", "ms_weights").load(ms_dir)
    assert w.count() == ms["ms_weights"].count()


def test_pushed_filter_semantics(registered, ms_dir, ms):
    got = (
        registered.read.format("xova_ms")
        .load(ms_dir)
        .filter((F.col("FIELD_ID") == 0) & (F.col("ANTENNA1") == 3))
        .count()
    )
    want = (
        ms["ms_rows"].filter((F.col("FIELD_ID") == 0) & (F.col("ANTENNA1") == 3)).count()
    )
    assert got == want > 0


def test_unsupported_filters_returned_to_spark(registered, ms_dir, ms):
    """Non-EqualTo predicates are evaluated by Spark post-scan — results
    must still be correct."""
    got = (
        registered.read.format("xova_ms")
        .load(ms_dir)
        .filter((F.col("TIME") > 5.03e9) & (F.col("SCAN_NUMBER") == 1))
        .count()
    )
    want = (
        ms["ms_rows"]
        .filter((F.col("TIME") > 5.03e9) & (F.col("SCAN_NUMBER") == 1))
        .count()
    )
    assert got == want > 0


def test_row_group_stats_skipping():
    """A pushed equality outside a row group's [min, max] skips the
    group entirely."""

    class FakeStats:
        has_min_max = True
        min, max = 2, 5

    class FakeCol:
        path_in_schema = "FIELD_ID"
        statistics = FakeStats()

    class FakeRG:
        num_columns = 1

        def column(self, i):
            return FakeCol()

    class FakeMeta:
        def row_group(self, i):
            return FakeRG()

    r = MSReader("/nonexistent")
    r.eq_filters = [("FIELD_ID", 7)]
    assert not r._row_group_can_match(FakeMeta(), 0)
    r.eq_filters = [("FIELD_ID", 3)]
    assert r._row_group_can_match(FakeMeta(), 0)


# -- CASA MS bridge (sources/casa_ms) ---------------------------------------

def test_load_ms_auto_falls_back_to_parquet(spark, ms_dir):
    """Without python-casacore, a parquet-layout directory loads through
    the fixture loader — the bridge must never be on that path."""
    from xova_spark.sources.casa_ms import is_casa_ms, load_ms_auto

    assert not is_casa_ms(ms_dir)
    tables = load_ms_auto(spark, ms_dir)
    assert tables["ms_rows"].count() > 0


def test_casa_ms_path_raises_clearly_without_codec(spark, tmp_path):
    """A REAL .ms directory (marker: table.dat) without python-casacore
    is a clear NotImplementedError, not a confusing parquet failure."""
    import pytest

    from xova_spark.sources import casa_ms

    if casa_ms.HAVE_CASACORE:
        pytest.skip("python-casacore installed; the gated path is live")
    fake_ms = tmp_path / "real.ms"
    fake_ms.mkdir()
    (fake_ms / "table.dat").write_bytes(b"\xbe\xbe")
    assert casa_ms.is_casa_ms(str(fake_ms))
    with pytest.raises(NotImplementedError):
        casa_ms.load_ms_auto(spark, str(fake_ms))


def _sorted_pdf(df, keys):
    pdf = df.toPandas().sort_values(keys).reset_index(drop=True)
    return pdf.reindex(sorted(pdf.columns), axis=1)


def test_casa_bridge_parity_with_parquet_path(spark, ms_dir, tmp_path):
    """The bridge's distributed windowing + cube assembly vs the parquet
    path, over IDENTICAL data: the parquet fixture (DDID 0) converted to
    a wide-layout fake CASA table (casa_fake — same getcol API the real
    library serves), ingested with a window size that forces multiple
    getcol pages per executor, must reproduce ms_rows / ms_vis /
    ms_weights exactly. With python-casacore installed the same bridge
    code runs against real tables; this pins the Spark side either way."""
    import pandas as pd

    from xova_spark.sources import casa_ms
    from xova_spark.sources.casa_fake import fake_ms_from_fixture
    from xova_spark.sources.ms_fixture import load_ms

    twin = fake_ms_from_fixture(ms_dir, str(tmp_path / "twin.ms"))
    assert casa_ms.is_casa_ms(twin)  # routes through the bridge
    got = casa_ms.load_ms_auto(spark, twin, window=211)  # odd → ragged pages

    ref = load_ms(spark, ms_dir)
    ref_rows = ref["ms_rows"].filter("DATA_DESC_ID = 0")
    keep = ref_rows.select("row_id")

    g = _sorted_pdf(got["ms_rows"].drop("DATA_DESC_ID"), ["row_id"])
    r = _sorted_pdf(ref_rows.drop("DATA_DESC_ID"), ["row_id"])
    pd.testing.assert_frame_equal(g, r, check_dtype=False)

    g = _sorted_pdf(got["ms_vis"], ["row_id", "chan", "corr"])
    r = _sorted_pdf(ref["ms_vis"].join(keep, "row_id"), ["row_id", "chan", "corr"])
    pd.testing.assert_frame_equal(g, r, check_dtype=False)

    g = _sorted_pdf(got["ms_weights"], ["row_id", "corr"])
    r = _sorted_pdf(ref["ms_weights"].join(keep, "row_id"), ["row_id", "corr"])
    pd.testing.assert_frame_equal(g, r, check_dtype=False)

    # -dc SRC the table lacks: raised on the driver, naming it.
    with pytest.raises(ValueError, match="CORRECTED_DATA"):
        casa_ms.load_ms_auto(spark, twin, data_column="CORRECTED_DATA")


def test_casa_bridge_weight_broadcast_without_spectrum(spark, ms_dir, tmp_path):
    """MS v2 convention: absent WEIGHT_SPECTRUM / SIGMA_SPECTRUM, the
    per-(row, corr) WEIGHT/SIGMA broadcast across channels — the
    colnames()-gated branch in read_casa_vis."""
    from pyspark.sql import functions as F

    from xova_spark.sources import casa_ms
    from xova_spark.sources.casa_fake import fake_ms_from_fixture

    twin = fake_ms_from_fixture(
        ms_dir, str(tmp_path / "nospec.ms"), with_spectrum=False
    )
    got = casa_ms.read_casa_ms(spark, twin, window=500)
    joined = got["ms_vis"].join(got["ms_weights"], ["row_id", "corr"])
    bad = joined.filter(
        (F.col("weight_sp") != F.col("WEIGHT"))
        | (F.col("sigma_sp") != F.col("SIGMA"))
    )
    assert bad.count() == 0
    # every channel present for every (row, corr)
    per = got["ms_vis"].groupBy("row_id", "corr").count()
    assert per.select("count").distinct().count() == 1


def test_casa_bridge_subtables_match_fixture(spark, ms_dir, tmp_path):
    """Driver-side dimension subtable assembly: SPW grid, DDID map,
    POLARIZATION, FIELD phase centres, ANTENNA positions."""
    from xova_spark.sources import casa_ms
    from xova_spark.sources.casa_fake import fake_ms_from_fixture
    from xova_spark.sources.ms_fixture import load_ms

    twin = fake_ms_from_fixture(ms_dir, str(tmp_path / "sub.ms"))
    got = casa_ms.read_casa_ms(spark, twin)
    ref = load_ms(spark, ms_dir)

    g = _sorted_pdf(got["spw_chans"], ["SPECTRAL_WINDOW_ID", "chan"])
    r = _sorted_pdf(
        ref["spw_chans"].filter("SPECTRAL_WINDOW_ID = 0"),
        ["SPECTRAL_WINDOW_ID", "chan"],
    )
    import pandas as pd

    pd.testing.assert_frame_equal(g, r, check_dtype=False)

    assert got["ddid"].count() == 1
    pol = got["pol"].toPandas()
    assert list(pol["NUM_CORR"]) == [4]
    assert list(pol["CORR_TYPE"][0]) == [9, 10, 11, 12]
    fld = _sorted_pdf(got["field"], ["FIELD_ID"])
    r_fld = _sorted_pdf(ref["field"], ["FIELD_ID"])
    pd.testing.assert_frame_equal(fld, r_fld, check_dtype=False)
    ant = _sorted_pdf(got["antenna"], ["ANTENNA_ID"])
    r_ant = _sorted_pdf(ref["antenna"], ["ANTENNA_ID"])
    pd.testing.assert_frame_equal(ant, r_ant, check_dtype=False)


def test_write_ms_sorts_within_files_for_zone_maps(spark, ms, tmp_path):
    """Zone-map layout contract: every data file write_ms produces is
    sorted by its table's SORT_WITHIN key, so parquet row-group min/max
    stats form tight disjoint ranges (the precondition for row-group
    skipping on TIME-window / row_id-range re-reads)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from xova_spark.sources.ms_writer import SORT_WITHIN, write_ms

    out = str(tmp_path / "sorted.ms")
    write_ms({"ms_rows": ms["ms_rows"], "ms_vis": ms["ms_vis"]}, out)
    for table in ("ms_rows", "ms_vis"):
        cols = [c for c in SORT_WITHIN[table]]
        files = glob.glob(os.path.join(out, table, "**", "*.parquet"),
                          recursive=True)
        assert files, table
        checked = 0
        for f in files:
            t = pq.read_table(f)
            present = [c for c in cols if c in t.column_names]
            if not present or t.num_rows < 2:
                continue
            rows = list(zip(*(t.column(c).to_pylist() for c in present)))
            assert rows == sorted(rows), (table, f)
            checked += 1
        assert checked > 0, table

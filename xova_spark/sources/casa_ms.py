"""CASA Measurement Set bridge — real casacore tables behind the seam.

The reference reads/writes actual casacore tables (reference:
xova/apps/xova/app.py:162-195 via dask-ms; windowed paging
check.py:38-41 ``getcol(startrow, nrow)``). This container ships no
python-casacore, so the bridge is import-gated: when the package is
present, ``load_ms_auto`` detects a CASA MS directory (its marker file
``table.dat``) and ingests it into the engine's long layout; otherwise
— and for parquet-layout directories always — it falls back to
``ms_fixture.load_ms``.

Scale shape (the part that matters even while the codec is absent):
the main-table read is NOT a driver-side loop. The driver only reads
``nrows()`` and builds a tiny window-index DataFrame of (startrow,
nrow) ranges; a ``mapInPandas`` stage then opens the table PER
EXECUTOR and pages its own windows with ``getcol`` — the Spark
realization of the reference's chunked scan, parallel across the
cluster, peak memory O(window). Subtables are driver-read whole (they
are dimension tables, exactly like the reference's eager
DATA_DESCRIPTION compute, app.py:191-193).

Parity contract: tests/test_ms_datasource.py converts the parquet
fixture into a wide-layout twin under ``casa_fake`` (a pure-Python
file-backed stand-in for the casacore table API — same
nrows/colnames/getcol surface) and asserts the bridge's distributed
ingest reproduces ms_rows/ms_vis/ms_weights exactly, so the windowing +
assembly logic runs in CI even without python-casacore. With the real
library installed, ``_open_table`` dispatches to casacore and the same
code paths serve real .ms directories.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # pragma: no cover - package absent in this container
    from casacore.tables import table as casa_table

    HAVE_CASACORE = True
except ImportError:
    casa_table = None
    HAVE_CASACORE = False

from xova_spark.sources.casa_fake import FakeCasaTable, is_fake_table

DEFAULT_WINDOW = 100_000  # rows per getcol page (ref --row-chunks scale)

ROW_COLS = [
    "TIME", "INTERVAL", "EXPOSURE", "TIME_CENTROID", "ANTENNA1", "ANTENNA2",
    "FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ARRAY_ID", "OBSERVATION_ID",
    "PROCESSOR_ID", "STATE_ID", "FLAG_ROW",
]


def is_casa_ms(path: str) -> bool:
    """A casacore table directory always carries a table.dat marker."""
    return os.path.isdir(path) and os.path.exists(os.path.join(path, "table.dat"))


def _require_backend(path: str) -> None:
    if not HAVE_CASACORE and not is_fake_table(path):
        raise NotImplementedError(
            "python-casacore is not installed; CASA MS paths need it — "
            "parquet-layout MS directories load without it"
        )


def _open_table(path: str):
    """Open a table by path: the fake store (CI scaffolding, checked
    first so it works regardless of the environment) or real casacore.
    Called on the DRIVER for nrows()/colnames() and ON EACH EXECUTOR by
    the mapInPandas paging closures — both backends open by path."""
    if is_fake_table(path):
        return FakeCasaTable(path)
    _require_backend(path)
    return casa_table(path, ack=False)


def _paged(
    spark: SparkSession, path: str, window: int, schema: str,
    read: Callable[..., dict],
) -> DataFrame:
    """The distributed getcol pager: the driver reads only ``nrows()``;
    each task opens the table by path and yields, per (startrow, nrow)
    window it holds, the page's columns ``read(t, start, nrow)``."""
    _require_backend(path)
    with _open_table(path) as t:
        n_rows = t.nrows()

    def page(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with _open_table(path) as t:
            for pdf in batches:
                for start, nrow in zip(pdf["startrow"], pdf["nrow"]):
                    yield pd.DataFrame(read(t, int(start), int(nrow)))

    bounds = [(s, min(window, n_rows - s)) for s in range(0, n_rows, window)]
    windows = spark.createDataFrame(bounds, "startrow long, nrow long")
    # One window per task: the ingest parallelism IS the window count.
    return windows.repartition(max(len(bounds), 1)).mapInPandas(page, schema)


def read_casa_main_rows(
    spark: SparkSession, path: str, window: int = DEFAULT_WINDOW
) -> DataFrame:
    """Row-level main-table columns (+ UVW split to u/v/w), long-layout
    row_id = the MS row number. Distributed getcol paging."""

    def read(t, start: int, nrow: int) -> dict:
        out = {"row_id": np.arange(start, start + nrow)}
        for c in ROW_COLS:
            out[c] = t.getcol(c, startrow=start, nrow=nrow)
        uvw = t.getcol("UVW", startrow=start, nrow=nrow)
        out["u"], out["v"], out["w"] = uvw[:, 0], uvw[:, 1], uvw[:, 2]
        return out

    schema = (
        "row_id long, TIME double, INTERVAL double, EXPOSURE double, "
        "TIME_CENTROID double, ANTENNA1 int, ANTENNA2 int, FIELD_ID int, "
        "DATA_DESC_ID int, SCAN_NUMBER int, ARRAY_ID int, OBSERVATION_ID int, "
        "PROCESSOR_ID int, STATE_ID int, FLAG_ROW boolean, "
        "u double, v double, w double"
    )
    return _paged(spark, path, window, schema, read)


def read_casa_vis(
    spark: SparkSession,
    path: str,
    data_column: str = "DATA",
    window: int = DEFAULT_WINDOW,
) -> DataFrame:
    """Visibility cube -> long layout (row_id, chan, corr, vis_re,
    vis_im, flag, weight_sp, sigma_sp): each executor pages its windows
    and flattens the (row, chan, corr) cube column-wise."""

    with _open_table(path) as t:
        if data_column not in t.colnames():
            raise ValueError(f"{path} has no {data_column} column")

    def read(t, start: int, nrow: int) -> dict:
        colnames = set(t.colnames())
        data = t.getcol(data_column, startrow=start, nrow=nrow)
        flag = t.getcol("FLAG", startrow=start, nrow=nrow)
        nr, nc, npol = data.shape
        if "WEIGHT_SPECTRUM" in colnames:
            wsp = t.getcol("WEIGHT_SPECTRUM", startrow=start, nrow=nrow)
        else:  # broadcast WEIGHT over channels (MS v2 convention)
            wsp = np.repeat(
                t.getcol("WEIGHT", startrow=start, nrow=nrow)[:, None, :],
                nc, axis=1,
            )
        if "SIGMA_SPECTRUM" in colnames:
            ssp = t.getcol("SIGMA_SPECTRUM", startrow=start, nrow=nrow)
        else:
            ssp = np.repeat(
                t.getcol("SIGMA", startrow=start, nrow=nrow)[:, None, :],
                nc, axis=1,
            )
        rid = np.arange(start, start + nr)
        return {
            "row_id": np.repeat(rid, nc * npol),
            "chan": np.tile(np.repeat(np.arange(nc), npol), nr),
            "corr": np.tile(np.arange(npol), nr * nc),
            "vis_re": data.real.ravel(),
            "vis_im": data.imag.ravel(),
            "flag": flag.ravel(),
            "weight_sp": wsp.ravel().astype(np.float64),
            "sigma_sp": ssp.ravel().astype(np.float64),
        }

    schema = (
        "row_id long, chan int, corr int, vis_re double, vis_im double, "
        "flag boolean, weight_sp double, sigma_sp double"
    )
    return _paged(spark, path, window, schema, read)


def _subtable_frames(spark: SparkSession, path: str) -> dict:
    """Dimension subtables, driver-read whole (tiny — the reference's
    eager DDID compute, app.py:191-193)."""
    out: dict[str, DataFrame] = {}
    with _open_table(os.path.join(path, "SPECTRAL_WINDOW")) as t:
        freq = t.getcol("CHAN_FREQ")     # (n_spw, n_chan)
        width = t.getcol("CHAN_WIDTH")
        ebw = t.getcol("EFFECTIVE_BW")
        res = t.getcol("RESOLUTION")
        nchan = t.getcol("NUM_CHAN")
        reff = t.getcol("REF_FREQUENCY")
        tbw = t.getcol("TOTAL_BANDWIDTH")
    chans = []
    for spw in range(freq.shape[0]):
        for c in range(int(nchan[spw])):
            chans.append(
                (spw, c, float(freq[spw, c]), float(width[spw, c]),
                 float(ebw[spw, c]), float(res[spw, c]))
            )
    out["spw_chans"] = spark.createDataFrame(
        chans,
        "SPECTRAL_WINDOW_ID int, chan int, CHAN_FREQ double, "
        "CHAN_WIDTH double, EFFECTIVE_BW double, RESOLUTION double",
    )
    out["spw_meta"] = spark.createDataFrame(
        [
            (i, int(nchan[i]), float(reff[i]), float(tbw[i]))
            for i in range(len(nchan))
        ],
        "SPECTRAL_WINDOW_ID int, NUM_CHAN int, REF_FREQUENCY double, "
        "TOTAL_BANDWIDTH double",
    )
    with _open_table(os.path.join(path, "DATA_DESCRIPTION")) as t:
        out["ddid"] = spark.createDataFrame(
            [
                (i, int(s), int(p))
                for i, (s, p) in enumerate(
                    zip(t.getcol("SPECTRAL_WINDOW_ID"), t.getcol("POLARIZATION_ID"))
                )
            ],
            "DATA_DESC_ID int, SPECTRAL_WINDOW_ID int, POLARIZATION_ID int",
        )
    with _open_table(os.path.join(path, "POLARIZATION")) as t:
        out["pol"] = spark.createDataFrame(
            [
                (i, int(n), [int(x) for x in ct])
                for i, (n, ct) in enumerate(
                    zip(t.getcol("NUM_CORR"), t.getcol("CORR_TYPE"))
                )
            ],
            "POLARIZATION_ID int, NUM_CORR int, CORR_TYPE array<int>",
        )
    with _open_table(os.path.join(path, "FIELD")) as t:
        pd_dir = t.getcol("PHASE_DIR")  # (n_field, n_poly+1, 2)
        out["field"] = spark.createDataFrame(
            [
                (i, str(n), int(npoly), float(pd_dir[i, 0, 0]), float(pd_dir[i, 0, 1]))
                for i, (n, npoly) in enumerate(
                    zip(t.getcol("NAME"), t.getcol("NUM_POLY"))
                )
            ],
            "FIELD_ID int, NAME string, NUM_POLY int, "
            "PHASE_DIR_RA double, PHASE_DIR_DEC double",
        )
    with _open_table(os.path.join(path, "ANTENNA")) as t:
        pos = t.getcol("POSITION")
        out["antenna"] = spark.createDataFrame(
            [
                (i, str(n), float(pos[i, 0]), float(pos[i, 1]), float(pos[i, 2]))
                for i, n in enumerate(t.getcol("NAME"))
            ],
            "ANTENNA_ID int, NAME string, pos_x double, pos_y double, pos_z double",
        )
    return out


def read_casa_ms(
    spark: SparkSession,
    path: str,
    data_column: str = "DATA",
    window: int = DEFAULT_WINDOW,
) -> dict:
    """Full CASA MS -> engine table dict (long layout): distributed
    main/vis reads + driver-side dimension subtables. WEIGHT/SIGMA land
    in ms_weights (per row, corr)."""
    _require_backend(path)
    tables = _subtable_frames(spark, path)
    tables["ms_rows"] = read_casa_main_rows(spark, path, window)
    tables["ms_vis"] = read_casa_vis(spark, path, data_column, window)

    def weights(t, start: int, nrow: int) -> dict:
        wt = t.getcol("WEIGHT", startrow=start, nrow=nrow)
        sg = t.getcol("SIGMA", startrow=start, nrow=nrow)
        nr, npol = wt.shape
        return {
            "row_id": np.repeat(np.arange(start, start + nr), npol),
            "corr": np.tile(np.arange(npol), nr),
            "WEIGHT": wt.ravel().astype(np.float64),
            "SIGMA": sg.ravel().astype(np.float64),
        }

    tables["ms_weights"] = _paged(
        spark, path, window,
        "row_id long, corr int, WEIGHT double, SIGMA double", weights,
    )
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def load_ms_auto(
    spark: SparkSession, path: str, data_column: str = "DATA", **kw
) -> dict:
    """Open EITHER layout: a real CASA MS (casacore present) or the
    parquet-backed directory. This is the loader the CLI uses, so
    pointing `xova-spark timechannel` at a real .ms works wherever
    python-casacore is installed.

    ``ms_vis`` carries ``data_column`` as ``vis_re``/``vis_im``: DATA
    is stored as those columns in the parquet layout, another column
    ``C`` as ``C_re``/``C_im`` (what this engine writes for ``-dc
    SRC:C``). A column the input lacks raises, naming it."""
    if is_casa_ms(path):
        return read_casa_ms(spark, path, data_column=data_column, **kw)
    from xova_spark.sources.ms_fixture import load_ms

    tables = load_ms(spark, path)
    if data_column != "DATA":
        vis = tables["ms_vis"]
        cols = {f"{data_column}_re": "vis_re", f"{data_column}_im": "vis_im"}
        if not set(cols) <= set(vis.columns):
            raise ValueError(
                f"{path} has no {data_column} column: its ms_vis has no "
                f"{' and '.join(cols)}"
            )
        tables["ms_vis"] = vis.drop("vis_re", "vis_im").withColumnsRenamed(cols)
    return tables

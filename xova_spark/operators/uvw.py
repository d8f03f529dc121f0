"""UVW coordinate synthesis — the reference's fixvis post-pass (V4).

The reference recomputes UVW from antenna ECEF positions + field phase
centre per (time, baseline) with casacore measures, per-field, in an
eager post-pass over the written MS (reference: xova/apps/xova/fixvis.py
:105-193 kernel, :196-265 driver, invoked at app.py:123-128). It calls
this "irreducibly UDF territory" because casacore measures are
thread-unsafe (fixvis.py:129-131).

Here the physics model is the standard public transform (Thompson,
Moran & Swenson ch. 4, eq. 4.1): rotate the ECEF baseline vector by the
local hour angle H = ERA - ra and declination dec,

    u =  sinH*Bx + cosH*By
    v = -sind*cosH*Bx + sind*sinH*By + cosd*Bz
    w =  cosd*cosH*Bx - cosd*sinH*By + sind*Bz

with ERA the IAU-2000 Earth Rotation Angle,
ERA = 2*pi*(0.7790572732640 + 1.00273781191135448*(Tu - 51544.5)),
Tu = TIME/86400 (TIME is MJD seconds). That makes UVW synthesis PURE
COLUMN ARITHMETIC — sin/cos + two broadcast dimension joins — running
entirely inside whole-stage codegen. No UDF, no thread-safety
workaround: the reference's casacore constraint dissolves in the
declarative formulation.

Three variants mirror the reference's operator patterns:
- ``uvw_columns``      column-expression synthesis (the scale path)
- ``uvw_apply_pandas`` per-FIELD applyInPandas (J4, fixvis.py:240-258 —
                       kept for parity demonstration + cross-check)
- ``uvw_dense_sparse`` dense per-(time, baseline) synthesis joined back
                       sparsely (J2, fixvis.py:74-102)
``fixms`` applies the recomputation to an averaged main table and joins
the result back — but BEFORE the final write (single write; SURVEY §4
flags the reference's post-write in-place update as non-idiomatic).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TWO_PI = 2.0 * math.pi
ERA_0 = 0.7790572732640
ERA_RATE = 1.00273781191135448
MJD_EPOCH = 51544.5


def era_expr(time_col):
    """IAU-2000 Earth Rotation Angle (radians) from MJD-seconds TIME."""
    tu = time_col / F.lit(86400.0) - F.lit(MJD_EPOCH)
    turns = F.lit(ERA_0) + F.lit(ERA_RATE) * tu
    return F.lit(TWO_PI) * (turns - F.floor(turns))


def _ant(antenna: DataFrame, n: int) -> DataFrame:
    return antenna.select(
        F.col("ANTENNA_ID").alias(f"ANTENNA{n}"),
        F.col("pos_x").alias(f"x{n}"),
        F.col("pos_y").alias(f"y{n}"),
        F.col("pos_z").alias(f"z{n}"),
    )


def uvw_columns(rows: DataFrame, antenna: DataFrame, field: DataFrame) -> DataFrame:
    """Attach u2/v2/w2 synthesized coordinates as column expressions.

    Two broadcast joins (antenna twice, field once) then whole-stage
    codegen trigonometry — the plan the reference's per-row loop
    (fixvis.py:97-101) becomes when declared to Catalyst.
    """
    j = (
        rows.join(F.broadcast(_ant(antenna, 1)), "ANTENNA1")
        .join(F.broadcast(_ant(antenna, 2)), "ANTENNA2")
        .join(
            F.broadcast(
                field.select(
                    "FIELD_ID",
                    F.col("PHASE_DIR_RA").alias("ra"),
                    F.col("PHASE_DIR_DEC").alias("dec"),
                )
            ),
            "FIELD_ID",
        )
    )
    bx = F.col("x2") - F.col("x1")
    by = F.col("y2") - F.col("y1")
    bz = F.col("z2") - F.col("z1")
    h = era_expr(F.col("TIME")) - F.col("ra")
    sh, ch = F.sin(h), F.cos(h)
    sd, cd = F.sin(F.col("dec")), F.cos(F.col("dec"))
    return j.withColumns(
        {
            "u2": sh * bx + ch * by,
            "v2": -sd * ch * bx + sd * sh * by + cd * bz,
            "w2": cd * ch * bx - cd * sh * by + sd * bz,
        }
    ).drop("x1", "y1", "z1", "x2", "y2", "z2", "ra", "dec")


def _uvw_kernel(
    t: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
    bz: np.ndarray,
    ra: float,
    dec: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized numpy twin of the column expressions (fixvis.py:105-193
    analogue). Shared by the applyInPandas and dense variants."""
    tu = t / 86400.0 - MJD_EPOCH
    turns = ERA_0 + ERA_RATE * tu
    era = TWO_PI * (turns - np.floor(turns))
    h = era - ra
    sh, ch = np.sin(h), np.cos(h)
    sd, cd = math.sin(dec), math.cos(dec)
    u = sh * bx + ch * by
    v = -sd * ch * bx + sd * sh * by + cd * bz
    w = cd * ch * bx - cd * sh * by + sd * bz
    return u, v, w


def uvw_apply_pandas(
    rows: DataFrame, antenna: DataFrame, field: DataFrame
) -> DataFrame:
    """J4 variant: per-FIELD_ID applyInPandas (fixvis.py:240-258 loop).
    Process isolation replaces the reference's thread-safety workaround
    (fixvis.py:129-131) — each field group runs in its own Python worker.
    """
    ant = {
        int(r["ANTENNA_ID"]): (r["pos_x"], r["pos_y"], r["pos_z"])
        for r in antenna.collect()
    }
    phase = {
        int(r["FIELD_ID"]): (r["PHASE_DIR_RA"], r["PHASE_DIR_DEC"])
        for r in field.collect()
    }
    pos = np.array([ant[k] for k in sorted(ant)])
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        list(rows.schema.fields)
        + [StructField(c, DoubleType()) for c in ("u2", "v2", "w2")]
    )

    def synth(pdf: pd.DataFrame) -> pd.DataFrame:
        ra, dec = phase[int(pdf["FIELD_ID"].iloc[0])]
        a1 = pdf["ANTENNA1"].to_numpy()
        a2 = pdf["ANTENNA2"].to_numpy()
        b = pos[a2] - pos[a1]
        u, v, w = _uvw_kernel(
            pdf["TIME"].to_numpy(), b[:, 0], b[:, 1], b[:, 2], ra, dec
        )
        return pdf.assign(u2=u, v2=v, w2=w)

    return rows.groupBy("FIELD_ID").applyInPandas(synth, out_schema)


def uvw_dense_sparse(
    rows: DataFrame, antenna: DataFrame, field: DataFrame
) -> DataFrame:
    """J2 variant: synthesize a DENSE (time, baseline) -> uvw table from
    the distinct keys, then equi-join it back onto the sparse row set
    (fixvis.py:74-102 padded-lookup pattern)."""
    dense = uvw_columns(
        rows.select("FIELD_ID", "TIME", "ANTENNA1", "ANTENNA2").distinct(),
        antenna,
        field,
    )
    return rows.join(dense, ["FIELD_ID", "TIME", "ANTENNA1", "ANTENNA2"], "left")


def fixms(averaged_rows: DataFrame, antenna: DataFrame, field: DataFrame) -> DataFrame:
    """V4 post-pass: replace the averaged u/v/w with coordinates
    re-synthesized at the averaged TIME — joined in BEFORE the final
    write (one write, not the reference's post-write in-place update,
    fixvis.py:262-265).

    Mirrors the reference's time-variable-centre guard (fixvis.py:213-218):
    when any field carries NUM_POLY > 0 the phase centre is a polynomial
    in time, the closed-form synthesis is invalid, and the averaged UVW
    coordinates are kept as-is (with the same critical-log warning)."""
    if "NUM_POLY" in field.columns:
        import logging

        # Field tables are dimension-scale: one collect of the column
        # (a null NUM_POLY counts as 0).
        if any(r.NUM_POLY for r in field.select("NUM_POLY").collect()):
            logging.getLogger(__name__).critical(
                "UVW recompute does not support time-variable reference "
                "centres. Your dataset will contain averaged UVW "
                "coordinates!"
            )
            return averaged_rows
    return (
        uvw_columns(averaged_rows, antenna, field)
        .drop("u", "v", "w")
        .withColumnsRenamed({"u2": "u", "v2": "v", "w2": "w"})
    )

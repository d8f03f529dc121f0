"""MS output sink — parquet-backed Measurement Set writes (S8-S11).

Re-expresses the reference's write path (reference: xova/apps/xova/
app.py:107-116 main+subtable writes, app.py:152-159 --force overwrite
guard, subtables.py:9-37 passthrough copy): one directory per MS, one
parquet dataset per table, the main row table partitioned by the
GROUP_COLS so partition-value filters (P1) become partition pruning on
re-read.

Scale design: the main table write is ``partitionBy(FIELD_ID,
DATA_DESC_ID)`` — low-cardinality directory keys (fields x ddids), with
SCAN_NUMBER left inside files to avoid tiny-file explosion at high scan
counts. AQE coalescing handles the reference's small-output compaction
(V2, averaging.py:39-77) for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

MAIN_PARTITION_COLS = ("FIELD_ID", "DATA_DESC_ID")

# Tables whose rows the averaging pipelines rewrite; everything else is
# passthrough (ref subtables.py:9-37 copies them wholesale).
MAIN_TABLES = ("ms_rows", "ms_weights", "ms_vis")

# Zone-map layout: sort within each write task before writing so parquet
# row-group min/max statistics become tight, disjoint ranges — a re-read
# with a TIME window or a row_id range then SKIPS whole row groups
# (tested at the source level in test_ms_datasource's stats skipping; at
# 100 TB this is the difference between touching one row group and
# scanning a file). sortWithinPartitions is a per-task local sort — no
# shuffle is added to the write.
SORT_WITHIN: dict[str, tuple[str, ...]] = {
    "ms_rows": ("SCAN_NUMBER", "TIME", "ANTENNA1", "ANTENNA2"),
    "ms_vis": ("row_id", "chan", "corr"),
    "ms_weights": ("row_id", "corr"),
}


class OutputExistsError(RuntimeError):
    pass


def write_ms(tables: dict, path: str, force: bool = False) -> None:
    """S8/S9/S10/S11: write every DataFrame in ``tables`` under
    ``path``; refuse to overwrite unless force (app.py:152-159).

    A ``_keywords`` entry (a plain JSON-able dict, keyed by table name)
    is persisted as ``<path>/_keywords.json`` — the parquet-layout
    analogue of the reference's table-keyword relink on passthrough
    subtables (subtables.py:35 putkeywords); load_ms restores it."""
    if os.path.exists(path):
        if not force:
            raise OutputExistsError(
                f"{path} exists. Use force=True to overwrite (ref --force)."
            )
    mode = "overwrite" if force else "errorifexists"
    schemas: dict[str, str] = {}
    for name, df in tables.items():
        if not isinstance(df, DataFrame):
            continue
        # Schema manifest: df.schema.json() costs no job, and it is what
        # lets load_ms re-open an EMPTY table — a partitioned
        # write of 0 rows leaves only _SUCCESS (no footer to infer
        # from), which must come back as a 0-row frame with the right
        # schema, not a silently missing table (empty selections are
        # routine at scale).
        schemas[name] = df.schema.json()
        sort_cols = [c for c in SORT_WITHIN.get(name, ()) if c in df.columns]
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        writer = df.write.mode(mode)
        if name == "ms_rows":
            part = [c for c in MAIN_PARTITION_COLS if c in df.columns]
            if part:
                writer = writer.partitionBy(*part)
        writer.parquet(os.path.join(path, name))
    if schemas:
        import json

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_schemas.json"), "w") as fh:
            json.dump(schemas, fh, indent=1, sort_keys=True)
    keywords = tables.get("_keywords")
    if isinstance(keywords, dict):
        import json

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_keywords.json"), "w") as fh:
            json.dump(keywords, fh, indent=1, sort_keys=True)
    if force and os.path.isdir(path):
        # A table directory the new output does not have must not
        # survive from the old one: load_ms would re-open it as part of
        # the new MS. After the writes, so a passthrough table read from
        # ``path`` itself is already copied.
        import shutil

        for entry in os.listdir(path):
            full = os.path.join(path, entry)
            if entry not in schemas and os.path.isdir(full):
                shutil.rmtree(full)


def load_manifest_schemas(path: str) -> dict:
    """The `_schemas.json` manifest write_ms leaves beside the tables
    (empty dict if absent / unreadable)."""
    import json

    try:
        with open(os.path.join(path, "_schemas.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def empty_from_manifest(spark: SparkSession, schemas: dict, name: str):
    """Reconstruct a 0-row DataFrame from the manifest schema, or None."""
    sch = schemas.get(name)
    if not sch:
        return None
    import json

    from pyspark.sql.types import StructType

    return spark.createDataFrame([], StructType.fromJson(json.loads(sch)))

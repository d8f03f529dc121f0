"""The MS directory contract — parquet-backed Measurement Set writes and
opens (S8-S11).

Re-expresses the reference's write path (reference: xova/apps/xova/
app.py:107-116 main+subtable writes, app.py:152-159 --force overwrite
guard, subtables.py:9-37 passthrough copy): one directory per MS, one
parquet dataset per table, the main row table partitioned by the
GROUP_COLS so partition-value filters (P1) become partition pruning on
re-read.

The write alone defines an output MS: its tables and the
``_schemas.json`` manifest (table -> Spark schema) are committed with
one rename, after ``recover`` has undone a commit a kill cut short.
``load_ms`` gives Spark every schema up front — from the manifest, or
from the footers of an input ``<name>.parquet`` layout — so an open
submits no Spark job. The stream's state stores
(streaming/materialize.py) are one-table MSs under the same contract.

Scale design: the main table write is ``partitionBy(FIELD_ID,
DATA_DESC_ID)`` — low-cardinality directory keys (fields x ddids), with
SCAN_NUMBER left inside files to avoid tiny-file explosion at high scan
counts. AQE coalescing handles the reference's small-output compaction
(V2, averaging.py:39-77) for free.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

MAIN_PARTITION_COLS = ("FIELD_ID", "DATA_DESC_ID")

MANIFEST = "_schemas.json"
KEYWORDS = "_keywords.json"

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


# Where a force write parks the MS it replaces; a name no user's
# ``<path>.old*`` directory is expected to have. One writer per path.
OLD_SUFFIX = ".old-xova-swap"


def recover(path: str) -> None:
    """Finish or undo a commit that a kill cut short: with no ``path``,
    the parked old MS is put back; with both, the parked one is
    dropped (the new one was committed)."""
    old = path + OLD_SUFFIX
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)


def write_ms(tables: dict, path: str, force: bool = False) -> None:
    """S8/S9/S10/S11: write every DataFrame in ``tables`` as the MS
    ``path``; refuse to overwrite unless force (app.py:152-159).

    After ``recover``, everything goes into ``<path>.tmp-<id>``, which
    one rename commits; with force the old ``path`` is first parked at
    ``path + OLD_SUFFIX`` and removed after. A write that raises
    removes the staging dir.

    A ``_keywords`` entry (a plain JSON-able dict, keyed by table name)
    is persisted as ``<path>/_keywords.json`` — the parquet-layout
    analogue of the reference's table-keyword relink on passthrough
    subtables (subtables.py:35 putkeywords); load_ms restores it."""
    path = os.path.normpath(path)
    recover(path)
    if os.path.exists(path) and not force:
        raise OutputExistsError(
            f"{path} exists. Use force=True to overwrite (ref --force)."
        )
    stage = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    try:
        schemas: dict[str, str] = {}
        for name, df in tables.items():
            if not isinstance(df, DataFrame):
                continue
            # Free, and it is how load_ms reads an EMPTY table back: a
            # partitioned write of 0 rows leaves no parquet footer.
            schemas[name] = df.schema.json()
            sort_cols = [c for c in SORT_WITHIN.get(name, ()) if c in df.columns]
            if sort_cols:
                df = df.sortWithinPartitions(*sort_cols)
            writer = df.write
            if name == "ms_rows":
                part = [c for c in MAIN_PARTITION_COLS if c in df.columns]
                if part:
                    writer = writer.partitionBy(*part)
            writer.parquet(os.path.join(stage, name))
        os.makedirs(stage, exist_ok=True)
        keywords = tables.get("_keywords")
        if isinstance(keywords, dict):
            with open(os.path.join(stage, KEYWORDS), "w") as fh:
                json.dump(keywords, fh, indent=1, sort_keys=True)
        with open(os.path.join(stage, MANIFEST), "w") as fh:
            json.dump(schemas, fh, indent=1, sort_keys=True)
        if os.path.exists(path):
            old = path + OLD_SUFFIX
            os.rename(path, old)
            try:
                os.rename(stage, path)
            except OSError:
                os.rename(old, path)
                raise
            shutil.rmtree(old)
        else:
            os.rename(stage, path)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise


def table_path(ms_dir: str, name: str) -> str:
    """Where the MS ``ms_dir`` keeps table ``name``: the directory
    ``<name>`` in a written MS (it has the manifest), the file
    ``<name>.parquet`` in an input MS."""
    if os.path.exists(os.path.join(ms_dir, MANIFEST)):
        return os.path.join(ms_dir, name)
    return os.path.join(ms_dir, f"{name}.parquet")


def footer_schema(path: str) -> StructType:
    """The Spark schema of a parquet file — or of the first one in a
    directory — from its footer, read on the driver: no Spark job."""
    if os.path.isdir(path):
        files = glob.glob(os.path.join(glob.escape(path), "*.parquet"))
        path = min(files, default=path)
    try:
        arrow = pq.read_schema(path)
    except (OSError, ValueError) as exc:  # ArrowInvalid is a ValueError
        raise RuntimeError(f"unreadable parquet footer: {path}") from exc
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def load_ms(spark, ms_dir: str) -> dict:
    """Open an MS directory as a table dict; register temp views.

    Two layouts, so the engine re-opens its own output (the reference's
    average-then-check workflow, check.py:22-76): the tables
    ``_schemas.json`` lists (write_ms output), else every
    ``<name>.parquet`` file (input), schema from its footer. Every table
    is loaded, known to this engine or not (the read side of the S10
    passthrough, subtables.py:9-37); nothing else in the directory is.
    No Spark job runs; an empty table is a 0-row read. A corrupt
    manifest or footer, or a missing listed table, raises naming it.
    Keywords saved by write_ms come back under ``_keywords``."""
    manifest = os.path.join(ms_dir, MANIFEST)
    if os.path.exists(manifest):
        try:
            with open(manifest) as fh:
                schemas = {
                    name: StructType.fromJson(json.loads(sch))
                    for name, sch in json.load(fh).items()
                }
        except (ValueError, TypeError, KeyError, AttributeError) as exc:
            raise RuntimeError(f"corrupt MS manifest: {manifest}") from exc
    else:
        files = sorted(glob.glob(os.path.join(glob.escape(ms_dir), "*.parquet")))
        if not files:
            raise RuntimeError(f"not an MS: {ms_dir} has no {MANIFEST} or *.parquet")
        schemas = {
            os.path.basename(f)[: -len(".parquet")]: footer_schema(f) for f in files
        }
    out = {}
    for name in schemas:
        path = table_path(ms_dir, name)
        if not os.path.exists(path):
            raise RuntimeError(f"MS table {name!r} is missing: {path}")
        out[name] = spark.read.schema(schemas[name]).parquet(path)
        out[name].createOrReplaceTempView(name)
    kw_path = os.path.join(ms_dir, KEYWORDS)
    if os.path.exists(kw_path):
        with open(kw_path) as fh:
            out["_keywords"] = json.load(fh)
    return out

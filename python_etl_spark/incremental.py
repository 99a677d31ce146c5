"""Incremental high-watermark extract: load only rows newer than the
last bookmark — the "don't re-read 100 TB every night" primitive every
production ETL framework has.

The bookmark is the max value of a monotone watermark column over the
rows ALREADY LOADED, and it is persisted in the versioned table's
manifest — i.e. the bookmark and the data it describes become visible
in the SAME atomic manifest publish (``os.link`` fail-on-exists;
sinks/table.py). That gives the exactly-once property without any
extra coordination:

* crash BEFORE the commit: the manifest (and so the bookmark) is
  unchanged; the next run re-extracts the same rows into a FRESH data
  dir (each attempt owns a uuid-suffixed dir; the orphan is
  unreachable and swept by ``vacuum``) — no rows skipped, none
  visible twice.
* crash AFTER the commit: the bookmark has advanced with the data; the
  next run's ``watermark > bookmark`` filter excludes everything the
  committed version already holds — no double-load.

The extracted batch is persisted for the duration of one load so the
recorded watermark is computed from the SAME snapshot that is written
(a source that mutates mid-run cannot desync bookmark and data).

Caveat (standard for high-watermark extraction): rows must not arrive
with a watermark <= an already-committed bookmark (late data needs a
lag window or CDC — see operators/cdc.py for the log-based variant).

Scale posture: the watermark filter is a plain pushdown predicate —
on a partitioned/sorted source it prunes files before any read, so a
nightly run touches only the new tail, never the 100 TB history.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_etl_spark.sinks.table import WATERMARK_KEY, VersionedTable


def _serialize(value):
    """JSON-safe watermark representation. ISO strings for date/time
    types compare correctly against their columns when re-used as
    filter literals (Spark casts the string side)."""
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat(sep=" ") if isinstance(
            value, datetime.datetime
        ) else value.isoformat()
    if isinstance(value, (int, float, str)):
        return value
    return str(value)


def last_watermark(table: VersionedTable) -> object | None:
    """The committed bookmark, or None for a first run. Walks version
    history newest-first: a manual append()/merge() in between (no
    watermark meta) must not make the loader forget its bookmark and
    re-extract the full history as duplicates. The walk stops at the
    newest checkpoint, which carries the bookmark of every version at
    or below it (clean_metadata may have dropped their manifests)."""
    if not table.exists():
        return None
    latest = table.latest_version()
    ckpt = table._latest_checkpoint(latest)
    if ckpt is None or WATERMARK_KEY not in ckpt:
        # no checkpoint, or one that does not know every bookmark at or
        # below it (see VersionedTable._write_checkpoint): full walk
        ckpt = {"version": -1, WATERMARK_KEY: None}
    for v in range(latest, ckpt["version"], -1):
        wm = table.meta(v).get(WATERMARK_KEY, {}).get("value")
        if wm is not None:
            return wm
    return (ckpt[WATERMARK_KEY] or {}).get("value")


def incremental_load(
    source: DataFrame,
    table: VersionedTable,
    watermark_col: str,
    keys: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Extract rows with ``watermark_col`` strictly past the committed
    bookmark and commit them with the advanced bookmark, atomically.

    ``keys`` switches the commit from plain append to MERGE (upsert on
    the keys — the belt-and-braces mode when the source may restate
    rows). ``partition_by`` (first run only — the layout is sticky)
    hive-partitions every commit, so snapshot reads partition-prune on
    those columns: the 100 TB shape is partitioning the nightly tail
    by ingest date. Returns ``{"version", "rows_loaded", "watermark"}``;
    a run with nothing new commits NOTHING (version unchanged)."""
    last = last_watermark(table)
    batch = source
    if last is not None:
        # cast the stored (JSON-serialized) bookmark back to the
        # column's own type: comparing a DECIMAL/TIMESTAMP column
        # against a raw string literal would coerce through double and
        # lose precision past 2^53
        wm_type = source.schema[watermark_col].dataType
        batch = source.where(
            F.col(watermark_col) > F.lit(last).cast(wm_type)
        )
    batch = batch.persist()
    try:
        stats = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(watermark_col).alias("wm"),
        ).first()
        if stats["n"] == 0:
            return {
                "version": table.latest_version(),
                "rows_loaded": 0,
                "watermark": last,
            }
        wm = _serialize(stats["wm"])
        meta = {WATERMARK_KEY: {"col": watermark_col, "value": wm}}
        if not table.exists():
            v = table.create(batch, meta=meta, partition_by=partition_by)
        elif keys:
            v = table.merge(batch, keys, meta=meta)
        else:
            v = table.append(batch, meta=meta)
        return {"version": v, "rows_loaded": stats["n"], "watermark": wm}
    finally:
        batch.unpersist(blocking=False)

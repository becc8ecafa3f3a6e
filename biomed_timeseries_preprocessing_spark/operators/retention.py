"""Tier-specific retention expiry.

The reference keeps everything forever (its sinks only ever append new
files); retention is a new capability required by the north_rule: each
rollup tier keeps a different horizon (raw/1m expire first, 1d kept
longest) — the TimescaleDB/Gorilla-style downsample-and-expire pattern.

Expiry is a copy-on-write row delete (`expire_rewrite`, Iceberg's
row-level DELETE): the rows at or after the cutoff are rewritten in one
Spark job and committed as a new snapshot, each kept row staying in its
data file's partition (``bucket`` for the job's tiers) — so the next
nightly run's per-bucket partition overwrite replaces it rather than
duplicating it.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import LocalSnapshotCatalog

#: default horizons per tier (seconds) — raw-most expires first
DEFAULT_RETENTION = {"1m": 7 * 86400, "5m": 30 * 86400, "1h": 180 * 86400, "1d": None}


def expire_rewrite(
    catalog: LocalSnapshotCatalog,
    spark: SparkSession,
    table: str,
    older_than: dt.datetime,
    ts_col: str = "bucket_start",
) -> int:
    """Rewrite expiry: keep rows with ts_col >= cutoff, commit as a new
    snapshot (old snapshot remains time-travelable until expire_snapshots;
    no snapshot when nothing expired). Returns rows removed."""
    return catalog.overwrite(spark, table, F.col(ts_col) >= F.lit(older_than))


def apply_retention(
    catalog: LocalSnapshotCatalog,
    spark: SparkSession,
    now: dt.datetime,
    retention: dict[str, int | None] | None = None,
    table_prefix: str = "rollup_",
) -> dict[str, int]:
    """Run expiry across all tiers per their horizons; returns
    tier → rows removed."""
    retention = retention or DEFAULT_RETENTION
    removed: dict[str, int] = {}
    for tier, horizon in retention.items():
        if horizon is None:
            continue
        cutoff = now - dt.timedelta(seconds=horizon)
        table = f"{table_prefix}{tier}"
        try:
            removed[tier] = expire_rewrite(catalog, spark, table, cutoff)
        except FileNotFoundError:
            removed[tier] = 0
    return removed

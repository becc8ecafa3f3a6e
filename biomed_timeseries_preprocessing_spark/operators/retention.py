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
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import CommitConflictError, LocalSnapshotCatalog

#: default horizons per tier (seconds) — raw-most expires first
DEFAULT_RETENTION = {"1m": 7 * 86400, "5m": 30 * 86400, "1h": 180 * 86400, "1d": None}

#: rewrites of a tier retried from the current snapshot after a commit
#: landed on the table mid-rewrite, before the conflict is raised
COMMIT_RETRIES = 3


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


def _expire_tier(
    catalog: LocalSnapshotCatalog, spark: SparkSession, table: str, cutoff: dt.datetime
) -> int:
    """``expire_rewrite`` of one table (0 rows when it has no data),
    retried on a commit conflict: each try rewrites the then-current
    snapshot, so the commit that landed meanwhile is kept."""
    for attempt in range(COMMIT_RETRIES + 1):
        try:
            return expire_rewrite(catalog, spark, table, cutoff)
        except FileNotFoundError:
            return 0
        except CommitConflictError:
            if attempt == COMMIT_RETRIES:
                raise


def apply_retention(
    catalog: LocalSnapshotCatalog,
    spark: SparkSession,
    now: dt.datetime,
    retention: dict[str, int | None] | None = None,
    table_prefix: str = "rollup_",
) -> dict[str, int]:
    """Run expiry across all tiers per their horizons; returns
    tier → rows removed.

    Each tier is its own table, with its own commit lock, so the tiers
    rewrite concurrently: one thread (and one Spark job at a time) per
    tier with a horizon."""
    retention = retention or DEFAULT_RETENTION
    cutoffs = {
        tier: now - dt.timedelta(seconds=horizon)
        for tier, horizon in retention.items()
        if horizon is not None
    }
    if not cutoffs:
        return {}
    with ThreadPoolExecutor(max_workers=len(cutoffs)) as pool:
        removed = {
            tier: pool.submit(_expire_tier, catalog, spark, f"{table_prefix}{tier}", cutoff)
            for tier, cutoff in cutoffs.items()
        }
    return {tier: f.result() for tier, f in removed.items()}

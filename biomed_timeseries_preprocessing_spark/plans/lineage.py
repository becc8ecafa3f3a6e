"""Per-(stage, partition) lineage + metrics rows, and resume.

The capability gap called out in SURVEY §2.9/§4: the reference's only
recovery aid is saving raw partials twice (``File_Struct.py:587-593``);
a killed run recomputes every patient. Here every pipeline stage commits
one lineage row per work partition (a conv_id hash-bucket), and resume is
an anti-join: pending = all buckets − committed buckets (FIXTURES F5).

Lineage rows are parquet in the catalog warehouse (append-only, one file
per commit — atomic enough via the snapshot catalog's rename commit).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import LocalSnapshotCatalog

LINEAGE_TABLE = "lineage"
LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_key string, rows_in long, "
    "rows_out long, min_ts timestamp, max_ts timestamp, checksum long, "
    "wall_ms long, committed_at timestamp"
)


def bucket_of(conv_id_col, n_buckets: int):
    """Stable conv_id → work-bucket assignment (hash, not range, so
    buckets stay balanced as new conversations arrive)."""
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")


def _exact_sum(col: Column) -> Column:
    """Σ of int64 hashes as an exact decimal: with xxhash64 summands this
    is an order-independent multiset checksum, the same value on any
    partitioning."""
    return F.sum(col.cast("decimal(38,0)"))


# Each audit's aggregates, defined once. The per-bucket scheduler applies
# them with ``attach_audit`` (``df.observe``), the global one with
# ``grouped_audit`` (``groupBy(bucket).agg``); ``read_audit`` reads either.


def tier_audit(checksum_cols: list[str], extent_col: str) -> list[Column]:
    """Row count, min/max extent and the frame checksum of a tier."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.min(extent_col).alias("lo"),
        F.max(extent_col).alias("hi"),
        _exact_sum(F.xxhash64(*checksum_cols)).alias("c"),
    ]


def gapfill_in_audit() -> list[Column]:
    """Source side of the text-equality invariant: rows and Σ of the
    carried per-turn hash ``_th`` = xxhash64(conv_id, turn_idx, text)."""
    return [
        F.count(F.lit(1)).alias("n_in"),
        _exact_sum(F.col("_th")).alias("c_in"),
    ]


def gapfill_out_audit() -> list[Column]:
    """Filled side: total and gap rows, and Σ ``_th`` over the non-gap
    rows — equal multisets of source turns give equal (count, Σ)."""
    gap = F.col("is_gap_filled")
    return [
        F.count(F.lit(1)).alias("n"),
        F.count_if(gap).alias("nf"),
        _exact_sum(F.when(~gap, F.col("_th"))).alias("c_out"),
    ]


def codec_audit() -> list[Column]:
    """Blobs and encoded points of a codec_chunks write."""
    return [F.count(F.lit(1)).alias("blobs"), F.sum("n").alias("pts")]


def attach_audit(df: DataFrame, exprs: list[Column]) -> tuple[DataFrame, Observation]:
    """Piggyback an audit on the frame's NEXT action instead of running a
    separate pass: returns ``(df.observe(...), observation)``. Spark's
    CollectMetrics node computes the aggregates on the rows as they
    stream through whatever job materializes the frame (in rollup_job:
    the table's data-file write), so per write there is exactly ONE job.
    Read the result with ``read_audit`` AFTER an action has run on the
    returned frame."""
    obs = Observation()
    return df.observe(obs, *exprs), obs


def grouped_audit(
    df: DataFrame, bucket_col: Column, exprs: list[Column], buckets: list[int]
) -> dict[int, dict]:
    """``{bucket: read_audit(...)}`` for every bucket in ``buckets`` from
    ONE ``groupBy(bucket).agg(*exprs)`` action over ``df``; a bucket
    with no rows reads as an empty input."""
    agg = df.groupBy(bucket_col.alias("bucket")).agg(*exprs)
    got = {r["bucket"]: r.asDict() for r in agg.collect()}
    empty = dict.fromkeys(agg.columns[1:])
    return {b: read_audit(got.get(b, empty)) for b in buckets}


def read_audit(m: Observation | dict) -> dict:
    """Lineage values from one audit result — an ``attach_audit``
    observation (blocks until the frame's first action completes) or one
    row of a grouped aggregate. Counts and sums of an empty input read 0, extents
    (``lo``/``hi``) stay None, and the tier checksum ``c`` folds the
    exact decimal sum back into int64 range (ANSI-safe)."""
    if isinstance(m, Observation):
        m = m.get
    out = {k: v if k in ("lo", "hi") else int(v or 0) for k, v in m.items()}
    if "c" in out:
        out["c"] %= 1 << 63
    return out


class LineageRow(NamedTuple):
    """One lineage row as committed (``LINEAGE_SCHEMA`` minus the
    ``committed_at`` stamp, which ``commit_many`` adds)."""

    run_id: str
    stage: str
    partition_key: str
    rows_in: int
    rows_out: int
    min_ts: object
    max_ts: object
    checksum: int
    wall_ms: int


@dataclass
class LineageLog:
    catalog: LocalSnapshotCatalog
    spark: SparkSession

    def committed(self, run_id: str, stage: str) -> set[str]:
        """Partition keys already committed for (run lineage, stage).
        run_id scoping is by *pipeline identity* (caller passes the same
        run_id on resume), mirroring Iceberg's snapshot lineage."""
        try:
            df = self.catalog.read(self.spark, LINEAGE_TABLE)
        except FileNotFoundError:
            return set()
        rows = (
            df.filter((F.col("run_id") == run_id) & (F.col("stage") == stage))
            .select("partition_key")
            .distinct()
            .collect()
        )
        return {r["partition_key"] for r in rows}

    def commit_many(self, run_id: str, rows: list[LineageRow]) -> None:
        """One snapshot commit for a batch of lineage rows (e.g. every
        stage of one work bucket) — lineage stays atomic per bucket and
        the snapshot count drops from stages×buckets to buckets.

        The parquet file is written driver-side via pyarrow, NOT a Spark
        job: a lineage batch is a handful of tuples already sitting on
        the driver, and callers (rollup_job) invoke this inside their
        commit lock — a createDataFrame→write job here put JVM job
        scheduling inside the only serialized section of the whole
        pipeline (measured as part of the r4 commit-path work,
        BENCH/ab_commit_path.json). Arrow write + manifest swap is
        sub-millisecond and the file is identical to Spark's for readers
        (TIMESTAMP_MICROS adjusted-to-UTC, int64, utf8)."""
        ts_type = pa.timestamp("us", tz="UTC")
        now_us = int(time.time() * 1_000_000)
        cols = list(zip(*rows))
        table = pa.table(
            {
                "run_id": pa.array(cols[0], pa.string()),
                "stage": pa.array(cols[1], pa.string()),
                "partition_key": pa.array(cols[2], pa.string()),
                "rows_in": pa.array(cols[3], pa.int64()),
                "rows_out": pa.array(cols[4], pa.int64()),
                "min_ts": pa.array(cols[5], ts_type),
                "max_ts": pa.array(cols[6], ts_type),
                "checksum": pa.array(cols[7], pa.int64()),
                "wall_ms": pa.array(cols[8], pa.int64()),
                "committed_at": pa.array([now_us] * len(rows), ts_type),
            }
        )
        sub = os.path.join(
            self.catalog._tdir(LINEAGE_TABLE), "data", uuid.uuid4().hex
        )
        os.makedirs(sub, exist_ok=True)
        path = os.path.join(sub, "lineage-00000.parquet")
        pq.write_table(table, path, compression="zstd")
        self.catalog.append_files(
            LINEAGE_TABLE, [{"path": path, "partition": {"run_id": run_id}}]
        )


def pending_buckets(
    log: LineageLog,
    run_id: str,
    stage: str,
    all_buckets: list[int],
    modulus: int | None = None,
) -> list[int]:
    """Resume = anti-join of the full bucket list against committed
    lineage (the reference's missing checkpoint/resume, SURVEY §4).

    ``modulus`` scopes the match to commits made under the same bucket
    count (keys ``"{b}/{modulus}"``): bucket index 3 of 8 and bucket 3
    of 4 hold different conversations, so a resume under a changed
    modulus (now reachable without user action via --buckets 0 auto
    sizing when the source grew) must re-run every bucket rather than
    skip indices committed under the old partitioning."""
    done = log.committed(run_id, stage)

    def key(b: int) -> str:
        return f"{b}/{modulus}" if modulus is not None else str(b)

    return [b for b in all_buckets if key(b) not in done]

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
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation
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


def _exact_sum(e: str) -> str:
    """Σ of the int64 hashes ``e`` (SQL) as an exact decimal: with
    xxhash64 summands this is an order-independent multiset checksum, the
    same value on any partitioning."""
    return f"sum(CAST({e} AS DECIMAL(38,0)))"


def _on(e: str, where: str | None) -> str:
    """``e`` on the rows matching the SQL predicate ``where`` (NULL on the
    others, which every audit aggregate skips)."""
    return e if where is None else f"CASE WHEN {where} THEN {e} END"


# Each audit is a list of SQL aggregates over the rows matching ``where``
# (all rows when None), so one ``attach_audit`` pass can audit every
# bucket of a frame that holds several: the rollup job observes one
# struct of them per bucket (and per tier). SQL text, as every plan
# operator is (operators/rollup.py says why; the four tiers' audits took
# ~0.14 s as column functions against ~2 ms, on a 4-vCPU VM).


def tier_audit(
    checksum_cols: list[str], extent_col: str, where: str | None = None
) -> list[str]:
    """Row count, min/max extent and the frame checksum of a tier."""
    checksum = f"xxhash64({', '.join(checksum_cols)})"
    return [
        f"count({_on('1', where)}) AS n",
        f"min({_on(extent_col, where)}) AS lo",
        f"max({_on(extent_col, where)}) AS hi",
        f"{_exact_sum(_on(checksum, where))} AS c",
    ]


def gapfill_in_audit(where: str | None = None) -> list[str]:
    """Source side of the text-equality invariant: rows and Σ of the
    carried per-turn hash ``_th`` = xxhash64(conv_id, turn_idx, text).

    Collision bound of the (count, Σ) check. Assume xxhash64 acts as a
    uniform random function (independent uniform 64-bit values on
    distinct (conv_id, turn_idx, text) inputs) and the sum is exact
    (``_exact_sum``: DECIMAL(38,0) holds any sum of fewer than ~10^19
    int64s, so it never wraps). Let the filled bucket's turns differ from
    the source's as multisets. Then some input t has multiplicities that
    differ by c != 0, and Σout − Σin = c·h(t) + R, where R does not
    depend on h(t). Since c·h(t) is injective in h(t) over the integers,
    at most one of the 2^64 values of h(t) makes the sums equal. So a
    bucket whose turns were lost, duplicated, misrouted or had their
    text changed passes with probability at most 2^-64, whatever the
    count check says; over B differing buckets, at most B·2^-64. The
    bound is void against inputs built to collide (xxhash64 is not a
    cryptographic hash). A wrapping int64 sum would weaken it: modulo
    2^64, c·h(t) for c = 2^k·(odd) hits each reachable value 2^k times,
    so a turn lost or duplicated 2^k times would pass with 2^(k-64)."""
    return [
        f"count({_on('1', where)}) AS n_in",
        f"{_exact_sum(_on('_th', where))} AS c_in",
    ]


def gapfill_out_audit(where: str | None = None) -> list[str]:
    """Filled side: total and gap rows, and Σ ``_th`` over the non-gap
    rows — equal multisets of source turns give equal (count, Σ)."""
    return [
        f"count({_on('1', where)}) AS n",
        f"count_if({_on('is_gap_filled', where)}) AS nf",
        f"{_exact_sum(_on(_on('_th', 'NOT is_gap_filled'), where))} AS c_out",
    ]


def codec_audit(where: str | None = None) -> list[str]:
    """Blobs and encoded points of a codec_chunks write."""
    return [
        f"count({_on('1', where)}) AS blobs",
        f"sum({_on('n', where)}) AS pts",
    ]


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


def read_audit(m: Observation | dict) -> dict:
    """Lineage values from one audit result — an ``attach_audit``
    observation (blocks until the frame's first action completes) or one
    struct of its values, as a dict. Counts and sums of an empty input
    read 0, extents (``lo``/``hi``) stay None, and the tier checksum
    ``c`` folds the exact decimal sum back into int64 range (ANSI-safe)."""
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

    def committed(self, run_id: str, stage: str) -> set[str]:
        """Partition keys already committed for (run lineage, stage).
        run_id scoping is by *pipeline identity* (caller passes the same
        run_id on resume), mirroring Iceberg's snapshot lineage.

        Read driver-side with pyarrow from the current snapshot's files,
        the way ``commit_many`` writes them: a lookup runs no Spark job."""
        cur = self.catalog._current(LINEAGE_TABLE)
        if cur is None or not cur["files"]:
            return set()
        keys = ds.dataset([f["path"] for f in cur["files"]], format="parquet").to_table(
            columns=["partition_key"],
            filter=(ds.field("run_id") == run_id) & (ds.field("stage") == stage),
        )
        return set(keys.column("partition_key").to_pylist())

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
    modulus: int,
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
    return [b for b in all_buckets if f"{b}/{modulus}" not in done]

"""Seeded inputs and the reference digests every op is checked against."""

from __future__ import annotations

import datetime as dt
import functools
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
from biomed_timeseries_preprocessing_spark.operators.gapfill import OUT_COLS, gapfill
from biomed_timeseries_preprocessing_spark.operators.retention import DEFAULT_RETENTION
from biomed_timeseries_preprocessing_spark.operators.rollup import rollup_cascade
from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts

#: mean synthetic conversation length at the generator's defaults
#: (zipf alpha=1.3, min 5, cap 5000 turns; 5% of turns dropped as gaps)
MEAN_CONV_TURNS = 740
#: stream replay files, one per micro-batch, cut by ``ts`` ranges: two
#: batches are the fewest that carry gap-fill state across a trigger
STREAM_FILES = 2


SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def make_inputs(
    spark, seed: int, turns: int, lake_dir: str, stream_turns: int = 0,
    stream_dir: str | None = None,
) -> tuple[int, int]:
    """Write the lake (``synth_transcripts(seed)`` trimmed to at most
    ``turns`` turns) and, if asked, the stream replay files (the lake's
    first conversations, at most ``stream_turns`` turns).  Returns the
    two turn counts.

    Conversation lengths are heavy-tailed (one in eight hits the 5000-turn
    cap), so a fixed conversation count gives input sizes that differ by
    ~20% between seeds.  Conversations are taken in ``conv_id`` order and
    one that would overflow the budget is skipped, which keeps every seed
    within a few percent of the target and keeps the skew.  The draw holds
    about eight budgets of turns, enough for every seed tried, so the
    set-up costs the same two Spark jobs on every seed (conversation
    lengths, then the kept turns); the files are written with pyarrow."""
    n_convs = max(8, 8 * turns // MEAN_CONV_TURNS)
    while True:
        draw = synth_transcripts(spark, n_convs, seed=seed)
        lens = sorted((r["conv_id"], r["count"]) for r in draw.groupBy("conv_id").count().collect())
        keep = prefix(lens, turns)
        if sum(n for _, n in keep) >= 0.97 * turns:
            break
        n_convs *= 2  # a draw with few short conversations: widen it
    pdf = draw.where(F.col("conv_id").isin([c for c, _ in keep])).toPandas()
    pdf = pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    _write(pdf, [os.path.join(lake_dir, "part-00000.parquet")])
    if not stream_turns:
        return len(pdf), 0
    picked = [c for c, _ in prefix(keep, stream_turns)]
    sub = pdf[pdf["conv_id"].isin(picked)]
    _write_stream(sub, stream_dir)
    return len(pdf), len(sub)


def prefix(convs: list[tuple[str, int]], budget: int) -> list[tuple[str, int]]:
    """Conversations in order, skipping any that would overflow ``budget``."""
    keep, total = [], 0
    for conv, n in convs:
        if total + n <= budget:
            keep.append((conv, n))
            total += n
    return keep


def _write(pdf, paths: list[str]) -> None:
    os.makedirs(os.path.dirname(paths[0]), exist_ok=True)
    step = -(-len(pdf) // len(paths))
    for i, path in enumerate(paths):
        part = pdf.iloc[i * step : (i + 1) * step]
        pq.write_table(
            pa.Table.from_pandas(part[SCHEMA.names], schema=SCHEMA, preserve_index=False), path
        )


def _write_stream(pdf, path: str) -> None:
    """Cut the turns into ``STREAM_FILES`` files of consecutive ``ts`` ranges.
    Within a conversation ``ts`` grows with ``turn_idx``, so every
    conversation's turns arrive in turn order across micro-batches (the
    ``streaming_gapfill`` input contract; a round-robin split breaks it).
    Modification times are one second apart because the file source
    replays the oldest file first."""
    pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    paths = [os.path.join(path, f"turns-{i:03d}.parquet") for i in range(STREAM_FILES)]
    _write(pdf, paths)
    base = 1_700_000_000
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def digests(
    frames: dict[str, DataFrame], subsets: dict[str, tuple[str, Column]] | None = None
) -> dict[str, tuple[int, int]]:
    """Name → (row count, sum of xxhash64 over all columns), for every
    frame in one Spark job.  Equal multisets give equal digests; the sum
    is order-independent, so any partitioning compares.  ``subsets`` maps
    a frame name to ``(name, condition)``: the digest of the frame's rows
    that meet the condition, computed in the same pass."""
    subsets = subsets or {}
    parts = []
    for k, df in frames.items():
        h = F.xxhash64(*df.columns).cast("decimal(38,0)")
        sub, cond = subsets.get(k, (None, F.lit(False)))
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(h).alias("h"),
                F.count_if(cond).alias("sn"),
                F.sum(F.when(cond, h)).alias("sh"),
            ).select(F.lit(k).alias("k"), F.lit(sub).cast("string").alias("sub"), "*")
        )
    out = {}
    for r in functools.reduce(DataFrame.unionByName, parts).collect():
        out[r["k"]] = (int(r["n"]), int(r["h"] or 0))
        if r["sub"] is not None:
            out[r["sub"]] = (int(r["sn"]), int(r["sh"] or 0))
    return out


def decoded_view(decoded: DataFrame) -> DataFrame:
    """Decoded turns with the conversation-head NaN latency back to NULL."""
    lat = F.col("latency_ms")
    return decoded.select(
        "conv_id", "ts", F.when(F.isnan(lat), None).otherwise(lat).alias("latency_ms"), "token_count"
    )


class Reference:
    """Inline plans of what each op must produce, built from the lake
    alone: no staging, buckets, read-back or catalog."""

    def __init__(self, lake: DataFrame, now):
        self.derived = with_derived(gapfill(lake))
        self.tiers = rollup_cascade(self.derived)
        self.columns = {t: df.columns for t, df in self.tiers.items()}
        # rows each tier keeps after apply_retention(now): bucket_start at
        # or after now minus the tier's horizon
        self.retained = {
            t: F.col("bucket_start") >= F.lit(now - dt.timedelta(seconds=h))
            for t, h in DEFAULT_RETENTION.items()
            if h is not None
        }

    def codec_points(self) -> DataFrame:
        return self.derived.select(
            "conv_id",
            "ts",
            F.col("latency_ms").cast("double").alias("latency_ms"),
            F.col("token_count").cast("long").alias("token_count"),
        )

    @staticmethod
    def stream(turns: DataFrame) -> DataFrame:
        return gapfill(turns).select(*OUT_COLS)

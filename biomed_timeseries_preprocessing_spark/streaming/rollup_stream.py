"""Structured Streaming surface: the 1m tier as a continuous aggregate.

The reference is batch-only; SURVEY §2.9 maps its semantic seeds to
streaming: event-time tumbling windows (its cursor loops), watermarks for
late/invalid data (its exclude_map + restart cursor), incremental
aggregation (its per-file partials). This module materializes the same
1m-tier schema from a stream:

- event-time window = ``F.window(ts, '1 minute')`` (same µs bucket
  boundaries as the batch engine's integer floor);
- watermark bounds state and drops late turns past the threshold —
  the streaming analog of the exclude-map policy, with the drop count
  observable via ``lastProgress`` metrics instead of silent loss;
- aggregate state is the same mergeable (cnt/n/sum/min/max/last) algebra,
  so a streaming 1m tier can be merged batch-side into 5m/1h/1d with
  ``rollup_merge`` unchanged.

``last`` per bucket uses ``max_by(·, struct(ts, turn_idx))`` exactly as
in batch, so a completed streaming bucket is bit-identical to the batch
bucket (tested by replaying a batch table through the stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_rollup_1m(turns: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1m-tier continuous aggregate over a stream of derived turns.

    Input must already carry latency_ms/token_count (compute them
    upstream per micro-batch; lag() is not stream-expressible, so latency
    is derived in foreachBatch or supplied by the producer — the test
    replays a batch-derived table)."""
    order = F.struct(F.col("ts"), F.col("turn_idx"))
    agg = (
        turns.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("latency_ms").alias("n_latency"),
            F.sum("latency_ms").alias("sum_latency"),
            F.min("latency_ms").alias("min_latency"),
            F.max("latency_ms").alias("max_latency"),
            F.sum("token_count").cast("long").alias("sum_tokens"),
            F.min("token_count").alias("min_tokens"),
            F.max("token_count").alias("max_tokens"),
            F.max_by(F.col("ts"), order).alias("last_ts"),
            F.max_by(F.col("turn_idx"), order).alias("last_turn_idx"),
            F.max_by(F.col("latency_ms"), order).alias("last_latency"),
            F.max_by(F.col("token_count"), order).alias("last_token_count"),
        )
        .select(
            "conv_id",
            F.col("win.start").alias("bucket_start"),
            "cnt",
            "n_latency",
            "sum_latency",
            "min_latency",
            "max_latency",
            "sum_tokens",
            "min_tokens",
            "max_tokens",
            "last_ts",
            "last_turn_idx",
            "last_latency",
            "last_token_count",
        )
        .withColumn("tier", F.lit("1m"))
        .withColumn(
            "mean_latency",
            F.when(
                F.col("n_latency") > 0,
                F.col("sum_latency").cast("double") / F.col("n_latency").cast("double"),
            ),
        )
        .withColumn(
            "mean_tokens",
            F.col("sum_tokens").cast("double") / F.col("cnt").cast("double"),
        )
    )
    return agg


def run_stream_to_memory(
    spark: SparkSession, derived_path: str, query_name: str = "rollup_1m_stream"
) -> DataFrame:
    """Drive the streaming 1m tier to completion over a static parquet
    directory (complete output mode → memory sink), return the result."""
    src = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, ts timestamp, latency_ms long, token_count int"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(derived_path)
    )
    q = (
        streaming_rollup_1m(src)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")

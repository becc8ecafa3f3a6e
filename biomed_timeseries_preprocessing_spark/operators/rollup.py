"""Cascaded continuous aggregates: 1m → 5m → 1h → 1d rollup tiers.

This is the engine's core. Reference parity: the two-phase partial/final
statistics algebra of ``edf_reader.py:222-237`` (per-file partials:
count, sum, sum-of-squares) merged by ``File_Struct.py:361-399``
(count-weighted combine, finalize mean/std at the end). Our tiers use the
identical algebra — every tier row carries the *mergeable* state
(cnt, n, sum, min, max, last) and derived means are computed only at
finalize from exact integer sums, so:

1. tier k+1 computed from tier k equals tier k+1 computed from raw
   (metamorphic property, tested);
2. results are bit-for-bit identical across partitionings/cluster sizes
   (no float accumulation anywhere in the merge path — SURVEY §7.4.1);
3. "last per bucket" is defined under the stable order
   ``max_by(·, struct(ts, turn_idx))`` so ties cannot break
   nondeterministically (SURVEY §7.4.4).

Property 1 is why one 1m aggregate can feed every tier at once:
``rollup_merge(tier_1m, TIER_ORDER)`` merges the 1m rows straight into
every tier inside one plan, which the job writes in one Spark job per
bucket. The tier by tier ``rollup_cascade`` (each tier merged from the
tier below) stays as the reference: it is the paper's algebra written
out step by step, and the tests, ``bench.py`` and ``rollbench`` check
the job against it.

Bucket assignment is pure integer math on microseconds — the analog of
the reference's sample-index window cursor ``start + win <= len``
(``edf_reader.py:174-213``) without its float-rescale truncation bugs
(``edf_reader.py:139-150``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIER_SECONDS: dict[str, int] = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "5m", "1h", "1d"]

#: mergeable state carried by every tier row (FIXTURES.md F4)
STATE_COLS = [
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
]


def bucket_start(ts_col, seconds: int):
    """floor(ts, seconds) as timestamp via exact integer µs arithmetic."""
    us = seconds * 1_000_000
    return F.timestamp_micros(F.floor(F.unix_micros(ts_col) / us).cast("long") * us)


def _last(ts: str, turn_idx: str, latency: str, tokens: str) -> Column:
    """The last row's state, as ONE max over a struct whose leading
    fields are the (ts, turn_idx) ordering — (ts, turn_idx) is unique per
    conversation, so lexicographic struct max selects exactly the row
    four max_by(col, struct(ts, turn_idx)) aggregates would, with one
    aggregation buffer and one comparison per row (the payload fields
    after the unique prefix are never compared)."""
    return F.max(
        F.struct(
            F.col(ts).alias("last_ts"),
            F.col(turn_idx).alias("last_turn_idx"),
            F.col(latency).alias("last_latency"),
            F.col(tokens).alias("last_token_count"),
        )
    ).alias("_last")


def _tier_rows(agg: DataFrame, tier: Column) -> DataFrame:
    """A tier's rows from its aggregate, in ONE projection: the mergeable
    state (``_last`` unpacked), ``tier``, and the means derived from exact
    integer sums — the only float math in the rollup path, applied
    identically at every tier (File_Struct.py:388-396 analog: finalize
    from partials, never accumulate floats)."""
    return agg.select(
        "conv_id", "bucket_start",
        *[c for c in STATE_COLS if not c.startswith("last_")], "_last.*",
        tier.alias("tier"),
        F.when(
            F.col("n_latency") > 0,
            F.col("sum_latency").cast("double") / F.col("n_latency").cast("double"),
        ).alias("mean_latency"),
        (F.col("sum_tokens").cast("double") / F.col("cnt").cast("double")).alias("mean_tokens"),
    )


def turn_aggs() -> list[Column]:
    """The mergeable state of a tier row aggregated from derived turns
    (``_last`` packed) — shared by the batch 1m tier and the streaming
    one, so both carry the same state."""
    return [
        F.count(F.lit(1)).alias("cnt"),
        F.count("latency_ms").alias("n_latency"),
        F.sum("latency_ms").alias("sum_latency"),
        F.min("latency_ms").alias("min_latency"),
        F.max("latency_ms").alias("max_latency"),
        F.sum("token_count").cast("long").alias("sum_tokens"),
        F.min("token_count").alias("min_tokens"),
        F.max("token_count").alias("max_tokens"),
        _last("ts", "turn_idx", "latency_ms", "token_count"),
    ]


def rollup_from_turns(derived: DataFrame, tier: str = "1m") -> DataFrame:
    """Tier-1m (or any tier) directly from derived turns.

    Input: output of ``derive.with_derived`` —
    (conv_id, turn_idx, role, text, tool, ts, latency_ms, token_count).
    """
    secs = TIER_SECONDS[tier]
    agg = derived.groupBy(
        "conv_id", bucket_start(F.col("ts"), secs).alias("bucket_start")
    ).agg(*turn_aggs())
    return _tier_rows(agg, F.lit(tier))


def rollup_merge(tier_df: DataFrame, to_tier: str | list[str]) -> DataFrame:
    """Tier k+1 from tier k by pure algebraic merge of mergeable state —
    never re-reads raw turns. The File_Struct.py:361-399 count-weighted
    combine, expressed as a Spark partial/final hash aggregate.

    Given a list of tiers, ``tier_df`` is merged into all of them at
    once: each row is exploded into its (tier, bucket_start) key in every
    target tier and merged once per (conv_id, tier, bucket_start), giving
    ONE frame told apart by ``tier`` whose rows of each tier equal a merge
    into that tier alone. The merge groups by ``conv_id`` first, so a
    frame already hash-partitioned by ``conv_id`` (the gap-fill exchange)
    needs no further shuffle."""
    tiers = [to_tier] if isinstance(to_tier, str) else to_tier
    keys = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tier"),
                    bucket_start(F.col("bucket_start"), TIER_SECONDS[t]).alias(
                        "bucket_start"
                    ),
                )
                for t in tiers
            ]
        )
    )
    agg = (
        tier_df.select("conv_id", *STATE_COLS, keys)
        .groupBy("conv_id", "tier", "bucket_start")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("n_latency").alias("n_latency"),
            F.sum("sum_latency").alias("sum_latency"),
            F.min("min_latency").alias("min_latency"),
            F.max("max_latency").alias("max_latency"),
            F.sum("sum_tokens").alias("sum_tokens"),
            F.min("min_tokens").alias("min_tokens"),
            F.max("max_tokens").alias("max_tokens"),
            _last("last_ts", "last_turn_idx", "last_latency", "last_token_count"),
        )
    )
    return _tier_rows(agg, F.col("tier"))


def rollup_cascade(derived: DataFrame) -> dict[str, DataFrame]:
    """All four tiers; each computed from the tier below (1m from raw) —
    the reference the job's one-frame merge is checked against."""
    tiers: dict[str, DataFrame] = {"1m": rollup_from_turns(derived, "1m")}
    for prev, nxt in zip(TIER_ORDER, TIER_ORDER[1:]):
        tiers[nxt] = rollup_merge(tiers[prev], nxt)
    return tiers

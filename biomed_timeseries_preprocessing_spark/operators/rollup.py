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

SQL text, not column functions. Every projection and aggregate of the
plan operators (here, in ``gapfill``, ``derive``, the codec's chunk key,
the streaming 1m tier and the rollup job's narrow projection) is SQL
text applied by ``selectExpr``/``F.expr``. The driver builds a plan
through Py4J, at least one round trip per column-function call
(``F.col``, ``F.when``, ``.alias``, ...), where the JVM parses a whole
SQL expression in one. Built from column functions, the tier frame of
a group plan (gap-fill → derive → 1m → every tier) took ~2,450 round
trips of serial driver work; as SQL text it takes ~230
(BENCH/plan_build.json; ``tests/test_plans.py`` holds the budget). The
optimized plans are the same, so the outputs are too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def bucket_start(ts: str, seconds: int) -> str:
    """floor(``ts``, seconds) as a timestamp via exact integer µs
    arithmetic, as SQL text over the SQL expression ``ts``."""
    us = seconds * 1_000_000
    return f"timestamp_micros(CAST(floor(unix_micros({ts}) / {us}) AS BIGINT) * {us})"


def _last(ts: str, turn_idx: str, latency: str, tokens: str) -> str:
    """The last row's state, as ONE max over a struct whose leading
    fields are the (ts, turn_idx) ordering — (ts, turn_idx) is unique per
    conversation, so lexicographic struct max selects exactly the row
    four max_by(col, struct(ts, turn_idx)) aggregates would, with one
    aggregation buffer and one comparison per row (the payload fields
    after the unique prefix are never compared)."""
    return (
        f"max(struct({ts} AS last_ts, {turn_idx} AS last_turn_idx, "
        f"{latency} AS last_latency, {tokens} AS last_token_count)) AS _last"
    )


#: The mergeable state of a tier row aggregated from derived turns
#: (``_last`` packed) — shared by the batch 1m tier and the streaming
#: one, so both carry the same state.
TURN_AGGS = [
    "count(1) AS cnt",
    "count(latency_ms) AS n_latency",
    "sum(latency_ms) AS sum_latency",
    "min(latency_ms) AS min_latency",
    "max(latency_ms) AS max_latency",
    "CAST(sum(token_count) AS BIGINT) AS sum_tokens",
    "min(token_count) AS min_tokens",
    "max(token_count) AS max_tokens",
    _last("ts", "turn_idx", "latency_ms", "token_count"),
]

#: The merge of tier rows' state into a coarser tier: the
#: File_Struct.py:361-399 count-weighted combine.
MERGE_AGGS = [
    "sum(cnt) AS cnt",
    "sum(n_latency) AS n_latency",
    "sum(sum_latency) AS sum_latency",
    "min(min_latency) AS min_latency",
    "max(max_latency) AS max_latency",
    "sum(sum_tokens) AS sum_tokens",
    "min(min_tokens) AS min_tokens",
    "max(max_tokens) AS max_tokens",
    _last("last_ts", "last_turn_idx", "last_latency", "last_token_count"),
]

#: A tier row's columns from its aggregate: the mergeable state
#: (``_last`` unpacked), the tier (``{tier}``: SQL text) and the means
#: derived from exact integer sums — the only float math in the rollup
#: path, applied identically at every tier (File_Struct.py:388-396
#: analog: finalize from partials, never accumulate floats).
TIER_ROW = [
    "conv_id",
    "bucket_start",
    *[c for c in STATE_COLS if not c.startswith("last_")],
    "_last.*",
    "{tier} AS tier",
    "CASE WHEN n_latency > 0 THEN CAST(sum_latency AS DOUBLE) / CAST(n_latency AS DOUBLE)"
    " END AS mean_latency",
    "CAST(sum_tokens AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean_tokens",
]


def _tier_rows(agg: DataFrame, tier: str) -> DataFrame:
    """A tier's rows from its aggregate, in ONE projection (``TIER_ROW``);
    ``tier`` is SQL text (a literal or the ``tier`` column)."""
    return agg.selectExpr(*[c.format(tier=tier) for c in TIER_ROW])


def rollup_from_turns(derived: DataFrame, tier: str = "1m") -> DataFrame:
    """Tier-1m (or any tier) directly from derived turns.

    Input: output of ``derive.with_derived`` —
    (conv_id, turn_idx, role, text, tool, ts, latency_ms, token_count).
    """
    key = F.expr(f"{bucket_start('ts', TIER_SECONDS[tier])} AS bucket_start")
    agg = derived.groupBy("conv_id", key).agg(*map(F.expr, TURN_AGGS))
    return _tier_rows(agg, f"'{tier}'")


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
    keys = ", ".join(
        f"struct('{t}' AS tier, {bucket_start('bucket_start', TIER_SECONDS[t])} AS bucket_start)"
        for t in tiers
    )
    exploded = tier_df.selectExpr("conv_id", *STATE_COLS, f"inline(array({keys}))")
    agg = exploded.groupBy("conv_id", "tier", "bucket_start").agg(*map(F.expr, MERGE_AGGS))
    return _tier_rows(agg, "tier")


def rollup_cascade(derived: DataFrame) -> dict[str, DataFrame]:
    """All four tiers; each computed from the tier below (1m from raw) —
    the reference the job's one-frame merge is checked against."""
    tiers: dict[str, DataFrame] = {"1m": rollup_from_turns(derived, "1m")}
    for prev, nxt in zip(TIER_ORDER, TIER_ORDER[1:]):
        tiers[nxt] = rollup_merge(tiers[prev], nxt)
    return tiers

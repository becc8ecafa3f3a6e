"""Skew handling: salted repartitioning for hot conversations + AQE.

The reference's unit of parallelism is one patient — a single huge
patient stalls its whole joblib pool (``File_Struct.py:576-579``), and
its only mitigation is over-provisioning ``num_cores: 130``. Spark gives
us three tools, applied by stage *type* (SURVEY §7.4.2):

1. **Commutative aggregation stages** — salt the group key: aggregate
   per (key, salt) first (spreads one hot conv over S reducers), then
   algebraically merge the partials. Correct because the rollup state is
   mergeable (the File_Struct.py:361-399 algebra); bit-for-bit safe
   because the state is exact integers.
2. **Ordered-window stages** (lag/lead/gap-fill) — NEVER salt: order
   within conv_id must be total, so a hot conversation is still one
   task (the segmented scan on the ROADMAP is the planned remedy).
3. **AQE** — ``spark.sql.adaptive.skewJoin`` + partition coalescing is
   enabled in session.py for everything joins/shuffle-sized.

Note: Spark's hash aggregate already does map-side partial aggregation,
which absorbs most group-by skew; explicit salting matters when a single
(conv, bucket) group's *reduce-side state* is hot (e.g. 1d buckets of a
conversation with millions of turns) — exactly the case below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.rollup import TIER_SECONDS, rollup_from_turns, rollup_merge


def with_salt(df: DataFrame, n_salts: int, cols=("ts", "turn_idx")) -> DataFrame:
    """Deterministic salt derived from row content (never random — results
    must be identical across retries/cluster sizes)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts)).cast("int")
    )


def rollup_from_turns_salted(derived: DataFrame, tier: str, n_salts: int = 8) -> DataFrame:
    """Two-phase salted rollup: partial per (conv, bucket, salt) then
    algebraic merge to (conv, bucket). Output is bit-for-bit identical to
    ``rollup_from_turns`` (tested) — the merge algebra guarantees it."""
    salted = with_salt(derived, n_salts)
    # phase 1: the normal per-tier aggregate, with _salt temporarily
    # riding in conv_id so the group key spreads across reducers.
    phase1_in = salted.withColumn(
        "conv_id", F.concat_ws("\x1f", F.col("conv_id"), F.col("_salt"))
    )
    partial = rollup_from_turns(phase1_in, tier)
    # phase 2: strip the salt, merge partials per real (conv, bucket).
    unsalted = partial.withColumn(
        "conv_id", F.split_part(F.col("conv_id"), F.lit("\x1f"), F.lit(1))
    )
    return rollup_merge(unsalted, tier)


__all__ = [
    "TIER_SECONDS",
    "rollup_from_turns_salted",
    "with_salt",
]

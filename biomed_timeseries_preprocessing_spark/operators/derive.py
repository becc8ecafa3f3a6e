"""Derive per-turn numeric series from raw transcripts.

Reference parity: the reference derives per-channel numeric series by
whole-array ops — channel deltas / re-referencing
(``Additional_Operator.py:80-88,126-139``) and per-signal stats
(``edf_reader.py:222-237``). Our per-turn series are:

- ``latency_ms``  = ts − lag(ts) over (conv_id ORDER BY turn_idx) — the
  delta-encoding basis (NULL for the first turn of a conversation);
- ``token_count`` = whitespace token count of ``text`` (vectorized,
  JVM-side — no Python in the hot path per input_hint).

All arithmetic is exact integer math (microseconds → milliseconds on an
ms-quantized source) so downstream sums are bit-for-bit reproducible
under any partitioning (SURVEY §7.4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: Whitespace token count of ``text``; empty/NULL text → 0. JVM-side
#: regex split — deliberately not a Python UDF. SQL text, as are the
#: other plan operators (operators/rollup.py says why).
TOKEN_COUNT = (
    "CAST(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0"
    " ELSE size(split(trim(text), '\\\\s+')) END AS INT)"
)
#: ts − lag(ts) over the stable (conv_id, turn_idx) order, in whole ms
LATENCY_MS = (
    "CAST(floor((unix_micros(ts)"
    " - unix_micros(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx))) / 1000) AS BIGINT)"
)


def with_neighbor_context(
    df: DataFrame,
    k: int,
    value_col: str = "text",
    group_col: str = "conv_id",
    order_col: str = "turn_idx",
    out_col: str | None = None,
) -> DataFrame:
    """±k neighbor-context column (SURVEY §2 W7): for every row, an
    array of the ``value_col`` values of the 2k+1 surrounding rows
    (ordered by ``order_col`` within ``group_col``), the row's own value
    at the center.

    Reference parity: ``add_neighbors``
    (/root/reference/utils/sleep_data_prep/sleep_data_utils.py:190-202)
    concatenates each window with its ±k neighbors along a new axis.
    Edge semantics differ deliberately: the reference pads by repeating
    the edge window; here the frame CLIPS (first row sees k+1 values),
    because a clipped array states "no neighbor exists" honestly and
    pads trivially downstream (``F.slice``/``F.concat``) if a model
    needs fixed arity.

    Scale shape: one window pass over the same (group, order) Exchange
    every other per-conversation operator already uses — ``collect_list``
    over ``rowsBetween(-k, k)`` keeps at most 2k+1 values per row in the
    frame buffer, so memory is O(k), not O(conversation).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(-k, k)
    )
    return df.withColumn(
        out_col or f"{value_col}_ctx", F.collect_list(value_col).over(w)
    )


def with_derived(df: DataFrame) -> DataFrame:
    """Add latency_ms (long, NULL on conv head) and token_count (int).

    token_count is computed BELOW the window (map-side): it depends only
    on ``text``, so evaluating it before the conv_id Exchange lets
    Catalyst prune ``text`` out of the shuffle when the consumer doesn't
    project it — measured 6.2 GB → ~1.5 GB shuffle payload on the
    rollup cascade at 55M turns (the raw text never needs to travel for
    a numeric rollup). Output column order is fixed by the final select
    so the operator's schema contract is unchanged.

    A ``token_count`` column already present on ``df`` is trusted and
    kept (the caller computed it even earlier — e.g. the rollup job
    hashes+counts text BEFORE its gap-fill shuffle and drops the
    payload; recomputing here would both be wrong — the text column is
    gone — and defeat that narrow-shuffle plan)."""
    cols = [f"`{c}`" for c in df.columns]
    latency = f"{LATENCY_MS} AS latency_ms"
    if "`token_count`" in cols:
        cols.remove("`token_count`")
        return df.selectExpr(*cols, latency, "token_count")
    return df.selectExpr("*", f"{TOKEN_COUNT} AS token_count").selectExpr(
        *cols, latency, "token_count"
    )

"""Gap-fill: materialize missing turns per conversation and fill them.

Reference parity (SURVEY §2.8 F7): ``Extract_Transform_Labeler.py:49-70``
fills holes between label intervals with Background, merges adjacent
same-label intervals, and back-fills the tail to ``end_labelling``; the
MNE reader maps missing channels to ``-1`` sentinels
(``mne_reader.py:53-55,133-135``). Our version:

- the missing-turn grid is materialized with ``sequence()`` per
  conversation (bounded by that conversation's min/max present turn_idx —
  no head/tail extrapolation, mirroring the reference's refusal to invent
  data before the first interval);
- ``ts`` is **linearly interpolated** between the previous and next
  present turns using exact integer µs arithmetic with explicit FLOOR
  semantics (pmod-based floordiv — matches DuckDB/pandas ``//`` even when
  timestamps decrease within a conversation) so results are bit-identical
  across partitionings and match the oracles;
- ``role``/``tool`` of **gap rows only** are forward-filled
  (``last(..., ignoreNulls)`` over the stable order); present rows keep
  their own values, including NULLs the schema allows;
- ``text`` of filled turns is ``GAP_TEXT`` (NULL-free so the per-turn
  text-equality invariant can distinguish filled rows via
  ``is_gap_filled`` instead of sentinel values).

Everything is window functions over the stable (conv_id, turn_idx) order
— one shuffle, no Python.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


OUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "is_gap_filled"]

# text of every filled turn. The rollup job's narrow plan drops text
# before the gap-fill and carries token_count=0 for gap rows, because
# derive computes 0 tokens from this value.
GAP_TEXT = ""

# The plan in SQL text (operators/rollup.py says why). Every window runs
# over the stable (conv_id, turn_idx) order.
_W = "OVER (PARTITION BY conv_id ORDER BY turn_idx)"
_W_BACK = (
    "OVER (PARTITION BY conv_id ORDER BY turn_idx"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)
#: the next present turn, and the running forward-fill of role/tool
STEP = [
    f"lead(turn_idx) {_W} AS _next_idx",
    f"unix_micros(lead(ts) {_W}) AS _next_us",
    f"last(role, true) {_W_BACK} AS _role_f",
    f"last(tool, true) {_W_BACK} AS _tool_f",
]
#: a present row and the missing positions up to the next present turn
EXPLODE = (
    "explode(CASE WHEN _next_idx > turn_idx + 1 THEN sequence(turn_idx, _next_idx - 1)"
    " ELSE array(turn_idx) END) AS turn_idx"
)
IS_GAP = "turn_idx != _prev_idx"
# exact integer interpolation with explicit FLOOR semantics (pmod-based
# floordiv — matches DuckDB/pandas ``//`` even when timestamps decrease
# within a conversation); the step denominator (next_idx - prev_idx) is
# always positive for generated gap rows.
INTERP = (
    "timestamp_micros(unix_micros(ts) + ("
    "((_next_us - unix_micros(ts)) * (turn_idx - _prev_idx)"
    " - pmod((_next_us - unix_micros(ts)) * (turn_idx - _prev_idx), _next_idx - _prev_idx))"
    " DIV (_next_idx - _prev_idx)))"
)


def _fill(gap: str, present: str, name: str) -> str:
    return f"CASE WHEN {IS_GAP} THEN {gap} ELSE {present} END AS {name}"


def _sql_value(v) -> str:
    """``v`` as a SQL literal: NULL, a boolean or a finite number (a
    float's repr is the shortest text that reads back as the same
    double)."""
    if v is None:
        return "NULL"
    if isinstance(v, (bool, int)) or (isinstance(v, float) and math.isfinite(v)):
        return repr(v)
    raise TypeError(f"gap value {v!r}: expected None, a boolean or a finite number")


def gapfill(
    turns: DataFrame,
    carry: dict[str, object] | None = None,
) -> DataFrame:
    """Return turns with missing turn_idx rows materialized and filled,
    plus an ``is_gap_filled`` boolean column.

    ``carry``: extra ``{column: gap_value}`` columns to pass through —
    present rows keep their value, generated gap rows get ``gap_value``
    (cast to the column's type). This is the narrow-shuffle hook for
    pipelines that don't need the text payload downstream: precompute
    what the consumer needs (e.g. token_count, an audit hash) map-side,
    DROP ``text`` before this operator, and only the narrow columns
    cross the conv_id exchange (guide §2.3 — the rollup job's tier path
    does exactly this; a missing ``text`` column is simply omitted from
    the output).

    Physical shape (r6 one-scan rewrite, guide §2.4): ONE scan, ONE
    exchange, ONE window pass, ONE generate. Every present row emits
    itself plus the missing positions up to the next present turn
    (``sequence(turn_idx, next_idx - 1)``), so the grid aggregation, the
    grid⟷turns join, and the originals-union re-scan of the old plan
    (3 source scans, 5 exchanges in the events-adapter query) all
    disappear. Gap values come straight from the generating row: its own
    ``ts``/``turn_idx`` are the interpolation "prev" (present rows always
    carry ts), ``lead(ts)``/``lead(turn_idx)`` the "next", and running
    ``last(role/tool, ignorenulls)`` over present rows matches the old
    forward-fill exactly (gap rows contributed only NULLs to it). The
    head/tail behavior is unchanged — the grid was bounded by min/max
    present turn_idx, and so is per-row generation. A further win for
    callers: the output keeps the conv_id hash partitioning of the
    window, so the derive lag that follows in the rollup job re-uses
    this exchange instead of re-shuffling the text payload."""
    carry = carry or {}
    schema = turns.schema
    has_text = "text" in schema.fieldNames()
    payload = (["text"] if has_text else []) + [f"`{c}`" for c in carry]
    stepped = turns.selectExpr("conv_id", "turn_idx", "role", *payload, "tool", "ts", *STEP)
    ex = stepped.selectExpr(
        "conv_id",
        "turn_idx AS _prev_idx",
        "role",
        *payload,
        "tool",
        "ts",
        "_next_idx",
        "_next_us",
        "_role_f",
        "_tool_f",
        EXPLODE,
    )
    out = ["conv_id", "turn_idx", _fill("_role_f", "role", "role")]
    if has_text:
        out.append(_fill(f"'{GAP_TEXT}'", "text", "text"))
    out += [
        _fill("_tool_f", "tool", "tool"),
        _fill(INTERP, "ts", "ts"),
        f"{IS_GAP} AS is_gap_filled",
    ]
    for c, gap_value in carry.items():
        dtype = schema[c].dataType.simpleString()
        out.append(_fill(f"CAST({_sql_value(gap_value)} AS {dtype})", f"`{c}`", f"`{c}`"))
    return ex.selectExpr(*out)

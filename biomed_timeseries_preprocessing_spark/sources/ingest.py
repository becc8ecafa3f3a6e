"""Ingest: declared schema, column-alias resolution, arity validation,
and the per-turn text-equality invariant.

Reference parity (SURVEY.md §2.1/§2.3):
- declared schema + projection: ``edf_reader.py:74-87,117-132`` (only
  selected channels are read) → Spark column pruning on a declared
  StructType;
- alias resolution: ``configs/edf_headers.txt:2-36`` +
  ``edf_reader.py:41-48`` (canonical name ← list of raw spellings);
- arity check: ``verify_edf_channels`` ``edf_reader.py:89-94`` — we fail
  fast instead of the reference's truthy no-op assert
  (``File_Struct.py:533``, SURVEY §7.5);
- missing-column tolerance: ``mne_reader.py:53-55,133-135`` maps missing
  channels to ``-1`` sentinels; we emit NULL columns and let gap-fill
  handle them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# canonical column -> accepted raw spellings (the edf_headers.txt analog)
COLUMN_ALIASES: dict[str, list[str]] = {
    "conv_id": ["conv_id", "conversation_id", "convid", "session_id", "conv"],
    "turn_idx": ["turn_idx", "turn_index", "turn", "idx", "message_idx"],
    "role": ["role", "speaker", "author"],
    "text": ["text", "content", "message", "body"],
    "tool": ["tool", "tool_name", "function"],
    "ts": ["ts", "timestamp", "created_at", "event_ts", "time"],
}

REQUIRED = ["conv_id", "turn_idx", "ts", "text"]


class SchemaArityError(ValueError):
    """Raised when a required canonical column cannot be resolved."""


def resolve_aliases(df: DataFrame, aliases: dict[str, list[str]] | None = None) -> DataFrame:
    """Rename raw columns to canonical names; missing optional columns
    become typed NULLs; missing required columns raise (fail fast)."""
    aliases = aliases or COLUMN_ALIASES
    lower_cols = {c.lower(): c for c in df.columns}
    out = []
    for field in TRANSCRIPT_SCHEMA.fields:
        raw = next((lower_cols[a] for a in aliases.get(field.name, []) if a in lower_cols), None)
        if raw is not None:
            out.append(F.col(raw).cast(field.dataType).alias(field.name))
        elif field.name in REQUIRED:
            raise SchemaArityError(
                f"required column '{field.name}' not resolvable from {df.columns}"
            )
        else:
            out.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*out)


def text_equality_violations(original: DataFrame, processed: DataFrame) -> DataFrame:
    """Per-turn text-equality invariant (input_hint): after any
    repartition/salt/gap-fill/resume, the (conv_id, turn_idx) → text map of
    surviving original turns must be unchanged. Returns the violating rows
    (empty == pass). Descendant of the reference's alignment asserts
    (``edf_reader.py:219-220,243-244``)."""
    a = original.select("conv_id", "turn_idx", F.col("text").alias("text_in"))
    b = processed.select("conv_id", "turn_idx", F.col("text").alias("text_out"))
    joined = a.join(b, ["conv_id", "turn_idx"], "inner")
    return joined.filter(~F.col("text_in").eqNullSafe(F.col("text_out")))

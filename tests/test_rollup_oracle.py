"""Oracle-based end-to-end tests (SURVEY §5 item 1): Spark rollup output
must match the single-node pandas oracle bit-for-bit at every tier, and
the tier cascade must equal rollup-from-raw (metamorphic, §5 item 4)."""

import pandas as pd
import pytest

from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
from biomed_timeseries_preprocessing_spark.operators.rollup import (
    TIER_ORDER,
    rollup_cascade,
    rollup_from_turns,
    rollup_merge,
)
from biomed_timeseries_preprocessing_spark.oracle import ref as oracle

COLS_SORT = ["conv_id", "bucket_start"]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf[sorted(pdf.columns)]
        .sort_values(COLS_SORT, kind="mergesort")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def derived(small_transcripts):
    d = with_derived(small_transcripts)
    d.persist()
    d.count()
    return d


@pytest.fixture(scope="module")
def oracle_derived(small_transcripts):
    return oracle.derive_pdf(small_transcripts.toPandas())


def test_derive_matches_oracle(derived, oracle_derived):
    a = derived.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = oracle_derived.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(a["latency_ms"].fillna(-1)) == list(b["latency_ms"].fillna(-1).astype("int64"))
    assert list(a["token_count"]) == list(b["token_count"])


@pytest.mark.parametrize("tier", TIER_ORDER)
def test_tier_matches_oracle_bit_for_bit(derived, oracle_derived, tier):
    spark_pdf = canon(rollup_cascade(derived)[tier].toPandas())
    oracle_pdf = canon(oracle.rollup_pdf(oracle_derived, tier))
    pd.testing.assert_frame_equal(spark_pdf, oracle_pdf, check_dtype=False, check_exact=True)


@pytest.mark.parametrize("tier", TIER_ORDER[1:])
def test_cascade_equals_rollup_from_raw(derived, tier):
    """tier k+1 from tier k == tier k+1 straight from turns — the
    File_Struct.py:361-399 partial/final algebra holds exactly."""
    cascade = canon(rollup_cascade(derived)[tier].toPandas())
    direct = canon(rollup_from_turns(derived, tier).toPandas())
    pd.testing.assert_frame_equal(cascade, direct, check_dtype=False, check_exact=True)


@pytest.mark.parametrize("partitions", [None, 13])
def test_merge_into_all_tiers_equals_cascade(derived, partitions):
    """The one-frame merge of the 1m aggregate into every tier (the job's
    tier plan) equals the tier-by-tier cascade exactly, column for
    column, on any partitioning."""
    src = derived if partitions is None else derived.repartition(partitions)
    tiers = rollup_merge(rollup_from_turns(src, "1m"), TIER_ORDER)
    cascade = rollup_cascade(src)
    for tier in TIER_ORDER:
        got = tiers.filter(tiers["tier"] == tier)
        assert got.columns == cascade[tier].columns
        pd.testing.assert_frame_equal(
            canon(got.toPandas()), canon(cascade[tier].toPandas()), check_exact=True
        )


def test_partitioning_invariance(derived):
    """Bit-for-bit identical results under different partitionings — the
    scaling-correctness guarantee (SURVEY §7.4.1)."""
    a = canon(rollup_from_turns(derived.repartition(13), "1h").toPandas())
    b = canon(rollup_from_turns(derived.repartition(2), "1h").toPandas())
    pd.testing.assert_frame_equal(a, b, check_exact=True)

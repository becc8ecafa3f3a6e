"""Round-5 regression tests: the -0.0 emission postmortem (VERDICT_r4 #1)
— local checker must compare floats by bit pattern so local green predicts
the driver's value-hash green."""

import os
import struct
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/repo/tools")

from check_contract import compare, float_bits, run_gate  # noqa: E402


def test_float_bits_distinguishes_negative_zero():
    a = pd.Series([-0.0, 0.0, 1.5])
    b = pd.Series([0.0, 0.0, 1.5])
    bits_a, bits_b = float_bits(a), float_bits(b)
    assert bits_a[0] != bits_b[0]  # -0.0 vs +0.0: different bit patterns
    assert bits_a[1] == bits_b[1] and bits_a[2] == bits_b[2]


def test_float_bits_normalizes_nan():
    # two distinct NaN payloads must compare equal after canonicalization
    weird_nan = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
    a = pd.Series([np.nan, 1.0])
    b = pd.Series([weird_nan, 1.0])
    assert (float_bits(a) == float_bits(b)).all()


def test_compare_fails_on_negative_zero_like_the_driver_hash():
    spark_pdf = pd.DataFrame({"k": [1, 2], "v": [-0.0, 3.0]})
    duck_pdf = pd.DataFrame({"k": [1, 2], "v": [0.0, 3.0]})
    problems = compare("neg_zero", spark_pdf, duck_pdf)
    assert problems and "v" in problems[0]
    # and identical frames (including the sign bit) pass
    assert compare("same", spark_pdf, spark_pdf.copy()) == []


def test_resolve_scheduler_auto_follows_deployment_shape():
    # VERDICT r4 #4: the scheduler flips itself — per-bucket thread pool
    # on a single JVM, one partitioned job per stage on a wide cluster
    from jobs.rollup_job import resolve_scheduler

    assert resolve_scheduler("local[32]") == "per-bucket"
    assert resolve_scheduler("local[*]") == "per-bucket"
    assert resolve_scheduler("local") == "per-bucket"
    assert resolve_scheduler("yarn") == "global"
    assert resolve_scheduler("spark://host:7077") == "global"
    assert resolve_scheduler("k8s://https://host:443") == "global"
    assert resolve_scheduler("local-cluster[2,2,1024]") == "global"


def test_parse_local_cores_cluster_masters_are_unpinned():
    # ADVICE r4: per-core configs (default.parallelism, graft.cores) must
    # only be pinned when the core count is actually known
    from biomed_timeseries_preprocessing_spark.session import parse_local_cores

    assert parse_local_cores("local[8]") == 8
    assert parse_local_cores("local[32]") == 32
    assert isinstance(parse_local_cores("local[*]"), int)
    assert parse_local_cores("yarn") is None
    assert parse_local_cores("spark://host:7077") is None
    assert parse_local_cores("local-cluster[2,2,1024]") is None
    assert parse_local_cores("local") is None


def test_round_plus_zero_folds_sign_bit():
    # the filters.py emission pattern: np.round of a tiny negative residual
    # yields -0.0; + 0.0 must fold it to +0.0 without touching real values
    r = np.round(np.array([-1e-15, 1e-15, -2.5e-10, 0.25]), 9) + 0.0
    assert struct.pack("<d", r[0]) == struct.pack("<d", 0.0)
    assert struct.pack("<d", r[1]) == struct.pack("<d", 0.0)
    assert struct.pack("<d", r[2]) == struct.pack("<d", 0.0)
    assert r[3] == 0.25


def test_full_oracle_gate_bit_exact_at_sf0001(spark):
    """VERDICT r4 #7: run ALL driver queries through the bit-pattern
    comparator at a second SF (the driver itself covers sf0.01 every
    round). Any -0.0 / NaN-payload emission anywhere in the oracle
    surface fails here before it can fail the driver's value hash."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    failed = run_gate(spark, sf_dir, quiet=True)
    assert failed == []


def test_plan_checkpoint_prefers_reliable_when_dir_configured(spark, tmp_path):
    """ADVICE r4 (low): plan truncation must not silently ship
    executor-local (non-replicated, unrecoverable-on-executor-loss)
    blocks to a cluster run — with a checkpoint dir configured the
    truncation is a RELIABLE checkpoint, without one it falls back to
    localCheckpoint. minhash/shared-shingle reuse and the CC rounds all
    route through plan_checkpoint."""
    from biomed_timeseries_preprocessing_spark.plans.truncate import plan_checkpoint

    def plan_of(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = plan_checkpoint(spark.range(10), eager=True)
    # truncation happened: the Range source is gone from the plan...
    assert "Range" not in plan_of(local)
    # ...and nothing was written anywhere (executor-local blocks only)
    ckpt_dir = tmp_path / "ckpt"
    assert not ckpt_dir.exists()

    sc.setCheckpointDir(str(ckpt_dir))
    try:
        reliable = plan_checkpoint(spark.range(10), eager=True)
        assert "Range" not in plan_of(reliable)
        # reliable = blocks ON DISK in the configured dir (replicated
        # storage on a cluster — survives executor loss)
        files = [p for p in ckpt_dir.rglob("*") if p.is_file()]
        assert files, "reliable checkpoint wrote no files"
        assert sorted(r.id for r in reliable.collect()) == list(range(10))
    finally:
        # reset so later tests see the session's default (no dir)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())

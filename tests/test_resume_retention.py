"""Lineage/resume + retention + salted-rollup tests (SURVEY §5 item 4:
resume-after-kill == uninterrupted run; FIXTURES F5)."""

import argparse
import datetime as dt
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
from biomed_timeseries_preprocessing_spark.operators.retention import apply_retention
from biomed_timeseries_preprocessing_spark.operators.rollup import rollup_from_turns
from biomed_timeseries_preprocessing_spark.plans.skew import rollup_from_turns_salted
from biomed_timeseries_preprocessing_spark.sources.catalog import LocalSnapshotCatalog
from jobs.rollup_job import run as run_job


def job_args(**kw):
    base = dict(
        source=None,
        synth_convs=6,
        warehouse=None,
        run_id="t",
        buckets=4,
        master=None,
        fail_after_buckets=0,
        codec_chunks=False,
        scheduler="auto",
    )
    base.update(kw)
    return argparse.Namespace(**base)


def read_sorted(catalog, spark, table):
    return (
        catalog.read(spark, table)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"], kind="mergesort")
        .reset_index(drop=True)
        .pipe(lambda d: d[sorted(d.columns)])
    )


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    # uninterrupted
    stats = run_job(job_args(warehouse=wh_a, run_id="r1"), spark=spark)
    assert stats["buckets_run"] == 4

    # killed after 2 buckets, then resumed
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(job_args(warehouse=wh_b, run_id="r1", fail_after_buckets=2), spark=spark)
    resumed = run_job(job_args(warehouse=wh_b, run_id="r1"), spark=spark)
    assert resumed["buckets_run"] == 2  # only the pending buckets ran

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        a = read_sorted(cat_a, spark, f"rollup_{tier}")
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        pd.testing.assert_frame_equal(a, b, check_exact=True)

    # no recompute: exactly one lineage row per (stage, bucket) for the
    # gapfill stage and the four tiers, plus the single stage_source
    # staging row (written once, skipped on resume)
    lin = cat_b.read(spark, "lineage").toPandas()
    per = lin.groupby(["stage", "partition_key"]).size()
    assert (per == 1).all()
    assert len(per) == 5 * 4 + 1
    assert len(lin[lin.stage == "stage_source"]) == 1


def test_snapshot_isolation_and_expiry(spark, tmp_path):
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    df1 = spark.range(5).withColumnRenamed("id", "v")
    df2 = spark.range(5, 8).withColumnRenamed("id", "v")
    s1 = cat.append("t", df1)
    s2 = cat.append("t", df2)
    assert cat.read(spark, "t", snapshot_id=s1).count() == 5  # time travel
    assert cat.read(spark, "t", snapshot_id=s2).count() == 8
    assert cat.overwrite(spark, "t", F.col("v") >= 5) == 5  # keeps df2
    assert cat.read(spark, "t").count() == 3
    removed = cat.expire_snapshots("t", keep_last=1)
    assert removed > 0
    assert cat.read(spark, "t").count() == 3  # current untouched


def test_retention_expiry(spark, tmp_path, small_transcripts):
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    tier = rollup_from_turns(with_derived(small_transcripts), "1m")
    cat.append("rollup_1m", tier)
    lo, hi = tier.toPandas()["bucket_start"].agg(["min", "max"])
    cutoff = (lo + (hi - lo) / 2).to_pydatetime()
    now = cutoff + dt.timedelta(seconds=7 * 86400)  # horizon lands on cutoff
    removed = apply_retention(cat, spark, now, retention={"1m": 7 * 86400})
    kept = cat.read(spark, "rollup_1m").toPandas()
    assert removed["1m"] > 0
    assert (kept["bucket_start"] >= cutoff).all()
    assert removed["1m"] + len(kept) == tier.count()
    # a horizon past every row empties the tier, which stays readable
    removed = apply_retention(cat, spark, now + dt.timedelta(days=365), retention={"1m": 1})
    assert removed["1m"] == len(kept)
    emptied = cat.read(spark, "rollup_1m")
    assert emptied.count() == 0 and emptied.columns == tier.columns


def test_retention_then_next_run_has_no_duplicate_rows(spark, tmp_path):
    """Retention rewrites the tiers; the next nightly run (a new run id)
    then re-commits every bucket as a partition overwrite. The rewrite
    must keep each file's bucket partition, or those overwrites leave the
    kept rows beside the recomputed ones. Every tier must end with one
    row per (conv_id, bucket_start), equal to a fresh single run, and no
    expired row may survive the rewrite of a file that spans the cutoff."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_job(job_args(warehouse=wh_a, run_id="n1", buckets=2), spark=spark)
    run_job(job_args(warehouse=wh_b, run_id="n1", buckets=2), spark=spark)

    cat = LocalSnapshotCatalog(wh_b)
    lo, hi = read_sorted(cat, spark, "rollup_1m")["bucket_start"].agg(["min", "max"])
    cutoff = (lo + (hi - lo) / 2).to_pydatetime()
    horizon = 7 * 86400
    before = {t: cat.read(spark, f"rollup_{t}") for t in ("1m", "5m")}
    per_file = before["1m"].groupBy(F.input_file_name()).agg(
        F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")
    )
    assert any(r.lo < cutoff <= r.hi for r in per_file.collect())  # a spanning file
    n_before = {t: df.count() for t, df in before.items()}

    removed = apply_retention(
        cat, spark, cutoff + dt.timedelta(seconds=horizon),
        retention={"1m": horizon, "5m": horizon},
    )
    for t in ("1m", "5m"):
        kept = read_sorted(cat, spark, f"rollup_{t}")
        assert removed[t] > 0 and len(kept) > 0
        assert (kept["bucket_start"] >= cutoff).all()
        assert removed[t] + len(kept) == n_before[t]

    run_job(job_args(warehouse=wh_b, run_id="n2", buckets=2), spark=spark)
    cat_a = LocalSnapshotCatalog(wh_a)
    for tier in ("1m", "5m", "1h", "1d"):
        b = read_sorted(cat, spark, f"rollup_{tier}")
        assert not b.duplicated(subset=["conv_id", "bucket_start"]).any(), tier
        pd.testing.assert_frame_equal(
            read_sorted(cat_a, spark, f"rollup_{tier}"), b, check_exact=True
        )


def test_salted_rollup_bit_identical(spark, small_transcripts):
    derived = with_derived(small_transcripts)
    plain = (
        rollup_from_turns(derived, "1h")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    salted = (
        rollup_from_turns_salted(derived, "1h", n_salts=8)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        plain[sorted(plain.columns)], salted[sorted(salted.columns)], check_exact=True
    )


def test_job_with_gapfill_and_codec(spark, tmp_path):
    """The job enforces the text-equality invariant and commits a gapfill
    lineage stage; --codec-chunks writes the compressed table."""
    args = job_args(
        warehouse=str(tmp_path / "wh"), run_id="g1", buckets=2, codec_chunks=True
    )
    stats = run_job(args, spark=spark)
    assert stats["buckets_run"] == 2
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    lin = cat.read(spark, "lineage").toPandas()
    assert set(lin["stage"]) == {
        "stage_source", "gapfill", "codec_chunks",
        "rollup_1m", "rollup_5m", "rollup_1h", "rollup_1d",
    }
    gap_rows = lin[lin.stage == "gapfill"]
    assert len(gap_rows) == 2 and gap_rows["rows_out"].sum() > 0
    chunks = cat.read(spark, "codec_chunks")
    assert chunks.count() > 0
    # codec lineage: rows_in = encoded points (== derived turn count),
    # rows_out = blobs — matches the committed table exactly
    codec_rows = lin[lin.stage == "codec_chunks"]
    assert len(codec_rows) == 2
    assert int(codec_rows["rows_out"].sum()) == chunks.count()
    assert int(codec_rows["rows_in"].sum()) == int(
        chunks.agg(F.sum("n")).collect()[0][0]
    )
    # compressed strictly smaller than raw for the ts series
    sums = chunks.select(F.sum("ts_bytes").alias("c"), F.sum("raw_bytes").alias("r")).collect()[0]
    assert sums["c"] < sums["r"]


def test_staging_prunes_per_bucket_scan(spark, tmp_path):
    """The source is scanned once into a bucket-partitioned staging dir;
    each per-bucket read must hit a PartitionFilter (directory pruning),
    not a full re-scan — the scan-multiplication fix."""
    import os

    wh = str(tmp_path / "wh")
    run_job(job_args(warehouse=wh, run_id="r2"), spark=spark)
    staging = os.path.join(wh, "_staging", "r2")
    parts = {d for d in os.listdir(staging) if d.startswith("bucket=")}
    assert parts and parts <= {f"bucket={b}" for b in range(4)}
    plan = (
        spark.read.parquet(staging)
        .filter(F.col("bucket") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_global_scheduler_bit_identical(spark, tmp_path):
    """The default global scheduler (one partitioned job per stage,
    per-bucket manifest slicing) must produce byte-identical tier tables
    and the same per-(stage, bucket) lineage cardinality as the
    per-bucket thread-pool scheduler — including with gapfill + codec
    on, and with an empty bucket in play (6 convs over 8 buckets)."""
    wh_g, wh_p = str(tmp_path / "glob"), str(tmp_path / "perb")
    base = job_args(run_id="sched", buckets=8, codec_chunks=True)
    g = argparse.Namespace(**{**vars(base), "warehouse": wh_g, "scheduler": "global"})
    p = argparse.Namespace(
        **{**vars(base), "warehouse": wh_p, "scheduler": "per-bucket"}
    )
    stats_g = run_job(g, spark=spark)
    stats_p = run_job(p, spark=spark)
    assert stats_g["buckets_run"] == stats_p["buckets_run"] == 8
    assert stats_g["rows_out"] == stats_p["rows_out"]
    cat_g, cat_p = LocalSnapshotCatalog(wh_g), LocalSnapshotCatalog(wh_p)
    for tier in ("1m", "5m", "1h", "1d"):
        a = read_sorted(cat_g, spark, f"rollup_{tier}")
        b = read_sorted(cat_p, spark, f"rollup_{tier}")
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    lin_g = cat_g.read(spark, "lineage").toPandas()
    lin_p = cat_p.read(spark, "lineage").toPandas()
    key = ["stage", "partition_key", "rows_in", "rows_out", "checksum"]
    pd.testing.assert_frame_equal(
        lin_g[key].sort_values(key).reset_index(drop=True),
        lin_p[key].sort_values(key).reset_index(drop=True),
        check_exact=True,
    )
    # codec table identical blob-for-blob
    cg = cat_g.read(spark, "codec_chunks").toPandas().sort_values(
        ["conv_id", "chunk_start"]).reset_index(drop=True)
    cp = cat_p.read(spark, "codec_chunks").toPandas().sort_values(
        ["conv_id", "chunk_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(cg[sorted(cg.columns)], cp[sorted(cp.columns)])


def test_two_phase_overwrite_invisible_until_commit(spark, tmp_path):
    """Iceberg model: write_data_files runs the Spark job lock-free and
    its files stay invisible until commit_overwrite_partitions swaps the
    snapshot pointer; the committed result is identical to the one-shot
    overwrite_partitions (jobs/rollup_job.py writes tiers this way so
    concurrent bucket workers only serialize the O(manifest) swap)."""
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    base = spark.range(4).withColumnRenamed("id", "v")
    cat.overwrite_partitions("t", base, {"bucket": 0})

    staged = cat.write_data_files("t", spark.range(10, 13).withColumnRenamed("id", "v"), {"bucket": 0})
    assert len(staged) > 0
    # not yet visible: readers still see the bucket-0 files from snap 1
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [0, 1, 2, 3]

    snap = cat.commit_overwrite_partitions("t", staged, {"bucket": 0})
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [10, 11, 12]

    # other partitions survive a two-phase overwrite of bucket 0
    cat.overwrite_partitions("t", spark.range(20, 22).withColumnRenamed("id", "v"), {"bucket": 1})
    staged2 = cat.write_data_files("t", spark.range(30, 31).withColumnRenamed("id", "v"), {"bucket": 0})
    cat.commit_overwrite_partitions("t", staged2, {"bucket": 0})
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [20, 21, 30]
    assert snap >= 2


def test_rerun_under_shrunk_bucket_modulus_purges_stale_partitions(spark, tmp_path):
    """SHRINK direction (ADVICE r4 high): a warehouse written under 8
    buckets and rerun with 4 (reachable without user action: --buckets 0
    auto-sized the old default to 8, the new floor is 4) must not keep
    partitions bucket >= 4 from the old run — their conversations are
    re-bucketed into 0..3, so stale partitions mean silent duplicate
    rows. The job purges bucket >= N before any tier commit, and the
    result equals a fresh run at the new modulus."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    # fresh run at the new (smaller) modulus — the expected end state
    run_job(job_args(warehouse=wh_a, run_id="r1", buckets=4), spark=spark)

    # old run at 8, then rerun of the same warehouse+run-id at 4
    run_job(job_args(warehouse=wh_b, run_id="r1", buckets=8), spark=spark)
    rerun = run_job(job_args(warehouse=wh_b, run_id="r1", buckets=4), spark=spark)
    assert rerun["buckets_run"] == 4  # modulus-scoped keys rerun everything

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        # no duplicates: each (conv_id, bucket_start) appears exactly once
        assert not b.duplicated(subset=["conv_id", "bucket_start"]).any()
        pd.testing.assert_frame_equal(
            read_sorted(cat_a, spark, f"rollup_{tier}"), b, check_exact=True
        )


def test_resume_under_changed_bucket_modulus_reruns_everything(spark, tmp_path):
    """Bucket 3-of-4 and 3-of-8 hold different conversations: a resume
    whose bucket count differs from the killed run's (reachable without
    user action once --buckets 0 auto-sizes from a source that grew)
    must NOT skip bucket indices committed under the old modulus. The
    modulus-scoped lineage keys make the resume re-run all buckets, and
    the tiers come out identical to an uninterrupted run at the new
    modulus (tier writes are partition overwrites — idempotent)."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    stats = run_job(job_args(warehouse=wh_a, run_id="r1", buckets=8), spark=spark)
    assert stats["buckets_run"] == 8

    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(
            job_args(warehouse=wh_b, run_id="r1", buckets=4, fail_after_buckets=2),
            spark=spark,
        )
    resumed = run_job(job_args(warehouse=wh_b, run_id="r1", buckets=8), spark=spark)
    assert resumed["buckets_run"] == 8  # nothing skipped across the modulus change

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        a = read_sorted(cat_a, spark, f"rollup_{tier}")
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        pd.testing.assert_frame_equal(a, b, check_exact=True)


@pytest.mark.parametrize("codec_chunks", [False, True])
@pytest.mark.parametrize("scheduler", ["per-bucket", "global"])
def test_text_equality_violation_fails_before_commit(
    spark, tmp_path, monkeypatch, scheduler, codec_chunks
):
    """A gap-fill that loses a source turn must fail the job with an error
    naming the bucket, after the first data-file write and before any
    commit: no tier or codec snapshot and no rollup/codec lineage row.
    The job's default options run the check."""
    import jobs.rollup_job as rollup_job
    from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts

    victim = synth_transcripts(spark, 6).agg(F.min("conv_id")).first()[0]
    real_gapfill = rollup_job.gapfill

    def lossy_gapfill(df, **kw):
        # turn 0 is never a gap, so this drops one source turn
        out = real_gapfill(df, **kw)
        return out.filter(~((F.col("conv_id") == victim) & (F.col("turn_idx") == 0)))

    monkeypatch.setattr(rollup_job, "gapfill", lossy_gapfill)
    wh = str(tmp_path / "wh")
    args = job_args(
        warehouse=wh, run_id="bad", buckets=1,
        codec_chunks=codec_chunks, scheduler=scheduler,
    )
    with pytest.raises(RuntimeError, match="invariant violated") as err:
        run_job(args, spark=spark)
    counts = re.search(r"bucket 0: in=(\d+) rows, out=(\d+) rows", str(err.value))
    assert counts, str(err.value)
    n_in, n_out = map(int, counts.groups())
    assert n_out == n_in - 1

    cat = LocalSnapshotCatalog(wh)
    for table in ("rollup_1m", "rollup_5m", "rollup_1h", "rollup_1d", "codec_chunks"):
        assert cat.snapshots(table) == []
    lin = cat.read(spark, "lineage").toPandas()
    assert list(lin["stage"]) == ["stage_source"]

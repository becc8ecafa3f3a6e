"""Lineage/resume + retention + salted-rollup tests (SURVEY §5 item 4:
resume-after-kill == uninterrupted run; FIXTURES F5)."""

import argparse
import datetime as dt
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill
from biomed_timeseries_preprocessing_spark.operators.retention import (
    COMMIT_RETRIES,
    apply_retention,
)
from biomed_timeseries_preprocessing_spark.operators.rollup import (
    TIER_ORDER,
    rollup_cascade,
    rollup_from_turns,
)
from biomed_timeseries_preprocessing_spark.plans.skew import rollup_from_turns_salted
from biomed_timeseries_preprocessing_spark.sources.catalog import (
    CommitConflictError,
    LocalSnapshotCatalog,
)
import jobs.rollup_job as rollup_job
from jobs.rollup_job import run as run_job


def job_args(source, **kw):
    base = dict(
        source=source,
        warehouse=None,
        run_id="t",
        buckets=4,
        fail_after_buckets=0,
        codec_chunks=False,
    )
    base.update(kw)
    return argparse.Namespace(**base)


@pytest.fixture
def source(synth_lake):
    """The job's --source: a lake of 6 synth conversations."""
    return synth_lake(6)


#: bucket-group shapes the job can take: groups of 1 (the old per-bucket
#: scheduler), one group (the old global one) and an uneven split (8
#: buckets in groups of 3/3/2)
GROUP_SHAPES = {
    "per-bucket": lambda todo: [[b] for b in todo],
    "global": lambda todo: [todo],
    "uneven": lambda todo: [todo[i : i + 3] for i in range(0, len(todo), 3)],
}


@pytest.fixture
def use_groups(monkeypatch):
    """``use_groups(shape)``: the job splits its pending buckets into the
    groups of ``GROUP_SHAPES[shape]``, whatever its pool."""

    def use(shape):
        monkeypatch.setattr(
            rollup_job, "bucket_groups", lambda todo, workers: GROUP_SHAPES[shape](todo)
        )

    return use


def canon(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "bucket_start"], kind="mergesort")
        .reset_index(drop=True)
        .pipe(lambda d: d[sorted(d.columns)])
    )


def read_sorted(catalog, spark, table):
    return canon(catalog.read(spark, table))


def reference_tiers(spark, source):
    """The inline reference for the job's tier tables: the tier-by-tier
    cascade over the gap-filled, derived source."""
    return rollup_cascade(with_derived(gapfill(spark.read.parquet(source))))


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path, source):
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    # uninterrupted
    stats = run_job(job_args(source, warehouse=wh_a, run_id="r1"), spark=spark)
    assert stats["buckets_run"] == 4

    # killed after 2 buckets, then resumed
    staging = os.path.join(wh_b, "_staging", "r1")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(job_args(source, warehouse=wh_b, run_id="r1", fail_after_buckets=2), spark=spark)
    assert os.path.isdir(staging)  # the resume reads it
    resumed = run_job(job_args(source, warehouse=wh_b, run_id="r1"), spark=spark)
    assert resumed["buckets_run"] == 2  # only the pending buckets ran
    assert not os.path.exists(staging)  # every bucket committed: spent

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
    # the staging write counts what it stages (an observe, not a re-read)
    staged = lin[lin.stage == "stage_source"].iloc[0]
    assert staged.rows_in == staged.rows_out == spark.read.parquet(source).count()


def test_kill_hook_runs_its_buckets_in_the_pools_groups(spark, tmp_path, source, monkeypatch):
    """The kill hook stops a run; it does not schedule one. Killed after 5
    of 8 buckets, the run plans those 5 by the job's own rule on its
    4-worker pool, [0, 1] [2, 3] [4] concurrently, commits exactly them
    and keeps its staging; the resume then gives the tier tables and
    lineage of an uninterrupted run."""
    planned = []

    def spy(todo, workers, rule=rollup_job.bucket_groups):
        planned.append(rule(todo, workers))
        return planned[-1]

    monkeypatch.setattr(rollup_job, "bucket_groups", spy)
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_job(job_args(source, warehouse=wh_a, run_id="r1", buckets=8), spark=spark)

    staging = os.path.join(wh_b, "_staging", "r1")
    killed = job_args(source, warehouse=wh_b, run_id="r1", buckets=8, fail_after_buckets=5)
    with pytest.raises(RuntimeError, match=r"^injected failure before bucket 5 \(test hook\)$"):
        run_job(killed, spark=spark)
    assert planned[-1] == [[0, 1], [2, 3], [4]]
    assert os.path.isdir(staging)
    lin = LocalSnapshotCatalog(wh_b).read(spark, "lineage").toPandas()
    per_bucket = lin[lin.stage != "stage_source"]
    assert set(per_bucket.stage) == {"gapfill", *(f"rollup_{t}" for t in TIER_ORDER)}
    for stage, keys in per_bucket.groupby("stage").partition_key:
        assert sorted(keys) == [f"{b}/8" for b in range(5)], stage

    resumed = run_job(job_args(source, warehouse=wh_b, run_id="r1", buckets=8), spark=spark)
    assert resumed["buckets_run"] == 3
    assert planned[-1] == [[5], [6], [7]]
    assert not os.path.exists(staging)

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for t in TIER_ORDER:
        pd.testing.assert_frame_equal(
            read_sorted(cat_b, spark, f"rollup_{t}"),
            read_sorted(cat_a, spark, f"rollup_{t}"),
            check_exact=True,
        )
    key = ["stage", "partition_key", "rows_in", "rows_out", "checksum"]

    def lineage(cat):
        return cat.read(spark, "lineage").toPandas()[key].sort_values(key).reset_index(drop=True)

    pd.testing.assert_frame_equal(lineage(cat_b), lineage(cat_a), check_exact=True)


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


def test_retention_rewrite_rejects_a_commit_landing_mid_rewrite(spark, tmp_path, monkeypatch):
    """The retention rewrite reads snapshot N and commits its rewrite as
    the next snapshot. A partition commit landing in between must not be
    lost: the rewrite raises CommitConflictError and commits nothing, and
    a retry from the current snapshot keeps the new partition."""
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    for b in (0, 1):
        rows = spark.range(10 * b, 10 * b + 10).withColumnRenamed("id", "v")
        cat.overwrite_partitions("t", rows, {"bucket": b})
    late = spark.range(100, 103).withColumnRenamed("id", "v")
    late_files = cat.write_data_files("t", late, {"bucket": 2})
    real_mutex = cat._commit_mutex

    def racing_mutex(table):
        # the rewrite has read its snapshot and is about to commit: a
        # job's partition commit lands first
        if late_files:
            files = late_files.copy()
            late_files.clear()
            cat.commit_overwrite_partitions("t", files, {"bucket": 2})
        return real_mutex(table)

    monkeypatch.setattr(cat, "_commit_mutex", racing_mutex)
    with pytest.raises(CommitConflictError, match="retry from current"):
        cat.overwrite(spark, "t", F.col("v") >= 5)
    everything = list(range(20)) + [100, 101, 102]
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == everything
    monkeypatch.undo()
    assert cat.overwrite(spark, "t", F.col("v") >= 5) == 5
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == everything[5:]


def test_apply_retention_retries_a_tier_when_a_commit_lands_mid_rewrite(
    spark, tmp_path, monkeypatch
):
    """A nightly job's partition commit landing while ``apply_retention``
    rewrites a tier fails that rewrite's commit; the tier is rewritten
    again from the current snapshot, so the late partition survives and
    the expiry still applies. A commit landing before every try raises."""
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))

    def days(lo, hi):  # row v at day v
        return spark.range(lo, hi).selectExpr(
            "id AS v", "timestamp_seconds(1767225600 + id * 86400) AS bucket_start"
        )

    for b in (0, 1):
        cat.overwrite_partitions("rollup_1m", days(10 * b, 10 * b + 10), {"bucket": b})
    cutoff = cat.read(spark, "rollup_1m").filter("v = 5").first().bucket_start
    now, horizon = cutoff + dt.timedelta(days=7), {"1m": 7 * 86400}
    real_mutex = cat._commit_mutex
    job = LocalSnapshotCatalog(cat.warehouse)  # a nightly job's catalog
    late = []

    def racing_mutex(table):
        # the rewrite has read its snapshot and is about to commit: a
        # job's partition commit lands first
        if late:
            job.commit_overwrite_partitions("rollup_1m", late.pop(), {"bucket": 2})
        return real_mutex(table)

    monkeypatch.setattr(cat, "_commit_mutex", racing_mutex)
    late.append(cat.write_data_files("rollup_1m", days(100, 103), {"bucket": 2}))
    assert apply_retention(cat, spark, now, retention=horizon) == {"1m": 5}
    assert not late
    kept = sorted(r.v for r in cat.read(spark, "rollup_1m").collect())
    assert kept == list(range(5, 20)) + [100, 101, 102]

    # a commit lands before each of the 1 + COMMIT_RETRIES tries
    late.extend(
        cat.write_data_files("rollup_1m", days(100 + i, 101 + i), {"bucket": 2})
        for i in range(COMMIT_RETRIES + 1)
    )
    with pytest.raises(CommitConflictError, match="retry from current"):
        apply_retention(cat, spark, now + dt.timedelta(days=1), retention=horizon)
    assert not late


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


def test_retention_then_next_run_has_no_duplicate_rows(spark, tmp_path, source):
    """Retention rewrites the tiers; the next nightly run (a new run id)
    then re-commits every bucket as a partition overwrite. The rewrite
    must keep each file's bucket partition, or those overwrites leave the
    kept rows beside the recomputed ones. Every tier must end with one
    row per (conv_id, bucket_start), equal to a fresh single run, and no
    expired row may survive the rewrite of a file that spans the cutoff."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_job(job_args(source, warehouse=wh_a, run_id="n1", buckets=2), spark=spark)
    run_job(job_args(source, warehouse=wh_b, run_id="n1", buckets=2), spark=spark)

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

    run_job(job_args(source, warehouse=wh_b, run_id="n2", buckets=2), spark=spark)
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


def test_job_with_gapfill_and_codec(spark, tmp_path, source):
    """The job enforces the text-equality invariant and commits a gapfill
    lineage stage; --codec-chunks writes the compressed table."""
    args = job_args(
        source, warehouse=str(tmp_path / "wh"), run_id="g1", buckets=2, codec_chunks=True
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


def test_resubmitted_completed_run_stages_nothing(spark, tmp_path, source):
    """Re-submitting a run id whose buckets have all committed runs no
    bucket and writes no staged copy of the source."""
    wh = str(tmp_path / "wh")
    assert run_job(job_args(source, warehouse=wh, run_id="done"), spark=spark)["buckets_run"] == 4
    stats = run_job(job_args(source, warehouse=wh, run_id="done"), spark=spark)
    assert stats["buckets_run"] == 0
    assert not os.path.exists(os.path.join(wh, "_staging", "done"))
    lin = LocalSnapshotCatalog(wh).read(spark, "lineage").toPandas()
    assert len(lin[lin.stage == "stage_source"]) == 1  # staged by the first run only


def test_staging_prunes_per_bucket_scan(spark, tmp_path, source):
    """The source is scanned once into a bucket-partitioned staging dir;
    each per-bucket read must hit a PartitionFilter (directory pruning),
    not a full re-scan — the scan-multiplication fix."""
    wh = str(tmp_path / "wh")
    # killed after one bucket: a finished run deletes its staging
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(job_args(source, warehouse=wh, run_id="r2", fail_after_buckets=1), spark=spark)
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


def test_global_scheduler_bit_identical(spark, tmp_path, source, use_groups):
    """One group of every bucket (the old global scheduler's shape) and an
    uneven 3/3/2 split must write the same tier tables, codec blobs and
    per-(stage, bucket) lineage as groups of one bucket — with gapfill +
    codec on, and with empty buckets in play (6 convs over 8 buckets)."""

    def run(shape):
        wh = str(tmp_path / shape)
        use_groups(shape)
        stats = run_job(
            job_args(source, warehouse=wh, run_id="sched", buckets=8, codec_chunks=True),
            spark=spark,
        )
        assert stats["buckets_run"] == 8
        cat = LocalSnapshotCatalog(wh)
        lin = cat.read(spark, "lineage").toPandas()
        key = ["stage", "partition_key", "rows_in", "rows_out", "checksum"]
        codec = cat.read(spark, "codec_chunks").toPandas()
        return (
            stats["rows_out"],
            {t: read_sorted(cat, spark, f"rollup_{t}") for t in TIER_ORDER},
            lin[key].sort_values(key).reset_index(drop=True),
            codec.sort_values(["conv_id", "chunk_start"]).reset_index(drop=True)[
                sorted(codec.columns)
            ],
        )

    rows, tiers, lin, codec = run("per-bucket")
    for shape in ("global", "uneven"):
        rows_g, tiers_g, lin_g, codec_g = run(shape)
        assert rows_g == rows, shape
        for t in TIER_ORDER:
            pd.testing.assert_frame_equal(tiers_g[t], tiers[t], check_exact=True)
        pd.testing.assert_frame_equal(lin_g, lin, check_exact=True)
        # codec table identical blob-for-blob
        pd.testing.assert_frame_equal(codec_g, codec)


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


def test_rerun_under_shrunk_bucket_modulus_purges_stale_partitions(spark, tmp_path, source):
    """SHRINK direction (ADVICE r4 high): a warehouse written under 8
    buckets and rerun with 4 (reachable without user action: --buckets 0
    auto-sized the old default to 8, the new floor is 4) must not keep
    partitions bucket >= 4 from the old run — their conversations are
    re-bucketed into 0..3, so stale partitions mean silent duplicate
    rows. The job purges bucket >= N before any tier commit, and the
    result equals a fresh run at the new modulus."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    # fresh run at the new (smaller) modulus — the expected end state
    run_job(job_args(source, warehouse=wh_a, run_id="r1", buckets=4), spark=spark)

    # old run at 8, then rerun of the same warehouse+run-id at 4
    run_job(job_args(source, warehouse=wh_b, run_id="r1", buckets=8), spark=spark)
    rerun = run_job(job_args(source, warehouse=wh_b, run_id="r1", buckets=4), spark=spark)
    assert rerun["buckets_run"] == 4  # modulus-scoped keys rerun everything

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        # no duplicates: each (conv_id, bucket_start) appears exactly once
        assert not b.duplicated(subset=["conv_id", "bucket_start"]).any()
        pd.testing.assert_frame_equal(
            read_sorted(cat_a, spark, f"rollup_{tier}"), b, check_exact=True
        )


def test_resume_under_changed_bucket_modulus_reruns_everything(spark, tmp_path, source):
    """Bucket 3-of-4 and 3-of-8 hold different conversations: a resume
    whose bucket count differs from the killed run's (reachable without
    user action once --buckets 0 auto-sizes from a source that grew)
    must NOT skip bucket indices committed under the old modulus. The
    modulus-scoped lineage keys make the resume re-run all buckets, and
    the tiers come out identical to an uninterrupted run at the new
    modulus (tier writes are partition overwrites — idempotent)."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    stats = run_job(job_args(source, warehouse=wh_a, run_id="r1", buckets=8), spark=spark)
    assert stats["buckets_run"] == 8

    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(
            job_args(source, warehouse=wh_b, run_id="r1", buckets=4, fail_after_buckets=2),
            spark=spark,
        )
    resumed = run_job(job_args(source, warehouse=wh_b, run_id="r1", buckets=8), spark=spark)
    assert resumed["buckets_run"] == 8  # nothing skipped across the modulus change

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        a = read_sorted(cat_a, spark, f"rollup_{tier}")
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        pd.testing.assert_frame_equal(a, b, check_exact=True)


@pytest.mark.parametrize("codec_chunks", [False, True])
@pytest.mark.parametrize("shape", ["per-bucket", "global"])
def test_text_equality_violation_fails_before_commit(
    spark, tmp_path, monkeypatch, source, use_groups, shape, codec_chunks
):
    """A gap-fill that loses a source turn must fail the job with an error
    naming the bucket, after the first data-file write and before any
    commit: no tier or codec snapshot and no rollup/codec lineage row.
    The job's default options run the check."""
    victim = spark.read.parquet(source).agg(F.min("conv_id")).first()[0]
    real_gapfill = rollup_job.gapfill

    def lossy_gapfill(df, **kw):
        # turn 0 is never a gap, so this drops one source turn
        out = real_gapfill(df, **kw)
        return out.filter(~((F.col("conv_id") == victim) & (F.col("turn_idx") == 0)))

    monkeypatch.setattr(rollup_job, "gapfill", lossy_gapfill)
    use_groups(shape)
    wh = str(tmp_path / "wh")
    args = job_args(source, warehouse=wh, run_id="bad", buckets=1, codec_chunks=codec_chunks)
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


def test_text_equality_violation_names_only_its_bucket_in_a_group(
    spark, tmp_path, monkeypatch, source, use_groups
):
    """One group of four buckets, a turn lost in exactly one of them: the
    error names that bucket alone, with its in/out row counts, and no
    bucket of the group commits anything."""
    from biomed_timeseries_preprocessing_spark.plans.lineage import bucket_of

    convs = spark.read.parquet(source).select(
        "conv_id", bucket_of(F.col("conv_id"), 4).alias("b")
    ).distinct().collect()
    victim, bad = min((r.conv_id, r.b) for r in convs)
    assert len({r.b for r in convs}) > 1  # other buckets of the group hold rows
    real_gapfill = rollup_job.gapfill

    def lossy_gapfill(df, **kw):
        out = real_gapfill(df, **kw)
        return out.filter(~((F.col("conv_id") == victim) & (F.col("turn_idx") == 0)))

    monkeypatch.setattr(rollup_job, "gapfill", lossy_gapfill)
    use_groups("global")
    wh = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="invariant violated") as err:
        run_job(job_args(source, warehouse=wh, run_id="bad", buckets=4), spark=spark)
    msg = str(err.value)
    assert f"bucket(s) [{bad}]" in msg, msg
    counts = re.findall(r"bucket (\d+): in=(\d+) rows, out=(\d+) rows", msg)
    assert [int(b) for b, _, _ in counts] == [bad], msg
    (_, n_in, n_out), = counts
    assert int(n_out) == int(n_in) - 1
    n_bad = spark.read.parquet(source).filter(bucket_of(F.col("conv_id"), 4) == bad).count()
    assert int(n_in) == n_bad

    cat = LocalSnapshotCatalog(wh)
    for table in ("rollup_1m", "rollup_5m", "rollup_1h", "rollup_1d"):
        assert cat.snapshots(table) == []
    assert list(cat.read(spark, "lineage").toPandas()["stage"]) == ["stage_source"]


@pytest.mark.parametrize("shape", ["per-bucket", "global", "uneven"])
def test_failed_tier_write_commits_no_codec_snapshot(
    spark, tmp_path, monkeypatch, source, use_groups, shape
):
    """The codec archive commits with the tiers, after every write: a tier
    write that raises leaves no codec_chunks snapshot and no lineage row
    for any bucket."""
    real_write = LocalSnapshotCatalog.write_data_files

    def failing_write(self, table, *a, **k):
        if table == "rollup_1m":
            raise OSError("injected rollup_1m write failure")
        return real_write(self, table, *a, **k)

    monkeypatch.setattr(LocalSnapshotCatalog, "write_data_files", failing_write)
    use_groups(shape)
    wh = str(tmp_path / "wh")
    with pytest.raises(OSError, match="injected rollup_1m write failure"):
        run_job(job_args(source, warehouse=wh, run_id="w", codec_chunks=True), spark=spark)
    cat = LocalSnapshotCatalog(wh)
    assert cat.snapshots("codec_chunks") == []
    assert list(cat.read(spark, "lineage").toPandas()["stage"]) == ["stage_source"]


@pytest.mark.parametrize("shape", ["per-bucket", "global", "uneven"])
def test_job_tiers_equal_inline_cascade(spark, tmp_path, source, use_groups, shape):
    """Every tier table the job commits equals the inline reference
    ``rollup_cascade(with_derived(gapfill(src)))`` exactly, column for
    column, whatever its bucket groups and with the codec on (a second
    consumer of the derived frame)."""
    wh = str(tmp_path / "wh")
    use_groups(shape)
    run_job(job_args(source, warehouse=wh, run_id="ref", codec_chunks=True), spark=spark)
    cat = LocalSnapshotCatalog(wh)
    ref = reference_tiers(spark, source)
    for tier in TIER_ORDER:
        assert cat.read(spark, f"rollup_{tier}").columns == ref[tier].columns
        pd.testing.assert_frame_equal(
            read_sorted(cat, spark, f"rollup_{tier}"), canon(ref[tier]), check_exact=True
        )


@pytest.mark.parametrize("shape", ["per-bucket", "global", "uneven"])
def test_empty_bucket_commits_a_schema_only_file_per_tier(
    spark, tmp_path, synth_lake, use_groups, shape
):
    """One conversation over four buckets leaves three buckets without
    rows. Each of them still commits one file to every tier table, with no
    rows and all of the tier's columns, so every tier table stays readable
    with its columns whichever buckets hold rows."""
    wh = str(tmp_path / "wh")
    use_groups(shape)
    run_job(job_args(synth_lake(1), warehouse=wh, run_id="e", buckets=4), spark=spark)
    cat = LocalSnapshotCatalog(wh)
    ref = reference_tiers(spark, synth_lake(1))
    for tier in TIER_ORDER:
        paths: dict[int, list[str]] = {}
        for f in cat.snapshots(f"rollup_{tier}")[-1]["files"]:
            paths.setdefault(f["partition"]["bucket"], []).append(f["path"])
        assert sorted(paths) == [0, 1, 2, 3], tier
        parts = [spark.read.parquet(*ps) for ps in paths.values()]
        assert all(p.columns == ref[tier].columns for p in parts), tier
        assert sorted(p.count() for p in parts) == [0, 0, 0, ref[tier].count()], tier


def test_tier_frame_plans_one_exchange_and_no_read_back(
    spark, tmp_path, monkeypatch, source, use_groups
):
    """Per bucket, all four tiers are ONE data-file write, and the frame
    it writes plans exactly one Exchange, the gap-fill's conv_id shuffle,
    and scans no file but the staged source: no tier brings back its own
    shuffle or a read-back of the tier below."""
    writes = []
    real_write = LocalSnapshotCatalog.write_data_files

    def spy(self, table, df, *a, **k):
        writes.append((table, df))
        return real_write(self, table, df, *a, **k)

    monkeypatch.setattr(LocalSnapshotCatalog, "write_data_files", spy)
    wh = str(tmp_path / "wh")
    # 6 conversations over 3 buckets: every bucket holds rows
    use_groups("per-bucket")
    run_job(job_args(source, warehouse=wh, run_id="shape", buckets=3), spark=spark)
    assert [t for t, _ in writes] == ["rollup_1m"] * 3
    for _, df in writes:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.findall(r"Exchange (\w+)\((\w+)", plan) == [("hashpartitioning", "conv_id")], plan
        # the one scan is the staged source, pruned to its bucket directory
        assert plan.count("FileScan") == 1, plan
        assert "(bucket#" in plan.split("PartitionFilters")[1][:120], plan

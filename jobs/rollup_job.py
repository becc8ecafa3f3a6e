"""Resumable tiered-rollup job — the spark-submit entrypoint.

Run:
  spark-submit --master yarn \
      --py-files biomed_timeseries_preprocessing_spark.zip jobs/rollup_job.py \
      --source /path/to/transcripts_parquet --warehouse /path/to/wh \
      --run-id nightly-2026-08-16 --buckets 16

The job runs on the master spark-submit gives it (``--master``; a plain
``python jobs/rollup_job.py`` runs on ``local[$SPARK_GRAFT_CPUS]``), and
``--source`` is required.

Work is partitioned into ``--buckets`` conv_id hash-buckets. The source
is scanned ONCE: a staging write materializes it bucket-partitioned
(``_staging/<run-id>/bucket=N/``), so every subsequent per-bucket read
prunes to its own partition directory instead of re-scanning the input
(the Iceberg analog is writing the ingest table with a
``bucket(conv_id, N)`` partition transform). The staged copy is deleted
once every bucket has committed; a killed run keeps it for its resume.
Per bucket: gap-fill of missing turns → derive → every data file
written (the codec archive, then all four tiers (1m, 5m, 1h, 1d) by ONE
Spark job, each tier's rows in its own directory) → ONE check of the
per-turn text-equality invariant (the job fails before any commit of a
bucket that violates it) → dynamic-partition-overwrite commit of each
table + ONE batched lineage commit carrying all of the bucket's stage
rows.
``rollup_merge(tier_1m, TIER_ORDER)`` merges the 1m aggregate into every
tier inside the plan; the gap-fill's conv_id exchange already groups
every tier, so no tier adds a shuffle, and no tier is read back from the
files of the tier below. A killed job re-submitted with the same
--run-id resumes from the last committed snapshot: already committed
(stage, bucket) pairs are skipped (anti-join against lineage), and the
half-written bucket is safely re-committed because tier writes are
partition *overwrites* (idempotent), not appends.

One plan, two commit slicings (same commits, same lineage,
bit-identical tables). ``_run_plan`` builds the whole job once — narrow
projection and gap-fill, the text-equality check, derive, the codec
archive, the fused tier write — and the two
schedulers differ only in which staged buckets it selects, how it writes
data files, and how the commits are sliced. ``resolve_scheduler`` picks
one from the master. On a single-JVM local master, ``per-bucket`` runs
the plan once per bucket in a thread pool — the Spark-shaped version of
the reference's per-patient joblib loop (``File_Struct.py:576-579``)
with the two things it lacks, atomic commits and resume; stages of
different buckets overlap, which wins on one JVM
(BENCH/ab_scheduler.json). On a multi-executor master, ``global`` runs
the plan once over every pending bucket — ONE partitionBy(bucket) Spark
job per stage, its output sliced per bucket directory for independent
commits — the shape that wins there once buckets outnumber the pool
(BENCH/ab_scheduler_local_cluster.json).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biomed_timeseries_preprocessing_spark.functions.codec import encode_chunks  # noqa: E402
from biomed_timeseries_preprocessing_spark.operators.derive import (  # noqa: E402
    token_count_col,
    with_derived,
)
from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill  # noqa: E402
from biomed_timeseries_preprocessing_spark.operators.rollup import (  # noqa: E402
    TIER_ORDER,
    rollup_from_turns,
    rollup_merge,
)
from biomed_timeseries_preprocessing_spark.plans.lineage import (  # noqa: E402
    LineageLog,
    LineageRow,
    attach_audit,
    bucket_of,
    codec_audit,
    gapfill_in_audit,
    gapfill_out_audit,
    grouped_audit,
    pending_buckets,
    read_audit,
    tier_audit,
)
from biomed_timeseries_preprocessing_spark.session import engine_cores, get_spark  # noqa: E402
from biomed_timeseries_preprocessing_spark.sources.catalog import get_catalog  # noqa: E402
from biomed_timeseries_preprocessing_spark.sources.ingest import (  # noqa: E402
    text_equality_violations,
)


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--source", required=True, help="transcripts parquet path")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument(
        "--buckets",
        type=int,
        default=0,
        help="resume/commit units, each gap-filled, checked against the "
        "text-equality invariant and committed on its own (0 = auto: one "
        "per ~512 MB of source, floor 4, cap 4096). Interleaved A/Bs at "
        "0.8M and 8.6M turns "
        "both put 4 buckets ~1.3x faster than 8 and ~1.9x faster than "
        "16 on one box — extra buckets are pure per-pipeline fixed "
        "cost until the lake is big enough to need the resume "
        "granularity, so the count scales with bytes, not a constant.",
    )
    # accepted and ignored: gap-fill always runs, and submit scripts pass it
    p.add_argument("--gapfill", action="store_true", help=argparse.SUPPRESS)
    p.add_argument(
        "--codec-chunks",
        action="store_true",
        help="also write compressed per-(conv, hour) blobs (codec table)",
    )
    p.add_argument(
        "--fail-after-buckets",
        type=int,
        default=0,
        help="test hook: simulate a kill after N buckets committed",
    )
    return p.parse_args(argv)


def resolve_scheduler(master: str) -> str:
    """Pick the bucket scheduler for the deployment shape.

    'per-bucket' on a single-JVM local master (local / local[n] /
    local[*]), where overlapping independent bucket pipelines beat the
    global barrier plan (BENCH/ab_scheduler.json, 4-vCPU VM: median 8.15
    vs 12.05 s at local[4], 16 buckets, 327k turns); 'global' on any
    multi-executor master (yarn, spark://, k8s://, local-cluster), where
    one partitionBy(bucket) job per stage fills a wide cluster once
    buckets outnumber the driver pool. On local-cluster[2,2,2048]
    (BENCH/ab_scheduler_local_cluster.json) 'global' wins at 32 buckets
    (13.89 vs 16.41 s), ties at 16 and loses at 4 (6.18 vs 4.15 s), so a
    few-bucket cluster run takes the slower shape; a bucket-count rule
    waits for a cluster workload in the benchmark. Both schedulers
    produce bit-identical tables and lineage
    (BENCH/scheduler_identity_scale.json, proven at 54M turns), so the
    choice is purely a throughput decision."""
    is_local = master == "local" or (
        master.startswith("local[") and not master.startswith("local-cluster")
    )
    return "per-bucket" if is_local else "global"


def auto_buckets(spark, source: str, target_bytes: int = 512 << 20) -> int:
    """Size the bucket count from the source: ~one resume/commit unit
    per 512 MB of input, floor 4, cap 4096. Uses the Hadoop FileSystem
    ContentSummary so any scheme the session can read also sizes; a
    sizing failure falls back to the floor."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(source)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        size = fs.getContentSummary(jpath).getLength()
    except Exception:
        return 4
    return int(min(4096, max(4, -(-size // target_bytes))))


def run(args, spark=None) -> dict:
    own_spark = spark is None
    if own_spark:
        spark = get_spark(app_name=f"rollup-{args.run_id}")
    if args.buckets <= 0:
        args.buckets = auto_buckets(spark, args.source)
    catalog = get_catalog(args.warehouse)
    log = LineageLog(catalog)

    bcol = bucket_of(F.col("conv_id"), args.buckets)
    all_buckets = list(range(args.buckets))

    def bkey(b: int) -> str:
        # modulus-scoped lineage key: bucket 3-of-8 and 3-of-4 hold
        # different conversations (see pending_buckets docstring)
        return f"{b}/{args.buckets}"

    # a bucket counts as done when its deepest tier committed
    todo = pending_buckets(
        log, args.run_id, f"rollup_{TIER_ORDER[-1]}", all_buckets, args.buckets
    )

    # ------------------------------------------------ stage source ONCE
    # bucket-partitioned staging write: the only full scan of the input.
    # Every per-bucket read below prunes to one partition directory. It
    # lives until every bucket has committed (a killed run keeps it for
    # its resume); a run with nothing pending stages nothing.
    staging = os.path.join(args.warehouse, "_staging", args.run_id)
    # the stage marker encodes the bucket modulus: re-running the same
    # --run-id with a different --buckets must re-stage (staging written
    # under the old modulus would silently mismatch every per-bucket
    # read, lineage key, and skew stat below)
    stage_key = f"all/{args.buckets}"
    staged_keys = log.committed(args.run_id, "stage_source")
    stage_done = stage_key in staged_keys and os.path.isdir(staging)
    if todo and not stage_done:
        t0 = time.time()
        spark.read.parquet(args.source).withColumn("bucket", bcol).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(staging)
        n_staged = spark.read.parquet(staging).count()  # footer metadata only
        staged_row = LineageRow(
            run_id=args.run_id,
            stage="stage_source",
            partition_key=stage_key,
            rows_in=n_staged,
            rows_out=n_staged,
            min_ts=None,
            max_ts=None,
            checksum=0,
            wall_ms=int((time.time() - t0) * 1000),
        )
        log.commit_many(args.run_id, [staged_row])
    if todo:
        staged = spark.read.parquet(staging)

    stats = {
        "master": spark.sparkContext.master,
        "buckets_total": len(all_buckets),
        "buckets_run": 0,
        "rows_out": 0,
    }
    # Purge partitions left over from a LARGER bucket modulus before any
    # tier commit: lineage keys are modulus-scoped, so a shrink (e.g.
    # auto-sizing 8 -> 4 on a warehouse written under the old default)
    # reruns every bucket 0..N-1 — but commit_overwrite_partitions only
    # replaces matching {bucket: b} partitions, so bucket >= N would keep
    # the old run's rows while their conversations are re-bucketed into
    # 0..N-1 (silent duplicates). Only tables THIS run rewrites are
    # purged (a table the run doesn't touch keeps its old, internally
    # consistent snapshot); metadata-only, and a no-op snapshot is
    # skipped when no stale partition exists (the common case).
    for stale_table in [f"rollup_{t}" for t in TIER_ORDER] + (
        ["codec_chunks"] if args.codec_chunks else []
    ):
        n_purged = catalog.delete_files_where(
            stale_table, lambda p: int(p.get("bucket", -1)) >= args.buckets
        )
        if n_purged:
            print(
                f"purged {n_purged} stale data files (bucket >= {args.buckets}) "
                f"from {stale_table} — prior run used a larger bucket modulus"
            )
    commit_lock = threading.Lock()  # snapshot catalog + lineage are
    # last-writer-wins files; commits must serialize. Compute does not:
    # buckets are independent Spark jobs and the scheduler interleaves
    # their tasks, so a small thread pool keeps all cores busy while one
    # bucket sits in its (short, locked) commit section.

    # partitionBy copy of ``tier``: the fused tier write splits its rows
    # per tier directory, and the data files keep their tier column
    TIER_DIR = "tier_dir"

    def _run_plan(buckets: list[int], grouped: bool) -> None:
        """The job plan over ``buckets``, committed per bucket.

        Both schedulers run this plan; ``grouped`` only picks how data
        files are written and how audits are read. Per-bucket
        (``grouped=False``, one bucket): one write per stage, and each
        audit rides the job it audits as an ``observe()``. Global
        (``grouped=True``, every pending bucket): ONE partitionBy(bucket)
        write per stage, sliced per bucket directory for the commits, and
        each audit is one groupBy(bucket) aggregate."""
        t0 = time.time()
        lineage: dict[int, list[LineageRow]] = {b: [] for b in buckets}
        persisted = []
        tier_rows = 0

        def row(b, stage, rows_in, rows_out, min_ts=None, max_ts=None, checksum=0):
            lineage[b].append(
                LineageRow(
                    run_id=args.run_id,
                    stage=stage,
                    partition_key=bkey(b),
                    rows_in=rows_in,
                    rows_out=rows_out,
                    min_ts=min_ts,
                    max_ts=max_ts,
                    checksum=checksum,
                    wall_ms=int((time.time() - t0) * 1000),
                )
            )

        def tap(df, exprs):
            """(frame to run on, reader of its audit per bucket)."""
            if grouped:
                return df, lambda: grouped_audit(df, [bcol], exprs, buckets)
            df, obs = attach_audit(df, exprs)
            return df, lambda: {buckets[0]: read_audit(obs)}

        def write(table, df, split=()):
            """Write ``df``'s data files lock-free (Iceberg model: files in
            an uninstalled uuid dir are invisible; only the snapshot swap
            serializes) in ONE Spark job → files per (bucket, *split
            values), the rows of each ``split`` value in their own
            directory."""
            if grouped:
                # bucket innermost: one task repeats a part-file name in
                # every bucket directory it writes, and the retention
                # rewrite keys a file by its last two path components
                got = catalog.write_data_files(
                    table, df.withColumn("bucket", bcol), None, [*split, "bucket"]
                )
                return {
                    (k[-1], *k[:-1]): [dict(f, partition={"bucket": k[-1]}) for f in fs]
                    for k, fs in got.items()
                }
            (b,) = buckets
            if not split:
                return {(b,): catalog.write_data_files(table, df, {"bucket": b})}
            got = catalog.write_data_files(table, df, {"bucket": b}, split)
            return {(b, *k): fs for k, fs in got.items()}

        def audit_back(files, df, by, exprs, keys):
            """Global audit: ONE groupBy over the (tiny) files just written."""
            paths = [f["path"] for fs in files.values() for f in fs]
            back = spark.read.parquet(*paths) if paths else df.limit(0)
            return grouped_audit(back, by, exprs, keys)

        def commit(table, files, *split):
            with commit_lock:
                for b in buckets:
                    catalog.commit_overwrite_partitions(
                        table, files.get((b, *split), []), {"bucket": b}
                    )

        part = staged.filter(F.col("bucket").isin(buckets)).drop("bucket")

        def check_gapfill(ins, outs) -> dict[int, int]:
            """Validate the text-equality invariant from the source
            (``ins``) and gap-filled (``outs``) audits per bucket, after
            every data-file write and BEFORE any commit. Returns the
            derived row count per bucket (every tier's rows_in)."""
            kept = {b: outs[b]["n"] - outs[b]["nf"] for b in buckets}
            bad = [
                b
                for b in buckets
                if kept[b] != ins[b]["n_in"] or outs[b]["c_out"] != ins[b]["c_in"]
            ]
            if bad:
                src = staged.filter(F.col("bucket").isin(bad)).drop("bucket")
                nv = text_equality_violations(
                    src, gapfill(src).filter(~F.col("is_gap_filled"))
                ).count()
                counts = "; ".join(
                    f"bucket {b}: in={ins[b]['n_in']} rows, out={kept[b]} rows"
                    for b in bad
                )
                raise RuntimeError(
                    f"text-equality invariant violated in bucket(s) {bad} "
                    f"({nv} differing turns; {counts}) — refusing to commit "
                    f"(input_hint contract)"
                )
            for b in buckets:
                row(b, "gapfill", kept[b], outs[b]["nf"])
            # with_derived is row-preserving, so the filled count already
            # IS the derived row count — no extra action
            return {b: outs[b]["n"] for b in buckets}

        try:
            # narrow-shuffle plan (guide §2.3): token_count and the
            # invariant hash are computed map-side from text BEFORE the
            # gap-fill exchange and the text payload is DROPPED — only
            # ~40 B/row crosses the shuffle instead of the raw text; gap
            # rows get token_count=0, exactly what derive computes from
            # their "" fill text. The text-equality invariant is an
            # order-independent multiset checksum (count + Σ xxhash64(conv,
            # turn, text)) of the source rows against the non-gap output
            # rows: equal multisets ⇒ equal (count, Σ), and the carried
            # hash keeps its power against row loss, duplication and
            # misrouting (no text is left in flight to corrupt). The
            # precise row-listing join runs only on the failure path.
            narrow = part.select(
                "conv_id",
                "turn_idx",
                "role",
                "tool",
                "ts",
                token_count_col().alias("token_count"),
                F.xxhash64("conv_id", "turn_idx", "text").alias("_th"),
            )
            src, read_in = tap(narrow, gapfill_in_audit())
            filled = gapfill(src, carry={"token_count": 0, "_th": None})
            if grouped:  # its audit is a second consumer
                filled = filled.persist()
                persisted.append(filled)
            filled, read_out = tap(filled, gapfill_out_audit())
            # derived is persisted ONLY when a second consumer (codec)
            # exists; otherwise the tier write is its sole consumer and
            # caching it just adds reduce-side serialization to the
            # heaviest stage (BENCH/BASELINE.md round-4 read-back note)
            derived = with_derived(filled.drop("is_gap_filled", "_th"))
            if args.codec_chunks:
                derived = derived.persist()
                persisted.append(derived)
                enc = encode_chunks(derived)
                if not grouped:
                    enc, obs = attach_audit(enc, codec_audit())
                codec_files = write("codec_chunks", enc)
                codec = (
                    audit_back(codec_files, enc, [bcol], codec_audit(), buckets)
                    if grouped
                    else {buckets[0]: read_audit(obs)}
                )
            # all four tiers in ONE Spark job: the 1m aggregate is merged
            # into every tier inside the plan, with no shuffle beyond the
            # gap-fill's conv_id exchange, and the write splits the rows
            # per tier directory. Like every data-file write it runs
            # lock-free (holding the commit lock across writes serialized
            # all buckets — BENCH/BASELINE.md round-4 commit-path note);
            # only the O(manifest) snapshot swaps take the lock. It is the
            # 1m table's write; each tier's slice commits to its own table.
            tiers = rollup_merge(rollup_from_turns(derived, TIER_ORDER[0]), TIER_ORDER)
            out = tiers.withColumn(TIER_DIR, F.col("tier"))
            cols = ["conv_id", "bucket_start", "cnt", "sum_tokens"]
            if not grouped:  # one observe: a struct of audits per tier
                out, tier_obs = attach_audit(
                    out,
                    [
                        F.struct(*tier_audit(cols, "bucket_start", f"tier = '{t}'")).alias(t)
                        for t in TIER_ORDER
                    ],
                )
            files = write(f"rollup_{TIER_ORDER[0]}", out, [TIER_DIR])
            keys = [(b, t) for b in buckets for t in TIER_ORDER]
            audit = (
                audit_back(
                    files, tiers, [bcol, F.col("tier")], tier_audit(cols, "bucket_start"), keys
                )
                if grouped
                else {(buckets[0], t): read_audit(r.asDict()) for t, r in tier_obs.get.items()}
            )
            for b, t in keys:
                if not files.get((b, t)):
                    # a bucket with no rows: a schema-only file keeps the
                    # tier table readable with its columns
                    files[(b, t)] = catalog.write_data_files(
                        f"rollup_{t}", tiers.limit(0), {"bucket": b}
                    )
            # every data file is written: the one check, then the commits
            # (per-bucket, the gap-fill audits rode the first write)
            rows_in = check_gapfill(read_in(), read_out())
            if args.codec_chunks:
                commit("codec_chunks", codec_files)
                for b in buckets:
                    row(b, "codec_chunks", codec[b]["pts"], codec[b]["blobs"])
            for tier in TIER_ORDER:
                commit(f"rollup_{tier}", files, tier)
                for b in buckets:
                    a = audit[(b, tier)]
                    row(b, f"rollup_{tier}", rows_in[b], a["n"], a["lo"], a["hi"], a["c"])
                    tier_rows += a["n"]
        finally:
            # unpersist even when the plan raises (e.g. text-equality
            # violation): with a thread pool, other workers keep running
            # while the failure propagates
            for p in persisted:
                p.unpersist()
        # lineage stays atomic PER BUCKET: a bucket is either fully
        # recorded (deepest tier present → resume skips it) or not at all
        with commit_lock:
            for b in buckets:
                log.commit_many(args.run_id, lineage[b])
            stats["rows_out"] += tier_rows
            stats["buckets_run"] += len(buckets)

    def _run_bucket(i: int, b: int) -> None:
        if args.fail_after_buckets and i >= args.fail_after_buckets:
            raise RuntimeError(f"injected failure before bucket {b} (test hook)")
        _run_plan([b], grouped=False)

    scheduler = resolve_scheduler(spark.sparkContext.master)
    per_bucket = scheduler == "per-bucket" or bool(args.fail_after_buckets)
    if todo and not per_bucket:
        _run_plan(todo, grouped=True)
    elif todo:
        # bucket compute runs in a small thread pool (concurrent Spark
        # jobs — the cluster scheduler fills slot gaps one bucket's stage
        # barriers leave); the test kill-hook forces sequential so "fail
        # after N buckets committed" stays deterministic
        # pool size scales with the session's cores: 8 workers beat 4
        # by ~14% on every rep at 32 cores (concurrent bucket pipelines
        # fill the slot gaps each bucket's stage barriers leave) and tied
        # at 8 cores — BENCH/ab_workers.json
        workers = min(len(todo), max(4, engine_cores(spark) // 4))
        if args.fail_after_buckets:
            workers = 1
        if workers <= 1:
            for i, b in enumerate(todo):
                _run_bucket(i, b)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=workers) as pool:
                list(pool.map(_run_bucket, range(len(todo)), todo))
    # every bucket has committed: the staged copy of the source is spent
    shutil.rmtree(staging, ignore_errors=True)
    if own_spark:
        spark.stop()
    return stats


if __name__ == "__main__":
    print(run(parse_args()))

"""Resumable tiered-rollup job — the spark-submit entrypoint.

Run:
  spark-submit --py-files biomed_timeseries_preprocessing_spark.zip jobs/rollup_job.py \
      --source /path/to/transcripts_parquet --warehouse /path/to/wh \
      --run-id nightly-2026-08-16 --buckets 16

Work is partitioned into ``--buckets`` conv_id hash-buckets. The source
is scanned ONCE: a staging write materializes it bucket-partitioned
(``_staging/<run-id>/bucket=N/``), so every subsequent per-bucket read
prunes to its own partition directory instead of re-scanning the input
(the Iceberg analog is writing the ingest table with a
``bucket(conv_id, N)`` partition transform). Per bucket: derive →
1m→5m→1h→1d cascade → dynamic-partition-overwrite commit of each tier +
ONE batched lineage commit carrying all of the bucket's stage rows. A
killed job re-submitted with the same --run-id resumes from the last
committed snapshot: already committed (stage, bucket) pairs are skipped
(anti-join against lineage), and the half-written bucket is safely
re-committed because tier writes are partition *overwrites*
(idempotent), not appends.

One plan, two commit slicings (same commits, same lineage,
bit-identical tables). ``_run_plan`` builds the whole job once — narrow
projection and gap-fill, the text-equality check, derive, the codec
archive, the tier cascade with read-back chaining — and the two
schedulers differ only in which staged buckets it selects, how it writes
data files, and how the commits are sliced:
``--scheduler per-bucket`` runs the plan once per bucket in a thread
pool — the Spark-shaped version of the reference's per-patient joblib
loop (``File_Struct.py:576-579``) with the two things it lacks, atomic
commits and resume; stages of different buckets overlap, which wins on
one JVM (BENCH/ab_scheduler.json). ``--scheduler global`` runs the plan
once over every pending bucket — ONE partitionBy(bucket) Spark job per
stage, its output sliced per bucket directory for independent commits —
the shape that wins on a multi-executor master once buckets outnumber
the pool (BENCH/ab_scheduler_local_cluster.json).
"""

from __future__ import annotations

import argparse
import os
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
from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--source", help="transcripts parquet path (else --synth-convs)")
    p.add_argument("--synth-convs", type=int, default=0)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument(
        "--buckets",
        type=int,
        default=0,
        help="resume/commit units (0 = auto: one per ~512 MB of source, "
        "floor 4, cap 4096). Interleaved A/Bs at 0.8M and 8.6M turns "
        "both put 4 buckets ~1.3x faster than 8 and ~1.9x faster than "
        "16 on one box — extra buckets are pure per-pipeline fixed "
        "cost until the lake is big enough to need the resume "
        "granularity, so the count scales with bytes, not a constant.",
    )
    p.add_argument("--tiers", default=",".join(TIER_ORDER))
    p.add_argument("--master", default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--gapfill",
        action="store_true",
        help="materialize+fill missing turns before derive; enforces the "
        "per-turn text-equality invariant (job fails loudly on violation)",
    )
    p.add_argument(
        "--codec-chunks",
        action="store_true",
        help="also write compressed per-(conv, hour) blobs (codec table)",
    )
    p.add_argument(
        "--bucket-parallelism",
        type=int,
        default=0,
        help="per-bucket scheduler only: concurrent bucket pipelines "
        "(0 = auto: min(buckets, max(4, cores//4)) — 8 beat 4 by ~14% "
        "every rep at 32 cores, a wash at 8; BENCH/ab_workers.json); "
        "commits serialize under a lock "
        "either way. Setting this implies --scheduler per-bucket.",
    )
    p.add_argument(
        "--scheduler",
        choices=["auto", "per-bucket", "global"],
        default="auto",
        help="'auto' (default): per-bucket on a single-JVM local master, "
        "global on a multi-executor cluster master — see "
        "resolve_scheduler. 'per-bucket': independent pipeline per "
        "bucket in a thread pool — stages of different buckets overlap, "
        "which measured 10-15%% faster than the global barrier plan on "
        "one box (BENCH/ab_scheduler.json) and gives small failure/retry "
        "domains. 'global': ONE partitioned Spark job per stage over "
        "all pending buckets, per-bucket commit atomicity kept by "
        "slicing the partitionBy(bucket) output per directory "
        "(Iceberg's model) — the shape that trivially saturates a "
        "wide cluster when bucket count >> pool size.",
    )
    p.add_argument(
        "--fail-after-buckets",
        type=int,
        default=0,
        help="test hook: simulate a kill after N buckets committed",
    )
    return p.parse_args(argv)


def resolve_scheduler(master: str, choice: str = "auto") -> str:
    """Pick the bucket scheduler for the deployment shape (VERDICT r4 #4).

    'auto' → 'per-bucket' on a single-JVM local master (local / local[n] /
    local[*]), where overlapping independent bucket pipelines measured
    10-15% faster than the global barrier plan (BENCH/ab_scheduler.json);
    → 'global' on any multi-executor master (yarn, spark://, k8s://,
    local-cluster), where one partitionBy(bucket) job per stage is the
    shape that saturates a wide cluster once bucket count >> driver pool
    size. Measured on local-cluster[2,2,2048] (4-vCPU VM, --gapfill,
    BENCH/ab_scheduler_local_cluster.json): 'global' won every pair at
    16 buckets / 327k turns (median 5.97 vs 8.58 s), 'per-bucket' every
    pair at 4 buckets / 170k turns (3.40 vs 4.00 s). Both schedulers
    produce bit-identical tables and lineage
    (BENCH/scheduler_identity_scale.json, proven at 54M turns), so the
    flip is purely a throughput decision. An explicit choice wins."""
    if choice != "auto":
        return choice
    is_local = master == "local" or (
        master.startswith("local[") and not master.startswith("local-cluster")
    )
    return "per-bucket" if is_local else "global"


def auto_buckets(spark, source: str | None, target_bytes: int = 512 << 20) -> int:
    """Size the bucket count from the source: ~one resume/commit unit
    per 512 MB of input, floor 4, cap 4096. Uses the Hadoop FileSystem
    ContentSummary so any scheme the session can read also sizes; a
    sizing failure (or synth source) falls back to the floor."""
    size = None
    if source:
        try:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(source)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            size = fs.getContentSummary(jpath).getLength()
        except Exception:
            size = None
    if not size:
        return 4
    return int(min(4096, max(4, -(-size // target_bytes))))


def run(args, spark=None) -> dict:
    own_spark = spark is None
    if own_spark:
        spark = get_spark(app_name=f"rollup-{args.run_id}", master=args.master)
    if args.buckets <= 0:
        args.buckets = auto_buckets(spark, args.source)
    catalog = get_catalog(args.warehouse)
    log = LineageLog(catalog, spark)
    tiers = [t for t in TIER_ORDER if t in set(args.tiers.split(","))]

    if args.source:
        raw = spark.read.parquet(args.source)
    else:
        raw = synth_transcripts(spark, args.synth_convs)

    bcol = bucket_of(F.col("conv_id"), args.buckets)

    # ------------------------------------------------ stage source ONCE
    # bucket-partitioned staging write: the only full scan of the input.
    # Every per-bucket read below prunes to one partition directory.
    staging = os.path.join(args.warehouse, "_staging", args.run_id)
    # the stage marker encodes the bucket modulus: re-running the same
    # --run-id with a different --buckets must re-stage (staging written
    # under the old modulus would silently mismatch every per-bucket
    # read, lineage key, and skew stat below)
    stage_key = f"all/{args.buckets}"
    stage_done = (
        not args.no_resume
        and stage_key in log.committed(args.run_id, "stage_source")
        and os.path.isdir(staging)
    )
    if not stage_done:
        t0 = time.time()
        raw.withColumn("bucket", bcol).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(staging)
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
    staged = spark.read.parquet(staging)

    all_buckets = list(range(args.buckets))

    def bkey(b: int) -> str:
        # modulus-scoped lineage key: bucket 3-of-8 and 3-of-4 hold
        # different conversations (see pending_buckets docstring)
        return f"{b}/{args.buckets}"

    first_stage = f"rollup_{tiers[-1]}"  # a bucket counts as done when its
    # deepest tier committed — lineage rows for every tier are still written.
    todo = (
        all_buckets
        if args.no_resume
        else pending_buckets(
            log, args.run_id, first_stage, all_buckets, modulus=args.buckets
        )
    )
    stats = {"buckets_total": len(all_buckets), "buckets_run": 0, "rows_out": 0}
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
    for stale_table in [f"rollup_{t}" for t in tiers] + (
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

    def _run_plan(buckets: list[int], grouped: bool) -> None:
        """The job plan over ``buckets``, committed per bucket.

        Both schedulers run this plan; ``grouped`` only picks how data
        files are written and how audits are read. Per-bucket
        (``grouped=False``, one bucket): one write per table, and each
        audit rides the job it audits as an ``observe()``. Global
        (``grouped=True``, every pending bucket): ONE partitionBy(bucket)
        write per table, sliced per bucket directory for the commits, and
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
                return df, lambda: grouped_audit(df, bcol, exprs, buckets)
            df, obs = attach_audit(df, exprs)
            return df, lambda: {buckets[0]: read_audit(obs)}

        def read_back(files, df):
            paths = [f["path"] for fs in files.values() for f in fs]
            return spark.read.parquet(*paths) if paths else df.limit(0)

        def write(table, df, exprs):
            """Write ``df``'s data files lock-free (Iceberg model: files in
            an uninstalled uuid dir are invisible; only the snapshot swap
            serializes) → (files per bucket, audit per bucket, thunk of
            the read-back). Global audits the (tiny) files it just wrote;
            per-bucket builds the read-back only if the next tier asks."""
            if grouped:
                files = catalog.write_data_files_partitioned(
                    table, df.withColumn("bucket", bcol), "bucket"
                )
                back = read_back(files, df)
                audit = grouped_audit(back, bcol, exprs, buckets)
                return files, audit, lambda: back
            (b,) = buckets
            audited, obs = attach_audit(df, exprs)
            files = {b: catalog.write_data_files(table, audited, {"bucket": b})}
            return files, {b: read_audit(obs)}, lambda: read_back(files, df)

        def commit(table, files):
            with commit_lock:
                for b in buckets:
                    catalog.commit_overwrite_partitions(
                        table, files.get(b, []), {"bucket": b}
                    )

        part = staged.filter(F.col("bucket").isin(buckets)).drop("bucket")
        rows_in = None  # per bucket: the derived row count (every tier's rows_in)
        gap_audit = None  # (source reader, filled reader) until validated

        def check_gapfill() -> None:
            """Validate the text-equality invariant once, after the first
            write (per-bucket, its audits ride that write) and BEFORE any
            commit."""
            nonlocal gap_audit, rows_in
            if gap_audit is None:
                return
            ins, outs = [read() for read in gap_audit]
            gap_audit = None
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
            # with_derived is row-preserving, so the filled count already
            # IS the derived row count — no extra action
            rows_in = {b: outs[b]["n"] for b in buckets}
            for b in buckets:
                row(b, "gapfill", kept[b], outs[b]["nf"])

        try:
            if args.gapfill:
                # narrow-shuffle plan (guide §2.3): token_count and the
                # invariant hash are computed map-side from text BEFORE
                # the gap-fill exchange and the text payload is DROPPED —
                # only ~40 B/row crosses the shuffle instead of the raw
                # text; gap rows get token_count=0, exactly what derive
                # computes from their "" fill text. The text-equality
                # invariant is an order-independent multiset checksum
                # (count + Σ xxhash64(conv, turn, text)) of the source
                # rows against the non-gap output rows: equal multisets ⇒
                # equal (count, Σ), and the carried hash keeps its power
                # against row loss, duplication and misrouting (no text is
                # left in flight to corrupt). The precise row-listing join
                # runs only on the failure path.
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
                gap_audit = (read_in, read_out)
                work_turns = filled.drop("is_gap_filled", "_th")
            else:
                work_turns = part
            # derived is persisted ONLY when a second consumer (codec)
            # exists; otherwise the 1m rollup is its sole consumer and
            # caching it just adds reduce-side serialization to the
            # heaviest stage (measured on the 54M-turn cascade probe:
            # persist-chained 42.9 s vs read-back 37.6 s at local[16] —
            # BENCH/BASELINE.md round-4 read-back note)
            derived = with_derived(work_turns)
            if args.codec_chunks:
                derived = derived.persist()
                persisted.append(derived)
                enc = encode_chunks(derived)
                files, audit, _ = write("codec_chunks", enc, codec_audit())
                check_gapfill()
                commit("codec_chunks", files)
                for b in buckets:
                    row(b, "codec_chunks", audit[b]["pts"], audit[b]["blobs"])
            for ti, tier in enumerate(tiers):
                # read-back chaining: tier k+1 merges from the (tiny) data
                # files tier k just wrote — already on fast storage and
                # invisible to other readers until their commit, so no
                # tier frame is persisted (Iceberg jobs chain tables the
                # same way)
                df = (
                    rollup_from_turns(derived, tier)
                    if ti == 0
                    else rollup_merge(back(), tier)
                )
                exprs = tier_audit(
                    ["conv_id", "bucket_start", "cnt", "sum_tokens"], "bucket_start"
                )
                count_rows = ti == 0 and not args.gapfill
                if count_rows:
                    # sum(cnt) over the first tier == derived row count,
                    # read off the same write instead of a count() action
                    exprs.append(F.sum("cnt").alias("rows_in"))
                # the tier write (a Spark job) runs lock-free — holding
                # the commit lock across it serialized all tiers x all
                # buckets writes (BENCH/BASELINE.md round-4 commit-path
                # note); only the O(manifest) snapshot swap needs the lock
                files, audit, back = write(f"rollup_{tier}", df, exprs)
                check_gapfill()
                if count_rows:
                    rows_in = {b: audit[b]["rows_in"] for b in buckets}
                commit(f"rollup_{tier}", files)
                for b in buckets:
                    a = audit[b]
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

    scheduler = resolve_scheduler(
        spark.sparkContext.master, getattr(args, "scheduler", "auto")
    )
    per_bucket = (
        scheduler == "per-bucket"
        or bool(args.fail_after_buckets)
        or bool(args.bucket_parallelism)
    )
    if todo and not per_bucket:
        _run_plan(todo, grouped=True)
    elif todo:
        # bucket compute runs in a small thread pool (concurrent Spark
        # jobs — the cluster scheduler fills slot gaps one bucket's stage
        # barriers leave); the test kill-hook forces sequential so "fail
        # after N buckets committed" stays deterministic
        # auto pool size scales with the session's cores: 8 workers beat 4
        # by ~14% on every rep at 32 cores (concurrent bucket pipelines
        # fill the slot gaps each bucket's stage barriers leave) and tied
        # at 8 cores — BENCH/ab_workers.json
        workers = args.bucket_parallelism or min(
            max(1, len(todo)), max(4, engine_cores(spark) // 4)
        )
        if args.fail_after_buckets:
            workers = 1
        if workers <= 1:
            for i, b in enumerate(todo):
                _run_bucket(i, b)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=workers) as pool:
                list(pool.map(_run_bucket, range(len(todo)), todo))
    if own_spark:
        spark.stop()
    return stats


if __name__ == "__main__":
    print(run(parse_args()))

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
Per group of buckets (below): gap-fill of missing turns → derive →
every data file written (the codec archive, then all four tiers (1m,
5m, 1h, 1d) by ONE Spark job, each tier's rows in its own directory) →
ONE check of the per-turn text-equality invariant (the job fails before
any commit of a group holding a bucket that violates it) → per bucket,
a dynamic-partition-overwrite commit of each table + ONE batched
lineage commit carrying all of the bucket's stage rows.
``rollup_merge(tier_1m, TIER_ORDER)`` merges the 1m aggregate into every
tier inside the plan; the gap-fill's conv_id exchange already groups
every tier, so no tier adds a shuffle, and no tier is read back from the
files of the tier below. A killed job re-submitted with the same
--run-id resumes from the last committed snapshot: already committed
(stage, bucket) pairs are skipped (anti-join against lineage), and the
half-written bucket is safely re-committed because tier writes are
partition *overwrites* (idempotent), not appends.

One plan over a group of buckets. ``_run_plan`` builds the whole job
once for a group — narrow projection and gap-fill, derive, the codec
archive, the fused tier write, the text-equality check — and each stage
is ONE Spark job over the group, its files split per bucket directory so
every bucket commits, and records its lineage, on its own. Each audit
rides the job it audits as ONE ``observe()`` holding a struct of
aggregates per bucket. ``bucket_groups`` sizes the groups from the
pending bucket count and the pool's workers, and a thread pool runs
them: the Spark-shaped version of the reference's per-patient joblib
loop (``File_Struct.py:576-579``) with the two things it lacks, atomic
commits and resume. Groups of one bucket overlap their stages in the
pool; wider groups, once buckets outnumber the workers, pay a plan's
fixed cost once per group (BENCH/ab_scheduler*.json).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biomed_timeseries_preprocessing_spark.functions.codec import encode_chunks  # noqa: E402
from biomed_timeseries_preprocessing_spark.operators.derive import (  # noqa: E402
    TOKEN_COUNT,
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


#: widest bucket group: its observes hold MAX_GROUP × (4 tiers × 4 + 7
#: gap-fill and codec) aggregates, each behind a ``bucket = b`` predicate,
#: so a row's audit cost and a group's compiled audit code grow with the
#: width. 4 is the knee of BENCH/audit_width.json: up to it the tier
#: audit's warm cost stays within 2× of one bucket's, from 8 on it grows
#: about linearly, and a new group's audit compile jumps 2.2× from 4 to 8
MAX_GROUP = 4


def bucket_groups(todo: list[int], workers: int) -> list[list[int]]:
    """Split the pending buckets ``todo`` into the groups the job plans,
    in order: one bucket per group while the pool has a worker for every
    bucket, otherwise one group per worker, but never more than MAX_GROUP
    buckets in a group (so more groups than workers once the pending
    buckets outnumber MAX_GROUP × workers).

    A group is one plan: each stage is one Spark job over the group, so
    fewer, wider groups cut per-plan fixed cost (planning, job launch,
    stage barriers) while smaller groups let the pool overlap them, and
    the group audit's cost per row grows with the width (MAX_GROUP). The
    rule against groups of one, one group of every bucket and one group
    per worker however wide (BENCH/ab_scheduler*.json, ``*_groups*``
    keys; 4-vCPU VM, a pool of 4 workers on both masters, median (IQR)
    of 4 interleaved reps after a warm-up, seconds; the first four rows
    ran with the cap at 64 and with column-function plans, so their rule
    made 4 groups of 8 at 32 buckets, the shape of today's uncapped arm):

      master                   buckets  rule     singles       one group     uncapped      rule
      local-cluster[2,2,2048]   4       4 × 1    3.91 (0.76)    4.49 (0.40)                 3.83 (0.48)
      local-cluster[2,2,2048]  16       4 × 4   10.61 (0.59)   14.07 (0.46)                 9.03 (0.51)
      local-cluster[2,2,2048]  32       4 × 8   18.42 (1.49)   23.84 (0.43)                12.26 (1.17)
      local[4]                 16       4 × 4    9.81 (0.60)   15.10 (0.60)                 8.28 (0.64)
      local-cluster[2,2,2048]  32       8 × 4                                7.65 (0.63)    7.97 (1.21)
      local-cluster[2,2,2048] 128      32 × 4                               29.61 (0.64)   22.76 (2.15)

    The rule is the fastest arm, or within noise of it, in every row (at
    4 buckets it IS groups of one). The cap is within noise of one group
    of 8 per worker at 32 buckets and 23% faster than one group of 32
    per worker at 128."""
    if len(todo) <= workers:
        size = 1
    else:
        size = min(MAX_GROUP, -(-len(todo) // workers))
    return [todo[i : i + size] for i in range(0, len(todo), size)]


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
        # the row count rides the staging write as an observe: no re-read
        src, obs = attach_audit(
            spark.read.parquet(args.source).withColumn("bucket", bcol),
            [F.expr("count(1) AS n")],
        )
        src.write.mode("overwrite").partitionBy("bucket").parquet(staging)
        n_staged = read_audit(obs)["n"]
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
    # the test kill hook: only the first N pending buckets run, through
    # the same groups and pool as any run, and then the job fails as a
    # killed one would, its staging kept for the resume
    killed = None
    if 0 < args.fail_after_buckets < len(todo):
        todo, killed = todo[: args.fail_after_buckets], todo[args.fail_after_buckets]
    commit_lock = threading.Lock()  # snapshot catalog + lineage are
    # last-writer-wins files; commits must serialize. Compute does not:
    # groups are independent Spark jobs and the scheduler interleaves
    # their tasks, so a small thread pool keeps all cores busy while one
    # group sits in its (short, locked) commit section.

    # partitionBy copy of ``tier``: the fused tier write splits its rows
    # per tier directory, and the data files keep their tier column
    TIER_DIR = "tier_dir"

    def _run_plan(buckets: list[int]) -> None:
        """The job plan over a group of ``buckets``, committed per bucket.

        Every data-file write is ONE Spark job over the group, its files
        split per bucket directory for the commits, and every audit rides
        the job that materializes its frame as ONE ``observe()`` holding a
        struct of aggregates per bucket (``CASE WHEN bucket = b``)."""
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

        def tap(df, audit, where):
            """(``df`` observing ``audit(where=...)`` per key of ``where``,
            a {key: SQL predicate} map, and the reader of {key: values})."""
            keys = list(where)
            df, obs = attach_audit(
                df,
                [F.expr(f"struct({', '.join(audit(where[k]))}) AS k{i}") for i, k in enumerate(keys)],
            )
            return df, lambda: {
                k: read_audit(obs.get[f"k{i}"].asDict()) for i, k in enumerate(keys)
            }

        # each bucket's audit predicate. Spark inlines an int literal in the
        # code it compiles for an audit, so in a one-bucket group, whose
        # rows are all its own, the predicate is "true" (folded away): its
        # audit code is then the same for every bucket and compiles once
        per_bucket = {b: f"bucket = {b}" if len(buckets) > 1 else "true" for b in buckets}

        def write(table, df, split=()):
            """Write ``df``'s data files lock-free (Iceberg model: files in
            an uninstalled uuid dir are invisible; only the snapshot swap
            serializes) in ONE Spark job → files per (bucket, *split
            values), the rows of each ``split`` value in their own
            directory. ``df`` carries a ``bucket`` column."""
            # bucket innermost: one task repeats a part-file name in every
            # bucket directory it writes, and the retention rewrite keys a
            # file by its last two path components
            got = catalog.write_data_files(table, df, None, [*split, "bucket"])
            return {
                (k[-1], *k[:-1]): [dict(f, partition={"bucket": k[-1]}) for f in fs]
                for k, fs in got.items()
            }

        def commit(table, files, *split):
            with commit_lock:
                for b in buckets:
                    catalog.commit_overwrite_partitions(
                        table, files.get((b, *split), []), {"bucket": b}
                    )

        part = staged.filter(f"bucket IN ({', '.join(map(str, buckets))})")

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
            # rows get token_count=0, what derive computes from their
            # GAP_TEXT. The text-equality invariant is an
            # order-independent multiset checksum (count + Σ xxhash64(conv,
            # turn, text)) of the source rows against the non-gap output
            # rows: equal multisets ⇒ equal (count, Σ), and the carried
            # hash keeps its power against row loss, duplication and
            # misrouting (no text is left in flight to corrupt). The
            # precise row-listing join runs only on the failure path.
            narrow = part.selectExpr(
                "conv_id",
                "turn_idx",
                "role",
                "tool",
                "ts",
                f"{TOKEN_COUNT} AS token_count",
                "xxhash64(conv_id, turn_idx, text) AS _th",
                "bucket",
            )
            src, read_in = tap(narrow, gapfill_in_audit, per_bucket)
            filled = gapfill(src.drop("bucket"), carry={"token_count": 0, "_th": None})
            filled, read_out = tap(
                filled.withColumn("bucket", bcol), gapfill_out_audit, per_bucket
            )
            # derived is persisted ONLY when a second consumer (codec)
            # exists; otherwise the tier write is its sole consumer and
            # caching it just adds reduce-side serialization to the
            # heaviest stage (BENCH/BASELINE.md round-4 read-back note)
            derived = with_derived(filled.drop("is_gap_filled", "_th", "bucket"))
            if args.codec_chunks:
                derived = derived.persist()
                persisted.append(derived)
                enc, read_codec = tap(
                    encode_chunks(derived).withColumn("bucket", bcol), codec_audit, per_bucket
                )
                codec_files = write("codec_chunks", enc)
            # all four tiers in ONE Spark job: the 1m aggregate is merged
            # into every tier inside the plan, with no shuffle beyond the
            # gap-fill's conv_id exchange, and the write splits the rows
            # per tier directory. Like every data-file write it runs
            # lock-free (holding the commit lock across writes serialized
            # all buckets — BENCH/BASELINE.md round-4 commit-path note);
            # only the O(manifest) snapshot swaps take the lock. It is the
            # 1m table's write; each tier's slice commits to its own table.
            tiers = rollup_merge(rollup_from_turns(derived, TIER_ORDER[0]), TIER_ORDER)
            cols = ["conv_id", "bucket_start", "cnt", "sum_tokens"]
            keys = [(b, t) for b in buckets for t in TIER_ORDER]
            out, read_tiers = tap(
                tiers.selectExpr("*", f"tier AS {TIER_DIR}").withColumn("bucket", bcol),
                partial(tier_audit, cols, "bucket_start"),
                {(b, t): f"{per_bucket[b]} AND tier = '{t}'" for b, t in keys},
            )
            files = write(f"rollup_{TIER_ORDER[0]}", out, [TIER_DIR])
            for b, t in keys:
                if not files.get((b, t)):
                    # a bucket with no rows: a schema-only file keeps the
                    # tier table readable with its columns
                    files[(b, t)] = catalog.write_data_files(
                        f"rollup_{t}", tiers.limit(0), {"bucket": b}
                    )
            # every data file is written: the one check over the group,
            # then the commits
            rows_in = check_gapfill(read_in(), read_out())
            if args.codec_chunks:
                commit("codec_chunks", codec_files)
                codec = read_codec()
                for b in buckets:
                    row(b, "codec_chunks", codec[b]["pts"], codec[b]["blobs"])
            audit = read_tiers()
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

    # groups run in a small thread pool (concurrent Spark jobs — the
    # cluster scheduler fills slot gaps one group's stage barriers
    # leave). The pool scales with the session's cores: 8 workers beat 4
    # by ~14% on every rep at 32 cores and tied at 8 cores —
    # BENCH/ab_workers.json
    workers = max(4, engine_cores(spark) // 4)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(_run_plan, bucket_groups(todo, workers)))
    if killed is not None:
        raise RuntimeError(f"injected failure before bucket {killed} (test hook)")
    # every bucket has committed: the staged copy of the source is spent
    shutil.rmtree(staging, ignore_errors=True)
    if own_spark:
        spark.stop()
    return stats


if __name__ == "__main__":
    print(run(parse_args()))

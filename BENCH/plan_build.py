"""Driver-side plan-building and retention evidence: Py4J round trips and
wall time of each plan operator, the retention phase wall, and the cold
kill-then-resume op, for two checkouts of this repo run interleaved.

    python BENCH/plan_build.py --parent DIR [--kind plan|resume]
        [--convs 16] [--pairs 5] [--work DIR] [--out BENCH/plan_build.json]

1. Lake: ``synth_transcripts(convs, seed)`` written once under ``--work``
   (16 convs at seed 1: 1,633 turns; plan building does not depend on
   the lake's size).
2. Arms: ``--parent DIR`` is another checkout of the repo (for example
   ``git archive <commit> | tar -x -C DIR``); the other arm is this one.
   Every rep is a fresh Python process and JVM (``local[4]``) importing
   only its arm's package, and there are two kinds:
   - ``plan``: builds one group plan's frames over the lake
     (``gapfill`` → ``with_derived`` → ``rollup_from_turns`` →
     ``rollup_merge(…, TIER_ORDER)``, and ``encode_chunks`` on the derived
     frame) once cold, then ``WARM`` times warm. Each operator's Py4J
     round trips (calls of ``ClientServerConnection.send_command`` from
     the building thread; py4j's finalizer thread sends object deletes
     through the same method) and wall are recorded. It then runs the
     rollup job on the lake (``--buckets 6``) and times ``apply_retention`` at rollbench's clock
     on ``RETENTION_REPS`` copies of the warehouse's snapshot metadata
     (the parent arm rewrites the tiers one after another, the change
     arm concurrently).
   - ``resume``: the kill-then-resume op of rollbench's
     ``resume_retention`` (6 buckets, killed after 3, resumed) as the
     first work of the JVM; ``plan_s`` sums the wall spent in the job
     module's plan functions over all threads, as rollbench does.
   ``--kind`` runs only one kind (default: both).
3. Pairs alternate which arm runs first. The JSON holds every rep and
   the per-arm medians.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: warm plan builds per ``plan`` rep, after the cold one
WARM = 5
#: retention runs per ``plan`` rep, each on its own copy of the warehouse
RETENTION_REPS = 3
#: rollbench's retention clock (``rollbench/workloads.py``)
RETENTION_NOW = dt.datetime(2026, 2, 6)
#: the job module's plan functions, as rollbench's tracer wraps them
PLAN_FNS = ("gapfill", "with_derived", "rollup_from_turns", "rollup_merge",
            "attach_audit", "encode_chunks")


def build_lake(path: str, convs: int, seed: int) -> None:
    sys.path.insert(0, REPO)
    from biomed_timeseries_preprocessing_spark.session import get_spark
    from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts

    spark = get_spark(master="local[4]")
    synth_transcripts(spark, convs, seed=seed).write.parquet(path)
    spark.stop()


def job_args(rollup_job, lake: str, wh: str, *extra: str):
    return rollup_job.parse_args(
        ["--source", lake, "--warehouse", wh, "--run-id", "r", "--buckets", "6", *extra]
    )


def run_plan(lake: str, work: str) -> dict:
    from py4j.clientserver import ClientServerConnection

    import jobs.rollup_job as rollup_job
    from biomed_timeseries_preprocessing_spark.functions.codec import encode_chunks
    from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
    from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill
    from biomed_timeseries_preprocessing_spark.operators.retention import apply_retention
    from biomed_timeseries_preprocessing_spark.operators.rollup import (
        TIER_ORDER,
        rollup_from_turns,
        rollup_merge,
    )
    from biomed_timeseries_preprocessing_spark.session import get_spark
    from biomed_timeseries_preprocessing_spark.sources.catalog import get_catalog

    spark = get_spark(master="local[4]")
    src = spark.read.parquet(lake)
    sent = [0]
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        # this thread's sends only, not py4j's background object deletes
        if threading.get_ident() == me:
            sent[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    chain = [
        ("gapfill", gapfill),
        ("with_derived", with_derived),
        ("rollup_from_turns", lambda d: rollup_from_turns(d, TIER_ORDER[0])),
        ("rollup_merge", lambda t: rollup_merge(t, TIER_ORDER)),
    ]

    def build() -> dict:
        out, frame = {}, src
        for name, fn in chain + [("encode_chunks", None)]:
            sent[0], t0 = 0, time.perf_counter()
            frame = encode_chunks(derived) if fn is None else fn(frame)
            out[name] = {"round_trips": sent[0], "wall_s": time.perf_counter() - t0}
            if name == "with_derived":
                derived = frame
        return out

    builds = [build() for _ in range(1 + WARM)]
    ClientServerConnection.send_command = send

    wh = os.path.join(work, "wh")
    shutil.rmtree(wh, ignore_errors=True)
    rollup_job.run(job_args(rollup_job, lake, wh), spark)
    retention = []
    for i in range(RETENTION_REPS):
        # a copy of the metadata only: manifests list absolute data paths
        copy = os.path.join(work, f"wh_copy{i}")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(wh, copy, ignore=shutil.ignore_patterns("*.parquet", "*.crc"))
        t0 = time.perf_counter()
        removed = apply_retention(get_catalog(copy), spark, RETENTION_NOW)
        retention.append({"wall_s": time.perf_counter() - t0, "removed": removed})
    spark.stop()
    ops = [name for name, _ in chain] + ["encode_chunks"]
    return {
        "cold": builds[0],
        "warm_median": {
            op: {k: statistics.median(b[op][k] for b in builds[1:]) for k in ("round_trips", "wall_s")}
            for op in ops
        },
        "retention": retention,
    }


def run_resume(lake: str, work: str) -> dict:
    import jobs.rollup_job as rollup_job
    from biomed_timeseries_preprocessing_spark.session import get_spark

    spark = get_spark(master="local[4]")
    lock, plan_s = threading.Lock(), [0.0]

    def timed(fn):
        def wrapper(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                with lock:
                    plan_s[0] += time.perf_counter() - t0

        return wrapper

    for fn in PLAN_FNS:
        setattr(rollup_job, fn, timed(getattr(rollup_job, fn)))
    wh = os.path.join(work, "wh_resume")
    shutil.rmtree(wh, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        rollup_job.run(job_args(rollup_job, lake, wh, "--fail-after-buckets", "3"), spark)
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    t1 = time.perf_counter()
    stats = rollup_job.run(job_args(rollup_job, lake, wh), spark)
    t2 = time.perf_counter()
    if stats["buckets_run"] != 3:
        raise RuntimeError(f"the resume ran {stats['buckets_run']} buckets, not 3")
    spark.stop()
    return {"partial_s": t1 - t0, "resume_s": t2 - t1, "op_s": t2 - t0, "plan_s": plan_s[0]}


def spawn(kind: str, arm: str, lake: str, work: str) -> dict:
    env = dict(os.environ, PYTHONPATH=arm)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--kind", kind, "--arm", arm,
         "--lake", lake, "--work", work],
        check=True, capture_output=True, text=True, env=env,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="a checkout of the commit to compare against")
    ap.add_argument("--convs", type=int, default=16)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--work", default=os.path.join(REPO, ".plan_build_work"))
    ap.add_argument("--out", default=os.path.join(HERE, "plan_build.json"))
    ap.add_argument("--kind", choices=("plan", "resume"), help="run only this kind of rep")
    ap.add_argument("--arm", help=argparse.SUPPRESS)
    ap.add_argument("--lake", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.arm:
        sys.path.insert(0, args.arm)
        run = run_plan if args.kind == "plan" else run_resume
        print(json.dumps(run(args.lake, args.work)))
        return

    lake = os.path.join(os.path.abspath(args.work), f"lake_{args.convs}_{args.seed}")
    if not os.path.exists(lake):
        build_lake(lake, args.convs, args.seed)
    arms = {"parent": os.path.abspath(args.parent), "change": REPO}
    reps = {a: {"plan": [], "resume": []} for a in arms}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for kind in [args.kind] if args.kind else ["plan", "resume"]:
            for a in order:
                work = os.path.join(os.path.abspath(args.work), a)
                os.makedirs(work, exist_ok=True)
                r = spawn(kind, arms[a], lake, work)
                reps[a][kind].append(r)
                print(f"pair {i} {a} {kind}: "
                      + json.dumps(r.get("op_s") or sum(v["wall_s"] for v in r["cold"].values())),
                      file=sys.stderr)

    def med(xs):
        return statistics.median(xs)

    summary = {a: {} for a in arms}
    for a in arms:
        plans, resumes = reps[a]["plan"], reps[a]["resume"]
        if plans:
            ops = list(plans[0]["cold"])
            summary[a] |= {
                "round_trips_warm": {op: plans[0]["warm_median"][op]["round_trips"] for op in ops},
                "round_trips_cold": {op: plans[0]["cold"][op]["round_trips"] for op in ops},
                "cold_wall_s": {op: med([p["cold"][op]["wall_s"] for p in plans]) for op in ops},
                "warm_wall_s": {op: med([p["warm_median"][op]["wall_s"] for p in plans]) for op in ops},
                "retention_wall_s": med([r["wall_s"] for p in plans for r in p["retention"]]),
            }
        if resumes:
            summary[a] |= {
                f"cold_resume_{k}": [r[k] for r in resumes]
                for k in ("op_s", "partial_s", "resume_s", "plan_s")
            }
    result = {
        "lake": {"convs": args.convs, "seed": args.seed, "buckets": 6},
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "pairs": args.pairs,
        "summary": summary,
        "reps": reps,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()

"""Interleaved A/B: global vs per-bucket scheduler on the shipped job.

Same process, same staged input, alternating arms so host weather hits
both equally; rep 0 per arm is JVM/codegen warmup and is discarded. The
job picks its scheduler from the master, so each arm is forced by
replacing ``jobs.rollup_job.resolve_scheduler``.

Usage: python BENCH/ab_scheduler.py [n_convs] [reps] [buckets] [master]

``master`` defaults to ``local[32]``. Results merge into
BENCH/ab_scheduler.json under the key ``{n_convs}convs_{buckets}buckets``;
a ``local-cluster[...]`` master writes BENCH/ab_scheduler_local_cluster.json
instead. A local-cluster master launches executor JVMs from
``$SPARK_HOME`` (their work dirs land in ``$SPARK_HOME/work``) and needs
the off-heap pool sized to its workers, e.g.::

    SPARK_GRAFT_OFFHEAP=256m SPARK_GRAFT_DRIVER_MEM=2g \
        python BENCH/ab_scheduler.py 4500 3 16 'local-cluster[2,2,2048]'

The staged input lives under ``$TMPDIR`` when set, else /dev/shm.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from biomed_timeseries_preprocessing_spark.session import get_spark  # noqa: E402
from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts  # noqa: E402
import jobs.rollup_job as rollup_job  # noqa: E402


def one_run(spark, raw_path, work, tag, scheduler, buckets="8") -> float:
    wh = os.path.join(work, f"wh_{tag}")
    rollup_job.resolve_scheduler = lambda master: scheduler
    t0 = time.time()
    rollup_job.run(
        rollup_job.parse_args(
            ["--source", raw_path, "--warehouse", wh, "--run-id", tag, "--buckets", buckets]
        ),
        spark=spark,
    )
    el = time.time() - t0
    shutil.rmtree(wh, ignore_errors=True)
    return el


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    buckets = sys.argv[3] if len(sys.argv) > 3 else "8"
    master = sys.argv[4] if len(sys.argv) > 4 else "local[32]"
    cluster = master.startswith("local-cluster")
    extra = {}
    if cluster:
        # executors are separate Python processes that import the engine
        # from the repo, as the driver does; each takes 3/4 of its
        # worker's memory (local-cluster[workers, cores, MB per worker])
        worker_mb = int(master.rstrip("]").rsplit(",", 1)[1])
        extra = {
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.executor.memory": f"{worker_mb * 3 // 4}m",
        }
    spark = get_spark(app_name="ab_scheduler", master=master, extra_conf=extra)
    base = os.environ.get("TMPDIR") or ("/dev/shm" if os.path.isdir("/dev/shm") else None)
    work = tempfile.mkdtemp(prefix="ab_sched_", dir=base)
    times = {"global": [], "per-bucket": []}
    try:
        raw_path = os.path.join(work, "transcripts")
        synth_transcripts(spark, n_convs).write.mode("overwrite").parquet(raw_path)
        spark.range(1_000_000).count()
        for rep in range(reps + 1):
            for arm in ("global", "per-bucket"):
                el = one_run(spark, raw_path, work, f"{arm}_{rep}", arm, buckets)
                if rep > 0:
                    times[arm].append(round(el, 2))
                print(f"rep{rep} {arm}: {el:.2f}s", flush=True)
        n_turns = spark.read.parquet(raw_path).count()
        out = {
            "master": master,
            "n_convs": n_convs,
            "n_turns": n_turns,
            "buckets": buckets,
            "reps_sec": times,
            "best_sec": {a: min(t) for a, t in times.items()},
            "median_sec": {a: sorted(t)[len(t) // 2] for a, t in times.items()},
        }
        name = "ab_scheduler_local_cluster.json" if cluster else "ab_scheduler.json"
        path = os.path.join(REPO, "BENCH", name)
        merged = {}
        if os.path.exists(path):
            with open(path) as f:
                merged = json.load(f)
        merged[f"{n_convs}convs_{buckets}buckets"] = out
        with open(path, "w") as f:
            json.dump(merged, f, indent=2)
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

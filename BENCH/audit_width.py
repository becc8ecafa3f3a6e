"""Audit width probe: what the rollup job's per-bucket tier audit costs
as its bucket group widens.

    python BENCH/audit_width.py [--rows 2000000] [--reps 3]
        [--out BENCH/audit_width.json]

A group of k buckets observes ONE struct of ``tier_audit`` aggregates
per (bucket, tier), each behind a ``CASE WHEN bucket = b AND tier = t``
predicate (``jobs/rollup_job.py`` ``_run_plan``; a one-bucket group's
bucket predicate is ``true``). So every row evaluates about 4 × k
predicates, and the generated audit code grows with k.

The probe writes a four-tier frame of ``--rows`` rows, spread over k
buckets and the four tiers, to the ``noop`` sink at ``local[4]`` with
exactly the job's audit expressions, for k in ``WIDTHS``:

- ``first_s``: the first run at width k, which compiles the audit code;
- ``warm_s``: ``--reps`` more runs of the same plan (code cached);
- ``next_group_s``: one run with the bucket ids shifted by k. Spark
  inlines the ``bucket = b`` literals in the code it generates, so a
  second group of the same width compiles its own audit: this is what
  each multi-bucket group of a job run pays.

``none`` is the same frame and write with no audit. A warm-up write
runs first, so the JVM's own warm-up lands on no width. The frame comes
from ``spark.range``: no input files, only the audit and the write are
timed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from biomed_timeseries_preprocessing_spark.operators.rollup import TIER_ORDER  # noqa: E402
from biomed_timeseries_preprocessing_spark.plans.lineage import (  # noqa: E402
    attach_audit,
    read_audit,
    tier_audit,
)
from biomed_timeseries_preprocessing_spark.session import get_spark  # noqa: E402

WIDTHS = (1, 2, 4, 8, 16, 32, 64)


def frame(spark, rows: int, k: int, first: int):
    """``rows`` tier rows over buckets ``first`` .. ``first + k - 1``,
    every (bucket, tier) pair about equally often."""
    tiers = ", ".join(f"'{t}'" for t in TIER_ORDER)
    return spark.range(rows).selectExpr(
        "concat('c', CAST(id DIV 400 AS STRING)) AS conv_id",
        "timestamp_seconds(1700000000 + id) AS bucket_start",
        "id % 7 AS cnt",
        "id % 1000 AS sum_tokens",
        f"element_at(array({tiers}), CAST(id % 4 AS INT) + 1) AS tier",
        f"CAST((id DIV 4) % {k} + {first} AS INT) AS bucket",
    )


def audited(df, buckets: list[int]):
    """``df`` observing the job's tier audit for every (bucket, tier)."""
    per_bucket = {b: f"bucket = {b}" if len(buckets) > 1 else "true" for b in buckets}
    audit = partial(tier_audit, ["conv_id", "bucket_start", "cnt", "sum_tokens"], "bucket_start")
    where = [f"{per_bucket[b]} AND tier = '{t}'" for b in buckets for t in TIER_ORDER]
    return attach_audit(
        df, [F.expr(f"struct({', '.join(audit(w))}) AS k{i}") for i, w in enumerate(where)]
    )


def timed_write(df, obs=None) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    if obs is not None:
        [read_audit(v.asDict()) for v in obs.get.values()]
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "audit_width.json"))
    args = ap.parse_args()

    spark = get_spark(app_name="audit_width", master="local[4]")
    for _ in range(2):
        timed_write(frame(spark, args.rows, 1, 0))
    none = [timed_write(frame(spark, args.rows, 1, 0)) for _ in range(args.reps)]
    widths = {}
    for k in WIDTHS:

        def run(first: int) -> float:
            df, obs = audited(frame(spark, args.rows, k, first), list(range(first, first + k)))
            return timed_write(df, obs)

        first = run(0)
        warm = [run(0) for _ in range(args.reps)]
        widths[k] = {
            "first_s": round(first, 3),
            "warm_s": [round(w, 3) for w in warm],
            "warm_median_s": round(statistics.median(warm), 3),
            "next_group_s": round(run(k), 3),
        }
        print(f"k={k}: {widths[k]}", file=sys.stderr, flush=True)
    spark.stop()
    result = {
        "rows": args.rows,
        "master": "local[4]",
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "none_warm_median_s": round(statistics.median(none), 3),
        "widths": widths,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()

"""State partitions per core for the Python-state stream at large batches.

``get_spark`` sets ``spark.sql.shuffle.partitions`` to one per core; it
was four per core. Only stateful streams read it (batch exchanges start
at AQE's ``initialPartitionNum``), as their state-partition count. One
per core makes a micro-batch one wave of Python tasks, which wins when a
micro-batch is small and the per-task fixed cost dominates. With large
micro-batches of zipf-skewed conversations the largest partition could
instead set the wall, and four per core could level it. This script
measures that case: the 1x cell of ``streaming_state_floor.py`` (1,000
synth conversations, ~800k turns in 8 files, ``maxFilesPerTrigger=1`` so
8 micro-batches of ~100k turns) through the stateful gap-fill to the
noop sink.

Method: one session; the two arms differ only in the
``spark.sql.shuffle.partitions`` value a new query starts with (each run
has its own temporary checkpoint), which is the whole difference
between the old and the new ``get_spark`` for this query. One untimed
warm-up run per arm, then PAIRS interleaved pairs, alternating which arm
runs first. Per run: wall, the sum of the micro-batches'
``triggerExecution`` and the state-store commit time.

Usage: python BENCH/streaming_state_partitions.py [pairs] [out_json]
(default 10 pairs, local[4]; writes BENCH/streaming_state_partitions.json).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streaming_state_floor import SCALES, stage  # noqa: E402

from biomed_timeseries_preprocessing_spark.session import engine_cores, get_spark  # noqa: E402
from biomed_timeseries_preprocessing_spark.streaming.gapfill_stream import (  # noqa: E402
    streaming_gapfill,
)


def run_once(spark, raw: str, partitions: int) -> dict:
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    src = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(raw)
    )
    t0 = time.time()
    q = streaming_gapfill(src).writeStream.outputMode("append").format("noop").start()
    q.processAllAvailable()
    wall = time.time() - t0
    q.stop()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    ops = [p["stateOperators"][0] for p in batches]
    return {
        "wall_s": round(wall, 3),
        "batches": len(batches),
        "batch_s": round(sum(p["durationMs"]["triggerExecution"] for p in batches) / 1e3, 3),
        "commit_s": round(sum(o["commitTimeMs"] for o in ops) / 1e3, 3),
        "state_partitions": sorted({o["numShufflePartitions"] for o in ops}),
        "input_rows": sum(p["numInputRows"] for p in batches),
    }


def quartiles(xs: list[float]) -> list[float]:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return [round(q1, 3), round(med, 3), round(q3, 3)]


def main(pairs: int, out_json: str) -> None:
    spark = get_spark(app_name="streaming-state-partitions", master="local[4]")
    cores = engine_cores(spark)
    arms = {"parent_4_per_core": 4 * cores, "change_1_per_core": cores}
    root = os.environ.get("FLOOR_TMP", "/tmp/streaming_floor")
    raw, _drv, n_turns = stage(spark, SCALES["1x"], root)
    for parts in arms.values():  # warm-up: planner, Python workers, sink setup
        run_once(spark, raw, parts)
    runs: dict[str, list[dict]] = {a: [] for a in arms}
    for i in range(pairs):
        order = list(arms) if i % 2 == 0 else list(arms)[::-1]
        for arm in order:
            runs[arm].append(run_once(spark, raw, arms[arm]))
            print(arm, i, json.dumps(runs[arm][-1]), flush=True)
    walls = {a: [r["wall_s"] for r in rs] for a, rs in runs.items()}
    old, new = walls["parent_4_per_core"], walls["change_1_per_core"]
    result = {
        "method": __doc__.split("Method: ")[1].split("\n\nUsage")[0].replace("\n", " "),
        "master": spark.sparkContext.master,
        "n_convs": SCALES["1x"],
        "n_turns": n_turns,
        "arms": arms,
        "runs": runs,
        "wall_s_q1_median_q3": {a: quartiles(w) for a, w in walls.items()},
        "change_wins": sum(n < o for o, n in zip(old, new)),
        "pairs": pairs,
        "median_ratio_change_over_parent": round(
            statistics.median(new) / statistics.median(old), 3
        ),
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print("wrote", out_json)
    spark.stop()


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 10,
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "BENCH", "streaming_state_partitions.json"),
    )

"""Codec kernel evidence: bits per point per stream, raw ÷ blob, and the
batch encode/decode kernels' rows/s, for two checkouts of this repo
run interleaved on the same synthetic lake.

    python BENCH/codec_ratio.py --parent DIR [--convs 1500] [--pairs 5]
        [--work DIR] [--out BENCH/codec_ratio.json]

1. Lake: ``with_derived(gapfill(synth_transcripts(convs, seed)))``, cut
   into the blocks ``encode_chunks`` codes, one per (conv_id, 1h chunk)
   in (ts, turn_idx) order, and saved once as arrays under ``--work``.
   Spark builds it; the kernels then run without Spark.
2. Arms: ``--parent DIR`` is another checkout of the repo (for example
   ``git archive <commit> | tar -x -C DIR``); the other arm is this one.
   Each rep of an arm is a fresh single-threaded Python process that
   imports the arm's ``functions.codec``/``codec_batch`` and codes the
   lake's three streams the way that checkout's ``encode_chunks`` and
   ``decode_chunks_df`` do (latency XORed against the ts prediction when
   the checkout has ``xor_ts_prediction``), in batches of whole blocks of
   at most 65,536 rows (Arrow's ``maxRecordsPerBatch`` in ``get_spark``).
   Decoded values must equal the lake's exactly.
3. Pairs alternate which arm runs first. The JSON holds every rep and
   the per-arm medians.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BATCH_ROWS = 65_536
CHUNK_US = 3600 * 1_000_000


def build_lake(path: str, convs: int, seed: int) -> None:
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
    from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill
    from biomed_timeseries_preprocessing_spark.session import get_spark
    from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts

    spark = get_spark(master="local[4]")
    derived = with_derived(gapfill(synth_transcripts(spark, convs, seed=seed)))
    us = F.unix_micros("ts")
    pdf = (
        derived.select(
            "conv_id",
            F.floor(us / CHUNK_US).alias("chunk"),
            us.alias("ts_us"),
            "turn_idx",
            F.col("latency_ms").cast("double").alias("latency_ms"),
            F.col("token_count").cast("long").alias("token_count"),
        )
        .orderBy("conv_id", "chunk", "ts_us", "turn_idx")
        .toPandas()
    )
    spark.stop()
    key = pdf["conv_id"].to_numpy() + "\x1f" + pdf["chunk"].astype(str).to_numpy()
    starts = np.concatenate(([0], np.flatnonzero(key[1:] != key[:-1]) + 1))
    np.savez(
        path,
        ts=pdf["ts_us"].to_numpy(np.int64),
        lat=pdf["latency_ms"].to_numpy(np.float64),
        tok=pdf["token_count"].to_numpy(np.int64),
        starts=starts.astype(np.int64),
    )


def batches(starts: np.ndarray, total: int):
    """(row lo, row hi, block lo, block hi) of consecutive whole blocks
    holding at most BATCH_ROWS rows (a longer block goes alone)."""
    ends = np.append(starts[1:], total)
    b = 0
    while b < len(starts):
        e = max(b + 1, int(np.searchsorted(ends, starts[b] + BATCH_ROWS, side="right")))
        yield int(starts[b]), int(ends[e - 1]), b, e
        b = e


def run_arm(arm: str, data: str) -> dict:
    """One rep: encode then decode the lake with the arm's kernels."""
    sys.path.insert(0, arm)
    from biomed_timeseries_preprocessing_spark.functions import codec
    from biomed_timeseries_preprocessing_spark.functions import codec_batch as cb

    predict = getattr(codec, "xor_ts_prediction", None)
    z = np.load(data)
    ts, lat, tok, starts = z["ts"], z["lat"], z["tok"], z["starts"]
    parts = list(batches(starts, len(ts)))
    blobs = {"ts": [], "latency": [], "tokens": []}
    t0 = time.perf_counter()
    for lo, hi, blo, bhi in parts:
        s = starts[blo:bhi] - lo
        t, x = ts[lo:hi], lat[lo:hi]
        blobs["ts"].append(cb.encode_dod_batch(t, s))
        blobs["latency"].append(cb.encode_xor_batch(predict(x, t, s) if predict else x, s))
        blobs["tokens"].append(cb.encode_dod_batch(tok[lo:hi], s))
    t1 = time.perf_counter()
    got = {"ts": [], "latency": [], "tokens": []}
    for k in range(len(parts)):
        t, s = cb.decode_dod_batch(blobs["ts"][k])
        x, _ = cb.decode_xor_batch(blobs["latency"][k])
        got["ts"].append(t)
        got["latency"].append(predict(x, t, s) if predict else x)
        got["tokens"].append(cb.decode_dod_batch(blobs["tokens"][k])[0])
    t2 = time.perf_counter()
    for name, want in (("ts", ts), ("latency", lat.view(np.uint64)), ("tokens", tok)):
        back = np.concatenate(got[name])
        if not np.array_equal(back.view(want.dtype), want):
            raise SystemExit(f"{arm}: {name} does not round-trip")
    n = len(ts)
    size = {k: sum(len(b) for bs in v for b in bs) for k, v in blobs.items()}
    return {
        "points": n,
        "blocks": len(starts),
        "bytes": size,
        "bits_per_point": {k: 8 * v / n for k, v in size.items()},
        "raw_over_blob": 24 * n / sum(size.values()),
        "encode_s": t1 - t0,
        "decode_s": t2 - t1,
        "encode_rows_per_s": n / (t1 - t0),
        "decode_rows_per_s": n / (t2 - t1),
    }


def spawn(arm: str, data: str) -> dict:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--arm", arm, "--data", data],
        check=True, capture_output=True, text=True, env=env,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="a checkout of the commit to compare against")
    ap.add_argument("--convs", type=int, default=1500)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--work", default=os.path.join(REPO, ".codec_ratio_work"))
    ap.add_argument("--out", default=os.path.join(HERE, "codec_ratio.json"))
    ap.add_argument("--arm", help=argparse.SUPPRESS)
    ap.add_argument("--data", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.arm:
        print(json.dumps(run_arm(args.arm, args.data)))
        return

    os.makedirs(args.work, exist_ok=True)
    data = os.path.join(args.work, f"lake_{args.convs}_{args.seed}.npz")
    if not os.path.exists(data):
        build_lake(data, args.convs, args.seed)
    arms = {"parent": os.path.abspath(args.parent), "change": REPO}
    reps = {a: [] for a in arms}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for a in order:
            reps[a].append(spawn(arms[a], data))
            r = reps[a][-1]
            print(f"pair {i} {a}: encode {r['encode_rows_per_s']:,.0f} rows/s, "
                  f"decode {r['decode_rows_per_s']:,.0f} rows/s, "
                  f"raw/blob {r['raw_over_blob']:.2f}", file=sys.stderr)

    def med(a, key):
        return statistics.median(r[key] for r in reps[a])

    first = reps["change"][0]
    summary = {
        a: {
            "bits_per_point": reps[a][0]["bits_per_point"],
            "raw_over_blob": reps[a][0]["raw_over_blob"],
            "encode_rows_per_s": med(a, "encode_rows_per_s"),
            "decode_rows_per_s": med(a, "decode_rows_per_s"),
        }
        for a in arms
    }
    wins = {
        k: sum(c[k] > p[k] for c, p in zip(reps["change"], reps["parent"]))
        for k in ("encode_rows_per_s", "decode_rows_per_s")
    }
    result = {
        "lake": {"convs": args.convs, "seed": args.seed, "points": first["points"],
                 "blocks": first["blocks"], "chunk": "1h"},
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version(), "numpy": np.__version__},
        "pairs": args.pairs,
        "summary": summary,
        "change_faster_pairs": wins,
        "reps": reps,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()

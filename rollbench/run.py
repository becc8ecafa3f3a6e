"""Rollup-engine benchmark (contract in BENCHMARK.json; see README.md).

    python3 rollbench/run.py --workload codec_archive --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Prints one human-readable line per
metric, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Exits 2 without
a result when the engine's sources are not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = ("biomed_timeseries_preprocessing_spark", "jobs/rollup_job.py")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def run_ops(bench, seconds: float, prefix: str, tracer=None) -> list[dict]:
    """Closed loop: the next op starts when the previous one (and its
    check) has finished, until ``seconds`` of ops have run; at least one."""
    ops, t0 = [], time.time()
    while not ops or time.time() - t0 < seconds:
        if tracer is not None:
            tracer.op = len(ops)
        start = time.time()
        ctx = bench.op(f"{prefix}{len(ops)}")
        ctx["start"], ctx["end"] = start, time.time()
        ops.append(ctx)
    return ops


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def end_to_end(bench, setup: dict, ops: list[dict], rss_mb: float) -> dict[str, float]:
    """Every end-to-end metric of the workload, medians over passed ops."""
    from workloads import ROLLUP_PHASES

    good = [o for o in ops if o["ok"]]
    walls = lambda ph: [o["walls"][ph] for o in good if ph in o["walls"]]  # noqa: E731
    rollup_s = [sum(o["walls"][ph] for ph in ROLLUP_PHASES if ph in o["walls"]) for o in good]
    out = {
        "setup_s": setup["setup_s"],
        "op_s": _median([o["wall"] for o in good], float("inf")),
        "turns_per_s": bench.turns / _median(rollup_s, float("inf")),
        "stored_bytes_per_turn": _median([o["facts"]["stored_bytes"] for o in good]) / bench.turns,
        "peak_rss_mb": rss_mb,
        "error_rate": sum(not o["ok"] for o in ops) / len(ops),
    }
    phases = bench.w.phases
    if "decode" in phases:
        codec = [o["facts"]["codec"] for o in good]
        pts = _median([c["n"] for c in codec])
        out["decode_turns_per_s"] = pts / _median(walls("decode"), float("inf"))
        out["bytes_per_point"] = _median(
            [(c["ts_bytes"] + c["latency_bytes"] + c["token_bytes"]) / c["n"] for c in codec]
        )
    if "stream" in phases:
        out["stream_rows_per_s"] = bench.stream_turns / _median(walls("stream"), float("inf"))
        out["batch_ms"] = _median(
            [
                _median([p.durationMs["triggerExecution"] for p in o["facts"]["stream"]
                         if p.numInputRows])
                for o in good
            ]
        )
    for ph, name in (("partial", "partial_run_s"), ("resume", "resume_s"),
                     ("retention", "retention_s")):
        if ph in phases:
            out[name] = _median(walls(ph))
    return out


UNITS = {
    "setup_s": "s", "op_s": "s", "stored_bytes_per_turn": "B",
    "peak_rss_mb": "MB", "error_rate": "ratio", "turns_per_s": "1/s",
    "decode_turns_per_s": "1/s", "bytes_per_point": "B", "stream_rows_per_s": "1/s",
    "batch_ms": "ms", "partial_run_s": "s", "resume_s": "s", "retention_s": "s",
    # per-layer times printed in the table only (one workload each)
    "catalog.write_s.codec_chunks": "s", "codec.decode_scan_s": "s",
    "codec.decode_kernel_s": "s", "codec.encode_kernel_s": "s",
    "retention.rewrite_s": "s", "stream.add_batch_ms": "ms",
}


def per_layer(traced: list[dict], tracer, log_path) -> dict:
    import eventlog
    import layers

    good = [o for o in traced if o["ok"]] or traced
    with open(log_path) as f:
        jobs, stages = eventlog.parse(f)
    windows = [(o["t_phases"][0], o["t_phases"][1] or o["end"]) for o in good]
    engine = layers.engine(jobs, stages, windows)
    per_op = [
        {**layers.op_layers([s for s in tracer.spans if s.op == i], o["facts"]), **e}
        for i, o, e in ((traced.index(o), o, e) for o, e in zip(good, engine))
    ]
    out = layers.median_of(per_op)
    out["trace.op_s"] = _median([o["wall"] for o in good])
    kern = [o["facts"]["kernels"] for o in good if "kernels" in o["facts"]]
    out["codec.decode_kernel_s"] = _median([k["decode_kernel_s"] for k in kern])
    out["codec.encode_kernel_s"] = _median([k["encode_kernel_s"] for k in kern])
    return out


def measure(bench, args) -> dict:
    """Set-up, then the ops.  A traced run goes through the same set-up
    with the Spark event log on, then installs the wrappers, so its ops
    are as cold as those of an untraced run of the same seed and
    ``trace.op_s`` compares with their ``op_s`` (the tracing overhead)."""
    setup = bench.setup(event_log=bool(args.trace))
    if not args.trace:
        ops = run_ops(bench, args.seconds, "op")
        return {"setup": setup, "ops": ops,
                "values": end_to_end(bench, setup, ops, peak_rss_mb(bench.spark))}
    from spans import Tracer

    tracer = Tracer(bench.spark.sparkContext)
    tracer.install(bench.spark, bench.rollup_job)
    bench.tracer, bench.measure_kernels = tracer, True
    try:
        ops = run_ops(bench, args.seconds, "t", tracer)
    finally:
        tracer.uninstall()
    app = bench.spark.sparkContext.applicationId
    bench.spark.stop()  # closes the event log
    bench.spark = None
    log = os.path.join(bench.work, "eventlog", app)
    return {"setup": setup, "ops": ops, "values": per_layer(ops, tracer, log)}


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ENGINE if not os.path.exists(os.path.join(ROOT, p))]
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if missing or not os.path.exists(spec_path):
        print(f"rollbench: engine sources not found next to the benchmark: {missing}",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    # the Python workers Spark starts inherit this, so they import the
    # engine (mapInPandas, applyInPandasWithState) from any launch dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"rollbench: unknown workload {args.workload}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".rollbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    bench = Bench(ROOT, work, args.workload, args.seed)
    print(f"start-up {time.time() - T_START:.2f} s", file=sys.stderr)
    try:
        res = measure(bench, args)
    finally:
        t0 = time.time()
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        print(f"stop {time.time() - t0:.2f} s", file=sys.stderr)

    ops = res["ops"]
    values = res["values"]
    st = res["setup"]
    print(f"setup reps {[round(x, 2) for x in st['setup_reps_s']]} s; total "
          f"{time.time() - T_START:.1f} s", file=sys.stderr)
    for o in ops:
        walls = {k: round(v, 2) for k, v in o["walls"].items()}
        print(f"op {o['tag']} ok={o['ok']} walls={walls} "
              f"check={o['end'] - o['start'] - o['wall']:.2f}s", file=sys.stderr)
    kind = "per_layer" if args.trace else "end_to_end"
    for name, v in sorted(values.items()):
        print(f"{args.workload} {name} {v:.6g} {UNITS.get(name, _unit(spec, name))}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    result = {
        "correct": all(o["ok"] for o in ops),
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def _unit(spec, name):
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] == name:
            return m["unit"]
    return ""


if __name__ == "__main__":
    sys.exit(main())

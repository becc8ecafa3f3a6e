"""Per-layer metrics of traced ops, from spans, warehouse facts and the
Spark event log.  Each metric is computed per op and reported as the
median over the traced ops of the run."""

from __future__ import annotations

import statistics

import eventlog
from spans import Span, self_times

TIERS = ("1m", "5m", "1h", "1d")


def _sum(spans, name: str) -> float:
    return sum(s.dur for s in spans if s.name == name)


def op_layers(spans: list[Span], facts: dict) -> dict[str, float]:
    """Layer metrics of one op from its spans and its ``facts``."""
    selfs = self_times(spans)
    runs = [s for s in spans if s.name == "rollup_job.run"]
    run_ids = {r.id for r in runs}
    run_wall = sum(s.dur for s in runs)
    driver = sum(selfs[s.id] for s in runs)
    buckets = []
    for r in runs:
        per: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent == r.id and s.attrs.get("bucket") is not None:
                per.setdefault(s.attrs["bucket"], []).append(s)
        buckets += [max(s.end for s in v) - min(s.start for s in v) for v in per.values()]
    meta, codec = facts.get("meta", {}), facts.get("codec")
    ret, stream = facts.get("retention", {}), facts.get("stream") or []
    out = {
        "rollup_job.staging_s": _sum(spans, "rollup_job.staging"),
        "rollup_job.staging_bytes": meta.get("staging_bytes", 0),
        "rollup_job.bucket_s.median": statistics.median(buckets) if buckets else 0.0,
        "rollup_job.bucket_s.max": max(buckets, default=0.0),
        "rollup_job.driver_s": driver,
        "rollup_job.plan_s": sum(
            s.dur for s in spans if s.name.startswith("plan.") and s.parent in run_ids
        ),
        "trace.span_coverage": 1.0 - driver / run_wall if run_wall else 0.0,
        "catalog.commit_s": _sum(spans, "catalog.commit"),
        "catalog.commits": meta.get("commits", 0),
        "catalog.meta_bytes": meta.get("meta_bytes", 0),
        "lineage.commit_s": _sum(spans, "lineage.commit"),
        "lineage.commits": sum(1 for s in spans if s.name == "lineage.commit"),
        "lineage.lookup_s": _sum(spans, "lineage.lookup"),
        "retention.rewrite_s": _sum(spans, "retention.rewrite"),
        "retention.rows_removed": ret.get("rows_removed", 0),
        "retention.bytes_rewritten": ret.get("bytes_rewritten", 0),
        "codec.decode_scan_s": _sum(spans, "codec.decode_scan"),
        "stream.add_batch_ms": statistics.median(
            [p.durationMs.get("addBatch", 0) for p in stream if p.numInputRows]
        )
        if stream
        else 0.0,
        "stream.state_rows": _state(stream, "numRowsTotal"),
        "stream.state_bytes": _state(stream, "memoryUsedBytes"),
        "stream.rows_out": facts.get("stream_rows_out", 0),
    }
    for t in TIERS + ("codec_chunks",):
        table = t if t == "codec_chunks" else f"rollup_{t}"
        out[f"catalog.write_s.{table}"] = _sum(spans, f"catalog.write:{table}")
    for col, key in (("ts", "ts_bytes"), ("latency", "latency_bytes"), ("tokens", "token_bytes")):
        out[f"codec.bits_per_point.{col}"] = 8.0 * codec[key] / codec["n"] if codec else 0.0
    return out


def _state(progress: list, field: str) -> int:
    last = progress[-1].stateOperators if progress else []
    return sum(getattr(s, field) for s in last)


def engine(jobs, stages, windows: list[tuple[float, float]]) -> list[dict]:
    """``spark.*`` metrics of the jobs submitted in each op's phase window
    (wall-clock start, end); the skew is that of the fused
    gapfill→derive→tier-1m write."""
    return [
        {
            f"spark.{k}": v
            for k, v in eventlog.summarize(
                eventlog.jobs_in(jobs, a, b), stages, "catalog.write:rollup_1m"
            ).items()
        }
        for a, b in windows
    ]


def median_of(per_op: list[dict]) -> dict[str, float]:
    """Metric-wise median over ops."""
    return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}

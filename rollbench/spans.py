"""In-memory spans around the engine's public functions.

The benchmark never edits the engine: ``Tracer.install`` monkeypatches the
public functions and methods of each layer with wrappers that record a
span (name, start, end, parent, op id, attributes) and label every Spark
job started inside the span with a local property, so the event log can
be keyed back to the layer (see ``eventlog.py``).  ``uninstall`` restores
the originals.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

#: Spark local property carrying the span name of the job's caller
LABEL_PROP = "rollbench.label"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval covered by its
    children.  Children may overlap (bucket pipelines run in a thread
    pool), so the covered part is the union of the children's intervals
    clipped to the parent's."""
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in by_parent.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.dur - union_length(kids)
    return out


class Tracer:
    """Records spans; a span opened in a thread with no open span (a
    bucket worker of the rollup job's pool) is parented to ``root``."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.root: int | None = None
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, adopt: bool = False, **attrs):
        """Context manager recording one span.  With ``adopt`` the span
        is the parent of spans opened meanwhile in threads that have no
        open span of their own."""
        return _SpanCtx(self, name, attrs, adopt)

    def _open(self, name: str, attrs: dict) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sp = Span(name, time.time(), 0.0, parent, self.op, next(self._ids), attrs)
        stack.append(sp.id)
        if self.sc is not None:
            sp.attrs["_prev_label"] = self.sc.getLocalProperty(LABEL_PROP)
            self.sc.setLocalProperty(LABEL_PROP, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()
        if self.sc is not None:
            self.sc.setLocalProperty(LABEL_PROP, sp.attrs.pop("_prev_label"))
        with self._lock:
            self.spans.append(sp)

    # --------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name, attrs_of=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.  ``name``
        is a span name or a callable of the call's arguments returning
        one (``None`` = do not trace this call); ``attrs_of(args, kwargs,
        result)`` adds attributes after the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            nm = name(*args, **kwargs) if callable(name) else name
            if nm is None:
                return orig(*args, **kwargs)
            with tracer.span(nm) as sp:
                out = orig(*args, **kwargs)
                if attrs_of is not None:
                    sp.attrs.update(attrs_of(args, kwargs, out))
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self, spark, rollup_job) -> None:
        """Wrap the public functions the engine calls internally.  The
        entry points the benchmark calls itself (``rollup_job.run``,
        ``apply_retention``, ``decode_chunks_df``,
        ``run_gapfill_to_memory``) get their spans from the benchmark's
        phase code instead.  ``rollup_job`` is the loaded job module: it
        imported the plan functions by name, so they are wrapped there.

        The DataFrame, reader and writer classes are taken from live
        objects of ``spark``: since Spark 4 the classic DataFrame is a
        subclass that overrides ``count``, so a wrapper on
        ``pyspark.sql.DataFrame`` would never be reached."""
        df = spark.range(0)
        DataFrame, DataFrameReader, DataFrameWriter = type(df), type(spark.read), type(df.write)

        from biomed_timeseries_preprocessing_spark.operators import retention
        from biomed_timeseries_preprocessing_spark.plans.lineage import LineageLog
        from biomed_timeseries_preprocessing_spark.sources.catalog import (
            LocalSnapshotCatalog,
        )

        def bucket_attr(args, kwargs, out):
            part = args[3] if len(args) > 3 else kwargs.get("partition_values", {})
            return {"table": args[1], "bucket": (part or {}).get("bucket")}

        def lineage_attr(args, kwargs, out):
            rows = args[2] if len(args) > 2 else kwargs["rows"]
            keys = {r[2] for r in rows}
            b = {int(k.split("/")[0]) for k in keys if k[:1].isdigit()}
            return {"bucket": b.pop() if len(b) == 1 else None, "rows": len(rows)}

        def staging(path) -> bool:
            return "/_staging/" in str(path)

        def mark_staged(args, kwargs, out):
            # the row count of the staged table (run() counts it right
            # after the staging write) belongs to the staging layer
            if any(map(staging, args[1:])):
                out._rollbench_staged = True
            return {}

        C = LocalSnapshotCatalog
        # the staging write and its row count are inline in run(): the
        # only parquet I/O whose path is under _staging
        self.wrap(
            DataFrameWriter,
            "parquet",
            lambda w, path, *a, **k: "rollup_job.staging" if staging(path) else None,
        )
        self.wrap(
            DataFrame,
            "count",
            lambda df: "rollup_job.staging" if getattr(df, "_rollbench_staged", False) else None,
        )
        # building a read plan lists files and reads parquet footers
        self.wrap(
            DataFrameReader,
            "parquet",
            lambda r, *paths, **k: "rollup_job.staging"
            if any(map(staging, paths))
            else "plan.read",
            mark_staged,
        )
        for fn in ("gapfill", "with_derived", "rollup_from_turns", "rollup_merge",
                   "attach_audit", "encode_chunks"):
            self.wrap(rollup_job, fn, f"plan.{fn}")
        self.wrap(
            C, "write_data_files", lambda c, t, *a, **k: f"catalog.write:{t}", bucket_attr
        )
        self.wrap(C, "commit_overwrite_partitions", "catalog.commit", bucket_attr)
        self.wrap(C, "append_files", "catalog.commit")
        self.wrap(C, "delete_files_where", "catalog.commit")
        self.wrap(C, "overwrite", "catalog.overwrite")
        self.wrap(C, "read", lambda c, s, t, *a, **k: f"catalog.read:{t}")
        self.wrap(LineageLog, "commit_many", "lineage.commit", lineage_attr)
        self.wrap(LineageLog, "committed", "lineage.lookup")
        self.wrap(retention, "expire_rewrite", "retention.rewrite")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict, adopt: bool):
        self.tracer, self.name, self.attrs, self.adopt = tracer, name, attrs, adopt

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name, dict(self.attrs))
        if self.adopt:
            self.prev_root, self.tracer.root = self.tracer.root, self.sp.id
        return self.sp

    def __exit__(self, *exc) -> None:
        if self.adopt:
            self.tracer.root = self.prev_root
        self.tracer._close(self.sp)


class NullTracer:
    """Stand-in used with tracing off: spans cost nothing."""

    op = None

    def span(self, name: str, adopt: bool = False, **attrs):
        return contextlib.nullcontext(Span(name, 0.0, 0.0, None, None))

"""The workloads: seeded set-up, the timed op, and the check of its output.

An op is a fixed sequence of phases, each a call into one public entry
point of the engine on a fresh warehouse:

- ``archive``   ``rollup_job.run --gapfill --codec-chunks``
- ``decode``    ``decode_chunks_df`` scan of ``codec_chunks`` into the noop sink
- ``stream``    ``run_gapfill_to_memory`` replay, one file per micro-batch
- ``partial``   ``rollup_job.run --gapfill --buckets B --fail-after-buckets K``
- ``resume``    the same run id again, finishing the other ``B - K`` buckets
- ``retention`` ``apply_retention`` at a ``now`` that expires 1m and 5m rows

Every op's output is compared with reference digests of the inline plans
in ``lake.Reference``, computed once per run after the first op's phases.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import lake
from spans import NullTracer

from biomed_timeseries_preprocessing_spark.functions.codec import decode_chunks_df
from biomed_timeseries_preprocessing_spark.operators import retention
from biomed_timeseries_preprocessing_spark.operators.rollup import TIER_ORDER
from biomed_timeseries_preprocessing_spark.session import get_spark
from biomed_timeseries_preprocessing_spark.sources.catalog import get_catalog
from biomed_timeseries_preprocessing_spark.streaming.gapfill_stream import (
    run_gapfill_to_memory,
)

#: retention clock: the synthetic lake spans 2026-01-01 to about 2026-02-01,
#: so the 7-day 1m horizon and the 30-day 5m horizon both cut inside it
RETENTION_NOW = dt.datetime(2026, 2, 6)
#: set-up repetitions (session start + input generation) per run
SETUP_REPS = 3
#: the phases that are one ``rollup_job.run`` call each
ROLLUP_PHASES = ("archive", "partial", "resume")


@dataclass(frozen=True)
class Workload:
    phases: tuple[str, ...]
    turns: int  # lake size (input turns)
    stream_turns: int = 0  # replayed subset of the lake
    buckets: int = 0  # 0 = the job's auto sizing
    kill_after: int = 0


# Each workload runs mechanisms the other bypasses (README.md has the
# layer -> metric -> workload map).  Inputs are small because a run must
# fit ~60 s on a 4-core host and every op is dominated by per-Spark-job
# fixed cost anyway: a lake 8x larger lengthens the op by a quarter and the
# run by half.
WORKLOADS = {
    # nightly rollup with the codec archive, its decode scan and the
    # stateful stream replay: the only Arrow/pandas UDF paths
    "codec_archive": Workload(
        phases=("archive", "decode", "stream"),
        turns=12_000,
        stream_turns=2_000,
    ),
    # kill after 3 of 6 buckets, resume, then tier retention: per-bucket
    # fixed cost, commits and lineage lookups; no codec, no streaming.  Six
    # buckets, not two: the op is many small Spark jobs launched from driver
    # threads, and a longer op averages out more of the host's speed swings
    "resume_retention": Workload(
        phases=("partial", "resume", "retention"),
        turns=12_000,
        buckets=6,
        kill_after=3,
    ),
}


class OpFailed(RuntimeError):
    """An op ran but its output differs from the reference."""


class _Progress(StreamingQueryListener):
    """Keeps every streaming progress report, keyed by query name."""

    def __init__(self):
        self.by_query: dict[str, list] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.by_query.setdefault(p.name, []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n)) for root, _d, names in os.walk(path) for n in names
    )


class Bench:
    """One run of one workload: owns the Spark session and the work dir."""

    def __init__(self, root: str, work: str, name: str, seed: int):
        self.work, self.seed = work, seed
        self.w = WORKLOADS[name]
        self.spark = None
        self.expected = None  # reference digests, computed by the first op's check
        self.tracer = NullTracer()
        self.measure_kernels = False
        self.lake_dir = os.path.join(work, "lake")
        self.stream_dir = os.path.join(work, "stream_in")
        from importlib.util import module_from_spec, spec_from_file_location

        spec = spec_from_file_location(
            "rollup_job", os.path.join(root, "jobs", "rollup_job.py")
        )
        self.rollup_job = module_from_spec(spec)
        spec.loader.exec_module(self.rollup_job)

    # ---------------------------------------------------------- session
    def start_session(self, event_log: bool = False) -> None:
        if self.spark is not None:
            self.spark.stop()
        n = len(os.sched_getaffinity(0))
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(self.work, "ckpt"),
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
        self.spark = get_spark(app_name="rollbench", master=f"local[{n}]", extra_conf=conf)
        # a listener object is bound to the JVM it was first added to
        self.progress = _Progress()
        self.spark.streams.addListener(self.progress)

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ------------------------------------------------------------ set-up
    def make_inputs(self) -> None:
        shutil.rmtree(self.lake_dir, ignore_errors=True)
        shutil.rmtree(self.stream_dir, ignore_errors=True)
        self.turns, self.stream_turns = lake.make_inputs(
            self.spark, self.seed, self.w.turns, self.lake_dir,
            self.w.stream_turns, self.stream_dir,
        )

    def setup(self, event_log: bool = False) -> dict:
        """Session start + input generation, ``SETUP_REPS`` times; the
        first launches the JVM.  ``setup_s`` is the median repetition.
        No op runs here: the op measured next is the first one in this
        JVM, as a nightly job launched on its own would be."""
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.time()
            self.start_session(event_log)
            self.make_inputs()
            reps.append(time.time() - t0)
        return {"setup_reps_s": reps, "setup_s": statistics.median(reps)}

    def reference_frames(self) -> tuple[dict, dict]:
        """Inline plans of every output the op checks, named ``ref:<key>``,
        and on a workload with retention the ``lake.digests`` subsets of
        each retained tier's rows past its horizon cutoff
        (``ref:kept_<tier>``)."""
        ref = lake.Reference(self.spark.read.parquet(self.lake_dir), RETENTION_NOW)
        self.tier_columns = ref.columns
        frames = {f"ref:tier_{t}": df for t, df in ref.tiers.items()}
        if "decode" in self.w.phases:
            frames["ref:codec"] = ref.codec_points()
        if "stream" in self.w.phases:
            frames["ref:stream"] = ref.stream(self.spark.read.parquet(self.stream_dir))
        subsets = {}
        if "retention" in self.w.phases:
            subsets = {f"ref:tier_{t}": (f"ref:kept_{t}", cond) for t, cond in ref.retained.items()}
        return frames, subsets

    # ---------------------------------------------------------------- op
    def op(self, tag) -> dict:
        """Run every phase of one op, then check all of its output.
        Returns phase wall times, facts for the metrics, and ``ok``."""
        wh = os.path.join(self.work, f"wh_{tag}")
        shutil.rmtree(wh, ignore_errors=True)
        ctx = {"tag": tag, "wh": wh, "run_id": f"run_{tag}", "walls": {}, "frames": {},
               "want": {}, "facts": {}, "checks": [], "wall": 0.0}
        try:
            ctx["t_phases"] = [time.time(), None]
            for ph in self.w.phases:
                t0 = time.time()
                with self.tracer.span(f"phase.{ph}", adopt=True):
                    getattr(self, f"_{ph}")(ctx)
                ctx["walls"][ph] = time.time() - t0
            ctx["t_phases"][1] = time.time()
            ctx["wall"] = sum(ctx["walls"].values())
            frames, subsets = {}, {}
            if self.expected is None:  # after the phases, so they run on a cold JVM
                frames, subsets = self.reference_frames()
            for check in ctx["checks"]:
                check()
            frames.update(ctx["frames"])
            got = lake.digests(frames, subsets)
            if self.expected is None:
                self.expected = {k[4:]: v for k, v in got.items() if k.startswith("ref:")}
            bad = [k for k, v in ctx["want"].items() if got.get(k) != self.expected[v]]
            if bad:
                raise OpFailed(f"op {tag}: output differs from the reference in {bad}")
            ctx["facts"].update(warehouse_facts(wh))
            if "stream" in got:
                ctx["facts"]["stream_rows_out"] = got["stream"][0]
            if self.measure_kernels and "decode" in self.w.phases:
                ctx["facts"]["kernels"] = codec_kernels(get_catalog(wh).read(self.spark, "codec_chunks"))
            ctx["ok"] = True
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            import traceback

            traceback.print_exc()
            ctx["ok"], ctx["error"] = False, repr(e)
        finally:
            self._cleanup(ctx)
        return ctx

    def _cleanup(self, ctx) -> None:
        q = ctx.get("query")
        if q:
            self.spark.catalog.dropTempView(q)
            shutil.rmtree(os.path.join(self.work, "ckpt", q), ignore_errors=True)
        shutil.rmtree(ctx["wh"], ignore_errors=True)

    def _rollup(self, ctx, *extra: str) -> dict:
        rj = self.rollup_job
        argv = ["--source", self.lake_dir, "--warehouse", ctx["wh"],
                "--run-id", ctx["run_id"], "--gapfill", *extra]
        with self.tracer.span("rollup_job.run", adopt=True):
            return rj.run(rj.parse_args(argv), self.spark)

    def _expect_tiers(self, ctx, key: str, want: str, snapshots: dict | None = None) -> None:
        """Queue the four tier tables (at ``snapshots``, else current) for
        the digest check against the reference ``want`` ("tier" or "kept")."""
        cat = get_catalog(ctx["wh"])
        for t in TIER_ORDER:
            table = f"rollup_{t}"
            snap = snapshots[table] if snapshots else None
            cols = self.tier_columns[t]
            ctx["frames"][f"{key}_{t}"] = cat.read(self.spark, table, snap).select(*cols)
            # a tier without a retention horizon keeps every row
            kept = want == "kept" and retention.DEFAULT_RETENTION[t] is not None
            ctx["want"][f"{key}_{t}"] = f"kept_{t}" if kept else f"tier_{t}"

    # ------------------------------------------------------------ phases
    # A phase times only the engine call; what it checks is queued in
    # ctx["checks"] and runs after the last phase.
    def _archive(self, ctx) -> None:
        self._rollup(ctx, "--codec-chunks")
        ctx["checks"].append(lambda: self._expect_tiers(ctx, "tier", "tier"))

    def _decode(self, ctx) -> None:
        cat = get_catalog(ctx["wh"])
        with self.tracer.span("codec.decode_scan"):
            decode_chunks_df(cat.read(self.spark, "codec_chunks")).write.format(
                "noop"
            ).mode("overwrite").save()

        def check():
            chunks = cat.read(self.spark, "codec_chunks")
            ctx["frames"]["codec"] = lake.decoded_view(decode_chunks_df(chunks))
            ctx["want"]["codec"] = "codec"
            sums = [F.sum(c).alias(c) for c in ("n", "ts_bytes", "latency_bytes", "token_bytes")]
            ctx["facts"]["codec"] = chunks.agg(*sums).collect()[0].asDict()

        ctx["checks"].append(check)

    def _stream(self, ctx) -> None:
        q = ctx["query"] = f"gapfill_{ctx['tag']}"
        with self.tracer.span("stream.replay"):
            out = run_gapfill_to_memory(self.spark, self.stream_dir, q)

        def check():
            ctx["frames"]["stream"] = out
            ctx["want"]["stream"] = "stream"
            ctx["facts"]["stream"] = self._progress_of(q)

        ctx["checks"].append(check)

    def _progress_of(self, q: str) -> list:
        """Progress reports of query ``q`` (delivered asynchronously; wait
        until they account for every input row)."""
        deadline = time.time() + 30
        while time.time() < deadline:
            reps = self.progress.by_query.get(q, [])
            if sum(p.numInputRows for p in reps) >= self.stream_turns:
                return reps
            time.sleep(0.05)
        raise OpFailed(f"stream {q}: progress reports missing")

    def _partial(self, ctx) -> None:
        try:
            self._rollup(ctx, "--buckets", str(self.w.buckets),
                         "--fail-after-buckets", str(self.w.kill_after))
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise OpFailed("the kill hook did not stop the partial run")

    def _resume(self, ctx) -> None:
        stats = self._rollup(ctx, "--buckets", str(self.w.buckets))
        if stats["buckets_run"] != self.w.buckets - self.w.kill_after:
            raise OpFailed(f"resume ran {stats['buckets_run']} buckets")
        cat = get_catalog(ctx["wh"])
        snaps = {f"rollup_{t}": cat.snapshots(f"rollup_{t}")[-1]["snapshot_id"]
                 for t in TIER_ORDER}
        ctx["snaps"] = snaps
        ctx["checks"].append(lambda: self._expect_tiers(ctx, "tier", "tier", snaps))

    def _retention(self, ctx) -> None:
        with self.tracer.span("retention.apply"):
            removed = retention.apply_retention(get_catalog(ctx["wh"]), self.spark, RETENTION_NOW)
        if not (removed.get("1m", 0) > 0 and removed.get("5m", 0) > 0):
            raise OpFailed(f"retention removed {removed}")

        def check():
            cat = get_catalog(ctx["wh"])
            new = set()
            for table, snap_id in ctx["snaps"].items():
                snaps = {s["snapshot_id"]: s for s in cat.snapshots(table)}
                old = {f["path"] for f in snaps[snap_id]["files"]}
                new |= {f["path"] for f in snaps[max(snaps)]["files"]} - old
            ctx["facts"]["retention"] = {
                "rows_removed": sum(removed.values()),
                "bytes_rewritten": sum(os.path.getsize(p) for p in new),
            }
            self._expect_tiers(ctx, "kept", "kept")

        ctx["checks"].append(check)


def warehouse_facts(wh: str) -> dict:
    """Bytes on disk and snapshot metadata left by one op."""
    snaps = meta = 0
    for root, _dirs, names in os.walk(wh):
        if os.path.basename(root) == "metadata":
            snaps += sum(1 for n in names if n.startswith("snap-"))
            meta += sum(os.path.getsize(os.path.join(root, n)) for n in names
                        if n.endswith(".json"))
    return {
        "stored_bytes": dir_bytes(wh),
        "meta": {"commits": snaps, "meta_bytes": meta,
                 "staging_bytes": dir_bytes(os.path.join(wh, "_staging"))},
    }


def codec_kernels(chunks) -> dict:
    """The numpy batch kernels alone, single-threaded in this Python process, on
    the committed blobs: decode them, then encode the decoded arrays
    again (which must give the same bytes)."""
    from biomed_timeseries_preprocessing_spark.functions import codec_batch as cb

    pdf = chunks.select("ts_blob", "latency_blob", "token_blob").toPandas()
    blobs = [list(map(bytes, pdf[c])) for c in ("ts_blob", "latency_blob", "token_blob")]
    t0 = time.perf_counter()
    ts, starts = cb.decode_dod_batch(blobs[0])
    lat, _ = cb.decode_xor_batch(blobs[1])
    tok, _ = cb.decode_dod_batch(blobs[2])
    t1 = time.perf_counter()
    again = [cb.encode_dod_batch(ts, starts), cb.encode_xor_batch(lat, starts),
             cb.encode_dod_batch(tok, starts)]
    t2 = time.perf_counter()
    if [list(map(bytes, a)) for a in again] != blobs:
        raise OpFailed("batch codec re-encode differs from the committed blobs")
    return {"decode_kernel_s": t1 - t0, "encode_kernel_s": t2 - t1, "points": len(ts)}

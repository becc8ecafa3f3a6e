"""Plan-regression tests: the physical plans the engine is designed
around must not silently regress (SURVEY §4's Catalyst table).

- parquet scans prune to referenced columns (projection pushdown);
- the derive→1m→5m→1h→1d cascade introduces exactly ONE exchange: the
  derive window's hash partitioning by conv_id satisfies every
  downstream groupBy (clustering on a grouping-key subset);
- filters on scan columns reach the parquet reader (PushedFilters);
- a group plan builds from SQL text: its Py4J round trips stay in budget.
"""

import threading

from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill
from biomed_timeseries_preprocessing_spark.operators.rollup import (
    TIER_ORDER,
    rollup_cascade,
    rollup_from_turns,
    rollup_merge,
)


def plan_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_column_pruning(spark, small_transcripts, tmp_path):
    path = str(tmp_path / "t")
    small_transcripts.write.parquet(path)
    df = spark.read.parquet(path).select("conv_id", "ts")
    p = plan_str(df)
    scan_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "conv_id" in scan_schema and "ts" in scan_schema
    assert "text" not in scan_schema and "role" not in scan_schema


def test_filter_pushdown(spark, small_transcripts, tmp_path):
    path = str(tmp_path / "t2")
    small_transcripts.write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("conv_id") == "conv_00000001")
    p = plan_str(df)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "conv_id" in pushed and "IsNotNull" in pushed or "EqualTo" in pushed


def test_cascade_single_exchange(spark, small_transcripts, tmp_path):
    path = str(tmp_path / "t3")
    small_transcripts.write.parquet(path)
    turns = spark.read.parquet(path)
    tiers = rollup_cascade(with_derived(turns))
    import re

    p = plan_str(tiers["1d"])
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.MULTILINE))
    # one exchange for the derive window; every tier merge rides the same
    # conv_id hash partitioning. (AQE may add a final coalesce read, which
    # is not an Exchange node.)
    assert n_exchanges == 1, f"cascade grew extra shuffles:\n{p}"


#: Py4J round trips allowed for building one group plan's tier frame.
#: The SQL-text operators take ~230 on a warm JVM; built from column
#: functions (``F.col``, ``F.when``, ``.alias``, ...) the same plan took
#: ~2,450, every one of them serial driver time on the job's critical path.
PLAN_ROUND_TRIP_BUDGET = 400


def test_group_plan_builds_within_round_trip_budget(spark, small_transcripts, monkeypatch):
    def build():
        derived = with_derived(gapfill(small_transcripts))
        return rollup_merge(rollup_from_turns(derived, TIER_ORDER[0]), TIER_ORDER)

    build()  # warm the JVM views and the input's cached schema
    sent = []
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        # the build's own sends only: py4j's finalizer thread sends object
        # deletes ("m\nd") through the same class in the background
        if threading.get_ident() == me:
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    assert 0 < len(sent) <= PLAN_ROUND_TRIP_BUDGET, f"{len(sent)} Py4J round trips"


def test_lsh_topk_broadcasts_query_side(spark):
    """ANN candidate generation must broadcast the (small) probe side and
    never shuffle the embedding table for the join."""
    import numpy as np

    from biomed_timeseries_preprocessing_spark.operators.similarity import lsh_topk

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    p = plan_str(lsh_topk(emb, q, dim=8, k=3))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_shared_shingle_pairs_no_cartesian(spark):
    """The near-dup candidate join is an equi-join on the shingle
    inverted index — a cartesian product here would be the quadratic
    all-pairs the design exists to avoid."""
    from biomed_timeseries_preprocessing_spark.operators.components import (
        shared_shingle_pairs,
    )
    from biomed_timeseries_preprocessing_spark.operators.dedup import word_shingles

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} words here") for i in range(20)],
        "doc_id long, text string",
    )
    p = plan_str(shared_shingle_pairs(word_shingles(docs)))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_decode_scan_prunes_to_blob_columns(spark, small_transcripts):
    """The decompression scan reads only the blob columns it decodes —
    byte-size/bookkeeping columns must be pruned at the parquet reader."""
    import os
    import tempfile

    from biomed_timeseries_preprocessing_spark.functions.codec import (
        decode_chunks_df,
        encode_chunks,
    )
    from biomed_timeseries_preprocessing_spark.operators.derive import with_derived

    work = tempfile.mkdtemp(prefix="dec_plan_")
    path = os.path.join(work, "chunks")
    encode_chunks(with_derived(small_transcripts)).write.mode("overwrite").parquet(path)
    p = plan_str(decode_chunks_df(spark.read.parquet(path)))
    scan_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "ts_blob" in scan_schema and "latency_blob" in scan_schema
    assert "raw_bytes" not in scan_schema and "ts_bytes" not in scan_schema


def test_session_multiwave_coalesce_config(spark):
    """Gate-critical session config (BENCH/BASELINE.md round-4 gate
    closure): AQE's size-based coalesce target is
    min(advisory, max(shuffleBytes/defaultParallelism, minSize)); with
    defaultParallelism = cores every mid-size reduce stage coalesces to
    ONE task wave (measured: the 54M-turn cascade's window+sort+agg
    stage ran 18 tasks at 16 cores, ~10 s of tail — solo 4→16 scaling
    0.73). The engine pins defaultParallelism to 4× the session cores so
    reduce stages aim at ~4 packed waves (measured 0.95 solo / 0.96 iso
    median after the fix). Locks the config so a 'simplification' can't
    silently reopen the gate."""
    n_cores = spark.sparkContext.defaultParallelism  # = master threads
    # local[4] fixture: spark.default.parallelism must read 4 × 4 = 16…
    # …but defaultParallelism() itself reflects the conf when set, so
    # assert on the conf value against the master string instead.
    master = spark.sparkContext.master  # "local[4]"
    threads = int(master[master.find("[") + 1 : master.find("]")])
    assert spark.conf.get("spark.default.parallelism") == str(4 * threads)
    assert n_cores == 4 * threads  # conf actually took effect
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        == str(16 * threads)
    )
    # batch exchanges start at initialPartitionNum; shuffle.partitions is
    # the state-partition count of stateful streams: one per core
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(threads)
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        )
        == "true"
    )


def test_simhash_candidates_single_join_plan(spark):
    """The chunk-banded candidate join must stay ONE self-join on
    (cid, val) over exploded chunk rows — the union-of-4-per-chunk-joins
    shape embedded the fingerprint aggregation 8x in the plan (each join
    shuffling on a different key, nothing reusable; measured 52-58 s vs
    12 s at 50k docs)."""
    import re

    from biomed_timeseries_preprocessing_spark.operators.dedup import (
        simhash,
        simhash_candidates,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2}") for i in range(20)],
        "doc_id long, text string",
    )
    p = plan_str(simhash_candidates(simhash(docs)))
    assert len(re.findall(r"^\(\d+\) Union", p, flags=re.MULTILINE)) == 0, (
        f"candidate generation regressed to a union of per-chunk joins:\n{p}"
    )
    joins = len(re.findall(r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", p))
    assert joins <= 2, f"expected one self-join (<=2 join nodes with AQE):\n{p}"


def test_connected_components_single_scan_symmetrize(spark):
    """Edge symmetrization must evaluate the (potentially expensive)
    edge plan ONCE: explode(array(struct(s,d), struct(d,s))), not a
    two-branch union that recomputes the upstream per branch (measured
    2x the whole pairs computation on the 50k-doc clusters path)."""
    import re

    from pyspark.sql import functions as F

    from biomed_timeseries_preprocessing_spark.operators.components import (
        connected_components,
    )

    nodes = spark.range(6).select(F.col("id").cast("long").alias("id"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "doc_a long, doc_b long"
    )
    comp = connected_components(nodes, edges)
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
    # plan-shape lock on the symmetrize subplan itself
    sym_plan = plan_str(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("s"), F.col("doc_b").alias("d")),
                    F.struct(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")),
                )
            ).alias("e")
        ).select("e.s", "e.d").distinct()
    )
    assert re.search(r"^\(\d+\) Generate", sym_plan, flags=re.MULTILINE)
    assert "Union" not in sym_plan
    import inspect

    from biomed_timeseries_preprocessing_spark.operators import components

    src = inspect.getsource(components.connected_components)
    assert "unionByName" not in src.split("localCheckpoint")[0], (
        "symmetrize reverted to the double-eval union"
    )


def test_fill_label_gaps_single_scan_plan(spark):
    """r5 plan-shape lock: fill_label_gaps emits gaps + originals from
    ONE windowed scan (explode of a struct array) — no Union fan-out
    re-evaluating the joined frame per branch (the retired 4-branch
    shape), and exactly one sort-based window partition chain."""
    from biomed_timeseries_preprocessing_spark.operators.intervals import (
        fill_label_gaps,
    )

    iv = spark.createDataFrame(
        [("c1", 0, 10, "A"), ("c1", 20, 30, "A")],
        "conv_id string, s long, e long, label string",
    ).select(
        "conv_id",
        F.timestamp_micros(F.col("s") * 1_000_000).alias("start_ts"),
        F.timestamp_micros(F.col("e") * 1_000_000).alias("end_ts"),
        "label",
    )
    spans = spark.createDataFrame([("c1",)], "conv_id string").select(
        "conv_id",
        F.timestamp_micros(F.lit(0)).alias("span_start"),
        F.timestamp_micros(F.lit(40_000_000)).alias("span_end"),
    )
    import re

    out = fill_label_gaps(iv, spans)
    plan = plan_str(out)
    assert "Union" not in plan  # single scan, not 4 branches
    assert re.search(r"\(\d+\) Generate", plan)  # the explode emit
    # intervals [0,10]A + [20,30]A over span [0,40]: mid gap [10,20] and
    # tail gap [30,40], no head gap (first interval starts at span start)
    labels = sorted((r["label"], r["start_ts"].isoformat()) for r in out.collect())
    assert [l for l, _ in labels] == ["A", "A", "Background", "Background"]

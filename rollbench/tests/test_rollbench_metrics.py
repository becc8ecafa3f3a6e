"""BENCHMARK.json obeys the benchmark contract, and every metric it names
is produced by the benchmark."""

import json
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import layers
import run
from lake import prefix

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_contract_shape():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert s["paths"] == ["rollbench"]
    assert s["command"][1].startswith("rollbench/")
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    assert 2 <= len(s["workloads"]) <= 8
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert 1 <= len(s["end_to_end"]) <= 16 and 1 <= len(s["per_layer"]) <= 128
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_metric_names_and_units_valid_and_unique():
    s = spec()
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in s[k]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    for m in s["end_to_end"] + s["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")


def test_workloads_match_the_benchmark():
    from workloads import WORKLOADS

    assert [w["name"] for w in spec()["workloads"]] == list(WORKLOADS)


def _fake_op(phases):
    walls = {p: 1.0 for p in phases}
    return {"ok": True, "wall": float(len(phases)), "walls": walls, "facts": {
        "stored_bytes": 1000,
        "codec": {"n": 10, "ts_bytes": 1, "latency_bytes": 2, "token_bytes": 3},
        "stream": [SimpleNamespace(numInputRows=5, durationMs={"triggerExecution": 7})],
    }}


def test_every_end_to_end_metric_is_produced_on_every_workload():
    from workloads import WORKLOADS

    names = {m["name"] for m in spec()["end_to_end"]}
    for w in WORKLOADS.values():
        bench = SimpleNamespace(w=w, turns=100, stream_turns=10)
        out = run.end_to_end(bench, {"setup_s": 1.0}, [_fake_op(w.phases)], 1.0)
        assert names <= set(out), names - set(out)
        assert all(out[n] > 0 for n in names)


def test_every_per_layer_metric_is_produced():
    names = {m["name"] for m in spec()["per_layer"]}
    produced = set(layers.op_layers([], {})) | set(layers.engine([], {}, [(0, 1)])[0])
    produced.add("trace.op_s")
    assert names <= produced, names - produced


def test_prefix_skips_conversations_that_overflow():
    convs = [("a", 5), ("b", 10), ("c", 3), ("d", 1)]
    assert prefix(convs, 9) == [("a", 5), ("c", 3), ("d", 1)]
    assert prefix(convs, 100) == convs


def test_exits_without_result_when_the_engine_is_absent(tmp_path):
    # a directory holding only BENCHMARK.json and the benchmark's own files
    shutil.copytree(os.path.join(ROOT, "rollbench"), tmp_path / "rollbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    argv = ["--workload", "codec_archive", "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run([sys.executable, "rollbench/run.py", *argv], cwd=tmp_path,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""

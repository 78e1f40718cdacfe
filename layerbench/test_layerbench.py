"""Self-tests of the layer benchmark. Run from the repository root::

    python3 -m pytest layerbench -q -p no:cacheprovider

The Spark test starts one worker (about two minutes on 4 cores).
"""
from __future__ import annotations

import hashlib
import json
import os
import pathlib
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from datagen import Sizes, generate  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digests(d: str) -> dict[str, str]:
    return {n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(d))}


@pytest.fixture
def tmp_path(request):
    """A scratch directory inside the repository's ignored benchmark dir."""
    path = os.path.join(REPO, ".layerbench", f"selftest-{request.node.name}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield pathlib.Path(path)
    shutil.rmtree(path, ignore_errors=True)


def test_generator_is_byte_identical_per_seed(tmp_path):
    sizes = Sizes(docs=120, events=500, users=20, vectors=40)
    generate(str(tmp_path / "a"), 5, sizes)
    generate(str(tmp_path / "b"), 5, sizes)
    generate(str(tmp_path / "c"), 6, sizes)
    a = _digests(str(tmp_path / "a"))
    assert set(a) == {"documents.parquet", "events.parquet", "embeddings.parquet"}
    assert a == _digests(str(tmp_path / "b"))
    assert all(a[n] != h for n, h in _digests(str(tmp_path / "c")).items())


def test_benchmark_json_follows_the_contract():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(w["why"] == WORKLOADS[w["name"]].why for w in spec["workloads"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _fake_passes(fp: str) -> list[dict]:
    q = {"q1": {"fp": fp, "rows": 3, "s": 1.0}, "q2": {"error": "boom", "s": 0.5}}
    return [{"pass": k, "timed": k > 0, "traced": False, "wall_s": 2.0 + k, "cpu_s": 4.0,
             "jobs": 7, "batches": 0, "queries": q} for k in range(3)]


def test_wrong_fingerprint_or_raised_query_lowers_success_ratio():
    passes = _fake_passes("aa")
    res = {"passes": passes, "first_timed_monotonic": 10.0}
    attempted, matched = run.score(passes, {"q1": "aa", "q2": "bb"})
    assert (attempted, matched) == (6, 3)  # the query that raised counts as failed
    attempted, matched = run.score(passes, {"q1": "wrong", "q2": "bb"})
    m = run.end_to_end(res, 100, 4.0, 2**20, attempted, matched)
    assert m["success_ratio"] == 0.0
    # the raised query's time stays inside job_s: median of 3.0 and 4.0
    assert m["job_s"] == 3.5 and m["setup_s"] == 6.0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "layerbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "layerbench/run.py", "--workload", "convert", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0 and out.stdout == ""


@pytest.fixture(scope="module")
def traced_run():
    """One traced run over a batch (q63), a pandas-UDF (q130) and a
    streaming (q140) query, plus the convert and ingest queries."""
    queries = ("q63_dedup_ngram_jaccard", "q130_tei_structure_roundtrip",
               "q140_streaming_session_window")
    queries += tuple(q for w in WORKLOADS.values() for q in w.queries if q not in queries)
    wl = Workload(name="selftest", queries=queries,
                  sizes=Sizes(docs=120, events=2000, users=40),
                  rows_tables=("documents",), why="self-test")
    line, detail = run.run_once(REPO, wl, seed=3, seconds=30, trace=True)
    with open(os.path.join(REPO, ".layerbench", "trace-selftest-s3.json"),
              encoding="utf-8") as f:
        spans = json.load(f)["spans"]
    return line, detail, spans


def test_generated_inputs_pass_every_oracle(traced_run):
    line, detail, _ = traced_run
    assert line["failed"] == 0 and line["correct"], detail
    assert detail["repeat_ok"]


def test_traced_record_has_every_layer_key(traced_run):
    line, _, spans = traced_run
    declared = run.declared_metrics(REPO, trace=True)
    assert {k: m["unit"] for k, m in line["metrics"].items()} == declared
    values = {k: m["value"] for k, m in line["metrics"].items()}
    assert values["python.run_s"] > 0 and values["python.bytes_sent"] > 0  # q130
    assert values["streaming.batches"] > 0 and values["streaming.state_rows"] > 0  # q140
    assert values["exec.jobs"] > 0 and values["catalyst.optimization_s"] > 0
    assert values["sinks.tei_s"] > 0 and values["plans.cascade_s"] > 0
    for q in ("q63_dedup_ngram_jaccard", "q130_tei_structure_roundtrip",
              "q140_streaming_session_window"):
        kinds = {s["name"] for s in spans if s.get("query") == q}
        assert {"queries.build", "exec.action"} <= kinds, q
    batches = [s for s in spans if s["name"] == "streaming.batch"]
    assert batches and all(s["parent"] is not None for s in batches)
    assert all(s["self_s"] >= -1e-9 for s in spans)


def test_end_to_end_metrics_are_declared_with_units():
    declared = run.declared_metrics(REPO, trace=False)
    passes = _fake_passes("aa")
    m = run.end_to_end({"passes": passes, "first_timed_monotonic": 1.0}, 10, 0.0, 1, 6, 6)
    assert set(m) == set(declared)

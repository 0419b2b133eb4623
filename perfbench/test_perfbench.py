"""Tests for the benchmark's own code (not the program under test).

Run from the repository root:  python -m pytest perfbench -q

``testdata/eventlog_small.jsonl`` was recorded from a traced
``run_pipeline`` with the exact and minhash detectors over 30 fixture
rows, then trimmed to the four event kinds the parser reads (job start
and end, SQL execution start with its plan tree cut down to the write
node, task end with its metrics).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import eventlog, gen, metrics, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL_LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


# ---------------------------------------------------------------- generator

def _tables(d: str) -> dict[str, object]:
    out = {}
    for dirpath, _dirs, files in os.walk(d):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, d)
            out[rel] = pq.read_table(path) if name.endswith(".parquet") else open(path).read()
    return out


@pytest.mark.parametrize("build,n", [(gen.build_images_batch, 200), (gen.build_images_stream, 40)])
def test_generator_is_a_function_of_the_seed(tmp_path, build, n):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / tag
        out.mkdir()
        build(str(out), seed, n)
        runs[tag] = _tables(str(out))
    assert runs["a"].keys() == runs["b"].keys() == runs["c"].keys()
    for rel, a in runs["a"].items():
        b, c = runs["b"][rel], runs["c"][rel]
        if isinstance(a, str):
            assert a == b
        else:
            assert a.equals(b), rel
    assert any(
        (a != runs["c"][rel]) if isinstance(a, str) else not a.equals(runs["c"][rel])
        for rel, a in runs["a"].items()
    )


def test_planted_truth_refers_to_generated_ids(tmp_path):
    gen.build_images_batch(str(tmp_path), 3, 200)
    truth = gen.load_truth(str(tmp_path))
    ids = set()
    for d in ("base", "append"):
        ids.update(pq.read_table(str(tmp_path / d)).column("image_id").to_pylist())
    assert truth["pairs"] and truth["controls"]
    assert all(a in ids and b in ids for a, b in truth["pairs"] + truth["controls"])
    assert any(p[0].startswith("app_") or p[1].startswith("app_") for p in truth["pairs"])


def test_ensure_inputs_builds_once(tmp_path, monkeypatch):
    calls = []

    def build(out, seed, n):
        calls.append(seed)
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump({"pairs": [], "controls": []}, f)

    monkeypatch.setitem(gen.GENERATORS, "fake", (build, 5))
    first = gen.ensure_inputs(str(tmp_path), "fake", 1)
    assert gen.ensure_inputs(str(tmp_path), "fake", 1) == first
    assert calls == [1]
    assert os.listdir(tmp_path) == [os.path.basename(first)]


def test_controls_sit_just_below_each_threshold(tmp_path):
    """Each near-miss control pair misses exactly one detector's
    threshold by a small margin and is far from the others."""
    from dude_spark.operators.verify import shingle_set

    gen.build_images_batch(str(tmp_path), 11, 300)
    rows = pq.read_table(str(tmp_path / "base")).to_pandas().set_index("image_id")
    seen = set()
    for k, (a, b) in enumerate(gen.load_truth(str(tmp_path))["controls"]):
        kind = gen.CONTROL_KINDS[k % len(gen.CONTROL_KINDS)]
        seen.add(kind)
        ca, cb = rows.caption[a], rows.caption[b]
        sa, sb = shingle_set(ca, gen.SHINGLE_K), shingle_set(cb, gen.SHINGLE_K)
        jac = len(sa & sb) / len(sa | sb)
        assert jac == gen._jaccard(ca, cb, gen.SHINGLE_K)
        phash = gen._hamming(int(rows.phash[a]), int(rows.phash[b]))
        assert jac < gen.JACCARD_FLOOR
        assert not gen._shares(ca, cb, gen.MIN_MATCH_LEN)
        assert gen._hamming(gen._caption_simhash(ca), gen._caption_simhash(cb)) > gen.CAPTION_RADIUS
        assert phash > gen.PHASH_RADIUS
        assert rows.bytes[a] != rows.bytes[b]
        if kind == "jaccard":
            assert gen.JACCARD_FLOOR - 0.15 <= jac
        elif kind == "substring":
            assert gen._shares(ca, cb, gen.MIN_MATCH_LEN - 1)
        else:
            assert phash <= gen.PHASH_RADIUS + 3
    assert seen == set(gen.CONTROL_KINDS)


# ------------------------------------------------------------------ checks

def test_components_reference_and_recall():
    pairs = [("b", "c"), ("a", "b"), ("x", "y")]
    assign = workloads._components(pairs)
    assert assign == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    truth = {"pairs": [["a", "c"], ["x", "y"], ["p", "q"]], "controls": [["a", "x"], ["b", "c"]]}
    recall, false, planted = workloads.recall_and_false_pairs(assign, truth)
    assert (round(recall, 6), false, planted) == (round(2 / 3, 6), 1, 3)


def test_assignments_hash_ignores_order():
    a = {"x": "1", "y": "1"}
    b = {"y": "1", "x": "1"}
    assert workloads.assignments_hash(a) == workloads.assignments_hash(b)
    assert workloads.assignments_hash(a) != workloads.assignments_hash({"x": "1"})


# ---------------------------------------------------------------- event log

def test_union_and_idle():
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)], (8, 35)) == 17
    log = eventlog.EventLog({}, {}, {}, [(0, {}, 10, 20), (0, {}, 15, 30)])
    assert eventlog.idle_ms(log, (0, 40)) == 20


def _raw_task_ms(path: str) -> int:
    total = 0
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] == "SparkListenerTaskEnd":
                total += e["Task Metrics"]["Executor Run Time"]
    return total


def test_parser_per_layer_sums_on_recorded_log():
    log = eventlog.read_event_log([SMALL_LOG])
    placed = eventlog.attribute(log, workloads._batch_scope, workloads._batch_layer)
    costs = eventlog.costs(log, placed)
    by_layer: dict = {}
    for key, c in costs.items():
        layer = None if key is None else key[1]
        by_layer[layer] = by_layer.get(layer, 0) + c.task_ms
    # nothing lost or double counted
    assert sum(by_layer.values()) == _raw_task_ms(SMALL_LOG)
    assert by_layer == EXPECTED_LAYER_TASK_MS
    # each detector chain's jobs carry its own group description
    scopes = {k[0] for k in costs if k is not None}
    assert {"warm/exact", "warm/minhash", "warm/pipeline"} <= scopes


# executor run time (ms) per layer, from a hand check of the recorded log
EXPECTED_LAYER_TASK_MS = {
    "detectors.exact": 1550,
    "detectors.minhash": 6135,
    "operators.candidates.exact": 3907,
    "operators.candidates.minhash": 1242,
    "operators.verify.exact": 363,
    "operators.verify.minhash": 1096,
    "operators.components": 1141,
    "operators.report": 115,
    "lineage": 116,
}


# ----------------------------------------------------------- names, contract

def test_metric_names_and_counts():
    end_to_end, per_layer = metrics.load(os.path.join(ROOT, "BENCHMARK.json"))
    assert 1 <= len(end_to_end) <= 16
    assert 1 <= len(per_layer) <= 128
    for name in list(end_to_end) + list(per_layer):
        assert metrics.NAME_RE.match(name), name
    assert not set(end_to_end) & set(per_layer)


def test_run_refuses_a_tree_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "images_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest coldbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import certify  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spans import Tracer, self_time, union_length  # noqa: E402


# -- inputs are a function of the seed ---------------------------------------

def _digest(obj) -> str:
    h = hashlib.sha256()
    for k in sorted(obj):
        v = obj[k]
        h.update(k.encode())
        h.update(np.ascontiguousarray(v).tobytes() if isinstance(v, np.ndarray)
                 else json.dumps(v).encode())
    return h.hexdigest()


GENERATORS = [
    lambda s: inputs.dense_glm(s, 500, 8, "binomial"),
    lambda s: inputs.dense_glm(s, 500, 8, "poisson"),
    lambda s: inputs.sparse_onehot(s, 300, 50, 4, "binomial"),
    lambda s: inputs.corpus(s, 60, 10),
]


@pytest.mark.parametrize("gen", GENERATORS)
def test_same_seed_same_inputs_other_seed_other_inputs(gen):
    assert _digest(gen(7)) == _digest(gen(7))
    assert _digest(gen(7)) != _digest(gen(8))


def test_parquet_files_are_byte_identical(tmp_path):
    data = inputs.sparse_onehot(3, 200, 40, 4, "gaussian")
    digests = []
    for name in ("a", "b"):
        path = str(tmp_path / name)
        inputs.write_parquet(inputs.to_pandas(data, "sparse"), path, 4)
        files = sorted(os.listdir(path))
        assert len(files) == 4
        digests.append([hashlib.sha256(open(os.path.join(path, f), "rb").read())
                        .hexdigest() for f in files])
    assert digests[0] == digests[1]


def test_corpus_plants_near_duplicates():
    c = inputs.corpus(5, 100, 20)
    pairs = certify.planted_pairs(c["cluster"])
    assert pairs and all(certify.jaccard(c["tokens"][a], c["tokens"][b]) >= 0.8
                         for a, b in pairs)
    assert len({len(t) for t in c["text"]}) == 1  # one dedup length block


# -- span arithmetic ---------------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([], 0, 1) == 0.0
    assert union_length([(2, 3)], 0, 1) == 0.0


def _span(tracer, layer, start, end, parent=None):
    with tracer.span(layer, layer) as sp:
        pass
    sp.start, sp.end, sp.parent = start, end, parent
    if parent is not None:
        parent.children.append(sp)
    return sp


def test_self_time_subtracts_union_of_concurrent_children():
    t = Tracer()
    cv = _span(t, "cv", 0.0, 10.0)
    _span(t, "path", 1.0, 6.0, cv)   # two cells running at once
    _span(t, "path", 2.0, 7.0, cv)
    _span(t, "score", 8.0, 9.0, cv)
    assert self_time(cv) == pytest.approx(10.0 - 6.0 - 1.0)


def test_outermost_span_per_key_only():
    t = Tracer()

    def inner():
        return 1

    wrapped_inner = t.wrap("backends", "eval_hess", inner)

    def outer():
        return wrapped_inner()

    t.wrap("backends", "eval_hess", outer)()
    assert [s.layer for s in t.spans] == ["backends"]
    solver = t.wrap("solvers", "prox_newton", lambda: wrapped_inner())
    solver()
    layers_seen = sorted(s.layer for s in t.spans)
    assert layers_seen == ["backends", "backends", "solvers"]
    child = [s for s in t.spans if s.parent is not None]
    assert len(child) == 1 and child[0].parent.layer == "solvers"


def test_pool_workers_inherit_the_submitting_span():
    import types

    t = Tracer()
    mod = types.SimpleNamespace(ThreadPoolExecutor=None)
    from concurrent.futures import ThreadPoolExecutor

    mod.ThreadPoolExecutor = ThreadPoolExecutor
    t.patch_pool(mod)
    cell = t.wrap("path", "owl", lambda: time.sleep(0.01))
    with t.span("cv", "train_owl_spark") as cv:
        with mod.ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(lambda _: cell(), range(2)))
    t.uninstall()
    assert mod.ThreadPoolExecutor is ThreadPoolExecutor
    assert len(cv.children) == 2
    assert all(c.parent is cv for c in cv.children)
    assert threading.active_count() >= 1


def test_uninstall_restores_lookup_sites():
    import types

    mod = types.SimpleNamespace(f=lambda: 3)
    orig = mod.f
    t = Tracer()
    t.patch(mod, "f", "path")
    assert mod.f is not orig and mod.f() == 3
    t.uninstall()
    assert mod.f is orig


# -- the numpy certificates --------------------------------------------------

def test_sorted_l1_prox_matches_definition():
    rng = np.random.default_rng(0)
    v = rng.standard_normal(6)
    lam = np.sort(rng.uniform(0, 1, 6))[::-1]
    x = certify.sorted_l1_prox(v, lam)

    def obj(z):
        return 0.5 * np.sum((z - v) ** 2) + np.sum(lam * np.sort(np.abs(z))[::-1])

    for _ in range(200):
        z = x + 1e-3 * rng.standard_normal(6)
        assert obj(x) <= obj(z) + 1e-12


# -- the output contract -----------------------------------------------------

def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_every_metric_a_run_prints():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    from workloads import WORKLOADS

    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


def test_layer_metrics_cover_every_per_layer_name():
    t = Tracer()
    cv = _span(t, "cv", 0.0, 4.0)
    _span(t, "path", 0.5, 3.5, cv)
    fit = _span(t, "path", 5.0, 9.0)
    fit.name = "dense"
    _span(t, "backends", 5.5, 8.0, fit)
    metrics = layers.metrics(t, [0], {"backends": 3}, [0, 2])
    metrics["session.start_s"] = 1.0
    metrics["trace.overhead_s"] = 0.1
    assert set(metrics) == set(layers.UNITS)
    assert metrics["backends.share.dense"] == pytest.approx(2.5 / 4.0)
    assert metrics["cv.self_s"] == pytest.approx(1.0)
    assert metrics["spark.persisted_after_op"] == 2


def test_result_line_has_exactly_the_contract_keys():
    line = run.result_line({"setup_s": 1.0, "op_s": 2.0, "rows_per_s": 3.0,
                            "driver_rss_mb": 4.0}, run.E2E_UNITS, 3, 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert set(line["metrics"]) == set(run.E2E_UNITS)
    assert all(set(v) == {"value", "unit"} for v in line["metrics"].values())


def test_fails_without_result_outside_a_checkout(tmp_path):
    shutil.copytree(BENCH, tmp_path / "coldbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "coldbench/run.py", "--workload", "glm_cold",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""

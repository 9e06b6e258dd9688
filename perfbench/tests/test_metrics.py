"""Metric arithmetic, references, inputs and the metric catalogue."""

import json
import os
import re
import time

import numpy as np
import pytest

from perfbench import reference, run
from perfbench.inputs import make_corpus
from perfbench.stats import driver_share, edges_per_s, fail_ratio, median
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_driver_share():
    # 2 s on 4 cores is 8 core-seconds; 6 of them ran tasks
    assert driver_share(2.0, 6.0, 4) == pytest.approx(0.25)
    assert driver_share(2.0, 0.0, 4) == 1.0
    assert driver_share(0.0, 0.0, 4) == 0.0


def test_fail_ratio():
    assert fail_ratio(1, 4) == 0.25
    assert fail_ratio(0, 3) == 0.0
    with pytest.raises(ValueError):
        fail_ratio(0, 0)


def test_edges_per_s():
    # (1000 edges × 5 steps + 1000 × 3) / (1 s + 3 s)
    assert edges_per_s([(1000, 5, 1.0), (1000, 3, 3.0)]) == pytest.approx(2000.0)


def test_reference_pagerank_matches_hand_iteration():
    # 0→1, 0→2, 1→2; vertex 2 dangles and leaks its mass
    src, dst = np.array([0, 0, 1]), np.array([1, 2, 2])
    ranks, steps = reference.pagerank(3, src, dst, iters=1)
    t = 0.15 / 3
    assert steps == 1
    assert ranks == pytest.approx([t, t + 0.85 * (1 / 3) / 2, t + 0.85 * ((1 / 3) / 2 + 1 / 3)])
    _, steps = reference.pagerank(3, src, dst, eps=1e-12)
    assert 1 < steps < 100


def test_reference_components_and_triangles():
    src, dst = np.array([1, 2, 4, 5, 4]), np.array([2, 0, 5, 6, 6])
    assert reference.components(7, src, dst).tolist() == [0, 0, 0, 3, 4, 4, 4]
    assert reference.triangles(src, dst) == 1
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert reference.triangles(np.array([a for a, _ in k4]), np.array([b for _, b in k4])) == 4


def test_reference_label_propagation_ties_to_smallest_label():
    # star around 0: leaves adopt 0; the centre sees one vote each for
    # labels 1, 2, 3 and takes the smallest
    src, dst = np.array([0, 0, 0]), np.array([1, 2, 3])
    assert reference.label_propagation(4, src, dst, 1).tolist() == [1, 0, 0, 0]


def test_corpus_is_seeded_and_html_carries_the_links():
    a, b = make_corpus(200, 5), make_corpus(200, 5)
    assert a.html == b.html
    assert make_corpus(200, 6).html != a.html
    for i in range(200):
        hrefs = re.findall(r'href="([^"]*)"', a.html[i].decode())
        targets = {a.urls.index(h) for h in hrefs} - {i}
        assert targets == set(a.links[i].tolist())
    assert a.urls == sorted(a.urls)  # url order is page order


def test_tracer_spans_nest_and_time_without_spark():
    tr = Tracer(counters=False, cores=4)
    with tr.span("op") as root:
        with tr.span("algorithms.pagerank") as child:
            time.sleep(0.01)
    assert child.parent == 0 and root.parent is None
    assert tr.children(root) == [child]
    assert root.wall_s >= child.wall_s >= 0.01
    assert child.counters == {}


def test_benchmark_json_matches_the_emitted_metrics():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    # a rate is better when higher: the regression check must not run backwards
    for m in bench["end_to_end"] + bench["per_layer"]:
        if "_per_" in m["name"]:
            assert m["better"] == "higher", m["name"]

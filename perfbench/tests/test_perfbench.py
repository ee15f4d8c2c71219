"""Tests of the benchmark's own code. They need no Spark session:

    python -m pytest perfbench/tests -q
"""

import json
import os
import re

import numpy as np
import pytest

from perfbench.metrics import END_TO_END, PER_LAYER, PER_LAYER_HIGHER
from perfbench.trace import Span, layer_metrics, rollup_event_log, self_times, union_length
from perfbench.workloads import (
    csls_topk, pair_f1, partition, reduced_frac, reference_embeddings, topk_matches,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, run_ms, *, failed=False, read=0, write=0, spill=0, attempt=0):
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Stage Attempt ID": attempt,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    })


def test_rollup_small_event_log():
    mb = 1 << 20
    lines = [
        _ev(**{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}),
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
               "Properties": {"spark.jobGroup.id": "pbspan-0"}}),
        _ev(**{"Event": "SparkListenerStageSubmitted",
               "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
               "Properties": {"spark.jobGroup.id": "pbspan-0"}}),
        _task(0, 1500, write=2 * mb),
        _task(0, 500, failed=True),
        # no properties on the stage: the job's group applies
        _ev(**{"Event": "SparkListenerStageSubmitted",
               "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}}),
        _task(1, 250, read=2 * mb, spill=mb),
        "",
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
               "Properties": {}}),
        _ev(**{"Event": "SparkListenerStageSubmitted",
               "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0},
               "Properties": {}}),
        _task(2, 100),
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
               "Properties": {"spark.jobGroup.id": "perfbench"}}),
        _ev(**{"Event": "SparkListenerStageSubmitted",
               "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0},
               "Properties": {"spark.jobGroup.id": "perfbench"}}),
        _task(3, 40),
    ]
    out = rollup_event_log(lines)
    g = out["pbspan-0"]
    assert g["jobs"] == 1 and g["tasks"] == 3 and g["failed_tasks"] == 1
    assert g["task_s"] == pytest.approx(2.25)
    assert g["shuffle_write_mb"] == pytest.approx(2.0)
    assert g["shuffle_read_mb"] == pytest.approx(2.0)
    assert g["spill_mb"] == pytest.approx(1.0)
    assert out[""]["jobs"] == 1 and out[""]["task_s"] == pytest.approx(0.1)
    assert out["perfbench"]["task_s"] == pytest.approx(0.04)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_with_overlapping_children():
    spans = [
        Span(0, None, "jobs", "main", 0, 0.0, 10.0),
        # two children overlap on [3, 4]; one sticks out past the parent
        Span(1, 0, "er", "a", 0, 1.0, 4.0),
        Span(2, 0, "er", "b", 0, 3.0, 6.0),
        Span(3, 0, "clustering", "c", 0, 8.0, 11.0),
        # a grandchild is covered by its parent, not the grandparent
        Span(4, 1, "knn", "d", 0, 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_layer_metrics_cover_every_per_layer_name():
    spans = [Span(0, None, "linkage", "link", 0, 0.0, 4.0),
             Span(1, 0, "knn", "knn", 0, 1.0, 2.0)]
    groups = {
        "pbspan-1": {"jobs": 2, "tasks": 8, "failed_tasks": 0, "task_s": 3.0,
                     "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        "": {"jobs": 1, "tasks": 1, "failed_tasks": 0, "task_s": 0.5,
             "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        "perfbench": {"jobs": 1, "tasks": 1, "failed_tasks": 0, "task_s": 9.0,
                      "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
    }
    out = layer_metrics(spans, groups, {"knn.pairs_scored": 600}, 2, 4, 0.1, 0.0)
    assert set(out) == {name for name, _ in PER_LAYER}
    assert out["knn.task_s"] == pytest.approx(1.5)  # per call
    assert out["knn.idle_core_s"] == pytest.approx((1.0 * 4 - 3.0) / 2)
    assert out["knn.pairs_per_task_s"] == pytest.approx(200.0)
    assert out["linkage.self_s"] == pytest.approx(1.5)
    assert out["unattributed.task_s"] == pytest.approx(0.25)


def test_metric_names_and_units():
    names = [n for n, *_ in END_TO_END] + [n for n, _ in PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name) and NAME.fullmatch(name), name
    for unit in [u for _, u, *_ in END_TO_END] + [u for _, u in PER_LAYER]:
        assert UNIT.fullmatch(unit), unit


def test_metric_caps_and_benchmark_json_agree():
    assert 1 <= len(END_TO_END) <= 16
    assert 1 <= len(PER_LAYER) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    for m in spec["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in PER_LAYER_HIGHER else "lower")
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_topk_matches_allows_reordered_ties_only():
    assert topk_matches([1, 2, 3], [0.1, 0.2, 0.3], [1, 2, 3], [0.1, 0.2, 0.3])
    assert topk_matches([2, 1, 3], [0.1, 0.1, 0.3], [1, 2, 3], [0.1, 0.1, 0.3])
    assert not topk_matches([2, 1, 3], [0.1, 0.2, 0.3], [1, 2, 3], [0.1, 0.2, 0.3])
    assert not topk_matches([1, 2], [0.1, 0.2], [1, 2, 3], [0.1, 0.2, 0.3])


def test_pair_f1():
    gold = {1: 10, 2: 10, 3: 10, 4: 40}
    assert pair_f1(gold, gold) == 1.0
    # one of three gold pairs found, no false pair
    assert pair_f1({1: 1, 2: 1, 3: 3, 4: 4}, gold) == pytest.approx(0.5)


def test_partition_is_connected_components():
    parts = partition([1, 2, 3, 4, 5, 6], [(1, 2), (3, 2), (5, 6), (6, 5)])
    assert parts == {frozenset({1, 2, 3}), frozenset({4}), frozenset({5, 6})}
    assert partition([1, 2], []) == {frozenset({1}), frozenset({2})}


def test_reduced_frac_counts_clusters_left_with_one_doc():
    entity = {1: 10, 2: 10, 3: 20, 4: 20, 5: 99}
    assert reduced_frac([1, 3, 5], entity, {10, 20}) == 1.0
    # cluster 20 keeps both docs: a near-dup pass that did nothing
    assert reduced_frac([1, 3, 4, 5], entity, {10, 20}) == 0.5
    assert reduced_frac([5], entity, {10, 20}) == 0.0


def test_reference_embeddings_sum_token_vectors():
    x = reference_embeddings(["w1 w2", "w1", "w2", "w2 w1", "w1 w1"])
    assert x.shape == (5, 32)
    assert np.allclose(x[0], x[1] + x[2], rtol=0, atol=1e-12)
    assert np.array_equal(x[0], x[3])  # token order does not matter
    assert np.array_equal(x[4], 2 * x[1])
    assert np.all(np.abs(x[1]) <= 1.0) and np.any(x[1] != x[2])


def test_sampled_oracle_equals_hubness_pipeline_rows():
    from kiez_spark.oracle.numpy_oracle import hubness_pipeline

    x = np.random.RandomState(0).randn(300, 8)
    x[6] = x[5]  # an exact duplicate: a distance-0 tie
    rows = np.array([3, 5, 6, 100, 299])
    dist, ind = csls_topk(x, rows, 5, 10)
    ref_dist, ref_ind = hubness_pipeline(x, None, 5, 10, "csls")
    assert np.array_equal(ind, ref_ind[rows])
    assert np.allclose(dist, ref_dist[rows])

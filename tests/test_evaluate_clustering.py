"""hits@k (reference fixture values, tests/evaluate/test_eval_metrics.py)
and connected-components correctness."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kiez_spark.operators import clustering as C
from kiez_spark.operators import evaluate as E


def test_hits_reference_fixture(spark):
    """nn=[[1,2,3],[2,3,4],[3,4,5],[4,5,6]], gold={0:2,1:4,2:3,3:4}
    => hits {1: 0.5, 2: 0.75, 3: 1.0} (test_eval_metrics.py:6-48)."""
    nn = [[1, 2, 3], [2, 3, 4], [3, 4, 5], [4, 5, 6]]
    rows = [(i, r + 1, v) for i, lst in enumerate(nn) for r, v in enumerate(lst)]
    nn_df = spark.createDataFrame(rows, "query_id bigint, rank int, cand_id bigint")
    gold = spark.createDataFrame(
        [(0, 2), (1, 4), (2, 3), (3, 4)], "src_id bigint, tgt_id bigint"
    )
    got = {r.k: r.hits for r in E.hits_at_k(nn_df, gold, ks=(1, 2, 3)).collect()}
    assert got == {1: 0.5, 2: 0.75, 3: 1.0}

    disjoint = spark.createDataFrame(
        [(0, 5), (1, 6), (2, 7), (3, 8)], "src_id bigint, tgt_id bigint"
    )
    got0 = {r.k: r.hits for r in E.hits_at_k(nn_df, disjoint, ks=(1, 2, 3)).collect()}
    assert got0 == {1: 0.0, 2: 0.0, 3: 0.0}


def test_pairwise_f1(spark):
    pred = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "src_id bigint, tgt_id bigint"
    )
    gold = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 5)], "src_id bigint, tgt_id bigint"
    )
    row = E.pairwise_f1(pred, gold).first()
    assert row.tp == 2 and row.fp == 1 and row.fn == 1
    assert row.f1 == (2 * (2 / 3) * (2 / 3)) / (4 / 3)


def test_connected_components_chain_and_singletons(spark):
    # components: {0,1,2,3} (chain), {10,11}, singleton {20}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "src_id bigint, tgt_id bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 10, 11, 20]], "id bigint")
    got = {
        r.id: r.component
        for r in C.connected_components(pairs, nodes).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20}
    # no edges at all: every node comes back as its own singleton
    got = {
        r.id: r.component
        for r in C.connected_components(pairs.limit(0), nodes).collect()
    }
    assert got == {i: i for i in [0, 1, 2, 3, 10, 11, 20]}


def test_connected_components_random_vs_numpy(spark, monkeypatch):
    """Random graph vs a simple union-find oracle, on each path: fully
    local (default budget), two star rounds then the local finish
    (budget 90 — the 99 deduplicated edges drop to 94, then 87), and
    fully distributed with the member ∪ roots tail (budget -1)."""
    rng = np.random.RandomState(3)
    n = 120
    edges = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(100, 2)) if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {}
    for i in range(n):
        root = find(i)
        exp[i] = min(exp.get(root, root), root)
    # normalize: component id = min member id
    comp_min: dict[int, int] = {}
    for i in range(n):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    expected = {i: comp_min[find(i)] for i in range(n)}

    pairs = spark.createDataFrame(edges, "src_id bigint, tgt_id bigint")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    calls: dict[str, int] = {}

    def spy(name, fn):
        def wrapped(*args):
            calls[name] += 1
            return fn(*args)

        return wrapped

    monkeypatch.setattr(C, "_checksum", spy("rounds", C._checksum))
    monkeypatch.setattr(C, "_local_components", spy("local", C._local_components))
    for budget, rounds, local in (
        (C._LOCAL_EDGES, False, 1),
        (90, True, 1),
        (-1, True, 0),
    ):
        monkeypatch.setattr(C, "_LOCAL_EDGES", budget)
        calls.update(rounds=0, local=0)
        got = {
            r.id: r.component
            for r in C.connected_components(pairs, nodes).collect()
        }
        assert got == expected, budget
        assert (calls["rounds"] > 0, calls["local"]) == (rounds, local), budget


def test_connected_components_small_graph_runs_no_rounds(spark):
    """A graph under the local budget costs the edge-dedup checkpoint
    (its map stage plus the checkpoint job, the edge count riding along
    as an Observation) and the one Arrow collect: at most 3 Spark jobs,
    never a star round."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 2)] + [(1, 2), (5, 4), (1, 2)],
        "src_id bigint, tgt_id bigint",
    )
    group = "test-cc-small-graph-jobs"
    sc.setJobGroup(group, "connected_components on a small graph")
    try:
        assign = C.connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    got = {r.id: r.component for r in assign.collect()}
    assert got[0] == got[1] == 0 and got[2] == got[3] == 0
    assert got[4] == got[5] == 4 and got[198] == got[199] == 198
    assert len(got) == 200


def _uf_components(edges):
    """Pure-Python union-find: {id: min id of its component}."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


_ids = st.lists(
    st.one_of(
        st.integers(-5, 5),
        st.integers(-(2**62) - 3, -(2**62) + 3),
        st.integers(2**62 - 3, 2**62 + 3),
        st.integers(-(2**63), 2**63 - 1),
    ),
    min_size=1,
    max_size=40,
    unique=True,
)


@st.composite
def _graphs(draw):
    """Edge lists over a drawn id pool: random pairs with duplicates and
    reversed copies, long chains in random order, stars, or nothing."""
    ids = draw(_ids)
    shape = draw(st.sampled_from(["random", "chain", "star", "empty"]))
    if shape == "empty":
        return []
    if shape == "chain":
        order = draw(st.permutations(ids))
        edges = list(zip(order, order[1:]))
    elif shape == "star":
        center = draw(st.sampled_from(ids))
        edges = [(center, x) for x in ids if x != center]
    else:
        idx = st.integers(0, len(ids) - 1)
        edges = [
            (ids[a], ids[b])
            for a, b in draw(st.lists(st.tuples(idx, idx), max_size=60))
            if a != b
        ]
    extra = draw(st.lists(st.sampled_from(edges), max_size=10)) if edges else []
    return edges + [(b, a) for a, b in extra] + extra


@settings(max_examples=300, deadline=None)
@given(_graphs())
def test_label_components_matches_union_find(edges):
    u = np.array([a for a, _ in edges], dtype=np.int64)
    v = np.array([b for _, b in edges], dtype=np.int64)
    ids, comp = C._label_components(u, v)
    assert ids.dtype == np.int64 and comp.dtype == np.int64
    assert (ids[1:] > ids[:-1]).all()
    assert dict(zip(ids.tolist(), comp.tolist())) == _uf_components(edges)


def test_clusters_to_pairs(spark):
    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (9, 9)], "id bigint, component bigint"
    )
    pairs = {(r.u, r.v) for r in E.clusters_to_pairs(assign).collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_survivor_decisions_min_id_and_quality(spark):
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src_id bigint, tgt_id bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id bigint")
    # default policy: survivor = min id (== component label)
    dec = {r.id: r for r in C.survivor_decisions(pairs, nodes).collect()}
    assert dec[1].is_survivor and dec[1].keep_id == 1
    assert not dec[2].is_survivor and dec[2].keep_id == 1
    assert not dec[3].is_survivor and dec[3].keep_id == 1
    assert dec[10].is_survivor and not dec[11].is_survivor
    assert dec[99].is_survivor and dec[99].component == 99  # singleton
    # quality policy: highest quality wins, ties -> min id
    qual = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5)],
        "id bigint, quality double",
    )
    decq = {r.id: r for r in C.survivor_decisions(pairs, nodes, quality=qual).collect()}
    assert decq[2].is_survivor and decq[1].keep_id == 2  # 0.9 tie -> min id 2
    assert decq[10].is_survivor  # 0.5 tie -> min id 10
    assert decq[99].is_survivor  # missing quality -> 0.0, alone anyway


def test_component_size_histogram(spark):
    """Histogram of a known assignment; sizes must account for every id
    (sum of size * n_components == total rows)."""
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6), (7, 7)],
        "id bigint, component bigint",
    )
    got = {
        r["size"]: r["n_components"]
        for r in C.component_size_histogram(assign).collect()
    }
    assert got == {3: 1, 2: 1, 1: 2}
    assert sum(s * n for s, n in got.items()) == 7

"""Transitive clustering: connected components via large-star/small-star,
finished on the driver once the edge set is small.

[ext] operator (BASELINE.json north_rule) — the reference is single-node
and stops at neighbor lists; at cluster scale, matched pairs must be folded
into entity groups. While the deduplicated edge set holds more than
``_LOCAL_EDGES`` pairs, it runs the alternating large-star / small-star
rounds (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014 — public algorithm), which converge in O(log n) rounds vs
O(diameter) for naive label propagation:

  large-star: for each node u, connect every neighbor v > u to
              m = min(N(u) ∪ {u})
  small-star: orient edges to smaller ids; connect every v in
              N≤(u) ∪ {u} except m to m = min(N≤(u) ∪ {u})

Driver-side control flow Catalyst can't express (SURVEY.md §4): each round
``localCheckpoint``s to truncate lineage (mandatory — the self-join loop
otherwise compounds the plan exponentially) and convergence is detected by
an edge-set checksum (count + xor of pair hashes), two scalars per round.

Both stars preserve the components of the nodes they see, so any round's
edge set can be finished elsewhere. Once the count is at or below
``_LOCAL_EDGES`` (at the start, or after a round — the checksum already
carries it), the edges are collected once as Arrow and labelled on the
driver with vectorized numpy hook-and-jump (``_label_components``): no
window shuffles, no per-round checkpoint and checksum jobs, and no extra
round to confirm the fixed point. Every component is labelled with its
min id, as the star tail labels it, so the output does not depend on
which path ran. Graphs that stay above the budget when the rounds
converge keep the distributed member ∪ roots tail, so graphs larger than
the driver still work.

Why 2M edges is safe for a 1 GB driver: the collected edges are 2M
int64 pairs, 32 MB of Arrow; the returned (id, component) table holds at
most two ids per edge, 64 MB. Both are a few percent of a 1 GB driver
heap, and the numpy work runs in the Python driver process, not the JVM.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """edges: directed pairs (u, v); treats them symmetrically.

    The per-node neighborhood min is a WINDOW over u, not a
    groupBy+join: both need every sym row keyed by u, but the window
    computes m and keeps the rows in ONE exchange while the join version
    shuffles sym a second time to meet the aggregated min table (guide
    §2.4) — one full edge-set shuffle saved per CC round. No .distinct()
    here: duplicate (v, m) rows cannot change the min aggregations
    downstream and _small_star (the only consumer, always composed right
    after) ends in a global distinct that canonicalizes the round's
    checkpointed edge set; the rows a round moves stay bounded by
    |sym| = 2|E| either way."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient toward smaller ids: u keeps neighbors v <= u. Same
    # window-over-u shape as _large_star (one exchange); the (v, m) +
    # (u, m) emissions ride ONE pass via explode — (u, m) repeats per
    # row instead of once per group, which the trailing distinct (the
    # round's canonicalizer, needed regardless) absorbs.
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    w = Window.partitionBy("u")
    withm = oriented.withColumn("m", F.min("v").over(w))
    pair = F.array(
        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
    )
    return (
        withm.select(F.explode(pair).alias("e"))
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))), F.lit(0)
        ).alias("sig"),
    ).first()
    return int(row["cnt"]), int(row["sig"])


# Collect-and-finish budget in deduplicated edges: 2M int64 pairs are
# 32 MB, and the (id, component) result at most 64 MB — small next to a
# 1 GB driver. A constant, not a parameter: the edge count is observed,
# so the code picks the path from the input size itself.
_LOCAL_EDGES = 2_000_000


def _label_components(
    u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, component) of the undirected edge list (u, v): every id on
    an edge, sorted ascending, with the min id of its component.

    Works over the dense indices of the sorted ids, so index order is id
    order and the min index of a component IS its min id. Each pass hooks
    the larger root of every live edge onto the smaller one
    (``np.minimum.at`` keeps the smallest offer per root), then
    pointer-jumps ``label = label[label]`` to a fixed point, after which
    every label is a root. label[i] <= i holds throughout, and a pass
    with a live edge turns at least one root into a non-root, so the
    loop ends with every component's label at its min index."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    label = np.arange(len(ids))
    while True:
        ra, rb = label[a], label[b]
        live = ra != rb
        if not live.any():
            return ids, ids[label]
        # an edge inside one tree stays inside it: roots only merge
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(label, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped


def _local_components(edges: DataFrame) -> DataFrame:
    """(id, component) of a small edge set: one Arrow collect, the numpy
    labelling on the driver, and the rows back as a DataFrame."""
    import pyarrow as pa

    tbl = edges.toArrow()
    ids, comp = _label_components(
        tbl.column("u").to_numpy(), tbl.column("v").to_numpy()
    )
    return edges.sparkSession.createDataFrame(
        pa.table({"id": ids, "component": comp})
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("src_id", "tgt_id"),
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment (id, component); component = min id in component.

    pairs: edge list; nodes: optional (id) universe so isolated entities
    get singleton clusters.
    """
    # initial checkpoint is EAGER: the next round's stars consume `edges`
    # three times (sym union + join), so the upstream pair plan must be
    # cut off before that job runs. Its edge count rides the same job as
    # an Observation. Per-round checkpoints are LAZY — the checksum
    # action right after materializes them, folding what were two jobs
    # per round (eager checkpoint, then checksum) into one.
    counted = Observation()
    edges = (
        pairs.select(
            F.col(pair_cols[0]).cast("bigint").alias("u"),
            F.col(pair_cols[1]).cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(counted, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_edges = counted.get["n"]
    prev = None  # the input's count is the Observation, not a checksum job
    for _ in range(max_iter):
        if n_edges <= _LOCAL_EDGES:
            break
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
        n_edges = cur[0]
    if n_edges <= _LOCAL_EDGES:
        assign = _local_components(edges)
    else:
        # after convergence every edge points at its component root
        member = edges.select(
            F.col("u").alias("id"), F.col("v").alias("component")
        )
        roots = edges.select(
            F.col("v").alias("id"), F.col("v").alias("component")
        )
        assign = member.unionByName(roots).groupBy("id").agg(
            F.min("component").alias("component")
        )
    if nodes is not None:
        universe = nodes.select(F.col(nodes.columns[0]).cast("bigint").alias("id"))
        assign = (
            universe.join(assign, "id", "left")
            .select("id", F.coalesce("component", F.col("id")).alias("component"))
        )
    return assign


def merge_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    batch_nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("a_id", "b_id"),
    max_iter: int = 25,
) -> DataFrame:
    """``merge_components_with_delta`` returning just the full table —
    see there for semantics."""
    full, _ = merge_components_with_delta(
        assignments, new_edges, batch_nodes, pair_cols, max_iter
    )
    return full


def merge_components_with_delta(
    assignments: DataFrame,
    new_edges: DataFrame,
    batch_nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("a_id", "b_id"),
    max_iter: int = 25,
) -> tuple[DataFrame, DataFrame]:
    """(full, changed) assignments after adding ``new_edges`` to an
    already clustered corpus — the incremental-linkage closer:
    components NOT incident to any new edge pass through byte-identical
    into ``full`` only; incident ones are re-clustered together with the
    new edges (and ``batch_nodes`` newcomers, who get singleton
    components unless an edge claims them) and appear in BOTH frames.
    ``changed`` is the O(touched + batch) delta a latest-wins
    state store persists instead of rewriting the corpus table.

    Exactness: in a min-id labeling each (id, component) row is itself
    an edge that reconstructs its component, so running CC over
    [touched assignment rows as edges] ∪ [new edges] gives exactly what
    a full CC over [all old edges] ∪ [new edges] gives for the touched
    components; untouched components are fixed points of adding edges
    that don't reach them. (See tests/test_er_incremental.py for the
    full-rerun equivalence proof on planted data.)

    Scale: the corpus-wide assignments table is touched by one semi- and
    one anti-join on ``component`` (broadcastable — the touched-component
    list is bounded by the batch's edge count); only the touched subgraph
    plus the batch enters connected_components (a driver-side finish
    while it fits ``_LOCAL_EDGES``, star rounds beyond).
    """
    a_, b_ = pair_cols
    edges = new_edges.select(
        F.col(a_).cast("bigint").alias("u"), F.col(b_).cast("bigint").alias("v")
    )
    touched_ids = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    assign = assignments.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("component").cast("bigint").alias("component"),
    )
    touched_comps = (
        assign.join(touched_ids, "id").select("component").distinct()
    )
    sub = assign.join(F.broadcast(touched_comps), "component")
    untouched = assign.join(
        F.broadcast(touched_comps), "component", "left_anti"
    )
    # eager barrier, NOT an optimization: `assignments` typically carries a
    # prior connected_components LogicalRDD in its lineage, and Spark's
    # LAZY localCheckpoint inside the CC loop fails to rewrite that nested
    # LogicalRDD's origin attributes (NoSuchElementException: key not
    # found u#...). Materializing the (small) touched subgraph gives CC a
    # shallow scan to start from. Bounded by the touched components + the
    # batch, never the corpus.
    sub_edges = (
        sub.select(F.col("id").alias("u"), F.col("component").alias("v"))
        .unionByName(edges)
        .localCheckpoint()
    )
    nodes = sub.select("id").unionByName(touched_ids)
    if batch_nodes is not None:
        nodes = nodes.unionByName(
            batch_nodes.select(
                F.col(batch_nodes.columns[0]).cast("bigint").alias("id")
            )
        )
    # eager: CHANGED rows feed both the returned full table and the
    # delta consumer (a delta-persisted state write) — materialize once
    # so the clustering never re-runs; bounded by touched + batch
    changed = connected_components(
        sub_edges, nodes=nodes.distinct(), pair_cols=("u", "v"),
        max_iter=max_iter,
    ).select("id", "component").localCheckpoint()
    full = untouched.select("id", "component").unionByName(changed)
    return full, changed


def survivor_decisions(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("src_id", "tgt_id"),
    quality: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Per-document dedup decision table (id, component, keep_id,
    is_survivor): cluster the near-dup pair graph, then elect one
    survivor per component — the row every downstream training-data
    filter joins against.

    ``quality=None``: survivor = the component's min id (which IS the
    component label our connected_components emits — no extra shuffle).
    ``quality`` = (id, quality double): survivor = highest quality in
    the component, ties broken toward the smaller id — the "keep the
    best copy" policy. One rank window partitioned by component (rank
    pushdown applies: only rank 1 survives the WindowGroupLimit) plus
    one shuffle join of the per-component winner back onto members.
    """
    assign = connected_components(pairs, nodes, pair_cols, max_iter)
    return decisions_from_assignment(assign, quality)


def decisions_from_assignment(
    assign: DataFrame, quality: DataFrame | None = None
) -> DataFrame:
    """Survivor election over an existing (id, component) assignment —
    e.g. the clusters table a prior linkage run already wrote. Same
    policies as ``survivor_decisions`` (which is this applied to a fresh
    connected_components pass). Assumes component = min member id, the
    label connected_components emits."""
    if quality is None:
        return assign.select(
            "id",
            "component",
            F.col("component").alias("keep_id"),
            (F.col("id") == F.col("component")).alias("is_survivor"),
        )
    q = quality.select(
        F.col(quality.columns[0]).cast("bigint").alias("id"),
        F.col(quality.columns[1]).cast("double").alias("_q"),
    )
    from pyspark.sql import Window

    scored = assign.join(q, "id", "left").select(
        "id", "component", F.coalesce("_q", F.lit(0.0)).alias("_q")
    )
    w = Window.partitionBy("component").orderBy(F.col("_q").desc(), F.col("id"))
    winners = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("component", F.col("id").alias("keep_id"))
    )
    return (
        scored.join(winners, "component")
        .select(
            "id",
            "component",
            "keep_id",
            (F.col("id") == F.col("keep_id")).alias("is_survivor"),
        )
    )


def component_size_histogram(assign: DataFrame) -> DataFrame:
    """(size, n_components) — the component-size distribution of an
    (id, component) assignment: the giant-component health check every
    dedup/linkage pipeline monitors at scale. A boilerplate-chained
    near-dup graph collapses transitively into one giant component that
    would elect a single survivor for millions of documents; watching
    this histogram's tail (and alerting on max(size)) is the standard
    guard before survivor election is allowed to drop data.

    Two map-side-combinable aggregations: the shuffle carries one row
    per component, then one per distinct size — negligible at any
    corpus scale."""
    sizes = assign.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_components")
    )

"""Layer tracing for the traced benchmark run.

While installed, the tracer replaces each layer's public entry points
(the module attributes the program calls) with wrappers. A wrapper opens
a span, gives the call its own Spark job group, materializes the
DataFrames it returns (persist + count, so the lazy work runs inside the
span) and passes its arguments through unchanged: DataFrame identity
matters to the program (DisSimLocal's single-source shortcut).

Spans stay in memory. Executor time, shuffle, spill and task failures
come from the Spark event log, rolled up per job group and so per span.
Jobs the benchmark runs for itself (set-up, checks, counters, untraced
calls) carry job groups starting with ``perfbench`` and are left out of
every layer and of ``unattributed.task_s``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import time
from collections import Counter
from dataclasses import dataclass

from perfbench.metrics import LAYER_COMMON, LAYERS, PER_LAYER

GROUP_PROP = "spark.jobGroup.id"
BENCH_GROUP = "perfbench"
SPAN_GROUP = "pbspan-"

# (module, attribute, layer): the entry points wrapped during traced calls
ENTRY_POINTS = [
    ("kiez_spark.synth", "derive_embeddings", "synth"),
    ("kiez_spark.operators.knn", "knn_join_pandas", "knn"),
    ("kiez_spark.operators.knn", "collect_index", "knn"),
    ("kiez_spark.operators.hubness", "dis_sim_local", "hubness"),
    ("kiez_spark.operators.clustering", "connected_components", "clustering"),
    ("kiez_spark.operators.clustering", "survivor_decisions", "clustering"),
    ("kiez_spark.operators.clustering", "decisions_from_assignment", "clustering"),
    ("kiez_spark.operators.curation", "scrub_text", "curation"),
    ("kiez_spark.operators.curation", "quality_filter", "curation"),
    ("kiez_spark.operators.curation", "hash_split", "curation"),
    ("kiez_spark.operators.dedup", "minhash_signatures", "dedup"),
    ("kiez_spark.operators.dedup", "minhash_lsh_pairs", "dedup"),
    ("kiez_spark.operators.dedup", "minhash_lsh_join", "dedup"),
    ("kiez_spark.operators.dedup", "build_minhash_index", "dedup"),
    ("kiez_spark.operators.er", "metablocking_pairs", "er"),
    ("kiez_spark.operators.er", "random_pairs", "er"),
    ("kiez_spark.operators.er", "fs_u_probabilities", "er"),
    ("kiez_spark.operators.er", "fs_em", "er"),
    ("kiez_spark.operators.er", "fs_scores", "er"),
]
# the hubness transforms are called through this dict, not by attribute
TRANSFORMS = ("kiez_spark.operators.hubness", "TRANSFORMS", "hubness")
# modules whose `from x import f` aliases of an entry point are patched too
ALIAS_MODULES = (
    "kiez_spark.linkage", "kiez_spark.pipeline", "jobs.run_curation", "jobs.run_er",
)


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    run: int
    start: float
    end: float = 0.0
    outer: bool = True  # no enclosing span of the same layer


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {sp.id: sp for sp in spans}
    for sp in spans:
        if sp.parent in by_id:
            p = by_id[sp.parent]
            children.setdefault(p.id, []).append(
                (max(sp.start, p.start), min(sp.end, p.end))
            )
    return {
        sp.id: (sp.end - sp.start)
        - union_length([iv for iv in children.get(sp.id, []) if iv[1] > iv[0]])
        for sp in spans
    }


def _group_stats() -> dict:
    return {
        "jobs": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
    }


def rollup_event_log(lines) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, executor run time and
    shuffle/spill volume, from the JSON lines of a Spark event log.
    Jobs without a group roll up under ``""``."""
    stage_group: dict[tuple[int, int], str] = {}
    job_stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    mb = 1.0 / (1 << 20)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_PROP) or ""
            out.setdefault(g, _group_stats())["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                job_stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            g = (ev.get("Properties") or {}).get(GROUP_PROP)
            if g is None:
                g = job_stage_group.get(info["Stage ID"], "")
            stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = g
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            g = stage_group.get(key, job_stage_group.get(ev["Stage ID"], ""))
            st = out.setdefault(g, _group_stats())
            st["tasks"] += 1
            info = ev.get("Task Info") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                st["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) * mb
            wr = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) * mb
            st["spill_mb"] += m.get("Disk Bytes Spilled", 0) * mb
    return out


def read_event_logs(log_dir: str) -> dict[str, dict]:
    lines = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            lines.extend(f)
    return rollup_event_log(lines)


def _is_df(x) -> bool:
    return hasattr(x, "persist") and hasattr(x, "count") and hasattr(x, "schema")


class Tracer:
    """Spans, job groups and counters for the traced calls of one run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.run = 0
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans and job groups -------------------------------------------
    @contextlib.contextmanager
    def group(self, gid: str | None):
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_PROP, prev)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), parent=parent.id if parent else None,
            layer=layer, name=name, run=self.run, start=time.perf_counter(),
            outer=not any(s.layer == layer for s in self._stack),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            with self.group(f"{SPAN_GROUP}{sp.id}"):
                yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def aside(self, fn):
        """Run a counter query under the benchmark's own job group."""
        with self.group(BENCH_GROUP):
            return fn()

    def _materialize(self, out):
        """Persist and count every DataFrame in ``out``; total rows."""
        items = out if isinstance(out, (tuple, list)) else (out,)
        rows = 0
        for x in items:
            if _is_df(x):
                x.persist()
                rows += x.count()
        return rows

    # -- wrappers -------------------------------------------------------
    def wrap(self, layer: str, fn):
        name = f"{fn.__module__}.{getattr(fn, '__name__', 'fn')}"
        hook = _HOOKS.get(getattr(fn, "__name__", ""))
        if layer == "hubness":
            hook = _hubness_counts
        if hook is _dedup_pairs:
            return _dedup_pairs(self, layer, name, fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name) as sp:
                out = fn(*args, **kwargs)
                rows = self._materialize(out)
            if sp.outer:
                self.counts[f"{layer}.rows_out"] += rows
                if hook is not None:
                    hook(self, args, kwargs, out)
            return out

        return wrapper

    def install(self) -> None:
        originals = {}
        for mod_name, attr, layer in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            originals[id(fn)] = self.wrap(layer, fn)
            self._patch(mod, attr, originals[id(fn)])
        for mod_name in ALIAS_MODULES:
            mod = importlib.import_module(mod_name)
            for attr, val in list(vars(mod).items()):
                if callable(val) and id(val) in originals:
                    self._patch(mod, attr, originals[id(val)])
        mod_name, attr, layer = TRANSFORMS
        table = getattr(importlib.import_module(mod_name), attr)
        for key, fn in list(table.items()):
            if fn is not None:
                wrapped = originals.get(id(fn)) or self.wrap(layer, fn)
                self._patches.append((table, key, fn))
                table[key] = wrapped

    def _patch(self, mod, attr, new) -> None:
        self._patches.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, new)

    def uninstall(self) -> None:
        for target, key, old in reversed(self._patches):
            if isinstance(target, dict):
                target[key] = old
            else:
                setattr(target, key, old)
        self._patches.clear()


# -- per-entry-point counters (run after the call, outside its span) ------
def _knn_counts(tr: Tracer, args, kwargs, out) -> None:
    index = kwargs.get("index", args[1] if len(args) > 1 else None)
    if kwargs.get("index_bc") is not None:
        nx = len(kwargs["index_bc"].value[0])
    elif kwargs.get("index_np") is not None:
        nx = len(kwargs["index_np"][0])
    else:
        nx = tr.aside(index.count)
    nq = tr.aside(lambda: out.select("query_id").distinct().count())
    tr.counts["knn.pairs_scored"] += nq * nx


def _hubness_counts(tr: Tracer, args, kwargs, out) -> None:
    tr.counts["hubness.rows_in"] += tr.aside(args[0].count)


def _cc_counts(tr: Tracer, args, kwargs, out) -> None:
    pairs = kwargs.get("pairs", args[0] if args else None)
    edges = tr.aside(pairs.count)
    tr.counts["clustering.edges_in"] += edges
    tr.counts["clustering.components"] += tr.aside(
        lambda: out.select("component").distinct().count()
    )
    return edges


def _survivor_counts(tr: Tracer, args, kwargs, out) -> None:
    # the ER job clusters exactly its matched pairs through this call
    tr.counts["er.matched_pairs"] += _cc_counts(tr, args, kwargs, out)


def _blocked_counts(tr: Tracer, args, kwargs, out) -> None:
    tr.counts["er.blocked_pairs"] += tr.aside(out.count)


def _dedup_pairs(tr: Tracer, layer: str, name: str, fn):
    """Near-dup pair search with its candidate count: the threshold is
    lifted to 0 so every banding candidate is scored and counted, then
    the caller's ``jaccard >= threshold`` filter is applied to the
    materialized candidates — the rows returned are the same."""
    from pyspark.sql import functions as F

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        threshold = bound.arguments["threshold"]
        bound.arguments["threshold"] = 0.0
        with tr.span(layer, name) as sp:
            cands = fn(*bound.args, **bound.kwargs)
            n_cand = tr._materialize(cands)
            out = cands.filter(F.col("jaccard") >= threshold)
            n_out = tr._materialize(out)
        if sp.outer:
            tr.counts["dedup.candidate_pairs"] += n_cand
            tr.counts["dedup.verified_pairs"] += n_out
            tr.counts[f"{layer}.rows_out"] += n_out
        return out

    return wrapper


_HOOKS = {
    "knn_join_pandas": _knn_counts,
    "connected_components": _cc_counts,
    "survivor_decisions": _survivor_counts,
    "metablocking_pairs": _blocked_counts,
    "minhash_lsh_pairs": _dedup_pairs,
    "minhash_lsh_join": _dedup_pairs,
}


def layer_metrics(
    spans: list[Span],
    groups: dict[str, dict],
    counts: Counter,
    calls: int,
    slots: int,
    overhead_frac: float,
    steal_frac: float,
) -> dict[str, float]:
    """Every per-layer metric, per traced call."""
    selfs = self_times(spans)
    span_layer = {f"{SPAN_GROUP}{sp.id}": sp.layer for sp in spans}
    per: dict[str, dict[str, float]] = {
        layer: {name: 0.0 for name, _ in LAYER_COMMON} for layer in LAYERS
    }
    unattributed = 0.0
    for gid, st in groups.items():
        layer = span_layer.get(gid)
        if layer is None:
            if not gid.startswith(BENCH_GROUP):
                unattributed += st["task_s"]
            continue
        for key, val in st.items():
            per[layer][key] += val
    for layer in LAYERS:
        mine = [sp for sp in spans if sp.layer == layer]
        d = per[layer]
        d["wall_s"] = union_length([(sp.start, sp.end) for sp in mine])
        d["self_s"] = sum(selfs[sp.id] for sp in mine)
        # own tasks only run while no child span is open: self time is
        # the window they had, the rest of it is idle cores
        d["idle_core_s"] = max(0.0, d["self_s"] * slots - d["task_s"])
        d["rows_out"] = float(counts.get(f"{layer}.rows_out", 0))
    n = max(calls, 1)
    out = {}
    for layer in LAYERS:
        for key, val in per[layer].items():
            out[f"{layer}.{key}"] = val / n
    for key in ("knn.pairs_scored", "hubness.rows_in", "dedup.candidate_pairs",
                "er.blocked_pairs", "clustering.edges_in",
                "clustering.components", "jobs.state_bytes_written",
                "jobs.state_files_written"):
        out[key] = counts.get(key, 0) / n
    knn_task = per["knn"]["task_s"]
    out["knn.pairs_per_task_s"] = (
        counts.get("knn.pairs_scored", 0) / knn_task if knn_task else 0.0
    )
    cand = counts.get("dedup.candidate_pairs", 0)
    out["dedup.verified_frac"] = (
        counts.get("dedup.verified_pairs", 0) / cand if cand else 0.0
    )
    blocked = counts.get("er.blocked_pairs", 0)
    out["er.matched_frac"] = (
        counts.get("er.matched_pairs", 0) / blocked if blocked else 0.0
    )
    out["unattributed.task_s"] = unattributed / n
    out["trace.overhead_frac"] = overhead_frac
    out["host.steal_frac"] = steal_frac
    assert set(out) == {name for name, _ in PER_LAYER}
    return out


def attributed_frac(groups: dict[str, dict], spans: list[Span]) -> float:
    """Share of the program's executor time that landed in a named layer."""
    span_groups = {f"{SPAN_GROUP}{sp.id}" for sp in spans}
    named = sum(st["task_s"] for g, st in groups.items() if g in span_groups)
    other = sum(
        st["task_s"] for g, st in groups.items()
        if g not in span_groups and not g.startswith(BENCH_GROUP)
    )
    return named / (named + other) if named + other else 1.0

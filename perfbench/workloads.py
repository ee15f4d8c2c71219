"""The benchmark's workloads: generated inputs, the timed call and the
check of its output.

Each workload drives one production entry point on parquet written by
``kiez_spark.synth`` from the workload seed. Inputs and references are
made in each run, before timing starts. ``call`` runs one unit of work
and returns its timed sections; ``check`` raises ``CheckFailed`` when the
output is wrong.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import time

import numpy as np

# id offset synth gives singletons: gold entity of a row
_SINGLETON = 10_000_000


class CheckFailed(Exception):
    pass


def _quiet_main(main, argv) -> dict:
    """Run a job's main() and return the JSON report it prints last."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc not in (0, None):
        raise CheckFailed(f"{argv[0]} returned {rc}")
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-1]) if lines else {}


def _write_inputs(spark, dest: str, n: int, seed: int, parts=("files",)) -> None:
    """Program input (no generator columns) and gold metadata. ``files``
    is the repos_files table, ``docs`` the (doc_id, text) view the jobs
    read."""
    from pyspark.sql import functions as F

    from kiez_spark import synth

    files = synth.repos_files(spark, n=n, seed=seed).persist()
    views = {
        "files": files.select("row_id", "repo", "path", "commit", "lang", "content"),
        "docs": files.select(
            F.col("row_id").alias("doc_id"), F.col("content").alias("text")
        ),
        "gold": files.select("row_id", "cluster_id", "is_clustered"),
    }
    for part in (*parts, "gold"):
        views[part].write.parquet(os.path.join(dest, part))
    files.unpersist()


def _read(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of a (possibly hive-partitioned) parquet dir, read on the
    driver without a Spark job."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )
    return {c: table.column(c).to_pylist() for c in columns}


def _gold_entities(inputs: str) -> dict[int, int]:
    g = _read(os.path.join(inputs, "gold"), ["row_id", "cluster_id", "is_clustered"])
    return {
        r: (c if clustered else r + _SINGLETON)
        for r, c, clustered in zip(g["row_id"], g["cluster_id"], g["is_clustered"])
    }


def _pairs_of(groups: dict[int, list[int]]) -> set[tuple[int, int]]:
    out = set()
    for members in groups.values():
        members = sorted(members)
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                out.add((a, b))
    return out


def partition(ids, pairs) -> set[frozenset]:
    """Connected components of ``pairs`` over ``ids`` (union-find)."""
    parent = {i: i for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, set] = {}
    for i in parent:
        groups.setdefault(find(i), set()).add(i)
    return {frozenset(g) for g in groups.values()}


def reduced_frac(kept_ids, entity: dict[int, int], clustered: set[int]) -> float:
    """Share of planted clusters (``clustered`` entity ids) left with
    exactly one of the kept ids."""
    kept: dict[int, int] = {}
    for x in kept_ids:
        kept[entity[x]] = kept.get(entity[x], 0) + 1
    return sum(kept.get(c) == 1 for c in clustered) / len(clustered) if clustered else 1.0


def pair_f1(assign: dict[int, int], entity: dict[int, int]) -> float:
    """Pairwise F1 of a clustering (id -> component) against the gold."""
    def groups(m):
        g: dict[int, list[int]] = {}
        for k, v in m.items():
            g.setdefault(v, []).append(k)
        return g

    pred, gold = _pairs_of(groups(assign)), _pairs_of(groups(entity))
    tp = len(pred & gold)
    if not pred or not gold:
        return 1.0 if pred == gold else 0.0
    p, r = tp / len(pred), tp / len(gold)
    return 2 * p * r / (p + r) if p + r else 0.0


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.rows = self.n  # input rows one call processes
        # output quality of each checked call, by name (pair_f1, ...)
        self.quality: dict[str, list[float]] = {}

    def prepare(self, spark) -> None:
        """Inputs and references: untimed."""

    def call(self, spark, i: int) -> list[tuple[str, float]]:
        raise NotImplementedError

    def check(self, spark, i: int) -> None:
        raise NotImplementedError


class LinkBatch(Workload):
    """Single-source linkage with link_files: exact pandas kNN tier,
    CSLS, k=5, max_dist 12.0, in memory."""

    name = "link_batch"
    n = 12000
    k = 5
    n_candidates = 10
    sample = 64
    # lowest pairwise F1 seen over 20 seeds: 0.9985
    min_f1 = 0.995

    def prepare(self, spark):
        _write_inputs(spark, self.inputs, self.n, self.seed, ("files",))
        self.entity = _gold_entities(self.inputs)
        files = _read(os.path.join(self.inputs, "files"), ["row_id", "content"])
        order = np.argsort(files["row_id"])
        ids = np.asarray(files["row_id"], dtype=np.int64)[order]
        x = reference_embeddings([files["content"][r] for r in order])
        rows = np.random.RandomState(self.seed).choice(len(ids), self.sample, replace=False)
        dist, ind = csls_topk(x, rows, self.k, self.n_candidates)
        self.oracle = {
            int(ids[r]): (ids[i].tolist(), d.tolist()) for r, i, d in zip(rows, ind, dist)
        }

    def call(self, spark, i):
        from kiez_spark.linkage import link_files

        files = spark.read.parquet(os.path.join(self.inputs, "files"))
        t0 = time.perf_counter()
        self.res = link_files(
            spark, files, k=self.k, n_candidates=self.n_candidates,
            hubness="csls", tier="pandas", max_dist=12.0,
        )
        self.clusters = {
            r.id: r.component
            for r in self.res.clusters.select("id", "component").collect()
        }
        return [("call", time.perf_counter() - t0)]

    def check(self, spark, i):
        from pyspark.sql import functions as F

        if set(self.clusters) != set(self.entity):
            raise CheckFailed("cluster ids differ from the input ids")
        pairs = [(r.src_id, r.tgt_id) for r in self.res.pairs.collect()]
        got_parts: dict[int, set] = {}
        for x, comp in self.clusters.items():
            got_parts.setdefault(comp, set()).add(x)
        if {frozenset(g) for g in got_parts.values()} != partition(self.entity, pairs):
            raise CheckFailed("clusters are not the connected components of the pairs")
        got: dict[int, list] = {}
        rows = (
            self.res.candidates.filter(F.col("query_id").isin(list(self.oracle)))
            .select("query_id", "cand_id", "dist", "rank").collect()
        )
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            got.setdefault(r.query_id, []).append((r.cand_id, r.dist))
        for q, (cid, dist) in self.oracle.items():
            g = got.get(q, [])
            if not topk_matches([c for c, _ in g], [d for _, d in g], cid, dist):
                raise CheckFailed(f"top-{self.k} of query {q} differs from the oracle")
        f1 = pair_f1(self.clusters, self.entity)
        if f1 < self.min_f1:
            raise CheckFailed(f"linkage pairwise F1 {f1:.4f} < {self.min_f1}")
        self.quality.setdefault("pair_f1", []).append(f1)


def reference_embeddings(contents, dim: int = 32, seed: int = 42) -> np.ndarray:
    """The vectors ``synth.derive_embeddings`` documents, computed on the
    driver from the raw content, independently of the program: dim j of
    a doc is the sum over its space-separated tokens of
    ((a_j*h1 + b_j*h2 + c_j) mod 2001 - 1000) / 1000, where h is the
    first 60 bits of md5(token), h1 = h mod 2003, h2 = h mod 1999, and
    a, b, c come from RandomState(seed). Integer sums divided once, so
    the result is exact."""
    rs = np.random.RandomState(seed)
    a = rs.randint(1, 2001, size=dim).astype(np.int64)
    b = rs.randint(1, 1999, size=dim).astype(np.int64)
    c = rs.randint(0, 2001, size=dim).astype(np.int64)
    docs = [(s or "").split(" ") for s in contents]
    vocab = {t: i for i, t in enumerate(dict.fromkeys(t for d in docs for t in d))}
    h = np.array(
        [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in vocab],
        dtype=np.int64,
    )[:, None]
    vals = ((h % 2003) * a + (h % 1999) * b + c) % 2001 - 1000
    out = np.zeros((len(docs), dim), dtype=np.int64)
    for r, d in enumerate(docs):
        out[r] = vals[[vocab[t] for t in d]].sum(axis=0)
    return out / 1000.0


def csls_topk(x: np.ndarray, rows: np.ndarray, k: int, n_candidates: int):
    """Hubness-reduced (CSLS) top-k of the single-source queries ``rows``
    over ``x``: kiez_spark.oracle.numpy_oracle.hubness_pipeline(x, None,
    k, n_candidates, "csls") restricted to those rows, built from the
    oracle's own functions so only the sampled queries and their
    candidates need distance rows (not the full n x n matrix)."""
    from kiez_spark.oracle.numpy_oracle import csls, dist_matrix, sort_final

    def knn(q):  # exact, self excluded, ties broken by index
        d = dist_matrix(x[q], x, "euclidean")
        d[np.arange(len(q)), q] = np.inf
        idx = np.tile(np.arange(len(x)), (len(q), 1))
        order = np.lexsort((idx, d), axis=1)[:, :n_candidates]
        return np.take_along_axis(d, order, axis=1), order

    fwd_dist, fwd_ind = knn(rows)
    targets = np.unique(fwd_ind)
    rev_dist = np.zeros((len(x), n_candidates))
    rev_dist[targets] = knn(targets)[0]
    return sort_final(csls(fwd_dist, fwd_ind, rev_dist), fwd_ind, k)


def topk_matches(ids, dists, ref_ids, ref_dists, tol: float = 1e-7) -> bool:
    """Equal top-k, allowing any order among candidates whose reference
    distances tie (the tie-break is not part of the contract)."""
    if len(ids) != len(ref_ids):
        return False
    if ids == ref_ids:
        return True
    scale = max(1.0, max(abs(d) for d in ref_dists))
    if any(abs(a - b) > tol * scale for a, b in zip(dists, ref_dists)):
        return False
    for j, (a, b) in enumerate(zip(ids, ref_ids)):
        tied = any(
            abs(ref_dists[j] - ref_dists[m]) <= tol * scale
            for m in range(len(ref_dists)) if m != j
        ) or j == len(ref_ids) - 1
        if a != b and not tied:
            return False
    return True


def decisions_digest(rows) -> str:
    """Order-independent digest of output rows (or ids)."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
    return h.hexdigest()


class JobsBatch(Workload):
    """The two production jobs over one generated docs parquet:
    run_curation.main with --state-dir (scrub, quality gate, exact and
    minhash near-dup dedup, survivor election, split, state write), then
    run_er.main without --evaluate-gold (meta-blocking, levenshtein
    comparison, fixed-u Fellegi-Sunter EM, survivor clustering)."""

    name = "jobs_batch"
    n = 400
    min_f1 = 0.99
    # share of planted clusters curation reduces to one doc: minhash
    # misses a near-dup edge now and then (lowest seen over 20 seeds:
    # 0.967), a no-op near-dup pass gives 0
    min_reduced = 0.8

    def prepare(self, spark):
        _write_inputs(spark, self.inputs, self.n, self.seed, ("docs",))
        self.entity = _gold_entities(self.inputs)
        self.planted = {e for e in self.entity.values() if e < _SINGLETON}
        self.first: dict[str, str] = {}  # output digests of the first call

    def call(self, spark, i):
        import jobs.run_curation as run_curation
        import jobs.run_er as run_er

        docs = os.path.join(self.inputs, "docs")
        self.cur_out = os.path.join(self.work, f"cur_out{i}")
        self.state = os.path.join(self.work, f"cur_state{i}")
        self.er_out = os.path.join(self.work, f"er_out{i}")
        t0 = time.perf_counter()
        self.report = _quiet_main(run_curation.main, [
            "--input", docs, "--output", self.cur_out, "--state-dir", self.state,
        ])
        t1 = time.perf_counter()
        _quiet_main(run_er.main, ["--input", docs, "--output", self.er_out])
        t2 = time.perf_counter()
        files = _files(self.state)
        self.state_files = len(files)
        self.state_bytes = sum(size for size, _ in files.values())
        return [("curation", t1 - t0), ("er", t2 - t1)]

    def check(self, spark, i):
        try:
            self._check_curated(_read(self.cur_out, ["doc_id", "content_sha"]))
            self._check_decisions(
                _read(self.er_out, ["id", "component", "keep_id", "is_survivor"])
            )
        finally:
            for p in (self.cur_out, self.state, self.er_out):
                shutil.rmtree(p, ignore_errors=True)

    def _check_curated(self, d: dict) -> None:
        ids, shas = d["doc_id"], d["content_sha"]
        if len(ids) != self.report.get("curated_docs"):
            raise CheckFailed("curated rows differ from the job's report")
        if len(set(ids)) != len(ids) or not set(ids) <= set(self.entity):
            raise CheckFailed("curated ids are not distinct input ids")
        if len(set(shas)) != len(shas):
            raise CheckFailed("two curated docs share their content")
        # near-dup search may miss an edge and keep two docs of one
        # entity, but every planted entity keeps at least one doc
        if {self.entity[x] for x in ids} != set(self.entity.values()):
            raise CheckFailed("a planted entity lost every curated doc")
        reduced = reduced_frac(ids, self.entity, self.planted)
        if reduced < self.min_reduced:
            raise CheckFailed(
                f"near-dup dedup reduced {reduced:.3f} of the planted clusters "
                f"to one doc (< {self.min_reduced})"
            )
        self.quality.setdefault("reduced_frac", []).append(reduced)
        self._same_as_first("curated docs", decisions_digest(ids))

    def _check_decisions(self, d: dict) -> None:
        rows = list(zip(d["id"], d["component"], d["keep_id"], d["is_survivor"]))
        if sorted(r[0] for r in rows) != sorted(self.entity):
            raise CheckFailed("decision ids differ from the input ids")
        keep = {}
        for doc, comp, keep_id, surv in rows:
            if keep.setdefault(comp, keep_id) != keep_id or surv != (doc == keep_id):
                raise CheckFailed(f"component {comp} has no single survivor")
        f1 = pair_f1({r[0]: r[1] for r in rows}, self.entity)
        if f1 < self.min_f1:
            raise CheckFailed(f"ER pairwise F1 {f1:.4f} < {self.min_f1}")
        self._same_as_first("ER decisions", decisions_digest(rows))
        self.quality.setdefault("pair_f1", []).append(f1)

    def _same_as_first(self, what: str, digest: str) -> None:
        """The jobs are deterministic: every call of a run must give the
        output of its first call (the untimed set-up call)."""
        if self.first.setdefault(what, digest) != digest:
            raise CheckFailed(f"{what} differ from the run's first call")


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


WORKLOADS = {w.name: w for w in (LinkBatch, JobsBatch)}

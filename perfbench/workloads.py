"""The benchmark's workloads: seeded inputs, timed calls into the public
linkgraph API, and the output check of every call.

Each workload has four parts:

  materialize(ctx)  writes the seeded input to parquet and reads it back
                    (set-up; timed several times, outside the passes);
  references(ctx)   computes the expected outputs with numpy and
                    ``linkgraph.oracle`` (untimed, once per run);
  run_pass(ctx, p)  one pass: every timed call, each followed by its
                    untimed output check;
  probe(ctx, p)     traced runs only, after the passes: the calls that
                    only per-layer metrics report, with their checks.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from linkgraph import etl, oracle
from linkgraph.algos.cdlp import cdlp
from linkgraph.algos.matching import mis
from linkgraph.algos.pagerank import pagerank
from linkgraph.algos.triangles import triangle_corners
from linkgraph.algos.wcc import wcc
from linkgraph.datagen import repo_table
from linkgraph.graph import Graph
from linkgraph.tpch_graph import part_edges

PAGERANK_ATOL = 1e-6
# PageRank runs a fixed number of supersteps (tol=0): the L1 < tol*N stop
# rule would make the superstep count, and so every time, depend on the
# seed's graph.
PAGERANK_ROUNDS = 5
RESUME_STOP_AT = 3  # the interrupted run of the resume op stops after this many supersteps


def _edges_np(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select("src", "dst").toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def _column(df, key: str, col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select(key, col).toPandas().sort_values(key)
    return pdf[key].to_numpy(np.int64), pdf[col].to_numpy()


def _same(got: tuple[np.ndarray, np.ndarray], ref: tuple[np.ndarray, np.ndarray], atol=None):
    """(ok, detail) of a per-vertex result against its reference."""
    (gi, gv), (ri, rv) = got, ref
    if not np.array_equal(gi, ri):
        return False, f"vertex sets differ ({len(gi)} vs {len(ri)} ids)"
    bad = ~np.isclose(gv, rv, rtol=0.0, atol=atol) if atol is not None else gv != rv
    return (not bad.any()), f"{int(bad.sum())}/{len(gi)} values differ"


def _mis_check(state, s: np.ndarray, d: np.ndarray):
    """Independence and maximality of an (id, in_mis) frame on the
    undirected simple graph with endpoint arrays s, d."""
    ids, flag = _column(state, "id", "in_mis")
    si, di = np.searchsorted(ids, s), np.searchsorted(ids, d)
    member = flag.astype(bool)
    adjacent_pairs = int((member[si] & member[di]).sum())
    covered = member.copy()
    covered[di[member[si]]] = True
    covered[si[member[di]]] = True
    uncovered = int((~covered).sum())
    return adjacent_pairs == 0 and uncovered == 0, (
        f"{adjacent_pairs} edges inside the set, {uncovered} vertices neither in nor next to it")


def _pagerank_rows(s: np.ndarray, d: np.ndarray, alpha: float = 0.85):
    """``oracle.pagerank`` (directed) with every edge row counted, so
    parallel edges add to the out-degree and carry rank each, as the
    engine's pagerank does; the oracle collapses them first."""
    ids = np.unique(np.concatenate([s, d]))
    n, si, di = len(ids), np.searchsorted(ids, s), np.searchsorted(ids, d)
    deg = np.bincount(si, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ROUNDS):
        w = np.divide(rank, deg, out=np.zeros(n), where=deg > 0)
        rank = (1 - alpha) / n + alpha * np.bincount(di, weights=w[si], minlength=n) \
            + alpha * rank[deg == 0].sum() / n
    return ids, rank


def _simple_undirected(s: np.ndarray, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    pairs = np.unique(np.stack([np.concatenate([s, d]), np.concatenate([d, s])], axis=1), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    return pairs[:, 0], pairs[:, 1]


def _pagerank_ops(ctx, p, g: Graph, ref, durable: bool) -> None:
    """pagerank, then the resume op: a fresh engine resumes a durable run
    stopped after RESUME_STOP_AT supersteps to convergence. The resumed
    ranks must equal the uninterrupted ones.

    A durable pagerank checkpoints every superstep, so its directory,
    cut back to the first RESUME_STOP_AT checkpoints, is the one the
    stopped run would have left. An in-memory pagerank leaves none, and
    the stopped run (``resume_prefix``) is run for it."""
    ck = ctx.scratch("checkpoint-pagerank") if durable else None
    r = p.call("pagerank", lambda: ctx.materialized(pagerank(
        g, tol=0.0, max_iter=PAGERANK_ROUNDS,
        engine=ctx.engine(checkpoint_dir=ck, checkpoint_every=1))))
    if r is None:
        return
    p.results["pagerank"] = r
    ranks = _column(r.state, "id", "rank")
    if ref is not None:
        p.check("pagerank", lambda: _same(ranks, ref(), atol=PAGERANK_ATOL))

    if durable:
        r.state.unpersist()
        for name in os.listdir(ck):
            if name.startswith("round=") and int(name.removeprefix("round=")) >= RESUME_STOP_AT:
                shutil.rmtree(os.path.join(ck, name))
    else:
        ck = ctx.scratch("checkpoint-resume")
        stopped = p.call("resume_prefix", lambda: ctx.materialized(pagerank(
            g, tol=0.0, max_iter=RESUME_STOP_AT,
            engine=ctx.engine(checkpoint_dir=ck, checkpoint_every=1))), op="resume")
        if stopped is None:
            return
    r = p.call("resume", lambda: ctx.materialized(pagerank(
        g, tol=0.0, max_iter=PAGERANK_ROUNDS, resume=True,
        engine=ctx.engine(checkpoint_dir=ck, checkpoint_every=1))))
    if r is not None:
        p.results["resume"] = r
        p.check("resume", lambda: _same(_column(r.state, "id", "rank"), ranks,
                                        atol=PAGERANK_ATOL))


class Copurchase:
    """TPC-H-shaped co-purchase graph: parts bought in the same order
    are linked (``tpch_graph.part_edges``). The lineitem table has the
    shape of TPC-H scale factor 0.01 (15,000 orders of 1-7 lines over
    2,000 parts) and is fixed; ``--seed`` applies a bijective affine
    relabel of the part keys modulo a prime above the largest key."""

    name = "copurchase-sf0.01"
    N_ORDERS = 15_000
    N_PARTS = 2_000
    PRIME = 2_003  # smallest prime above N_PARTS
    BASE_SEED = 1  # the fixed lineitem table; --seed only relabels it
    CDLP_ROUNDS = 10

    def lineitem(self, seed: int) -> tuple[np.ndarray, np.ndarray]:
        rng = np.random.default_rng(self.BASE_SEED)
        lines = rng.integers(1, 8, self.N_ORDERS)
        order = np.repeat(np.arange(1, self.N_ORDERS + 1, dtype=np.int64), lines)
        part = rng.integers(1, self.N_PARTS + 1, len(order), dtype=np.int64)
        relabel = np.random.default_rng(seed)
        a = int(relabel.integers(1, self.PRIME))
        b = int(relabel.integers(0, self.PRIME))
        return order, (a * part + b) % self.PRIME

    def materialize(self, ctx) -> None:
        order, part = self.lineitem(ctx.seed)
        ctx.sf_dir = ctx.scratch("sf")
        os.makedirs(ctx.sf_dir)
        pq.write_table(pa.table({"l_orderkey": order, "l_partkey": part}),
                       os.path.join(ctx.sf_dir, "lineitem.parquet"))
        ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "lineitem.parquet")).count()

    def references(self, ctx) -> dict:
        order, part = self.lineitem(ctx.seed)
        op = np.unique(np.stack([order, part], axis=1), axis=0)  # sorted by (order, part)
        src, dst = [], []
        for k in range(1, 7):  # an order has at most 7 lines
            same = op[:-k, 0] == op[k:, 0]
            src.append(op[:-k, 1][same])
            dst.append(op[k:, 1][same])
        pairs, weight = np.unique(
            np.stack([np.concatenate(src), np.concatenate(dst)], axis=1), axis=0, return_counts=True)
        s, d = pairs[:, 0], pairs[:, 1]
        us, ud = _simple_undirected(s, d)
        return {
            "edges": (s, d, weight.astype(np.float64)),
            "pagerank": oracle.pagerank(s, d, directed=True, tol=0.0, max_iter=PAGERANK_ROUNDS),
            "wcc": oracle.wcc(s, d),
            "cdlp": oracle.cdlp(s, d, max_round=self.CDLP_ROUNDS),
            "triangles": oracle.triangles(s, d),
            "undirected": (us, ud),
        }

    def run_pass(self, ctx, p) -> None:
        spark, ref = ctx.spark, ctx.refs
        edges_dir = ctx.scratch("edges")

        def derive():
            e = part_edges(spark, ctx.sf_dir)
            e.write.parquet(edges_dir)
            return e

        if p.call("etl", derive) is None:
            return
        p.counts["etl.edges"] = len(ref["edges"][0])

        def etl_check():
            pdf = spark.read.parquet(edges_dir).toPandas().sort_values(["src", "dst"])
            rs, rd, rw = ref["edges"]
            ok = (np.array_equal(pdf["src"].to_numpy(), rs) and np.array_equal(pdf["dst"].to_numpy(), rd)
                  and np.array_equal(pdf["weight"].to_numpy(), rw))
            return ok, f"{len(pdf)} edges vs {len(rs)} expected"

        p.check("etl", etl_check)

        ctx.edges_dir = edges_dir
        g = Graph.from_edges(spark.read.parquet(edges_dir).select("src", "dst"), directed=True)
        _pagerank_ops(ctx, p, g, lambda: ref["pagerank"], durable=False)

    def probe(self, ctx, p) -> None:
        """wcc, cdlp, triangle_corners and matching.mis on the last
        pass's edge table. They are too slow for every run to repeat, so
        their times are per-layer metrics of the traced run."""
        spark, ref = ctx.spark, ctx.refs
        g = Graph.from_edges(spark.read.parquet(ctx.edges_dir).select("src", "dst"), directed=True)

        r = p.call("wcc", lambda: ctx.materialized(wcc(g, engine=ctx.engine())))
        if r is not None:
            p.results["wcc"] = r
            p.check("wcc", lambda: _same(_column(r.state, "id", "comp"), ref["wcc"]))

        r = p.call("cdlp", lambda: ctx.materialized(
            cdlp(g, max_round=self.CDLP_ROUNDS, engine=ctx.engine())))
        if r is not None:
            p.results["cdlp"] = r
            p.check("cdlp", lambda: _same(_column(r.state, "id", "label"), ref["cdlp"]))

        def triangles_call():
            corners = triangle_corners(g).persist()
            corners.count()
            return corners

        corners = p.call("triangles", triangles_call)
        if corners is not None:
            def triangles_check():
                per_vertex = (corners.select(F.explode(F.array("x", "y", "z")).alias("id"))
                              .groupBy("id").count().toPandas())
                ids, tri = ref["triangles"]
                got = np.zeros(len(ids), dtype=np.int64)
                got[np.searchsorted(ids, per_vertex["id"].to_numpy())] = per_vertex["count"]
                bad = int((got != tri).sum())
                return bad == 0, f"{bad}/{len(ids)} per-vertex counts differ"

            p.check("triangles", triangles_check)
            corners.unpersist()

        r = p.call("mis", lambda: ctx.materialized(mis(g)))
        if r is not None:
            p.results["mis"] = r
            p.check("mis", lambda: _mis_check(r.state, *ref["undirected"]))


class RepoEtlDurable:
    """The paper's input path: a generated source-repository table runs
    through ``etl.build_link_graph`` and ``etl.compact_vertex_ids`` in the
    same session, and PageRank runs with a durable checkpoint after
    every superstep over the uncut ETL lineage."""

    name = "repo-etl-durable"
    N_REPOS = 50
    FILES_PER_REPO = 500
    N_COMMITS = 50

    def materialize(self, ctx) -> None:
        ctx.repo_dir = ctx.scratch("repo")
        repo_table(ctx.spark, n_repos=self.N_REPOS, files_per_repo=self.FILES_PER_REPO,
                   n_commits=self.N_COMMITS, seed=ctx.seed).write.parquet(ctx.repo_dir)
        ctx.spark.read.parquet(ctx.repo_dir).count()

    def references(self, ctx) -> dict:
        pdf = ctx.spark.read.parquet(ctx.repo_dir).select("repo", "path", "content").toPandas()
        return {
            "sha": {(r, p): hashlib.sha256(c.encode()).hexdigest()
                    for r, p, c in zip(pdf["repo"], pdf["path"], pdf["content"])},
        }

    def run_pass(self, ctx, p) -> None:
        spark, ref = ctx.spark, ctx.refs
        repo = spark.read.parquet(ctx.repo_dir)
        built = {}

        def run_etl():
            vertices, edges = etl.build_link_graph(repo)
            compact, _ = etl.compact_vertex_ids(edges.select("src", "dst"))
            compact.count()
            built.update(vertices=vertices, edges=compact)
            return compact

        if p.call("etl", run_etl) is None:
            return
        vertices, edges = built["vertices"], built["edges"]
        graph_ref = {}

        def etl_check():
            vdf = vertices.select("id", "repo", "path", "content_sha").toPandas()
            got = dict(zip(zip(vdf["repo"], vdf["path"]), vdf["content_sha"]))
            bad = sum(got.get(k) != v for k, v in ref["sha"].items())
            s, d = _edges_np(edges)
            graph_ref["edges"] = (s, d)
            p.counts.update({"etl.files": len(vdf), "etl.distinct_ids": int(vdf["id"].nunique()),
                             "etl.edges": len(s)})
            return bad == 0 and len(got) == len(ref["sha"]), (
                f"{bad}/{len(ref['sha'])} files miss or break the sha256(content) invariant")

        p.check("etl", etl_check)
        # Known defect: with AQE on, etl.file_vertices hands the same id to
        # several files. Reported by name, not counted as a failed op.
        p.known_defect("etl.distinct_ids", lambda: (
            p.counts.get("etl.distinct_ids") == p.counts.get("etl.files"),
            f"{p.counts.get('etl.distinct_ids')} distinct ids for {p.counts.get('etl.files')} files"))

        def pagerank_ref():
            s, d = graph_ref["edges"]
            return _pagerank_rows(s, d)

        g = Graph.from_edges(edges, directed=True)
        _pagerank_ops(ctx, p, g, pagerank_ref if "edges" in graph_ref else None, durable=True)

    def probe(self, ctx, p) -> None:
        """Seconds per ETL stage (calls ``etl.<stage>``), each stage
        materialized on its own. Splitting the ETL this way changes its
        plan, so it is never part of a timed pass."""
        repo = ctx.spark.read.parquet(ctx.repo_dir)
        v = p.call("etl.file_vertices", lambda: _counted(etl.file_vertices(repo).persist()))
        if v is None:
            return
        dep = p.call("etl.dependency_edges", lambda: etl.dependency_edges(repo, v).localCheckpoint())
        co = p.call("etl.cochange_edges", lambda: etl.cochange_edges(repo, v).localCheckpoint())
        if dep is not None and co is not None:
            edges = dep.unionByName(co).select("src", "dst")
            p.call("etl.compact_vertex_ids", lambda: _counted(etl.compact_vertex_ids(edges)[0]))
        v.unpersist()


def _counted(df):
    df.count()
    return df


WORKLOADS = {w.name: w for w in (Copurchase(), RepoEtlDurable())}


def checkpoint_usage(work: str) -> tuple[int, int]:
    """(bytes, files) under every durable checkpoint directory of a run."""
    total = files = 0
    for entry in os.listdir(work):
        if "-checkpoint-" not in entry:
            continue
        for root, _, names in os.walk(os.path.join(work, entry)):
            total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
            files += len(names)
    return total, files

"""Vectorized CSR-block kernels: the north-star execution path.

The reference stores topology as per-fragment CSR (neighbor array +
offsets, docs/analytical_engine/performance_tuning.md:42-86) and runs
thread-parallel gather-scatter over it (ParallelEngine::ForEach,
apps/pagerank/pagerank_networkx.h:65,108). The Spark re-expression:

  * the edge set is aggregated ONCE into per-source adjacency blocks
    (src, nbrs: array<long>) — exactly a CSR row: `nbrs` is the
    indices array, the row boundary is the implicit indptr. The block
    table is hash-partitioned by src and persisted, so it never moves
    again (the reference's "mirrors stay put" design).
  * each superstep joins the co-partitioned vertex state onto the
    blocks (no edge shuffle — both sides share the src partitioning)
    and runs a `mapInArrow` kernel that does the scatter on the raw
    Arrow buffers: the neighbor lists' contiguous values buffer is a
    zero-copy flatten, each source's message is np.repeat-ed over its
    out-list lengths (from the list offsets), and the result is
    PRE-COMBINED per destination inside the partition (Arrow C++ hash
    aggregation, sum or min) before the single (dst → contribution)
    shuffle. That pre-combine is the map-side message combining of the
    reference's SyncStateOnOuterVertex strategies
    (key_concepts.rst:127-143).

No per-row Python anywhere: the kernel touches whole Arrow batches and
every operation inside is a numpy/Arrow vectorized call. pagerank_csr
and wcc_csr are the flagship instances (sum- and min-combine).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult
from linkgraph.graph import Graph
from linkgraph.joins import state_join


CSR_CHUNK_SIZE = 8192


def adjacency_blocks(
    edges: DataFrame,
    num_partitions: int,
    chunk_size: int = CSR_CHUNK_SIZE,
    weight: str | None = None,
) -> DataFrame:
    """CSR blocks (src: long, nbrs: array<long>, odeg: int) hash-
    partitioned by src; ``odeg`` is the block's own length (a source
    may own several blocks). Built once per job and persisted by
    callers. With ``weight`` set, a parallel ``wts`` array rides along
    (collected as one struct list so the two arrays stay aligned —
    separate collect_lists carry no ordering contract).

    Hub sharding: a power-law hub would otherwise become ONE
    collect_list row holding its entire out-list (a 10⁸-degree hub =
    a multi-GB row pinned to a single task). Sources with out-degree
    above ``chunk_size`` are split into ⌈deg/chunk_size⌉ blocks keyed
    by a deterministic hash of the neighbor — no windows/sorts, the
    split is decided row-by-row inside the same shuffle that builds
    the blocks. The scatter kernel is chunk-oblivious (each block row
    carries its own length and the source's message is repeated per
    block), so correctness is unaffected."""
    deg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    chunks = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.col("_deg") / F.lit(chunk_size)).cast("long")
    )
    grouped = edges.join(deg, "src").withColumn(
        "_chunk", F.pmod(F.xxhash64("dst"), chunks)
    ).groupBy("src", "_chunk")
    if weight is None:
        agg = grouped.agg(
            F.collect_list("dst").alias("nbrs"), F.count("*").cast("int").alias("odeg")
        )
        return agg.select("src", "nbrs", "odeg").repartition(num_partitions, "src")
    agg = grouped.agg(
        F.collect_list(F.struct(F.col("dst"), F.col(weight).alias("ew"))).alias("pairs"),
        F.count("*").cast("int").alias("odeg"),
    )
    return agg.select(
        "src",
        F.col("pairs").getField("dst").alias("nbrs"),
        F.col("pairs").getField("ew").alias("wts"),
        "odeg",
    ).repartition(num_partitions, "src")


def _scatter_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched gather-scatter: (nbrs, w) rows -> pre-combined
    (dst, c) partials. Vectorized: repeat + concatenate + groupby."""
    for pdf in batches:
        if pdf.empty:
            continue
        counts = pdf["odeg"].to_numpy()
        w = np.repeat(pdf["w"].to_numpy(), counts)
        dst = np.concatenate(pdf["nbrs"].to_numpy()) if len(pdf) else np.empty(0, np.int64)
        out = pd.DataFrame({"dst": dst.astype(np.int64), "c": w})
        # map-side combine: one partial row per distinct dst in the batch
        yield out.groupby("dst", sort=False, as_index=False)["c"].sum()


def make_scatter_kernel(op: str = "sum"):
    """Gather-scatter on raw Arrow RecordBatches (mapInArrow), with the
    map-side combine ``op`` ('sum' for rank mass, 'min' for label
    propagation — the reference's message-combine strategies,
    key_concepts.rst:127-143).

    The pandas kernel pays two conversions the math never needed: the
    list column materializes as an object ndarray of per-row ndarrays
    (one Python object + allocation per source), and np.concatenate
    re-copies them into one buffer. Arrow already stores the neighbor
    lists as ONE contiguous values buffer + offsets — ``flatten()`` is
    a zero-copy view, per-row lengths come from the offsets, and the
    combine runs in Arrow's C++ hash aggregation. Input rows
    (nbrs: list<int|long>, odeg: int, w: numeric); output (dst, c),
    pre-combined per batch, both keeping their input types — an
    int32-compacted graph sends 4-byte keys through the shuffle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            nbrs = cols["nbrs"]
            counts = pc.list_value_length(nbrs).to_numpy().astype(np.int64, copy=False)
            dst = nbrs.flatten().to_numpy(zero_copy_only=False)
            w = np.repeat(cols["w"].to_numpy(zero_copy_only=False), counts)
            t = pa.table({"dst": dst, "c": w})
            # map-side combine: C++ hash agg, single-threaded (one
            # Python worker per core already — threads would
            # oversubscribe)
            agg = t.group_by("dst", use_threads=False).aggregate([("c", op)])
            out = pa.table({"dst": agg.column("dst"), "c": agg.column(f"c_{op}")})
            yield from out.to_batches()

    return kernel


_scatter_kernel_arrow = make_scatter_kernel("sum")


def make_minplus_kernel():
    """Min-plus (tropical) semiring scatter: each input row carries a
    source distance ``w`` plus aligned (nbrs, wts) arrays; the kernel
    emits dist-candidate partials c = w + edge-weight per neighbor,
    min-combined per destination inside the partition. With the sum
    kernel (PageRank) and the min kernel (WCC) this completes the
    semiring triple the reference's message-combine strategies span
    (key_concepts.rst:127-143; sssp relaxation semantics
    apps/projected/sssp_projected.h)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            nbrs = cols["nbrs"]
            counts = pc.list_value_length(nbrs).to_numpy().astype(np.int64, copy=False)
            dst = nbrs.flatten().to_numpy(zero_copy_only=False)
            ew = cols["wts"].flatten().to_numpy(zero_copy_only=False)
            sd = np.repeat(cols["w"].to_numpy(zero_copy_only=False), counts)
            t = pa.table({"dst": dst, "c": sd + ew})
            agg = t.group_by("dst", use_threads=False).aggregate([("c", "min")])
            yield from pa.table(
                {"dst": agg.column("dst"), "c": agg.column("c_min")}
            ).to_batches()

    return kernel


HUB_SPLIT_DEGREE = 65_536


def _split_adjacency(
    edges: DataFrame, P: int, hub_degree: int, weight: str | None = None
):
    """Build the two-frame CSR block layout shared by every kernel
    algorithm: tail sources hash-partitioned by src (never move again),
    hub sources (out-degree ≥ hub_degree) spread round-robin with their
    per-superstep messages broadcast — see pagerank_csr's docstring for
    the measured rationale. Returns (adj, hub_adj, hub_ids,
    n_hub_blocks, src_totals); caller unpersists."""
    src_totals = edges.groupBy("src").agg(F.count("*").alias("t")).persist()
    hub_ids = src_totals.where(F.col("t") >= hub_degree).select("src")
    if hub_ids.count():
        tail_edges = edges.join(F.broadcast(hub_ids), "src", "left_anti")
        hub_edges = edges.join(F.broadcast(hub_ids), "src", "left_semi")
        hub_adj = adjacency_blocks(hub_edges, P, weight=weight).repartition(P).persist()
        n_hub_blocks = hub_adj.count()
    else:
        tail_edges = edges
        hub_adj = None
        n_hub_blocks = 0
    adj = adjacency_blocks(tail_edges, P, weight=weight).persist()
    return adj, hub_adj, hub_ids, n_hub_blocks, src_totals


def pagerank_csr(
    graph: Graph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    engine: SuperstepEngine | None = None,
    num_partitions: int | None = None,
    hub_degree: int = HUB_SPLIT_DEGREE,
    resume: bool = False,
) -> SuperstepResult:
    """PageRank with identical semantics to linkgraph.algos.pagerank
    (pagerank_networkx.h:54-163 transcription) but with the CSR-block
    scatter kernel instead of an edge join per superstep.

    Hub split: chunking alone bounds ROW size, but every chunk of a
    hub source still hashes to the same src partition — a 4M-degree
    hub made one task own 20% of all edges (measured 3.3× per-edge
    slowdown, tools/skew_bench.py). Sources with out-degree ≥
    ``hub_degree`` therefore go to a separate block frame partitioned
    ROUND-ROBIN over all partitions; their per-superstep messages are
    a ≤|hubs|-row frame that broadcasts, so the hub blocks never
    shuffle and every partition carries an even share of hub edges —
    the top_hub_split discipline wired into the hot path."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    edges = g.edges.select("src", "dst") if g.directed else (
        g.to_undirected(dedup=True).edges.select("src", "dst")
    )
    adj, hub_adj, hub_ids, n_hub_blocks, src_totals = _split_adjacency(
        edges, P, hub_degree
    )
    n_edges = src_totals.agg(F.sum("t")).collect()[0][0] or 0

    verts = g.deduced_vertices()
    # full out-degree per source (a chunked source owns several adj
    # rows, hubs live in their own frame — sum over both)
    src_deg = src_totals.select(F.col("src").alias("id"), F.col("t").cast("long").alias("odeg"))
    deg = (
        verts.join(src_deg, "id", "left")
        .select("id", F.coalesce("odeg", F.lit(0)).cast("long").alias("deg"))
    )
    n = deg.count()
    if n == 0:
        return SuperstepResult(
            state=verts.select("id", F.lit(0.0).alias("rank")), rounds=0, converged=True
        )

    init = deg.select("id", "deg", F.lit(1.0 / n).alias("rank")).repartition(P, "id")
    dangling_cell: dict[str, float | None] = {"mass": None}
    base = (1.0 - alpha) / n

    # the kernel emits dst in the neighbor lists' own type — declare the
    # output schema to match (int for a compacted graph, long otherwise)
    dst_sql_type = dict(edges.dtypes)["dst"]
    scatter_schema = f"dst {dst_sql_type}, c double"

    def step(state: DataFrame, round_: int):
        state = state.drop("prev_rank")
        if dangling_cell["mass"] is None:
            dangling_cell["mass"] = (
                state.agg(
                    F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(0.0)).alias("d")
                ).collect()[0]["d"]
                or 0.0
            )
        dangling = dangling_cell["mass"]
        # gather inputs: co-partitioned join (adj and msgs both hashed by src)
        msgs_in = state.where(F.col("deg") > 0).select(
            F.col("id").alias("src"), (F.col("rank") / F.col("deg")).alias("w")
        )
        partials = adj.join(msgs_in.hint("SHUFFLE_HASH"), "src").select("nbrs", "odeg", "w").mapInArrow(
            _scatter_kernel_arrow, schema=scatter_schema
        )
        if n_hub_blocks:
            # hub sources: their messages are a tiny frame (one row per
            # hub) — broadcast it onto the round-robin-spread hub
            # blocks, so no partition owns a whole hub's edge list
            hub_msgs = msgs_in.join(F.broadcast(hub_ids), "src", "left_semi")
            hub_partials = (
                hub_adj.join(F.broadcast(hub_msgs), "src")
                .select("nbrs", "odeg", "w")
                .mapInArrow(_scatter_kernel_arrow, schema=scatter_schema)
            )
            partials = partials.unionByName(hub_partials)
        contribs = partials.groupBy(F.col("dst").alias("id")).agg(F.sum("c").alias("msg"))
        new_state = (
            state_join(state.withColumnRenamed("rank", "prev_rank"), contribs)
            .select(
                "id",
                "deg",
                (
                    F.lit(base)
                    + F.lit(alpha) * F.coalesce("msg", F.lit(0.0))
                    + F.lit(alpha * dangling / n)
                ).alias("rank"),
                "prev_rank",
            )
        )
        def to_metrics(agg: dict) -> dict:
            eps = agg["eps"] or 0.0
            dangling_cell["mass"] = agg["dangling"] or 0.0
            return {
                "halt": eps < tol * n,
                "l1_delta": eps,
                "edges_processed": n_edges,
                "mode": "csr",
            }

        # L1 + next-round dangling mass ride the truncation action
        return new_state, Observed(
            exprs=[
                F.sum(F.abs(F.col("rank") - F.col("prev_rank"))).alias("eps"),
                F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(0.0)).alias(
                    "dangling"
                ),
            ],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select("id", "rank")
    adj.unpersist()
    src_totals.unpersist()
    if hub_adj is not None:
        hub_adj.unpersist()
    return result


def wcc_csr(
    graph: Graph,
    engine: SuperstepEngine | None = None,
    max_iter: int = 1000,
    num_partitions: int | None = None,
    hub_degree: int = HUB_SPLIT_DEGREE,
    resume: bool = False,
) -> SuperstepResult:
    """Weakly connected components with identical semantics to
    linkgraph.algos.wcc (wcc_projected.h:70-182 — min-label
    propagation, delta frontier, exact fixpoint) on the CSR-block
    scatter path: the symmetrized edge set becomes persisted adjacency
    blocks that never move again, and each superstep ships only the
    CHANGED vertices' labels into the min-combining Arrow kernel. The
    frontier filter makes every round sparse by construction — the
    join-path dense/sparse switch collapses to one plan."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    edges = (
        g.symmetrized_edges()
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    adj, hub_adj, hub_ids, n_hub_blocks, src_totals = _split_adjacency(
        edges, P, hub_degree
    )
    n_edges = src_totals.agg(F.sum("t")).collect()[0][0] or 0

    verts = g.deduced_vertices()
    n = verts.count()
    if n == 0:
        src_totals.unpersist()
        adj.unpersist()
        return SuperstepResult(
            state=verts.select("id", F.col("id").alias("comp")),
            rounds=0,
            converged=True,
        )

    init = verts.select(
        "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
    ).repartition(P, "id")
    # labels are vertex ids: the kernel output keeps the id type, so an
    # int32-compacted graph ships 4-byte keys AND 4-byte labels
    id_t = dict(edges.dtypes)["dst"]
    scatter_schema = f"dst {id_t}, c {id_t}"
    kernel = make_scatter_kernel("min")

    def step(state: DataFrame, round_: int):
        msgs_in = state.where(F.col("changed")).select(
            F.col("id").alias("src"), F.col("comp").alias("w")
        )
        partials = (
            adj.join(msgs_in.hint("SHUFFLE_HASH"), "src")
            .select("nbrs", "odeg", "w")
            .mapInArrow(kernel, schema=scatter_schema)
        )
        if n_hub_blocks:
            hub_msgs = msgs_in.join(F.broadcast(hub_ids), "src", "left_semi")
            hub_partials = (
                hub_adj.join(F.broadcast(hub_msgs), "src")
                .select("nbrs", "odeg", "w")
                .mapInArrow(kernel, schema=scatter_schema)
            )
            partials = partials.unionByName(hub_partials)
        cand = partials.groupBy(F.col("dst").alias("id")).agg(
            F.min("c").alias("cand")
        )
        new_state = state_join(state, cand).select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("cand"), F.col("comp"))).alias(
                "comp"
            ),
            (F.coalesce(F.col("cand"), F.col("comp")) < F.col("comp")).alias(
                "changed"
            ),
        )

        def to_metrics(agg: dict) -> dict:
            changed = int(agg["c"] or 0)
            return {
                "halt": changed == 0,
                "frontier": changed,
                "mode": "csr",
                "edges_processed": n_edges,
            }

        return new_state, Observed(
            exprs=[F.sum(F.col("changed").cast("long")).alias("c")],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select("id", "comp")
    adj.unpersist()
    src_totals.unpersist()
    if hub_adj is not None:
        hub_adj.unpersist()
    return result


def sssp_csr(
    graph: Graph,
    source: int,
    weight_col: str | None = None,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
    num_partitions: int | None = None,
    directed: bool | None = None,
    hub_degree: int = HUB_SPLIT_DEGREE,
    resume: bool = False,
) -> SuperstepResult:
    """Single-source shortest paths with identical semantics to
    linkgraph.algos.traversal.sssp (grape SSSPOpt / nx sssp_projected,
    apps/projected/sssp_projected.h: Bellman-Ford min-dist fixpoint,
    delta frontier, unreached = -1.0) on the CSR-block scatter path:
    the (deduplicated, lightest-parallel-edge) edge set becomes
    persisted weighted adjacency blocks that never move again, and
    each superstep ships only the CHANGED vertices' distances into the
    min-plus Arrow kernel. Completes the semiring triple alongside
    pagerank_csr (sum) and wcc_csr (min)."""
    w = weight_col or graph.weight_col
    # the cut carries only the graph's own weight column
    g = (graph if w == graph.weight_col else graph.project_to_simple(w)).materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    use_directed = g.directed if directed is None else directed

    cols = ["src", "dst"] + ([w] if w else [])
    base_edges = g.edges.select(*cols)
    if not use_directed:
        base_edges = Graph.from_edges(base_edges, directed=True).symmetrized_edges()
    edges = (
        base_edges.select(
            "src", "dst", (F.col(w) if w else F.lit(1.0)).cast("double").alias("ew")
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("ew").alias("ew"))  # parallel edges: keep the lightest
    )
    adj, hub_adj, hub_ids, n_hub_blocks, src_totals = _split_adjacency(
        edges, P, hub_degree, weight="ew"
    )
    n_edges = src_totals.agg(F.sum("t")).collect()[0][0] or 0

    verts = g.deduced_vertices()
    n = verts.count()
    if n == 0:
        src_totals.unpersist()
        adj.unpersist()
        return SuperstepResult(
            state=verts.select("id", F.lit(-1.0).alias("dist")),
            rounds=0,
            converged=True,
        )

    INF = float("inf")
    init = verts.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    ).repartition(P, "id")
    dst_sql_type = dict(edges.dtypes)["dst"]
    scatter_schema = f"dst {dst_sql_type}, c double"
    kernel = make_minplus_kernel()

    def step(state: DataFrame, round_: int):
        msgs_in = state.where(F.col("changed")).select(
            F.col("id").alias("src"), F.col("dist").alias("w")
        )
        partials = (
            adj.join(msgs_in.hint("SHUFFLE_HASH"), "src")
            .select("nbrs", "wts", "odeg", "w")
            .mapInArrow(kernel, schema=scatter_schema)
        )
        if n_hub_blocks:
            hub_msgs = msgs_in.join(F.broadcast(hub_ids), "src", "left_semi")
            hub_partials = (
                hub_adj.join(F.broadcast(hub_msgs), "src")
                .select("nbrs", "wts", "odeg", "w")
                .mapInArrow(kernel, schema=scatter_schema)
            )
            partials = partials.unionByName(hub_partials)
        relax = partials.groupBy(F.col("dst").alias("id")).agg(
            F.min("c").alias("cand")
        )
        new_state = state_join(state, relax).select(
            "id",
            F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("dist"),
            (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("changed"),
        )

        def to_metrics(agg: dict) -> dict:
            changed = int(agg["c"] or 0)
            return {
                "halt": changed == 0,
                "frontier": changed,
                "mode": "csr",
                "edges_processed": n_edges,
            }

        return new_state, Observed(
            exprs=[F.sum(F.col("changed").cast("long")).alias("c")],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select(
        "id",
        F.when(F.col("dist") == F.lit(INF), F.lit(-1.0))
        .otherwise(F.col("dist"))
        .alias("dist"),
    )
    adj.unpersist()
    src_totals.unpersist()
    if hub_adj is not None:
        hub_adj.unpersist()
    return result


def make_label_count_kernel():
    """Label-histogram scatter for CDLP: each input row scatters its
    source's current label ``w`` to its neighbor list and the kernel
    pre-combines (dst, lbl) → partial count inside the partition —
    the map-side half of the reference's most-frequent-label gather
    (apps/flash/clustering/lpa.h:47-77). Both key columns keep their
    input types (4-byte keys on a compacted graph)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            nbrs = cols["nbrs"]
            counts = pc.list_value_length(nbrs).to_numpy().astype(np.int64, copy=False)
            dst = nbrs.flatten().to_numpy(zero_copy_only=False)
            lbl = np.repeat(cols["w"].to_numpy(zero_copy_only=False), counts)
            t = pa.table({"dst": dst, "lbl": lbl})
            agg = t.group_by(["dst", "lbl"], use_threads=False).aggregate(
                [([], "count_all")]
            )
            yield from pa.table(
                {
                    "dst": agg.column("dst"),
                    "lbl": agg.column("lbl"),
                    "n": agg.column("count_all"),
                }
            ).to_batches()

    return kernel


def cdlp_csr(
    graph: Graph,
    max_round: int = 10,
    engine: SuperstepEngine | None = None,
    num_partitions: int | None = None,
    hub_degree: int = HUB_SPLIT_DEGREE,
    resume: bool = False,
) -> SuperstepResult:
    """CDLP with identical semantics to linkgraph.algos.cdlp (LDBC
    label propagation, python/graphscope/analytical/app/lpa.py:29-54 /
    apps/flash/clustering/lpa.h:47-77: most-frequent neighbor label,
    min-label ties, synchronous, fixed round budget) on the CSR-block
    scatter path. The symmetrized deduped edge set makes the
    dst-gather histogram identical to a src-scatter histogram, so the
    persisted adjacency blocks never move; each round ships the V-row
    label frame into the label-count kernel (map-side (dst,label)
    combine), then one (dst,label)→count shuffle + the struct-argmax.
    CDLP messages are dense by construction (mode is not incremental),
    so there is no frontier filter — the win over the join path is the
    pre-combined histogram: the shuffle carries at most one row per
    (partition, dst, label) instead of one per edge."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    edges = (
        g.symmetrized_edges()
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    adj, hub_adj, hub_ids, n_hub_blocks, src_totals = _split_adjacency(
        edges, P, hub_degree
    )
    n_edges = src_totals.agg(F.sum("t")).collect()[0][0] or 0

    verts = g.deduced_vertices()
    n = verts.count()
    if n == 0:
        src_totals.unpersist()
        adj.unpersist()
        return SuperstepResult(
            state=verts.select("id", F.col("id").alias("label")),
            rounds=0,
            converged=True,
        )

    init = verts.select("id", F.col("id").alias("label")).repartition(P, "id")
    id_t = dict(edges.dtypes)["dst"]
    scatter_schema = f"dst {id_t}, lbl {id_t}, n long"
    kernel = make_label_count_kernel()

    def step(state: DataFrame, round_: int):
        msgs_in = state.select(F.col("id").alias("src"), F.col("label").alias("w"))
        partials = (
            adj.join(msgs_in.hint("SHUFFLE_HASH"), "src")
            .select("nbrs", "odeg", "w")
            .mapInArrow(kernel, schema=scatter_schema)
        )
        if n_hub_blocks:
            hub_msgs = msgs_in.join(F.broadcast(hub_ids), "src", "left_semi")
            hub_partials = (
                hub_adj.join(F.broadcast(hub_msgs), "src")
                .select("nbrs", "odeg", "w")
                .mapInArrow(kernel, schema=scatter_schema)
            )
            partials = partials.unionByName(hub_partials)
        best = (
            partials.groupBy(F.col("dst").alias("id"), "lbl")
            .agg(F.sum("n").alias("cnt"))
            .groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("lbl")).alias("neg"))).alias("b"))
            .select("id", (-F.col("b.neg")).cast(id_t).alias("new_label"))
        )
        new_state = state_join(state, best).select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            (F.coalesce("new_label", "label") != F.col("label")).alias("_chg"),
        )

        def to_metrics(agg: dict) -> dict:
            changed = int(agg["c"] or 0)
            return {
                "halt": changed == 0,
                "changed": changed,
                "mode": "csr",
                "edges_processed": n_edges,
            }

        return new_state, Observed(
            exprs=[F.sum(F.col("_chg").cast("long")).alias("c")],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_round, resume=resume)
    result.state = result.state.select("id", "label")
    adj.unpersist()
    src_totals.unpersist()
    if hub_adj is not None:
        hub_adj.unpersist()
    return result

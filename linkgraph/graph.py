"""Property-graph data model on DataFrames.

The reference models a labeled property graph as Arrow property tables
plus CSR topology per fragment (docs/analytical_engine/
performance_tuning.md:16-95); graph-level client ops are OpDefs
dispatched in analytical_engine/core/grape_instance.cc:1300-1516.
Here the graph IS a pair of DataFrames:

    vertices(id: long, ...props)
    edges(src: long, dst: long, ...props)

and every graph-level op (PROJECT_TO_SIMPLE, TO_UNDIRECTED,
INDUCE_SUBGRAPH, ADD_COLUMN, REPORT_GRAPH, ...) is a declarative
DataFrame transformation that Catalyst can push down / prune / reorder.

A Graph is loaded once, like the reference's fragment: `materialized()`
stores the input cut (edges projected to src, dst [, weight] plus the
vertex ids), and every message edge frame an algorithm traverses
(`edge_view()`: stored or symmetrised, with or without self-loops,
distinct pairs, all rows, or the lightest or summed weight per pair)
is built from that cut once, hash-partitioned on src and persisted.
The sizes those builds measure are kept with them: each view's row
count (`view_size()`) and the cut's vertex count (`num_vertices()`),
and `degrees()` stores each view's (id, degree) frame over the cut's
vertex ids, so an algorithm's prologue reads its counts and degrees
instead of recounting them. `release()` is the one point that frees
them; until then every algorithm call on the Graph reads the same
stored rows.
"""

from __future__ import annotations

import functools
import inspect
from dataclasses import dataclass, field, replace

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F


def _checkpoint(df: DataFrame) -> DataFrame:
    """Evaluate `df` once and return a frame that reads the stored
    rows. Serialized MEMORY_AND_DISK: about 12 B per (src, dst) row on
    1M random edges, against 84 B for the default deserialized level."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


def weight_projected(fn):
    """Decorator for an algorithm `fn(graph, ..., weight_col=None, ...)`:
    run it on a graph whose own weight column is `weight_col` (the
    graph's own when None). The cut carries only the graph's own weight
    column, so another column goes through project_to_simple(), and
    that derived graph is released when `fn` returns."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def run(graph, *args, **kwargs):
        w = sig.bind(graph, *args, **kwargs).arguments.get("weight_col") or graph.weight_col
        if w == graph.weight_col:
            return fn(graph, *args, **kwargs)
        derived = graph.project_to_simple(w)
        try:
            return fn(derived, *args, **kwargs)
        finally:
            derived.release()

    return run


@dataclass
class Graph:
    """A (possibly directed) property graph over two DataFrames."""

    edges: DataFrame
    vertices: DataFrame | None = None
    directed: bool = True
    weight_col: str | None = None
    # memoised sizes and input cut (see materialized()); init=False, so
    # graphs derived with dataclasses.replace() never inherit them
    _num_vertices: int | None = field(default=None, init=False, repr=False, compare=False)
    _num_edges: int | None = field(default=None, init=False, repr=False, compare=False)
    _cut: "Graph | None" = field(default=None, init=False, repr=False, compare=False)
    # stored frames of the cut, keyed by (symmetric, loops, reduce):
    # the edge views (see edge_view()), their row counts and their
    # degree frames (see degrees()); shared with the cut, so release()
    # frees them together with the cut
    _views: dict = field(default_factory=dict, init=False, repr=False, compare=False)
    _view_rows: dict = field(default_factory=dict, init=False, repr=False, compare=False)
    _degrees: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    # -- construction -------------------------------------------------

    @classmethod
    def from_edges(
        cls,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        directed: bool = True,
        weight_col: str | None = None,
    ) -> "Graph":
        """Build a graph from an edge table; vertex set deduced from
        endpoints when not given (reference deduces vertex labels from
        edge endpoints the same way, graph.py:565-577).

        NOTE: directed=False asserts the edge table already stores
        BOTH directions (the `to_undirected()` invariant) — it is not
        enforced here. For a one-row-per-undirected-pair table, keep
        directed=True and let algorithms symmetrize on traversal
        (they all do); traversal helpers also symmetrize defensively.
        """
        g = cls(edges=edges, vertices=vertices, directed=directed, weight_col=weight_col)
        return g

    def deduced_vertices(self) -> DataFrame:
        """Distinct endpoint ids — used when no vertex table exists."""
        if self.vertices is not None:
            return self.vertices.select("id")
        e = self.edges
        return (
            e.select(F.col("src").alias("id"))
            .unionAll(e.select(F.col("dst").alias("id")))
            .distinct()
        )

    # -- input cut -----------------------------------------------------

    def materialized(self) -> "Graph":
        """The graph's input, evaluated once: edges projected to
        (src, dst [, weight_col]) and the vertex ids (the vertex table's,
        or deduced from the edges), each stored by a local checkpoint.
        The result is memoised on this object, so every later
        engine-driven algorithm call on it (a resume, a second
        algorithm) reads the stored rows instead of re-running the
        source plan (an ETL, a scan) and re-planning its lineage inside
        every superstep. The cut is a snapshot, like persist(): a source
        that changes afterwards is not seen until release()."""
        if self._cut is None:
            cols = ["src", "dst"] + ([self.weight_col] if self.weight_col else [])
            cut = Graph(edges=_checkpoint(self.edges.select(*cols)), directed=self.directed,
                        weight_col=self.weight_col)
            ids = self.vertices.select("id") if self.vertices is not None else cut.deduced_vertices()
            cut.vertices = _checkpoint(ids)
            cut._cut = cut
            cut._views, cut._view_rows, cut._degrees = self._views, self._view_rows, self._degrees
            self._cut = cut
        return self._cut

    def release(self) -> None:
        """Drop the memoised cut and unpersist its edge views and degree
        frames; the next algorithm call takes a new cut. Spark's
        ContextCleaner frees the cut's stored blocks once the JVM
        collects the checkpointed RDD (unpersist() on a local checkpoint
        frees nothing in PySpark 4.1.2); the views and degree frames are
        persisted frames, so they are unpersisted here."""
        for frame in (*self._views.values(), *self._degrees.values()):
            frame.unpersist()
        self._views.clear()
        self._view_rows.clear()
        self._degrees.clear()
        self._cut = None

    # -- projections / views (PROJECT_TO_SIMPLE, TO_UNDIRECTED, ...) ---

    def project_to_simple(self, weight_col: str | None = None) -> "Graph":
        """Narrow to (src, dst [, weight]) — the reference's
        project_to_simple (python/graphscope/framework/app.py:45-78);
        here it is a plain column-pruned select, so the parquet scan
        only reads the needed columns."""
        w = weight_col or self.weight_col
        cols = ["src", "dst"] + ([w] if w else [])
        return replace(
            self,
            edges=self.edges.select(*cols),
            vertices=self.vertices.select("id") if self.vertices is not None else None,
            weight_col=w,
        )

    def to_undirected(self, dedup: bool = True) -> "Graph":
        """TO_UNDIRECTED (proto/types.proto:100): symmetrize the edge
        table. With dedup=True parallel edges collapse."""
        e = self.symmetrized_edges()
        if dedup:
            e = e.dropDuplicates(["src", "dst"])
        return replace(self, edges=e, directed=False)

    def symmetrized_edges(self) -> DataFrame:
        """edges ∪ reverse(edges) with self-loops kept once per
        direction; properties carried along."""
        e = self.edges
        rev = e.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            *[c for c in e.columns if c not in ("src", "dst")],
        )
        return e.unionByName(rev)

    def simple_undirected(self) -> DataFrame:
        """The simple undirected view as (src, dst): both directions,
        self-loops dropped, parallel edges collapsed. Always symmetrizes,
        so a directed=False graph that stores one direction per pair is
        traversed both ways."""
        return self.edge_view(symmetric=True)

    def simple_directed(self) -> DataFrame:
        """The simple directed view as (src, dst): the stored
        directions, self-loops dropped, parallel edges collapsed."""
        return self.edge_view(symmetric=False)

    def edge_view(self, symmetric: bool, loops: bool = False, reduce: str = "distinct") -> DataFrame:
        """A message edge frame of the cut, stored once per Graph.

        symmetric: both directions of every stored edge, or the stored
        directions only. loops: keep self-loops (once per direction) or
        drop them. reduce: "distinct" keeps one (src, dst) row per pair,
        "all" keeps every row (parallel edges counted), "min" and "sum"
        keep one (src, dst, w) row per pair with the lightest or the
        summed weight (w = weight_col as double, 1.0 when the graph has
        none). A "min" view of an unweighted graph is the distinct view
        with w = 1.0, so it stores nothing of its own.

        Built from the cut with one repartition(P, "src") (the scatter
        key of every superstep, so the engine's shuffled-hash scatter
        never moves it; P is the session's spark.sql.shuffle.partitions),
        reduced inside those partitions (they cluster every (src, dst)
        pair) and persisted, then memoised beside the cut until
        release(), with the row count its build takes (view_size()).
        A persist, not a local checkpoint: a checkpoint taken after the
        repartition loses the hash partitioning under AQE."""
        key = self._view_key(symmetric, loops, reduce)
        stored = key[2]
        if key not in self._views:
            cut = self.materialized()
            P = int(cut.edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            e = cut.symmetrized_edges() if symmetric else cut.edges
            weighted = stored in ("min", "sum")
            w = (F.col(self.weight_col) if self.weight_col else F.lit(1.0)).cast("double")
            e = e.select("src", "dst", *([w.alias("w")] if weighted else []))
            if not loops:
                e = e.where(F.col("src") != F.col("dst"))
            e = e.repartition(P, "src")
            if stored == "distinct":
                e = e.dropDuplicates(["src", "dst"])
            elif weighted:
                agg = F.min("w") if stored == "min" else F.sum("w")
                e = e.groupBy("src", "dst").agg(agg.alias("w"))
            view = e.persist()
            self._view_rows[key] = view.count()
            self._views[key] = view
        view = self._views[key]
        return view.withColumn("w", F.lit(1.0)) if stored != reduce else view

    def _view_key(self, symmetric: bool, loops: bool, reduce: str) -> tuple:
        if not isinstance(symmetric, bool):  # e.g. a direction name: degrees("out")
            raise TypeError(f"symmetric must be a bool, got {symmetric!r}")
        if reduce not in ("distinct", "all", "min", "sum"):
            raise ValueError(f"reduce must be distinct/all/min/sum, got {reduce!r}")
        if reduce == "min" and self.weight_col is None:
            reduce = "distinct"
        return (symmetric, loops, reduce)

    def view_size(self, symmetric: bool, loops: bool = False, reduce: str = "distinct") -> int:
        """Row count of edge_view(symmetric, loops, reduce), kept from
        the job that stored the view."""
        self.edge_view(symmetric, loops, reduce)
        return self._view_rows[self._view_key(symmetric, loops, reduce)]

    def degrees(self, symmetric: bool, loops: bool = False, reduce: str = "distinct") -> DataFrame:
        """(id, degree): the out-degree of every vertex id of the cut in
        edge_view(symmetric, loops, reduce), 0 where the vertex has no
        edge there. Stored once per view kind beside the cut and
        unpersisted by release(); its build also keeps the cut's
        num_vertices(). degrees(True, loops=True, reduce="all") counts
        every edge end, a self-loop twice (the degree of REPORT_GRAPH).
        No algorithm scatters over a symmetric "all" view, so its degrees
        count both ends of the cut's rows and store no view; the stored
        "all" view, which the pagerank family scatters over, is built
        and its src partitioning makes its count need no shuffle."""
        key = self._view_key(symmetric, loops, reduce)
        if key not in self._degrees:
            cut = self.materialized()
            if symmetric and key[2] == "all":
                e = cut.edges if loops else cut.edges.where(F.col("src") != F.col("dst"))
                ends = e.select("src").unionByName(e.select(F.col("dst").alias("src")))
            else:
                ends = self.edge_view(*key)
            d = ends.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
            deg = cut.vertices.join(d, "id", "left").select(
                "id", F.coalesce("degree", F.lit(0)).cast("long").alias("degree")
            ).persist()
            cut._num_vertices = deg.count()
            self._degrees[key] = deg
        return self._degrees[key]

    def induce_subgraph(self, vertex_ids: DataFrame) -> "Graph":
        """INDUCE_SUBGRAPH (types.proto:104): keep edges whose both
        endpoints are in `vertex_ids` (a one-column `id` frame). Uses
        two semijoins — broadcast when the id set is small."""
        ids = vertex_ids.select("id")
        e = (
            self.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        v = self.vertices.join(ids, "id", "left_semi") if self.vertices is not None else None
        return replace(self, edges=e, vertices=v)

    def filter_edges(self, condition) -> "Graph":
        """CLEAR_EDGES/VIEW_GRAPH-style edge filter."""
        return replace(self, edges=self.edges.where(condition))

    # -- sizes (REPORT_GRAPH) ----------------------------------------

    def num_vertices(self) -> int:
        """Vertex count, memoised: on the cut, the count of its stored
        ids (kept by the first degrees() build when that comes first)."""
        if self._num_vertices is None:
            self._num_vertices = self.deduced_vertices().count()
        return self._num_vertices

    def num_edges(self) -> int:
        if self._num_edges is None:
            self._num_edges = self.edges.count()
        return self._num_edges

    # -- context egress (ADD_COLUMN) -----------------------------------

    def add_column(self, result: DataFrame, name: str) -> "Graph":
        """ADD_COLUMN (types.proto:121): join an algorithm result
        (id, value) back onto the vertex table as a new property."""
        res = result.select("id", F.col(result.columns[1]).alias(name))
        v = self.deduced_vertices() if self.vertices is None else self.vertices
        return replace(self, vertices=v.join(res, "id", "left"))

    # -- serialize / deserialize (save_to / load_from,
    #    python/graphscope/framework/graph.py:1193-1346) --------------

    def save(self, path: str, format: str = "parquet") -> None:
        """Serialize the graph to ``path``: edges/ + vertices/ tables
        plus a meta.json carrying directedness and the weight column —
        the reference's save_to(path) graph archive, with parquet (or
        csv/orc) standing in for its GraphAr/serialization formats."""
        import json as _json

        self.edges.write.mode("overwrite").format(format).save(f"{path}/edges")
        has_vertices = self.vertices is not None
        if has_vertices:
            self.vertices.write.mode("overwrite").format(format).save(
                f"{path}/vertices"
            )
        meta = {
            "directed": self.directed,
            "weight_col": self.weight_col,
            "has_vertices": has_vertices,
            "format": format,
        }
        # write meta through a Spark writer so edges/vertices/meta all
        # resolve against the same filesystem (s3://, hdfs://, file://) —
        # a driver-local open() would silently land the meta on local
        # disk for remote paths and break the archive round-trip
        spark = self.edges.sparkSession
        spark.createDataFrame([(_json.dumps(meta),)], "meta string").coalesce(
            1
        ).write.mode("overwrite").text(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "Graph":
        """Deserialize a graph written by :meth:`save` — the
        load_from round-trip (graph.py:1285-1346)."""
        import json as _json

        try:
            meta = _json.loads(spark.read.text(f"{path}/meta").first()[0])
        except Exception:
            # archives written by the pre-r3 save() carried a
            # driver-local meta.json instead of the {path}/meta text
            # directory — fall back so old archives still load
            import os as _os

            with open(_os.path.join(path, "meta.json")) as fh:
                meta = _json.load(fh)
        fmt = meta.get("format", "parquet")
        edges = spark.read.format(fmt).load(f"{path}/edges")
        vertices = (
            spark.read.format(fmt).load(f"{path}/vertices")
            if meta.get("has_vertices")
            else None
        )
        return cls(
            edges=edges,
            vertices=vertices,
            directed=bool(meta["directed"]),
            weight_col=meta.get("weight_col"),
        )

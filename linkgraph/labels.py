"""Multi-label property-graph layer: a schema registry over per-label
vertex/edge DataFrames plus ``project(...)`` down to the simple
:class:`linkgraph.graph.Graph` the algorithms run on.

The reference's primary data model is a labeled property graph: each
vertex/edge label is its own Arrow property table, described by a
schema registry (python/graphscope/framework/graph_schema.py:32-249 —
``VertexLabel``/``EdgeLabel`` with typed properties and edge
relations), and ``graph.project(vertices={label: [props]},
edges={label: [props]})`` narrows it to the simple view an app needs
(python/graphscope/framework/graph.py:816-868). Its test fixture is
the twin-label "v2_e2" graph (person/software vertices,
knows/created edges — tests/conftest.py:85-231).

Spark-first re-expression: a label IS a DataFrame. The registry is a
plain dict of frames + relation metadata; ``project`` is column
pruning + ``unionByName`` — all declarative, so the parquet scans of
unprojected labels are never executed (lazy frames), and the
projected simple graph inherits every Graph capability (partitioning,
superstep algos, save/load).

Scale notes: per-label frames keep 100 TB loads columnar and
label-pruned — an algorithm over (person)-[knows]->(person) reads
exactly one edge table's (src, dst) columns; nothing unions until
projection, and then only the labels asked for.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph


@dataclass(frozen=True)
class EdgeRelation:
    """One (src_label)-[edge_label]->(dst_label) relation — the
    reference's ``EdgeLabel.source(...).destination(...)`` triple
    (graph_schema.py:188-215)."""

    edge_label: str
    src_label: str
    dst_label: str


@dataclass
class PropertyGraph:
    """Per-label vertex/edge tables + relation registry.

    Vertex frames carry (id: long, ...props); edge frames carry
    (src: long, dst: long, ...props). Vertex ids must be GLOBALLY
    unique across labels (the reference assigns label-local ids plus a
    label offset at load time; callers here namespace explicitly —
    ``namespaced_id`` is the helper for it).
    """

    directed: bool = True
    _vertices: dict[str, DataFrame] = field(default_factory=dict)
    _edges: dict[str, DataFrame] = field(default_factory=dict)
    _relations: dict[str, EdgeRelation] = field(default_factory=dict)

    # -- registry (CREATE_GRAPH with labels) ---------------------------

    def add_vertices(self, label: str, df: DataFrame) -> "PropertyGraph":
        if "id" not in df.columns:
            raise ValueError(f"vertex label {label!r}: frame must carry an 'id' column")
        self._vertices[label] = df
        return self

    def add_edges(
        self, label: str, df: DataFrame, src_label: str, dst_label: str
    ) -> "PropertyGraph":
        missing = {"src", "dst"} - set(df.columns)
        if missing:
            raise ValueError(f"edge label {label!r}: frame missing {sorted(missing)}")
        self._edges[label] = df
        self._relations[label] = EdgeRelation(label, src_label, dst_label)
        return self

    # -- schema registry (graph_schema.py:32-249) ----------------------

    @property
    def vertex_labels(self) -> list[str]:
        return sorted(self._vertices)

    @property
    def edge_labels(self) -> list[str]:
        return sorted(self._edges)

    def schema(self) -> dict:
        """Label → typed-property listing + relations, the
        ``graph.schema`` the reference prints (graph_schema.py:249)."""
        out: dict = {"vertices": {}, "edges": {}, "directed": self.directed}
        for lbl, df in sorted(self._vertices.items()):
            out["vertices"][lbl] = {
                f.name: f.dataType.simpleString()
                for f in df.schema.fields
                if f.name != "id"
            }
        for lbl, df in sorted(self._edges.items()):
            rel = self._relations[lbl]
            out["edges"][lbl] = {
                "relation": (rel.src_label, rel.dst_label),
                "properties": {
                    f.name: f.dataType.simpleString()
                    for f in df.schema.fields
                    if f.name not in ("src", "dst")
                },
            }
        return out

    # -- projection (graph.py:816-868) ---------------------------------

    def project(
        self,
        vertices: dict[str, list[str]] | None = None,
        edges: dict[str, list[str]] | None = None,
    ) -> Graph:
        """Narrow to a simple :class:`Graph`: keep only the named
        labels, only the named properties (plus id/src/dst), union the
        survivors. ``vertices=None`` keeps every vertex label with no
        properties (the reference's project-to-simple default);
        same for ``edges``. Every selected edge label's endpoint labels
        must be selected too, else ValueError. The unioned frames carry
        a ``label`` discriminator column; property columns absent from one label
        are null-filled (unionByName allowMissingColumns), matching
        the reference's per-label property tables where a property
        exists only on its own label."""
        vsel = {lbl: [] for lbl in self._vertices} if vertices is None else vertices
        esel = {lbl: [] for lbl in self._edges} if edges is None else edges
        unknown_v = set(vsel) - set(self._vertices)
        unknown_e = set(esel) - set(self._edges)
        if unknown_v or unknown_e:
            raise KeyError(
                f"unknown labels: vertices={sorted(unknown_v)} edges={sorted(unknown_e)}"
            )
        # the vertex frame is explicit, so algorithms trust it: an edge
        # whose endpoint label is not projected would lose those vertices
        for lbl in sorted(esel):
            rel = self._relations[lbl]
            missing = sorted({rel.src_label, rel.dst_label} - set(vsel))
            if missing:
                raise ValueError(
                    f"edge label {lbl!r} needs vertex label(s) {missing}, "
                    f"which the projection does not select")

        vf = None
        for lbl in sorted(vsel):
            props = vsel[lbl]
            f = self._vertices[lbl].select(
                "id", F.lit(lbl).alias("label"), *props
            )
            vf = f if vf is None else vf.unionByName(f, allowMissingColumns=True)

        ef = None
        for lbl in sorted(esel):
            props = esel[lbl]
            f = self._edges[lbl].select(
                "src", "dst", F.lit(lbl).alias("label"), *props
            )
            ef = f if ef is None else ef.unionByName(f, allowMissingColumns=True)
        if ef is None:
            raise ValueError("projection selected no edge labels")

        return Graph.from_edges(ef, vertices=vf, directed=self.directed)


def namespaced_id(col: F.Column | str, label_index: int, n_labels: int) -> F.Column:
    """Globally-unique id for a label-local key: ``key·n_labels +
    label_index`` — the arithmetic analog of the reference loader's
    label-offset id space (deterministic, order-free, and exactly
    reproducible in plain SQL for the oracle twin)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("long") * F.lit(int(n_labels)) + F.lit(int(label_index))).alias("id")

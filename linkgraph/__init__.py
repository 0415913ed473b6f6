"""linkgraph — a PySpark-native link-graph analytics engine.

A from-scratch re-expression of the capability set of GraphScope's
analytical engine (GAE / GRAPE) in idiomatic Spark: the property-graph
data model becomes a pair of DataFrames, the BSP superstep loop
(reference: analytical_engine/core/worker/default_worker.h:89-122)
becomes a driver-side iteration over vertex-state DataFrames with
per-superstep checkpoints and convergence metrics, and the built-in
algorithms (PageRank, WCC, CDLP, triangle counting, BFS, SSSP, HITS,
k-core, LCC, ...) become declarative DataFrame plans whose supersteps
scatter through one edge-state join (linkgraph/joins.py) — never a
per-row Python loop.

Nothing here is a port: the reference is C++/MPI; this package is
Spark-first (Catalyst plans, AQE, broadcast joins, map-side combine).
"""

from linkgraph.graph import Graph
from linkgraph.engine import SuperstepEngine
from linkgraph.labels import PropertyGraph
from linkgraph.session import get_spark

__version__ = "0.1.0"

__all__ = ["Graph", "PropertyGraph", "SuperstepEngine", "get_spark", "__version__"]

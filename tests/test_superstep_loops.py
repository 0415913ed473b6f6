"""One superstep loop: the greedy (matching.py) and peeling
(ordering.py) algorithms run their rounds through SuperstepEngine, so
they honour a caller's engine, write per-round metrics rows, and report
converged=False when max_rounds stops them early. AST guards keep
new hand-written round loops out of linkgraph/algos/, and Spark actions
and join hints out of the step functions the engine runs."""

from __future__ import annotations

import ast
import functools
import importlib
import json
import pathlib
import random

import pytest
from pyspark.sql import functions as F

from linkgraph import joins
from linkgraph.algos import matching
from linkgraph.algos.bipartite import lpa_u2i
from linkgraph.algos.coloring import fluid_community, greedy_color
from linkgraph.algos.cores import kshell
from linkgraph.algos.hits import hits
from linkgraph.algos.louvain import louvain
from linkgraph.algos.matching import (
    maximal_matching, min_dominating_set, min_vertex_cover, mis,
)
from linkgraph.algos.msf import msf
from linkgraph.algos.ordering import degeneracy_ordering, onion_layers
from linkgraph.algos.scc import scc
from linkgraph.engine import SuperstepEngine
from linkgraph.graph import Graph

ALGOS = pathlib.Path(__file__).resolve().parent.parent / "linkgraph" / "algos"


@pytest.fixture(scope="module")
def g(spark):
    """60 vertices, 150 random undirected pairs (one row per pair),
    with a weight column for msf."""
    rng = random.Random(11)
    pairs = set()
    while len(pairs) < 150:
        a, b = rng.randrange(60), rng.randrange(60)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    rows = [(a, b, float((a * 7 + b * 13) % 20 + 1)) for a, b in sorted(pairs)]
    return Graph.from_edges(spark.createDataFrame(rows, "src long, dst long, w double"),
                            weight_col="w")


@pytest.fixture(scope="module")
def full(g):
    """Each algorithm's default run on `g`, computed once."""
    return {algo: algo(g) for algo in (mis, maximal_matching, min_dominating_set,
                                       min_vertex_cover, degeneracy_ordering, onion_layers, msf)}


@pytest.mark.parametrize("algo", [
    maximal_matching, min_dominating_set, min_vertex_cover, msf,
], ids=lambda a: a.__name__)
def test_max_rounds_cut_is_not_converged(g, full, algo):
    assert full[algo].converged is True and full[algo].rounds >= 2
    cut = algo(g, max_rounds=1)
    assert cut.rounds == 1 and cut.converged is False


# projection of each algorithm's engine state onto its returned columns
PROJECT = {
    mis: lambda st: st.select("id", (F.col("st") == matching.IN_SET).alias("in_mis")),
    maximal_matching: lambda st: st.select("id", "match"),
    min_dominating_set:
        lambda st: st.select("id", (F.col("st") == matching.IN_SET).alias("in_mds")),
}


@pytest.mark.parametrize("algo", list(PROJECT), ids=lambda a: a.__name__)
def test_engine_argument_is_honoured(spark, g, algo, tmp_path):
    ck = tmp_path / "ck"
    eng = SuperstepEngine(spark, checkpoint_dir=str(ck), checkpoint_every=1)
    res = algo(g, engine=eng)
    rows = [json.loads(line) for line in (ck / "metrics.jsonl").read_text().splitlines()]
    assert [r["round"] for r in rows] == list(range(res.rounds))
    last_round, state = eng.latest_checkpoint()
    assert last_round == res.rounds - 1
    assert sorted(PROJECT[algo](state).collect()) == sorted(res.state.collect())


def test_metrics_rows_carry_time_and_counts(full):
    """Every round of all seven loops (min_vertex_cover runs two)
    reports its wall time and its own count column."""
    counted = {mis: "undecided", maximal_matching: "unmatched", min_dominating_set: "undominated",
               min_vertex_cover: "cover", degeneracy_ordering: "active", onion_layers: "active"}
    for algo, key in counted.items():
        res = full[algo]
        assert res.converged and len(res.metrics) == res.rounds >= 1, algo.__name__
        assert all("superstep_sec" in m and key in m for m in res.metrics), algo.__name__
    phases = [m["phase"] for m in full[min_vertex_cover].metrics]
    assert phases[0] == 1 and phases[-1] == 2


# -- tooling guard: no hand-written round loops in linkgraph/algos/

# Spark actions that mark a `while` loop as a driver-side round loop.
ACTIONS = {"count", "isEmpty", "collect", "localCheckpoint"}

# Functions whose `while` loop runs a Spark action, with the reason it
# stays outside SuperstepEngine.
LOOPS_ALLOWED: dict[str, str] = {
    "msf.msf": "each Boruvka round nests a wcc engine run; two runs sharing one "
               "checkpoint directory would collide",
    "biconnectivity.biconnectivity": "binary-lifting ancestor table build: a fixed "
                                     "log2(depth) levels, every level kept",
}


def _action_loops(tree: ast.Module) -> set[str]:
    """Names of the functions holding a `while` loop whose body calls
    a Spark action."""
    found = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for loop in ast.walk(fn):
            if isinstance(loop, ast.While) and any(
                isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr in ACTIONS
                for stmt in loop.body for n in ast.walk(stmt)
            ):
                found.add(fn.name)
    return found


def test_no_hand_written_round_loops():
    loops = {f"{path.stem}.{name}" for path in sorted(ALGOS.glob("*.py"))
             for name in _action_loops(ast.parse(path.read_text()))}
    offenders = loops - set(LOOPS_ALLOWED)
    assert not offenders, "round loops outside SuperstepEngine: " + ", ".join(sorted(offenders))
    assert set(LOOPS_ALLOWED) <= loops, "stale allowlist entries"


# -- tooling guard: a step function runs no Spark action of its own

# Methods that run a Spark job (plus count() with no argument; count(x)
# is the aggregate). A step's counts ride the engine's truncation
# action instead (engine.Observed).
STEP_ACTIONS = {"collect", "first", "take", "isEmpty"}

# Functions whose step function runs an action, with the reason.
STEP_ACTIONS_ALLOWED: dict[str, str] = {
    "pagerank.pagerank": "bootstraps the dangling mass from the state in its first round "
                         "(round 0, or the first round after a resume); later rounds observe it",
}


def _is_action(node: ast.AST) -> bool:
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    name = node.func.attr
    return name in STEP_ACTIONS or (name == "count" and not node.args and not node.keywords)


def _step_lines(tree: ast.Module, hit) -> dict[str, list[int]]:
    """Module-level function name -> lines of the nodes `hit` accepts
    inside the step functions it passes to `eng.run`: a def of its
    own, or a module-level function called to build the step."""
    defs = {fn.name: fn for fn in tree.body if isinstance(fn, ast.FunctionDef)}
    found: dict[str, list[int]] = {}
    for outer in defs.values():
        local = {fn.name: fn for fn in ast.walk(outer) if isinstance(fn, ast.FunctionDef)}
        for call in ast.walk(outer):
            if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "run" and isinstance(call.func.value, ast.Name)
                    and call.func.value.id == "eng"):
                continue
            arg = call.args[1]
            if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
                step = defs.get(arg.func.id)
            else:
                step = local.get(arg.id) if isinstance(arg, ast.Name) else None
            assert step is not None, f"{outer.name}:{call.lineno}: step function not found"
            lines = [n.lineno for n in ast.walk(step) if hit(n)]
            if lines:
                found.setdefault(outer.name, []).extend(lines)
    return found


def _scan_steps(hit) -> dict[str, list[int]]:
    return {f"{path.stem}.{name}": lines for path in sorted(ALGOS.glob("*.py"))
            for name, lines in _step_lines(ast.parse(path.read_text()), hit).items()}


def test_step_functions_run_no_spark_action():
    acting = _scan_steps(_is_action)
    offenders = {k: v for k, v in acting.items() if k not in STEP_ACTIONS_ALLOWED}
    assert not offenders, f"Spark actions inside step functions (function: lines): {offenders}"
    assert set(STEP_ACTIONS_ALLOWED) <= set(acting), "stale allowlist entries"


# -- tooling guard: a step function joins through linkgraph/joins.py

def _is_hint(node: ast.AST) -> bool:
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and (node.func.attr == "hint"
                 or (node.func.attr == "broadcast" and isinstance(node.func.value, ast.Name)
                     and node.func.value.id == "F")))


def test_step_functions_pick_no_join_strategy():
    """No step function passed to eng.run picks a join strategy of its
    own (a .hint(...) or F.broadcast(...)): it scatters and combines
    through joins.scatter_join and joins.state_join."""
    hinting = _scan_steps(_is_hint)
    assert not hinting, f"join hints inside step functions (function: lines): {hinting}"


def _lpa_u2i(g):
    e = g.edges.select(F.col("src").alias("user"), (F.col("dst") + 1000).alias("item"), "w")
    seeds = e.select("user").distinct().select(
        "user", F.when(F.col("user") % 5 == 0, 1.0).when(F.col("user") % 5 == 1, 0.0)
        .otherwise(0.5).alias("label"))
    return lpa_u2i(e, seeds, max_round=3)


def _scc(g):
    """scc over g's pairs, each flipped when its id sum is odd (g
    itself is a DAG, whose components are single vertices)."""
    even = (F.col("src") + F.col("dst")) % 2 == 0
    dg = Graph.from_edges(g.edges.select(
        F.when(even, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(even, F.col("dst")).otherwise(F.col("src")).alias("dst")))
    res = scc(dg)
    dg.release()
    return res


# the step functions that scatter through joins.scatter_join, each with
# a run on `g`; the key names the module whose scatter_join is patched
SCATTERING = {
    "bipartite.lpa_u2i": _lpa_u2i,
    "coloring.greedy_color": greedy_color,
    "coloring.fluid_community": lambda g: fluid_community(g, n_communities=4, max_round=4),
    "cores.kshell": kshell,
    "hits.hits": hits,
    "louvain.louvain": lambda g: louvain(g, max_round=4, max_levels=3),
    "scc.scc": _scc,
}


@pytest.mark.parametrize("name", list(SCATTERING))
def test_shuffled_hash_scatter_gives_the_same_run(g, monkeypatch, name):
    """At test sizes every scatter broadcasts its V side; with the
    module's scatter_join held to the shuffled-hash branch (what a graph
    above joins.BROADCAST_THRESHOLD_ROWS vertices runs) the run gives
    the same rows in the same number of rounds."""
    def run():
        res = SCATTERING[name](g)
        rows = sorted(tuple(round(v, 9) if isinstance(v, float) else v for v in r)
                      for r in res.state.collect())
        return rows, res.rounds

    broadcast = run()
    module = importlib.import_module("linkgraph.algos." + name.split(".")[0])
    monkeypatch.setattr(module, "scatter_join",
                        functools.partial(joins.scatter_join, broadcast_threshold=0))
    assert run() == broadcast


@pytest.mark.parametrize("schema", ["x long, v double", "s long, id long, v double"],
                         ids=["key-less", "s-id"])
def test_engine_lays_out_a_fresh_state(spark, schema):
    """A fresh initial state built in one partition, with no vertex key
    or keyed on (s, id), runs one round through SuperstepEngine.run;
    with max_rounds=0 the returned state is the state as laid out:
    spark.sql.shuffle.partitions partitions, each id in one of them."""
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = [(i % 2, i, float(i)) for i in range(20)]
    init = spark.createDataFrame([r[-len(schema.split(",")):] for r in rows], schema).coalesce(1)
    eng = SuperstepEngine(spark)

    def step(state, round_):
        return state.withColumn("v", F.col("v") + 1.0), {"halt": True}

    one = eng.run(init, step, max_rounds=5)
    assert (one.rounds, one.converged) == (1, True)
    assert sorted(r["v"] for r in one.state.collect()) == [float(i) + 1.0 for i in range(20)]

    laid = eng.run(init, step, max_rounds=0)
    assert laid.rounds == 0 and laid.state.rdd.getNumPartitions() == P
    assert sorted(laid.state.collect()) == sorted(init.collect())
    if "id" in laid.state.columns:
        places = laid.state.select("id", F.spark_partition_id().alias("p")).distinct()
        assert {r["count"] for r in places.groupBy("id").count().collect()} == {1}

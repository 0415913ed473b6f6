"""ETL: source-code-repository table → link graph.

Input shape (the graft's mandated input): one row per file,
(repo: string, path: string, commit: string, lang: string,
content: string). The reference builds its property graph from
exactly this kind of tabular source via add_vertices/add_edges
(python/graphscope/framework/graph.py:477-713); here the loader is a
set of declarative DataFrame jobs:

  vertices(id, repo, path, lang, content_sha)
      id = dense reindex of xxhash64(repo||'/'||path). The dense
      reindex deliberately avoids a global row_number() window (a
      single-partition sort that dies at 10^12 rows): ids are
      (partition_offset + local_index) computed per partition —
      the same fid|lid encoding idea as the reference's global ids
      (analytical_engine/core/vertex_map/arrow_projected_vertex_map.h:155).
      content_sha = sha256(content): the per-row invariant carried
      through the ETL stage.

  edges(src, dst, kind, weight)
      kind='dep'      — import statements parsed from content with a
                        vectorized regexp (no per-row Python),
                        resolved within the same repo.
      kind='cochange' — file pairs sharing a (repo, commit) group,
                        weight = co-occurrence count; the pair
                        explosion is bounded per commit and the
                        aggregation is salted-safe (groupBy on the
                        pair key gets map-side combine).

Frames read more than once are stored rows, not plans: the vertex
table of build_link_graph and the edge table and mapping of
compact_vertex_ids are local checkpoints (linkgraph.graph._checkpoint,
serialized MEMORY_AND_DISK, evaluated eagerly), so the ETL plan runs
once per call however often its results are counted, checked or cut.
Their blocks are freed by Spark's ContextCleaner once the returned
frames are dropped; unpersist() on them frees nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import _checkpoint

IMPORT_RE = r"(?m)^import\s+pkg_(\d+)\.mod_(\d+)\s*$"


def file_vertices(repo_df: DataFrame) -> DataFrame:
    """Dense-id vertex table with the sha256(content) invariant.

    Two-pass dense reindex without a global window:
      1. per-partition counts -> exclusive prefix offsets (driver-side,
         #partitions values only)
      2. id = offset[partition] + local row index (zipWithIndex-style,
         expressed with spark_partition_id + a per-partition window —
         each window partition is one data partition, so no global sort).
    """
    keyed = repo_df.select(
        "repo",
        "path",
        "lang",
        F.sha2(F.col("content"), 256).alias("content_sha"),
        F.xxhash64(F.concat_ws("/", "repo", "path")).alias("okey"),
    ).dropDuplicates(["repo", "path"])

    parts = keyed.repartition(F.col("okey")).withColumn("pid", F.spark_partition_id())
    counts = {r["pid"]: r["n"] for r in parts.groupBy("pid").agg(F.count("*").alias("n")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_col = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("pid").orderBy("okey")
    return (
        parts.withColumn("lidx", F.row_number().over(w) - 1)
        .select(
            (offset_col[F.col("pid")] + F.col("lidx")).cast("long").alias("id"),
            "repo",
            "path",
            "lang",
            "content_sha",
        )
    )


def dependency_edges(repo_df: DataFrame, vertices: DataFrame) -> DataFrame:
    """kind='dep' edges: parse `import pkg_<j>.mod_<k>` lines from
    content (vectorized regexp_extract_all), resolve the target path
    within the same repo, join to vertex ids."""
    imports = (
        repo_df.select(
            "repo",
            "path",
            F.explode(
                F.regexp_extract_all(F.col("content"), F.lit(IMPORT_RE), 0)
            ).alias("stmt"),
        )
        .select(
            "repo",
            "path",
            F.concat(
                F.lit("src/pkg_"),
                F.regexp_extract("stmt", IMPORT_RE.replace("(?m)", ""), 1),
                F.lit("/mod_"),
                F.regexp_extract("stmt", IMPORT_RE.replace("(?m)", ""), 2),
                F.lit(".py"),
            ).alias("tgt_path"),
        )
        .dropDuplicates(["repo", "path", "tgt_path"])
    )
    v_src = vertices.select(F.col("repo"), F.col("path"), F.col("id").alias("src"))
    v_dst = vertices.select(
        F.col("repo"), F.col("path").alias("tgt_path"), F.col("id").alias("dst")
    )
    return (
        imports.join(v_src, ["repo", "path"])
        .join(v_dst, ["repo", "tgt_path"])
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", F.lit("dep").alias("kind"), F.lit(1.0).alias("weight"))
    )


def cochange_edges(
    repo_df: DataFrame, vertices: DataFrame, max_group_size: int = 1000
) -> DataFrame:
    """kind='cochange' edges: pairs of files sharing (repo, commit),
    weight = number of shared commits. Directed src<dst (one row per
    unordered pair). Groups larger than max_group_size are dropped —
    a giant commit touching 10^5 files would explode quadratically;
    the cap is the same hub-bounding idea as degree-ordering in
    triangles.h:70-94."""
    fv = repo_df.select("repo", "path", "commit").join(
        vertices.select("repo", "path", "id"), ["repo", "path"]
    )
    a = fv.select("repo", "commit", F.col("id").alias("src"))
    b = fv.select("repo", "commit", F.col("id").alias("dst"))
    sizes = fv.groupBy("repo", "commit").agg(F.count("*").alias("gsz"))
    pairs = (
        a.join(b, ["repo", "commit"])
        .where(F.col("src") < F.col("dst"))
        .join(F.broadcast(sizes.where(F.col("gsz") <= max_group_size)), ["repo", "commit"], "left_semi")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
        .select("src", "dst", F.lit("cochange").alias("kind"), "weight")
    )
    return pairs


def compact_vertex_ids(
    edges: DataFrame, num_partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Dense-rank arbitrary 64-bit vertex ids into [0, n) and re-key
    the edge table with 4-byte INTs (when n < 2^31) — the
    dictionary-encoding step for iterative jobs at scale: every
    downstream state row, message row and shuffle key halves, which
    at 10^9-edge scale is the difference between the edge cache +
    partial-aggregation maps fitting executor memory or spilling.

    Scale design: NO global sort / single-partition window. The dense
    rank is built per-partition — hash-partition the distinct vertex
    set, row_number INSIDE each partition (parallel), then add the
    driver-collected per-partition offsets (one tiny P-row collect).
    Deterministic: hash partitioning + in-partition (id) order.

    Returns (edges', mapping) where edges' has int src/dst and
    mapping is (id: original, cid: int) for joining results back.
    The input is evaluated once and both returned frames are local
    checkpoints, so counting or cutting edges' reads stored rows.
    Their blocks are freed once the frames are dropped; mapping can
    no longer be unpersisted.
    """
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = _checkpoint(edges)
    verts = _checkpoint(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .withColumn("pid", F.spark_partition_id())
    )
    sizes = {r["pid"]: r["c"] for r in
             verts.groupBy("pid").agg(F.count("*").alias("c")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    n = acc
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "pid int, off long")
    w = Window.partitionBy("pid").orderBy("id")
    id_t = "int" if n < 2**31 else "long"
    mapping = _checkpoint(
        verts.withColumn("ln", F.row_number().over(w))
        .join(F.broadcast(off_df), "pid")
        .select("id", (F.col("off") + F.col("ln") - 1).cast(id_t).alias("cid"))
    )
    out = _checkpoint(
        edges.join(mapping.select(F.col("id").alias("src"), F.col("cid").alias("_s")), "src")
        .join(mapping.select(F.col("id").alias("dst"), F.col("cid").alias("_d")), "dst")
        .select(
            F.col("_s").alias("src"), F.col("_d").alias("dst"),
            *[c for c in edges.columns if c not in ("src", "dst")],
        )
    )
    return out, mapping


def build_link_graph(repo_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full ETL: returns (vertices, edges) with both edge kinds;
    vertices is stored rows, edges a plan over them."""
    v = _checkpoint(file_vertices(repo_df))
    e = dependency_edges(repo_df, v).unionByName(cochange_edges(repo_df, v))
    return v, e

"""Training-data pipeline operators — semantic unit tests on tiny
in-memory documents (the sf-dir parquet path is exercised by the
driver's oracle gate and tools/check_oracles.py)."""

from __future__ import annotations

import hashlib
import os

import pytest

from linkgraph import pipeline as pl

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en", "s0", 43),
    (1, "the quick brown fox jumps over the lazy cat", "en", "s0", 43),
    (2, "der schnelle braune fuchs", "de", "s1", 25),
    (3, "the quick brown fox jumps over the lazy dog", "en", "s2", 43),  # exact dup of 0
    (4, "completely different words here nothing shared", "en", "s3", 46),
]


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    emb = [(i, [float(i == j) for j in range(4)] if i < 3 else [0.5, 0.5, 0.0, 0.0], 0) for i in range(5)]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_doc_sha_invariant(spark, doc_dir):
    got = {r["doc_id"]: r["content_sha"] for r in pl.doc_sha(spark, doc_dir).collect()}
    for doc_id, text, *_ in DOCS:
        assert got[doc_id] == hashlib.sha256(text.encode()).hexdigest()


def test_dedup_exact(spark, doc_dir):
    rows = pl.dedup_exact(spark, doc_dir).collect()
    assert len(rows) == 4  # 5 docs, one exact dup
    by_id = {r["doc_id"]: r["n_dups"] for r in rows}
    assert by_id[0] == 2  # representative = min(0, 3)
    assert 3 not in by_id


def test_token_count(spark, doc_dir):
    got = {r["doc_id"]: r["n_tokens"] for r in pl.token_count(spark, doc_dir).collect()}
    assert got[0] == 9 and got[2] == 4


def test_quality_score_bounds(spark, doc_dir):
    rows = pl.quality_score(spark, doc_dir).collect()
    assert len(rows) == 5
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)


def test_lang_id(spark, doc_dir):
    got = {r["doc_id"]: r["pred_lang"] for r in pl.lang_id(spark, doc_dir).collect()}
    assert got[0] == "en"  # 'the' hits
    assert got[2] == "de"  # 'der' hits
    assert got[4] == "und"  # no markers


def test_ngram_jaccard_finds_near_dup(spark, doc_dir):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             pl.ngram_jaccard_pairs(spark, doc_dir, threshold=0.05).collect()}
    # docs 0 and 1 share 6 of 8 distinct 3-grams -> jaccard 6/8 = 0.75
    assert pairs[(0, 1)] == pytest.approx(0.75)
    # exact dup pair scores 1.0
    assert pairs[(0, 3)] == pytest.approx(1.0)
    assert (0, 4) not in pairs


def test_minhash_and_lsh(spark, doc_dir):
    sig = pl.minhash_signatures(spark, doc_dir).collect()
    assert len(sig) == 5 * pl.MINHASH_SEEDS
    # identical docs have identical signatures
    s0 = sorted((r["seed"], r["minhash"]) for r in sig if r["doc_id"] == 0)
    s3 = sorted((r["seed"], r["minhash"]) for r in sig if r["doc_id"] == 3)
    assert s0 == s3
    cands = {(r["a"], r["b"]) for r in pl.lsh_candidate_pairs(spark, doc_dir).collect()}
    assert (0, 3) in cands  # exact dups always collide in every band
    assert (0, 4) not in cands


def test_simhash_similarity_order(spark, doc_dir):
    got = {r["doc_id"]: r["simhash"] for r in pl.simhash(spark, doc_dir).collect()}
    assert got[0] == got[3]  # identical text -> identical fingerprint
    ham = lambda a, b: bin(a ^ b).count("1")
    # near-dup closer than unrelated doc
    assert ham(got[0], got[1]) < ham(got[0], got[4])


def test_embedding_topk(spark, doc_dir):
    rows = pl.embedding_topk(spark, doc_dir, n_queries=1, k=2).collect()
    assert [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])][0] in (3, 4)
    assert all(r["q"] == 0 for r in rows)
    assert len(rows) == 2


def test_dedup_clusters_covers_all_docs(spark):
    from linkgraph import pipeline as pl

    sf = "/root/testdata/sf0.001"
    out = pl.dedup_clusters(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assert out.count() == docs.count()
    # canonical is always <= doc_id (min-of-component) and present
    from pyspark.sql import functions as F

    bad = out.where(F.col("canonical_id") > F.col("doc_id")).count()
    assert bad == 0


def test_embedding_ann_subset_of_bucketmates(spark):
    from linkgraph import pipeline as pl
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    ann = pl.embedding_ann(spark, sf).cache()
    exact = pl.embedding_topk(spark, sf).cache()
    # ANN returns valid ranks and a recall > 0 vs the exact top-k
    assert ann.where(F.col("rank") > 10).count() == 0
    hits = ann.join(exact, ["q", "vec_id"], "left_semi").count()
    assert hits > 0


@pytest.fixture(scope="module")
def dup_emb_dir(spark, tmp_path_factory):
    """Embeddings with PLANTED near-duplicates: 40 seeded random base
    vectors (dim 16); vec_ids 100..109 are base vectors 0..9 plus tiny
    noise (cosine > 0.999). Random embeddings (the sf testdata) have
    no pairs above ~0.5, so dup recall needs this fixture."""
    import numpy as np

    d = tmp_path_factory.mktemp("dupemb")
    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(40)]
    rows += [
        (100 + i, [float(x) for x in base[i] + 0.01 * rng.randn(16)], 0)
        for i in range(10)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_embedding_near_dup_finds_planted_dups(spark, dup_emb_dir):
    got = {
        (r["a"], r["b"]): r["sim"]
        for r in pl.embedding_near_dup(spark, dup_emb_dir, threshold=0.9).collect()
    }
    # every planted pair collides in some LSH table (cosine ~0.999 →
    # per-bit agreement ~0.99) and survives the exact-cosine filter
    for i in range(10):
        assert (i, 100 + i) in got, f"planted dup ({i},{100+i}) missed"
        assert got[(i, 100 + i)] > 0.99
    # nothing else reaches 0.9 between independent gaussians
    assert set(got) == {(i, 100 + i) for i in range(10)}


def test_embedding_near_dup_threshold_monotone(spark, dup_emb_dir):
    hi = {
        (r["a"], r["b"])
        for r in pl.embedding_near_dup(spark, dup_emb_dir, threshold=0.9).collect()
    }
    lo = {
        (r["a"], r["b"])
        for r in pl.embedding_near_dup(spark, dup_emb_dir, threshold=0.3).collect()
    }
    assert hi <= lo


def test_embedding_ivf_full_probe_equals_exact(spark, dup_emb_dir):
    """n_probe = n_centroids degenerates IVF to brute force — the
    result must equal embedding_topk row for row."""
    ivf = sorted(
        pl.embedding_ivf_topk(
            spark, dup_emb_dir, n_queries=4, k=5, n_centroids=8, n_probe=8
        ).collect(),
        key=lambda r: (r["q"], r["rank"]),
    )
    exact = sorted(
        pl.embedding_topk(spark, dup_emb_dir, n_queries=4, k=5).collect(),
        key=lambda r: (r["q"], r["rank"]),
    )
    assert [tuple(r) for r in ivf] == [tuple(r) for r in exact]


def test_embedding_ivf_respects_probed_lists(spark, dup_emb_dir):
    """Partial probe: every returned candidate must be assigned (by
    the same deterministic integer-dot argmax, recomputed in numpy) to
    one of the query's probed centroid lists, and sims must be the
    exact cosine."""
    import numpy as np

    rows = spark.read.parquet(f"{dup_emb_dir}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([[float(x) for x in r["embedding"]] for r in rows])
    VQ = np.floor(V * pl.ANN_QUANT + 0.5).astype(np.int64)
    C = np.array(pl.ivf_centroids(V.shape[1], 8), dtype=np.int64)
    dots = VQ @ C.T  # (n, 8) exact integer
    # argmax with min-cid ties
    assign = {int(i): int(np.argmax(d)) for i, d in zip(ids, dots)}
    order = np.argsort(-dots, axis=1, kind="stable")
    probed = {int(i): set(map(int, o[:2])) for i, o in zip(ids, order)}
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sim = {(int(a), int(b)): float(Vn[ia] @ Vn[ib])
           for ia, a in enumerate(ids) for ib, b in enumerate(ids) if a != b}
    out = pl.embedding_ivf_topk(
        spark, dup_emb_dir, n_queries=4, k=5, n_centroids=8, n_probe=2
    ).collect()
    assert out, "ivf returned nothing"
    for r in out:
        assert assign[r["vec_id"]] in probed[r["q"]]
        assert abs(r["sim"] - sim[(r["q"], r["vec_id"])]) < 1e-5


def _winnow_ref(text: str, k: int = pl.ROLL_K, w: int = pl.ROLL_W) -> set[int]:
    """Independent pure-Python winnowing reference: genuinely ROLLING
    Rabin-Karp update (the serial recurrence the Spark plan replaces
    with direct per-position evaluation — values must agree)."""
    if len(text) < k:
        return set()
    b, m = pl.ROLL_B, pl.ROLL_M
    top = pow(b, k - 1, m)
    h = 0
    for c in text[:k]:
        h = (h * b + ord(c)) % m
    hashes = [h]
    for i in range(1, len(text) - k + 1):
        h = ((h - ord(text[i - 1]) * top) * b + ord(text[i + k - 1])) % m
        hashes.append(h)
    if len(hashes) < w:
        return {min(hashes)}
    return {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}


def test_rolling_fingerprints_match_rolling_reference(spark, doc_dir):
    got: dict[int, set[int]] = {}
    for r in pl.rolling_fingerprints(spark, doc_dir).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text, *_ in DOCS:
        assert got.get(doc_id, set()) == _winnow_ref(text), doc_id


def test_rolling_fingerprints_guarantee(spark, doc_dir):
    """Docs 0 and 1 share a 39-char prefix >= K+W-1: winnowing
    guarantees a shared fingerprint. Doc 4 shares nothing that long
    with doc 0."""
    got: dict[int, set[int]] = {}
    for r in pl.rolling_fingerprints(spark, doc_dir).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    assert got[0] & got[1]
    assert got[0] == got[3]  # exact dup -> identical fingerprint set
    assert not (got[0] & got[4])


def test_rolling_fingerprints_short_docs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("shortdocs")
    rows = [(0, "ab", "en", "s", 2), (1, "exactly8", "en", "s", 8),
            (2, "ninechars", "en", "s", 9)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got: dict[int, set[int]] = {}
    for r in pl.rolling_fingerprints(spark, str(d)).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 0 not in got                      # shorter than K: no grams
    assert got[1] == _winnow_ref("exactly8")   # 1 gram -> 1 fingerprint
    assert got[2] == _winnow_ref("ninechars")  # 2 grams < W -> min of both


def _write_embeddings(spark, sf_dir, rows):
    spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int") \
        .write.mode("overwrite").parquet(os.path.join(sf_dir, "embeddings.parquet"))


def test_embeddings_meta_empty_corpus_raises_value_error(spark, tmp_path):
    _write_embeddings(spark, str(tmp_path), [])
    with pytest.raises(ValueError, match="no embeddings"):
        pl.embeddings_meta(str(tmp_path))


def test_embeddings_meta_rereads_a_rewritten_table(spark, tmp_path):
    sf = str(tmp_path)
    _write_embeddings(spark, sf, [(i, [1.0, 0.0, 0.0], 0) for i in range(3)])
    assert pl.embeddings_meta(sf) == (3, 3)
    _write_embeddings(spark, sf, [(i, [1.0, 0.0, 0.0, 0.0, 0.0], 0) for i in range(7)])
    assert pl.embeddings_meta(sf) == (5, 7)


def test_embeddings_meta_reads_a_uri_through_spark(spark, tmp_path):
    sf = tmp_path / "sf"
    _write_embeddings(spark, str(sf), [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(6)])
    assert pl.embeddings_meta(sf.as_uri()) == pl.embeddings_meta(str(sf)) == (4, 6)
    _write_embeddings(spark, str(sf), [])
    with pytest.raises(ValueError, match="no embeddings"):
        pl.embeddings_meta(sf.as_uri())


def test_oracle_sql_explicit_sf_dir_wins_over_env(spark, tmp_path, monkeypatch):
    import __spark_entry__ as ent

    given, env = str(tmp_path / "given"), str(tmp_path / "env")
    _write_embeddings(spark, given, [(i, [1.0, 0.0, 0.0], 0) for i in range(3)])
    _write_embeddings(spark, env, [(i, [1.0, 0.0, 0.0, 0.0, 0.0], 0) for i in range(7)])
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", env)
    from_env = ent.oracle_sql()["embedding_ann"]
    explicit = ent.oracle_sql(given)["embedding_ann"]
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", given)
    assert explicit == ent.oracle_sql()["embedding_ann"] != from_env

"""Embedding stage: deterministic, unit-normed, similarity-preserving,
plan-clean — and the output feeds every downstream vector consumer
(index build → probe round trip) unchanged."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from medallion_data_lake_spark.catalog import load_star_table
from medallion_data_lake_spark.operators.embeddings import (
    DEFAULT_DIM,
    embed_documents,
)

SF_DIR = "/root/testdata/sf0.001"


def test_embed_documents_shape_and_determinism(spark):
    docs = load_star_table(spark, SF_DIR, "documents").limit(50)
    a = {r["vec_id"]: r["embedding"]
         for r in embed_documents(docs).collect()}
    b = {r["vec_id"]: r["embedding"]
         for r in embed_documents(docs).collect()}
    assert a == b                                   # deterministic
    assert all(len(v) == DEFAULT_DIM for v in a.values())
    for v in a.values():                            # unit-normed
        n = math.sqrt(sum(x * x for x in v))
        assert abs(n - 1.0) < 1e-9 or n == 0.0


def test_embedding_similarity_orders_correctly(spark):
    """Near-identical texts must embed closer than unrelated texts —
    the property semantic dedup relies on, model-free."""
    docs = spark.createDataFrame(
        [
            (1, "spark joins shuffle data across the cluster nodes"),
            (2, "spark joins shuffle data across the cluster machines"),
            (3, "bananas ripen faster inside a warm paper bag"),
        ],
        "doc_id long, text string",
    )
    vecs = {r["vec_id"]: r["embedding"]
            for r in embed_documents(docs).collect()}

    def cos(u, v):
        return sum(a * b for a, b in zip(u, v))  # unit vectors

    assert cos(vecs[1], vecs[2]) > 0.7
    assert cos(vecs[1], vecs[2]) > cos(vecs[1], vecs[3]) + 0.3


def test_embedding_stage_is_single_arrow_map_pass(spark):
    from medallion_data_lake_spark.plans import count_shuffles, explain_str

    docs = load_star_table(spark, SF_DIR, "documents")
    df = embed_documents(docs)
    assert count_shuffles(df) == 0
    plan = explain_str(df)
    assert "ArrowEvalPython" in plan            # vectorized, not per-row
    assert "BatchEvalPython" not in plan


def test_embeddings_feed_index_build_and_probe(spark, tmp_path):
    """End-to-end text → embed → persisted index → probe: the top hit
    for a document's own vector must be its near-duplicate twin."""
    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        search_index,
    )

    rows = [(i, f"the quick brown fox number {i} jumps over the lazy dog")
            for i in range(40)]
    rows += [(100, "completely different text about quantum chromodynamics"),
             (101, "completely different text about quantum chromodynamics!")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    emb = embed_documents(docs)

    path = str(tmp_path / "emb_idx")
    build_ivf_index(emb, path)
    q = emb.filter(F.col("vec_id") == 100)
    hits = search_index(spark, path, q, n_probes=8, k=1).collect()
    assert hits and hits[0]["cand_id"] == 101


def test_semantic_dedup_from_text_only_corpus(spark):
    """curate_corpus(semantic_from_text=True): a text-only corpus gets
    in-pipeline embeddings and semantic dedup drops the planted
    near-identical pair member; unrelated docs survive."""
    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )

    rows = [
        (1, "spark joins shuffle data across the cluster nodes today", "en", "web"),
        (2, "spark joins shuffle data across the cluster nodes now", "en", "web"),
        (3, "bananas ripen faster inside a warm paper bag overnight", "en", "web"),
        (4, "quantum chromodynamics binds quarks with gluon exchange", "en", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    cfg = CurationConfig(
        semantic_from_text=True,
        semantic_threshold=0.8,
        semantic_cluster_size=2,
        min_est_jaccard=1.01,  # neutralize MinHash stage; isolate semantic
    )
    stages = curate_corpus(docs, config=cfg)
    assert "semantic_deduped" in stages
    kept = {r["doc_id"] for r in stages["curated"].collect()}
    assert len(kept & {1, 2}) == 1        # one of the pair dropped
    assert {3, 4} <= kept                  # unrelated docs survive


def test_materialize_reembeds_changed_text(spark, tmp_path):
    """A document whose TEXT changed under a stable id must be
    re-embedded and its old vector replaced (r13 advice: id-only
    incrementality silently served stale vectors forever)."""
    from medallion_data_lake_spark.operators.embeddings import (
        materialize_corpus_embeddings,
    )
    from medallion_data_lake_spark.operators.versioned import read_table

    docs = spark.createDataFrame(
        [(i, f"original text number {i}") for i in range(10)],
        "doc_id long, text string")
    table = str(tmp_path / "emb")
    first = materialize_corpus_embeddings(spark, docs, table, dim=16)
    assert first["n_embedded"] == 10 and first["stale_checked"] is True

    # steady state: nothing to do
    again = materialize_corpus_embeddings(spark, docs, table, dim=16)
    assert again["n_embedded"] == 0 and again["n_total"] == 10

    # change ONE text in place; the increment must be exactly that row
    changed = spark.createDataFrame(
        [(i, "a completely different sentence" if i == 3
          else f"original text number {i}") for i in range(10)],
        "doc_id long, text string")
    res = materialize_corpus_embeddings(spark, changed, table, dim=16)
    assert res["n_embedded"] == 1
    assert res["n_total"] == 10            # upsert, not append-duplicate

    out = read_table(spark, table)
    assert out.count() == 10               # vec_id stays unique
    got = out.filter(F.col("vec_id") == 3).first()["embedding"]
    want = embed_documents(
        changed.filter(F.col("doc_id") == 3), dim=16
    ).first()["embedding"]
    assert got == want                     # the NEW text's vector


def test_materialize_new_and_changed_in_one_pass(spark, tmp_path):
    """Mixed increment: new ids insert, changed ids replace — one
    merge, table stays unique by vec_id."""
    from medallion_data_lake_spark.operators.embeddings import (
        materialize_corpus_embeddings,
    )
    from medallion_data_lake_spark.operators.versioned import read_table

    docs = spark.createDataFrame(
        [(i, f"doc {i} body") for i in range(5)],
        "doc_id long, text string")
    table = str(tmp_path / "emb2")
    materialize_corpus_embeddings(spark, docs, table, dim=16)

    nxt = spark.createDataFrame(
        [(0, "doc 0 rewritten")] +
        [(i, f"doc {i} body") for i in range(1, 5)] +
        [(5, "doc 5 body"), (6, "doc 6 body")],
        "doc_id long, text string")
    res = materialize_corpus_embeddings(spark, nxt, table, dim=16)
    assert res["n_embedded"] == 3          # 1 changed + 2 new
    assert res["n_total"] == 7
    out = read_table(spark, table)
    assert out.count() == 7
    assert out.select("vec_id").distinct().count() == 7


def test_null_text_doc_reaches_steady_state(spark, tmp_path):
    """NULL text must fingerprint like '' (the embedder's own NULL
    semantics): without the coalesce, a NULL-text doc re-embeds every
    run and the curation coverage guard fails forever (r14 review)."""
    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from medallion_data_lake_spark.operators.embeddings import (
        materialize_corpus_embeddings,
    )

    docs = spark.createDataFrame(
        [(1, "normal text", "en", "web"), (2, None, "en", "web")],
        "doc_id long, text string, lang string, source string")
    table = str(tmp_path / "emb")
    first = materialize_corpus_embeddings(spark, docs, table, dim=16)
    assert first["n_embedded"] == 2
    again = materialize_corpus_embeddings(spark, docs, table, dim=16)
    assert again["n_embedded"] == 0 and again["n_total"] == 2  # steady
    # the coverage guard passes (no phantom STALE row)
    curate_corpus(docs, config=CurationConfig(
        embedding_dim=16, embeddings_table=table))["curated"].collect()

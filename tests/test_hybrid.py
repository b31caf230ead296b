"""Hybrid retrieval (operators/hybrid.py): RRF fusion semantics and
path agreement — the persisted-index hybrid_search must compute exactly
what the oracle-gated ``hybrid_rrf_topk`` query computes from the raw
corpus (same arithmetic, different substrate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.catalog import load_star_table
from medallion_data_lake_spark.operators.hybrid import (
    RRF_K,
    cosine_topn,
    hybrid_search,
    rrf_fuse,
)
from medallion_data_lake_spark.operators.inverted_index import (
    create_bm25_index,
)

SF = "/root/testdata/sf0.001"


def _rank_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, rank int")


def test_rrf_fuse_arithmetic(spark):
    """Fusion over hand-checkable ranks: overlap sums both branches,
    absent branch contributes 0, order by score then id."""
    kw = _rank_df(spark, [(1, 1), (2, 2), (3, 3)])
    vec = _rank_df(spark, [(3, 1), (4, 2)])
    out = rrf_fuse({"kw": kw, "vec": vec}, k=10).collect()
    scores = {r["doc_id"]: r["rrf_score"] for r in out}
    assert scores[3] == 1.0 / (RRF_K + 3) + 1.0 / (RRF_K + 1)
    assert scores[1] == 1.0 / (RRF_K + 1)
    assert scores[4] == 1.0 / (RRF_K + 2)
    # doc 3 hits both branches: fusion puts it first despite rank 3/1;
    # docs 2 and 4 tie at 1/62 -> doc_id tiebreak
    assert [r["doc_id"] for r in out] == [3, 1, 2, 4]
    # per-branch ranks survive as nullable columns
    row3 = next(r for r in out if r["doc_id"] == 3)
    assert (row3["kw_rank"], row3["vec_rank"]) == (3, 1)
    row1 = next(r for r in out if r["doc_id"] == 1)
    assert row1["vec_rank"] is None


def test_rrf_fuse_validation(spark):
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse({})


def test_rrf_fuse_three_branches(spark):
    """Producer-agnostic: any number of named rankings fuse."""
    a = _rank_df(spark, [(1, 1)])
    b = _rank_df(spark, [(1, 2)])
    c = _rank_df(spark, [(2, 1)])
    out = {r["doc_id"]: r for r in rrf_fuse({"a": a, "b": b, "c": c}).collect()}
    assert out[1]["rrf_score"] == 1.0 / 61 + 1.0 / 62
    assert out[2]["rrf_score"] == 1.0 / 61
    assert out[2]["a_rank"] is None and out[2]["c_rank"] == 1


def test_cosine_topn_matches_query_branch(spark):
    """The operator's vector branch reproduces the gated query's
    ranking (round-6 cosine desc, id tiebreak, query vector excluded)."""
    from medallion_data_lake_spark.queries.retrieval import (
        _N_BRANCH,
        _Q_VEC_ID,
    )

    e = load_star_table(spark, SF, "embeddings")
    got = cosine_topn(e, _Q_VEC_ID, _N_BRANCH).collect()
    assert len(got) == _N_BRANCH
    assert [r["rank"] for r in got] == list(range(1, _N_BRANCH + 1))
    assert all(r["vec_id"] != _Q_VEC_ID for r in got)


def test_hybrid_search_matches_gated_query_path(spark, tmp_path):
    """r10 verdict #1 'done' condition: the persisted-path variant
    (inverted index + embeddings) returns row-for-row what the
    oracle-gated hybrid_rrf_topk computes from the raw corpus."""
    from medallion_data_lake_spark.queries.retrieval import (
        _HYBRID_K,
        _N_BRANCH,
        _Q_TERMS,
        _Q_VEC_ID,
        hybrid_rrf_topk,
    )

    docs = load_star_table(spark, SF, "documents").select("doc_id", "text")
    root = str(tmp_path / "idx")
    create_bm25_index(spark, docs, root, n_files=4)
    e = load_star_table(spark, SF, "embeddings")

    got = hybrid_search(
        spark, root, e, list(_Q_TERMS), _Q_VEC_ID,
        k=_HYBRID_K, n_per_branch=_N_BRANCH,
    ).select(
        "doc_id", "kw_rank", "vec_rank",
        # the gated query rounds for display; mirror it for comparison
        (F.floor(F.col("rrf_score") * 10**9 + F.lit(0.5)) / 10**9)
        .alias("rrf_score"),
    ).collect()
    want = hybrid_rrf_topk(spark, SF).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_rrf_fuses_persisted_ivf_branch(spark, tmp_path):
    """Producer-agnostic fusion with the REAL persisted producers: the
    BM25 inverted index on one side and the persisted IVF ANN index on
    the other (not the brute-force branch) — the fused scores must
    equal RRF computed in plain Python from the two rankings."""
    from pyspark.sql import functions as F

    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        search_index,
    )
    from medallion_data_lake_spark.operators.hybrid import ranked
    from medallion_data_lake_spark.operators.inverted_index import (
        bm25_search,
    )

    docs = load_star_table(spark, SF, "documents").select("doc_id", "text")
    root = str(tmp_path / "bm25")
    create_bm25_index(spark, docs, root, n_files=4)
    kw = ranked(
        bm25_search(spark, root, ["dup", "vector", "scan"], k=10),
        [F.desc("score")],
    ).select("doc_id", "rank")

    emb = load_star_table(spark, SF, "embeddings")
    ipath = str(tmp_path / "ivf")
    build_ivf_index(emb, ipath)
    queries = emb.filter(F.col("vec_id") == 0)
    vec = (
        search_index(spark, ipath, queries, k=10)
        .select(F.col("cand_id").alias("doc_id"), "rank")
    )

    fused = rrf_fuse({"kw": kw, "vec": vec}, k=15).collect()
    assert 0 < len(fused) <= 15

    kw_ranks = {r["doc_id"]: r["rank"] for r in kw.collect()}
    vec_ranks = {r["doc_id"]: r["rank"] for r in vec.collect()}
    for r in fused:
        want = 0.0
        if r["doc_id"] in kw_ranks:
            want += 1.0 / (RRF_K + kw_ranks[r["doc_id"]])
        if r["doc_id"] in vec_ranks:
            want += 1.0 / (RRF_K + vec_ranks[r["doc_id"]])
        assert r["rrf_score"] == want, r
        assert r["kw_rank"] == kw_ranks.get(r["doc_id"])
        assert r["vec_rank"] == vec_ranks.get(r["doc_id"])
    # the fused head is the best-scored id overall
    all_ids = set(kw_ranks) | set(vec_ranks)
    best = max(all_ids, key=lambda d: (
        (1.0 / (RRF_K + kw_ranks[d]) if d in kw_ranks else 0.0)
        + (1.0 / (RRF_K + vec_ranks[d]) if d in vec_ranks else 0.0),
        -d,
    ))
    assert fused[0]["doc_id"] == best


def test_filtered_hybrid_scopes_both_branches(spark, tmp_path):
    """hybrid_search(allowed=...) — filtered hybrid: both branches
    filter BEFORE their top-n, so every fused doc is in the collection
    and a collection doc out-ranked globally still rises into the
    branch tops (equals fusing the independently-filtered branches)."""
    from medallion_data_lake_spark.operators.hybrid import ranked
    from medallion_data_lake_spark.operators.inverted_index import (
        bm25_search,
    )
    from medallion_data_lake_spark.queries.retrieval import (
        _Q_TERMS,
        _Q_VEC_ID,
    )

    docs = load_star_table(spark, SF, "documents").select("doc_id", "text")
    root = str(tmp_path / "idx")
    create_bm25_index(spark, docs, root, n_files=4)
    e = load_star_table(spark, SF, "embeddings")
    allowed = e.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    allowed_ids = {r["vec_id"] for r in allowed.collect()}

    got = hybrid_search(
        spark, root, e, list(_Q_TERMS), _Q_VEC_ID,
        k=8, n_per_branch=10, allowed=allowed,
    ).collect()
    assert got and all(r["doc_id"] in allowed_ids for r in got)

    kw = ranked(
        bm25_search(spark, root, list(_Q_TERMS), k=10, allowed=allowed),
        [F.desc("score")],
    ).select("doc_id", "rank")
    vec = cosine_topn(e, _Q_VEC_ID, 10, allowed=allowed).withColumnRenamed(
        "vec_id", "doc_id")
    want = rrf_fuse({"kw": kw, "vec": vec}, k=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # the filter really reshapes the branch: an allowed doc absent from
    # the unfiltered keyword top-10 appears once disallowed docs are out
    unfiltered_kw = {
        r["doc_id"]
        for r in bm25_search(spark, root, list(_Q_TERMS), k=10).collect()
    }
    filtered_kw = {r["doc_id"] for r in kw.collect()}
    assert filtered_kw - unfiltered_kw, (
        "fixture regression: filtered top-10 adds no new collection doc"
    )


def test_cli_hybrid_search_round_trip(spark, tmp_path, capsys):
    """bm25-build then hybrid-search through the CLI: fused rows come
    back as JSON with per-branch ranks; missing args refused."""
    import json as _json

    from medallion_data_lake_spark import cli
    from medallion_data_lake_spark.queries.retrieval import (
        _Q_TERMS,
        _Q_VEC_ID,
    )

    root = str(tmp_path / "idx")
    assert cli.main(["bm25-build", root,
                     "--sf", "/root/testdata/sf0.001"]) == 0
    capsys.readouterr()
    assert cli.main(["hybrid-search", root,
                     "--terms", ",".join(_Q_TERMS),
                     "--vec-id", str(_Q_VEC_ID),
                     "--limit", "8",
                     "--sf", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    rows = [_json.loads(ln) for ln in out if ln.startswith("{")]
    assert len(rows) == 8
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert any(r["kw_rank"] is not None for r in rows)
    assert any(r["vec_rank"] is not None for r in rows)
    # both anchors required
    assert cli.main(["hybrid-search", root, "--terms", "x",
                     "--sf", "/root/testdata/sf0.001"]) == 2
    # lake mode without --embeddings and no registered view: a one-line
    # usage error (rc=2), not a raw AnalysisException (r11 ADVICE)
    spark.catalog.dropTempView("embeddings")
    capsys.readouterr()
    assert cli.main(["hybrid-search", root,
                     "--terms", ",".join(_Q_TERMS),
                     "--vec-id", str(_Q_VEC_ID)]) == 2
    err = capsys.readouterr().err
    assert "no 'embeddings' view" in err


def test_hybrid_search_with_persisted_vector_branch(spark, tmp_path):
    """vec_index= swaps the vector branch's corpus scan for the
    persisted IVF probe: the fusion must equal rrf_fuse over the BM25
    ranking and the index search's own ranking, and allowed= still
    scopes both branches."""
    from medallion_data_lake_spark.operators.ann import (
        build_kmeans_ivf_index,
        search_index,
    )
    from medallion_data_lake_spark.operators.hybrid import ranked
    from medallion_data_lake_spark.operators.inverted_index import (
        bm25_search,
    )
    from medallion_data_lake_spark.queries.retrieval import (
        _Q_TERMS,
        _Q_VEC_ID,
    )

    docs = load_star_table(spark, SF, "documents").select("doc_id", "text")
    root = str(tmp_path / "bm25")
    create_bm25_index(spark, docs, root, n_files=4)
    e = load_star_table(spark, SF, "embeddings")
    ivf = str(tmp_path / "ivf")
    build_kmeans_ivf_index(e, ivf, k=4)

    got = hybrid_search(
        spark, root, e, list(_Q_TERMS), _Q_VEC_ID,
        k=8, n_per_branch=10, vec_index=ivf, n_probes=4,
    ).collect()

    kw = ranked(
        bm25_search(spark, root, list(_Q_TERMS), k=10),
        [F.desc("score")],
    ).select("doc_id", "rank")
    qvec = e.filter(F.col("vec_id") == _Q_VEC_ID).select(
        "vec_id", "embedding")
    vec = search_index(spark, ivf, qvec, n_probes=4, k=10).select(
        F.col("cand_id").alias("doc_id"), "rank")
    want = rrf_fuse({"kw": kw, "vec": vec}, k=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    allowed = e.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    scoped = hybrid_search(
        spark, root, e, list(_Q_TERMS), _Q_VEC_ID,
        k=8, n_per_branch=10, vec_index=ivf, n_probes=4, allowed=allowed,
    ).collect()
    assert scoped and all(r["doc_id"] in allowed_ids for r in scoped)

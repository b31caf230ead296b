"""Serving store (serving_store.py): the exported-SQL serving tier.

Contract under test:
- store BM25 results equal the lake's ``bm25_search`` at the exported
  snapshot — ids and match counts exactly, scores to double tolerance
  (the store sums per-term doubles through the same decimal(28,12)
  cast; Derby's decimal CAST truncates where Spark rounds, so the last
  place can differ by 1e-12);
- the store is a consistency LEASE: lake appends after export are
  invisible — store results keep matching the lake AT THE PINS;
- gold exports roundtrip and serve indexed point/top-k lookups;
- requests run with NO Spark job (the whole point of the tier);
- the HTTP /search route answers from the store when armed.
"""

from __future__ import annotations

import pytest

from medallion_data_lake_spark.operators.inverted_index import (
    append_bm25_index,
    bm25_search,
    create_bm25_index,
)
from medallion_data_lake_spark.serving_store import (
    DERBY_DRIVER,
    ServingStore,
    export_gold_store,
    export_search_store,
)

DOCS = [
    (1, "stream table join state"),
    (2, "hash join build probe"),
    (3, "stream stream join watermark state"),
    (4, "table scan filter pushdown"),
    (5, "state store checkpoint stream"),
    (6, "join hash shuffle exchange"),
]


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("derby_store")
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(root))
    return f"jdbc:derby:{root}/store{{}};create=true"


def _docs(spark, rows=None):
    return spark.createDataFrame(rows or DOCS, "doc_id long, text string")


def _lake_rows(df):
    return [(r["doc_id"], r["n_terms_matched"], r["score"])
            for r in df.collect()]


def _assert_store_equals_lake(store_out, lake_rows):
    assert store_out["columns"] == ["doc_id", "n_terms_matched", "score"]
    got = [tuple(r) for r in store_out["rows"]]
    assert [g[:2] for g in got] == [l[:2] for l in lake_rows]
    for g, l in zip(got, lake_rows):
        assert abs(g[2] - l[2]) < 1e-9, (g, l)


def test_store_bm25_equals_lake_at_snapshot(spark, tmp_path, derby_url):
    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)
    url = derby_url.format("eq")
    pins = export_search_store(spark, root, url)

    with ServingStore(spark, url) as store:
        assert store.manifest() == pins
        for terms, k in ([["stream", "join"], 5], [["hash"], 3],
                         [["state", "store", "scan"], 6]):
            lake = _lake_rows(bm25_search(spark, root, terms, k=k,
                                          pins=pins))
            _assert_store_equals_lake(store.bm25(terms, k=k), lake)


def test_store_is_a_snapshot_lease(spark, tmp_path, derby_url):
    """Appends after export stay invisible: the store keeps matching
    the lake AT THE EXPORTED PINS, not the lake tip."""
    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)
    url = derby_url.format("lease")
    pins = export_search_store(spark, root, url)
    append_bm25_index(
        spark, _docs(spark, [(7, "stream join stream join")]), root)

    with ServingStore(spark, url) as store:
        out = store.bm25(["stream", "join"], k=6)
        ids = [r[0] for r in out["rows"]]
        assert 7 not in ids  # post-export append invisible
        lake_pinned = _lake_rows(
            bm25_search(spark, root, ["stream", "join"], k=6, pins=pins))
        _assert_store_equals_lake(out, lake_pinned)
        # re-export picks up the append (the refresh path)
        pins2 = export_search_store(spark, root, url)
        assert pins2 != pins
        out2 = store.bm25(["stream", "join"], k=6)
        assert 7 in [r[0] for r in out2["rows"]]


def test_store_request_runs_no_spark_job(spark, tmp_path, derby_url):
    """The tier's reason to exist: a store request must not launch any
    Spark job (it is one JDBC statement on the driver JVM)."""
    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)
    url = derby_url.format("nojob")
    export_search_store(spark, root, url)

    tracker = spark.sparkContext.statusTracker()
    with ServingStore(spark, url) as store:
        before = tracker.getJobIdsForGroup(None)
        out = store.bm25(["stream", "join"], k=5)
        assert out["row_count"] > 0
        assert tracker.getJobIdsForGroup(None) == before


def test_gold_export_point_and_topk(spark, derby_url):
    gold = spark.createDataFrame(
        [(i, f"cust_{i:03d}", float(i * 7 % 101)) for i in range(1, 101)],
        "customer_id int, name string, total_spent double",
    )
    url = derby_url.format("gold")
    export_gold_store(spark, {"gold_customers": gold}, url,
                      indexes={"gold_customers": "customer_id"})
    with ServingStore(spark, url) as store:
        pt = store.gold_point("gold_customers", "customer_id", 42)
        assert pt["row_count"] == 1
        assert pt["rows"][0][1] == "cust_042"
        top = store.gold_topk("gold_customers", "total_spent", k=3)
        want = sorted(((r["total_spent"], r["customer_id"])
                       for r in gold.collect()), reverse=True)[:3]
        assert [r[2] for r in top["rows"]] == [w[0] for w in want]
        # identifiers are validated, never interpolated from free text
        with pytest.raises(ValueError, match="identifier"):
            store.gold_point("gold_customers; DROP", "customer_id", 1)


def test_http_search_served_from_store(spark, tmp_path, derby_url):
    import json as _json
    import urllib.request

    from medallion_data_lake_spark.serving import ServingLayer
    from medallion_data_lake_spark.serving_http import (
        serve_http_background,
    )

    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)
    url = derby_url.format("http")
    pins = export_search_store(spark, root, url)

    store = ServingStore(spark, url)
    server, thread = serve_http_background(
        ServingLayer(spark), port=0, serving_store=store)
    host, port = server.server_address
    try:
        req = urllib.request.Request(
            f"http://{host}:{port}/search",
            data=_json.dumps({"terms": ["stream", "join"], "k": 4}).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            out = _json.loads(resp.read())
        assert out["engine"] == "store" and out["row_count"] == 4
        lake = _lake_rows(
            bm25_search(spark, root, ["stream", "join"], k=4, pins=pins))
        _assert_store_equals_lake(out, lake)
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=5)
        store.close()


def test_export_refuses_uncommitted_index(spark, tmp_path, derby_url):
    with pytest.raises(ValueError, match="no committed append txn"):
        export_search_store(spark, str(tmp_path / "ghost"),
                            derby_url.format("ghost"))


# ---- r14: phrase / vector / hybrid store tiers -------------------------

PHRASE_DOCS = DOCS + [
    (7, "a b a b a b"),                       # overlapping occurrences
    (8, "join stream join stream table"),
]


def _phrase_set(df):
    return {(r["doc_id"], r["n_matches"]) for r in df.collect()}


def test_store_phrase_equals_lake(spark, tmp_path, derby_url):
    """Store /phrase (positional bigram self-join) ≡ lake phrase_search
    (bigram candidates + exact residual) — doc sets AND match counts,
    including overlapping occurrences."""
    from medallion_data_lake_spark.operators.inverted_index import (
        phrase_search,
    )

    root = str(tmp_path / "idx")
    docs = _docs(spark, PHRASE_DOCS)
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)
    url = derby_url.format("ph")
    export_search_store(spark, root, url, docs=docs)

    with ServingStore(spark, url) as store:
        for phrase in (["stream", "join"], ["a", "b", "a"],
                       ["join", "stream", "join"], ["state", "store"],
                       ["no", "such", "phrase"]):
            lake, _ = phrase_search(spark, root, docs, phrase)
            got = {tuple(r) for r in store.phrase(phrase)["rows"]}
            assert got == _phrase_set(lake), phrase
        # overlap check is real: "a b a" occurs twice in doc 7
        assert (7, 2) in {tuple(r)
                          for r in store.phrase(["a", "b", "a"])["rows"]}


def _emb(spark, n=30, dim=8, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(1, n + 1)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_store_similar_equals_brute_lake(spark, tmp_path, derby_url):
    """Brute-graph store ≡ cosine_topn (the warm session's no-index
    vector path) for every query id, ranks and ids exactly."""
    from medallion_data_lake_spark.operators.hybrid import cosine_topn
    from medallion_data_lake_spark.serving_store import export_vector_store

    emb = _emb(spark)
    url = derby_url.format("vec")
    meta = export_vector_store(spark, url, embeddings=emb, k_max=7)
    assert meta["mode"] == "bruteforce"

    with ServingStore(spark, url) as store:
        for q in (1, 7, 30):
            for k in (1, 5, 7):
                lake = [(r["vec_id"], r["rank"])
                        for r in cosine_topn(emb, q, k).collect()]
                got = [tuple(r) for r in store.similar(q, k=k)["rows"]]
                assert got == sorted(lake, key=lambda t: t[1]), (q, k)
        import pytest as _pt
        with _pt.raises(ValueError, match="k_max=7"):
            store.similar(1, k=8)


def test_store_similar_ivf_equals_index_probe(spark, tmp_path, derby_url):
    """IVF-graph store ≡ per-query ann.search_index at the same
    n_probes — the store serves exactly what a warm session with that
    vector index serves."""
    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        search_index,
    )
    from medallion_data_lake_spark.serving_store import export_vector_store
    from pyspark.sql import functions as F

    emb = _emb(spark, n=40)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx)
    url = derby_url.format("vecivf")
    meta = export_vector_store(spark, url, vec_index=idx, k_max=6,
                               n_probes=3)
    assert meta["mode"] == "ivf"

    with ServingStore(spark, url) as store:
        for q in (2, 19, 40):
            qvec = emb.filter(F.col("vec_id") == q)
            probe = [(r["cand_id"], r["rank"])
                     for r in search_index(spark, idx, qvec, n_probes=3,
                                           k=6).collect()]
            got = [tuple(r) for r in store.similar(q, k=6)["rows"]]
            assert got == sorted(probe, key=lambda t: t[1]), q


def test_store_hybrid_equals_lake(spark, tmp_path, derby_url):
    """Store hybrid (store bm25 branch + store neighbor branch + Python
    RRF) ≡ operators.hybrid.hybrid_search row-for-row: same docs, same
    per-branch ranks, same IEEE rrf_score."""
    from medallion_data_lake_spark.operators.hybrid import hybrid_search
    from medallion_data_lake_spark.serving_store import export_vector_store

    root = str(tmp_path / "idx")
    docs = _docs(spark)
    create_bm25_index(spark, docs, root, n_files=2)
    # vectors share the doc id space (ids 1..6)
    emb = _emb(spark, n=6)
    url = derby_url.format("hy")
    export_search_store(spark, root, url)
    export_vector_store(spark, url, embeddings=emb, k_max=6)

    with ServingStore(spark, url) as store:
        for terms, q in ([["stream", "join"], 3], [["hash"], 1]):
            lake = [(r["doc_id"], r["kw_rank"], r["vec_rank"],
                     r["rrf_score"])
                    for r in hybrid_search(spark, root, emb, terms, q,
                                           k=5, n_per_branch=6).collect()]
            got = [tuple(r) for r in store.hybrid(terms, q, k=5,
                                                  n_per_branch=6)["rows"]]
            assert [g[:3] for g in got] == [l[:3] for l in lake], (terms, q)
            for g, l in zip(got, lake):
                assert abs(g[3] - l[3]) < 1e-15, (g, l)


def test_store_new_routes_run_no_spark_job(spark, tmp_path, derby_url):
    """Phrase, similar, and hybrid must answer with ZERO Spark jobs —
    the tier's defining property, extended to every hot shape."""
    from medallion_data_lake_spark.serving_store import export_vector_store

    root = str(tmp_path / "idx")
    docs = _docs(spark, PHRASE_DOCS)
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)
    url = derby_url.format("nojob2")
    export_search_store(spark, root, url, docs=docs)
    export_vector_store(spark, url, embeddings=_emb(spark, n=8), k_max=5)

    tracker = spark.sparkContext.statusTracker()
    with ServingStore(spark, url) as store:
        before = tracker.getJobIdsForGroup(None)
        assert store.phrase(["stream", "join"])["row_count"] > 0
        assert store.similar(3, k=5)["row_count"] > 0
        assert store.hybrid(["stream"], 3, k=5, n_per_branch=5)[
            "row_count"] > 0
        assert tracker.getJobIdsForGroup(None) == before


def test_http_all_routes_served_from_store(spark, tmp_path, derby_url):
    """With every export artifact present, all four search routes
    answer from the store (engine=store); a route whose artifact is
    missing falls through to the warm session."""
    import json as _json
    from urllib.request import Request, urlopen

    from medallion_data_lake_spark.serving import ServingLayer
    from medallion_data_lake_spark.serving_http import (
        serve_http_background,
    )
    from medallion_data_lake_spark.serving_store import export_vector_store

    root = str(tmp_path / "idx")
    docs = _docs(spark, PHRASE_DOCS)
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)
    url = derby_url.format("httpall")
    export_search_store(spark, root, url, docs=docs)
    # k_max=20 matches the /hybrid default n_per_branch: the default
    # request must be servable without a depth refusal
    export_vector_store(spark, url, embeddings=_emb(spark, n=8), k_max=20)

    serving = ServingLayer(spark)
    store = ServingStore(spark, url)
    assert store.routes() == {"/search", "/phrase", "/similar", "/hybrid"}
    server, _ = serve_http_background(serving, serving_store=store)
    host, port = server.server_address

    def post(path, body):
        r = Request(f"http://{host}:{port}{path}",
                    data=_json.dumps(body).encode(),
                    headers={"Content-Type": "application/json"})
        return _json.loads(urlopen(r).read())

    try:
        for path, body in (
            ("/search", {"terms": ["stream", "join"], "k": 5}),
            ("/phrase", {"phrase": ["stream", "join"]}),
            ("/similar", {"vec_id": 3, "k": 5}),
            ("/hybrid", {"terms": ["stream"], "vec_id": 3, "k": 5}),
        ):
            out = post(path, body)
            assert out.get("engine") == "store", (path, out)
            assert out["row_count"] > 0, path
    finally:
        server.shutdown()
        server.server_close()
        store.close()


def test_http_missing_artifact_falls_back(spark, tmp_path, derby_url):
    """A store exported WITHOUT the vector artifact must not claim
    /similar: the route falls through (here: 400, no session armed)
    while /search still answers from the store."""
    import json as _json
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from medallion_data_lake_spark.serving import ServingLayer
    from medallion_data_lake_spark.serving_http import (
        serve_http_background,
    )

    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)
    url = derby_url.format("fallback")
    export_search_store(spark, root, url)

    serving = ServingLayer(spark)
    store = ServingStore(spark, url)
    assert store.routes() == {"/search"}
    server, _ = serve_http_background(serving, serving_store=store)
    host, port = server.server_address

    def post(path, body):
        r = Request(f"http://{host}:{port}{path}",
                    data=_json.dumps(body).encode(),
                    headers={"Content-Type": "application/json"})
        return _json.loads(urlopen(r).read())

    try:
        out = post("/search", {"terms": ["stream"], "k": 3})
        assert out.get("engine") == "store"
        try:
            post("/similar", {"vec_id": 1, "k": 3})
            raise AssertionError("expected 400 for unarmed /similar")
        except HTTPError as e:
            assert e.code == 400
        try:  # a string is not a term list (never searched letter-wise)
            post("/search", {"terms": "stream"})
            raise AssertionError("expected 400 for string terms")
        except HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()
        server.server_close()
        store.close()


def test_cli_export_store_full(spark, tmp_path, derby_url, capsys):
    """`cli export-store IDX --store URL --docs T --embeddings T`
    exports all three serving artifacts in one verb; the opened store
    then arms every search route."""
    from medallion_data_lake_spark import cli
    from medallion_data_lake_spark.operators.versioned import commit

    docs = _docs(spark, PHRASE_DOCS)
    docs_table = str(tmp_path / "docs_t")
    commit(docs, docs_table, stats_cols=("doc_id",))
    emb_table = str(tmp_path / "emb_t")
    commit(_emb(spark, n=8), emb_table, stats_cols=("vec_id",))
    root = str(tmp_path / "idx")
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)

    url = derby_url.format("cliexp")
    rc = cli.main(["export-store", root, "--store", url,
                   "--docs", docs_table, "--embeddings", emb_table])
    assert rc == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["vector"]["mode"] == "bruteforce"
    with ServingStore(spark, url) as store:
        assert store.routes() == {"/search", "/phrase", "/similar",
                                  "/hybrid"}
        assert store.phrase(["stream", "join"])["row_count"] > 0


# ---- r14: incremental store export --------------------------------------

WORDS = ["stream", "join", "table", "state", "hash", "scan", "filter",
         "probe", "shuffle", "exchange", "watermark", "checkpoint"]


def _big_docs(spark, n=60, extra=None):
    rows = [(i, " ".join(WORDS[(i + j) % len(WORDS)] for j in range(6)))
            for i in range(1, n + 1)]
    return spark.createDataFrame(rows + (extra or []),
                                 "doc_id long, text string")


def test_incremental_export_small_append(spark, tmp_path, derby_url):
    """Small append within the ε window: only the appended vocabulary's
    posting lists rewrite; the store answers exactly for touched terms
    (membership exact everywhere), the bigram table follows the doc
    delta, and the manifest advances to the new pins."""
    from medallion_data_lake_spark.operators.inverted_index import (
        phrase_search,
    )
    from medallion_data_lake_spark.serving_store import (
        export_search_store_incremental,
    )

    root = str(tmp_path / "idx")
    docs = _big_docs(spark)
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)
    url = derby_url.format("incr")
    pins0 = export_search_store(spark, root, url, docs=docs)

    new_doc = [(61, "stream join quantile sketch stream join")]
    append_bm25_index(spark, _docs(spark, new_doc), root)
    docs2 = _big_docs(spark, extra=new_doc)

    rep = export_search_store_incremental(spark, root, url, docs=docs2)
    assert rep["mode"] == "incremental", rep
    assert rep["pins"] != pins0
    assert 0 < rep["drift"] <= 0.02
    # affected vocabulary = the appended doc's distinct terms
    assert rep["affected_terms"] == 4

    with ServingStore(spark, url) as store:
        assert store.manifest() == rep["pins"]
        # touched terms: exact parity with the lake at the NEW pins
        lake = _lake_rows(bm25_search(
            spark, root, ["stream", "join"], k=10, pins=rep["pins"]))
        _assert_store_equals_lake(
            store.bm25(["stream", "join"], k=10), lake)
        assert 61 in [r[0] for r in store.bm25(["quantile"], k=5)["rows"]]
        # untouched terms: membership + counts exact; score drift ≤ ε-ish
        lake_u = _lake_rows(bm25_search(
            spark, root, ["checkpoint"], k=10, pins=rep["pins"]))
        got_u = store.bm25(["checkpoint"], k=10)["rows"]
        assert [(r[0], r[1]) for r in got_u] == [l[:2] for l in lake_u]
        for g, l in zip(got_u, lake_u):
            assert abs(g[2] - l[2]) / abs(l[2]) < 0.1, (g, l)
        # phrase follows the doc delta
        lake_ph, _ = phrase_search(spark, root, docs2, ["quantile", "sketch"])
        got_ph = {tuple(r) for r in store.phrase(["quantile", "sketch"])["rows"]}
        assert got_ph == _phrase_set(lake_ph) == {(61, 1)}

    # second call with nothing new: noop
    rep2 = export_search_store_incremental(spark, root, url, docs=docs2)
    assert rep2["mode"] == "noop"


def test_incremental_export_eps_forces_full(spark, tmp_path, derby_url):
    """Corpus-total drift beyond ε must force a full refresh (impacts
    denormalize N/avgdl) — and the refreshed store is exactly the lake."""
    from medallion_data_lake_spark.serving_store import (
        export_search_store_incremental,
    )

    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)  # 6 docs
    url = derby_url.format("eps")
    export_search_store(spark, root, url)

    append_bm25_index(spark, _docs(spark, [
        (7, "stream join table"), (8, "hash probe scan")]), root)
    rep = export_search_store_incremental(spark, root, url)
    assert rep["mode"] == "full_refresh"
    assert rep["drift"] > 0.02

    with ServingStore(spark, url) as store:
        lake = _lake_rows(bm25_search(
            spark, root, ["stream", "join"], k=10, pins=rep["pins"]))
        _assert_store_equals_lake(store.bm25(["stream", "join"], k=10),
                                  lake)


def test_incremental_export_initializes_empty_store(spark, tmp_path,
                                                    derby_url):
    """First call against an empty database is just the full export."""
    from medallion_data_lake_spark.serving_store import (
        export_search_store_incremental,
    )

    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)
    url = derby_url.format("init")
    rep = export_search_store_incremental(spark, root, url)
    assert rep["mode"] == "full_initial"
    with ServingStore(spark, url) as store:
        assert store.bm25(["stream"], k=3)["row_count"] > 0


def test_full_refresh_without_docs_refuses_on_bigram_store(spark, tmp_path,
                                                           derby_url):
    """ε-forced full refresh must not leave a stale bigram table behind:
    a store carrying mdls_bigram_pos refuses a docless full re-export."""
    from medallion_data_lake_spark.serving_store import (
        export_search_store_incremental,
    )

    root = str(tmp_path / "idx")
    docs = _docs(spark, PHRASE_DOCS)
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)
    url = derby_url.format("stalebg")
    export_search_store(spark, root, url, docs=docs)
    # 3 new docs on an 8-doc corpus: drift far beyond eps -> full path
    append_bm25_index(spark, _docs(spark, [
        (20, "stream join state"), (21, "hash probe scan"),
        (22, "filter pushdown scan")]), root)
    with pytest.raises(ValueError, match="bigram table"):
        export_search_store_incremental(spark, root, url)


def test_incremental_vector_export_equals_full_rebuild(spark, tmp_path,
                                                       derby_url):
    """After appending vectors AND tombstoning one, the incremental
    vector export must leave the neighbors table EXACTLY equal to a
    fresh full export of the same index — no ε here: a list recomputes
    iff its probe cells gained or lost a member, and that test subsumes
    deletions (a list holding a tombstoned candidate probes its cell)."""
    from medallion_data_lake_spark.operators.ann import (
        append_to_ivf_index,
        build_ivf_index,
        delete_index_batch,
    )
    from pyspark.sql import functions as F

    from medallion_data_lake_spark.serving_store import (
        export_vector_store,
        export_vector_store_incremental,
    )

    emb = _emb(spark, n=60)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx)
    url = derby_url.format("vecinc")
    export_vector_store(spark, url, vec_index=idx, k_max=6, n_probes=3)

    # change the live set: +5 new vectors, -1 tombstoned
    append_to_ivf_index(_emb(spark, n=5, seed=77).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"), idx)
    delete_index_batch(
        spark.createDataFrame([(7,)], "vec_id long"), idx, batch_id=0)

    rep = export_vector_store_incremental(spark, url, idx)
    assert rep["mode"] == "incremental"
    assert rep["n_new"] == 5 and rep["n_deleted"] == 1
    assert rep["n_recomputed"] >= 5

    # fresh full export of the same index into a second database
    url2 = derby_url.format("vecinc2")
    export_vector_store(spark, url2, vec_index=idx, k_max=6, n_probes=3)
    with ServingStore(spark, url) as a, ServingStore(spark, url2) as b:
        qa = a.query('SELECT "vec_id","rank","cand_id" FROM mdls_neighbors '
                     'ORDER BY 1,2')
        qb = b.query('SELECT "vec_id","rank","cand_id" FROM mdls_neighbors '
                     'ORDER BY 1,2')
        assert qa["rows"] == qb["rows"]
        assert 7 not in {r[0] for r in qa["rows"]}          # no list for deleted
        assert all(r[2] != 7 for r in qa["rows"])           # never a candidate
        assert {r[0] for r in qa["rows"]} >= {1001, 1005}   # new lists exist

    # nothing changed since: noop
    rep2 = export_vector_store_incremental(spark, url, idx)
    assert rep2["mode"] == "noop"


def test_incremental_vector_export_refuses_brute_store(spark, tmp_path,
                                                       derby_url):
    from medallion_data_lake_spark.serving_store import (
        export_vector_store,
        export_vector_store_incremental,
    )

    url = derby_url.format("vecbrute")
    export_vector_store(spark, url, embeddings=_emb(spark, n=10), k_max=5)
    with pytest.raises(ValueError, match="brute"):
        export_vector_store_incremental(spark, url, str(tmp_path / "nope"))


def test_incremental_retry_does_not_duplicate_pairs(spark, tmp_path,
                                                    derby_url):
    """A replayed increment (same old→new delta, e.g. after a mid-run
    failure) must not double-append the df-stable delta rows — the
    about-to-insert pairs are deleted first, so bm25 sums each (term,
    doc) exactly once (r14 review finding #1)."""
    import json as _json

    from medallion_data_lake_spark.serving_store import (
        T_MANIFEST,
        export_search_store_incremental,
    )

    root = str(tmp_path / "idx")
    docs = _big_docs(spark)
    create_bm25_index(spark, docs, root, n_files=2)
    url = derby_url.format("retry")
    pins0 = export_search_store(spark, root, url)
    append_bm25_index(spark, _docs(spark, [
        (61, "stream join quantile sketch stream join")]), root)

    rep1 = export_search_store_incremental(spark, root, url)
    assert rep1["mode"] == "incremental"
    # simulate the retry: reset the manifest to the OLD pins (as if the
    # first run failed before its manifest replacement) and run again
    with ServingStore(spark, url) as store:
        store.execute(f"DELETE FROM {T_MANIFEST}")
        store.execute(
            f"INSERT INTO {T_MANIFEST} VALUES "
            f"('{_json.dumps(pins0)}')")
    rep2 = export_search_store_incremental(spark, root, url)
    assert rep2["mode"] == "incremental"

    with ServingStore(spark, url) as store:
        # exact parity incl. n_terms_matched: duplicated pairs would
        # inflate both the count and the score
        lake = _lake_rows(bm25_search(
            spark, root, ["stream", "join"], k=10, pins=rep2["pins"]))
        _assert_store_equals_lake(
            store.bm25(["stream", "join"], k=10), lake)
        # and no (term, doc) pair appears twice anywhere
        dup = store.query(
            'SELECT "term", "doc_id", COUNT(*) AS n FROM mdls_postings '
            'GROUP BY "term", "doc_id" HAVING COUNT(*) > 1')
        assert dup["row_count"] == 0, dup["rows"]


def test_incremental_refuses_stale_vector_store(spark, tmp_path,
                                                derby_url):
    """A store carrying the kNN graph refuses a BM25-only increment
    (the manifest would advance while /similar serves the old
    snapshot) unless the caller explicitly accepts the skew."""
    from medallion_data_lake_spark.serving_store import (
        export_search_store_incremental,
        export_vector_store,
    )

    root = str(tmp_path / "idx")
    create_bm25_index(spark, _big_docs(spark), root, n_files=2)
    url = derby_url.format("stalevec")
    export_search_store(spark, root, url)
    export_vector_store(spark, url, embeddings=_emb(spark, n=10), k_max=5)
    append_bm25_index(spark, _docs(spark, [
        (61, "stream join quantile sketch stream join")]), root)

    with pytest.raises(ValueError, match="kNN-graph"):
        export_search_store_incremental(spark, root, url)
    rep = export_search_store_incremental(spark, root, url,
                                          allow_stale_vectors=True)
    assert rep["mode"] == "incremental"


def test_store_status_reports_staleness(spark, tmp_path, derby_url,
                                        capsys):
    """store-status reports armed routes, pins, table sizes, and
    whether the lake moved past the export — the operate-the-lease
    signal for `export-store --incremental`."""
    from medallion_data_lake_spark import cli
    from medallion_data_lake_spark.serving_store import store_status

    root = str(tmp_path / "idx")
    docs = _docs(spark, PHRASE_DOCS)
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)
    url = derby_url.format("status")
    export_search_store(spark, root, url, docs=docs)

    st = store_status(spark, url, index_root=root)
    assert st["stale"] is False
    assert set(st["routes"]) == {"/search", "/phrase"}
    assert st["tables"]["mdls_postings"] > 0
    assert st["tables"]["mdls_bigram_pos"] > 0
    assert st["vector"] is None

    append_bm25_index(spark, _docs(spark, [(30, "stream join now")]), root)
    st2 = store_status(spark, url, index_root=root)
    assert st2["stale"] is True          # lake moved past the export
    assert st2["pins"] == st["pins"]     # store still at the old cut

    # CLI verb round-trips the same report
    rc = cli.main(["store-status", root, "--store", url])
    assert rc == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stale"] is True


# --- r15 full-export / increment identity guards (r14 ADVICE) -------------

def test_full_export_refuses_docless_over_bigram_store(spark, tmp_path,
                                                       derby_url):
    """A FULL export over a store that already carries mdls_bigram_pos
    must refuse without docs=: it would swap postings + manifest while
    /phrase keeps serving the OLD snapshot (r14 ADVICE, medium)."""
    root = str(tmp_path / "idx")
    docs = _docs(spark)
    create_bm25_index(spark, docs, root, n_files=2)
    url = derby_url.format("fullbgguard")
    export_search_store(spark, root, url, docs=docs)  # store has bigrams
    with pytest.raises(ValueError, match="bigram table"):
        export_search_store(spark, root, url)  # docless full re-export
    # supplying docs= refreshes the phrase tier and proceeds
    export_search_store(spark, root, url, docs=docs)


def test_full_export_refuses_over_vector_store_unless_allowed(
        spark, tmp_path, derby_url):
    """A FULL BM25 export over a store that carries the kNN-graph tables
    must refuse unless the caller explicitly accepts stale vectors (the
    CLI passes the flag when it refreshes vectors in the same call)."""
    from medallion_data_lake_spark.serving_store import export_vector_store

    root = str(tmp_path / "idx")
    docs = _docs(spark)
    create_bm25_index(spark, docs, root, n_files=2)
    url = derby_url.format("fullvecguard")
    export_search_store(spark, root, url)
    export_vector_store(spark, url, embeddings=_emb(spark, n=8), k_max=5)
    with pytest.raises(ValueError, match="kNN-graph"):
        export_search_store(spark, root, url)
    # explicit opt-in proceeds (caller refreshes vectors next)
    export_search_store(spark, root, url, allow_stale_vectors=True)


def test_incremental_vector_export_refuses_foreign_index(spark, tmp_path,
                                                         derby_url):
    """The vector increment must refuse a vec_index other than the one
    recorded at full export — merging neighbor lists computed from two
    different indexes is silent corruption (r14 ADVICE, low)."""
    from medallion_data_lake_spark.operators.ann import build_ivf_index
    from medallion_data_lake_spark.serving_store import (
        export_vector_store,
        export_vector_store_incremental,
    )

    emb = _emb(spark, n=24, dim=8, seed=3)
    idx_a = str(tmp_path / "ivf_a")
    idx_b = str(tmp_path / "ivf_b")
    build_ivf_index(emb, idx_a)
    build_ivf_index(emb, idx_b)
    url = derby_url.format("vecpin")
    export_vector_store(spark, url, vec_index=idx_a, k_max=4)
    with pytest.raises(ValueError, match="vec_index"):
        export_vector_store_incremental(spark, url, vec_index=idx_b)


def test_curate_refuses_bench_decon_geometry_drift(spark, tmp_path):
    """curate_corpus must refuse a persisted bench-decon table whose
    recorded LSH geometry differs from the code's constants — a geometry
    mismatch silently under-flags contamination (r14 ADVICE, low)."""
    import json
    import os

    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
        materialize_benchmark_decon,
    )

    bench = _docs(spark, [(900, "stream table join state")])
    table = str(tmp_path / "benchdecon")
    materialize_benchmark_decon(spark, bench, table)
    sidecar = os.path.join(table, "_bench_decon.json")
    meta = json.load(open(sidecar))
    meta["n_bands"] = meta["n_bands"] + 1  # simulate constant drift
    json.dump(meta, open(sidecar, "w"))
    cfg = CurationConfig(benchmark_decon_table=table,
                         fuzzy_decontaminate=True)
    with pytest.raises(ValueError, match="LSH geometry"):
        curate_corpus(_docs(spark), config=cfg)


def test_full_fallback_forwards_stale_vector_waiver(spark, tmp_path,
                                                    derby_url):
    """The increment's FULL fallback (drift > ε here; same path as
    full_initial/full_refresh) must forward allow_stale_vectors to
    export_search_store — before r16 the fallback re-raised the
    kNN-graph guard the caller had explicitly waived, so
    `export-store --incremental --vec-index` style flows crashed
    instead of completing and refreshing vectors after (r15 ADVICE,
    medium)."""
    from medallion_data_lake_spark.serving_store import (
        export_search_store_incremental,
        export_vector_store,
    )

    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark), root, n_files=2)  # 6 docs
    url = derby_url.format("fullfwd")
    export_search_store(spark, root, url)
    export_vector_store(spark, url, embeddings=_emb(spark, n=8), k_max=5)

    # 2 appended docs on 6 -> drift > default eps -> _full("full_refresh")
    append_bm25_index(spark, _docs(spark, [
        (7, "stream join table"), (8, "hash probe scan")]), root)
    with pytest.raises(ValueError, match="kNN-graph"):
        export_search_store_incremental(spark, root, url)
    rep = export_search_store_incremental(spark, root, url,
                                          allow_stale_vectors=True)
    assert rep["mode"] == "full_refresh"
    with ServingStore(spark, url) as store:
        lake = _lake_rows(bm25_search(
            spark, root, ["stream", "join"], k=10, pins=rep["pins"]))
        _assert_store_equals_lake(store.bm25(["stream", "join"], k=10),
                                  lake)


def test_store_bm25_pruned_equals_full(spark, tmp_path, derby_url):
    """The r16 pruned probe-and-cut path is EXACT: for every (terms, k)
    the public bm25() answer equals the exhaustive full-scan form
    bit-for-bit (both evaluate the same Derby decimal arithmetic; the
    pruned path only restricts WHICH docs are re-scored, and its
    post-hoc m*c < s_k check proves the restriction lossless). Skewed
    vocabulary: rare selective terms (pruning wins), one stopword on
    every doc (cut overflow -> provable-exact fallback)."""
    rows = []
    for i in range(1, 81):
        words = ["common"] * (1 + i % 3)       # on every doc, df=80
        if i % 11 == 0:
            words += ["rare"] * 3              # df=7, high impact
        if i % 5 == 0:
            words += ["medium"] * (1 + i % 2)  # df=16
        if i % 7 == 0:
            words += ["seven"]                 # df=11
        words += [f"filler{i}", f"pad{i % 13}"] * (1 + i % 4)
        rows.append((i, " ".join(words)))
    root = str(tmp_path / "idx")
    create_bm25_index(spark, _docs(spark, rows), root, n_files=2)
    url = derby_url.format("pruned")
    export_search_store(spark, root, url)

    with ServingStore(spark, url) as store:
        # the fixture is far below the production df dispatch threshold
        # (pruning exists for terms with LONG posting lists); drop it so
        # the pruned machinery actually runs here
        store.PRUNE_MIN_DF = 0
        cases = [
            (["rare"], 3), (["rare", "medium"], 5),
            (["medium", "seven"], 10), (["rare", "common"], 5),
            (["common"], 10),
            (["rare", "medium", "seven", "common"], 8),
            (["medium"], 16),            # k == full df: < k-proof edge
            (["nosuchterm", "rare"], 3), (["nosuchterm"], 5),
        ]
        for terms, k in cases:
            got = store.bm25(terms, k=k)
            full = store._bm25_full(sorted(set(terms)), k)
            assert got["columns"] == full["columns"], terms
            assert got["rows"] == full["rows"], (terms, k)
        assert store.bm25_stats["pruned"] > 0, store.bm25_stats
        assert store.bm25_stats["full"] > 0, store.bm25_stats
        # force the candidate-cap overflow fallback and re-check
        store.PRUNE_CAND_CAP = 4
        for terms, k in cases:
            got = store.bm25(terms, k=k)
            full = store._bm25_full(sorted(set(terms)), k)
            assert got["rows"] == full["rows"], ("cap4", terms, k)
        # with cap 4 every cut overflows -> all answered by the full scan
        assert store.last_bm25_mode == "full"


def _store_with_postings(spark, name: str, n_docs: int = 8) -> ServingStore:
    """An in-memory Derby store holding a hand-written ``mdls_postings``
    (one term on ``n_docs`` docs) — enough for the full-scan /search
    path, with no Spark export."""
    store = ServingStore(spark, f"jdbc:derby:memory:{name};create=true")
    store.execute('CREATE TABLE mdls_postings ("term" VARCHAR(64), '
                  '"doc_id" BIGINT, "impact" DOUBLE)')
    for d in range(1, n_docs + 1):
        store.execute(f"INSERT INTO mdls_postings VALUES ('fox', {d}, {d / 8})")
    return store


def _counting_commands(spark, monkeypatch) -> list:
    """Count the py4j commands this thread sends from now on."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    me, sent, orig = threading.current_thread(), [], client.send_command

    def counting(*a, **kw):
        if threading.current_thread() is me:
            sent.append(a[0])
        return orig(*a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    return sent


def test_store_query_types(spark):
    """The Python value and type of every SQL column type a store
    result can carry, and of NULL in each: integers stay ints, DOUBLE
    and REAL floats, DECIMAL a float, BOOLEAN a bool, dates and
    timestamps their SQL text; labels come back lower-cased."""
    with ServingStore(spark, "jdbc:derby:memory:types;create=true") as s:
        s.execute(
            'CREATE TABLE tm ("id" INT, "b" BIGINT, "i" INTEGER, '
            '"s" SMALLINT, "d" DOUBLE, "r" REAL, "dec" DECIMAL(10,2), '
            '"v" VARCHAR(20), "bo" BOOLEAN, "dt" DATE, "ts" TIMESTAMP)')
        s.execute(
            "INSERT INTO tm VALUES (1, 9000000000, -7, 12, 0.1, 0.1, "
            "12.50, 'héllo', TRUE, '2024-01-02', '2024-01-02 03:04:05.123')")
        s.execute("INSERT INTO tm VALUES (2, -1, 0, -3, -2.5e300, 1.5, "
                  "-7.00, '', FALSE, '1999-12-31', '1999-12-31 23:59:59')")
        s.execute("INSERT INTO tm VALUES (3, NULL, NULL, NULL, NULL, NULL, "
                  "NULL, NULL, NULL, NULL, NULL)")
        out = s.query('SELECT "b" AS "Big", "i", "s", "d", "r", "dec", '
                      '"v", "bo", "dt", "ts" FROM tm ORDER BY "id"')
    assert out["columns"] == ["big", "i", "s", "d", "r", "dec", "v", "bo",
                              "dt", "ts"]
    assert out["row_count"] == 3
    want = [
        [9000000000, -7, 12, 0.1, 0.1, 12.5, "héllo", True, "2024-01-02",
         "2024-01-02 03:04:05.123"],
        [-1, 0, -3, -2.5e300, 1.5, -7.0, "", False, "1999-12-31",
         "1999-12-31 23:59:59.0"],
        [None] * 10,
    ]
    assert out["rows"] == want
    types = [int, int, int, float, float, float, str, bool, str, str]
    for row in out["rows"][:2]:
        assert [type(v) for v in row] == types, row


def test_store_query_is_one_round_trip_whatever_the_rows(spark, monkeypatch):
    """A store result crosses the py4j bridge whole: a bm25 request
    sends as many commands for 6 result rows as for 2."""
    with _store_with_postings(spark, "calls") as store:
        for k in (2, 6):  # prepare and cache both statements
            assert store.bm25(["fox"], k=k)["row_count"] == k
        counts = {}
        for k in (2, 6):
            sent = _counting_commands(spark, monkeypatch)
            store.bm25(["fox"], k=k)
            counts[k] = len(sent)
            monkeypatch.undo()
    assert counts[2] == counts[6], counts


def _bound_per_call(store, sql: str, params: list) -> list:
    """The rows of ``sql`` with each parameter bound by its own py4j
    call (setBoolean/setLong/setDouble/setString, anything else as its
    str) and each cell read with getObject — the reference that
    :meth:`ServingStore.query`'s one-call binding must match."""
    ps = store._conn.prepareStatement(sql)
    try:
        for i, p in enumerate(params, start=1):
            if isinstance(p, bool):
                ps.setBoolean(i, p)
            elif isinstance(p, int):
                ps.setLong(i, p)
            elif isinstance(p, float):
                ps.setDouble(i, p)
            else:
                ps.setString(i, str(p))
        rs = ps.executeQuery()
        n = rs.getMetaData().getColumnCount()
        rows = []
        while rs.next():
            rows.append([rs.getObject(c) for c in range(1, n + 1)])
        rs.close()
        return rows
    finally:
        ps.close()


def _params_store(spark, name: str) -> ServingStore:
    store = ServingStore(spark, f"jdbc:derby:memory:{name};create=true")
    store.execute('CREATE TABLE tp ("id" INT, "bo" BOOLEAN, "b" BIGINT, '
                  '"d" DOUBLE, "v" VARCHAR(40))')
    store.execute("INSERT INTO tp VALUES "
                  "(1, TRUE, -5000000000, 0.25, 'fox'), "
                  "(2, FALSE, 3000000000, -1.5, '2024-01-02'), "
                  "(3, TRUE, 7, 1e300, 'héllo'), "
                  "(4, FALSE, -9223372036854775808, 2.0, 'None')")
    return store


def test_store_query_binds_every_parameter_type(spark):
    """Parameters bound inside the JVM helper select the same rows as
    binding each one by its own py4j call: bools, a negative long, a
    long above 2^31, a double, a string, and a non-primitive value
    (a date, None), which binds as its str."""
    import datetime

    cases = [
        ('SELECT "id" FROM tp WHERE "bo" = ? ORDER BY "id"', [True]),
        ('SELECT "id" FROM tp WHERE "bo" = ? ORDER BY "id"', [False]),
        ('SELECT "id" FROM tp WHERE "b" = ?', [-5000000000]),
        ('SELECT "id" FROM tp WHERE "b" > ? ORDER BY "id"', [2**31]),
        ('SELECT "id" FROM tp WHERE "d" = ?', [0.25]),
        ('SELECT "id" FROM tp WHERE "v" = ?', ["héllo"]),
        ('SELECT "id" FROM tp WHERE "v" = ?', [datetime.date(2024, 1, 2)]),
        ('SELECT "id" FROM tp WHERE "v" = ?', [None]),
        ('SELECT "id", "v" FROM tp WHERE "bo" = ? AND "b" < ? '
         'AND "d" > ? AND "v" <> ? ORDER BY "id"', [True, 10, -1.0, "fox"]),
    ]
    with _params_store(spark, "params") as store:
        for sql, params in cases:
            got = store.query(sql, params)["rows"]
            assert got, (sql, params)
            assert got == _bound_per_call(store, sql, params), (sql, params)


def test_store_query_refuses_an_int_past_64_bits(spark):
    """A Python int outside the signed 64-bit range raises instead of
    binding a truncated value: 2^63 wraps to the row holding -2^63 and
    2^64 + 7 to the row holding 7, and neither is returned; the store
    keeps serving."""
    sql = 'SELECT "id" FROM tp WHERE "b" = ?'
    with _params_store(spark, "overflow") as store:
        for big in (2**63, 2**64 + 7, -2**63 - 1):
            # the JVM's ArithmeticException, as pyspark re-raises it
            with pytest.raises(Exception, match="BigInteger out of long"):
                store.query(sql, [big])
        assert store.query(sql, [-2**63])["rows"] == [[4]]
        assert store.query(sql, [7])["rows"] == [[3]]


def _routes_store(spark, name: str) -> ServingStore:
    """An in-memory store, written by hand, that answers all four
    routes, with /search on the df-dispatch path: the impact-ordered
    index is present, and the terms' df is below ``PRUNE_MIN_DF``."""
    store = _store_with_postings(spark, name)
    for d in range(1, 9):
        for t in ("quick", "brown"):
            store.execute(
                f"INSERT INTO mdls_postings VALUES ('{t}', {d}, {d / 16})")
    store.execute('CREATE INDEX idx_postings_impact ON '
                  'mdls_postings("term", "impact" DESC, "doc_id")')
    store.execute('CREATE TABLE mdls_termstats ("term" VARCHAR(64), '
                  '"df" BIGINT)')
    store.execute("INSERT INTO mdls_termstats VALUES "
                  "('fox', 8), ('quick', 8), ('brown', 8)")
    store.execute('CREATE TABLE mdls_bigram_pos ("bigram" VARCHAR(129), '
                  '"doc_id" BIGINT, "pos" INT)')
    for d in range(1, 5):
        store.execute("INSERT INTO mdls_bigram_pos VALUES "
                      f"('the quick', {d}, 1), ('quick brown', {d}, 2), "
                      f"('brown fox', {d}, 3)")
    store.execute('CREATE TABLE mdls_neighbors ("vec_id" BIGINT, '
                  '"cand_id" BIGINT, "rank" INT)')
    for r in range(1, 6):
        store.execute(f"INSERT INTO mdls_neighbors VALUES (1, {r + 1}, {r})")
    store.execute('CREATE TABLE mdls_vec_manifest ("meta" VARCHAR(1024))')
    store.execute("INSERT INTO mdls_vec_manifest VALUES "
                  '(\'{"mode": "bruteforce", "k_max": 20}\')')
    return store


def test_store_routes_send_one_py4j_command_per_statement(spark,
                                                          monkeypatch):
    """Each store statement is one py4j command whatever its parameter
    count: /search sends 2 (the df dispatch and the full scan) for 1
    and for 3 terms, /phrase 1 for a 3-token phrase, /similar 1 and
    /hybrid 3."""
    calls = {
        "bm25-1": lambda s: s.bm25(["fox"], k=5),
        "bm25-3": lambda s: s.bm25(["fox", "quick", "brown"], k=5),
        "phrase": lambda s: s.phrase(["quick", "brown", "fox"]),
        "similar": lambda s: s.similar(1, k=5),
        "hybrid": lambda s: s.hybrid(["fox", "quick"], 1, k=5),
    }
    with _routes_store(spark, "budget") as store:
        for call in calls.values():  # prepare and cache the statements
            assert call(store)["row_count"] > 0
        assert store.last_bm25_mode == "full"
        counts = {}
        for name, call in calls.items():
            sent = _counting_commands(spark, monkeypatch)
            call(store)
            counts[name] = len(sent)
            monkeypatch.undo()
    assert counts == {"bm25-1": 2, "bm25-3": 2, "phrase": 1, "similar": 1,
                      "hybrid": 3}, counts


def test_http_store_routes_share_one_py4j_connection(spark, monkeypatch,
                                                     caplog):
    """Store requests run on the server's one store thread: 20 HTTP
    requests from 4 concurrent clients, each on a fresh handler thread,
    all answer right and open at most one new py4j connection. The
    access log goes to the module logger at DEBUG."""
    import json as _json
    import logging
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from py4j.clientserver import JavaClient

    from medallion_data_lake_spark.serving import ServingLayer
    from medallion_data_lake_spark.serving_http import serve_http_background

    caplog.set_level(logging.DEBUG,
                     logger="medallion_data_lake_spark.serving_http")
    store = _store_with_postings(spark, "oneconn")
    server, thread = serve_http_background(
        ServingLayer(spark, gold_root=None), port=0, serving_store=store)
    host, port = server.server_address
    opened = []
    orig = JavaClient._create_new_connection

    def counting(self):
        opened.append(1)
        return orig(self)

    def search(k):
        req = urllib.request.Request(
            f"http://{host}:{port}/search",
            data=_json.dumps({"terms": ["fox"], "k": k}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req, timeout=60) as resp:
            return _json.loads(resp.read())

    monkeypatch.setattr(JavaClient, "_create_new_connection", counting)
    ks = [1 + i % 4 for i in range(20)]
    try:
        with ThreadPoolExecutor(4) as clients:
            outs = list(clients.map(search, ks))
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=5)
        store.close()
    assert not thread.is_alive()
    for k, out in zip(ks, outs):
        assert out["engine"] == "store"
        # impact d/8 on doc d: the top k are docs 8, 7, ...
        assert [r[0] for r in out["rows"]] == list(range(8, 8 - k, -1))
    assert len(opened) <= 1, len(opened)
    assert any("POST /search" in r.getMessage() for r in caplog.records)


def test_exports_and_dv_read_never_parallelize(spark, tmp_path, derby_url,
                                               monkeypatch):
    """The serving exports, an ANN tombstone delete and a read through a
    deletion vector hand Spark no driver-side Python rows: with
    ``SparkContext.parallelize`` raising (every ``createDataFrame(<list>)``
    goes through it), each one still runs to completion — their
    driver-held frames are JVM-local (``session.local_frame``) and start
    no Python worker."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        delete_from_index,
    )
    from medallion_data_lake_spark.operators.versioned import (
        commit,
        delete_rows_dv,
        read_table,
    )
    from medallion_data_lake_spark.serving_store import export_vector_store

    root = str(tmp_path / "idx")
    docs = _docs(spark, PHRASE_DOCS)
    create_bm25_index(spark, docs, root, n_files=2, bigrams=True)
    idx = str(tmp_path / "ivf")
    build_ivf_index(_emb(spark, n=20), idx)
    table = str(tmp_path / "dv")
    commit(spark.range(50).withColumn("tag", F.col("id").cast("string")),
           table)

    def boom(self, *a, **k):
        raise AssertionError("driver-held rows planned a Python RDD")

    monkeypatch.setattr(SparkContext, "parallelize", boom)
    url = derby_url.format("noworker")
    pins = export_search_store(spark, root, url, docs=docs)
    delete_from_index(spark, idx, [3, 4])
    meta = export_vector_store(spark, url, vec_index=idx, k_max=5,
                               n_probes=2)
    delete_rows_dv(spark, table, keys={"id": [7, 21]})
    ids = {r["id"] for r in read_table(spark, table).collect()}

    assert pins and meta["mode"] == "ivf"
    assert ids == set(range(50)) - {7, 21}
    with ServingStore(spark, url) as store:
        assert store.similar(3, k=5)["rows"] == []  # tombstoned: no list
        assert any(store.similar(q, k=5)["rows"] for q in range(5, 21))
        assert {tuple(r) for r in store.phrase(["a", "b", "a"])["rows"]} \
            == {(7, 2)}

"""Product-quantization ANN (operators/ann.py pq_*).

Pins: code validity/compression, map-only encode plan, ADC recall vs
brute-force cosine on clustered data, and determinism of the seeded
codebook.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.functions import dot, l2_norm
from medallion_data_lake_spark.operators.ann import (
    pq_encode,
    pq_train,
)

DIM = 64
M, K = 8, 16


def _clustered(spark, n_clusters=6, per=40, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, DIM)) * 3
    rows = []
    i = 0
    for c in centers:
        for _ in range(per):
            rows.append((i, [float(x) for x in c + rng.standard_normal(DIM) * 0.3]))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_codes_valid_and_compact(spark):
    df = _clustered(spark)
    cb = pq_train(df, m=M, k=K, dim=DIM)
    assert len(cb) == M and len(cb[0]) == K and len(cb[0][0]) == DIM // M
    enc = pq_encode(df, cb)
    stats = enc.select(
        F.min(F.array_min("pq_code")).alias("lo"),
        F.max(F.array_max("pq_code")).alias("hi"),
        F.min(F.size("pq_code")).alias("len"),
    ).collect()[0]
    assert stats.lo >= 0 and stats.hi < K and stats.len == M
    # encode is map-only: no shuffle, no python
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pq_encode_deterministic(spark):
    df = _clustered(spark)
    cb1 = pq_train(df, m=M, k=K, dim=DIM)
    cb2 = pq_train(df, m=M, k=K, dim=DIM)
    assert cb1 == cb2  # seeded KMeans, same input
    a = {r.vec_id: r.pq_code for r in pq_encode(df, cb1).collect()}
    b = {r.vec_id: r.pq_code for r in pq_encode(df, cb2).collect()}
    assert a == b


def _bruteforce_top5(df, queries):
    from pyspark.sql import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    c = df.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    cs = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return {
        (r.query_id, r.cand_id)
        for r in c.join(q, F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cs.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .collect()
    }


def _kmeans_pq_index(df, path):
    """A learned-codebook index with the PQ tier whose k=6 cells can all
    be probed (n_probes=6): the ADC stage then scores EVERY candidate,
    which is the unpruned ADC top-k the codebook alone determines."""
    from medallion_data_lake_spark.operators.ann import build_kmeans_ivf_index

    build_kmeans_ivf_index(df, path, k=6, pq_m=M, pq_k=K)
    return path


def test_pq_adc_shortlist_finds_query_cluster(spark, tmp_path):
    # ADC's resolution is the codebook cell: same-cluster vectors share
    # codes, so ADC cannot rank WITHIN a cluster — what it guarantees is
    # that the shortlist comes from the right region. Assert that. A
    # shortlist of k makes the exact re-rank only reorder the ADC top-k.
    from medallion_data_lake_spark.operators.ann import search_index

    per = 40
    df = _clustered(spark, per=per).cache()
    path = _kmeans_pq_index(df, str(tmp_path / "kmpq"))
    rows = search_index(
        spark, path, df.limit(10), n_probes=6, k=5, use_pq=True, shortlist=5
    ).collect()
    same_cluster = sum(1 for r in rows if r.cand_id // per == r.query_id // per)
    assert same_cluster / len(rows) >= 0.9, (same_cluster, len(rows))


def test_pq_rerank_recall_vs_bruteforce(spark, tmp_path):
    # the production layout: ADC shortlist (codes only) -> exact cosine
    # re-rank of shortlist rows. Recall vs brute force should be high.
    from medallion_data_lake_spark.operators.ann import search_index

    df = _clustered(spark).cache()
    path = _kmeans_pq_index(df, str(tmp_path / "kmpq"))
    queries = df.limit(10)
    got = {
        (r.query_id, r.cand_id)
        for r in search_index(
            spark, path, queries, n_probes=6, k=5, use_pq=True, shortlist=60
        ).collect()
    }
    truth = _bruteforce_top5(df, queries)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_ivf_pq_bucket_pruned_search(spark, tmp_path):
    # the composed layout: coarse sign buckets prune candidates, ADC
    # shortlists within probed cells, exact re-rank finishes. With
    # enough probes recall stays high while the candidate joins are
    # hash joins, not all-pairs.
    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        search_index,
    )

    df = _clustered(spark).cache()
    path = str(tmp_path / "pqidx")
    build_ivf_index(df, path, n_bits=8, pq_m=M, pq_k=K)
    queries = df.limit(10)
    got = {
        (r.query_id, r.cand_id)
        for r in search_index(
            spark, path, queries, n_probes=8, k=5, use_pq=True, shortlist=60
        ).collect()
    }
    truth = _bruteforce_top5(df, queries)
    recall = len(got & truth) / len(truth)
    # multi-probe coarse stage costs some recall vs scan-everything;
    # same regime as the full-vector sign probe (0.74 @ 8 probes)
    assert recall >= 0.6, recall
    # the re-rank joins by key (the bucket-keyed ADC join ran inside
    # the checkpointed shortlist), never a nested loop
    plan = search_index(
        spark, path, queries, n_probes=8, use_pq=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_adc_scores_candidates_from_codes_only(spark, tmp_path):
    # with a shortlist of k, the returned ids are the ADC top-k, and a
    # numpy ADC over the STORED codes and the meta codebook alone (no
    # vectors on the candidate side) reproduces them
    import json

    from medallion_data_lake_spark.operators.ann import search_index

    df = _clustered(spark)
    path = _kmeans_pq_index(df, str(tmp_path / "kmpq"))
    queries = df.filter(F.col("vec_id") < 3)
    out = search_index(
        spark, path, queries, n_probes=6, k=4, use_pq=True, shortlist=4
    )
    rows = out.collect()
    assert len(rows) == 12  # 3 queries × top-4
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    cent = json.load(open(f"{path}/_ivf_meta.json"))["pq"]["centroids"]
    sub = len(cent[0][0])
    codes = {
        r.vec_id: r.pq_code
        for r in spark.read.parquet(path).select("vec_id", "pq_code").collect()
    }
    for q in queries.collect():
        # left-to-right sums, the same order as the Spark expression
        tbl = []
        for j, cj in enumerate(cent):
            qs = q.embedding[j * sub:(j + 1) * sub]
            row = []
            for c in cj:
                acc = 0.0
                for a, b in zip(qs, c):
                    acc += a * b
                row.append(acc)
            tbl.append(row)

        def adc(code):
            acc = 0.0
            for j, c in enumerate(code):
                acc += tbl[j][c]
            return acc

        want = sorted(
            (-adc(code), cid) for cid, code in codes.items() if cid != q.vec_id
        )[:4]
        got = {r.cand_id for r in rows if r.query_id == q.vec_id}
        assert got == {cid for _, cid in want}


# ---------------------------------------------------------------------------
# Persisted PQ tier (r6 verdict item 8): codes + codebook live WITH the
# bucketed layout; search reads codes, append re-encodes with the stored
# codebook — no per-call retrain.
# ---------------------------------------------------------------------------


def test_persisted_pq_search_matches_inflight(spark, tmp_path):
    """build_ivf_index(pq_m=...) must persist the SAME codebook and
    codes as the in-flight pq_train → pq_encode path (the codebook is
    seeded), row for row, and the persisted tier must answer."""
    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        search_index,
    )

    df = _clustered(spark)
    path = str(tmp_path / "pqidx")
    meta = build_ivf_index(df, path, pq_m=M, pq_k=K)
    assert meta["pq"]["m"] == M and len(meta["pq"]["centroids"]) == M

    cb = pq_train(df, m=M, k=K, dim=DIM)          # same seed default (42)
    assert meta["pq"]["centroids"] == cb
    inflight = {r.vec_id: r.pq_code for r in pq_encode(df, cb).collect()}
    stored = {
        r.vec_id: r.pq_code
        for r in spark.read.parquet(path).select("vec_id", "pq_code").collect()
    }
    assert stored == inflight and len(stored) == df.count()

    queries = df.filter(F.col("vec_id").isin(0, 45, 123))
    assert search_index(spark, path, queries, k=5, use_pq=True).count() > 0


def test_append_reencodes_with_stored_codebook(spark, tmp_path):
    """Appends must encode NEW vectors with the codebook persisted at
    build — meta unchanged, appended codes valid, appended neighbors
    findable through the persisted search."""
    import json

    from medallion_data_lake_spark.operators.ann import (
        append_to_ivf_index,
        build_ivf_index,
        search_index,
    )

    df = _clustered(spark)
    base = df.filter(F.col("vec_id") < 200)
    extra = df.filter(F.col("vec_id") >= 200)
    path = str(tmp_path / "pqidx")
    meta0 = build_ivf_index(base, path, pq_m=M, pq_k=K)
    append_to_ivf_index(extra, path)
    meta1 = json.load(open(f"{path}/_ivf_meta.json"))
    assert meta1["pq"]["centroids"] == meta0["pq"]["centroids"]

    stored = spark.read.parquet(path)
    assert stored.count() == df.count()
    bad = stored.filter(
        (F.size("pq_code") != M)
        | F.exists("pq_code", lambda c: (c < 0) | (c >= K))
    ).count()
    assert bad == 0

    # an appended vector's cluster-mates (also appended) are findable
    q = df.filter(F.col("vec_id") == 210)
    got = search_index(spark, path, q, k=5, use_pq=True).collect()
    assert len(got) == 5
    same_cluster = {r["cand_id"] for r in got if 200 <= r["cand_id"] < 240}
    assert len(same_cluster) >= 3  # cluster 5 spans ids 200..239


def test_persisted_pq_search_prunes_partitions(spark, tmp_path):
    """The probe's bucket isin must reach the scan as a partition
    filter — the layout payoff (same assertion as the code-less
    index)."""
    import re

    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        search_index,
    )

    df = _clustered(spark)
    path = str(tmp_path / "pqidx")
    build_ivf_index(df, path, pq_m=M, pq_k=K)
    out = search_index(
        spark, path, df.filter(F.col("vec_id") == 7), k=3, use_pq=True
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the isin must land as a PARTITION filter (not post-scan): a
    # non-empty PartitionFilters clause naming bucket
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "bucket" in m.group(1), plan[:2000]


def test_search_index_dispatches_to_pq(spark, tmp_path):
    """search_index(use_pq=True) routes through the persisted PQ tier
    (its re-rank stage reports the cells it read); without the flag it
    stays on the full-vector probe; a code-less index refuses the flag
    loudly."""
    import pytest as _pytest

    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        search_index,
    )

    df = _clustered(spark)
    q = df.filter(F.col("vec_id") == 3)
    path = str(tmp_path / "pqidx")
    build_ivf_index(df, path, pq_m=M, pq_k=K)
    pq_report, full_report = {}, {}
    via_pq = search_index(
        spark, path, q, k=5, use_pq=True, report=pq_report).collect()
    assert len(via_pq) == 5
    assert set(pq_report["rerank_buckets"]) <= set(pq_report["probe_buckets"])
    assert search_index(
        spark, path, q, k=5, report=full_report).count() == 5
    assert "rerank_buckets" not in full_report

    plain = str(tmp_path / "plainidx")
    build_ivf_index(df, plain)
    assert search_index(spark, plain, q, k=5).count() == 5  # flagless ok
    with _pytest.raises(ValueError):
        search_index(spark, plain, q, k=5, use_pq=True)


# ---------------------------------------------------------------------------
# Kmeans-layout PQ tier (r12: the recall-recovery path) — wide-probe ADC
# pre-rank from stored codes + exact re-rank of a bounded shortlist.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("layout", ["kmeans", "sign"])
def test_kmeans_pq_recovery_matches_exact_under_exhaustive_probes(
    spark, tmp_path, layout
):
    """With a corpus-sized shortlist, the PQ recovery path must return
    EXACTLY the full-vector search's top-k at the same probes — same
    ids, ranks and cos_sim: the ADC pre-rank can then only reorder
    candidates that the exact re-rank re-sorts, so any divergence is a
    bug in one path. Kmeans probes every cell; sign probes 4."""
    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        build_kmeans_ivf_index,
        search_index,
    )

    df = _clustered(spark)
    path = str(tmp_path / "pqidx")
    if layout == "kmeans":
        meta = build_kmeans_ivf_index(df, path, k=6, pq_m=M, pq_k=K)
        assert meta["kind"] == "kmeans"
        n_probes = 6
    else:
        meta = build_ivf_index(df, path, pq_m=M, pq_k=K)
        n_probes = 4
    assert meta["pq"]["m"] == M

    queries = df.filter(F.col("vec_id").isin(0, 77, 200))
    exact = {
        (r["query_id"], r["cand_id"], r["rank"], r["cos_sim"])
        for r in search_index(
            spark, path, queries, n_probes=n_probes, k=5
        ).collect()
    }
    recovered = {
        (r["query_id"], r["cand_id"], r["rank"], r["cos_sim"])
        for r in search_index(
            spark, path, queries, n_probes=n_probes, k=5,
            use_pq=True, shortlist=240,
        ).collect()
    }
    assert exact == recovered and len(exact) == 15


def test_kmeans_pq_recovery_recall_on_clustered(spark, tmp_path):
    """The verdict's target, pinned at fixture scale: on clustered
    vectors the recovery path reaches recall@5 >= 0.9 at <= 8 probes
    (here 4 of 6 cells) with a bounded 50-row shortlist."""
    from medallion_data_lake_spark.operators.ann import (
        build_kmeans_ivf_index,
        measure_index_recall,
        search_index,
    )
    from pyspark.sql import Window

    df = _clustered(spark)
    path = str(tmp_path / "kmpq2")
    build_kmeans_ivf_index(df, path, k=6, pq_m=M, pq_k=K)
    queries = df.filter(F.col("vec_id") % 40 == 0)  # one per cluster

    approx = search_index(
        spark, path, queries, n_probes=4, k=5, use_pq=True, shortlist=50
    ).select("query_id", "cand_id")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    cs = dot(F.col("qv"), F.col("embedding")) / (F.col("qn") * l2_norm(F.col("embedding")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    exact = (
        df.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cs.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id")
    )
    matched = exact.join(approx, ["query_id", "cand_id"], "left_semi").count()
    total = exact.count()
    assert total == 30 and matched / total >= 0.9


def test_kmeans_pq_refuses_codeless_layout(spark, tmp_path):
    import pytest

    from medallion_data_lake_spark.operators.ann import (
        build_kmeans_ivf_index,
        search_index,
    )

    df = _clustered(spark)
    path = str(tmp_path / "km_nopq")
    build_kmeans_ivf_index(df, path, k=6)
    with pytest.raises(ValueError, match="PQ tier"):
        search_index(spark, path, df.limit(1), use_pq=True).collect()


def test_kmeans_pq_recovery_prunes_partitions(spark, tmp_path):
    import re

    from medallion_data_lake_spark.operators.ann import (
        build_kmeans_ivf_index,
        search_index,
    )

    df = _clustered(spark)
    path = str(tmp_path / "kmpq3")
    build_kmeans_ivf_index(df, path, k=6, pq_m=M, pq_k=K)
    out = search_index(
        spark, path, df.filter(F.col("vec_id") == 7), n_probes=2, k=3,
        use_pq=True,
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "bucket" in m.group(1), plan[:2000]

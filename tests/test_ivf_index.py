"""Persisted IVF index: same answers as an independent numpy multi-probe
reference, and the probe REALLY prunes partitions (plan + file-level
evidence)."""

from __future__ import annotations

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.catalog import load_star_table
from medallion_data_lake_spark.operators.ann import (
    MIN_BITS,
    build_ivf_index,
    search_index,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_star_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    meta = build_ivf_index(emb, path, n_bits=MIN_BITS)
    return path, meta


def test_layout_is_bucket_partitioned(index):
    path, meta = index
    dirs = glob.glob(f"{path}/bucket=*")
    assert len(dirs) > 1  # real inverted lists on disk
    assert meta["n_bits"] == MIN_BITS


def _numpy_multiprobe_topk(ids, vecs, qids, qvecs, n_bits, n_probes, k):
    """Reference multi-probe search, written independently of Spark: a
    query probes its base sign code plus the codes with its
    ``n_probes - 1`` least-|v| coded bits flipped (ties by dim), and
    ranks the stored rows in those buckets by (-cosine, id)."""
    weights = 1 << np.arange(n_bits)
    buckets = ((vecs[:, :n_bits] >= 0) * weights).sum(axis=1)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = {}
    for qid, qv in zip(qids, qvecs):
        base = int(((qv[:n_bits] >= 0) * weights).sum())
        order = sorted(range(n_bits), key=lambda i: (abs(qv[i]), i))
        probes = {base} | {base ^ (1 << i) for i in order[:n_probes - 1]}
        sims = unit @ (qv / np.linalg.norm(qv))
        cands = [
            (-sims[j], int(ids[j])) for j in range(len(ids))
            if buckets[j] in probes and ids[j] != qid
        ]
        for rank, (_, cid) in enumerate(sorted(cands)[:k], start=1):
            out[(int(qid), rank)] = cid
    return out


def test_persisted_search_matches_inflight(spark, emb, index):
    path, _ = index
    queries = emb.limit(5)
    got = search_index(spark, path, queries, n_probes=4, k=5)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qrows = queries.select("vec_id", "embedding").collect()
    want = _numpy_multiprobe_topk(
        ids, vecs, [r["vec_id"] for r in qrows],
        np.array([r["embedding"] for r in qrows], dtype=np.float64),
        n_bits=MIN_BITS, n_probes=4, k=5,
    )
    g = {(r["query_id"], r["rank"]): r["cand_id"] for r in got.collect()}
    assert g == want and g


def test_probe_prunes_partitions(spark, emb, index):
    path, _ = index
    queries = emb.limit(2)
    out = search_index(spark, path, queries, n_probes=2, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the scan must carry the bucket partition filter, and prune to a
    # strict subset of the index's bucket directories
    assert "PartitionFilters" in plan and "bucket" in plan
    n_dirs = len(glob.glob(f"{path}/bucket=*"))
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # Spark prints the pruned count in the scan node
        assert int(m.group(1)) < n_dirs
    out.count()  # and it executes


def test_incremental_append_equals_full_rebuild(spark, emb, tmp_path):
    """append_to_ivf_index: building on half the corpus then appending
    the other half answers identically to one full build — the appended
    vectors enter the same buckets (layout params come from the index's
    own meta), and search sees them immediately."""
    from medallion_data_lake_spark.operators.ann import append_to_ivf_index

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 5)

    inc_path = str(tmp_path / "inc")
    build_ivf_index(half_a, inc_path, n_bits=MIN_BITS)
    append_to_ivf_index(half_b, inc_path)

    full_path = str(tmp_path / "full")
    build_ivf_index(emb, full_path, n_bits=MIN_BITS)

    def answers(path):
        return {
            (r["query_id"], r["rank"]): r["cand_id"]
            for r in search_index(
                spark, path, queries, n_probes=4, k=3
            ).collect()
        }

    assert answers(inc_path) == answers(full_path)
    # appended rows really are inside bucket partitions (not a flat dump)
    assert glob.glob(f"{inc_path}/bucket=*/*.parquet")


# ---------------------------------------------------------------------------
# Learned-codebook persisted index (build/search/append_kmeans)
# ---------------------------------------------------------------------------


def test_kmeans_index_recall_vs_bruteforce(spark, emb, tmp_path):
    """Persisted KMeans index: partition-pruned multi-probe search finds
    the brute-force top-1 for most queries (recall@1 sanity on the
    fixture) and never returns a vector outside the probed cells."""
    from medallion_data_lake_spark.functions import dot, l2_norm
    from medallion_data_lake_spark.operators.ann import (
        build_kmeans_ivf_index,
    )

    path = str(tmp_path / "kidx")
    meta = build_kmeans_ivf_index(emb, path, k=16)
    assert meta["kind"] == "kmeans" and len(meta["centroids"]) == 16

    queries = emb.filter(F.col("vec_id") < 10)
    got = search_index(spark, path, queries, n_probes=6, k=3)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == set(range(10))
    assert all(1 <= r["rank"] <= 3 for r in rows)

    # exact top-1 by brute force on the (tiny) fixture
    q = queries.select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("cv"))
    cos = dot(F.col("qv"), F.col("cv")) / (
        l2_norm(F.col("qv")) * l2_norm(F.col("cv")))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("_cos"), F.asc("cid"))
    exact = {
        r["qid"]: r["cid"]
        for r in q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("_cos", cos)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .collect()
    }
    approx1 = {
        r["query_id"]: r["cand_id"] for r in rows if r["rank"] == 1
    }
    hits = sum(approx1.get(q) == c for q, c in exact.items())
    assert hits >= 6  # multi-probe recall@1 on 10 queries


def test_kmeans_index_append_assigns_with_stored_centroids(spark, emb, tmp_path):
    from medallion_data_lake_spark.operators.ann import (
        append_to_ivf_index,
        build_kmeans_ivf_index,
    )

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "kidx")
    build_kmeans_ivf_index(half_a, path, k=8)
    append_to_ivf_index(half_b, path)
    # appended vectors are searchable and live inside bucket partitions
    queries = emb.filter(F.col("vec_id") < 4)
    got = search_index(spark, path, queries, n_probes=8, k=5)
    cand_ids = {r["cand_id"] for r in got.collect()}
    assert any(c % 2 == 1 for c in cand_ids)  # odd-half vectors found
    assert glob.glob(f"{path}/bucket=*/*.parquet")


def test_mine_hard_negatives_excludes_positives_and_ranks(spark, emb, tmp_path):
    """Hard negatives: most-similar non-positive corpus vectors, exactly
    k per query, labeled positives never leak in."""
    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        mine_hard_negatives,
    )

    path = str(tmp_path / "hn_idx")
    build_ivf_index(emb, path, n_bits=MIN_BITS)
    queries = emb.filter(F.col("vec_id") < 5)
    # label each query's current top-1 as its positive — the hardest
    # possible leak candidate
    top1 = search_index(spark, path, queries, n_probes=4, k=1)
    positives = top1.select(
        F.col("query_id"), F.col("cand_id").alias("pos_id"))
    pos_pairs = {(r["query_id"], r["pos_id"]) for r in positives.collect()}

    negs = mine_hard_negatives(
        spark, positives, path, queries, k=3, n_probes=8)
    rows = negs.collect()
    assert {r["query_id"] for r in rows} == set(range(5))
    for r in rows:
        assert (r["query_id"], r["neg_id"]) not in pos_pairs
        assert r["neg_id"] != r["query_id"]
    # up to k per query (probed cells bound the candidate pool — widen
    # n_probes for more), ranks dense, similarity non-increasing
    from collections import defaultdict

    by_q = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
    assert any(len(rs) == 3 for rs in by_q.values())


def test_mine_hard_negatives_dispatches_on_kmeans_index(spark, emb, tmp_path):
    """Round-5 advisor fix: mining over a LEARNED-CODEBOOK index must
    follow the persisted kind (pre-fix it called the sign search
    unconditionally and died on meta['n_bits'] KeyError)."""
    from medallion_data_lake_spark.operators.ann import (
        build_kmeans_ivf_index,
        mine_hard_negatives,
    )

    path = str(tmp_path / "hn_km_idx")
    build_kmeans_ivf_index(emb, path, k=8)
    queries = emb.filter(F.col("vec_id") < 3)
    top1 = search_index(spark, path, queries, n_probes=4, k=1)
    positives = top1.select(
        F.col("query_id"), F.col("cand_id").alias("pos_id"))
    pos_pairs = {(r["query_id"], r["pos_id"]) for r in positives.collect()}

    negs = mine_hard_negatives(
        spark, positives, path, queries, k=3, n_probes=8)
    rows = negs.collect()
    assert rows and {r["query_id"] for r in rows} <= {0, 1, 2}
    for r in rows:
        assert (r["query_id"], r["neg_id"]) not in pos_pairs


def test_index_health_flags_recall_drift(spark, tmp_path):
    """Round-5 lifecycle telemetry: builders persist a build-time
    recall@k baseline; check_index_health re-measures on a sample and
    recommends a rebuild after distribution drift.

    Build corpus: near-identical PAIRS with matching sign codes — true
    top-1 is the pair partner in the SAME bucket, so build recall is
    high. Drift plant: appended pairs straddle zero in THREE coded dims
    with tiny eps — partners land 3 sign bits apart, unreachable by
    single-bit-flip multi-probe, so recall measured on the appended
    region collapses and the health check flags it."""
    import random

    from medallion_data_lake_spark.operators.ann import (
        append_to_ivf_index,
        build_ivf_index,
        check_index_health,
    )

    rng = random.Random(11)

    def pairs(n, start_id, straddle):
        rows = []
        for i in range(n):
            base = [rng.uniform(-1, 1) for _ in range(64)]
            # keep coded dims safely away from zero unless straddling
            for d in range(MIN_BITS):
                if abs(base[d]) < 0.2:
                    base[d] = 0.2 if base[d] >= 0 else -0.2
            a = list(base)
            b = [x + rng.uniform(-0.01, 0.01) * abs(x) for x in base]
            if straddle:
                for d in range(3):
                    a[d], b[d] = 1e-6, -1e-6
            rows.append((start_id + 2 * i, a))
            rows.append((start_id + 2 * i + 1, b))
        return rows

    corpus = spark.createDataFrame(
        pairs(150, 0, straddle=False), "vec_id long, embedding array<double>")
    path = str(tmp_path / "health_idx")
    meta = build_ivf_index(corpus, path, n_bits=MIN_BITS, measure_recall=60)
    # pair structure: only rank-1 is a true neighbor, so recall@5
    # tops out near 1/5 + noise — the baseline is the comparison
    # point, not an absolute bar
    assert meta["recall_k"] == 5 and meta["recall_at_k"] > 0.15

    healthy = check_index_health(spark, path, sample_n=60, min_recall=0.1)
    assert healthy["build_recall"] == meta["recall_at_k"]
    assert not healthy["rebuild_recommended"], healthy["reason"]

    drifted = spark.createDataFrame(
        pairs(120, 10_000, straddle=True), "vec_id long, embedding array<double>")
    append_to_ivf_index(drifted, path)

    report = check_index_health(spark, path, sample=drifted, min_recall=0.1)
    assert report["recall"] < meta["recall_at_k"]
    assert report["drift"] is not None and report["drift"] > 0.1
    assert report["rebuild_recommended"]
    assert "recall" in report["reason"]


def test_cli_index_health_verb(spark, emb, tmp_path, capsys):
    """`cli index-health <path>`: JSON health report, exit 0 when
    healthy, exit 1 when a rebuild is recommended."""
    import json as _json

    from medallion_data_lake_spark import cli
    from medallion_data_lake_spark.operators.ann import build_ivf_index

    path = str(tmp_path / "cli_idx")
    build_ivf_index(emb, path, n_bits=MIN_BITS, measure_recall=40)
    rc = cli.main(["index-health", path, "--health-sample", "40"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "recall" in out and "rebuild_recommended" in out
    assert rc == (1 if out["rebuild_recommended"] else 0)

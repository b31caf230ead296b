"""Scale-measure INDEX MAINTENANCE, not just search (r10 verdict #6):
on the sf1.0 clone —

1. BM25: initial build, 10 incremental appends (5k docs each), the
   delta-tail growth (termstats/corpus file+row counts per append),
   `compact_bm25_stats` cost, and search latency before/after the fold;
2. BM25 streaming: `run_postings_append_stream` throughput over 10
   file-stream micro-batches (exactly-once txn per batch);
3. ANN: `build_ivf_index` over the 200k-vector clone embeddings,
   `delete_from_index` of 1%, and `compact_index_tombstones` cost with
   search latency before/after the fold.

Prints one JSON line per phase; paste the table into SCALE.md.

Usage: python scripts/measure_index_maintenance.py [clone_dir] [work_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from medallion_data_lake_spark.operators.inverted_index import (  # noqa: E402
    append_bm25_index,
    bm25_index_stats,
    bm25_search,
    compact_bm25_stats,
    create_bm25_index,
    run_postings_append_stream,
)
from medallion_data_lake_spark.operators.versioned import read_table  # noqa: E402
from medallion_data_lake_spark.session import get_spark  # noqa: E402

TERMS = ["dup", "vector", "scan"]
N_APPENDS = 10
BATCH = 5_000  # docs per append batch


def timed(fn, n=3):
    walls = []
    out = None
    for _ in range(n):
        t0 = time.time()
        out = fn()
        walls.append(time.time() - t0)
    return round(min(walls), 2), out


def main() -> None:
    clone = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mdls_scale/sf1.0"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/mdls_scale/maint"
    shutil.rmtree(work, ignore_errors=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="idx-maint", master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": cpus},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(clone, "documents.parquet")) \
        .select("doc_id", "text")

    # ---- 1. BM25 batch maintenance: build + 10 appends + stats fold
    root = os.path.join(work, "bm25")
    t0 = time.time()
    create_bm25_index(spark, docs, root, n_files=32)
    build_sec = round(time.time() - t0, 1)
    append_secs, tail = [], []
    for i in range(N_APPENDS):
        batch = docs.select(
            (F.col("doc_id") + F.lit((i + 1) * 100_000_000)).alias("doc_id"),
            "text",
        ).filter(F.col("doc_id") % 10 == i)  # ~5k new docs per batch
        t0 = time.time()
        append_bm25_index(spark, batch, root, n_files=4)
        append_secs.append(round(time.time() - t0, 2))
        st = bm25_index_stats(spark, root)
        tail.append({
            "append": i + 1,
            "delta_batches": st["delta_batches"],
            "termstats_delta_rows": st["termstats_delta_rows"],
            "fold_recommended": st["fold_recommended"],
        })
    search_pre, _ = timed(
        lambda: bm25_search(spark, root, TERMS, k=15).collect()
    )
    t0 = time.time()
    fold = compact_bm25_stats(spark, root)
    fold_sec = round(time.time() - t0, 1)
    search_post, _ = timed(
        lambda: bm25_search(spark, root, TERMS, k=15).collect()
    )
    print(json.dumps({
        "phase": "bm25_batch_maintenance",
        "corpus_docs": docs.count(), "batch_docs": BATCH,
        "build_sec": build_sec,
        "append_sec_each": append_secs,
        "append_sec_median": sorted(append_secs)[len(append_secs) // 2],
        "delta_tail": tail[-1], "tail_growth": tail[:3] + tail[-2:],
        "stats_fold_sec": fold_sec, "fold_result": fold,
        "search_sec_before_fold": search_pre,
        "search_sec_after_fold": search_post,
    }))

    # ---- 2. BM25 streaming maintenance throughput
    sroot = os.path.join(work, "bm25s")
    create_bm25_index(spark, docs.limit(1000), sroot, n_files=8)
    inp = os.path.join(work, "stream_in")
    os.makedirs(inp)
    n_stream_docs = 0
    for i in range(10):
        b = docs.select(
            (F.col("doc_id") + F.lit((i + 20) * 100_000_000)).alias("doc_id"),
            "text",
        ).filter(F.col("doc_id") % 50 == i)  # ~1k docs per micro-batch
        n_stream_docs += b.count()
        b.coalesce(1).write.json(os.path.join(inp, f"b{i:02d}"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(os.path.join(inp, "*"))
    )
    t0 = time.time()
    q = run_postings_append_stream(
        spark, stream, sroot, os.path.join(work, "ck"),
    )
    q.awaitTermination(900)
    stream_sec = round(time.time() - t0, 1)
    st = bm25_index_stats(spark, sroot)
    print(json.dumps({
        "phase": "bm25_streaming_maintenance",
        "micro_batches": 10, "stream_docs": n_stream_docs,
        "wall_sec": stream_sec,
        "docs_per_sec": round(n_stream_docs / stream_sec, 1),
        "delta_batches_after": st["delta_batches"],
    }))

    # ---- 3. ANN tombstone-fold cost
    from medallion_data_lake_spark.operators.ann import (
        build_ivf_index,
        compact_index_tombstones,
        delete_from_index,
        search_index,
    )

    emb = spark.read.parquet(os.path.join(clone, "embeddings.parquet"))
    n_vec = emb.count()
    ipath = os.path.join(work, "ivf")
    t0 = time.time()
    build_ivf_index(emb, ipath)
    ann_build_sec = round(time.time() - t0, 1)
    queries = emb.filter(F.col("vec_id") % 10_000 == 3)  # bounded batch
    ann_search = lambda: search_index(  # noqa: E731
        spark, ipath, queries, k=10
    ).collect()
    s_pre, _ = timed(ann_search)
    doomed = [int(r["vec_id"]) for r in
              emb.filter(F.col("vec_id") % 100 == 7).select("vec_id").collect()]
    t0 = time.time()
    delete_from_index(spark, ipath, doomed)
    del_sec = round(time.time() - t0, 2)
    s_masked, _ = timed(ann_search)
    t0 = time.time()
    out = compact_index_tombstones(spark, ipath)
    fold_sec = round(time.time() - t0, 1)
    s_post, _ = timed(ann_search)
    print(json.dumps({
        "phase": "ann_tombstone_fold",
        "n_vectors": n_vec, "deleted": len(doomed),
        "build_sec": ann_build_sec,
        "delete_sec": del_sec,
        "compact_sec": fold_sec, "compact_result": {
            k: out[k] for k in sorted(out) if isinstance(out[k], (int, str))
        },
        "search_sec_clean": s_pre,
        "search_sec_with_tombstones": s_masked,
        "search_sec_after_fold": s_post,
    }))


if __name__ == "__main__":
    main()

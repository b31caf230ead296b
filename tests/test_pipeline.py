"""Full-pipeline orchestration test: bronze fixtures → silver → gold →
catalog → reconciliation, through pipeline.run_pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from medallion_data_lake_spark.pipeline import reconcile, run_pipeline, run_silver


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_run_pipeline_end_to_end(spark, bronze_root, tmp_path_factory):
    before = _persisted_rdds(spark)
    silver_root = str(tmp_path_factory.mktemp("lake_silver"))
    gold_root = str(tmp_path_factory.mktemp("lake_gold"))
    result = run_pipeline(spark, bronze_root, silver_root, gold_root)

    stages = {(s["stage"], s["table"]): s for s in result["report"]["stages"]}
    assert stages[("silver", "customer")]["rows"] == 5
    assert stages[("silver", "payment")]["rows"] == 30
    assert stages[("gold", "customer_summary")]["rows"] == 5
    assert stages[("gold", "daily_revenue")]["rows"] > 0
    # all FOUR reference gold tables, including the inventory-dependent
    # film_performance (one row per film)
    assert stages[("gold", "film_performance")]["rows"] == 3
    # catalog has every layer registered with the layer-prefix convention
    assert "silver_payment" in result["tables"]["silver"]
    assert "gold_customer_summary" in result["tables"]["gold"]
    # queryable through SQL immediately
    n = spark.sql("SELECT COUNT(*) c FROM gold_customer_summary").collect()[0]["c"]
    assert n == 5
    # no corrupt rows in this fixture
    assert all(s["corrupt_rows"] == 0 for s in result["report"]["stages"] if s["stage"] == "silver")

    rec = {r["layer"]: r for r in reconcile(spark, bronze_root, silver_root, "payment", "amount").collect()}
    assert rec["bronze"]["record_count"] == rec["silver"]["record_count"] == 30
    assert rec["bronze"]["total_amount"] == rec["silver"]["total_amount"]
    # split_corrupt's bronze cache is released (the session is shared, so
    # only RDDs persisted by this run count)
    assert _persisted_rdds(spark) - before == set()


def test_run_silver_reads_a_grown_bronze_root(spark, bronze_root, tmp_path):
    """A second run_silver in the same session sees files added to the
    bronze root since the first: a bronze read left cached by the first
    run would answer the second with the old rows."""
    import json
    import shutil

    before = _persisted_rdds(spark)
    root = tmp_path / "bronze"
    shutil.copytree(f"{bronze_root}/payment", root / "payment")
    first = run_silver(spark, str(root), str(tmp_path / "s1"),
                       tables=("payment",))
    day2 = root / "payment" / "year=2024" / "month=1" / "day=2"
    day2.mkdir(parents=True)
    (day2 / "batch.json").write_text("\n".join(
        json.dumps({"table": "payment", "operation": "INSERT",
                    "timestamp": "2024-01-02T00:00:00",
                    "data": {"payment_id": str(i), "customer_id": "1",
                             "staff_id": "1", "rental_id": str(i),
                             "amount": "1.00",
                             "payment_date": "2024-01-02 10:00:00",
                             "last_update": "2024-01-02 00:00:00"}})
        for i in range(31, 51)
    ))
    second = run_silver(spark, str(root), str(tmp_path / "s2"),
                        tables=("payment",))
    assert [s.rows for s in first.stages] == [30]
    assert [s.rows for s in second.stages] == [50]
    rec = {r["layer"]: r["record_count"]
           for r in reconcile(spark, str(root), str(tmp_path / "s2"),
                              "payment").collect()}
    assert rec == {"bronze": 50, "silver": 50}
    assert _persisted_rdds(spark) - before == set()


def test_cli_sql_over_fixtures(capsys):
    """CLI surface: sql verb over the mounted star fixtures."""
    from medallion_data_lake_spark.cli import main

    rc = main(["sql", "SELECT COUNT(*) AS n FROM orders", "--sf", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "1500" in out


def test_cli_tables_lists_fixture_views(capsys):
    from medallion_data_lake_spark.cli import main

    rc = main(["tables", "--sf", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "orders" in out and "lineitem" in out


def test_cli_analyze_manifest_compact(capsys, spark, tmp_path):
    """The lake-management verbs: analyze (column stats), manifest
    (layout audit + compaction plan), compact (rewrite)."""
    import json as _json

    from medallion_data_lake_spark.catalog import load_star_table
    from medallion_data_lake_spark.cli import main

    rc = main(["analyze", "nation", "--sf", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0 and "n_nationkey" in out and "ndv" in out

    src = str(tmp_path / "frag")
    load_star_table(spark, "/root/testdata/sf0.001", "orders").repartition(
        16
    ).write.parquet(src)
    rc = main(["manifest", src, "--target-file-mb", "1"])
    out = capsys.readouterr().out
    assert rc == 0 and "1 partition(s) need compaction" in out

    dst = str(tmp_path / "out")
    rc = main(["compact", src, "--out", dst, "--target-file-mb", "1"])
    out = capsys.readouterr().out
    assert rc == 0
    stats = _json.loads(out.strip().splitlines()[-1])
    assert stats["files_before"] == 16 and stats["files_after"] == 1
    assert spark.read.parquet(dst).count() == 1500


def test_cli_history_optimize(capsys, spark, tmp_path):
    import json as _json

    from medallion_data_lake_spark.cli import main
    from medallion_data_lake_spark.operators.versioned import commit

    path = str(tmp_path / "vt")
    for i in range(3):
        commit(spark.range(i * 5, i * 5 + 5).selectExpr("id"), path)
    rc = main(["optimize", path, "--sf", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    stats = _json.loads(out.strip().splitlines()[-1])
    assert stats["files_after"] <= stats["files_before"]
    rc = main(["history", path, "--sf", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    hist = _json.loads(out)
    assert hist[-1]["operation"].startswith("OPTIMIZE(")


def test_cli_curate_writes_corpus_and_manifest(tmp_path, capsys):
    """`cli curate`: the flagship curation pipeline end-to-end from the
    command line — curated parquet + release manifest with an
    observe()-funnel, one pipeline execution."""
    import json
    import os

    from medallion_data_lake_spark import cli
    from medallion_data_lake_spark.operators.release import (
        read_release_manifest,
    )

    out = str(tmp_path / "rel")
    rc = cli.main(["curate", out, "--sf", "/root/testdata/sf0.001",
                   "--mix-budget", "20000"])
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["funnel"]["exact_deduped"] == 500
    manifest = read_release_manifest(os.path.join(out, "manifest.json"))
    funnel = manifest["funnel"]
    # monotone funnel ending at the written corpus's row count
    order = ["exact_deduped", "near_deduped", "mixed", "curated"]
    assert all(funnel[a] >= funnel[b] for a, b in zip(order, order[1:]))
    import pyspark.sql

    spark = pyspark.sql.SparkSession.getActiveSession()
    got = spark.read.parquet(os.path.join(out, "curated"))
    assert got.count() == funnel["curated"] > 0


def test_cli_curate_with_semantic_codebook(tmp_path, capsys):
    """--semantic-codebook routes the pipeline's semantic stage through
    a persisted codebook (fit once via ann.fit_semantic_codebook); the
    funnel gains the semantic_deduped stage."""
    import json

    import pyspark.sql

    from medallion_data_lake_spark import cli
    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
    )
    from medallion_data_lake_spark.operators.embeddings import (
        embed_documents,
    )

    spark = pyspark.sql.SparkSession.getActiveSession()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = embed_documents(docs, "doc_id", "text", 64, "vec_id", "embedding")
    cb = str(tmp_path / "cb")
    fit_semantic_codebook(emb, cb)
    out = str(tmp_path / "rel")
    assert cli.main(["curate", out, "--sf", "/root/testdata/sf0.001",
                     "--semantic-codebook", cb]) == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "semantic_deduped" in printed["funnel"]
    assert printed["funnel"]["curated"] > 0


def test_cli_verify_release_detects_drift(tmp_path, capsys):
    import json
    import os

    import pyspark.sql

    from medallion_data_lake_spark import cli

    out = str(tmp_path / "rel")
    assert cli.main(["curate", out, "--sf", "/root/testdata/sf0.001"]) == 0
    capsys.readouterr()
    # pristine release verifies clean
    assert cli.main(["verify-release", out]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["ok"]
    # tamper: duplicate a parquet file in the corpus (double-ingestion
    # incident shape) -> stratum counts/checksums drift
    import shutil

    curated = os.path.join(out, "curated")
    victim = next(f for f in sorted(os.listdir(curated))
                  if f.endswith(".parquet"))
    shutil.copy(os.path.join(curated, victim),
                os.path.join(curated, "part-dup.snappy.parquet"))
    assert cli.main(["verify-release", out]) == 1
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not report["ok"] and report["problems"]


def test_cli_ddl_and_index_delete_verbs(capsys, spark, tmp_path):
    """r8 CLI surface: rename-column / drop-column (metadata-only DDL)
    and index-delete / index-compact (ANN tombstones)."""
    import json as _json

    from medallion_data_lake_spark.catalog import load_star_table
    from medallion_data_lake_spark.cli import main
    from medallion_data_lake_spark.operators.ann import (
        MIN_BITS,
        build_ivf_index,
        search_index,
    )
    from medallion_data_lake_spark.operators.versioned import commit, read_table

    table = str(tmp_path / "vt")
    commit(spark.createDataFrame([(1, "a"), (2, "b")],
                                 "id long, tag string"), table)
    rc = main(["rename-column", table, "--from-col", "tag",
               "--to-col", "label"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "RENAME COLUMN(tag -> label)"
    assert "label" in read_table(spark, table).columns

    rc = main(["drop-column", table, "--col", "label"])
    assert rc == 0
    assert read_table(spark, table).columns == ["id"]
    capsys.readouterr()

    idx = str(tmp_path / "idx")
    emb = load_star_table(spark, "/root/testdata/sf0.001", "embeddings")
    build_ivf_index(emb, idx, n_bits=MIN_BITS)
    rc = main(["index-delete", idx, "--keys", "vec_id:0,1,2"])
    assert rc == 0
    capsys.readouterr()
    q = emb.filter(F.col("vec_id") < 5)
    hits = {r["cand_id"]
            for r in search_index(spark, idx, q, k=5).collect()}
    assert not (hits & {0, 1, 2})
    rc = main(["index-compact", idx])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["purged_rows"] == 3


def test_cli_tail_restore_sweep_verbs(capsys, spark, tmp_path):
    """r8 third-pass CLI surface: tail (follow a table through the
    medallion_lake source; repeated runs with one checkpoint emit
    only-new rows), restore (--at-version rollback commit), and
    sweep-orphans (unreferenced commit-dir reclamation)."""
    import json as _json
    import os as _os

    from medallion_data_lake_spark.cli import main
    from medallion_data_lake_spark.operators.versioned import (
        commit,
        read_table,
    )

    table = str(tmp_path / "vt")
    commit(spark.createDataFrame([(1, "a")], "id long, tag string"), table)
    ck = str(tmp_path / "ck")

    assert main(["tail", table, "--checkpoint", ck]) == 0
    out1 = capsys.readouterr().out  # console rows go to JVM stdout;
    assert ck in out1               # the verb reports its checkpoint
    offsets = _os.path.join(ck, "offsets")

    def batch_files():
        return sorted(
            f for f in _os.listdir(offsets) if not f.startswith(".")
        )

    assert batch_files() == ["0"]
    commit(spark.createDataFrame([(2, "b")], "id long, tag string"), table)
    assert main(["tail", table, "--checkpoint", ck]) == 0
    capsys.readouterr()
    # a second batch was planned from the SAME checkpoint (only-new)
    assert batch_files() == ["0", "1"]
    with open(_os.path.join(offsets, "1")) as fh:
        assert '"version": 1' in fh.read().splitlines()[-1]

    assert main(["restore", table, "--at-version", "0"]) == 0
    entry = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert entry["mode"] == "restore"
    assert read_table(spark, table).count() == 1

    leak = _os.path.join(table, "data", "commit-orphan01")
    _os.makedirs(leak)
    open(_os.path.join(leak, "p.parquet"), "w").write("x")
    _os.utime(leak, (0, 0))
    assert main(["sweep-orphans", table, "--older-than", "60"]) == 0
    swept = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert swept["swept"] == [_os.path.join("data", "commit-orphan01")]
    assert not _os.path.isdir(leak)


def test_cli_txn_verbs(capsys, spark, tmp_path):
    """Multi-table transaction CLI surface: txn-commit publishes staged
    legs atomically; txn-list shows the manifest; txn-recover is an
    idempotent no-op afterwards; txn-expire reclaims the terminal
    record."""
    import json as _json

    from medallion_data_lake_spark.cli import main
    from medallion_data_lake_spark.operators.versioned import (
        commit,
        read_table,
    )
    from medallion_data_lake_spark.operators.wap import stage_commit

    a = str(tmp_path / "ta")
    b = str(tmp_path / "tb")
    root = str(tmp_path / "_txn")
    commit(spark.createDataFrame([(1, "x")], "id long, tag string"), a)
    commit(spark.createDataFrame([(1, 1.0)], "id long, total double"), b)
    sa = stage_commit(
        spark.createDataFrame([(2, "y")], "id long, tag string"), a)
    sb = stage_commit(
        spark.createDataFrame([(2, 2.0)], "id long, total double"), b)

    rc = main(["txn-commit", root, "--leg", f"{a}={sa}", "--leg", f"{b}={sb}"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["status"] == "committed"
    assert {r["id"] for r in read_table(spark, a).collect()} == {1, 2}
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 2}

    assert main(["txn-list", root]) == 0
    listed = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert listed["txn_id"] == out["txn_id"]
    assert [leg["version"] for leg in listed["legs"]] == [1, 1]

    assert main(["txn-recover", root]) == 0
    assert capsys.readouterr().out.strip() == ""  # nothing to act on

    # the newest committed manifest is the coordinator's freshest
    # cross-table savepoint: retention keeps it even past the horizon
    # (r10 — see test_expire_keeps_the_newest_committed_manifest)
    assert main(["txn-expire", root, "--older-than", "0"]) == 0
    expired = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert expired["expired"] == []


def test_cli_materialize_embeddings_and_curate_from_table(tmp_path, capsys,
                                                          spark):
    """materialize-embeddings maintains the corpus embedding column
    (incremental: a second call embeds nothing) and curate
    --embeddings-table routes the semantic stage through it — same
    funnel stages as the re-embed path, no per-run embedding."""
    import json

    from medallion_data_lake_spark import cli
    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
    )
    from medallion_data_lake_spark.operators.embeddings import (
        HASHING_EMBEDDER_FINGERPRINT,
        embed_documents,
    )
    table = str(tmp_path / "emb")
    assert cli.main(["materialize-embeddings", table,
                     "--sf", "/root/testdata/sf0.001"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_embedded"] == rep["n_total"] > 0
    # incremental: same corpus again -> zero embedded
    assert cli.main(["materialize-embeddings", table,
                     "--sf", "/root/testdata/sf0.001"]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["n_embedded"] == 0 and rep2["n_total"] == rep["n_total"]

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = embed_documents(docs, "doc_id", "text", 64, "vec_id", "embedding")
    cb = str(tmp_path / "cb")
    fit_semantic_codebook(emb, cb, embedder=HASHING_EMBEDDER_FINGERPRINT)
    out = str(tmp_path / "rel")
    assert cli.main(["curate", out, "--sf", "/root/testdata/sf0.001",
                     "--semantic-codebook", cb,
                     "--embeddings-table", table]) == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "semantic_deduped" in printed["funnel"]
    assert printed["funnel"]["curated"] > 0

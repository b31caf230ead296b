"""SQL CLI over the lake — the engine's query surface.

Mirrors the reference's CLI verbs (reference
``sakila-data-lake/query_datalake.py:270-298``): ``tables`` (catalog
listing, S12), ``describe <table>`` (S13), ``sql "<query>"`` (ad-hoc,
§3.2), ``samples`` (canned suite), plus ``bench-tables`` to mount the
driver's star fixtures. Unlike the reference it never runs an eager
count per registered view (SURVEY.md §4.3.2). Registration reads schemas
only: a star fixture loads with its declared schema and starts no job,
and a lake table's schema is inferred in one footer-reading job per
table.

Usage:
  python -m medallion_data_lake_spark.cli tables [--lake ROOT]
  python -m medallion_data_lake_spark.cli describe silver_payment --lake ROOT
  python -m medallion_data_lake_spark.cli sql "SELECT ..." [--lake ROOT | --sf DIR]
  python -m medallion_data_lake_spark.cli samples --sf /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from .catalog import Catalog, register_star_views
from .session import get_spark

SAMPLES: dict[str, str] = {
    # the reference's canned suite shape (query_datalake.py:148-229)
    "customer_tiers": (
        "SELECT customer_value_tier, COUNT(*) AS n FROM ("
        "  SELECT CASE WHEN SUM(o_totalprice) >= 4000000 THEN 'Premium'"
        "              WHEN SUM(o_totalprice) >= 2500000 THEN 'Gold'"
        "              WHEN SUM(o_totalprice) >= 1000000 THEN 'Silver'"
        "              ELSE 'Bronze' END AS customer_value_tier"
        "  FROM orders GROUP BY o_custkey"
        ") GROUP BY customer_value_tier ORDER BY n DESC"
    ),
    "top10_parts": (
        "SELECT p_partkey, p_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "GROUP BY p_partkey, p_name ORDER BY revenue DESC, p_partkey LIMIT 10"
    ),
    "daily_orders": (
        "SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS rev "
        "FROM orders GROUP BY 1 ORDER BY 1 DESC LIMIT 7"
    ),
}


def _mount(spark, args) -> Catalog | None:
    if args.sf:
        register_star_views(spark, args.sf)
        return None
    roots = {layer: os.path.join(args.lake, layer) for layer in Catalog.LAYERS}
    cat = Catalog(spark, roots)
    for layer, root in roots.items():
        if os.path.isdir(root):
            for t in sorted(os.listdir(root)):
                if os.path.isdir(os.path.join(root, t)):
                    cat.register_path(layer, t)
    return cat


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="medallion_data_lake_spark.cli")
    ap.add_argument(
        "verb",
        choices=["tables", "describe", "sql", "samples", "analyze",
                 "manifest", "compact", "history", "optimize", "expire",
                 "serve", "explain", "changes", "update", "delete",
                 "curate", "verify-release", "index-health",
                 "rename-column", "drop-column", "index-delete",
                 "index-compact", "index-sync", "index-sync-stream",
                 "tail", "sweep-orphans", "restore", "staged",
                 "publish-staged", "abandon-staged", "expire-staged",
                 "clone", "txn-commit", "txn-list", "txn-recover",
                 "txn-compensate", "txn-resolve-broken", "txn-expire",
                 "bm25-build", "bm25-search", "bm25-compact",
                 "phrase-search", "hybrid-search", "fit-codebook",
                 "export-store", "materialize-embeddings",
                 "materialize-verdict", "materialize-bench-decon",
                 "store-status"],
    )
    ap.add_argument(
        "arg",
        nargs="?",
        help="table name for describe/analyze, SQL text for sql, "
             "path for manifest/compact/history",
    )
    ap.add_argument("--lake", default=os.environ.get("MDLS_LAKE_ROOT", "./lake"))
    ap.add_argument("--sf", help="mount the star fixtures from this dir instead of a lake")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--out", help="destination path for compact")
    ap.add_argument("--target-file-mb", type=int, default=128,
                    help="compaction target file size")
    ap.add_argument("--zorder", default="",
                    help="optimize: comma-separated columns to ZORDER BY")
    ap.add_argument("--keep-last", type=int, default=7,
                    help="expire: snapshots to retain (data + log)")
    ap.add_argument("--from-version", type=int, default=None,
                    help="changes/tail: feed start version (inclusive; "
                         "changes defaults to 0, tail to snapshot mode)")
    ap.add_argument("--range", action="append", default=[],
                    metavar="COL:LO:HI",
                    help="update/delete: range predicate (repeatable; "
                         "prunes files AND filters rows)")
    ap.add_argument("--where", default=None,
                    help="update/delete: extra SQL boolean predicate")
    ap.add_argument("--set", action="append", default=[], metavar="COL=EXPR",
                    help="update: SET assignment (repeatable)")
    ap.add_argument("--mix-budget", type=int, default=None,
                    help="curate: total token budget for temperature mixing")
    ap.add_argument("--mix-alpha", type=float, default=0.3,
                    help="curate: temperature (1=natural, 0=uniform)")
    ap.add_argument("--release-name", default="release",
                    help="curate: name recorded in the manifest")
    ap.add_argument("--semantic-codebook", default=None,
                    help="curate: enable semantic dedup with a codebook "
                         "persisted by ann.fit_semantic_codebook — reused, "
                         "never refit (SCALE.md round 12)")
    ap.add_argument("--keys", default=None, metavar="COL:V1,V2,...",
                    help="update/delete: point form — bounded key list, "
                         "pruned through the per-file Bloom filters")
    ap.add_argument("--dv", action="store_true",
                    help="delete: merge-on-read (deletion vector) — "
                         "record positions, rewrite nothing")
    ap.add_argument("--health-sample", type=int, default=200,
                    help="index-health: sample size for recall re-measure")
    ap.add_argument("--index", default=None,
                    help="persisted ANN index path for index-sync")
    ap.add_argument("--cdf", action="store_true",
                    help="tail: emit change rows (_change_type, "
                         "_commit_version) instead of plain appends")
    ap.add_argument("--checkpoint", default=None,
                    help="tail: offset checkpoint dir (reuse to get "
                         "only-new rows across invocations)")
    ap.add_argument("--id-col", default="vec_id",
                    help="document id column for index-sync")
    ap.add_argument("--from-col", default=None,
                    help="current column name for rename-column")
    ap.add_argument("--to-col", default=None,
                    help="new column name for rename-column")
    ap.add_argument("--col", default=None,
                    help="column name for drop-column")
    ap.add_argument("--staging-id", default=None,
                    help="publish-staged/abandon-staged: the id returned "
                         "by operators.wap.stage_commit")
    ap.add_argument("--older-than", type=float, default=86400.0,
                    help="expire-staged / sweep-orphans: reclaim items "
                         "older than this many seconds (default 1 day)")
    ap.add_argument("--at-version", type=int, default=None,
                    help="clone: source snapshot version (default: "
                         "latest); restore: the version to restore to")
    ap.add_argument("--leg", action="append", default=[],
                    metavar="TABLE=STAGING_ID",
                    help="txn-commit: one staged leg (repeatable)")
    ap.add_argument("--txn-id", default=None,
                    help="txn-compensate: the transaction to abort")
    ap.add_argument("--retry-stuck", action="store_true",
                    help="txn-recover: also retry stuck transactions "
                         "(after resolving the recorded conflict)")
    ap.add_argument("--terms", default=None,
                    help="bm25-search/hybrid-search: comma-separated "
                         "query terms")
    ap.add_argument("--vec-id", type=int, default=None,
                    help="hybrid-search: 'like this example' — the "
                         "stored embedding id anchoring the vector "
                         "branch")
    ap.add_argument("--embeddings", default=None,
                    help="hybrid-search: versioned embeddings table "
                         "(default: the mounted fixtures' embeddings)")
    ap.add_argument("--vec-index", default=None,
                    help="hybrid-search: persisted IVF index path — "
                         "the vector branch probes it (partition-"
                         "pruned) instead of scanning embeddings; "
                         "export-store: build the store kNN graph from "
                         "it (with --incremental: advance the graph to "
                         "the index's live set, exactly)")
    ap.add_argument("--probes", type=int, default=4,
                    help="hybrid-search: IVF cells probed per query "
                         "when --vec-index is set")
    ap.add_argument("--txn-app", default=None,
                    help="bm25-build: idempotence app id — with "
                         "--txn-version, a crashed build re-run is "
                         "exactly-once (watermark skip + txn-recover)")
    ap.add_argument("--txn-version", type=int, default=None,
                    help="bm25-build: monotonic batch id for --txn-app")
    ap.add_argument("--docs", default=None,
                    help="bm25-build/phrase-search: versioned documents "
                         "table (default: the mounted fixtures' documents)")
    ap.add_argument("--bigrams", action="store_true",
                    help="bm25-build: also maintain the bigram posting "
                         "table (enables phrase-search; all-or-nothing "
                         "for the index's life)")
    ap.add_argument("--phrase", default=None,
                    help="phrase-search: the exact phrase, space-"
                         "separated tokens")
    ap.add_argument("--embeddings-table", default=None,
                    help="curate: read the corpus's persisted embedding "
                         "column (materialize-embeddings) instead of "
                         "re-embedding per run; materialize-verdict: the "
                         "vector source")
    ap.add_argument("--benchmark-decon-table", default=None,
                    help="curate: persisted benchmark decon artifacts "
                         "(materialize-bench-decon) — enables both "
                         "decon stages without re-hashing the suite; "
                         "materialize-bench-decon: the output root")
    ap.add_argument("--bench", default=None,
                    help="materialize-bench-decon: parquet path/dir of "
                         "the benchmark suite (a 'text' column)")
    ap.add_argument("--semantic-verdict-table", default=None,
                    help="curate: consume the materialized semantic "
                         "verdict (materialize-verdict) — the semantic "
                         "stage becomes one slim anti-join instead of a "
                         "per-run recompute")
    ap.add_argument("--store", default=None, metavar="JDBC_URL",
                    help="serve: answer /search /phrase /similar "
                         "/hybrid from this exported serving store "
                         "(no Spark job per request; routes whose "
                         "export artifact is missing fall back to the "
                         "warm session); export-store: destination URL")
    ap.add_argument("--incremental", action="store_true",
                    help="export-store: advance the existing store to "
                         "the newest committed snapshot by upserting "
                         "only the changed vocabulary (ε-bounded; falls "
                         "back to a full refresh when corpus totals "
                         "drift past --eps)")
    ap.add_argument("--eps", type=float, default=0.02,
                    help="export-store --incremental: max relative "
                         "corpus-total drift served from stale impacts")
    ap.add_argument("--store-driver", default=None,
                    help="JDBC driver class for --store (default: "
                         "embedded Derby)")
    ap.add_argument("--http", type=int, default=None, metavar="PORT",
                    help="serve: listen as a JSON HTTP API on this port "
                         "instead of the stdin REPL (GET / serves the "
                         "browser SQL console)")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="mdls-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.verb == "serve":
        # interactive SQL over the cached gold views (serving.serve_repl);
        # reads statements from stdin so it scripts and tests the same way
        from .serving import ServingLayer, serve_repl

        gold = args.arg or os.path.join(args.lake, "gold")
        if not os.path.isdir(gold):
            print(f"serve requires a gold directory (got {gold})", file=sys.stderr)
            return 2
        if args.store and args.http is None:
            # the store route exists only on the HTTP server; silently
            # running a REPL without it would look store-backed
            print("serve --store requires --http PORT (the store "
                  "answers the HTTP /search route)", file=sys.stderr)
            return 2
        serving = ServingLayer(spark, gold, cache_tables=True)
        try:
            if args.http is not None:
                # web-interface parity (reference query_interface.py):
                # JSON API over the same cached views, bounded responses
                from .serving_http import serve_http_background

                session = None
                if args.index:
                    # warm search routes: snapshot pinned + small index
                    # tables cached ONCE for the server's lifetime
                    from .operators.search_session import WarmSearchSession
                    from .operators.versioned import read_table as _rt

                    try:
                        session = WarmSearchSession(
                            spark, args.index,
                            embeddings=(_rt(spark, args.embeddings)
                                        if args.embeddings else None),
                            vec_index=args.vec_index,
                            docs_table=args.docs,
                        )
                    except (FileNotFoundError, ValueError) as exc:
                        print(f"serve --index: cannot open search index "
                              f"at {args.index}: {exc}", file=sys.stderr)
                        return 2
                store = None
                if args.store:
                    from .serving_store import DERBY_DRIVER, ServingStore

                    try:
                        store = ServingStore(
                            spark, args.store,
                            driver=args.store_driver or DERBY_DRIVER,
                        )
                    except Exception as exc:
                        print(f"serve --store: cannot open serving store "
                              f"at {args.store}: {exc}", file=sys.stderr)
                        return 2
                server, thread = serve_http_background(
                    serving, port=args.http, default_rows=args.limit,
                    search_session=session, serving_store=store,
                )
                print(f"serving HTTP on {server.server_address[0]}:"
                      f"{server.server_address[1]} "
                      "(browser console at GET /; GET /tables /describe "
                      "/samples, POST /query /explain /curate"
                      + (", /search /phrase /hybrid /similar"
                       if session else "")
                      + ((", " + " ".join(sorted(store.routes()))
                          + " from the exported store (no Spark job "
                          "per request)") if store else "")
                      + ")")
                try:
                    thread.join()
                except KeyboardInterrupt:
                    server.shutdown()
                    server.server_close()
            else:
                serve_repl(serving, sys.stdin, sys.stdout, max_rows=args.limit)
        finally:
            serving.close()
        return 0

    cat = _mount(spark, args)

    if args.verb == "tables":
        if cat is not None:
            print(json.dumps(cat.list_tables(), indent=2))
        else:
            print(json.dumps(sorted(t.name for t in spark.catalog.listTables()), indent=2))
    elif args.verb == "describe":
        if not args.arg:
            print("describe requires a table name", file=sys.stderr)
            return 2
        df = spark.table(args.arg)
        df.printSchema()
        df.show(5, truncate=False)
    elif args.verb == "sql":
        if not args.arg:
            print("sql requires a query string", file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        spark.sql(args.arg).show(args.limit, truncate=False)
        print(f"({time.perf_counter() - t0:.2f}s)")
    elif args.verb == "explain":
        if not args.arg:
            print("explain requires a query string", file=sys.stderr)
            return 2
        from .plans import explain_str, plan_report

        df = spark.sql(args.arg)
        print(explain_str(df))
        print(json.dumps(plan_report(df), indent=2))
    elif args.verb == "samples":
        for name, sql in SAMPLES.items():
            print(f"\n=== {name} ===")
            spark.sql(sql).show(args.limit, truncate=False)
    elif args.verb == "analyze":
        if not args.arg:
            print("analyze requires a table name or versioned path", file=sys.stderr)
            return 2
        if os.path.isdir(os.path.join(args.arg, "_log")):
            # versioned table: rescan-free snapshot ANALYZE from the
            # per-file stats partials recorded at commit time
            from .operators.versioned import analyze_table

            stats, report = analyze_table(spark, args.arg)
            stats.show(100, truncate=False)
            print(json.dumps(report))
        else:
            from .operators.stats import collect_column_stats

            collect_column_stats(spark.table(args.arg)).show(100, truncate=False)
    elif args.verb == "manifest":
        if not args.arg:
            print("manifest requires a path", file=sys.stderr)
            return 2
        from .operators.maintenance import compaction_plan, partition_manifest

        m = partition_manifest(spark, args.arg)
        m.orderBy("partition").show(args.limit, truncate=False)
        plan = compaction_plan(m, args.target_file_mb * 1024 * 1024)
        n = plan.count()
        print(f"{n} partition(s) need compaction at {args.target_file_mb}MB target")
        if n:
            plan.show(args.limit, truncate=False)
    elif args.verb == "compact":
        if not args.arg or not args.out:
            print("compact requires a source path and --out", file=sys.stderr)
            return 2
        from .operators.maintenance import compact_table

        stats = compact_table(
            spark, args.arg, args.out,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
        print(json.dumps(stats))
    elif args.verb == "history":
        if not args.arg:
            print("history requires a versioned-table path", file=sys.stderr)
            return 2
        from .operators.versioned import history as vhistory

        print(json.dumps(vhistory(args.arg), indent=2))
    elif args.verb == "optimize":
        if not args.arg:
            print("optimize requires a versioned-table path", file=sys.stderr)
            return 2
        from .operators.versioned import optimize_table

        stats = optimize_table(
            spark, args.arg,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
            zorder_by=tuple(c for c in args.zorder.split(",") if c),
        )
        print(json.dumps({k: stats[k] for k in
                          ("version", "operation", "files_before", "files_after")}))
    elif args.verb == "changes":
        if not args.arg:
            print("changes requires a versioned-table path", file=sys.stderr)
            return 2
        from .operators.versioned import table_changes

        table_changes(
            spark, args.arg,
            0 if args.from_version is None else args.from_version,
        ).orderBy(
            "_commit_version"
        ).show(args.limit, truncate=False)
    elif args.verb in ("update", "delete"):
        if not args.arg:
            print(f"{args.verb} requires a versioned-table path", file=sys.stderr)
            return 2

        def _coerce(v):
            # stats pruning compares against the JSON-typed per-file
            # extrema, so numeric bounds must arrive numeric
            if not v:
                return None
            for cast in (int, float):
                try:
                    return cast(v)
                except ValueError:
                    pass
            return v

        def _ranges():
            out = {}
            for spec in args.range:
                col, lo, hi = spec.split(":", 2)
                out[col] = (_coerce(lo), _coerce(hi))
            return out

        def _keys():
            if not args.keys:
                return None
            col, vals = args.keys.split(":", 1)
            return {col: [_coerce(v) for v in vals.split(",")]}

        if args.verb == "delete":
            from .operators.versioned import delete_rows, delete_rows_dv

            fn = delete_rows_dv if args.dv else delete_rows
            res = fn(spark, args.arg, predicates=_ranges() or None,
                     where=args.where, keys=_keys())
        else:
            from .operators.versioned import update_rows

            sets = dict(s.split("=", 1) for s in args.set)
            if not sets:
                print("update requires at least one --set COL=EXPR",
                      file=sys.stderr)
                return 2
            res = update_rows(spark, args.arg, set_exprs=sets,
                              predicates=_ranges() or None, where=args.where,
                              keys=_keys())
        if res is None:
            print(json.dumps({"matched": 0}))
        else:
            print(json.dumps({k: res[k] for k in
                              ("version", "operation", "files_matched",
                               "files_untouched")}))
    elif args.verb == "curate":
        # the flagship training-data pipeline, end to end: documents
        # fixture (or a parquet dir of the same shape) → curated corpus
        # + release manifest. One lazy Catalyst plan; the funnel comes
        # from observe() accumulators on the single final pass.
        if not args.arg or not args.sf:
            print("curate requires an output dir and --sf DIR", file=sys.stderr)
            return 2
        from .catalog import star_path
        from .operators.curation_pipeline import CurationConfig, curate_corpus
        from .operators.release import (
            build_release_manifest,
            write_release_manifest,
        )

        docs = spark.read.parquet(star_path(args.sf, "documents"))
        cfg = CurationConfig(
            production_hash=True,
            mix_alpha=args.mix_alpha,
            mix_token_budget=args.mix_budget,
            semantic_from_text=(args.semantic_codebook is not None
                                and args.embeddings_table is None
                                and args.semantic_verdict_table is None),
            semantic_codebook_path=args.semantic_codebook,
            embeddings_table=args.embeddings_table,
            semantic_verdict_table=args.semantic_verdict_table,
            benchmark_decon_table=args.benchmark_decon_table,
            fuzzy_decontaminate=args.benchmark_decon_table is not None,
        )
        observations: dict = {}
        stages = curate_corpus(docs, config=cfg, observations=observations)
        out_dir = args.arg
        stages["curated"].write.mode("overwrite").parquet(
            os.path.join(out_dir, "curated"))
        manifest = build_release_manifest(
            stages, cfg, args.release_name, observations=observations)
        write_release_manifest(
            manifest, os.path.join(out_dir, "manifest.json"))
        print(json.dumps({"funnel": manifest["funnel"],
                          "strata": len(manifest["strata"])}))
    elif args.verb == "materialize-embeddings":
        # maintain the corpus's persisted embedding column — embeds
        # ONLY ids not yet in the table (the amortization lever for
        # curate --embeddings-table and every other embedding consumer)
        if not args.arg or not args.sf:
            print("materialize-embeddings requires a table path and "
                  "--sf DIR", file=sys.stderr)
            return 2
        from .catalog import star_path
        from .operators.embeddings import materialize_corpus_embeddings

        docs = spark.read.parquet(star_path(args.sf, "documents"))
        report = materialize_corpus_embeddings(spark, docs, args.arg)
        print(json.dumps(report))
    elif args.verb == "materialize-verdict":
        # maintain the materialized semantic-dedup verdict (r14): ARG is
        # the verdict table dir; vectors come from --embeddings-table
        # (the persisted column) and the codebook from
        # --semantic-codebook — both provenance-enforced on read.
        if not args.arg or not args.sf or not args.semantic_codebook \
                or not args.embeddings_table:
            print("materialize-verdict requires an output dir, --sf DIR, "
                  "--semantic-codebook PATH and --embeddings-table TABLE",
                  file=sys.stderr)
            return 2
        from .catalog import star_path
        from .operators.semantic_verdict import (
            materialize_semantic_verdict,
        )
        from .operators.versioned import read_table as _rt

        docs = spark.read.parquet(star_path(args.sf, "documents"))
        report = materialize_semantic_verdict(
            spark, docs, _rt(spark, args.embeddings_table), args.arg,
            args.semantic_codebook,
        )
        print(json.dumps(report))
    elif args.verb == "materialize-bench-decon":
        # persist the benchmark suite's decon artifacts once (r14): ARG
        # is the output root; --bench the suite parquet.
        if not args.arg or not args.bench:
            print("materialize-bench-decon requires an output dir and "
                  "--bench PARQUET", file=sys.stderr)
            return 2
        from .operators.curation_pipeline import (
            materialize_benchmark_decon,
        )

        bench = spark.read.parquet(args.bench)
        report = materialize_benchmark_decon(
            spark, bench, args.arg, production_hash=True,
        )
        print(json.dumps(report))
    elif args.verb == "store-status":
        # operational staleness check for the serving tier: ARG is the
        # (optional) BM25 index root to diff the manifest pins against.
        if not args.store:
            print("store-status requires --store JDBC_URL",
                  file=sys.stderr)
            return 2
        from .serving_store import DERBY_DRIVER, store_status

        try:
            report = store_status(
                spark, args.store, index_root=args.arg or None,
                driver=args.store_driver or DERBY_DRIVER,
            )
        except Exception as exc:
            print(f"store-status: {exc}", file=sys.stderr)
            return 2
        print(json.dumps(report))
    elif args.verb == "export-store":
        # the serving-tier export (reference gold_to_postgres.py:33-58,
        # Spark-first: distributed JDBC write, one committed snapshot,
        # idf/avgdl precomputed so the store's per-request SQL is pure
        # indexed double arithmetic — measured sub-second in SCALE.md
        # round 13). ARG is the BM25 index root; --store the JDBC URL.
        # r14: --docs TABLE adds the positional-bigram export (store
        # /phrase); --embeddings TABLE or --vec-index PATH adds the kNN
        # graph (store /similar and the hybrid vector branch) — after
        # which every hot search route answers with no Spark job.
        if not args.arg or not args.store:
            print("export-store requires an index root and --store "
                  "JDBC_URL", file=sys.stderr)
            return 2
        from .operators.versioned import read_table as _rt
        from .serving_store import (
            DERBY_DRIVER,
            export_search_store,
            export_search_store_incremental,
            export_vector_store,
        )

        drv = args.store_driver or DERBY_DRIVER
        try:
            if args.incremental:
                if args.embeddings:
                    # the brute-force graph has no cell structure to
                    # localize an update — silently skipping it would
                    # leave /similar stale under a fresh manifest
                    print("export-store --incremental cannot advance a "
                          "brute-force graph (--embeddings); re-export "
                          "without --incremental, or build an IVF index "
                          "and use --vec-index", file=sys.stderr)
                    return 2
                rep = export_search_store_incremental(
                    spark, args.arg, args.store, driver=drv,
                    eps=args.eps,
                    docs=_rt(spark, args.docs) if args.docs else None,
                    # the vector advance runs right below when
                    # --vec-index is given; otherwise the function's
                    # own stale-vector refusal applies
                    allow_stale_vectors=bool(args.vec_index),
                )
                vec_rep = None
                if args.vec_index:
                    from .serving_store import (
                        export_vector_store_incremental,
                    )

                    vec_rep = export_vector_store_incremental(
                        spark, args.store, args.vec_index, driver=drv)
                print(json.dumps({"store": args.store, **rep,
                                  "vector": vec_rep}))
                return 0
            pins = export_search_store(
                spark, args.arg, args.store, driver=drv,
                docs=_rt(spark, args.docs) if args.docs else None,
                # vectors are refreshed by export_vector_store right
                # below when requested in the SAME invocation — the
                # intermediate staleness is not observable
                allow_stale_vectors=bool(args.embeddings or args.vec_index),
            )
            vec_meta = None
            if args.embeddings or args.vec_index:
                vec_meta = export_vector_store(
                    spark, args.store,
                    embeddings=(_rt(spark, args.embeddings)
                                if args.embeddings else None),
                    vec_index=args.vec_index, driver=drv,
                )
        except ValueError as exc:
            print(f"export-store: {exc}", file=sys.stderr)
            return 2
        print(json.dumps({"store": args.store, "pins": pins,
                          "vector": vec_meta}))
    elif args.verb == "fit-codebook":
        # train + persist the semantic-dedup codebook ONCE for reuse by
        # `curate --semantic-codebook` — stamped with the in-pipeline
        # hashing embedder's fingerprint so a codebook from a different
        # embedding space is refused at load time, not silently applied
        if not args.arg or not args.sf:
            print("fit-codebook requires an output dir and --sf DIR",
                  file=sys.stderr)
            return 2
        from .catalog import star_path
        from .operators.ann import fit_semantic_codebook
        from .operators.curation_pipeline import CurationConfig
        from .operators.embeddings import (
            HASHING_EMBEDDER_FINGERPRINT,
            embed_documents,
        )

        cfg = CurationConfig()
        docs = spark.read.parquet(star_path(args.sf, "documents"))
        emb = embed_documents(
            docs, cfg.id_col, cfg.text_col, cfg.embedding_dim,
            cfg.embedding_id_col, cfg.embedding_col,
        )
        model = fit_semantic_codebook(
            emb, args.arg, vec_col=cfg.embedding_col,
            cluster_size=cfg.semantic_cluster_size,
            k_cap=cfg.semantic_k_cap,
            max_fit_rows=cfg.semantic_max_fit_rows,
            embedder=HASHING_EMBEDDER_FINGERPRINT,
        )
        print(json.dumps({"path": args.arg, "k": int(model.getK()),
                          "dim": cfg.embedding_dim,
                          "embedder": HASHING_EMBEDDER_FINGERPRINT}))
    elif args.verb == "index-health":
        # recall-drift telemetry for a persisted ANN index (the rebuild
        # audit closing the append-forever lifecycle loop)
        if not args.arg:
            print("index-health requires an index path", file=sys.stderr)
            return 2
        from .operators.ann import check_index_health

        report = check_index_health(spark, args.arg,
                                    sample_n=args.health_sample)
        print(json.dumps(report))
        return 0 if not report["rebuild_recommended"] else 1
    elif args.verb == "verify-release":
        # re-audit a `curate` output dir against its own manifest: count
        # or checksum drift per stratum fails loudly (exit 1)
        if not args.arg:
            print("verify-release requires a curate output dir", file=sys.stderr)
            return 2
        from .operators.release import read_release_manifest, verify_release

        manifest = read_release_manifest(os.path.join(args.arg, "manifest.json"))
        docs = spark.read.parquet(os.path.join(args.arg, "curated"))
        report = verify_release(docs, manifest)
        print(json.dumps(report))
        return 0 if report["ok"] else 1
    elif args.verb == "expire":
        if not args.arg:
            print("expire requires a versioned-table path", file=sys.stderr)
            return 2
        from .operators.versioned import expire_log

        out = expire_log(args.arg, keep_last=args.keep_last)
        print(json.dumps({"base": out["base"],
                          "entries_deleted": out["entries_deleted"],
                          "files_deleted": len(out["files_deleted"])}))
    elif args.verb == "rename-column":
        # metadata-only DDL (operators/versioned.py column mapping)
        if not args.arg or not args.from_col or not args.to_col:
            print("rename-column requires a table path, --from-col and "
                  "--to-col", file=sys.stderr)
            return 2
        from .operators.versioned import rename_column

        entry = rename_column(spark, args.arg, args.from_col, args.to_col)
        print(json.dumps({"version": entry["version"],
                          "operation": entry["operation"]}))
    elif args.verb == "drop-column":
        if not args.arg or not args.col:
            print("drop-column requires a table path and --col",
                  file=sys.stderr)
            return 2
        from .operators.versioned import drop_column

        entry = drop_column(spark, args.arg, args.col)
        print(json.dumps({"version": entry["version"],
                          "operation": entry["operation"]}))
    elif args.verb == "index-delete":
        # GDPR delete against a persisted ANN index: tombstone the ids
        # (searches exclude immediately; index-compact purges bytes)
        if not args.arg or not args.keys:
            print("index-delete requires an index path and "
                  "--keys COL:V1,V2,...", file=sys.stderr)
            return 2
        from .operators.ann import delete_from_index

        col, vals = args.keys.split(":", 1)
        # raw strings: delete_from_index coerces to the index's id dtype
        # (an int() guess here would crash string-keyed indexes whose
        # ids happen to look numeric)
        ids = vals.split(",")
        delete_from_index(spark, args.arg, ids, id_col=col)
        print(json.dumps({"tombstoned": len(ids)}))
    elif args.verb == "index-compact":
        if not args.arg:
            print("index-compact requires an index path", file=sys.stderr)
            return 2
        from .operators.ann import compact_index_tombstones

        print(json.dumps(compact_index_tombstones(spark, args.arg)))
    elif args.verb == "index-sync":
        # propagate the versioned table's erasures into the index's
        # tombstone ledger (operators/index_sync.py)
        if not args.arg or not args.index:
            print("index-sync requires a versioned-table path and "
                  "--index PATH", file=sys.stderr)
            return 2
        from .operators.index_sync import sync_deletes_to_index

        print(json.dumps(sync_deletes_to_index(
            spark, args.arg, args.index, id_col=args.id_col)))
    elif args.verb == "index-sync-stream":
        # the streaming form: tail the table's change feed through the
        # medallion_lake source, one-shot catch-up (availableNow)
        if not args.arg or not args.index:
            print("index-sync-stream requires a versioned-table path "
                  "and --index PATH", file=sys.stderr)
            return 2
        from .operators.index_sync import (
            read_sync_watermark,
            run_index_sync_stream,
        )

        q = run_index_sync_stream(
            spark, args.arg, args.index, id_col=args.id_col
        )
        q.awaitTermination()
        print(json.dumps({
            "synced_through": read_sync_watermark(args.index, args.arg)
        }))
    elif args.verb == "tail":
        # follow a versioned table as a stream (medallion_lake source):
        # prints the new rows (or CDF change rows with --cdf) since the
        # last run with the same --checkpoint, via the console sink
        if not args.arg:
            print("tail requires a table path", file=sys.stderr)
            return 2
        import tempfile

        from .sources.lakehouse_source import read_table_stream

        opts = {}
        if args.cdf:
            opts["read_change_feed"] = True
        if args.from_version is not None:
            opts["starting_version"] = args.from_version
        ck = args.checkpoint or tempfile.mkdtemp(prefix="mdls-tail-")
        q = (
            read_table_stream(spark, args.arg, **opts)
            .writeStream.format("console")
            .option("truncate", "false")
            .option("numRows", str(args.limit))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        print(json.dumps({"checkpoint": ck}))
    elif args.verb == "restore":
        # time travel made durable: publish a restore commit pointing
        # the table back at --at-version (history is kept — a restore
        # is itself a new version)
        if not args.arg or args.at_version is None:
            print("restore requires a table path and --at-version N",
                  file=sys.stderr)
            return 2
        from .operators.versioned import rollback

        print(json.dumps(rollback(spark, args.arg, args.at_version)))
    elif args.verb == "sweep-orphans":
        # reclaim commit dirs no entry/checkpoint/staging references
        # (crash-between-write-and-publish leaks; see versioned.py)
        if not args.arg:
            print("sweep-orphans requires a table path", file=sys.stderr)
            return 2
        from .operators.versioned import sweep_orphan_commit_dirs

        print(json.dumps({"swept": sweep_orphan_commit_dirs(
            args.arg, older_than_sec=args.older_than)}))
    elif args.verb == "staged":
        # write-audit-publish: list the table's live stagings
        if not args.arg:
            print("staged requires a table path", file=sys.stderr)
            return 2
        from .operators.wap import list_staged

        for m in list_staged(args.arg):
            print(json.dumps({
                "staging_id": m["staging_id"], "mode": m["mode"],
                "files": len(m["added"]), "age_sec": round(m["age_sec"], 1),
                "base_version": m["base_version"],
            }))
    elif args.verb == "publish-staged":
        if not args.arg or not args.staging_id:
            print("publish-staged requires a table path and --staging-id",
                  file=sys.stderr)
            return 2
        from .operators.wap import publish_staged

        entry = publish_staged(spark, args.arg, args.staging_id)
        if entry is None:
            # txn-watermarked staging whose batch the table already
            # covers: nothing published here (a txn-leg staging keeps
            # its files for the coordinator; expire-staged sweeps them
            # once the txn is terminal)
            print(json.dumps({"duplicate_skip": True}))
        else:
            print(json.dumps({"version": entry["version"],
                              "operation": entry["operation"]}))
    elif args.verb == "abandon-staged":
        if not args.arg or not args.staging_id:
            print("abandon-staged requires a table path and --staging-id",
                  file=sys.stderr)
            return 2
        from .operators.wap import abandon_staged

        abandon_staged(args.arg, args.staging_id)
        print(json.dumps({"abandoned": args.staging_id}))
    elif args.verb == "expire-staged":
        if not args.arg:
            print("expire-staged requires a table path", file=sys.stderr)
            return 2
        from .operators.wap import expire_staged

        print(json.dumps(
            {"expired": expire_staged(args.arg, args.older_than)}
        ))
    elif args.verb == "clone":
        # zero-copy shallow clone of a versioned table (optionally at a
        # historical version)
        if not args.arg or not args.out:
            print("clone requires a source table path and --out DST",
                  file=sys.stderr)
            return 2
        from .operators.versioned import clone_table

        entry = clone_table(spark, args.arg, args.out,
                            version=args.at_version)
        print(json.dumps({"version": entry["version"],
                          "operation": entry["operation"]}))
    elif args.verb == "bm25-build":
        # build or incrementally append the BM25 inverted index
        # (operators/inverted_index.py): arg is the index root
        if not args.arg:
            print("bm25-build requires an index root path", file=sys.stderr)
            return 2
        if (args.txn_app is None) != (args.txn_version is None):
            # one flag without the other silently disarms the watermark
            # (stage_commit arms it only when BOTH are set) — refuse
            # instead of letting a crashed re-run double-count
            print("bm25-build needs BOTH --txn-app and --txn-version "
                  "(or neither)", file=sys.stderr)
            return 2
        from .operators.inverted_index import append_bm25_index
        from .operators.versioned import read_table as _rt

        if args.docs:
            docs = _rt(spark, args.docs)
        else:
            docs = spark.table("documents")
        m = append_bm25_index(spark, docs, args.arg,
                              txn_app_id=args.txn_app,
                              txn_version=args.txn_version,
                              bigrams=args.bigrams or None)
        print(json.dumps({"status": m["status"],
                          "legs": len(m.get("legs", []))}))
    elif args.verb == "phrase-search":
        # exact-phrase retrieval from the bigram posting table:
        # bloom-pruned candidate intersection + exact residual over the
        # candidate docs only (operators/inverted_index.phrase_search)
        if not args.arg or not args.phrase:
            print("phrase-search requires an index root and --phrase",
                  file=sys.stderr)
            return 2
        from .operators.inverted_index import phrase_search
        from .operators.versioned import read_table as _rt

        phrase = args.phrase.split()
        if len(phrase) < 2:
            print("phrase-search: --phrase needs at least two tokens",
                  file=sys.stderr)
            return 2
        docs = _rt(spark, args.docs) if args.docs else spark.table("documents")
        out, report = phrase_search(spark, args.arg, docs, phrase)
        # bounded like bm25-search: a phrase of common tokens can match
        # a large corpus fraction — never collect it unbounded
        for r in out.orderBy("doc_id").limit(args.limit).collect():
            print(json.dumps({"doc_id": r["doc_id"],
                              "n_matches": r["n_matches"]}))
        print(json.dumps({"pruning": report}), file=sys.stderr)
    elif args.verb == "bm25-search":
        if not args.arg or not args.terms:
            print("bm25-search requires an index root and --terms",
                  file=sys.stderr)
            return 2
        from .operators.inverted_index import bm25_search

        terms = [t.strip() for t in args.terms.split(",") if t.strip()]
        if not terms:
            print("bm25-search: --terms parsed to an empty list",
                  file=sys.stderr)
            return 2
        for r in bm25_search(spark, args.arg, terms, k=args.limit).collect():
            print(json.dumps({"doc_id": r["doc_id"],
                              "n_terms_matched": r["n_terms_matched"],
                              "score": round(r["score"], 6)}))
    elif args.verb == "hybrid-search":
        # fused keyword+vector retrieval (operators/hybrid.py): BM25
        # over the persisted index RRF-fused with cosine against a
        # stored example vector — "docs like --vec-id that also
        # mention --terms"
        if not args.arg or not args.terms or args.vec_id is None:
            print("hybrid-search requires an index root, --terms and "
                  "--vec-id", file=sys.stderr)
            return 2
        from .operators.hybrid import hybrid_search
        from .operators.versioned import read_table as _rt

        terms = [t.strip() for t in args.terms.split(",") if t.strip()]
        if not terms:
            print("hybrid-search: --terms parsed to an empty list",
                  file=sys.stderr)
            return 2
        if args.embeddings:
            emb = _rt(spark, args.embeddings)
        else:
            from pyspark.errors import AnalysisException

            try:
                emb = spark.table("embeddings")
            except AnalysisException:
                print("hybrid-search: no 'embeddings' view is registered "
                      "and --embeddings was not given (pass --embeddings "
                      "PATH to a versioned table, or --sf DIR to register "
                      "the fixture views)", file=sys.stderr)
                return 2
        out = hybrid_search(spark, args.arg, emb, terms, args.vec_id,
                            k=args.limit, vec_index=args.vec_index,
                            n_probes=args.probes)
        for r in out.collect():
            print(json.dumps({"doc_id": r["doc_id"],
                              "kw_rank": r["kw_rank"],
                              "vec_rank": r["vec_rank"],
                              "rrf_score": round(r["rrf_score"], 9)}))
    elif args.verb == "bm25-compact":
        if not args.arg:
            print("bm25-compact requires an index root path", file=sys.stderr)
            return 2
        from .operators.inverted_index import (
            bm25_index_stats,
            compact_bm25_stats,
        )

        out = compact_bm25_stats(spark, args.arg)
        out["stats"] = bm25_index_stats(spark, args.arg)
        print(json.dumps(out))
    elif args.verb == "txn-commit":
        # multi-table atomic commit of staged legs (operators/txn.py):
        # arg is the coordinator dir, each --leg a stage_commit result
        if not args.arg or not args.leg:
            print("txn-commit requires a txn-root path and at least one "
                  "--leg TABLE=STAGING_ID", file=sys.stderr)
            return 2
        from .operators.txn import commit_txn

        legs = [tuple(spec.split("=", 1)) for spec in args.leg]
        if any(len(p) != 2 for p in legs):
            print("--leg must be TABLE=STAGING_ID", file=sys.stderr)
            return 2
        m = commit_txn(spark, args.arg, legs)
        print(json.dumps({"txn_id": m["txn_id"], "status": m["status"],
                          "legs": m["legs"]}))
    elif args.verb == "txn-list":
        if not args.arg:
            print("txn-list requires a txn-root path", file=sys.stderr)
            return 2
        from .operators.txn import list_txns

        for m in list_txns(args.arg):
            print(json.dumps({
                "txn_id": m["txn_id"], "status": m["status"],
                "legs": [
                    {"table": leg["table"],
                     "version": leg.get("version")}
                    for leg in m["legs"]
                ],
            }))
    elif args.verb == "txn-recover":
        # roll prepared (and, with --retry-stuck, stuck) txns forward;
        # idempotent — safe on a schedule
        if not args.arg:
            print("txn-recover requires a txn-root path", file=sys.stderr)
            return 2
        from .operators.txn import recover_txns

        for m in recover_txns(spark, args.arg,
                              retry_stuck=args.retry_stuck):
            print(json.dumps({"txn_id": m["txn_id"],
                              "status": m["status"]}))
    elif args.verb == "txn-compensate":
        if not args.arg or not args.txn_id:
            print("txn-compensate requires a txn-root path and --txn-id",
                  file=sys.stderr)
            return 2
        from .operators.txn import compensate_stuck_txn

        m = compensate_stuck_txn(spark, args.arg, args.txn_id)
        print(json.dumps({"txn_id": m["txn_id"], "status": m["status"]}))
    elif args.verb == "txn-resolve-broken":
        # honest terminal for a txn that can neither roll forward nor
        # compensate (redo state destroyed + watermarked published leg)
        if not args.arg or not args.txn_id:
            print("txn-resolve-broken requires a txn-root path and "
                  "--txn-id", file=sys.stderr)
            return 2
        from .operators.txn import resolve_broken_txn

        m = resolve_broken_txn(spark, args.arg, args.txn_id)
        print(json.dumps({
            "txn_id": m["txn_id"], "status": m["status"],
            "lost": [leg["table"] for leg in m["legs"] if leg.get("lost")],
        }))
    elif args.verb == "txn-expire":
        if not args.arg:
            print("txn-expire requires a txn-root path", file=sys.stderr)
            return 2
        from .operators.txn import expire_txns

        print(json.dumps({"expired": expire_txns(
            args.arg, older_than_sec=args.older_than)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Serving-layer surface: cached gold views, bounded reads, canned pack."""

from __future__ import annotations

import pytest

from medallion_data_lake_spark.serving import SAMPLE_QUERIES, ServingLayer


@pytest.fixture(scope="module")
def gold_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("serving_gold")
    spark.createDataFrame(
        [
            (1, 120.0, "Premium"),
            (2, 60.0, "Gold"),
            (3, 10.0, "Bronze"),
            (4, 55.0, "Gold"),
        ],
        "customer_id int, total_spent double, customer_value_tier string",
    ).write.parquet(str(root / "customer_summary"))
    spark.createDataFrame(
        [("2024-01-01", 95.0), ("2024-01-02", 150.0)],
        "payment_date string, daily_revenue double",
    ).write.parquet(str(root / "daily_revenue"))
    return str(root)


@pytest.fixture(scope="module")
def serving(spark, gold_root):
    s = ServingLayer(spark, gold_root, cache_tables=True)
    yield s
    s.close()


def test_show_and_describe(serving):
    assert serving.show_tables() == ["gold_customer_summary", "gold_daily_revenue"]
    desc = serving.describe_table("gold_customer_summary", sample_rows=2)
    fields = {f["name"] for f in desc["schema"]["fields"]}
    assert {"customer_id", "total_spent", "customer_value_tier"} <= fields
    assert len(desc["sample"]) == 2


def test_query_and_bounded_pandas(serving):
    df = serving.query(
        "SELECT customer_value_tier, COUNT(*) AS n FROM gold_customer_summary "
        "GROUP BY customer_value_tier"
    )
    tiers = {r["customer_value_tier"]: r["n"] for r in df.collect()}
    assert tiers == {"Premium": 1, "Gold": 2, "Bronze": 1}
    # bounded collect caps rows regardless of the SQL
    pdf = serving.query_pandas("SELECT * FROM gold_customer_summary", max_rows=2)
    assert len(pdf) == 2


def test_sample_pack_runs(serving):
    out = serving.sample_queries()
    assert set(out) == set(SAMPLE_QUERIES)
    dist = {
        r["customer_value_tier"]: r["total_revenue"]
        for r in out["customer_value_distribution"].collect()
    }
    assert dist["Gold"] == 115.0
    assert len(out["daily_revenue_trend"].collect()) == 2


def test_tables_are_cached(serving, spark):
    assert spark.catalog.isCached("gold_customer_summary")


def test_serve_repl_drives_queries(serving):
    """The serve REPL (fast_query.py REPL parity): two SQL statements plus
    commands through the line interface, bounded output, errors surfaced
    without killing the loop."""
    import io

    from medallion_data_lake_spark.serving import serve_repl

    script = "\n".join([
        "\\t",
        "SELECT COUNT(*) AS n FROM gold_customer_summary;",
        "SELECT nope FROM missing_table",          # must not kill the REPL
        "SELECT customer_value_tier, COUNT(*) AS n FROM gold_customer_summary"
        " GROUP BY customer_value_tier ORDER BY n DESC",
        "\\q",
        "SELECT 1",                                 # after quit: not executed
    ]) + "\n"
    out = io.StringIO()
    executed = serve_repl(serving, io.StringIO(script), out, max_rows=10)
    text = out.getvalue()
    assert executed == 2                    # the two successful SQL statements
    assert "gold_customer_summary" in text  # \t listing
    assert "error:" in text                 # bad SQL surfaced, loop continued
    assert "Gold" in text                   # second query's output arrived


def test_cli_serve_verb(gold_root, monkeypatch, capsys):
    """`cli serve` wires stdin/stdout to the REPL over a gold root."""
    import io

    from medallion_data_lake_spark import cli

    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO("SELECT COUNT(*) AS n FROM gold_customer_summary\n\\q\n"),
    )
    # gold_root IS the gold directory: pass it as the positional arg
    rc = cli.main(["serve", gold_root, "--limit", "5"])
    assert rc == 0
    assert "4" in capsys.readouterr().out  # the count row made it to stdout


def test_register_versioned_pins_a_snapshot(spark, tmp_path):
    """A serving view pinned to a version stays stable while the
    underlying versioned table keeps merging — reproducible dashboards."""
    from medallion_data_lake_spark.operators.versioned import commit, merge_into
    from medallion_data_lake_spark.serving import ServingLayer

    table = str(tmp_path / "vt")
    commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string"),
        table, stats_cols=("id",),
    )
    s = ServingLayer(spark, gold_root=None)
    pinned = s.register_versioned("pinned_summary", table, version=0)
    live = s.register_versioned("live_summary", table)
    assert s.show_tables() == ["gold_live_summary", "gold_pinned_summary"]

    merge_into(
        spark, table,
        spark.createDataFrame([(1, "changed"), (3, "new")], "id long, tag string"),
        key="id",
    )
    # the pinned view still serves the old snapshot
    assert {r["tag"] for r in s.query(f"SELECT tag FROM {pinned}").collect()} == {
        "a", "b"}
    # a freshly registered live view sees the merge
    live2 = s.register_versioned("live2_summary", table)
    assert {r["tag"] for r in s.query(f"SELECT tag FROM {live2}").collect()} == {
        "changed", "b", "new"}
    s.close()


# ---------------------------------------------------------------------------
# HTTP API (serving_http.py) — web-interface parity, bounded JSON responses
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def http_server(serving):
    from medallion_data_lake_spark.serving_http import serve_http_background

    server, thread = serve_http_background(serving, port=0, default_rows=50)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()
    thread.join(timeout=5)


def _get(url: str) -> dict:
    import json
    import urllib.request

    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def _post(url: str, payload: dict) -> tuple[int, dict]:
    import json
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_tables_and_describe(http_server):
    assert _get(f"{http_server}/tables")["tables"] == [
        "gold_customer_summary", "gold_daily_revenue"]
    desc = _get(f"{http_server}/describe?table=gold_customer_summary")
    assert desc["name"] == "gold_customer_summary"
    fields = {f["name"] for f in desc["schema"]["fields"]}
    assert {"customer_id", "total_spent", "customer_value_tier"} <= fields
    assert len(desc["sample"]) == 4  # table has 4 rows, sample_rows=5 cap


def test_http_query_bounded_and_errors(http_server):
    status, out = _post(f"{http_server}/query", {
        "sql": "SELECT customer_value_tier, COUNT(*) AS n "
               "FROM gold_customer_summary GROUP BY customer_value_tier",
    })
    assert status == 200
    got = {row[0]: row[1] for row in out["rows"]}
    assert got == {"Premium": 1, "Gold": 2, "Bronze": 1}
    assert out["columns"] == ["customer_value_tier", "n"]

    # the row bound clamps regardless of the SQL (S14)
    status, out = _post(f"{http_server}/query", {
        "sql": "SELECT * FROM gold_customer_summary", "max_rows": 2})
    assert status == 200 and out["row_count"] == 2

    # a bad statement returns a JSON error and the server keeps serving
    status, out = _post(f"{http_server}/query", {"sql": "SELECT nope FROM missing"})
    assert status == 400 and "error" in out
    assert _get(f"{http_server}/tables")["tables"]  # still alive

    # a wrongly typed field is the client's fault, named in plain words
    for body in ({"sql": 5}, {"sql": "SELECT 1", "max_rows": [1]}):
        status, out = _post(f"{http_server}/query", body)
        assert status == 400 and "must be" in out["error"], out
        assert "py4j" not in out["error"]


def test_search_fields_are_type_checked():
    """Both search dispatchers reject a wrongly typed field before any
    lookup: a string ``terms`` is not searched letter by letter."""
    from medallion_data_lake_spark.serving_http import run_search
    from medallion_data_lake_spark.serving_store import run_store_search

    bad = [("/search", {"terms": "fox"}), ("/phrase", {"phrase": "a b"}),
           ("/similar", {"vec_id": "7"}), ("/similar", {"vec_id": True}),
           ("/hybrid", {"terms": ["fox", 1], "vec_id": 7}),
           ("/search", {"terms": ["fox"], "k": 2.5})]
    for route, req in bad:
        with pytest.raises(ValueError, match="must be"):
            run_store_search(None, req, route=route)
        with pytest.raises(ValueError, match="must be"):
            run_search(None, route, req, default_rows=10)
    # the store's /hybrid also reads the branch depth
    for n in ([1], "20", 2.5, True):
        with pytest.raises(ValueError, match="n_per_branch.*must be"):
            run_store_search(None, {"terms": ["fox"], "vec_id": 7,
                                    "n_per_branch": n}, route="/hybrid")
    # a JSON integer outside the signed 64-bit range is the client's
    # fault too, not a store bind failure; k follows the same rule
    far = [("/similar", {"vec_id": 2**63}), ("/similar", {"vec_id": 10**30}),
           ("/similar", {"vec_id": -2**63 - 1}),
           ("/hybrid", {"terms": ["fox"], "vec_id": 10**20}),
           ("/search", {"terms": ["fox"], "k": 2**63})]
    for route, req in far:
        with pytest.raises(ValueError, match="signed 64-bit"):
            run_store_search(None, req, route=route)
        with pytest.raises(ValueError, match="signed 64-bit"):
            run_search(None, route, req, default_rows=10)
    with pytest.raises(ValueError, match="n_per_branch.*signed 64-bit"):
        run_store_search(None, {"terms": ["fox"], "vec_id": 7,
                                "n_per_branch": 2**64}, route="/hybrid")


def test_curate_fields_are_type_checked():
    """/curate rejects a wrongly typed config field before it looks at
    the table: a string ``blocklist`` is not split letter by letter."""
    from medallion_data_lake_spark.serving_http import run_curate_dry

    bad = [{"mix_alpha": "0.7"}, {"mix_alpha": [1]}, {"mix_alpha": True},
           {"mix_token_budget": [1]}, {"mix_token_budget": 2.5},
           {"max_pii_hits": "3"}, {"max_pii_hits": [1]},
           {"blocklist": "spam"}, {"blocklist": ["spam", 1]},
           {"redact_pii": "false"}, {"redact_pii": 0},
           {"table": 5}, {"table": ["documents"]}, {"release_name": 5}]
    for req in bad:
        name = next(iter(req))
        with pytest.raises(ValueError, match=f"{name}.*must be"):
            run_curate_dry(None, req)


def test_curate_redact_pii_is_honoured(monkeypatch):
    """/curate passes JSON true/false for ``redact_pii`` through as
    given (absent = off) — ``bool("false")`` once turned it on."""
    from types import SimpleNamespace

    from medallion_data_lake_spark.operators import curation_pipeline
    from medallion_data_lake_spark.serving_http import run_curate_dry

    class Planned(Exception):
        pass

    seen = []

    def capture(df, config, observations):
        seen.append(config.redact_pii)
        raise Planned

    monkeypatch.setattr(curation_pipeline, "curate_corpus", capture)
    serving = SimpleNamespace(show_tables=lambda: ["documents"],
                              spark=SimpleNamespace(table=lambda t: t))
    for req in ({"redact_pii": True}, {"redact_pii": False}, {}):
        with pytest.raises(Planned):
            run_curate_dry(serving, req)
    assert seen == [True, False, False]


def test_http_server_fault_is_500_and_server_survives(spark):
    """A fault inside the serving layer is the server's, not the
    client's: 500 with the error text, and the server keeps answering.
    A body that is not a JSON object stays a client error (400)."""
    from medallion_data_lake_spark.serving import ServingLayer
    from medallion_data_lake_spark.serving_http import serve_http_background

    s = ServingLayer(spark, gold_root=None)

    def broken_query(sql):
        raise RuntimeError("serving layer fault")

    s.query = broken_query
    server, thread = serve_http_background(s, port=0)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        status, out = _post(f"{base}/query", {"sql": "SELECT 1"})
        assert status == 500 and "serving layer fault" in out["error"]
        status, out = _post(f"{base}/query", ["SELECT 1"])
        assert status == 400 and "JSON object" in out["error"]
        assert "tables" in _get(f"{base}/tables")  # still alive
    finally:
        server.shutdown()
        thread.join(timeout=5)


def test_http_samples_pack(http_server):
    out = _get(f"{http_server}/samples")
    assert set(out) == set(SAMPLE_QUERIES)
    dist = {row[0]: row[3] for row in out["customer_value_distribution"]["rows"]}
    assert dist["Gold"] == 115.0


def test_http_curate_dry_run(spark):
    """POST /curate: the curation pipeline's observe()-funnel for a
    config, computed in one pass over a REGISTERED documents table,
    writing nothing; unknown tables rejected with a JSON error."""
    from medallion_data_lake_spark.catalog import load_star_table
    from medallion_data_lake_spark.serving import ServingLayer
    from medallion_data_lake_spark.serving_http import serve_http_background

    s = ServingLayer(spark, gold_root=None)
    s.catalog.register(
        "silver", "documents",
        load_star_table(spark, "/root/testdata/sf0.001", "documents"))
    server, thread = serve_http_background(s, port=0)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        status, out = _post(f"{base}/curate", {
            "table": "silver_documents",
            "mix_alpha": 0.7,
            "mix_token_budget": 20_000,
            "release_name": "r5-dry",
        })
        assert status == 200, out
        assert out["dry_run"] is True and out["release"] == "r5-dry"
        funnel = out["funnel"]
        assert funnel["exact_deduped"] > 0
        assert funnel["curated"] <= funnel["exact_deduped"]
        assert "mixed" in funnel  # the budgeted mixing stage ran
        # stratum summary rows are json-rendered and non-empty
        assert out["strata"] == ["source", "lang"] and out["summary"]
        assert out["n_docs"] == funnel["curated"]

        status, out = _post(f"{base}/curate", {"table": "no_such"})
        assert status == 400 and "unknown table" in out["error"]
    finally:
        server.shutdown()
        thread.join(timeout=5)


def test_http_explain_plan_report(http_server):
    """POST /explain: plan audit without execution — pushdown visible,
    clean query unflagged, bad SQL surfaces as a JSON error."""
    status, out = _post(f"{http_server}/explain", {
        "sql": "SELECT customer_value_tier, SUM(total_spent) AS s "
               "FROM gold_customer_summary WHERE total_spent > 50 "
               "GROUP BY customer_value_tier",
    })
    assert status == 200
    assert out["flags"] == [] and out["shuffles"] >= 1
    assert isinstance(out["pushed_filters"], list)

    status, out = _post(f"{http_server}/explain", {"sql": "SELECT * FROM nope"})
    assert status == 400 and "error" in out


def test_http_index_page_serves_console(http_server):
    """GET / serves the browser console (r6 verdict item 9): a complete
    HTML page wired to the SAME endpoints this test file exercises —
    the live-socket round trip is page fetch + the /tables and /query
    calls the page's own JS issues on load."""
    import urllib.request

    with urllib.request.urlopen(f"{http_server}/", timeout=30) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/html")
        html = resp.read().decode()
    assert html.lstrip().startswith("<!DOCTYPE html>")
    # the page drives exactly the JSON API: its fetch targets must name
    # the live routes, and the DOM hooks its JS binds must exist
    for needle in ('"/tables"', '"/query"', '"/explain"', '"/samples"',
                   'id="sql"', 'id="run"', 'id="tables"', 'id="samples"'):
        assert needle in html, needle
    # the round trip the page performs on load, over the live socket:
    tables = _get(f"{http_server}/tables")["tables"]
    assert tables
    status, out = _post(f"{http_server}/query", {
        "sql": f"SELECT * FROM {tables[0]} LIMIT 3", "max_rows": 3,
    })
    assert status == 200 and out["row_count"] > 0 and out["columns"]

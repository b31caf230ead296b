"""HTTP query API over the serving layer — the web-interface parity.

The reference ships a Streamlit app (``query_interface.py:1-200``) whose
engine side is: one cached SparkSession, every lake table registered as
a view, free-form SQL from the browser, bounded tabular results. This
module is that surface as a dependency-free JSON API (stdlib
``http.server`` only — Streamlit cannot be installed here, and a JSON
endpoint is the form a real deployment fronts with any UI):

- ``GET  /``                  -> the browser console (serving_ui.py —
                                 one static page over these endpoints;
                                 the reference Streamlit page's table
                                 list + SQL box + bounded results)
- ``GET  /tables``            -> {"tables": [...]}
- ``GET  /describe?table=t``  -> {"name", "schema", "sample"}
- ``GET  /samples``           -> the canned analytics pack (bounded)
- ``POST /query``             -> body {"sql": "...", "max_rows": N}
                                 -> {"columns", "rows", "row_count",
                                     "elapsed_sec"}
- ``POST /explain``           -> body {"sql": "..."} -> the plan-report
                                 audit (shuffles, pushdown, codegen,
                                 anti-pattern flags) WITHOUT executing —
                                 pre-flight for expensive statements
- ``POST /curate``            -> body {"table": "documents",
                                 "mix_alpha": a, "mix_token_budget": B,
                                 "release_name": name}
                                 -> the curation DRY RUN: the full
                                 pipeline's observe()-funnel counts and
                                 stratum summary for that config, in
                                 one corpus pass, writing NOTHING —
                                 what-would-this-config-keep before
                                 paying for the real ``cli curate``

Every response is bounded (S14): ``max_rows`` is clamped to
``ROW_CAP`` — the server never streams an unbounded collect to a
browser, which is the failure mode the reference's trust-the-user
LIMIT policy invites. Errors come back as JSON with an HTTP status —
400 for the client's fault (bad input, bad SQL), 500 for the server's —
and a failed statement never kills the server (same contract as
``serve_repl``).

Concurrency: ``ThreadingHTTPServer`` + Spark's thread-safe
``spark.sql`` — concurrent requests become concurrent Spark jobs
scheduled by the session's FAIR/FIFO scheduler, which is exactly how a
shared serving cluster multiplexes dashboard users. The heavy state
(session + cached gold views) is per-process and shared by all
handler threads, mirroring the reference's ``@st.cache_resource``.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.errors import AnalysisException

from .serving import ServingLayer

ROW_CAP = 10_000  # absolute ceiling on rows per response (S14)
_log = logging.getLogger(__name__)


def _json_safe(v):
    """Render one cell JSON-cleanly: primitives pass through, anything
    else (dates, decimals, bytearrays, Rows) becomes its string form —
    the same rendering the CLI's show() applies."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_safe(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def run_bounded(serving: ServingLayer, sql: str, max_rows: int) -> dict:
    """Execute one statement with a hard row bound; the JSON-ready
    result every endpoint (and any future UI) shares."""
    n = max(1, min(int(max_rows), ROW_CAP))
    t0 = time.perf_counter()
    df = serving.query(sql).limit(n)
    rows = df.collect()
    return {
        "columns": df.columns,
        "rows": [[_json_safe(v) for v in r] for r in rows],
        "row_count": len(rows),
        "truncated_at": n,
        "elapsed_sec": round(time.perf_counter() - t0, 3),
    }


class _Handler(BaseHTTPRequestHandler):
    serving: ServingLayer  # injected by make_http_server
    default_rows: int
    search_session = None  # WarmSearchSession; injected when configured
    serving_store = None   # ServingStore; /search answers from it when set
    store_lock = None      # serializes the (non-thread-safe) JDBC conn

    # -- plumbing ---------------------------------------------------------
    def _send(self, status: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _send_error(self, exc: Exception) -> None:
        """A failed request, classified honestly: invalid input
        (``ValueError``, which covers malformed JSON) and statements
        Spark cannot analyze or parse are the client's fault (400);
        anything else is a server fault (500). The server keeps
        serving either way."""
        if isinstance(exc, (ValueError, AnalysisException)):
            self._send(400, {"error": str(exc)})
            return
        _log.error("%s %s failed", self.command, self.path, exc_info=exc)
        self._send(500, {"error": str(exc)})

    def log_message(self, fmt, *args):  # quiet: tests/CLI own the output
        pass

    # -- routes -----------------------------------------------------------
    def _send_html(self, html: str) -> None:
        body = html.encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:
        url = urlparse(self.path)
        try:
            if url.path in ("/", "/index.html"):
                from .serving_ui import INDEX_HTML

                self._send_html(INDEX_HTML)
            elif url.path == "/tables":
                self._send(200, {"tables": self.serving.show_tables()})
            elif url.path == "/describe":
                q = parse_qs(url.query)
                table = (q.get("table") or [""])[0]
                if not table:
                    self._send(400, {"error": "describe requires ?table="})
                    return
                desc = self.serving.describe_table(table, sample_rows=5)
                self._send(200, {
                    "name": desc["name"],
                    "schema": desc["schema"],
                    "sample": _json_safe(desc["sample"]),
                })
            elif url.path == "/samples":
                out = {
                    name: run_bounded_df(df, self.default_rows)
                    for name, df in self.serving.sample_queries().items()
                }
                self._send(200, out)
            else:
                self._send(404, {"error": f"no route {url.path}"})
        except Exception as exc:  # surface, keep serving
            self._send_error(exc)

    def do_POST(self) -> None:
        url = urlparse(self.path)
        try:
            length = int(self.headers.get("Content-Length", "0"))
            req = json.loads(self.rfile.read(length) or b"{}")
            if not isinstance(req, dict):
                raise ValueError("request body must be a JSON object")
            if url.path == "/query":
                sql = req.get("sql")
                if not sql:
                    self._send(400, {"error": "body must carry {'sql': ...}"})
                    return
                max_rows = req.get("max_rows", self.default_rows)
                self._send(200, run_bounded(self.serving, sql, max_rows))
            elif url.path == "/curate":
                self._send(200, run_curate_dry(self.serving, req))
            elif url.path in ("/search", "/phrase", "/hybrid", "/similar"):
                if (self.serving_store is not None
                        and url.path in self.store_routes):
                    # serving-tier fast path: prepared statements on the
                    # exported store, no Spark job (r12 verdict #1;
                    # phrase/similar/hybrid extended r14) — any route
                    # whose export artifact is missing falls through to
                    # the warm Spark session below
                    from .serving_store import run_store_search

                    self._send(200, run_store_search(
                        self.serving_store, self.store_lock, req,
                        route=url.path, default_rows=self.default_rows))
                    return
                if self.search_session is None:
                    self._send(400, {
                        "error": "no search index configured — start the "
                        "server with search_session="
                    })
                    return
                self._send(200, run_search(
                    self.search_session, url.path, req, self.default_rows,
                ))
            elif url.path == "/explain":
                sql = req.get("sql")
                if not sql:
                    self._send(400, {"error": "body must carry {'sql': ...}"})
                    return
                from .plans import plan_report

                # plan-only: nothing executes, nothing is collected —
                # the pre-flight a user runs before an expensive query
                self._send(200, plan_report(self.serving.query(sql)))
            else:
                self._send(404, {"error": f"no route {url.path}"})
        except Exception as exc:
            self._send_error(exc)


def run_curate_dry(serving: ServingLayer, req: dict) -> dict:
    """Curation dry run over a REGISTERED table: build the whole
    pipeline plan for the requested config and materialize only the
    manifest (observe() accumulators fire on the stratum summary's one
    pass — ``operators/curation_pipeline.curate_corpus``'s contract),
    writing nothing. Returns {"funnel", "strata", "release_name",
    "config"} — the yield audit a user reads before paying for the
    real ``cli curate`` write. The table name is validated against the
    serving layer's own registry (never interpolated from free text)."""
    table = req.get("table", "documents")
    if table not in serving.show_tables():
        raise ValueError(
            f"unknown table {table!r}; registered: {serving.show_tables()}"
        )
    from .operators.curation_pipeline import CurationConfig, curate_corpus
    from .operators.release import build_release_manifest

    cfg = CurationConfig(
        production_hash=True,
        mix_alpha=float(req.get("mix_alpha", 1.0)),
        mix_token_budget=(
            int(req["mix_token_budget"]) if req.get("mix_token_budget")
            else None
        ),
        blocklist=tuple(req.get("blocklist", ())),
        redact_pii=bool(req.get("redact_pii", False)),
        max_pii_hits=(
            int(req["max_pii_hits"]) if req.get("max_pii_hits") is not None
            else None
        ),
    )
    t0 = time.perf_counter()
    observations: dict = {}
    stages = curate_corpus(
        serving.spark.table(table), config=cfg, observations=observations
    )
    manifest = build_release_manifest(
        stages, cfg,
        str(req.get("release_name", "dry-run")),
        observations=observations,
    )
    return {
        "dry_run": True,
        "release": manifest["release"],
        "config_fingerprint": manifest["config_fingerprint"],
        "funnel": manifest["funnel"],
        "strata": manifest["strata"],
        "summary": _json_safe(manifest["summary"]),
        "n_docs": manifest["n_docs"],
        "n_tokens": manifest["n_tokens"],
        "elapsed_sec": round(time.perf_counter() - t0, 3),
    }


def run_search(session, route: str, req: dict, default_rows: int) -> dict:
    """Dispatch a warm-session search request (r12: the serving warm
    path — snapshot pinned once, corpus totals as literals, small index
    tables cached; measured in SCALE.md round 12):

    - ``POST /search``  {"terms": [...], "k": N}
    - ``POST /phrase``  {"phrase": [...]}
    - ``POST /hybrid``  {"terms": [...], "vec_id": id, "k": N}
    - ``POST /similar`` {"vec_id": id, "k": N}  (pure vector branch)
    """
    k = max(1, min(int(req.get("k", 10)), ROW_CAP))
    # /phrase is unranked (every match qualifies), so an absent k falls
    # back to default_rows; an explicit k is honored like every route.
    phrase_bound = k if "k" in req else max(1, min(default_rows, ROW_CAP))
    t0 = time.time()
    if route == "/search":
        terms = req.get("terms")
        if not terms:
            raise ValueError("body must carry {'terms': [...]}")
        out = run_bounded_df(session.bm25(list(terms), k=k), k)
    elif route == "/phrase":
        phrase = req.get("phrase")
        if not phrase or len(phrase) < 2:
            raise ValueError(
                "body must carry {'phrase': [t1, t2, ...]} (>= 2 tokens)"
            )
        df, report = session.phrase(list(phrase))
        out = run_bounded_df(df, phrase_bound)
        out["pruning"] = {
            kk: vv for kk, vv in report.items()
            if isinstance(vv, (int, float, str))
        }
    elif route == "/similar":
        vec_id = req.get("vec_id")
        if vec_id is None:
            raise ValueError("body must carry {'vec_id': id}")
        out = run_bounded_df(session.similar(int(vec_id), k=k), k)
    else:  # /hybrid
        terms, vec_id = req.get("terms"), req.get("vec_id")
        if not terms or vec_id is None:
            raise ValueError(
                "body must carry {'terms': [...], 'vec_id': id}"
            )
        out = run_bounded_df(session.hybrid(list(terms), int(vec_id), k=k), k)
    out["elapsed_sec"] = round(time.time() - t0, 4)
    return out


def run_bounded_df(df, max_rows: int) -> dict:
    """run_bounded for an already-built DataFrame (canned pack)."""
    n = max(1, min(int(max_rows), ROW_CAP))
    bounded = df.limit(n)
    rows = bounded.collect()
    return {
        "columns": bounded.columns,
        "rows": [[_json_safe(v) for v in r] for r in rows],
        "row_count": len(rows),
        "truncated_at": n,
    }


def make_http_server(
    serving: ServingLayer,
    host: str = "127.0.0.1",
    port: int = 0,
    default_rows: int = 100,
    search_session=None,
    serving_store=None,
) -> ThreadingHTTPServer:
    """Build (not start) the server; ``port=0`` picks a free port —
    read it back from ``server.server_address`` (how the test binds).
    ``search_session`` (a WarmSearchSession) arms the /search /phrase
    /hybrid /similar routes — shared by all handler threads, which is
    the point: the pinned snapshot and cached tables amortize across
    requests. ``serving_store`` (a serving_store.ServingStore) answers
    /search from the exported SQL store instead — the no-Spark-job
    serving tier; its JDBC connection is serialized by a lock."""
    handler = type(
        "ServingHandler",
        (_Handler,),
        {"serving": serving, "default_rows": default_rows,
         "search_session": search_session,
         "serving_store": serving_store,
         # routes resolved ONCE here: the JDBC connection is not
         # thread-safe, so per-request metadata calls would need the
         # lock — and the armed set is fixed per exported store anyway
         "store_routes": (serving_store.routes()
                          if serving_store is not None else set()),
         "store_lock": threading.Lock()},
    )
    return ThreadingHTTPServer((host, port), handler)


def serve_http_background(
    serving: ServingLayer, host: str = "127.0.0.1", port: int = 0,
    default_rows: int = 100, search_session=None, serving_store=None,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start serving on a daemon thread; returns (server, thread) so the
    caller owns shutdown — the shape both the CLI verb and tests use."""
    server = make_http_server(serving, host, port, default_rows,
                              search_session=search_session,
                              serving_store=serving_store)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, t

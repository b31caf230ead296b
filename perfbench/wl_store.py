"""store_requests: the serving tier over a seeded film catalogue.

Set-up builds the BM25 index (with bigrams) over the film descriptions,
exports it to the SQL store, builds the IVF index over one vector per film
and exports its kNN graph, then starts ``serving_http`` with the store
armed. One client in a closed loop then sends a fixed cycle of /search,
/phrase, /similar and /hybrid requests with seeded terms, phrases and ids.

Traced runs first land the same films, with customers, inventory, rentals
and payments, as Sakila envelopes through ``pipeline.run_pipeline``
(bronze -> silver -> gold and catalog registration) and record its layers;
untraced runs leave that pass out to keep a run short.

Correctness, outside the timed window: a fixed sample of requests answered
identically by the store and by the lake path; in traced runs also the
silver, corrupt and gold figures against the generator's plain-Python
ground truth, and the silver film descriptions against the corpus.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import time

from common import dir_mb, median, patched
from gen_bronze import (
    SIZES,
    corpus,
    generate,
    ground_truth,
    write_bronze,
    zipf_weights,
)
from gen_star import embeddings
from harness import Batch, Workload

BLOCK = 25            # requests per batch
# the routes repeat in this fixed cycle, so every block of requests has the
# same mix and the spread across seeds is not the mix's; the weights are
# equal because no traffic data says otherwise
ROUTE_CYCLE = ("/search", "/phrase", "/similar", "/hybrid")
N_REQUESTS = 20_000   # the seeded request list, cycled
N_PROBES = 4
K = 10
PHRASE_K = 1000


def bronze_root(work: str) -> str:
    """The ingest pass reads a root inside the run's own work directory,
    which no earlier session read: the bronze reader caches what it reads
    for the life of the session."""
    return os.path.join(work, "bronze")


def make_requests(seed: int, docs: dict[int, str], vec_ids: list[int],
                  n: int = N_REQUESTS) -> list[tuple[str, dict]]:
    """Seeded request list: terms Zipf-drawn from the corpus vocabulary
    (by corpus frequency), phrases as 3-token windows of real documents,
    vector ids uniform over the films."""
    rng = random.Random(seed * 7919 + 17)
    freq: dict[str, int] = {}
    for text in docs.values():
        for tok in text.split():
            freq[tok] = freq.get(tok, 0) + 1
    vocab = sorted(freq, key=lambda t: (-freq[t], t))
    weights = zipf_weights(len(vocab))
    texts = [docs[k].split() for k in sorted(docs) if len(docs[k].split()) >= 3]
    out = []
    for i in range(n):
        route = ROUTE_CYCLE[i % len(ROUTE_CYCLE)]
        if route == "/phrase":
            toks = rng.choice(texts)
            i = rng.randrange(len(toks) - 2)
            out.append((route, {"phrase": toks[i:i + 3], "k": PHRASE_K}))
            continue
        body: dict = {"k": K}
        if route in ("/search", "/hybrid"):
            body["terms"] = sorted(set(rng.choices(vocab, weights, k=rng.randint(1, 3))))
        if route in ("/similar", "/hybrid"):
            body["vec_id"] = rng.choice(vec_ids)
        out.append((route, body))
    return out


class StoreRequests(Workload):
    # 600 requests: past the steep part of the JIT warm-up curve
    warmup = 24

    def inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.generated = generate(self.seed)
        self.docs_py = corpus(self.generated)
        self.docs_path = os.path.join(self.work, "documents.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(list(self.docs_py), pa.int64()),
            "text": pa.array(list(self.docs_py.values()), pa.string())}),
            self.docs_path)
        film_ids = list(range(1, SIZES["film"] + 1))
        table = embeddings(random.Random(self.seed + 1), len(film_ids))
        table = table.set_column(0, "vec_id", pa.array(film_ids, pa.int64()))
        self.vec_path = os.path.join(self.work, "vectors.parquet")
        pq.write_table(table, self.vec_path)
        self.requests = make_requests(self.seed, self.docs_py, film_ids)
        self.cursor = 0
        if self.trace:
            self.truth = ground_truth(self.generated)
            self.bronze = bronze_root(self.work)
            self.bronze_lines = write_bronze(self.bronze, self.generated)

    def describe(self) -> dict:
        out = {"sizes": SIZES, "documents": len(self.docs_py), "block": BLOCK,
               "route_cycle": ROUTE_CYCLE, "clients": 1, "loop": "closed"}
        if self.trace:
            out["bronze_lines"] = self.bronze_lines
        return out

    def _step(self, name: str, fn):
        t = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            out = fn()
        self.setup_layers[f"setup.{name}_s"] = time.perf_counter() - t
        return out

    def setup(self) -> None:
        from medallion_data_lake_spark.operators.ann import build_ivf_index
        from medallion_data_lake_spark.operators.inverted_index import create_bm25_index
        from medallion_data_lake_spark.serving import ServingLayer
        from medallion_data_lake_spark.serving_http import serve_http_background
        from medallion_data_lake_spark.serving_store import (
            ServingStore,
            export_search_store,
            export_vector_store,
        )
        spark, w = self.spark, self.work
        if self.trace:
            self._ingest()
        self.docs = spark.read.parquet(self.docs_path)
        self.emb = spark.read.parquet(self.vec_path).select("vec_id", "embedding")
        self.index = os.path.join(w, "bm25")
        self.ivf = os.path.join(w, "ivf")
        url = f"jdbc:derby:{os.path.join(w, 'servingdb')};create=true"
        self._step("index_build", lambda: create_bm25_index(
            spark, self.docs, self.index, bigrams=True))
        self.pins = self._step("export_search", lambda: export_search_store(
            spark, self.index, url, docs=self.docs))
        self._step("ivf_build", lambda: build_ivf_index(self.emb, self.ivf))
        self._step("export_vector", lambda: export_vector_store(
            spark, url, vec_index=self.ivf, k_max=20, n_probes=N_PROBES))

        def serve():
            self.store = ServingStore(spark, url)
            self.server, self.thread = serve_http_background(
                ServingLayer(spark), serving_store=self.store)
            self.port = self.server.server_address[1]
        self._step("serve_start", serve)

    def _ingest(self) -> None:
        """The medallion pass over the generated envelopes, with its layers
        recorded: bronze -> silver -> gold and catalog registration."""
        from medallion_data_lake_spark import catalog, pipeline

        self.silver = os.path.join(self.work, "silver")
        self.gold = os.path.join(self.work, "gold")
        with patched([(pipeline, "run_silver"), (pipeline, "run_gold"),
                      (catalog.Catalog, "register_path")], self.tracer, "pipeline."):
            self.report = self._step("pipeline", lambda: pipeline.run_pipeline(
                self.spark, self.bronze, self.silver, self.gold))
        lay = self.setup_layers
        for st in self.report["report"]["stages"]:
            lay[f"pipeline.{st['stage']}.{st['table']}_s"] = float(st["seconds"])
        for name in ("run_silver", "run_gold", "register_path"):
            durs = self.tracer.durations(f"pipeline.{name}")
            key = {"run_silver": "silver_s", "run_gold": "gold_s",
                   "register_path": "register_s"}[name]
            lay[f"pipeline.{key}"] = sum(durs)
        b, s, g = (dir_mb(p) for p in (self.bronze, self.silver, self.gold))
        lay.update({"io.bronze_mb": b, "io.silver_mb": s, "io.gold_mb": g,
                    "io.write_amp": (s + g) / b if b else 0.0})
        lay["spark.persisted_rdds"] = float(
            self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # -- requests --------------------------------------------------------------

    def send(self, route: str, body: dict) -> tuple[int, dict | None, float]:
        data = json.dumps(body).encode()
        t = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("POST", route, body=data,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read()
            status = resp.status
        finally:
            conn.close()
        dt = time.perf_counter() - t
        payload = json.loads(raw) if status == 200 else None
        return status, payload, dt

    def batch(self, traced: bool) -> Batch:
        out = Batch()
        for _ in range(BLOCK):
            route, body = self.requests[self.cursor % len(self.requests)]
            self.cursor += 1
            try:
                status, _payload, dt = self.send(route, body)
            except (OSError, ValueError) as exc:
                status, dt = 0, 0.0
                out.errors.append(f"{route}: {exc}")
            if status != 200:
                out.failed += 1
                out.errors.append(f"{route} -> {status}")
            out.op(self.cursor, dt)
        return out

    def tracing(self):
        from medallion_data_lake_spark.serving_store import ServingStore

        return patched([(ServingStore, m) for m in ("bm25", "phrase", "similar", "hybrid")],
                       self.tracer, "store.")

    def batch_layers(self, out: Batch, first_span: int) -> None:
        spans = self.tracer.spans[first_span:]
        top = [s for s in spans if s.name.startswith("store.") and s.parent is None]
        per_route: dict[str, list[float]] = {}
        for s in top:
            per_route.setdefault(s.name, []).append(s.end - s.start)
        for route in ("search", "phrase", "similar", "hybrid"):
            name = {"search": "store.bm25"}.get(route, f"store.{route}")
            out.layer(f"store.{route}.p50_ms", 1000 * median(per_route.get(name, [])))
        if len(top) == len(out.ops):  # one store call per request, in order
            out.layer("http.overhead_ms", 1000 * median(
                [rt - (s.end - s.start) for rt, s in zip(out.ops, top)]))

    def run_layers(self) -> dict[str, float]:
        st = self.store.bm25_stats
        total = st["pruned"] + st["full"]
        return {"store.bm25_pruned_ratio": st["pruned"] / total if total else 0.0}

    # -- correctness -------------------------------------------------------------

    def check(self) -> list[dict]:
        ingest = []
        if self.trace:
            try:
                ingest = self._check_ingest()
            except Exception as exc:  # unreadable output is a failed check
                ingest = [{"check": "ingest", "ok": False,
                           "error": f"{type(exc).__name__}: {exc}"[:300]}]
        return ingest + self._check_store()

    def _check_ingest(self) -> list[dict]:
        from pyspark.sql import functions as F

        spark, truth, res = self.spark, self.truth, []

        def add(name, got, want):
            res.append({"check": name, "ok": got == want, "got": got, "want": want})

        stages = {(s["stage"], s["table"]): s for s in self.report["report"]["stages"]}
        counts = None
        for table in truth["silver_rows"]:
            df = spark.read.parquet(os.path.join(self.silver, table)).agg(
                F.lit(table).alias("t"), F.count(F.lit(1)).alias("n"))
            counts = df if counts is None else counts.unionByName(df)
        silver_rows = {r["t"]: r["n"] for r in counts.collect()}
        for table, want in truth["silver_rows"].items():
            add(f"silver.{table}.rows", silver_rows[table], want)
            add(f"silver.{table}.corrupt_rows",
                stages[("silver", table)]["corrupt_rows"], truth["corrupt_rows"][table])
        gold = {t: spark.read.parquet(os.path.join(self.gold, t))
                for t in ("customer_summary", "daily_revenue", "rental_trends",
                          "film_performance")}
        g = truth["gold"]
        cs = gold["customer_summary"].agg(
            F.count(F.lit(1)), F.sum("total_payments"), F.sum("total_rentals")).first()
        add("gold.customer_summary", [cs[0], cs[1], cs[2]],
            [g["customer_summary"][k] for k in ("rows", "total_payments", "total_rentals")])
        daily = {str(r["payment_date"]): [r["total_transactions"], r["total_revenue"]]
                 for r in gold["daily_revenue"].collect()}
        add("gold.daily_revenue", daily, g["daily_revenue"])
        add("gold.rental_trends.total_rentals",
            gold["rental_trends"].agg(F.sum("total_rentals")).first()[0],
            g["rental_trends"]["total_rentals"])
        fp = gold["film_performance"].agg(F.count(F.lit(1)), F.sum("total_rentals")).first()
        add("gold.film_performance", [fp[0], fp[1]],
            [g["film_performance"]["rows"], g["film_performance"]["total_rentals"]])
        films = spark.read.parquet(os.path.join(self.silver, "film"))
        got = {r["film_id"]: r["description"] for r in films.collect()}
        res.append({"check": "silver.film.description == corpus",
                    "ok": got == self.docs_py, "got": len(got), "want": len(self.docs_py)})
        return res

    def _check_store(self) -> list[dict]:
        """The first request of each route, answered by the running server
        and by the lake path at the exported snapshot."""
        sample: dict[str, dict] = {}
        for route, body in self.requests[:len(ROUTE_CYCLE)]:
            sample.setdefault(route, body)
        res = []
        for route, body in sample.items():
            t = time.perf_counter()
            entry = {"check": f"store{route}", "request": body}
            try:
                status, payload, _ = self.send(route, body)
                entry["status"] = status
                ok = status == 200 and self._same_as_lake(
                    route, body, [tuple(r) for r in payload["rows"]])
            except Exception as exc:  # a failing request is a failed check
                ok, entry["error"] = False, f"{type(exc).__name__}: {exc}"[:300]
            entry.update(ok=ok, seconds=time.perf_counter() - t)
            res.append(entry)
        return res

    def _same_as_lake(self, route: str, body: dict, rows: list[tuple]) -> bool:
        from medallion_data_lake_spark.operators.ann import search_index
        from medallion_data_lake_spark.operators.hybrid import hybrid_search
        from medallion_data_lake_spark.operators.inverted_index import (
            bm25_search,
            phrase_search,
        )
        from pyspark.sql import functions as F

        spark = self.spark
        if route == "/search":
            lake = [(r["doc_id"], r["n_terms_matched"], r["score"])
                    for r in bm25_search(spark, self.index, body["terms"],
                                         k=K, pins=self.pins).collect()]
            return ([r[:2] for r in rows] == [r[:2] for r in lake]
                    and all(abs(a[2] - b[2]) < 1e-9 for a, b in zip(rows, lake)))
        if route == "/phrase":
            df, _ = phrase_search(spark, self.index, self.docs, body["phrase"],
                                  pins=self.pins)
            return set(rows) == {(r["doc_id"], r["n_matches"]) for r in df.collect()}
        if route == "/similar":
            qvec = self.emb.filter(F.col("vec_id") == body["vec_id"])
            lake = [(r["cand_id"], r["rank"]) for r in search_index(
                spark, self.ivf, qvec, n_probes=N_PROBES, k=K).collect()]
            return rows == sorted(lake, key=lambda t: t[1])
        lake = [(r["doc_id"], r["kw_rank"], r["vec_rank"], r["rrf_score"])
                for r in hybrid_search(
                    spark, self.index, self.emb, body["terms"], body["vec_id"],
                    k=K, vec_index=self.ivf, n_probes=N_PROBES,
                    pins=self.pins).collect()]
        return ([r[:3] for r in rows] == [r[:3] for r in lake]
                and all(abs(a[3] - b[3]) < 1e-12 for a, b in zip(rows, lake)))

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()
            self.thread.join(timeout=30)
        store = getattr(self, "store", None)
        if store is not None:
            store.close()


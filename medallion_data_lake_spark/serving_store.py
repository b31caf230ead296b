"""Serving store: sub-second request serving from an exported SQL
store — no Spark job per request.

The warm Spark session (operators/search_session.py) floors at ~1s per
request at local[32] because every request is still a Spark job:
scheduler + task launch + shuffle machinery, however small the data.
The reference's answer is a serving TIER — gold tables exported to
Postgres and queried directly ("sub-second response times",
reference ``sakila-data-lake/gold_postgress/fast_query.py:1-4``; the
export at ``gold_to_postgres.py:33-58``). This module is that tier,
Spark-first:

- the EXPORT runs through the distributed JDBC sink
  (:func:`sources.sinks.write_jdbc` — executor-parallel inserts, no
  ``toPandas`` hop, S10), reading every index table at ONE committed
  snapshot (:func:`operators.inverted_index.committed_index_snapshot`),
  so the store is a transaction-consistent cut of the lake;
- REQUESTS run over a plain ``java.sql`` connection through the
  driver JVM — one prepared statement, no Spark plan, no job. The
  store carries everything per-request scoring needs precomputed by
  Spark at export time (idf per term, corpus avgdl), so the request
  SQL evaluates only IEEE double arithmetic identical to the lake
  plan's (:func:`operators.inverted_index.bm25_term_score` — same ops,
  same order). Each result crosses the py4j bridge as ONE call: a small
  JVM helper (:data:`_FETCH_SRC`, compiled once per JVM) executes the
  bound statement and returns the whole bounded result pickled, the
  way psycopg2 fetches a statement's result at once.

At 100 TB the shape is unchanged: the export is a bounded distributed
write (postings/doclens are index tables that track the corpus's
vocabulary and document count, not raw bytes), the store is Postgres/
MySQL behind the same JDBC URL, and request latency is the store's
indexed-lookup latency — independent of corpus scale for point/top-k
shapes. Embedded Derby (in every pyspark distribution) stands in for
the server database here, exactly as tests/test_jdbc.py does for the
ingest side.

Consistency contract: the store equals the lake AT THE EXPORTED
SNAPSHOT (pins recorded in the ``mdls_store_manifest`` table). Lake
appends after export are invisible until the next export — the same
read-lease semantics as ``WarmSearchSession.refresh()``.

r14 extends the tier to EVERY hot search shape — positional-bigram
phrase (zero residual re-read), precomputed-kNN-graph /similar, and a
driver-side RRF /hybrid over the two store branches — plus an
INCREMENTAL export that advances the store from the versioned change
feed under a two-level ε-rule (global totals + per-term df) instead of
a full re-export per append; the kNN graph advances EXACTLY via
cell-localized recomputes (:func:`export_vector_store_incremental`).

Proven by tests/test_serving_store.py (store ≡ lake per shape at the
pinned snapshot, gold roundtrip, staleness lease, zero-job assertions,
incremental append/ε/noop cycle); measured by
scripts/measure_serving_store.py and scripts/measure_store_routes.py
(per-route store p50 vs warm-Spark p50; incremental vs full export —
SCALE.md rounds 13–14).
"""

from __future__ import annotations

import functools
import json
import pickle
import re
import time
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.inverted_index import (
    _CORPUS,
    _DOCLENS,
    _POSTINGS,
    _TERMSTATS,
    _t,
    BM25_B,
    BM25_K1,
    bigram_tokens,
    bm25_idf,
    bm25_term_score,
    clean_tokens,
    committed_index_snapshot,
)
from .operators.versioned import read_table
from .serving_http import field
from .session import local_frame
from .sources.sinks import write_jdbc

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
ROW_CAP = 10_000  # same driver-side bound as serving.py

# Store-side table names (one namespace per store database).
T_POSTINGS = "mdls_postings"
T_TERMSTATS = "mdls_termstats"
T_CORPUS = "mdls_corpus"
T_MANIFEST = "mdls_store_manifest"
T_BIGRAM_POS = "mdls_bigram_pos"    # positional bigrams: phrase serving
T_NEIGHBORS = "mdls_neighbors"      # precomputed kNN graph: /similar
T_VEC_MANIFEST = "mdls_vec_manifest"
T_VEC_IDS = "mdls_vec_ids"          # exported query-id ledger (empty lists too)

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    """Identifiers (table/column names) are interpolated into DDL/SQL —
    never accept free text."""
    if not _IDENT.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


class ServingStore:
    """A driver-side ``java.sql`` connection to the exported store.

    Every request is one prepared statement on the JVM — no Spark job,
    no scheduler, no shuffle. py4j round-trips are the residual cost:
    ONE per statement (:meth:`query`), which binds the parameters and
    returns the whole bounded result, whatever its row count.

    The connection is NOT thread-safe (JDBC connections never are):
    one thread at a time uses a store. The HTTP layer runs every store
    request on its one store thread."""

    def __init__(self, spark: SparkSession, url: str,
                 driver: str | None = DERBY_DRIVER):
        self.spark = spark
        self.url = url
        jvm = spark._jvm
        if driver:
            # Embedded drivers may not be DriverManager-registered yet.
            jvm.java.lang.Class.forName(driver)
        self._conn = jvm.java.sql.DriverManager.getConnection(url)
        self._fetch = _fetcher(spark.sparkContext._gateway)
        # prepared-statement cache (r16): statement COMPILE is the
        # store's per-request fixed cost (~10-25 ms measured on the 50k
        # clone — larger than executing a bounded probe); the request
        # SQL is a small fixed family of shapes parameterized by `?`,
        # so caching by SQL text amortizes the compile across requests.
        # Bounded FIFO: id-list statements (pruned bm25 phase 2) vary
        # by text and would otherwise grow the cache without limit.
        self._ps_cache: dict[str, object] = {}
        self._ps_cache_max = 64
        # which path answered the last bm25 request ("pruned" | "full")
        # and cumulative counts — measurement/test introspection only;
        # response shapes are unchanged
        self.last_bm25_mode: str | None = None
        self.bm25_stats = {"pruned": 0, "full": 0}

    # -- plumbing -----------------------------------------------------------

    def close(self) -> None:
        for ps in self._ps_cache.values():
            try:
                ps.close()
            except Exception:
                pass
        self._ps_cache.clear()
        try:
            self._conn.close()
        except Exception:
            pass

    def __enter__(self) -> "ServingStore":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def execute(self, sql: str) -> None:
        """DDL / maintenance statement (CREATE INDEX, DELETE...)."""
        st = self._conn.createStatement()
        try:
            st.execute(sql)
        finally:
            st.close()

    def query(self, sql: str, params: list | None = None,
              max_rows: int = ROW_CAP) -> dict:
        """Run one (optionally prepared) statement, return the bounded
        result as {"columns", "rows", "row_count"} — the same shape the
        HTTP layer's run_bounded_df emits. The parameters go to the JVM
        helper (:data:`_FETCH_SRC`) as one pickle, and it binds them,
        executes and returns the result in the same py4j call. An int
        outside the signed 64-bit range raises there, never binding a
        truncated value."""
        n = max(1, min(int(max_rows), ROW_CAP))
        ps = self._ps_cache.pop(sql, None)
        if ps is None:
            ps = self._conn.prepareStatement(sql)
        # bool, int and float bind as they are; anything else as its str
        bound = pickle.dumps([p if isinstance(p, (bool, int, float))
                              else str(p) for p in params or []])
        try:
            # the pickle is our own helper's output: scalars and lists
            labels, rows = pickle.loads(self._fetch.fetch(ps, n, bound))
            out = {"columns": [c.lower() for c in labels],
                   "rows": [[_plain(v) for v in r] for r in rows],
                   "row_count": len(rows)}
        except Exception:
            try:
                ps.close()
            except Exception:
                pass
            raise
        # return the statement to the cache (re-insert = FIFO refresh)
        self._ps_cache[sql] = ps
        if len(self._ps_cache) > self._ps_cache_max:
            old_sql, old_ps = next(iter(self._ps_cache.items()))
            del self._ps_cache[old_sql]
            try:
                old_ps.close()
            except Exception:
                pass
        return out

    # -- search surface -------------------------------------------------

    def bm25(self, terms: list[str], k: int = 10) -> dict:
        """Top-``k`` Okapi BM25 from the exported index — ONE
        covering-index scan + group-by, zero joins.

        The per-(term, doc) BM25 contribution ("impact") was
        precomputed BY SPARK at export with the exact
        :func:`bm25_term_score` expression the lake plan evaluates —
        every score component (tf, dl, avgdl, idf) is frozen at the
        exported snapshot, so materializing the product is pure
        denormalization, the impact-ordered-postings trick every
        serving-grade index (e.g. Lucene impacts) uses. The per-doc sum
        goes through the same ``decimal(28,12)`` order-independence
        cast as the lake plan. Result columns match ``bm25_search``:
        (doc_id, n_terms_matched, score).

        k1/b live in the exported impacts; a different (k1, b) needs a
        re-export, the same way it needs a re-scan in the lake.

        r16: requests first try the PRUNED probe-and-cut path
        (:meth:`_bm25_pruned` — impact-ordered early termination, the
        Lucene-impacts trick the docstring above alludes to), which is
        provably exact whenever it returns; every other case falls back
        to this full covering-index group-by. ``last_bm25_mode`` /
        ``bm25_stats`` record which path answered."""
        terms = sorted(set(terms))
        if not terms:
            raise ValueError("bm25 needs at least one query term")
        k = max(1, min(int(k), ROW_CAP))
        out = self._bm25_pruned(terms, k)
        if out is not None:
            self.last_bm25_mode = "pruned"
            self.bm25_stats["pruned"] += 1
            return out
        self.last_bm25_mode = "full"
        self.bm25_stats["full"] += 1
        return self._bm25_full(terms, k)

    def _bm25_full(self, terms: list[str], k: int) -> dict:
        """The original exhaustive form: ONE covering-index scan of
        every query term's full posting list + group-by. Always exact;
        cost tracks the terms' total posting mass."""
        marks = ", ".join("?" for _ in terms)
        sql = _bm25_top_sql(
            f'FROM {T_POSTINGS} p WHERE p."term" IN ({marks})', k)
        return self.query(sql, list(terms), max_rows=k)

    # pruned-path tuning — conservatism knobs, never correctness:
    # PRUNE_CAND_CAP bounds the server-side candidate set the final
    # statement re-scores; PRUNE_K_MAX skips pruning for deep result
    # pages (probes fetch k rows/term); PRUNE_MIN_DF skips it when the
    # query terms' total posting mass is already small enough that the
    # exhaustive covering-index scan is the cheaper plan.
    PRUNE_CAND_CAP = 2048
    PRUNE_K_MAX = 256
    PRUNE_MIN_DF = 3000

    def _derby_hints(self) -> bool:
        """Pruning needs the r16 impact-ordered index and (on Derby)
        optimizer overrides naming it; a store exported before r16 has
        neither — memoized metadata probe, no per-request cost."""
        if getattr(self, "_prune_ready", None) is None:
            ready = False
            if self.url.startswith("jdbc:derby"):
                rs = self._conn.getMetaData().getIndexInfo(
                    None, None, T_POSTINGS.upper(), False, False)
                while rs.next():
                    if (rs.getString("INDEX_NAME") or "").upper() \
                            == "IDX_POSTINGS_IMPACT":
                        ready = True
                rs.close()
            self._prune_ready = ready
        return self._prune_ready

    def _bm25_pruned(self, terms: list[str], k: int) -> dict | None:
        """Impact-ordered early termination (r16 — the MaxScore/WAND
        family every serving-grade index uses, e.g. Lucene impacts),
        EXACT by construction: returns None whenever exactness cannot
        be proven and :meth:`bm25` falls back to the full scan.

        Bounded phases, every statement prepared-and-cached, and NO
        candidate row ever crosses into Python; candidates live only
        inside the store's engine:

        0. DISPATCH: one termstats lookup; if the query terms' total df
           is small the exhaustive scan is already index-bounded and
           cheaper — skip pruning.
        1. PROBE: top-``k`` postings per term in impact order (walks
           the (term, impact DESC, doc_id) index). Yields per-term max
           impacts M_t and partial sums; θ₀ = k-th best partial.
        2. SPLIT (MaxScore): ascending by M_t, terms whose M_t sum
           stays ≤ θ/2 are SKIPPED — a doc matching only those cannot
           reach θ — and the remaining budget spreads uniformly over
           the essential terms: c = (θ − ΣM_skipped)/n_ess. A doc
           outside the candidate union then scores < ΣM_skipped +
           n_ess·c = θ ≤ s_k.
        3. COUNT GUARD, per leg and CAPPED: each essential term's
           impact ≥ c range is counted through a FETCH-capped derived
           table, so a hopeless (flat-impact stopword) cut costs a
           ≤cap-entry index walk, never a full range scan. Overflow →
           one REFINE attempt (below), then full scan.
        4. REFINE (only when the θ₀ cut overflowed; multi-term only):
           exact re-score of the probed docs (VALUES join, identical
           decimal arithmetic) lifts θ to the k-th best EXACT score
           among probed docs — still a lower bound of the true s_k,
           but no longer hostage to probe overlap. θ only steers
           pruning power, never correctness; the split+count runs once
           more under the lifted θ.
        5. FINAL: one statement — candidate union as the FORCED outer
           side, postings probed per (term, doc_id) through the
           covering index, the exact full-scan aggregation/ordering on
           top. Rows returned are bit-identical to the full scan's for
           those docs (same decimal(28,12) sum, same tie-break).

        Post-hoc proof obligation: with s_k = the k-th returned score,
        ΣM_skipped + n_ess·c < s_k (minus a 1e-9 rounding guard)
        implies every excluded doc scores strictly below the k-th
        result — the candidate top-k IS the global top-k, including
        the doc_id tie-break. Fewer than k rows back, or the margin
        failing, returns None."""
        m = len(terms)
        if k > self.PRUNE_K_MAX or not self._derby_hints():
            return None
        ovi = '--DERBY-PROPERTIES index=IDX_POSTINGS_IMPACT\n'
        ovt = '--DERBY-PROPERTIES index=IDX_POSTINGS_TERM\n'
        ovj = '--DERBY-PROPERTIES joinOrder=FIXED\n'
        # phase 0: dispatch on total posting mass
        tmarks = ", ".join("?" for _ in terms)
        df_sql = (f'SELECT SUM("df") FROM {T_TERMSTATS} '
                  f'WHERE "term" IN ({tmarks})')
        tot = self.query(df_sql, list(terms), max_rows=1)["rows"]
        if not tot or tot[0][0] is None or int(tot[0][0]) < self.PRUNE_MIN_DF:
            return None
        # phase 1: per-term impact-ordered probes
        probe_sql = (
            f'SELECT p."doc_id", p."impact" FROM {T_POSTINGS} p {ovi}'
            'WHERE p."term" = ? ORDER BY p."impact" DESC '
            f"FETCH FIRST {k} ROWS ONLY"
        )
        partial: dict = {}
        mx: dict[str, float] = {}
        for t in terms:
            rows = self.query(probe_sql, [t], max_rows=k)["rows"]
            if rows:
                mx[t] = float(rows[0][1])
            for doc_id, imp in rows:
                partial[doc_id] = partial.get(doc_id, 0.0) + float(imp)
        if len(partial) < k:
            return None  # probes cannot establish a k-th threshold
        theta = sorted(partial.values(), reverse=True)[k - 1]

        cap = self.PRUNE_CAND_CAP
        leg = (f'SELECT c."doc_id" FROM {T_POSTINGS} c {ovi}'
               'WHERE c."term" = ? AND c."impact" >= ?')
        # per-leg CAPPED count: the FETCH inside the derived table
        # bounds the index walk, so detecting a hopeless cut (flat
        # impact distribution: half the term's postings above c) costs
        # ≤ cap+1 entries instead of a full range scan per request
        leg_cnt_sql = (
            f"SELECT COUNT(*) FROM ({leg} "
            f"FETCH FIRST {cap + 1} ROWS ONLY) u")

        def _split_and_count(th: float):
            """MaxScore split + capped per-leg counts at threshold th.
            Returns (cparams, n_legs, skipped_sum, c) or None when the
            cut overflows the candidate cap."""
            th_s = th - 1e-6 * (1.0 + th)
            asc = sorted(terms, key=lambda t: mx.get(t, 0.0))
            skipped_sum, n_skipped = 0.0, 0
            for t in asc[:-1]:  # at least one essential term always
                nxt = skipped_sum + mx.get(t, 0.0)
                if nxt <= th_s / 2.0:
                    skipped_sum, n_skipped = nxt, n_skipped + 1
                else:
                    break
            ess = asc[n_skipped:]
            c = (th_s - skipped_sum) / len(ess)
            if c <= 0.0:
                return None
            total = 0
            cparams: list = []
            for t in ess:
                n = int(self.query(leg_cnt_sql, [t, c],
                                   max_rows=1)["rows"][0][0])
                total += n
                if n > cap or total > cap:
                    return None  # cut overflows; θ may be refinable
                cparams += [t, c]
            return cparams, len(ess), skipped_sum, c

        # shave rationale: θ routinely EQUALS s_k (any probed doc seen
        # under all its terms — every single-term query), and the
        # post-hoc margin below must stay provable then. The shave only
        # widens the candidate set — exactness never rests on it.
        split = _split_and_count(theta) if theta > 0.0 else None
        if split is None and m > 1 \
                and all(isinstance(d, int) for d in partial):
            # θ refinement, only now that the θ₀ cut overflowed: exact
            # scores of the probed docs. For m == 1 a partial IS the
            # exact score, so refinement can never help there.
            ids = [d for d, _ in sorted(partial.items(),
                                        key=lambda kv: -kv[1])]
            ids = ids[:max(2 * k, 64)]
            bucket = 1
            while bucket < len(ids):
                bucket *= 2
            ids = ids + [ids[0]] * (bucket - len(ids))
            vmarks = ", ".join("(?)" for _ in ids)
            ref_sql = _bm25_top_sql(
                f'FROM {ovj}'
                f'(SELECT DISTINCT "c1" AS "doc_id" FROM '
                # Derby refuses an all-parameter VALUES column; the -1
                # sentinel row satisfies it and matches no doc
                f'(VALUES {vmarks}, (-1)) AS v("c1")) cand, '
                f"{T_POSTINGS} p {ovt}"
                'WHERE p."doc_id" = cand."doc_id" '
                f'AND p."term" IN ({tmarks})', k)
            ref = self.query(ref_sql, ids + list(terms),
                             max_rows=k)["rows"]
            if len(ref) >= k and float(ref[k - 1][2]) > theta:
                theta = float(ref[k - 1][2])
                split = _split_and_count(theta)
        if split is None:
            return None
        cparams, n_legs, skipped_sum, c = split
        theta_s = skipped_sum + n_legs * c  # the exclusion budget
        legs = " UNION ".join([leg] * n_legs)
        # final: exact re-score over the candidate union, which never
        # leaves the store engine
        fin_sql = _bm25_top_sql(
            f"FROM {ovj}({legs}) cand, {T_POSTINGS} p {ovt}"
            'WHERE p."doc_id" = cand."doc_id" '
            f'AND p."term" IN ({tmarks})', k)
        out = self.query(fin_sql, cparams + list(terms), max_rows=k)
        if len(out["rows"]) < k:
            # matching docs may exist outside the candidate set; only
            # the full scan can distinguish "corpus has < k matches"
            return None
        s_k = float(out["rows"][-1][2])
        if not (theta_s < s_k - 1e-9 * (1.0 + abs(s_k))):
            return None  # cannot prove excluded docs score below s_k
        return out

    def phrase(self, phrase: list[str], k: int = ROW_CAP) -> dict:
        """Exact-phrase retrieval from the exported POSITIONAL bigram
        table — zero Spark jobs, and unlike the lake's two-stage path
        (bigram-intersected candidates + re-tokenized residual) the
        store needs NO residual: ``mdls_bigram_pos`` keeps each
        bigram's 1-based start position, so a start position matching
        ALL the phrase's bigrams at consecutive offsets IS an exact
        occurrence. The m-2 self-joins below each constrain one offset;
        COUNT(*) per doc = number of start positions = the lake's
        ``n_matches`` (overlaps counted), so (doc_id, n_matches)
        equals ``phrase_search`` row-for-row at the exported snapshot.

        Cost tracks the phrase bigrams' posting lengths through the
        covering (bigram, doc_id, pos) index — corpus-size-independent
        like every store shape. Results order by doc_id (the lake's
        groupBy emits an unordered set; callers compare as sets)."""
        phrase = [str(t) for t in phrase]
        if len(phrase) < 2:
            raise ValueError("phrase needs at least two tokens")
        k = max(1, min(int(k), ROW_CAP))
        bgs = [f"{a} {b}" for a, b in zip(phrase, phrase[1:])]
        joins, params = [], []
        for i, g in enumerate(bgs[1:], start=1):
            joins.append(
                f"JOIN {T_BIGRAM_POS} b{i} ON "
                f'b{i}."doc_id" = b0."doc_id" AND '
                f'b{i}."pos" = b0."pos" + {i} AND b{i}."bigram" = ?'
            )
            params.append(g)
        params.append(bgs[0])
        sql = (
            'SELECT b0."doc_id", COUNT(*) AS n_matches '
            f"FROM {T_BIGRAM_POS} b0 " + " ".join(joins) +
            f' WHERE b0."bigram" = ? GROUP BY b0."doc_id" '
            f"ORDER BY 1 ASC FETCH FIRST {k} ROWS ONLY"
        )
        return self.query(sql, params, max_rows=k)

    def vec_manifest(self) -> dict:
        """The vector export's recorded (mode, k_max, n_probes)."""
        if getattr(self, "_vec_meta", None) is None:
            out = self.query(f'SELECT "meta" FROM {T_VEC_MANIFEST}')
            self._vec_meta = (
                json.loads(out["rows"][0][0]) if out["rows"] else {}
            )
        return self._vec_meta

    def similar(self, vec_id: int, k: int = 10) -> dict:
        """Top-``k`` stored-vector neighbors of ``vec_id`` — ONE
        indexed point read on the precomputed kNN graph
        (operators/knn_graph.py), no scoring at request time. Columns
        (vec_id, rank) match the warm session's ``similar()``; equality
        with the online path is the graph builder's contract (exact
        ``cosine_topn`` for the brute graph, ``search_index``-identical
        probes for the IVF graph). ``k`` beyond the exported ``k_max``
        refuses loudly — the store cannot invent neighbors it never
        computed; re-export with a larger k_max."""
        meta = self.vec_manifest()
        k = max(1, min(int(k), ROW_CAP))
        k_max = int(meta.get("k_max", 0))
        if k > k_max:
            raise ValueError(
                f"store neighbor lists were exported at k_max={k_max}; "
                f"k={k} exceeds them — re-export the vector store with "
                "a larger k_max (the store serves only what was "
                "precomputed)"
            )
        sql = (
            'SELECT "cand_id" AS "vec_id", "rank" '
            f'FROM {T_NEIGHBORS} WHERE "vec_id" = ? AND "rank" <= ? '
            'ORDER BY "rank" ASC'
        )
        return self.query(sql, [int(vec_id), k], max_rows=k)

    def hybrid(self, terms: list[str], vec_id: int, k: int = 10,
               n_per_branch: int = 20, rrf_k: int = 60) -> dict:
        """RRF fusion of the two STORE branches — both zero-Spark-job —
        with the exact arithmetic of ``operators.hybrid.hybrid_search``
        (tests prove row-equality at the exported snapshot):

        - keyword branch: :meth:`bm25` top-``n_per_branch`` (selection
          by the decimal-sum order, exactly the lake's ``limit``), then
          ranks assigned by (double score desc, doc_id asc) — the
          lake's ``ranked()`` window verbatim;
        - vector branch: :meth:`similar` top-``n_per_branch`` (ranks
          precomputed in the graph);
        - fusion: ``(0.0 + 1/(rrf_k+kw_rank)) + 1/(rrf_k+vec_rank)``
          per doc (absent branch contributes 0.0), IEEE doubles in the
          lake plan's association order, sorted score desc / id asc.

        The fuse itself is a ≤2·n_per_branch-row list merge — driver
        arithmetic on request-bounded data, the same "metadata scale"
        argument as the lake's full-outer join of two tiny frames."""
        n = max(1, min(int(n_per_branch), ROW_CAP))
        k = max(1, min(int(k), ROW_CAP))
        kw_out = self.bm25(list(terms), k=n)
        kw_rows = sorted(kw_out["rows"], key=lambda r: (-r[2], r[0]))
        kw_rank = {r[0]: i + 1 for i, r in enumerate(kw_rows)}
        vec_out = self.similar(int(vec_id), k=n)
        vec_rank = {r[0]: r[1] for r in vec_out["rows"]}
        fused = []
        for d in set(kw_rank) | set(vec_rank):
            t_kw = 1.0 / (rrf_k + kw_rank[d]) if d in kw_rank else 0.0
            t_vec = 1.0 / (rrf_k + vec_rank[d]) if d in vec_rank else 0.0
            fused.append(
                [d, kw_rank.get(d), vec_rank.get(d), (0.0 + t_kw) + t_vec]
            )
        fused.sort(key=lambda r: (-r[3], r[0]))
        rows = fused[:k]
        return {"columns": ["doc_id", "kw_rank", "vec_rank", "rrf_score"],
                "rows": rows, "row_count": len(rows)}

    def table_names(self) -> set[str]:
        """Lower-cased table names present in the store database."""
        md = self._conn.getMetaData()
        rs = md.getTables(None, None, "%", None)
        out: set[str] = set()
        while rs.next():
            out.add(rs.getString("TABLE_NAME").lower())
        rs.close()
        return out

    def routes(self) -> set[str]:
        """Which HTTP search routes this store can answer, from which
        export artifacts are present (memoized — exports after open
        need a new ServingStore or ``self._routes = None``)."""
        if getattr(self, "_routes", None) is None:
            t = self.table_names()
            r: set[str] = set()
            if T_POSTINGS in t:
                r.add("/search")
            if T_BIGRAM_POS in t:
                r.add("/phrase")
            if T_NEIGHBORS in t:
                r.add("/similar")
            if T_POSTINGS in t and T_NEIGHBORS in t:
                r.add("/hybrid")
            self._routes = r
        return self._routes

    def gold_topk(self, table: str, order_col: str, k: int = 10,
                  desc: bool = True) -> dict:
        """Ordered top-k over an exported gold table (the canonical
        dashboard shape the reference serves from Postgres)."""
        t, c = _check_ident(table), _check_ident(order_col)
        k = max(1, min(int(k), ROW_CAP))
        d = "DESC" if desc else "ASC"
        return self.query(
            f'SELECT * FROM {t} ORDER BY "{c}" {d} '
            f"FETCH FIRST {k} ROWS ONLY",
            max_rows=k,
        )

    def gold_point(self, table: str, key_col: str, key) -> dict:
        """Indexed point lookup on an exported gold table."""
        t, c = _check_ident(table), _check_ident(key_col)
        return self.query(f'SELECT * FROM {t} WHERE "{c}" = ?', [key])

    def manifest(self) -> dict:
        """The export's snapshot pins (the store's consistency cut)."""
        out = self.query(f'SELECT "pins" FROM {T_MANIFEST}')
        return json.loads(out["rows"][0][0]) if out["rows"] else {}


def _bm25_top_sql(source: str, k: int) -> str:
    """The top-``k`` (doc_id, n_terms_matched, score) of the postings
    that ``source`` (a FROM ... WHERE clause over postings ``p``)
    selects: the full scan, the pruned path's final statement and its
    refine step share it. The decimal(28,12) sum is aggregated once, in
    a derived table, and the rows are ordered by it before the cast to
    double: the lake plan orders by the decimal sum, so ordering the
    double could rank two docs differently at the k boundary when
    their decimal scores differ below double precision (r13 advice).
    Spark's JDBC writer creates QUOTED lower-case columns and Derby
    folds unquoted identifiers to upper case, so every exported column
    stays quoted."""
    return (
        'SELECT t."doc_id", t.n_terms_matched, '
        "CAST(t.s AS DOUBLE) AS score FROM ("
        'SELECT p."doc_id", COUNT(*) AS n_terms_matched, '
        'SUM(CAST(p."impact" AS DECIMAL(28,12))) AS s '
        f'{source} GROUP BY p."doc_id") t '
        f'ORDER BY t.s DESC, t."doc_id" ASC FETCH FIRST {k} ROWS ONLY'
    )


def _plain(v):
    """A fetched cell → JSON-safe Python value: a SQL DECIMAL becomes
    an int when its text is integral, else a float."""
    if not isinstance(v, Decimal):
        return v
    try:
        return int(str(v))
    except ValueError:
        return float(v)


# The JVM side of ServingStore.query: bind the pickled parameter list
# by type (bool, double, long, string; an int past 64 bits unpickles
# as a BigInteger, whose longValueExact raises instead of truncating),
# execute, read at most `max` rows, close the ResultSet and return
# [labels, rows] as one pickle (Pyrolite, the pickler PySpark itself
# uses). Cells that py4j would hand over as Python ints, floats, bools
# and strs pass through (a REAL is widened through its text, as py4j
# does, so 0.1f reads 0.1); DECIMAL stays a BigDecimal (Python:
# decimal.Decimal); any other value (DATE, TIMESTAMP, ...) is sent as
# its toString().
_FETCH_SRC = """
public class ServingStoreFetch {
  public byte[] fetch(java.sql.PreparedStatement ps, int max,
      byte[] params) throws Exception {
    java.util.List values =
        (java.util.List) new net.razorvine.pickle.Unpickler().loads(params);
    for (int i = 0; i < values.size(); i++) {
      bind(ps, i + 1, values.get(i));
    }
    ps.setMaxRows(max);
    java.sql.ResultSet rs = ps.executeQuery();
    try {
      java.sql.ResultSetMetaData md = rs.getMetaData();
      int n = md.getColumnCount();
      java.util.ArrayList labels = new java.util.ArrayList();
      for (int c = 1; c <= n; c++) labels.add(md.getColumnLabel(c));
      java.util.ArrayList rows = new java.util.ArrayList();
      while (rows.size() < max && rs.next()) {
        Object[] row = new Object[n];
        for (int c = 1; c <= n; c++) row[c - 1] = plain(rs.getObject(c));
        rows.add(row);
      }
      return new net.razorvine.pickle.Pickler().dumps(
          new Object[] {labels, rows});
    } finally {
      rs.close();
    }
  }

  private static void bind(java.sql.PreparedStatement ps, int i, Object v)
      throws Exception {
    if (v instanceof Boolean) {
      ps.setBoolean(i, ((Boolean) v).booleanValue());
    } else if (v instanceof Double) {
      ps.setDouble(i, ((Double) v).doubleValue());
    } else if (v instanceof Integer || v instanceof Long) {
      ps.setLong(i, ((Number) v).longValue());
    } else if (v instanceof java.math.BigInteger) {
      ps.setLong(i, ((java.math.BigInteger) v).longValueExact());
    } else {
      ps.setString(i, (String) v);
    }
  }

  private static Object plain(Object v) {
    if (v == null || v instanceof Long || v instanceof Integer
        || v instanceof Short || v instanceof Byte || v instanceof Double
        || v instanceof Boolean || v instanceof String
        || v instanceof java.math.BigDecimal) return v;
    if (v instanceof Float) return Double.valueOf(v.toString());
    return v.toString();
  }
}
"""


@functools.cache
def _fetcher(gateway):
    """The :data:`_FETCH_SRC` helper in ``gateway``'s JVM, compiled by
    Janino (the compiler behind Spark's codegen) once per JVM; the
    helper holds no state, so every store on that JVM shares it."""
    jc = gateway.jvm.org.codehaus.janino.SimpleCompiler()
    jc.cook(_FETCH_SRC)
    return jc.getClassLoader().loadClass("ServingStoreFetch").newInstance()


def _bigram_positions(docs: DataFrame, doc_id_col: str,
                      doc_text_col: str) -> DataFrame:
    """(bigram, doc_id, pos) — positional adjacent bigrams, 1-based to
    align with the lake residual's ``sequence(1, ...)`` start
    positions. THE single definition for the full and incremental
    exports: store n_matches equals phrase_position_hits' only while
    both write exactly this shape."""
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        clean_tokens(F.col(doc_text_col)).alias("_toks"),
    )
    return toks.select(
        "doc_id",
        F.posexplode(bigram_tokens(F.col("_toks"))).alias("pos", "bigram"),
    ).select("bigram", "doc_id", (F.col("pos") + 1).alias("pos"))


def export_search_store(
    spark: SparkSession,
    index_root: str,
    url: str,
    driver: str | None = DERBY_DRIVER,
    pins: dict[str, int] | None = None,
    term_width: int = 256,
    k1: float = BM25_K1,
    b: float = BM25_B,
    docs: DataFrame | None = None,
    doc_id_col: str = "doc_id",
    doc_text_col: str = "text",
    allow_stale_vectors: bool = False,
) -> dict[str, int]:
    """Export a BM25 index's serving projection to the SQL store, all
    tables read at ONE committed snapshot:

    - ``mdls_postings (term, doc_id, tf, impact)`` — ``impact`` is the
      per-(term, doc) BM25 contribution PRECOMPUTED by Spark with the
      exact :func:`bm25_term_score` expression the lake plan uses
      (every component — tf, dl, avgdl, idf — is frozen at the
      snapshot, so this is pure denormalization: a request needs NO
      joins, just the covering index on (term, doc_id, impact));
    - ``mdls_termstats (term, df, idf)`` — the per-term audit view
      (:func:`bm25_idf`, same expression as the lake);
    - ``mdls_corpus (n_docs, avgdl)`` — 1 row, the folded totals;
    - ``mdls_store_manifest (pins)`` — the exported versions, JSON;
    - ``mdls_bigram_pos (bigram, doc_id, pos)`` — POSITIONAL adjacent
      bigrams (1-based start position, aligned with the lake residual's
      ``sequence(1, …)``), exported only when ``docs`` is passed: the
      zero-Spark-job ``/phrase`` tier (r13 verdict #1). Positions are
      what let the store answer EXACTLY without re-reading any text —
      the standard positional-postings trade: row count ≈ token count,
      the same order as the postings table itself. ``docs`` must be the
      corpus AT THE PINNED SNAPSHOT (the caller pins, exactly like
      ``WarmSearchSession(docs=…)``) or store and lake answers diverge.

    The impact join runs IN SPARK at export time (distributed), which
    is the whole design: per-request work in the store is an indexed
    scan bounded by the query terms' posting lengths, independent of
    corpus size. String columns get explicit VARCHAR DDL: Spark's
    Derby dialect defaults StringType to CLOB, which Derby can neither
    index nor compare in a WHERE clause. Returns the pins."""
    pins = pins or committed_index_snapshot(index_root)
    if pins is None:
        raise ValueError(
            f"index at {index_root} has no committed append txn; "
            "nothing consistent to export"
        )
    # full-export staleness guard (r15, closes the r14 ADVICE medium):
    # this export refreshes postings/termstats/corpus AND the manifest,
    # but a store that already carries the phrase or kNN-graph tables
    # would keep serving THOSE at the old snapshot under the new
    # manifest — /phrase, /similar and /hybrid's vector branch silently
    # stale. Mirror the incremental path's guard: refuse unless the
    # matching source is supplied (docs= re-exports the phrase tier) or
    # the caller explicitly accepts the skew / refreshes vectors next.
    with ServingStore(spark, url, driver=driver) as _probe:
        _existing = _probe.table_names()
    if T_BIGRAM_POS in _existing and docs is None:
        raise ValueError(
            "store already carries the positional bigram table; a full "
            "export without docs= would leave /phrase serving the OLD "
            "snapshot under the new manifest — pass docs= (the corpus "
            "at the pinned snapshot) or drop the table first"
        )
    if T_NEIGHBORS in _existing and not allow_stale_vectors:
        raise ValueError(
            "store already carries the kNN-graph tables; a full BM25 "
            "export would leave /similar and /hybrid's vector branch "
            "serving the OLD snapshot — re-run export_vector_store "
            "afterwards (CLI: --embeddings/--vec-index in the same "
            "export-store call), or pass allow_stale_vectors=True to "
            "accept the skew knowingly"
        )
    postings = read_table(
        spark, _t(index_root, _POSTINGS), version=pins.get(_POSTINGS)
    ).select("term", "doc_id", "tf")
    doclens = read_table(
        spark, _t(index_root, _DOCLENS), version=pins.get(_DOCLENS)
    ).select("doc_id", "dl")
    corpus_row = read_table(
        spark, _t(index_root, _CORPUS), version=pins.get(_CORPUS)
    ).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    ).select(
        "n_docs",
        (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"),
    )
    totals = corpus_row.first()
    if totals is None or not totals["n_docs"]:
        # an empty-but-committed index folds to NULL totals; int(None)
        # would crash opaquely rows deep instead of stating the problem
        raise ValueError(
            f"index at {index_root} has no documents at the committed "
            "snapshot; nothing to export"
        )
    n_docs, avgdl = int(totals["n_docs"]), float(totals["avgdl"])
    termstats = (
        read_table(
            spark, _t(index_root, _TERMSTATS), version=pins.get(_TERMSTATS)
        )
        .groupBy("term")
        .agg(F.sum("df_delta").cast("long").alias("df"))
        .select(
            "term", "df",
            bm25_idf(F.lit(n_docs), F.col("df")).alias("idf"),
        )
    )
    # materialize the per-(term, doc) impact: broadcast the
    # vocabulary-bounded termstats, shuffle-join doclens on doc_id —
    # the same join shape the lake search plan evaluates per query,
    # paid ONCE here instead
    impacts = (
        postings.join(F.broadcast(termstats.select("term", "idf")), "term")
        .join(doclens, "doc_id")
        .select(
            "term", "doc_id", "tf",
            bm25_term_score(
                F.col("tf"), F.col("dl"), F.lit(avgdl), F.col("idf"),
                k1, b,
            ).alias("impact"),
        )
    )
    vc = f"VARCHAR({int(term_width)})"
    write_jdbc(impacts, url, T_POSTINGS, driver=driver,
               createTableColumnTypes=f"term {vc}")
    write_jdbc(termstats, url, T_TERMSTATS, driver=driver,
               createTableColumnTypes=f"term {vc}")
    write_jdbc(corpus_row, url, T_CORPUS, driver=driver)
    manifest = local_frame(spark, [(json.dumps(pins),)], "pins string")
    write_jdbc(manifest, url, T_MANIFEST, driver=driver,
               createTableColumnTypes="pins VARCHAR(4096)")
    stat_tables = [T_POSTINGS, T_TERMSTATS]
    if docs is not None:
        bpos = _bigram_positions(docs, doc_id_col, doc_text_col)
        # bigram width: two terms + the joining space
        write_jdbc(bpos, url, T_BIGRAM_POS, driver=driver,
                   createTableColumnTypes=(
                       f"bigram VARCHAR({2 * int(term_width) + 1})"))
        stat_tables.append(T_BIGRAM_POS)
    with ServingStore(spark, url, driver=driver) as store:
        # covering index: the bm25 statement reads (term, doc_id,
        # impact) and nothing else — Derby answers it index-only
        store.execute(
            f"CREATE INDEX idx_postings_term ON "
            f'{T_POSTINGS}("term", "doc_id", "impact")')
        # impact-ordered covering index (r16): the pruned bm25 path's
        # probes (top-k impacts per term) and cuts (impact >= c range
        # scans) walk this index instead of sorting the term's whole
        # posting list; Derby maintains it through the incremental
        # export's DML like any other index
        store.execute(
            f"CREATE INDEX idx_postings_impact ON "
            f'{T_POSTINGS}("term", "impact" DESC, "doc_id")')
        store.execute(
            f'CREATE INDEX idx_termstats_term ON {T_TERMSTATS}("term")')
        if docs is not None:
            # covering for the phrase self-join: every join leg reads
            # (bigram, doc_id, pos) and nothing else
            store.execute(
                f"CREATE INDEX idx_bigram_pos ON "
                f'{T_BIGRAM_POS}("bigram", "doc_id", "pos")')
        # give the optimizer real cardinalities for the fresh tables —
        # Derby has no auto-analyze, so call its system procedure; any
        # other engine (Postgres/MySQL behind the same URL) autovacuums
        # or ANALYZEs on its own and has no SYSCS_UTIL schema
        if driver == DERBY_DRIVER:
            for t in stat_tables:
                store.execute(
                    "CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS"
                    f"('APP', '{t.upper()}', NULL)")
    return pins


def export_vector_store(
    spark: SparkSession,
    url: str,
    embeddings: DataFrame | None = None,
    vec_index: str | None = None,
    k_max: int = 20,
    n_probes: int = 4,
    driver: str | None = DERBY_DRIVER,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Export the precomputed kNN graph that arms the store's
    ``/similar`` (and the hybrid vector branch) — r13 verdict #1, the
    vector leg. Pass exactly one source:

    - ``embeddings=`` → :func:`operators.knn_graph.knn_graph_bruteforce`
      (EXACT; ``store.similar(q, k)`` ≡ ``cosine_topn(emb, q, k)`` ≡ a
      warm session opened without a vector index);
    - ``vec_index=`` → :func:`operators.knn_graph.knn_graph_ivf` at
      ``n_probes`` (``store.similar(q, k)`` ≡
      ``ann.search_index(q, n_probes=n_probes, k=k)`` ≡ a warm session
      opened WITH that index — the store inherits the index's measured
      recall profile, trading it for corpus-size-independent requests).

    The graph build is the export's distributed cost (linear output:
    n·k_max rows); requests are indexed point reads on
    ``mdls_neighbors (vec_id, rank, cand_id)``. ``mdls_vec_manifest``
    records (mode, k_max, n_probes) so :meth:`ServingStore.similar`
    can refuse k beyond what was precomputed instead of silently
    truncating. Returns that manifest dict."""
    from .operators.knn_graph import knn_graph_bruteforce, knn_graph_ivf

    if (embeddings is None) == (vec_index is None):
        raise ValueError("pass exactly one of embeddings= or vec_index=")
    if vec_index is not None:
        from .operators.ann import _mask_tombstones, read_tombstones

        # ONE tombstone-masked read of the index feeds both the graph and
        # the query-id ledger: each spark.read.parquet of the bucket
        # layout runs its own partition-discovery job
        live = _mask_tombstones(
            spark.read.parquet(vec_index), read_tombstones(spark, vec_index)
        )
        graph = knn_graph_ivf(spark, vec_index, k_max=k_max,
                              n_probes=n_probes, live_df=live)
        meta = {"mode": "ivf", "k_max": int(k_max),
                "n_probes": int(n_probes), "vec_index": vec_index}
    else:
        graph = knn_graph_bruteforce(embeddings, k_max=k_max,
                                     id_col=id_col, vec_col=vec_col)
        meta = {"mode": "bruteforce", "k_max": int(k_max)}
    write_jdbc(graph, url, T_NEIGHBORS, driver=driver)
    # the exported QUERY-ID ledger: a vector with an EMPTY list (no
    # candidate in its probe cells) writes no neighbor rows, so the
    # neighbors table alone cannot distinguish "exported empty" from
    # "never exported" — the incremental update needs the exact set
    if vec_index is not None:
        qids = live.select("vec_id")
    else:
        qids = embeddings.select(F.col(id_col).alias("vec_id"))
    write_jdbc(qids.distinct(), url, T_VEC_IDS, driver=driver)
    mf = local_frame(spark, [(json.dumps(meta),)], "meta string")
    write_jdbc(mf, url, T_VEC_MANIFEST, driver=driver,
               createTableColumnTypes="meta VARCHAR(1024)")
    with ServingStore(spark, url, driver=driver) as store:
        # covering: similar() reads (vec_id, rank, cand_id) only
        store.execute(
            f"CREATE INDEX idx_neighbors ON "
            f'{T_NEIGHBORS}("vec_id", "rank", "cand_id")')
        if driver == DERBY_DRIVER:
            store.execute(
                "CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS"
                f"('APP', '{T_NEIGHBORS.upper()}', NULL)")
    return meta


def export_gold_store(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    url: str,
    driver: str | None = DERBY_DRIVER,
    indexes: dict[str, str] | None = None,
    string_width: int = 256,
) -> None:
    """Export gold DataFrames to the store (distributed JDBC write) and
    index the requested lookup columns. String columns become VARCHAR
    (indexable/comparable; Derby CLOBs are neither)."""
    for name, df in tables.items():
        _check_ident(name)
        str_cols = [f.name for f in df.schema.fields
                    if f.dataType.typeName() == "string"]
        ddl = ", ".join(
            f"{_check_ident(c)} VARCHAR({int(string_width)})"
            for c in str_cols
        )
        opts = {"createTableColumnTypes": ddl} if ddl else {}
        write_jdbc(df, url, name, driver=driver, **opts)
    if indexes:
        with ServingStore(spark, url, driver=driver) as store:
            for table, col in indexes.items():
                t, c = _check_ident(table), _check_ident(col)
                store.execute(
                    f'CREATE INDEX idx_{t}_{c} ON {t}("{c}")')


def run_store_search(store, req: dict, route: str = "/search",
                     default_rows: int = 100) -> dict:
    """HTTP dispatch for the store-backed search routes — same request
    and response shapes as the warm-session ``run_search``, plus
    ``"engine": "store"`` so callers can tell which tier answered.
    Every route runs one to three prepared statements on the exported
    store (/phrase and /similar one, /search two: the df dispatch and
    the scan, /hybrid three), one py4j call each and zero Spark jobs.
    The caller owns the store's one thread (the HTTP server's store
    worker)."""
    k = max(1, min(field(req, "k", 10), ROW_CAP))
    t0 = time.time()
    if route == "/search":
        terms = field(req, "terms")
        if not terms:
            raise ValueError("body must carry {'terms': [...]}")
        out = store.bm25(terms, k=k)
    elif route == "/phrase":
        phrase = field(req, "phrase")
        if not phrase or len(phrase) < 2:
            raise ValueError(
                "body must carry {'phrase': [t1, t2, ...]} "
                "(>= 2 tokens)"
            )
        # /phrase is unranked; absent k falls back to default_rows
        # (the warm-session route's contract)
        bound = k if "k" in req else max(1, min(default_rows, ROW_CAP))
        out = store.phrase(phrase, k=bound)
        k = bound
    elif route == "/similar":
        vec_id = field(req, "vec_id")
        if vec_id is None:
            raise ValueError("body must carry {'vec_id': id}")
        out = store.similar(vec_id, k=k)
    elif route == "/hybrid":
        terms, vec_id = field(req, "terms"), field(req, "vec_id")
        if not terms or vec_id is None:
            raise ValueError(
                "body must carry {'terms': [...], 'vec_id': id}"
            )
        # n_per_branch defaults to the lake hybrid_search's 20; a store
        # exported shallower than the requested depth refuses in
        # similar() rather than silently fusing a thinner branch
        n = field(req, "n_per_branch", 20)
        out = store.hybrid(terms, vec_id, k=k, n_per_branch=n)
    else:
        raise ValueError(f"store cannot serve {route}")
    out["engine"] = "store"
    out["truncated_at"] = k
    out["elapsed_sec"] = round(time.time() - t0, 4)
    return out


def export_search_store_incremental(
    spark: SparkSession,
    index_root: str,
    url: str,
    driver: str | None = DERBY_DRIVER,
    eps: float = 0.02,
    term_width: int = 256,
    k1: float = BM25_K1,
    b: float = BM25_B,
    docs: DataFrame | None = None,
    doc_id_col: str = "doc_id",
    doc_text_col: str = "text",
    allow_stale_vectors: bool = False,
) -> dict:
    """Advance the exported store to the index's newest committed
    snapshot by upserting ONLY what changed since the manifest pins —
    the store's steady-state operating cost (r13 verdict #2: a full
    re-export per small append is the tier's real cost at scale).

    Mechanics (all deltas from the versioned substrate's change feed,
    :func:`operators.versioned.table_changes` — cost tracks the CHANGED
    files, never the table):

    1. AFFECTED TERMS = every term named by a postings-row insert or
       delete since the pinned version (an appended doc touches exactly
       its own vocabulary; a deleted doc names all its terms through
       its removed rows). Each affected term then takes the PER-TERM
       ε-rule: a term whose document frequency drifted more than
       ``eps`` (or appeared/emptied) gets its WHOLE list recomputed at
       the new snapshot — by construction these are rare terms with
       short lists — while a df-stable term (the stopword case: every
       real append touches the commonest terms, whose lists are the
       longest) gets only its DELTA rows applied, existing rows left at
       their old idf within the ε bound. This is what makes the
       increment O(append), not O(touched vocabulary's posting mass):
       the first cut recomputed whole lists and measured SLOWER than a
       full re-export (111.8s vs 70.6s at the 50k clone). Doc
       membership, match counts, and tf are always EXACT.
    2. THE GLOBAL ε-RULE: impacts denormalize the corpus totals (idf's
       N, avgdl), so every stale row's impact drifts with the totals.
       Incremental export is allowed only while
       ``max(|N'/N − 1|, |avgdl'/avgdl − 1|) ≤ eps`` — that relative
       drift bounds the score error of stale rows to the same order
       (idf and the tf length-normalization are smooth in N and
       avgdl). Beyond eps the function falls back to a FULL re-export
       and says so. Both ε levels bound score VALUES only — never
       which docs match.
    3. Positional bigrams (when the store carries them): doc-level
       deltas from the doclens feed — deleted docs' rows dropped,
       inserted docs' rows appended from ``docs`` (required then: the
       corpus at the NEW snapshot, same contract as the full export).
    4. ``mdls_corpus`` and the manifest pins are replaced; Derby stats
       refresh on the touched tables. Vector neighbor lists are a
       separate artifact (:func:`export_vector_store`) with different
       update math (a new vector can enter any list) — re-export them
       or serve /similar from the warm session until then.

    Returns {"mode": "incremental"|"full_refresh"|"full_initial"|
    "noop", "drift", "affected_terms", "recomputed_terms", "pins"}.
    """
    from .operators.versioned import table_changes

    new_pins = committed_index_snapshot(index_root)
    if new_pins is None:
        raise ValueError(
            f"index at {index_root} has no committed append txn; "
            "nothing consistent to export"
        )

    def _full(mode: str, drift: float | None) -> dict:
        # belt-and-braces: the top-of-function guard refuses earlier on
        # every incremental path; this covers direct full fallbacks
        if docs is None:
            with ServingStore(spark, url, driver=driver) as s:
                if T_BIGRAM_POS in s.table_names():
                    raise ValueError(
                        "store carries the positional bigram table and "
                        f"this export must be a {mode}; pass docs= (the "
                        "corpus at the new snapshot) or /phrase would "
                        "silently serve the old one"
                    )
        pins = export_search_store(
            spark, index_root, url, driver=driver, pins=new_pins,
            term_width=term_width, k1=k1, b=b,
            docs=docs, doc_id_col=doc_id_col, doc_text_col=doc_text_col,
            # forward the caller's staleness waiver: without it every
            # full-fallback (full_initial/full_refresh/drift>eps) over a
            # store carrying mdls_neighbors re-raised the kNN-graph
            # guard even when the caller explicitly accepted the skew
            # (r15 ADVICE, medium — confirmed by live repro)
            allow_stale_vectors=allow_stale_vectors,
        )
        return {"mode": mode, "drift": drift, "affected_terms": None,
                "recomputed_terms": None, "pins": pins}

    with ServingStore(spark, url, driver=driver) as store:
        tables = store.table_names()
        # refuse BEFORE any store mutation — these used to fire mid-way
        # (or not at all), leaving a half-advanced store behind (r14
        # review): a bigram table with no docs= would serve the OLD
        # phrases under the NEW manifest, and an untouched kNN graph
        # would serve the OLD vectors while /search answers the new cut
        if T_BIGRAM_POS in tables and docs is None:
            raise ValueError(
                "store carries the positional bigram table; this export "
                "needs docs= (the corpus at the new snapshot) or "
                "/phrase would silently serve the old one"
            )
        if (T_NEIGHBORS in tables and not allow_stale_vectors):
            raise ValueError(
                "store carries the kNN-graph tables; advancing only the "
                "BM25 side would leave /similar and /hybrid's vector "
                "branch serving the OLD snapshot — run "
                "export_vector_store_incremental alongside (CLI: "
                "--incremental --vec-index), or pass "
                "allow_stale_vectors=True to accept the skew knowingly"
            )
        if T_MANIFEST not in tables:
            return _full("full_initial", None)
        old_pins = store.manifest()
        if old_pins == new_pins:
            return {"mode": "noop", "drift": 0.0, "affected_terms": 0,
                    "recomputed_terms": 0, "pins": new_pins}
        core = (_POSTINGS, _DOCLENS, _TERMSTATS, _CORPUS)
        if any(n not in old_pins for n in core):
            return _full("full_refresh", None)
        old_tot = store.query(f'SELECT "n_docs", "avgdl" FROM {T_CORPUS}')
        n_old = int(old_tot["rows"][0][0])
        avgdl_old = float(old_tot["rows"][0][1])
        has_bigrams = T_BIGRAM_POS in tables

    totals = (
        read_table(spark, _t(index_root, _CORPUS),
                   version=new_pins.get(_CORPUS))
        .agg(F.sum("n_docs").cast("long").alias("n"),
             F.sum("sum_dl").cast("long").alias("s"))
        .first()
    )
    if totals is None or not totals["n"]:
        raise ValueError(
            f"index at {index_root} has no documents at the committed "
            "snapshot; nothing to export"
        )
    n_new, avgdl_new = int(totals["n"]), float(totals["s"]) / int(totals["n"])
    drift = max(abs(n_new / n_old - 1.0), abs(avgdl_new / avgdl_old - 1.0))
    if drift > eps:
        return _full("full_refresh", drift)

    # -- affected terms, split by the PER-TERM ε-rule. The first cut of
    # this function recomputed every affected term's WHOLE posting list
    # — and measured SLOWER than a full re-export at the 50k clone
    # (111.8s vs 70.6s), because real appends always touch the
    # commonest terms (stopwords), whose lists are the longest, and the
    # store pays per-row index maintenance the bulk load never paid.
    # The per-term rule bounds the rewrite by the APPEND instead:
    #
    # - df drift > eps (or a brand-new/emptied term): the term's idf
    #   moved materially, so its whole list rewrites — by construction
    #   these are RARE terms with short lists;
    # - df drift ≤ eps: only the DELTA rows (the CDF's inserted/deleted
    #   (term, doc) pairs) are applied; the term's existing rows stay
    #   at their old idf, stale within the same ε bound as the global
    #   totals rule. Membership and tf are exact either way — only
    #   impact VALUES of untouched rows drift.
    changes = table_changes(
        spark, _t(index_root, _POSTINGS),
        from_version=old_pins[_POSTINGS] + 1,
        to_version=new_pins[_POSTINGS],
    ).select("term", "doc_id", "tf", "_change_type")
    affected = changes.select("term").distinct()

    def _df_at(version_key):
        return (
            read_table(spark, _t(index_root, _TERMSTATS),
                       version=version_key)
            .join(F.broadcast(affected), "term", "left_semi")
            .groupBy("term")
            .agg(F.sum("df_delta").cast("long").alias("df"))
        )

    df_new = _df_at(new_pins.get(_TERMSTATS))
    df_old = _df_at(old_pins.get(_TERMSTATS)).withColumnRenamed("df", "df0")
    term_split = (
        df_new.join(df_old, "term", "full_outer")
        .select(
            "term",
            F.coalesce("df", F.lit(0)).alias("df"),
            F.coalesce("df0", F.lit(0)).alias("df0"),
        )
        .withColumn(
            "_recompute",
            (F.col("df0") == 0) | (F.col("df") == 0)
            | (F.abs(F.col("df") - F.col("df0"))
               / F.greatest(F.col("df0"), F.lit(1)) > F.lit(float(eps))),
        )
        .localCheckpoint(eager=True)  # reused 4x below; plan is tiny
    )
    recompute = term_split.filter(F.col("_recompute")).select("term")
    termstats_aff = term_split.select(
        "term", "df", bm25_idf(F.lit(n_new), F.col("df")).alias("idf"))
    doclens = read_table(
        spark, _t(index_root, _DOCLENS), version=new_pins.get(_DOCLENS)
    ).select("doc_id", "dl")

    def _impacts(rows):
        return (
            rows.join(F.broadcast(termstats_aff.select("term", "idf")),
                      "term")
            .join(doclens, "doc_id")
            .select(
                "term", "doc_id", "tf",
                bm25_term_score(
                    F.col("tf"), F.col("dl"), F.lit(avgdl_new),
                    F.col("idf"), k1, b,
                ).alias("impact"),
            )
        )

    # whole lists for the drifted (rare) terms
    impacts_rec = _impacts(
        read_table(spark, _t(index_root, _POSTINGS),
                   version=new_pins.get(_POSTINGS))
        .select("term", "doc_id", "tf")
        .join(F.broadcast(recompute), "term", "left_semi")
    )
    # delta rows only for the stable (common) terms
    stable_ins = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("term", "doc_id", "tf").join(
        F.broadcast(recompute), "term", "left_anti")
    impacts_ins = _impacts(stable_ins)
    # pair-granular deletes for stable terms: the CDF-deleted pairs
    # (erasure path; the BM25 index is append-only today, so usually
    # empty) PLUS the pairs about to be appended — deleting the latter
    # first makes the delta append IDEMPOTENT, so a retry after a
    # mid-run failure (or after the docs= refusal used to fire late)
    # cannot leave a (term, doc) pair twice in the store and silently
    # double its bm25 contribution (r14 review)
    stable_del = changes.filter(
        F.col("_change_type").isin(
            "delete", "update_preimage", "insert", "update_postimage")
    ).select("term", "doc_id").join(
        F.broadcast(recompute), "term", "left_anti").distinct()

    vc = f"VARCHAR({int(term_width)})"
    stage = "mdls_stage_terms"
    write_jdbc(recompute, url, stage, driver=driver,
               createTableColumnTypes=f"term {vc}")
    stage_del = "mdls_stage_del"
    n_del = stable_del.count()
    if n_del:
        write_jdbc(stable_del, url, stage_del, driver=driver,
                   createTableColumnTypes=f"term {vc}")
    n_affected = affected.count()
    n_recompute = None
    with ServingStore(spark, url, driver=driver) as store:
        n_recompute = int(store.query(
            f"SELECT COUNT(*) AS n FROM {stage}")["rows"][0][0])
        # all affected termstats rows are replaced (tiny, exact) —
        # termstats_aff is already restricted to the affected terms
        write_jdbc(termstats_aff, url, "mdls_stage_ts", driver=driver,
                   createTableColumnTypes=f"term {vc}")
        store.execute(
            f'DELETE FROM {T_TERMSTATS} WHERE "term" IN '
            f'(SELECT "term" FROM mdls_stage_ts)')
        store.execute(
            f'INSERT INTO {T_TERMSTATS} SELECT * FROM mdls_stage_ts')
        store.execute("DROP TABLE mdls_stage_ts")
        store.execute(
            f'DELETE FROM {T_POSTINGS} WHERE "term" IN '
            f'(SELECT "term" FROM {stage})')
        if n_del:
            store.execute(
                f'DELETE FROM {T_POSTINGS} WHERE EXISTS (SELECT 1 FROM '
                f'{stage_del} d WHERE d."term" = {T_POSTINGS}."term" '
                f'AND d."doc_id" = {T_POSTINGS}."doc_id")')
            store.execute(f"DROP TABLE {stage_del}")
    write_jdbc(impacts_rec, url, T_POSTINGS, mode="append", driver=driver)
    write_jdbc(impacts_ins, url, T_POSTINGS, mode="append", driver=driver)

    # -- positional bigrams: doc-granular delta
    if has_bigrams:
        if docs is None:
            raise ValueError(
                "store carries the positional bigram table; incremental "
                "export needs docs= (the corpus at the new snapshot) to "
                "maintain it"
            )
        dl_changes = table_changes(
            spark, _t(index_root, _DOCLENS),
            from_version=old_pins[_DOCLENS] + 1,
            to_version=new_pins[_DOCLENS],
        )
        changed_docs = dl_changes.select("doc_id").distinct()
        stage_docs = "mdls_stage_docs"
        write_jdbc(changed_docs, url, stage_docs, driver=driver)
        with ServingStore(spark, url, driver=driver) as store:
            store.execute(
                f'DELETE FROM {T_BIGRAM_POS} WHERE "doc_id" IN '
                f'(SELECT "doc_id" FROM {stage_docs})')
        live_changed = docs.select(
            F.col(doc_id_col).alias("doc_id"), F.col(doc_text_col)
        ).join(F.broadcast(changed_docs), "doc_id", "left_semi")
        bpos = _bigram_positions(live_changed, "doc_id", doc_text_col)
        write_jdbc(bpos, url, T_BIGRAM_POS, mode="append", driver=driver)

    # -- totals + manifest replaced; stats refreshed
    corpus_row = local_frame(
        spark, [(n_new, avgdl_new)], "n_docs long, avgdl double")
    manifest = local_frame(spark, [(json.dumps(new_pins),)], "pins string")
    with ServingStore(spark, url, driver=driver) as store:
        store.execute(f"DELETE FROM {T_CORPUS}")
        store.execute(f"DELETE FROM {T_MANIFEST}")
    write_jdbc(corpus_row, url, T_CORPUS, mode="append", driver=driver)
    write_jdbc(manifest, url, T_MANIFEST, mode="append", driver=driver)
    with ServingStore(spark, url, driver=driver) as store:
        for t in (stage, "mdls_stage_docs"):
            try:
                store.execute(f"DROP TABLE {t}")
            except Exception:
                pass  # stage_docs only exists on the bigram path
        if driver == DERBY_DRIVER:
            touched = [T_POSTINGS, T_TERMSTATS]
            if has_bigrams:
                touched.append(T_BIGRAM_POS)
            for t in touched:
                store.execute(
                    "CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS"
                    f"('APP', '{t.upper()}', NULL)")
    return {"mode": "incremental", "drift": drift,
            "affected_terms": int(n_affected),
            "recomputed_terms": n_recompute, "pins": new_pins}


def export_vector_store_incremental(
    spark: SparkSession,
    url: str,
    vec_index: str,
    driver: str | None = DERBY_DRIVER,
) -> dict:
    """Advance the exported kNN graph to the IVF index's current live
    set by recomputing ONLY the lists that could have changed — and
    unlike the BM25 increment this is EXACT, no ε:

    A stored list for query u is stale iff u's candidate SET changed,
    and u's candidates are exactly the members of its ``n_probes``
    probe cells. So the affected set is: (a) every NEW vector (needs a
    list), plus (b) every existing vector whose probe-cell array
    overlaps a cell that GAINED a new member or LOST a tombstoned one —
    a map-side ``arrays_overlap`` against the (bounded) hot-cell list,
    no shuffle. That test also subsumes deletions: a list containing a
    tombstoned candidate d necessarily probes d's cell, so it lands in
    (b) and recomputes without d. Every untouched list is bit-identical
    to a full rebuild's by construction (same candidates, same
    scoring) — asserted wholesale in the test.

    Work is O(changed vectors' cell populations), not O(n·k): at real
    cell counts the affected fraction ≈ n_probes·|hot cells|/|cells|.
    (The 256-cell test fixture is the degenerate regime — a few dozen
    changed vectors heat most cells; the math and the measurement note
    say so rather than hiding it.) The brute-mode store has no cell
    structure to localize with — it refuses and points at a full
    re-export."""
    from .operators.knn_graph import knn_graph_ivf

    with ServingStore(spark, url, driver=driver) as store:
        tables = store.table_names()
        if T_NEIGHBORS not in tables:
            raise ValueError(
                f"store at {url} has no {T_NEIGHBORS} table; run "
                "export_vector_store first"
            )
        if T_VEC_IDS not in tables:
            raise ValueError(
                f"store at {url} predates the exported-id ledger "
                f"({T_VEC_IDS}); re-run export_vector_store once to "
                "establish it"
            )
        meta = store.vec_manifest()
    if meta.get("mode") != "ivf":
        raise ValueError(
            "incremental vector export needs the IVF-graph store "
            f"(manifest mode={meta.get('mode')!r}); a brute graph has "
            "no cell structure to localize the update — re-export"
        )
    k_max = int(meta["k_max"])
    n_probes = int(meta.get("n_probes", 4))

    import os as _os

    # index-identity pin (r15, r14 ADVICE): the manifest records which
    # IVF index the graph was exported from; pointing the increment at a
    # DIFFERENT index would merge neighbor lists computed from two
    # index geometries into one table with no error. Refuse on mismatch.
    recorded = meta.get("vec_index")
    if recorded is not None and (
        _os.path.abspath(recorded) != _os.path.abspath(vec_index)
    ):
        raise ValueError(
            f"store's kNN graph was exported from vec_index={recorded} "
            f"but this increment points at {vec_index} — neighbor lists "
            "from different indexes must not merge; re-run "
            "export_vector_store against the new index instead"
        )

    from .operators.ann import (
        _mask_tombstones,
        _read_meta,
        multiprobe_sign_codes,
        read_tombstones,
    )

    n_bits = _read_meta(vec_index)["n_bits"]
    raw = spark.read.parquet(vec_index)
    # ONE materialized scan of the index serves every later step: an
    # appended bucket layout accretes small files, and each extra scan
    # costs more than all the store-side SQL combined (profiled: the
    # multi-scan form ran SLOWER than a full rebuild at 200k vectors)
    live = _mask_tombstones(
        raw, read_tombstones(spark, vec_index)
    ).localCheckpoint(eager=True)

    # push the ledger set-difference INTO the store: a distributed
    # write of the live ids + two EXCEPT queries that return only the
    # (bounded) diff, instead of shipping the whole n-row ledger back
    # through a single-partition JDBC read and shuffling it against the
    # index (profiled as the largest non-scan cost at 200k vectors)
    stage_live = "mdls_stage_live"
    write_jdbc(live.select("vec_id"), url, stage_live, driver=driver)

    def _diff(a: str, b: str) -> DataFrame:
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable",
                    f'(SELECT "vec_id" FROM {a} EXCEPT '
                    f'SELECT "vec_id" FROM {b}) t')
            .option("driver", driver or DERBY_DRIVER)
            .load()
        ).select("vec_id").localCheckpoint(eager=True)

    new_ids = _diff(stage_live, T_VEC_IDS)
    deleted_ids = _diff(T_VEC_IDS, stage_live)
    with ServingStore(spark, url, driver=driver) as store:
        store.execute(f"DROP TABLE {stage_live}")
    n_new = new_ids.count()
    n_deleted = deleted_ids.count()
    if n_new == 0 and n_deleted == 0:
        return {"mode": "noop", "n_new": 0, "n_deleted": 0,
                "n_recomputed": 0}

    # hot cells: gained a member (new) or lost one (tombstoned — read
    # the UNMASKED layout for the deleted ids' buckets)
    hot_new = live.join(F.broadcast(new_ids), "vec_id", "left_semi") \
        .select("bucket")
    if n_deleted > 0:
        # deleted ids are absent from live — their buckets need the
        # UNMASKED layout (the only second index scan, delete-gated)
        hot_del = raw.join(
            F.broadcast(deleted_ids), "vec_id", "left_semi"
        ).select("bucket")
        hot_new = hot_new.unionByName(hot_del)
    hot = [r["bucket"] for r in hot_new.distinct().collect()]

    affected = (
        live.join(new_ids, "vec_id", "left_anti")
        .filter(F.arrays_overlap(
            multiprobe_sign_codes(F.col("vec"), n_bits, n_probes),
            F.array(*[F.lit(h) for h in hot]),
        ))
        .select("vec_id")
    )
    recompute = new_ids.unionByName(affected).distinct() \
        .localCheckpoint(eager=True)
    n_recomputed = recompute.count()
    graph = knn_graph_ivf(spark, vec_index, k_max=k_max,
                          n_probes=n_probes, queries=recompute,
                          live_df=live)

    stage = "mdls_stage_vec"
    write_jdbc(recompute.unionByName(deleted_ids).distinct(),
               url, stage, driver=driver)
    with ServingStore(spark, url, driver=driver) as store:
        store.execute(
            f'DELETE FROM {T_NEIGHBORS} WHERE "vec_id" IN '
            f'(SELECT "vec_id" FROM {stage})')
        store.execute(
            f'DELETE FROM {T_VEC_IDS} WHERE "vec_id" IN '
            f'(SELECT "vec_id" FROM {stage})')
    write_jdbc(graph, url, T_NEIGHBORS, mode="append", driver=driver)
    write_jdbc(recompute, url, T_VEC_IDS, mode="append", driver=driver)
    with ServingStore(spark, url, driver=driver) as store:
        store.execute(f"DROP TABLE {stage}")
        if driver == DERBY_DRIVER:
            store.execute(
                "CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS"
                f"('APP', '{T_NEIGHBORS.upper()}', NULL)")
    return {"mode": "incremental", "n_new": int(n_new),
            "n_deleted": int(n_deleted), "n_recomputed": int(n_recomputed)}


def store_status(
    spark: SparkSession,
    url: str,
    index_root: str | None = None,
    driver: str | None = DERBY_DRIVER,
) -> dict:
    """Operational snapshot of an exported store: which routes are
    armed, what snapshot the store serves (manifest pins), table row
    counts, and — when ``index_root`` is given — whether the lake has
    moved past the export (``stale``: the signal that it is time for
    ``export-store --incremental``). All bounded store-side COUNTs and
    one driver-side manifest scan; no Spark job.

    The reference's serving tier has no staleness story at all (its
    export is fire-and-forget, ``gold_to_postgres.py``); a lease-based
    tier needs one, or "sub-second" quietly becomes "sub-second and
    wrong"."""
    with ServingStore(spark, url, driver=driver) as store:
        tables = store.table_names()
        out: dict = {
            "routes": sorted(store.routes()),
            "tables": {},
            "pins": store.manifest() if T_MANIFEST in tables else None,
            "vector": (store.vec_manifest()
                       if T_VEC_MANIFEST in tables else None),
        }
        for t in (T_POSTINGS, T_TERMSTATS, T_BIGRAM_POS, T_NEIGHBORS,
                  T_VEC_IDS):
            if t in tables:
                out["tables"][t] = int(store.query(
                    f"SELECT COUNT(*) FROM {t}")["rows"][0][0])
    if index_root is not None:
        current = committed_index_snapshot(index_root)
        out["index_snapshot"] = current
        out["stale"] = (out["pins"] is not None
                        and current is not None
                        and current != out["pins"])
    return out

"""Inverted index + BM25 keyword retrieval over a document corpus.

The missing text modality (r9 verdict): the text stack scores, filters,
dedups and decontaminates, but "which documents contain / rank highest
for these terms" needed a full corpus scan per question. A real
training-data pipeline asks that constantly — contamination audits
("which docs mention this benchmark?"), targeted domain pulls, blocklist
forensics. The reference's search-shaped capability is its ad-hoc SQL
surface (reference: sakila-data-lake/query_datalake.py:139-146 — LIKE
over a scanned table); this module gives the same questions a persisted,
incrementally-maintained posting-list index and BM25 ranking instead.

Index layout — four versioned tables under one root, so every read is a
snapshot and maintenance composes with the rest of the lakehouse:

- ``postings``   (term, doc_id, tf): each appended batch is
  range-partitioned and sorted by term with per-file min/max stats AND
  a term Bloom filter recorded at commit — a query term opens only the
  files whose stats/bloom admit it (``read_table_pruned(eq=...)``),
  never the corpus.
- ``doclens``    (doc_id, dl): per-document token counts for the BM25
  length normalizer.
- ``termstats``  (term, df_delta, cf_delta): PER-BATCH document/corpus
  frequency deltas. Appends never rewrite: readers fold deltas with one
  small aggregation (the index_sync pattern), and
  :func:`compact_bm25_stats` folds them physically when the delta tail
  grows.
- ``corpus_stats`` (n_docs, sum_dl): one delta row per batch, folded the
  same way.
- ``bigrams``     (bigram, doc_id, tf) — OPTIONAL (``bigrams=True`` at
  create, then every append): adjacent-token-pair postings enabling
  indexed exact-phrase retrieval (contamination audits ask "which docs
  contain this exact string" constantly). Same sorted+bloomed layout
  and pruned reads as ``postings``; phrase search intersects the
  phrase's bigram posting reads (necessary condition) and verifies the
  contiguous run only on the candidates (:func:`phrase_search`).

Incremental contract: appended ``doc_id``s must be NEW documents (the
corpus is append-only — re-adding an id would double-count df/tf; dedup
upstream). Batch REPLAYS are exactly-once: every append rides the
``(txn_app_id, txn_version)`` watermark, and the four tables land
atomically through one ``operators/txn.py`` manifest, so a crash between
legs can never publish postings whose corpus stats are missing.

Scale shape at 100 TB:
- build/append = explode + ONE two-stage count aggregation (map-side
  combine absorbs the token fan-out) + one range shuffle on term for
  the sorted layout; identical plan family to ``corpus_vocab_topk``.
- search = K pruned point-reads of postings (K = query terms, each
  opening only bloom-surviving files) + a broadcast join of the tiny
  candidate set against doclens + one top-k (TakeOrderedAndProject).
  Nothing scans the corpus; cost scales with posting-list length, not
  collection size.
- stats folds are metadata-scale (termstats is bounded by vocabulary,
  corpus_stats by batch count).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.text import tokens  # THE tokenizer — shared with the oracle-checked text queries
from ..session import local_frame
from .versioned import latest_version, read_table, read_table_pruned

BM25_K1 = 1.2
BM25_B = 0.75

_POSTINGS = "postings"
_DOCLENS = "doclens"
_TERMSTATS = "termstats"
_CORPUS = "corpus_stats"
_BIGRAMS = "bigrams"  # optional fifth table: phrase retrieval (r10 #2)


def _t(index_root: str, name: str) -> str:
    return os.path.join(index_root, name)


def clean_tokens(text_col: Column) -> Column:
    """Whitespace tokens with edge-empties dropped — the indexing
    tokenization, shared with the gated retrieval queries so the index
    and the oracle-checked arithmetic cannot drift."""
    return F.filter(tokens(text_col), lambda t: t != F.lit(""))


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, tf) — explode + two-stage count aggregation; the
    map-side partial combine absorbs the explode fan-out before the one
    shuffle on (term, doc_id)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(clean_tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def build_doclens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, dl) — pure map, no shuffle."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(clean_tokens(F.col(text_col))).cast("long").alias("dl"),
    )


def bigram_tokens(tokens: Column) -> Column:
    """Adjacent-token bigrams as ``"t1 t2"`` strings from a TOKEN ARRAY
    column (:func:`clean_tokens`, pre-projected behind an alias — see
    :func:`phrase_position_hits` for why) — zip the array with itself
    shifted by one (pure map-side array ops, no explode until the
    caller wants one). Shorter-than-2 docs yield an empty array (the
    guard matters: slice lengths must be >= 0)."""
    n = F.size(tokens)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(tokens, F.lit(1), n - 1),
            F.slice(tokens, F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def build_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(bigram, doc_id, tf) — the postings shape over adjacent token
    pairs. Same explode + two-stage count aggregation as
    :func:`build_postings`; the bigram vocabulary is larger than the
    term vocabulary but the row count is identical to the token count,
    so the build cost is the same plan family. The tokenization sits
    behind a projection boundary so the three references inside
    :func:`bigram_tokens` (size + two slices) share one evaluation."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            clean_tokens(F.col(text_col)).alias("_toks"),
        )
        .select(
            "doc_id",
            F.explode(bigram_tokens(F.col("_toks"))).alias("bigram"),
        )
        .groupBy("bigram", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def phrase_position_hits(
    toks_df: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    tokens_col: str = "_toks",
) -> DataFrame:
    """(doc_id, n_matches) for every doc where ``phrase`` occurs
    consecutively in the token-array column — the exact-phrase residual
    shared by the gated ``phrase_match_docs`` query and
    :func:`phrase_search`, so the indexed path and the oracle-checked
    semantics cannot drift. Overlapping occurrences count (position
    semantics, matching the oracle's position CTE).

    Shape matters here (r11 bench finding): the obvious per-row form —
    a higher-order ``filter(sequence(...), i -> slice(toks,i,m)=pat)``
    scalar followed by ``WHERE n > 0`` — ran 3.4s at sf0.1 because (a)
    HOF lambdas evaluate interpreted, outside whole-stage codegen, and
    (b) Catalyst pushed the ``n > 0`` predicate below the spreading
    repartition, inlining the tokenization into an O(len^2)
    re-tokenizing filter on the single input split. This form instead
    EXPLODES the candidate positions and applies a plain per-row
    conjunction of ``element_at`` equalities — fully codegen,
    parallel after the spread, and the aggregation blocks any filter
    pushdown (docs with zero matches simply produce no row). Measured
    3.4s -> ~0.3s on the gated query."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least two tokens")
    m = len(phrase)
    toks = F.col(tokens_col)
    positions = F.when(
        F.size(toks) >= m,
        F.sequence(F.lit(1), F.size(toks) - m + 1),
    ).otherwise(F.array().cast("array<int>"))
    hit = reduce(
        lambda a, b: a & b,
        [
            F.element_at(toks, F.col("_pos") + j) == F.lit(t)
            for j, t in enumerate(phrase)
        ],
    )
    return (
        toks_df.select(
            F.col(id_col).alias("doc_id"),
            toks.alias(tokens_col),
            F.explode(positions).alias("_pos"),
        )
        .filter(hit)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )


def bm25_idf(n_docs: Column, df: Column) -> Column:
    """Okapi BM25 idf: ``ln(1 + (N - df + 0.5) / (df + 0.5))`` — always
    positive (the +1 form), standard Robertson/Sparck-Jones. One shared
    expression (integer N/df → identical doubles in any engine that
    evaluates the same primitive ops — queries/_parity.py)."""
    return F.log(
        F.lit(1.0) + (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))
    )


def bm25_term_score(
    tf: Column, dl: Column, avgdl: Column, idf: Column,
    k1: float = BM25_K1, b: float = BM25_B,
) -> Column:
    """Per-(term, doc) BM25 contribution:
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Kept as ONE expression shared by the persisted-index search and the
    oracle-gated ``bm25_topk_docs`` query (queries/retrieval.py) — the
    two evaluate identical primitive ops, which is what makes the
    DuckDB oracle's doubles match bit-for-bit (queries/_parity.py)."""
    return idf * (
        tf * F.lit(k1 + 1.0)
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
    )


def _delta_tables(
    postings: DataFrame,
    doclens: DataFrame,
    bigrams: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The per-batch delta frames an append lands (4, or 5 with the
    optional bigram table), derived from one postings/doclens pair
    (shared by the batch path and the streaming path, which persists
    the pair across legs)."""
    out = {
        _POSTINGS: postings,
        _DOCLENS: doclens,
        _TERMSTATS: postings.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df_delta"),
            F.sum("tf").cast("long").alias("cf_delta"),
        ),
        _CORPUS: doclens.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
        ),
    }
    if bigrams is not None:
        out[_BIGRAMS] = bigrams
    return out


def _batch_tables(
    docs: DataFrame, id_col: str, text_col: str, bigrams: bool
) -> dict[str, DataFrame]:
    return _delta_tables(
        build_postings(docs, id_col, text_col),
        build_doclens(docs, id_col, text_col),
        build_bigrams(docs, id_col, text_col) if bigrams else None,
    )


def _sorted_postings(
    postings: DataFrame, n_files: int | None, key: str = "term"
) -> DataFrame:
    """Range-partition + sort by term so every output file covers a
    compact term range: min/max stats prune range-adjacent lookups, the
    bloom prunes the rest."""
    n = n_files or postings.sparkSession.sparkContext.defaultParallelism
    return postings.repartitionByRange(n, key).sortWithinPartitions(
        key, "doc_id"
    )


# per-table stage_commit kwargs: postings/bigrams get the sorted-layout
# stats + blooms the pruned point-reads depend on (shared by the batch
# and streaming append paths)
_STAGE_OPTS = {
    _POSTINGS: {"stats_cols": ("term",), "bloom_cols": ("term",)},
    _DOCLENS: {"stats_cols": ("doc_id",)},
    _BIGRAMS: {"stats_cols": ("bigram",), "bloom_cols": ("bigram",)},
}


_BIGRAM_MARKER = "_bigram_index.json"


def index_has_bigrams(index_root: str) -> bool:
    """The index carries the bigram contract: the durable marker the
    first bigram append writes BEFORE staging, falling back to
    published state for pre-marker indexes. The marker (not published
    state) is what makes the contract crash-safe: a create that
    crashed mid roll-forward (postings published, bigram leg still
    staged) has no published bigram version, and resolving from
    published state alone would let the idempotent re-run either raise
    or — worse, on the auto-detect path — silently commit 4-leg
    appends whose documents the bigram table permanently lacks
    (r11 review finding)."""
    from .logstore import get_log_store

    try:
        get_log_store().read(_t(index_root, _BIGRAM_MARKER))
        return True
    except (FileNotFoundError, KeyError):  # KeyError: in-memory store
        return latest_version(_t(index_root, _BIGRAMS)) is not None


def _resolve_bigrams(index_root: str, bigrams: bool | None) -> bool:
    """All-or-nothing per index: once an index carries the bigram
    table, EVERY append must feed it (a gap would make phrase searches
    silently miss the gap's documents), and retrofitting bigrams onto
    an index mid-life is refused for the same reason (earlier batches
    would be unindexed). ``None`` auto-detects from the durable marker
    (see :func:`index_has_bigrams`). When bigrams resolve on, the
    marker is (idempotently) written FIRST — before any leg stages —
    so every crash point leaves a state a replay resolves
    identically."""
    import json as _json

    from .logstore import get_log_store

    has = index_has_bigrams(index_root)
    exists = latest_version(_t(index_root, _POSTINGS)) is not None
    if bigrams is False and has and not exists and _nothing_durable(
        index_root
    ):
        # a create(bigrams=True) that failed before anything durable
        # started (NO table published — all five checked, a broken txn
        # can publish the middle legs only — and NO txn manifest in any
        # state) leaves ONLY the marker: honor the explicit fresh
        # choice instead of poisoning the root forever (r11 review).
        # The delete is tolerant of already-gone (a retried cleanup);
        # a concurrent create racing this window is outside the
        # index's single-writer contract, like every concurrent create.
        try:
            get_log_store().delete(_t(index_root, _BIGRAM_MARKER))
        except (FileNotFoundError, KeyError):
            pass
        has = False
    if bigrams is None:
        resolved = has
    elif (exists or has) and bigrams != has:
        raise ValueError(
            f"index at {index_root} was built "
            f"{'with' if has else 'without'} bigrams; appending "
            f"{'without' if has else 'with'} them would leave phrase "
            "searches silently incomplete — rebuild the index instead"
        )
    else:
        resolved = bigrams
    if resolved and not has:
        store = get_log_store()
        store.ensure_dir(index_root)
        try:
            store.put_exclusive(
                _t(index_root, _BIGRAM_MARKER),
                _json.dumps({"bigrams": True}),
            )
        except FileExistsError:
            pass  # concurrent first append: same contract either way
    return resolved


def _nothing_durable(index_root: str) -> bool:
    """True iff the index root holds no durable state beyond metadata
    markers: NO published version on any of the five tables (a broken
    create txn can publish a strict subset — e.g. doclens/stats with
    postings lost — so checking postings alone is not enough) and NO
    txn manifest in ANY state (a broken/aborted manifest means legs
    may have published and been resolved; the marker must then stand
    so the mismatch raises for an operator)."""
    from .logstore import get_log_store

    names = (_POSTINGS, _DOCLENS, _TERMSTATS, _CORPUS, _BIGRAMS)
    if any(latest_version(_t(index_root, n)) is not None for n in names):
        return False
    try:
        files = get_log_store().list(_t(index_root, "_txn"))
    except FileNotFoundError:
        return True
    return not any(f.endswith(".json") for f in files)


def _live_txns(index_root: str) -> list[dict]:
    """Manifests not yet in a terminal state — the single liveness
    definition comes from txn._TERMINAL_STATUSES so the three readers
    here cannot drift from the coordinator. Per-file failures skip
    that file only (a torn mid-replace or just-expired manifest must
    not blank the listing — returning [] past a genuinely live txn
    would silently disable the append-side repair)."""
    import json as _json

    from .logstore import get_log_store
    from .txn import _TERMINAL_STATUSES

    txn_root = _t(index_root, "_txn")
    store = get_log_store()
    try:
        files = [f for f in store.list(txn_root) if f.endswith(".json")]
    except FileNotFoundError:
        return []
    out = []
    for f in files:
        try:
            m = _json.loads(store.read(os.path.join(txn_root, f)))
        except (FileNotFoundError, KeyError, ValueError):
            continue  # reaped or torn mid-replace: skip the file only
        if m.get("status") not in _TERMINAL_STATUSES:
            out.append(m)
    return out


def _repair_live_txns(spark: SparkSession, index_root: str) -> None:
    """Roll any live (prepared/stuck) txn forward BEFORE an append
    stages: an append landing past a torn txn makes a later
    ``recover_txns`` publish the OLD batch's remaining legs AFTER this
    one's, breaking the manifest-order == version-order invariant the
    snapshot pins rely on — a committed manifest would then mix
    versions from different batch sets (r11 review finding, the
    mixed-cut repro). Recovery is the idempotent roll-forward of
    PREPARED txns only — never ``retry_stuck``: a stuck txn is parked
    for operator action, and auto-retrying it here would race a
    concurrently-running ``compensate_stuck_txn`` (the concurrency
    recover_txns' docstring forbids). Any txn still live after the
    sweep — stuck, aborting, or a poisoned prepared one — refuses the
    append (appending past it would bake the disorder in).

    The STREAMING path repairs once at stream START
    (``run_postings_append_stream``); its per-micro-batch appends need
    no repair because they are watermarked — a late recovery's
    publishes for a replayed batch all resolve to duplicate-skips, so
    no new data lands out of order mid-stream."""
    from .txn import recover_txns

    if not _live_txns(index_root):
        return
    recover_txns(spark, _t(index_root, "_txn"))
    still = _live_txns(index_root)
    if still:
        raise RuntimeError(
            f"index at {index_root} has unresolved transaction(s) "
            f"{[m['txn_id'] for m in still]} that recovery could not "
            "roll forward; appending past them would publish their "
            "legs out of order later — resolve via txn.recover_txns"
            "(retry_stuck=True) once any conflict is cleared, or "
            "txn.compensate_stuck_txn / txn.resolve_broken_txn"
        )


def append_bm25_index(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    bigrams: bool | None = None,
) -> dict:
    """Append a batch of NEW documents to the index (creates it on
    first call) — all tables (4, or 5 with bigrams) land through ONE
    transaction manifest, so readers never observe postings without
    their stats. With ``txn_app_id``/``txn_version`` the append is
    exactly-once under replay (the stage-side watermark skip). Any
    torn earlier txn is rolled forward FIRST
    (:func:`_repair_live_txns`) so publishes stay in manifest order.
    Returns the committed txn manifest."""
    from .txn import commit_txn
    from .wap import stage_commit

    _repair_live_txns(spark, index_root)
    batch = _batch_tables(
        docs, id_col, text_col, _resolve_bigrams(index_root, bigrams)
    )
    batch[_POSTINGS] = _sorted_postings(batch[_POSTINGS], n_files)
    if _BIGRAMS in batch:
        batch[_BIGRAMS] = _sorted_postings(
            batch[_BIGRAMS], n_files, key="bigram"
        )
    legs = []
    for name, df in batch.items():
        sid = stage_commit(
            df, _t(index_root, name),
            txn_app_id=txn_app_id, txn_version=txn_version,
            **_STAGE_OPTS.get(name, {}),
        )
        if sid is not None:  # None = replayed batch, already covered
            legs.append((_t(index_root, name), sid))
    if not legs:
        return {"status": "duplicate_skip", "legs": []}
    note = "bm25 append"
    if txn_app_id is not None:
        note += f" {txn_app_id}:{txn_version}"
    return commit_txn(spark, _t(index_root, "_txn"), legs, note=note)


def create_bm25_index(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int | None = None,
    bigrams: bool = False,
) -> dict:
    """Initial build — just the first append. ``bigrams=True`` adds the
    fifth (bigram, doc_id, tf) table enabling indexed phrase retrieval
    (:func:`phrase_candidates`); the choice is for the index's life
    (see :func:`_resolve_bigrams`)."""
    if latest_version(_t(index_root, _POSTINGS)) is not None:
        raise ValueError(
            f"index already exists at {index_root}; use append_bm25_index"
        )
    return append_bm25_index(
        spark, docs, index_root, id_col, text_col, n_files,
        bigrams=bigrams,
    )


def committed_index_snapshot(index_root: str) -> dict[str, int] | None:
    """Per-table version pins from the NEWEST committed append txn —
    the transaction-consistent cut across the four index tables.
    Reading the tables independently at their tips can mix states (a
    search racing an in-flight append could see new postings with stale
    corpus stats, a ranking corresponding to no committed index); every
    append lands through ONE txn manifest whose committed form records
    each leg's published version, so the newest manifest covering all
    four tables IS the consistent snapshot. Returns None for an index
    with no committed txn (nothing readable anyway).

    Stats folds (:func:`compact_bm25_stats`) publish outside the txn
    stream, so pins can point one fold behind the tip — harmless (folds
    are reader-invisible by construction) as long as log expiry keeps
    at least the last append's versions (``expire_log`` keep_last >
    folds per append interval). Coordinator retention
    (``txn.expire_txns``) keeps the newest committed manifest by
    default, so the pin survives quiet periods.

    Cost: ONE pass over the retained manifests (KB each; the count is
    bounded by ``txn.expire_txns`` retention, which a streaming-
    maintained index runs on maintenance cadence) — no early exit,
    because recovery can publish an old txn's legs after a newer
    append, so an older manifest may carry a table's newest version
    (the per-table MAX merge below). Txn ids carry a chronological
    time_ns prefix; legacy random-uuid ids can misplace the live-txn
    straddle boundary, in which case the merge degrades to an older
    — still consistent — cut."""
    from .logstore import get_log_store
    from .txn import _TERMINAL_STATUSES, read_txn

    names = (_POSTINGS, _DOCLENS, _TERMSTATS, _CORPUS)
    if index_has_bigrams(index_root):
        names += (_BIGRAMS,)  # fifth leg: pinned with the same cut
    want = {os.path.abspath(_t(index_root, n)): n for n in names}
    txn_root = _t(index_root, "_txn")
    store = get_log_store()
    try:
        files = [f for f in store.list(txn_root) if f.endswith(".json")]
    except FileNotFoundError:
        return None
    # Pins MERGE across committed manifests, per-table MAX version: a
    # crashed append whose re-run covered a subset of tables leaves the
    # legs split over TWO committed manifests (the duplicate-skip
    # path), and no single manifest covers them all. Two rules make the
    # merge a consistent cut:
    #
    # 1. MAX, not newest-manifest-wins: recovery can publish an OLD
    #    txn's remaining legs AFTER a newer append landed (torn create,
    #    interleaved append, recover_txns) — the older-by-id manifest
    #    then records the NEWER table version for the tables it was
    #    torn on, so manifest id order and per-table version order
    #    disagree. The max over committed manifests is exactly "every
    #    fully-committed batch applied", whatever order they landed.
    # 2. The merge RESETS whenever the newest-first scan crosses a LIVE
    #    (prepared/stuck/aborting) manifest touching these tables: a
    #    torn append that published postings/doclens but crashed before
    #    its stats legs leaves its manifest 'prepared', and the
    #    re-run's subset manifest (stats only) is NEWER — merging the
    #    two committed sides of that torn txn pins new stats against
    #    stale postings (the r10 ADVICE finding). The returned cut is
    #    the newest merge that does not straddle any pending txn.
    #
    # If no merge completes, fall back to the newest single committed
    # manifest covering every table — one manifest is one atomic
    # batch-set cut regardless of age. Terminal aborted/broken
    # manifests never reset: nothing will roll them forward, so they
    # cannot later rewrite the tables' history the way a pending
    # prepared txn does. Cost: one pass over the retained manifests
    # (KB each, bounded by txn.expire_txns retention) — no early exit,
    # because rule 1 means an older manifest can still raise a pin.
    pins: dict[str, int] = {}
    single: dict[str, int] | None = None
    for f in sorted(files, reverse=True):  # newest first (time_ns ids)
        try:
            m = read_txn(txn_root, f[: -len(".json")])
        except (FileNotFoundError, ValueError):
            continue  # reaped or torn mid-replace: try the next
        legs = [leg for leg in m.get("legs", []) if leg["table"] in want]
        if not legs:
            continue
        status = m.get("status")
        if status != "committed":
            if status not in _TERMINAL_STATUSES:
                pins.clear()  # live txn: merges must not straddle it
            continue
        covered = {
            want[leg["table"]]: leg["version"]
            for leg in legs
            if leg.get("version") is not None
        }
        if single is None and len(covered) == len(want):
            single = covered
        for name, v in covered.items():
            pins[name] = max(pins.get(name, v), v)
    return pins if len(pins) == len(want) else single


def corpus_stats(
    spark: SparkSession, index_root: str, version: int | None = None
) -> tuple[int, float]:
    """(N, avgdl) folded from the per-batch delta rows — one tiny agg."""
    row = (
        read_table(spark, _t(index_root, _CORPUS), version=version)
        .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
        .first()
    )
    n = int(row["n"] or 0)
    return n, (float(row["s"]) / n if n else 0.0)


def term_stats(
    spark: SparkSession,
    index_root: str,
    terms: list[str] | None = None,
    n_docs: int | None = None,
    version: int | None = None,
) -> DataFrame:
    """(term, df, cf, idf) folded from the delta rows. ``terms`` bounds
    the fold to the query's terms (pushed-down IN filter); None returns
    the whole (vocabulary-bounded) table — the terms-with-df audit.
    ``n_docs`` skips the corpus_stats fold when the caller already
    holds it (bm25_search computes it once per search)."""
    if n_docs is None:
        n_docs, _ = corpus_stats(spark, index_root)
    ts = read_table(spark, _t(index_root, _TERMSTATS), version=version)
    if terms is not None:
        ts = ts.filter(F.col("term").isin(list(terms)))
    return ts.groupBy("term").agg(
        F.sum("df_delta").cast("long").alias("df"),
        F.sum("cf_delta").cast("long").alias("cf"),
    ).withColumn("idf", bm25_idf(F.lit(n_docs), F.col("df")))


def bm25_candidates(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Posting rows for ``terms`` via ONE batched pruned read — min/max
    stats (sorted layout) + term blooms skip every file that no query
    term can live in (``read_table_pruned(isin=...)``: per-value range
    overlap AND bloom admit, disjunctive over the terms). One call
    replaces the K per-term point-reads of r10 (r10 verdict #3): the
    bloom probe hashes for all K terms compute in ONE tiny job instead
    of K, and a survivor file shared by several terms is opened once,
    not K times. Returns (df, pruning report)."""
    return read_table_pruned(
        spark,
        _t(index_root, _POSTINGS),
        isin={"term": sorted(set(terms))},
        version=version,
    )


def bm25_search(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    allowed: DataFrame | None = None,
    pins: dict[str, int] | None = None,
    corpus_totals: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-``k`` documents for ``terms`` under Okapi BM25, computed
    entirely from the persisted index, in ONE lazy plan: a single
    batched pruned posting read (bloom-surviving files only), a
    broadcast df rollup (≤K rows, vocabulary-bounded fold), a broadcast
    join of the candidate set against doclens, the corpus N/avgdl
    folded in as a broadcast 1-row aggregate (the same lazy scalar-
    combine shape the gated ``bm25_topk_docs`` uses — no driver-side
    ``.first()``), one top-k. Returns (doc_id, n_terms_matched, score)
    ordered by score desc with doc_id tiebreak.

    Fixed per-search overhead (r10 verdict #3): r10 paid one Spark job
    per query term for bloom probes, one for corpus stats, and a
    K-branch union read; this form pays ONE bloom-probe job and defers
    everything else to the caller's first action. SCALE.md records the
    measured before/after.

    All four tables are read at the versions recorded by the newest
    COMMITTED append transaction (:func:`committed_index_snapshot`), so
    a search racing an in-flight append scores against one consistent
    index state — never new postings with stale df/avgdl.

    ``allowed`` (optional, a frame whose first column is doc ids)
    restricts candidates BEFORE the top-k — "search within this
    collection", the keyword twin of ``ann.search_index(allowed=...)``.
    The semi-join lands on the posting-bounded candidate side and stays
    unhinted (AQE broadcasts a small allow-list at runtime; a
    corpus-scale one shuffles against candidates that the posting
    lists already bounded). Scoring is unchanged: df/N/avgdl remain
    CORPUS statistics — a filter narrows the eligible documents, not
    the collection the relevance model is defined over.

    ``pins`` / ``corpus_totals`` are the WARM-SESSION injection points
    (operators/search_session.py): a caller serving many queries pins
    the snapshot once and folds (N, sum_dl) once, and every subsequent
    search skips the per-request manifest scan and carries the corpus
    scalars as plan literals instead of a corpus-table read + 1-row
    aggregate. Semantics are identical — the warm path must equal the
    cold path on the same snapshot (tests/test_search_session.py)."""
    terms = sorted(set(terms))
    if not terms:
        raise ValueError("bm25_search needs at least one query term")
    if pins is None:
        pins = committed_index_snapshot(index_root) or {}
    if corpus_totals is not None:
        corpus = spark.range(1).select(
            F.lit(int(corpus_totals[0])).cast("long").alias("_n"),
            F.lit(int(corpus_totals[1])).cast("long").alias("_sum_dl"),
        )
    else:
        corpus = (
            read_table(
                spark, _t(index_root, _CORPUS), version=pins.get(_CORPUS)
            )
            .agg(
                F.sum("n_docs").cast("long").alias("_n"),
                F.sum("sum_dl").cast("long").alias("_sum_dl"),
            )
        )
    cand, _ = bm25_candidates(
        spark, index_root, terms, version=pins.get(_POSTINGS)
    )
    if allowed is not None:
        ids = allowed.select(
            F.col(allowed.columns[0]).alias("doc_id")
        ).distinct()
        cand = cand.join(ids, "doc_id", "left_semi")
    dfs = (
        read_table(
            spark, _t(index_root, _TERMSTATS), version=pins.get(_TERMSTATS)
        )
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df_delta").cast("long").alias("_df"))
    )
    doclens = read_table(
        spark, _t(index_root, _DOCLENS), version=pins.get(_DOCLENS)
    )
    scored = (
        cand.join(F.broadcast(dfs), "term")
        # candidate side is bounded by the query's posting lists —
        # broadcast it against the (corpus-sized) doclens table
        .hint("broadcast")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(corpus))  # 1-row scalar combine
        .withColumn(
            "_s",
            bm25_term_score(
                F.col("tf"),
                F.col("dl"),
                F.col("_sum_dl") / F.col("_n"),
                bm25_idf(F.col("_n"), F.col("_df")),
                k1,
                b,
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            # decimal-cast before the sum: order-independent, so ranking
            # ties break identically run-over-run (queries/_parity.py)
            F.sum(F.col("_s").cast("decimal(28,12)")).alias("_score"),
        )
        .orderBy(F.desc("_score"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            "n_terms_matched",
            F.col("_score").cast("double").alias("score"),
        )
    )


def phrase_bigrams(phrase: list[str]) -> list[str]:
    """The adjacent bigrams a phrase decomposes into (``"a b c"`` →
    ``["a b", "b c"]``) — the keys a phrase search reads."""
    return [f"{a} {b}" for a, b in zip(phrase, phrase[1:])]


def phrase_candidates(
    spark: SparkSession,
    index_root: str,
    phrase: list[str],
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Candidate doc_ids for an exact-phrase query: documents whose
    bigram postings contain EVERY adjacent bigram of the phrase — a
    NECESSARY condition, not sufficient (bigram intersection admits
    ``a b … b c`` without the contiguous run; callers apply the exact
    residual, see :func:`phrase_search`). ONE batched pruned read
    (``isin`` over the phrase's bigrams against the sorted+bloomed
    bigram table) + one small aggregation — I/O tracks the bigrams'
    posting-list lengths, never the corpus. Returns
    (doc_id frame, pruning report)."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least two tokens")
    if not index_has_bigrams(index_root):
        raise ValueError(
            f"index at {index_root} has no bigram table; rebuild with "
            "bigrams=True to enable phrase retrieval"
        )
    if latest_version(_t(index_root, _BIGRAMS)) is None:
        raise ValueError(
            f"bigram table at {index_root} is contracted (marker "
            "present) but has no published version yet — the creating "
            "transaction is still in flight; run txn.recover_txns on "
            f"{_t(index_root, '_txn')} first"
        )
    bgs = sorted(set(phrase_bigrams(phrase)))
    df, report = read_table_pruned(
        spark,
        _t(index_root, _BIGRAMS),
        isin={"bigram": bgs},
        version=version,
    )
    cand = (
        df.groupBy("doc_id")
        .agg(F.count_distinct("bigram").alias("_nb"))
        .filter(F.col("_nb") == len(bgs))
        .select("doc_id")
    )
    return cand, report


def phrase_search(
    spark: SparkSession,
    index_root: str,
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_candidates: bool = True,
    pins: dict[str, int] | None = None,
) -> tuple[DataFrame, dict]:
    """Exact-phrase retrieval from the persisted index: bigram-
    intersected candidates (:func:`phrase_candidates`, pinned at the
    committed snapshot), then the exact residual
    (:func:`phrase_position_hits`) applied ONLY to the candidate rows of
    ``docs`` — a scan-free necessary filter followed by a candidate-
    bounded verification, the same two-stage shape as every banded
    near-dup operator in this engine. Returns
    ((doc_id, n_matches) with n_matches > 0, pruning report).
    tests/test_phrase.py proves the doc set equals the full-scan
    exact-phrase answer.

    The candidate side is bounded by the RAREST bigram's posting list,
    not by construction: a phrase built entirely from high-frequency
    tokens can intersect to a corpus-scale id set, and force-
    broadcasting that would pin it whole on the driver and every
    executor. Pass ``broadcast_candidates=False`` for such phrases to
    take a shuffled semi-join instead (both sides hash-exchange on
    doc_id; no driver materialization at any selectivity). The default
    stays broadcast because a phrase with at least one discriminative
    bigram — the overwhelmingly common case — has a KB-to-MB candidate
    side, and the broadcast join keeps the corpus scan shuffle-free.

    ``pins`` skips the per-request snapshot scan — the warm-session
    injection point (operators/search_session.py)."""
    if pins is None:
        pins = committed_index_snapshot(index_root) or {}
    cand, report = phrase_candidates(
        spark, index_root, phrase, version=pins.get(_BIGRAMS)
    )
    # join on the RAW text FIRST, tokenize after: a projection below
    # the join runs on every corpus row, so tokenizing before the
    # candidate join paid the scan path's dominant cost on
    # non-candidates too (measured: indexed 1.74s vs scan 1.24s at 50k
    # docs before the reorder; with it the residual tokenizes only the
    # broadcast-joined candidates). At warehouse scale, point-read the
    # doc store on the candidate ids instead of scanning it
    # (read_table_pruned(isin={'doc_id': ...}) for a versioned store).
    cand_side = F.broadcast(cand) if broadcast_candidates else cand
    toks = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .join(cand_side, "doc_id")  # cand distinct: inner==semi
        .select("doc_id", clean_tokens(F.col(text_col)).alias("_toks"))
    )
    return phrase_position_hits(toks, phrase), report


def phrase_search_pointread(
    spark: SparkSession,
    index_root: str,
    docs_table: str,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_candidates: int = 100_000,
    pins: dict[str, int] | None = None,
) -> tuple[DataFrame, dict]:
    """SCAN-FREE exact-phrase retrieval: candidates from the bigram
    index, candidate DOCUMENTS from a VERSIONED doc store via
    bloom-pruned point reads — no corpus scan anywhere, so the cost
    tracks the phrase's posting length and candidate count, not
    collection size (the serving-path companion to
    :func:`phrase_search`, whose ``docs``-DataFrame form still scans
    the store to locate candidate rows).

    ``docs_table`` must be a versioned table (operators/versioned.py)
    holding ``id_col``/``text_col``, committed with
    ``stats_cols=/bloom_cols=(id_col,)`` so the id point-reads prune.
    The candidate ids take one bounded driver hop (phrase selectivity;
    refused above ``max_candidates`` — use :func:`phrase_search` for
    corpus-scale candidate sets). Returns ((doc_id, n_matches),
    report with bigram + doc-store pruning)."""
    if pins is None:
        pins = committed_index_snapshot(index_root) or {}
    cand, report = phrase_candidates(
        spark, index_root, phrase, version=pins.get(_BIGRAMS)
    )
    ids = [r["doc_id"] for r in cand.collect()]
    report = dict(report, candidates=len(ids))
    if len(ids) > max_candidates:
        raise ValueError(
            f"phrase {' '.join(phrase)!r} has {len(ids)} candidates "
            f"(> max_candidates={max_candidates}); use phrase_search's "
            "scan form for low-selectivity phrases"
        )
    if not ids:
        empty = local_frame(spark, [], "doc_id long, n_matches long")
        return empty, report
    docs, doc_report = read_table_pruned(
        spark, docs_table, isin={id_col: ids}
    )
    report["doc_files_read"] = doc_report["files_read"]
    report["doc_files_skipped"] = doc_report["files_skipped"]
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        clean_tokens(F.col(text_col)).alias("_toks"),
    )
    return phrase_position_hits(toks, phrase), report


def compact_bm25_stats(spark: SparkSession, index_root: str) -> dict:
    """Fold the per-batch delta tails physically: rewrite ``termstats``
    as one row per term and ``corpus_stats`` as one total row. Readers
    are oblivious: the fold is a no-op under the same delta-summing
    reads.

    FILE-GRANULAR, not a logical overwrite: ``optimize_table`` with a
    fold ``transform`` removes exactly the delta files that were read
    and folded, so a RACING APPEND's new delta files stay live beside
    the folded output instead of being silently dropped (a plain
    ``commit(mode="overwrite")`` computes 'removed' from the fresh tip
    inside the claim loop while its data came from the pre-race
    snapshot — the r10 review's found failure mode). A concurrent fold
    of the same files refuses with ``CommitConflict``."""

    def fold_ts(df: DataFrame) -> DataFrame:
        return df.groupBy("term").agg(
            F.sum("df_delta").cast("long").alias("df_delta"),
            F.sum("cf_delta").cast("long").alias("cf_delta"),
        )

    def fold_cs(df: DataFrame) -> DataFrame:
        return df.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )

    from .versioned import optimize_table

    ts_entry = optimize_table(
        spark, _t(index_root, _TERMSTATS), transform=fold_ts
    )
    cs_entry = optimize_table(
        spark, _t(index_root, _CORPUS), transform=fold_cs
    )
    n_terms = read_table(spark, _t(index_root, _TERMSTATS)).count()
    return {
        "terms": int(n_terms),
        "corpus_rows": 1,
        "termstats_files": ts_entry.get("files_after"),
        "corpus_files": cs_entry.get("files_after"),
    }


def run_postings_append_stream(
    spark: SparkSession,
    stream: DataFrame,
    index_root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int | None = None,
    available_now: bool = True,
    bigrams: bool | None = None,
):
    """Keep the inverted index fresh FROM A STREAM of documents,
    exactly-once: each micro-batch appends its delta tables (4, or 5
    when the index carries bigrams — ``bigrams=None`` auto-detects,
    the same all-or-nothing contract as the batch path) through
    one transaction manifest keyed by the durable batch id — a
    checkpoint replay re-stages nothing (watermark skip), and a crash
    between legs is repaired forward by ``txn.recover_txns``, never
    visible as postings-without-stats. Rides ``run_txn_stream``'s
    contract (streaming/versioned_sink.py) with the per-table
    transforms supplied here.

    Any txn torn BEFORE the stream starts (e.g. a crashed
    unwatermarked batch create) is rolled forward first
    (:func:`_repair_live_txns`) — micro-batches landing past it would
    otherwise let a later recovery publish its legs out of order (the
    batch path's mixed-cut hazard). MID-stream the per-batch appends
    need no repair: they are watermarked, so a replayed batch's late
    recovery publishes all resolve to duplicate-skips."""
    from ..streaming.versioned_sink import run_txn_stream

    _repair_live_txns(spark, index_root)
    with_bigrams = _resolve_bigrams(index_root, bigrams)
    txn_app = f"bm25::{os.path.abspath(checkpoint)}"

    # run_txn_stream calls every leg's transform with the SAME batch
    # frame; without sharing, each leg would re-tokenize the batch (4
    # explode passes, 2 postings aggregations). Compute the four frames
    # ONCE per batch, persist the two they derive from, and hand each
    # leg its slice. The previous batch's persisted frames unpersist
    # when the next batch arrives (one micro-batch of bounded cache
    # held at stream end — Spark evicts it with the session).
    cache: dict = {"batch": None, "tables": None, "persisted": []}

    def _tables_for(batch: DataFrame) -> dict:
        if cache["batch"] is not batch:
            for old in cache["persisted"]:
                old.unpersist()
            postings = build_postings(batch, id_col, text_col).persist()
            doclens = build_doclens(batch, id_col, text_col).persist()
            bg = (
                build_bigrams(batch, id_col, text_col)
                if with_bigrams else None
            )
            tables = _delta_tables(postings, doclens, bg)
            tables[_POSTINGS] = _sorted_postings(postings, n_files)
            if with_bigrams:
                tables[_BIGRAMS] = _sorted_postings(
                    tables[_BIGRAMS], n_files, key="bigram"
                )
            cache.update(batch=batch, persisted=[postings, doclens],
                         tables=tables)
        return cache["tables"]

    def _leg(name: str):
        def transform(batch: DataFrame) -> DataFrame:
            return _tables_for(batch)[name]

        return transform

    names = (_POSTINGS, _DOCLENS, _TERMSTATS, _CORPUS) + (
        (_BIGRAMS,) if with_bigrams else ()
    )
    outputs = {_t(index_root, name): _leg(name) for name in names}
    stage_opts = {
        _t(index_root, name): opts
        for name, opts in _STAGE_OPTS.items()
        if name in names  # only the legs this index actually carries
    }
    return run_txn_stream(
        spark, stream, outputs, _t(index_root, "_txn"), checkpoint,
        app_id=txn_app, available_now=available_now,
        stage_opts=stage_opts,
    )


def bm25_index_stats(spark: SparkSession, index_root: str) -> dict:
    """Index observability (the ann.check_index_health analog): sizes,
    vocabulary, delta-tail lengths, and whether a stats fold is worth
    running. All metadata-scale reads (termstats is vocabulary-bounded,
    corpus_stats is one row per batch since the last fold)."""
    pins = committed_index_snapshot(index_root)
    n_docs, avgdl = corpus_stats(spark, index_root)
    postings_rows = read_table(spark, _t(index_root, _POSTINGS)).count()
    ts = read_table(spark, _t(index_root, _TERMSTATS))
    delta_rows = ts.count()
    vocab = ts.select("term").distinct().count()
    batch_rows = read_table(spark, _t(index_root, _CORPUS)).count()
    return {
        "n_docs": n_docs,
        "avgdl": round(avgdl, 3),
        "postings_rows": int(postings_rows),
        "vocabulary": int(vocab),
        "termstats_delta_rows": int(delta_rows),
        "delta_batches": int(batch_rows),
        "pinned_snapshot": pins,
        # fold when the delta tail has accumulated enough batches (each
        # batch = one more file per stats table) or enough rows per
        # term — the autoCompact shape: enough fragments to be worth
        # one rewrite
        "fold_recommended": bool(
            batch_rows >= 4 or delta_rows >= 4 * max(vocab, 1)
        ),
    }

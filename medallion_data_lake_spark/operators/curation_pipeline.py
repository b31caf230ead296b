"""End-to-end corpus curation: raw documents → packed training shards.

Composes the individually-verified curation operators into the pipeline
a training-data pass actually runs, as DataFrame-in/DataFrame-out
library functions (the registry queries in ``queries/curation.py`` and
``queries/dedup.py`` are the per-stage oracle-checked twins):

    exact dedup → near-dup dedup (MinHash/LSH + connected components)
    → semantic dedup (SemDeDup over embeddings, when provided)
    → model-tier quality filter (fitted classifier, when provided)
    → decontamination vs a benchmark set → deterministic stratified
    sampling → blocklist scrub → sequence packing manifest

Every stage is a lazy DataFrame transformation, so the whole pipeline
is ONE Catalyst plan the optimizer can see end-to-end; nothing is
collected to the driver except the bounded near-dup edge list inside
``connected_components`` (its documented hybrid). Stage order is the
scale order: the cheap high-yield reducers run first (exact dedup is
one shuffle; near-dup runs on the exact-deduped survivors; the
decontamination join runs on the near-dup survivors; sampling and
scrubbing are map-side), so each expensive stage sees the smallest
possible input.

Extends the reference's linear bronze→silver cleaning chain
(``sakila-data-lake/bronze_to_silver.py``) to the corpus-curation
stages an LLM data pipeline needs (SURVEY.md north-star).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int
from ..queries.dedup import lsh_pairs, shingle_hashes, signatures
from ..queries.text import tokens
from .dedup_graph import connected_components
from .lsh import GEOMETRY, N_MINHASH, band_keys, est_jaccard, mh_cols


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one deterministic winner (min id) per whitespace-normalized
    content fingerprint. One shuffle on the fingerprint; ``min_by`` over
    the full row struct so no second join is needed to recover columns.
    """
    fp = F.md5(F.lower(F.regexp_replace(text_col, r"\s+", " ")))
    keyed = docs.select(fp.alias("_fp"), F.struct(*docs.columns).alias("_row"),
                        F.col(id_col).alias("_id"))
    return (
        keyed.groupBy("_fp")
        .agg(F.min_by("_row", "_id").alias("_row"))
        .select("_row.*")
    )


def near_dup_dedup(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_est_jaccard: float = 0.5,
                   production_hash: bool = False) -> DataFrame:
    """Drop all but the min-id member of each near-duplicate group.

    MinHash signatures (map-only) → banded LSH candidates (shuffles
    signatures, never text; O(colliding pairs)) → estimated-Jaccard
    threshold → connected components → anti-join the losers. The CC
    input is the post-threshold edge list — tiny relative to the corpus
    because LSH already pruned it. ``production_hash`` switches the
    shingle hash from oracle-reproducible md5 to xxhash64.
    """
    sigs = signatures(docs, id_col, text_col, production=production_hash)
    edges = lsh_pairs(sigs).filter(F.col("est_jaccard") >= min_est_jaccard)
    comp = connected_components(edges, src="doc_a", dst="doc_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def decontaminate(docs: DataFrame, bench: DataFrame | None,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text",
                  max_contamination: float = 0.0,
                  bench_ngrams: DataFrame | None = None) -> DataFrame:
    """Remove documents sharing more than ``max_contamination`` of their
    n-grams with the benchmark set (0.0 = any shared n-gram rejects).

    The benchmark n-gram set is distinct-ed and broadcast (eval suites
    are MBs at any realistic size); the corpus side is one explode +
    broadcast-hash-join + per-doc count — never all-pairs.

    ``bench_ngrams`` (a 1-column ``h`` frame, e.g. from
    :func:`materialize_benchmark_decon`) skips the bench-side shingle
    pass entirely — the benchmark suite is static across curation runs,
    so recomputing its n-gram set per run was pure waste (r14 funnel-
    floor lever).
    """
    if bench_ngrams is None:
        if bench is None:
            raise ValueError("pass bench= or bench_ngrams=")
        bench_ngrams = (
            bench.select(
                F.explode(shingle_hashes(F.col(bench_text_col))).alias("h"))
            .distinct()
        )
    hashed = docs.select(
        F.col(id_col), F.array_distinct(shingle_hashes(F.col(text_col))).alias("hs")
    )
    contaminated = (
        contamination_ratios(hashed, bench_ngrams, id_col)
        .filter(F.col("contamination_ratio") > max_contamination)
        .select(id_col)
    )
    return docs.join(contaminated, id_col, "left_anti")


def contamination_ratios(hashed: DataFrame, bench_ngrams: DataFrame,
                         id_col: str) -> DataFrame:
    """(id, contamination_ratio) — shared-n-gram fraction per doc vs the
    bench n-gram set, from a pre-hashed ``(id, hs)`` frame. Docs sharing
    NO n-gram produce no row (the inner join drops them). ONE definition
    for the live decon stage (:func:`decontaminate`) and the persisted
    verdict route (:func:`_decon_verdict_rows`) — the two must compute
    the identical measure or stored verdicts silently stop reproducing
    the recompute route's flag set (r16 review; the equality test pins
    it, this pins the expression)."""
    return (
        hashed.select(id_col, F.size("hs").alias("_n"), F.explode("hs").alias("h"))
        .join(F.broadcast(bench_ngrams), "h")
        .groupBy(id_col, "_n")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .select(F.col(id_col),
                (F.col("_shared") / F.col("_n")).alias("contamination_ratio"))
    )


def minhash_est_jaccard() -> "F.Column":
    """The banded-join MinHash agreement estimate over ``_cid_mh*`` vs
    ``_bid_mh*`` columns (the :func:`banded_signatures` layouts). ONE
    definition for the live fuzzy stage and the persisted verdict route
    — same rationale as :func:`contamination_ratios`."""
    return est_jaccard(mh_cols("_cid_"), mh_cols("_bid_"))


def banded_signatures(side: DataFrame, sid: str, tcol: str,
                      side_id: str,
                      production_hash: bool = False) -> DataFrame:
    """(sid, sid_mh0..N-1, band, bkey) — one row per LSH band per doc,
    for both fuzzy-decon sides and the persisted benchmark artifact."""
    sigs = signatures(side, id_col=side_id, text_col=tcol,
                      production=production_hash)
    mh = [f"{sid}_mh{j}" for j in range(N_MINHASH)]
    return sigs.select(
        F.col("doc_id").alias(sid),
        *[c.alias(n) for c, n in zip(mh_cols(), mh)],
        F.explode(band_keys(mh_cols())).alias("_b"),
    ).select(sid, *mh, "_b.band", "_b.bkey")


def fuzzy_decontaminate(docs: DataFrame, bench: DataFrame | None,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_text_col: str = "text",
                        min_est_jaccard: float = 0.5,
                        production_hash: bool = False,
                        bench_bands: DataFrame | None = None) -> DataFrame:
    """Remove documents whose MinHash signature LSH-collides with a
    benchmark document at estimated Jaccard >= ``min_est_jaccard`` —
    the paraphrased/partially-edited leakage the exact n-gram join
    (:func:`decontaminate`) cannot see. Runs AFTER it in the pipeline:
    exact removal shrinks the fuzzy stage's input for free.

    Both sides band their signatures map-side; the only shuffle joins
    (band, key) tuples — O(colliding pairs), never corpus × benchmark.
    Oracle-twin: the registry query ``decontaminate_fuzzy_lsh``.

    ``bench_bands`` (the banded-signature frame persisted by
    :func:`materialize_benchmark_decon`) skips the bench-side shingle +
    minhash pass — static per benchmark suite, the r14 funnel-floor
    lever. It must have been materialized with the SAME
    ``production_hash`` (the sidecar-enforced contract) or the band
    keys would never collide."""
    corpus = banded_signatures(docs, "_cid", text_col, id_col,
                               production_hash)
    if bench_bands is not None:
        bside = bench_bands
    else:
        if bench is None:
            raise ValueError("pass bench= or bench_bands=")
        # bench may be text-only (the exact stage needs no id):
        # synthesize one — it never surfaces, it only carries the
        # signature rows
        bench_prepared = bench.select(
            F.monotonically_increasing_id().alias("_bench_row_id"),
            F.col(bench_text_col).alias("_btext"),
        )
        bside = banded_signatures(bench_prepared, "_bid", "_btext",
                                  "_bench_row_id", production_hash)
    flagged = (
        corpus.join(bside, ["band", "bkey"])
        .filter(minhash_est_jaccard() >= min_est_jaccard)
        .select(F.col("_cid").alias(id_col))
        .distinct()
    )
    return docs.join(flagged, id_col, "left_anti")


BENCH_DECON_SIDECAR = "_bench_decon.json"


def materialize_benchmark_decon(spark, bench: DataFrame, root: str,
                                bench_text_col: str = "text",
                                production_hash: bool = False) -> dict:
    """Persist the benchmark suite's decontamination artifacts ONCE —
    the r14 funnel-floor lever: the bench side of both decon stages is
    a pure function of the (static) benchmark set, yet every curation
    run re-shingled and re-minhashed it. Two versioned tables under
    ``root``:

    - ``root/ngrams``: the distinct shingle-hash set (column ``h``) the
      exact stage broadcasts;
    - ``root/bands``: the banded MinHash signature rows
      (``_bid, _bid_mh0..N-1, band, bkey``) the fuzzy stage joins.

    A ``_bench_decon.json`` sidecar records ``production_hash`` and the
    LSH :data:`~.lsh.GEOMETRY`; consumed tables are refused when they
    mismatch the pipeline config. Returns {"n_ngrams", "n_band_rows"}."""
    import json as _json
    import os as _os

    from .versioned import commit

    ngrams = (
        bench.select(
            F.explode(shingle_hashes(F.col(bench_text_col))).alias("h"))
        .distinct()
    )
    bench_prepared = bench.select(
        F.monotonically_increasing_id().alias("_bench_row_id"),
        F.col(bench_text_col).alias("_btext"),
    )
    bands = banded_signatures(bench_prepared, "_bid", "_btext",
                              "_bench_row_id", production_hash)
    _os.makedirs(root, exist_ok=True)
    # sidecar BEFORE the commits (same crash-ordering contract as the
    # embeddings/verdict sidecars)
    with open(_os.path.join(root, BENCH_DECON_SIDECAR), "w") as fh:
        _json.dump({"production_hash": bool(production_hash),
                    **GEOMETRY}, fh)
    commit(ngrams, _os.path.join(root, "ngrams"), mode="overwrite")
    commit(bands, _os.path.join(root, "bands"), mode="overwrite",
           stats_cols=("bkey",))
    from .versioned import read_table as _rt

    return {"n_ngrams": _rt(spark, _os.path.join(root, "ngrams")).count(),
            "n_band_rows": _rt(spark, _os.path.join(root, "bands")).count()}


def read_bench_decon_sidecar(root: str) -> dict | None:
    import json as _json
    import os as _os

    p = _os.path.join(root, BENCH_DECON_SIDECAR)
    if not _os.path.exists(p):
        return None
    with open(p) as fh:
        return _json.load(fh)


DECON_VERDICT_SIDECAR = "_decon_verdict.json"


def _decon_verdict_rows(docs: DataFrame, bench_ngrams: DataFrame,
                        bench_bands: DataFrame, id_col: str,
                        text_col: str,
                        production_hash: bool) -> DataFrame:
    """Per-doc decon MEASURES for ``docs`` vs the persisted bench side:
    ``(id, text_fp, contamination_ratio, max_est_jaccard)``. Thresholds
    are NOT baked in — flags are derived at read time (ratio >
    max_contamination, est >= fuzzy_tau), so one verdict table serves
    any threshold config. NULL measure = "no shared n-gram" / "no band
    collision", exactly the rows the recompute route's joins never
    produce — so NULL-propagating threshold filters reproduce the
    recompute flag sets bit-for-bit."""
    from .embeddings import text_fingerprint

    base = docs.select(
        F.col(id_col), F.col(text_col),
        text_fingerprint(text_col).alias("text_fp"),
    )
    hashed = base.select(
        id_col, "text_fp",
        F.array_distinct(shingle_hashes(F.col(text_col))).alias("hs"),
    )
    # the measures come from the SAME expression definitions the live
    # stages use (contamination_ratios / minhash_est_jaccard) — shared
    # so the persisted verdicts cannot drift from the recompute route
    exact = contamination_ratios(hashed, bench_ngrams, id_col)
    corpus_bands = banded_signatures(base, "_cid", text_col, id_col,
                                     production_hash)
    fuzzy = (
        corpus_bands.join(bench_bands, ["band", "bkey"])
        .select(F.col("_cid").alias(id_col),
                minhash_est_jaccard().alias("_est"))
        .groupBy(id_col)
        .agg(F.max("_est").alias("max_est_jaccard"))
    )
    return (
        hashed.select(id_col, "text_fp")
        .join(exact, id_col, "left")
        .join(fuzzy, id_col, "left")
    )


def materialize_decon_verdict(spark, docs: DataFrame,
                              bench_decon_root: str, table: str,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> dict:
    """Maintain the CORPUS side of decontamination as a versioned
    per-doc verdict table (r16, r15 verdict #3) — the last per-run
    full-corpus pass in the decon funnel: both decon stages are pure
    per-doc functions of (text, bench artifacts), yet every curation
    run re-shingled and re-minhashed the whole corpus against the
    static bench side. Rows are
    ``(id, text_fp, contamination_ratio, max_est_jaccard)``.

    INCREMENTAL by (id, text fingerprint), the embedding-column
    contract: new ids insert, changed texts upsert via
    :func:`operators.versioned.merge_into`, unchanged docs are never
    re-shingled. The sidecar pins the bench-decon root's OWN sidecar
    (hash family + LSH geometry) plus the ngrams/bands table VERSIONS —
    verdicts computed against a superseded bench set are refused, both
    here and when the pipeline consumes the table.

    Thresholds are not pinned: the stored values are raw measures, so
    ``max_contamination`` / ``fuzzy_tau`` stay run-time config.

    Returns {"n_new", "n_total", "version"}."""
    import json as _json
    import os as _os

    from .embeddings import text_fingerprint
    from .versioned import commit, latest_version, merge_into, read_table

    bench_meta = read_bench_decon_sidecar(bench_decon_root)
    if bench_meta is None:
        raise ValueError(
            f"bench decon root {bench_decon_root} has no "
            f"{BENCH_DECON_SIDECAR} sidecar — materialize it with "
            "materialize_benchmark_decon first"
        )
    _got = {k: bench_meta.get(k) for k in GEOMETRY}
    if _got != GEOMETRY:
        raise ValueError(
            f"bench decon root {bench_decon_root} has LSH geometry "
            f"{_got} but the code uses {GEOMETRY} — re-materialize it"
        )
    ngrams_path = _os.path.join(bench_decon_root, "ngrams")
    bands_path = _os.path.join(bench_decon_root, "bands")
    params = {
        "bench_root": _os.path.abspath(bench_decon_root),
        "bench_sidecar": bench_meta,
        "bench_ngrams_version": latest_version(ngrams_path),
        "bench_bands_version": latest_version(bands_path),
    }
    production_hash = bool(bench_meta["production_hash"])
    bench_ngrams = read_table(spark, ngrams_path)
    bench_bands = read_table(spark, bands_path)
    sidecar = _os.path.join(table, DECON_VERDICT_SIDECAR)

    existing_version = latest_version(table)
    if existing_version is None:
        _os.makedirs(table, exist_ok=True)
        with open(sidecar, "w") as fh:  # sidecar BEFORE the first commit
            _json.dump(params, fh)
        rows = _decon_verdict_rows(docs, bench_ngrams, bench_bands,
                                   id_col, text_col, production_hash)
        res = commit(rows, table, mode="append",
                     stats_cols=(id_col,), bloom_cols=(id_col,))
        version = res["version"] if isinstance(res, dict) else res
        n = read_table(spark, table).count()
        return {"n_new": n, "n_total": n, "version": version}

    meta = read_decon_verdict_sidecar(table)
    if meta is None:
        raise ValueError(
            f"decon verdict table {table} has committed versions but "
            f"no {DECON_VERDICT_SIDECAR} sidecar — refusing to append "
            "into an unverifiable verdict space"
        )
    if meta != params:
        raise ValueError(
            f"decon verdict table {table} was materialized under "
            f"{meta} but the bench artifacts now pin {params} — "
            "verdicts vs a superseded benchmark set must not mix; "
            "re-materialize into a new table"
        )
    have = read_table(spark, table).select(id_col, "text_fp")
    docs_fp = docs.select(
        id_col, text_col, text_fingerprint(text_col).alias("text_fp"))
    todo = docs_fp.join(have, [id_col, "text_fp"], "left_anti")
    # ONE count serves both the empty-delta early exit and the n_new
    # report (r16 review): the previous isEmpty() + rows.count() pair
    # ran the anti-join twice AND re-executed the full shingle/minhash
    # verdict plan a second time after merge_into had already evaluated
    # it — _decon_verdict_rows is 1 row per input doc, so counting the
    # cheap pre-verdict delta is the same number
    n_new = todo.count()
    if n_new == 0:
        return {"n_new": 0,
                "n_total": read_table(spark, table).count(),
                "version": existing_version}
    rows = _decon_verdict_rows(todo, bench_ngrams, bench_bands,
                               id_col, text_col, production_hash)
    # changed ids REPLACE their stale row (file-granular MERGE) — same
    # contract as the embedding column
    merge_into(spark, table, rows, key=id_col,
               analyze_stats=(id_col,))
    return {"n_new": int(n_new),
            "n_total": read_table(spark, table).count(),
            "version": latest_version(table)}


def read_decon_verdict_sidecar(table: str) -> dict | None:
    import json as _json
    import os as _os

    p = _os.path.join(table, DECON_VERDICT_SIDECAR)
    if not _os.path.exists(p):
        return None
    with open(p) as fh:
        return _json.load(fh)


def stratified_sample(docs: DataFrame,
                      rates_per_mille: Mapping[str, int],
                      default_rate_per_mille: int = 500,
                      stratum_col: str = "lang",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum downsampling: keep iff
    ``md5(id) % 1000 < rate(stratum)``. Map-side filter, zero shuffle;
    bit-identical across runs/executors/engines (unlike rand()-based
    ``sampleBy``), which is what makes ablation corpora reproducible.
    """
    rate = None
    for stratum, r in sorted(rates_per_mille.items()):
        rate = (rate if rate is not None else F).when(
            F.col(stratum_col) == stratum, F.lit(r)
        )
    rate = rate.otherwise(F.lit(default_rate_per_mille)) if rate is not None \
        else F.lit(default_rate_per_mille)
    return docs.filter((md5_int(F.col(id_col).cast("string")) % 1000) < rate)


def blocklist_scrub(docs: DataFrame, terms: Sequence[str],
                    max_hit_ratio: float = 0.1,
                    text_col: str = "text") -> DataFrame:
    """Drop documents whose blocklist-hit density exceeds the threshold;
    rewrite the survivors' text with the terms removed. One codegen span
    of array HOFs — no UDF, no shuffle."""
    toks = tokens(F.col(text_col))
    hits = F.size(F.filter(toks, lambda t: t.isin(*terms)))
    keep = hits * F.lit(1.0) / F.size(toks) <= F.lit(max_hit_ratio)
    scrubbed = F.array_join(F.filter(toks, lambda t: ~t.isin(*terms)), " ")
    return docs.filter(keep).withColumn(text_col, scrubbed)


def remove_common_segments(docs: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           sep: str = "\n",
                           min_docs: int = 10) -> DataFrame:
    """Cross-document SEGMENT dedup (CCNet/RefinedWeb line dedup): drop
    every ``sep``-delimited segment that appears in >= ``min_docs``
    distinct documents — navigation bars, cookie banners, license
    boilerplate — and reassemble each document from its surviving
    segments in original order. Documents left empty are dropped.

    Plan (all DataFrame ops, no UDF): posexplode segments → ONE
    distinct-count aggregation keyed on ``xxhash64(segment)`` (the
    shuffle moves an 8-byte key, not the text) → anti-join survivors →
    per-document ordered reassembly (collect_list of (pos, seg) structs,
    array_sort on pos — deterministic, the A8 GROUP_CONCAT discipline).
    At 100 TB both shuffles are map-side combined; frequent-segment
    cardinality is corpus-bounded, never broadcast. A 64-bit hash
    collision could drop an innocent segment — the standard trade every
    line-dedup pipeline makes (CCNet uses 64-bit SHA-1 prefixes).
    """
    segs = _exploded_segments(docs, id_col, text_col, sep)
    frequent = (
        segs.groupBy("_k")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_k")
    )
    return _scrub_frequent_segments(docs, segs, frequent, id_col, text_col, sep)


def _exploded_segments(docs: DataFrame, id_col: str, text_col: str,
                       sep: str) -> DataFrame:
    """(id, _pos, _seg, _k): one row per non-empty segment, hashed."""
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_seg"),
        )
        .filter(F.trim("_seg") != "")
        .withColumn("_k", F.xxhash64("_seg"))
    )


def _scrub_frequent_segments(docs: DataFrame, segs: DataFrame,
                             frequent_keys: DataFrame, id_col: str,
                             text_col: str, sep: str) -> DataFrame:
    """Drop segments whose key is in ``frequent_keys`` (a `_k` column)
    and reassemble in original order; fully-scrubbed documents drop.
    Shared by the batch operator and the streaming cross-batch scrub."""
    kept = segs.join(frequent_keys.select("_k"), "_k", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_seg"))),
                    lambda s: s["_seg"],
                ),
                sep,
            ).alias("_rebuilt")
        )
    )
    return (
        docs.drop(text_col)
        .join(rebuilt, id_col, "inner")  # inner = fully-boilerplate docs drop
        .withColumnRenamed("_rebuilt", text_col)
    )


def pack_sequences(docs: DataFrame, token_budget: int = 512,
                   shard_col: str = "source", id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document packing assignment: (shard, seq_id, doc_id, n_tok).

    Running token sum windowed PER SHARD — bounded window state,
    parallel across shards (a global packing order would serialize into
    one task and is deliberately not offered). The output is the
    manifest a shard writer consumes; group on (shard, seq_id) for the
    per-sequence rollup.
    """
    from pyspark.sql import Window

    t = docs.select(
        F.col(shard_col), F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy(shard_col).orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return t.withColumn(
        "seq_id", F.floor(cum_before / F.lit(float(token_budget))).cast("long")
    )


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    chunk_stride: int = 48, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into fixed ``chunk_tokens``-token context windows
    at ``chunk_stride`` (stride < window ⇒ overlap, so boundary-spanning
    content lands in two chunks) — the pretraining chunker between
    curation and shard writing. Pure 1:N row expansion (sequence +
    posexplode + slice, one codegen span): map-side, zero shuffle;
    output volume is n_tokens/stride however large the corpus. The
    oracle-checked twin is queries/curation.py:doc_chunking_windows.

    NULL text is coalesced to '' so every curated document is covered by
    exactly one (possibly empty) chunk row — posexplode over a null
    sequence would otherwise silently drop the row, leaving curated docs
    with no chunk coverage."""
    t = docs.select(
        F.col(id_col), tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks")
    )
    starts = F.sequence(F.lit(0), F.greatest(F.size("_toks") - 1, F.lit(0)),
                        F.lit(chunk_stride))
    e = t.select(
        id_col, "_toks", F.posexplode(starts).alias("chunk_idx", "chunk_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_start") + 1, F.lit(chunk_tokens))
    return e.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long"),
        F.col("chunk_start").cast("long"),
        F.size(chunk).cast("long").alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def redact_pii(docs: DataFrame, text_col: str = "text",
               patterns: Mapping[str, str] | None = None) -> DataFrame:
    """Replace PII matches in ``text_col`` with ``<CATEGORY>`` tokens
    (default patterns: email/phone/IPv4/SSN — queries/curation.py
    ``PII_PATTERNS``). Chained regexp_replace in one codegen span;
    map-only. Redaction-before-training is a hard requirement for any
    corpus containing user data, so it slots between scrub and pack in
    :func:`curate_corpus` callers that need it."""
    from ..queries.curation import PII_PATTERNS

    red = F.col(text_col)
    for name, pat in (patterns or PII_PATTERNS).items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return docs.withColumn(text_col, red)


def shuffle_assignment(docs: DataFrame, n_shards: int = 64, seed: int = 7,
                       id_col: str = "doc_id") -> DataFrame:
    """Deterministic training-order shuffle: (id, shard, pos).

    Order key = md5(seed, id); shard = key mod n_shards; pos = rank
    within shard. Reproducible epoch ordering with NO global sort —
    each shard orders independently (n_shards parallel bounded sorts),
    the only shuffle shape that survives 100 TB. Re-keying with a new
    seed gives an independent epoch permutation.
    """
    from pyspark.sql import Window

    key = md5_int(F.concat(F.lit(f"shuf:{seed}:"), F.col(id_col).cast("string")))
    keyed = docs.select(F.col(id_col), key.alias("_key"))
    shard = (F.col("_key") % n_shards).cast("long")
    w = Window.partitionBy(shard).orderBy("_key", id_col)
    return keyed.select(
        id_col, shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


def _source_token_totals(docs: DataFrame, source_col: str,
                         text_col: str) -> dict[str, int]:
    """Per-source token totals — one aggregation, driver receives
    len(sources) rows (a handful)."""
    return {
        r["src"]: r["toks"]
        for r in docs.groupBy(F.col(source_col).alias("src"))
        .agg(F.sum(F.size(tokens(F.col(text_col)))).alias("toks"))
        .collect()
    }


def temperature_targets(totals: Mapping[str, int], alpha: float,
                        total_token_budget: int) -> dict[str, int]:
    """Temperature-scaled mixture targets: p_i ∝ n_i^alpha (normalized),
    target_i = p_i * budget — the multilingual-sampling rule (alpha=1
    reproduces natural proportions, alpha→0 approaches uniform; XLM-R
    uses alpha=0.3). Pure arithmetic over the bounded totals dict; the
    heavy lifting stays in the one totals aggregation + the map-side
    hash gate that applies the targets."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    powered = {s: float(n) ** alpha for s, n in totals.items() if n}
    z = sum(powered.values())
    if not z:
        return {}
    return {
        s: int(total_token_budget * p / z) for s, p in powered.items()
    }


def mix_corpus(docs: DataFrame,
               target_tokens_per_source: Mapping[str, int],
               source_col: str = "source", id_col: str = "doc_id",
               text_col: str = "text",
               totals: Mapping[str, int] | None = None) -> DataFrame:
    """Domain mixing by token budget: downsample each source to ~its
    target token count. One aggregation computes per-source token
    totals (pass precomputed ``totals`` to skip it); keep rates
    = min(1, target/total) are then applied via the same md5 hash gate
    as :func:`stratified_sample` — deterministic, map-side. Sources
    without a target are kept whole.

    This is the knob that turns "the data we have" into "the mixture
    the training run wants" (e.g. cap web crawl at N tokens while
    keeping all code/reference text).
    """
    if totals is None:
        totals = _source_token_totals(docs, source_col, text_col)
    rates = {
        src: min(1000, int(1000 * target_tokens_per_source[src] / totals[src]))
        for src in target_tokens_per_source
        if totals.get(src)
    }
    rate = None
    for src, r in sorted(rates.items()):
        rate = (rate if rate is not None else F).when(
            F.col(source_col) == src, F.lit(r)
        )
    if rate is None:
        return docs
    rate = rate.otherwise(F.lit(1000))
    return docs.filter((md5_int(F.col(id_col).cast("string")) % 1000) < rate)


def mix_corpus_temperature(docs: DataFrame, alpha: float,
                           total_token_budget: int,
                           source_col: str = "source",
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """:func:`mix_corpus` with targets derived by temperature sampling
    instead of hand-set budgets: flattens the source distribution toward
    uniform as ``alpha`` drops (the standard fix for head domains
    drowning tail domains in multilingual/multi-source training). One
    totals aggregation feeds both the target derivation and the mixing
    gate — a single corpus scan end to end."""
    totals = _source_token_totals(docs, source_col, text_col)
    targets = temperature_targets(totals, alpha, total_token_budget)
    return mix_corpus(docs, targets, source_col, id_col, text_col,
                      totals=totals)


def assign_splits(docs: DataFrame, weights: Mapping[str, float],
                  id_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """Deterministic train/val/test assignment: a ``split`` column drawn
    from ``weights`` (e.g. {"train": .98, "val": .01, "test": .01}) by
    hashing the id — stable across runs and re-ingestions, so a doc can
    never migrate between splits when the corpus is rebuilt (the leakage
    mode rand()-splits suffer). Map-only."""
    total = sum(weights.values())
    gate = md5_int(
        F.concat(F.lit(f"split:{seed}:"), F.col(id_col).cast("string"))
    ) % 1_000_000
    expr, acc = None, 0.0
    items = sorted(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        bound = int(acc * 1_000_000)
        expr = (expr if expr is not None else F).when(
            gate < bound, F.lit(name)
        )
    last = items[-1][0]
    split = expr.otherwise(F.lit(last)) if expr is not None else F.lit(last)
    return docs.withColumn("split", split)


@dataclass
class CurationConfig:
    """Knobs for :func:`curate_corpus`; defaults mirror the oracle-twin
    registry queries so small-scale behavior is independently verified."""

    id_col: str = "doc_id"
    text_col: str = "text"
    min_est_jaccard: float = 0.5
    production_hash: bool = False  # xxhash64 shingles (cheaper, non-oracle)
    max_contamination: float = 0.0
    # fuzzy (LSH near-match) decontamination vs the benchmark set, in
    # ADDITION to the exact n-gram join — catches paraphrased leakage
    fuzzy_decontaminate: bool = False
    fuzzy_tau: float = 0.5
    rates_per_mille: Mapping[str, int] = field(default_factory=dict)
    default_rate_per_mille: int = 1000  # keep everything unless configured
    blocklist: Sequence[str] = ()
    max_hit_ratio: float = 0.1
    token_budget: int = 512
    shard_col: str = "source"
    stratum_col: str = "lang"
    chunk_tokens: int = 64   # context-window chunking of the curated docs
    chunk_stride: int = 48   # < chunk_tokens ⇒ overlapping windows
    # model-tier stages (all off by default — the rule tier stands alone)
    min_model_quality: float = 0.5   # threshold when a quality_model is given
    semantic_threshold: float = 0.9  # cosine cutoff when embeddings are given
    semantic_cluster_size: int = 64
    semantic_k_cap: int = 100_000        # centroid budget (SemDeDup-style)
    semantic_max_fit_rows: int = 1_000_000  # KMeans fit-sample ceiling
    embedding_dim: int = 64
    embedding_id_col: str = "vec_id"
    embedding_col: str = "embedding"
    max_perplexity: float | None = None  # LM head-cut when an lm is given
    # temperature mixing (off unless a budget is set): flatten the
    # source distribution with p_i ∝ n_i^alpha before sampling
    mix_alpha: float = 1.0
    mix_token_budget: int | None = None
    # PII span redaction (operators/text.redact_pii): off by default;
    # max_pii_hits additionally DROPS documents above that many redacted
    # spans (a doc that is mostly PII is not salvageable by scrubbing)
    redact_pii: bool = False
    max_pii_hits: int | None = None
    # derive embeddings FROM the text (operators/embeddings.py hashing
    # embedder — or a real encoder swapped into the same kernel) when no
    # precomputed embeddings table is passed, enabling semantic dedup on
    # a text-only corpus
    semantic_from_text: bool = False
    # reuse a persisted codebook (ann.fit_semantic_codebook) instead of
    # the eager per-run KMeans fit — measured 8x the funnel's one-pass
    # execute at clone scale (SCALE.md round 12); re-curations of a
    # growing corpus should pin one codebook, same never-refit contract
    # as the index builders' stored centroids
    semantic_codebook_path: str | None = None
    # read the corpus's PERSISTED embedding column (a versioned table
    # maintained by embeddings.materialize_corpus_embeddings) instead
    # of re-embedding per run — the r13 build-floor lever: the r12
    # codebook-reuse build still paid the in-pipeline embed every run
    # (SCALE.md round 13 has the before/after). Sidecar provenance
    # (embedder fingerprint, dim) is validated on read.
    embeddings_table: str | None = None
    # r14: consume the MATERIALIZED semantic verdict
    # (operators/semantic_verdict.py) instead of recomputing the
    # assignment + pair join + components per run — the semantic stage
    # becomes one slim (doc_id, is_kept) anti-join. Mutually exclusive
    # with the recompute routes (embeddings=/embeddings_table/
    # semantic_from_text); the table's sidecar threshold must match
    # semantic_threshold, and every input doc must have a verdict row.
    semantic_verdict_table: str | None = None
    # r14: persisted benchmark decon artifacts
    # (materialize_benchmark_decon) — the bench side of both decon
    # stages is static per benchmark suite; this routes the stages
    # through the persisted n-gram set + banded signatures instead of
    # recomputing them per run. Mutually exclusive with passing bench=.
    benchmark_decon_table: str | None = None
    # r16 (r15 verdict #3): persisted CORPUS-side decon verdicts
    # (materialize_decon_verdict) — per-doc contamination measures keyed
    # on (id, text_fp), incrementally maintained, pinned to the bench
    # artifacts they were computed against. Routes BOTH decon stages
    # through two slim anti-joins (thresholds from this config applied
    # at read time) instead of re-shingling + re-minhashing the corpus
    # per run. Mutually exclusive with bench= and benchmark_decon_table.
    decon_verdict_table: str | None = None


def semantic_dedup_docs(docs: DataFrame, embeddings: DataFrame,
                        cfg: CurationConfig) -> DataFrame:
    """Drop semantic near-duplicates: SemDeDup over the docs' embedding
    rows (inner-joined on id — docs without an embedding pass through
    untouched; at scale the embedding table is the same corpus keyed
    identically, so the join is co-partitioned)."""
    from .ann import load_semantic_codebook, semantic_dedup

    emb = embeddings.select(
        F.col(cfg.embedding_id_col).alias(cfg.id_col), cfg.embedding_col
    ).join(docs.select(cfg.id_col), cfg.id_col, "inner")
    model = None
    if cfg.semantic_codebook_path:
        # provenance check: the in-pipeline hashing embedder's space is
        # known exactly, so enforce its fingerprint; precomputed
        # embedding tables carry no embedder identity, so only the dim
        # (validated against the centroids) can be enforced there
        expect_embedder = None
        if cfg.embeddings_table:
            from .embeddings import read_embedder_sidecar

            meta = read_embedder_sidecar(cfg.embeddings_table)
            if meta is not None:
                expect_embedder = meta.get("embedder")
        elif cfg.semantic_from_text:
            from .embeddings import HASHING_EMBEDDER_FINGERPRINT

            expect_embedder = HASHING_EMBEDDER_FINGERPRINT
        # validate the codebook against the ACTUAL vector width, not
        # the config default: a caller-injected embeddings frame may be
        # any dim, and checking cfg.embedding_dim both rejected valid
        # (embeddings, codebook) pairs and passed mismatched ones (r13
        # advice). One limit(1) probe — the cheapest true answer.
        probe = emb.select(
            F.size(F.col(cfg.embedding_col)).alias("_d")
        ).limit(1).first()
        actual_dim = (
            int(probe["_d"])
            if probe is not None and probe["_d"] is not None
            else cfg.embedding_dim
        )
        model = load_semantic_codebook(
            cfg.semantic_codebook_path,
            expect_dim=actual_dim,
            expect_embedder=expect_embedder,
        )
        dim = actual_dim  # sign-bit splitting must not index past the vector
    else:
        dim = cfg.embedding_dim
    verdict = semantic_dedup(
        emb, id_col=cfg.id_col, vec_col=cfg.embedding_col,
        threshold=cfg.semantic_threshold, cluster_size=cfg.semantic_cluster_size,
        k_cap=cfg.semantic_k_cap, max_fit_rows=cfg.semantic_max_fit_rows,
        dim=dim, model=model,
    )
    drop = verdict.filter(~F.col("is_kept")).select(cfg.id_col)
    return docs.join(drop, cfg.id_col, "left_anti")


def quality_filter(docs: DataFrame, model, cfg: CurationConfig) -> DataFrame:
    """Model-tier quality gate: JVM-side scoring, keep >= threshold."""
    from .classifier import score_quality

    return (
        score_quality(model, docs, text_col=cfg.text_col)
        .filter(F.col("model_quality") >= cfg.min_model_quality)
    )


def curate_corpus(docs: DataFrame, bench: DataFrame | None = None,
                  config: CurationConfig | None = None,
                  embeddings: DataFrame | None = None,
                  quality_model=None, lm=None,
                  observations: dict | None = None) -> dict[str, DataFrame]:
    """Run the full curation pipeline; returns every stage's output
    (lazy) under stage names, with the packing manifest under
    ``"manifest"`` and the final curated documents under ``"curated"``.

    Returning the intermediate frames costs nothing (they are unexecuted
    plans) and lets callers audit per-stage yields. Pass an empty dict as
    ``observations`` to get per-stage row counts for FREE: each stage is
    wrapped in a ``DataFrame.observe`` accumulator (stage name →
    ``Observation``), and every observation fires during the FIRST action
    on the final plan — one corpus pass records the whole funnel. The
    alternative audit pattern ``{k: v.count() for k, v in ...}`` replays
    the shared plan prefix once per stage (#stages corpus scans at
    100 TB), which is what ``release.build_release_manifest`` used to do.
    """
    from pyspark.sql import Observation

    cfg = config or CurationConfig()
    stages: dict[str, DataFrame] = {}

    def stage(name: str, df: DataFrame) -> DataFrame:
        if observations is not None:
            obs = Observation(name)
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            observations[name] = obs
        stages[name] = df
        return df

    if (cfg.semantic_codebook_path and embeddings is None
            and not cfg.semantic_from_text and not cfg.embeddings_table
            and not cfg.semantic_verdict_table):
        raise ValueError(
            "semantic_codebook_path is set but the semantic stage is "
            "disabled — pass embeddings=, set semantic_from_text=True, "
            "set embeddings_table, or set semantic_verdict_table (a "
            "configured codebook that silently never runs would look "
            "like dedup happened when it didn't)"
        )
    if embeddings is None and cfg.embeddings_table:
        # the persisted corpus embedding column (r13 build-floor lever)
        # — validate its provenance before trusting the vectors
        from .embeddings import read_embedder_sidecar
        from .versioned import read_table

        meta = read_embedder_sidecar(cfg.embeddings_table)
        if meta is not None and meta.get("dim") != cfg.embedding_dim:
            raise ValueError(
                f"embeddings table {cfg.embeddings_table} holds "
                f"dim={meta.get('dim')} vectors but the pipeline is "
                f"configured for embedding_dim={cfg.embedding_dim}"
            )
        embeddings = read_table(docs.sparkSession, cfg.embeddings_table)
        # coverage guard: the semantic stage inner-joins docs to their
        # vectors, so any doc MISSING from the table would silently
        # skip semantic dedup while the funnel still reports the stage
        # — the same "looks like dedup happened when it didn't" failure
        # the codebook guard above refuses. When the table carries the
        # text fingerprint column, the guard also catches STALE rows
        # (same id, changed text → vector from the old text), closing
        # the r13 advice hole; either way it is one slim anti-join
        # count (ids+fp only, no vectors, no text payload); the fix is
        # re-running materialize_corpus_embeddings, which embeds only
        # the gap / the changed rows.
        if "text_fp" in embeddings.columns:
            from .embeddings import text_fingerprint

            uncovered = docs.select(
                F.col(cfg.id_col),
                text_fingerprint(cfg.text_col).alias("text_fp"),
            ).join(
                embeddings.select(
                    F.col(cfg.embedding_id_col).alias(cfg.id_col),
                    "text_fp"),
                [cfg.id_col, "text_fp"], "left_anti",
            ).count()
            what = "is missing or holds STALE vectors for"
        else:
            uncovered = docs.select(cfg.id_col).join(
                embeddings.select(
                    F.col(cfg.embedding_id_col).alias(cfg.id_col)),
                cfg.id_col, "left_anti",
            ).count()
            what = "is missing vectors for"
        if uncovered > 0:
            raise ValueError(
                f"embeddings table {cfg.embeddings_table} {what} "
                f"{uncovered} input document(s) — those docs would "
                "silently bypass semantic dedup (or be deduped on an "
                "outdated text). Re-run materialize_corpus_embeddings "
                "(CLI: materialize-embeddings) to embed the gap first."
            )
    elif embeddings is None and cfg.semantic_from_text:
        from .embeddings import embed_documents

        # text-only corpus: derive the vectors in-pipeline (one Arrow
        # map pass; a real encoder swaps into the same kernel)
        embeddings = embed_documents(
            docs, cfg.id_col, cfg.text_col, cfg.embedding_dim,
            cfg.embedding_id_col, cfg.embedding_col,
        )

    verdict_drop = None
    if cfg.semantic_verdict_table:
        # the materialized-verdict route (r14): one slim anti-join
        # replaces the whole semantic recompute. Population semantics:
        # verdicts were materialized over the FULL corpus, so a doc
        # whose semantic keeper happens to be dropped by an UPSTREAM
        # stage still drops here (the canonical-representative reading
        # of SemDeDup); the recompute routes instead re-elect a keeper
        # among survivors. Equality between the two holds exactly when
        # upstream stages drop nothing (tests pin that case).
        if embeddings is not None:
            raise ValueError(
                "semantic_verdict_table and a recompute route "
                "(embeddings=/embeddings_table/semantic_from_text) are "
                "both configured — one of them would be silently "
                "ignored; choose one semantic source"
            )
        from .semantic_verdict import read_verdict_sidecar
        from .versioned import read_table

        meta = read_verdict_sidecar(cfg.semantic_verdict_table)
        if meta is None:
            raise ValueError(
                f"verdict table {cfg.semantic_verdict_table} has no "
                "_verdict.json sidecar — it was not created by "
                "materialize_semantic_verdict; refusing unverifiable "
                "verdicts"
            )
        if meta.get("threshold") != cfg.semantic_threshold:
            raise ValueError(
                f"verdict table {cfg.semantic_verdict_table} was "
                f"materialized at threshold={meta.get('threshold')} but "
                f"the pipeline is configured for "
                f"semantic_threshold={cfg.semantic_threshold} — a "
                "different cutoff means different verdicts; "
                "re-materialize or align the config"
            )
        if meta.get("cluster_size") != cfg.semantic_cluster_size:
            # clustering granularity decides which pairs were ever
            # compared — as verdict-defining as the cutoff itself
            raise ValueError(
                f"verdict table {cfg.semantic_verdict_table} was "
                f"materialized at cluster_size={meta.get('cluster_size')} "
                f"but the pipeline is configured for "
                f"semantic_cluster_size={cfg.semantic_cluster_size} — "
                "different clustering means different verdicts; "
                "re-materialize or align the config"
            )
        if cfg.semantic_codebook_path:
            # a configured codebook alongside the verdict table is
            # either the SAME codebook (fine — cross-check it) or a
            # different one being silently ignored (refuse)
            from .ann import load_semantic_codebook
            from .semantic_verdict import codebook_fingerprint

            cb_fp = codebook_fingerprint(
                load_semantic_codebook(cfg.semantic_codebook_path))
            if cb_fp != meta.get("codebook_fingerprint"):
                raise ValueError(
                    f"semantic_codebook_path={cfg.semantic_codebook_path} "
                    "is configured but the verdict table was materialized "
                    "under a DIFFERENT codebook — the configured one "
                    "would be silently ignored; re-materialize the "
                    "verdicts under it or drop the codebook config"
                )
        vt = read_table(docs.sparkSession, cfg.semantic_verdict_table)
        uncovered = docs.select(cfg.id_col).join(
            vt.select(cfg.id_col), cfg.id_col, "left_anti").count()
        if uncovered > 0:
            raise ValueError(
                f"verdict table {cfg.semantic_verdict_table} is missing "
                f"verdicts for {uncovered} input document(s) — they "
                "would silently bypass semantic dedup; re-run "
                "materialize_semantic_verdict to extend it first"
            )
        verdict_drop = vt.filter(~F.col("is_kept")).select(cfg.id_col)

    cur = stage("exact_deduped", exact_dedup(docs, cfg.id_col, cfg.text_col))
    cur = stage("near_deduped", near_dup_dedup(
        cur, cfg.id_col, cfg.text_col, cfg.min_est_jaccard, cfg.production_hash
    ))
    if embeddings is not None:
        cur = stage("semantic_deduped", semantic_dedup_docs(cur, embeddings, cfg))
    elif verdict_drop is not None:
        cur = stage("semantic_deduped",
                    cur.join(verdict_drop, cfg.id_col, "left_anti"))
    if quality_model is not None:
        cur = stage("quality_filtered", quality_filter(cur, quality_model, cfg))
    if lm is not None and cfg.max_perplexity is not None:
        from .lm import perplexity_filter

        cur = stage("lm_filtered", perplexity_filter(
            cur, lm, cfg.max_perplexity, cfg.id_col, cfg.text_col
        ).drop("n_tokens", "avg_logp", "perplexity"))
    decon_vt = None
    if cfg.decon_verdict_table:
        if bench is not None or cfg.benchmark_decon_table:
            raise ValueError(
                "decon_verdict_table and a decon recompute route "
                "(bench= / benchmark_decon_table) are both configured — "
                "one would be silently ignored; pass one decon source"
            )
        from .versioned import latest_version as _lv
        from .versioned import read_table as _rt_vt

        meta = read_decon_verdict_sidecar(cfg.decon_verdict_table)
        if meta is None:
            raise ValueError(
                f"decon verdict table {cfg.decon_verdict_table} has no "
                f"{DECON_VERDICT_SIDECAR} sidecar — it was not created "
                "by materialize_decon_verdict; refusing unverifiable "
                "verdicts"
            )
        bm = meta.get("bench_sidecar") or {}
        if bm.get("production_hash") != cfg.production_hash:
            raise ValueError(
                f"decon verdict table {cfg.decon_verdict_table} was "
                f"computed under production_hash="
                f"{bm.get('production_hash')} but the pipeline uses "
                f"{cfg.production_hash} — its fuzzy measures come from "
                "a different hash family; re-materialize or align"
            )
        _got = {k: bm.get(k) for k in GEOMETRY}
        if _got != GEOMETRY:
            raise ValueError(
                f"decon verdict table {cfg.decon_verdict_table} was "
                f"computed under LSH geometry {_got} but the code uses "
                f"{GEOMETRY}; re-materialize the verdicts"
            )
        import os as _os_vt

        broot = meta.get("bench_root")
        if broot and _os_vt.path.exists(broot):
            # bench artifacts still present: refuse STALE verdicts —
            # ones computed before the bench tables' current versions
            now = {"bench_ngrams_version":
                   _lv(_os_vt.path.join(broot, "ngrams")),
                   "bench_bands_version":
                   _lv(_os_vt.path.join(broot, "bands"))}
            pinned = {k: meta.get(k) for k in now}
            if now != pinned:
                raise ValueError(
                    f"decon verdict table {cfg.decon_verdict_table} "
                    f"pins bench versions {pinned} but {broot} is now "
                    f"at {now} — the verdicts predate the current "
                    "benchmark set; re-materialize them"
                )
        from .embeddings import text_fingerprint

        decon_vt = _rt_vt(docs.sparkSession, cfg.decon_verdict_table)
        uncovered = docs.select(
            cfg.id_col,
            text_fingerprint(cfg.text_col).alias("text_fp"),
        ).join(decon_vt.select(cfg.id_col, "text_fp"),
               [cfg.id_col, "text_fp"], "left_anti").count()
        if uncovered > 0:
            raise ValueError(
                f"decon verdict table {cfg.decon_verdict_table} is "
                f"missing verdicts for {uncovered} input document(s) "
                "(new id or changed text) — they would silently bypass "
                "decontamination; run materialize_decon_verdict to "
                "extend it first"
            )
    bench_ngrams = bench_bands = None
    if cfg.benchmark_decon_table:
        if bench is not None:
            raise ValueError(
                "benchmark_decon_table and bench= are both configured — "
                "one would be silently ignored; pass one decon source"
            )
        from .versioned import read_table as _rt_decon

        meta = read_bench_decon_sidecar(cfg.benchmark_decon_table)
        if meta is None:
            raise ValueError(
                f"benchmark decon table {cfg.benchmark_decon_table} has "
                "no _bench_decon.json sidecar — it was not created by "
                "materialize_benchmark_decon; refusing unverifiable "
                "artifacts"
            )
        if meta.get("production_hash") != cfg.production_hash:
            raise ValueError(
                f"benchmark decon table {cfg.benchmark_decon_table} was "
                f"materialized with production_hash="
                f"{meta.get('production_hash')} but the pipeline uses "
                f"{cfg.production_hash} — band keys from different hash "
                "families never collide, so fuzzy decon would silently "
                "pass everything; re-materialize or align the config"
            )
        # LSH-geometry pin (r15): refuse a bands table built under
        # other minhash/banding constants, like the hash-family check
        _got = {k: meta.get(k) for k in GEOMETRY}
        if _got != GEOMETRY:
            raise ValueError(
                f"benchmark decon table {cfg.benchmark_decon_table} was "
                f"materialized with LSH geometry {_got} but the code "
                f"uses {GEOMETRY} — band keys from different geometries "
                "do not collide correctly; re-materialize the table"
            )
        import os as _os

        bench_ngrams = _rt_decon(
            docs.sparkSession,
            _os.path.join(cfg.benchmark_decon_table, "ngrams"))
        bench_bands = _rt_decon(
            docs.sparkSession,
            _os.path.join(cfg.benchmark_decon_table, "bands"))
    if decon_vt is not None:
        # verdict route: both decon stages are two slim anti-joins over
        # the persisted per-doc measures — thresholds applied HERE, so
        # the same verdict table serves any threshold config. NULL
        # measures (no shared n-gram / no band collision) drop out of
        # the threshold filters exactly like the recompute route's
        # absent join rows.
        exact_flagged = decon_vt.filter(
            F.col("contamination_ratio") > cfg.max_contamination
        ).select(cfg.id_col)
        cur = stage("decontaminated",
                    cur.join(exact_flagged, cfg.id_col, "left_anti"))
        if cfg.fuzzy_decontaminate:
            fuzzy_flagged = decon_vt.filter(
                F.col("max_est_jaccard") >= cfg.fuzzy_tau
            ).select(cfg.id_col)
            cur = stage("fuzzy_decontaminated",
                        cur.join(fuzzy_flagged, cfg.id_col, "left_anti"))
    elif bench is not None or bench_ngrams is not None:
        cur = stage("decontaminated", decontaminate(
            cur, bench, cfg.id_col, cfg.text_col, cfg.text_col,
            cfg.max_contamination, bench_ngrams=bench_ngrams,
        ))
        if cfg.fuzzy_decontaminate:
            cur = stage("fuzzy_decontaminated", fuzzy_decontaminate(
                cur, bench, cfg.id_col, cfg.text_col, cfg.text_col,
                cfg.fuzzy_tau, cfg.production_hash,
                bench_bands=bench_bands,
            ))
    if cfg.mix_token_budget is not None:
        # note: the totals aggregation inside executes the pipeline
        # prefix once at build time (bounded |sources|-row collect) —
        # the price of data-dependent mixing rates; set the budget only
        # when domain rebalancing is actually wanted
        cur = stage("mixed", mix_corpus_temperature(
            cur, cfg.mix_alpha, cfg.mix_token_budget,
            cfg.shard_col, cfg.id_col, cfg.text_col,
        ))
    if cfg.rates_per_mille or cfg.default_rate_per_mille < 1000:
        cur = stage("sampled", stratified_sample(
            cur, cfg.rates_per_mille, cfg.default_rate_per_mille,
            cfg.stratum_col, cfg.id_col,
        ))
    if cfg.blocklist:
        cur = stage("scrubbed", blocklist_scrub(
            cur, cfg.blocklist, cfg.max_hit_ratio, cfg.text_col
        ))
    if cfg.redact_pii:
        from .text import redact_pii

        redacted = redact_pii(cur, cfg.text_col)
        if cfg.max_pii_hits is not None:
            redacted = redacted.filter(
                F.col("n_pii_redactions") <= cfg.max_pii_hits
            )
        cur = stage("pii_redacted", redacted.drop("n_pii_redactions"))
    cur = stage("curated", cur)
    # Two alternative shard-former outputs, both lazy: "manifest" packs
    # whole documents into token-budget sequences; "chunks" windows each
    # document into overlapping fixed-token contexts (chunk rows are the
    # training examples; a writer packs them budget-exactly).
    stages["manifest"] = pack_sequences(
        cur, cfg.token_budget, cfg.shard_col, cfg.id_col, cfg.text_col
    )
    stages["chunks"] = chunk_documents(
        cur, cfg.chunk_tokens, cfg.chunk_stride, cfg.id_col, cfg.text_col
    )
    return stages

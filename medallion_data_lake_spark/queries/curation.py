"""Training-data curation operators over the ``documents`` table.

The four pipeline stages a corpus pass runs between raw text and a
training shard, each expressed as pure JVM-side DataFrame plans:

- **Decontamination** — remove eval-set n-gram overlap from the training
  corpus (the standard benchmark-leakage guard). Hashed-shingle
  equi-join: the benchmark n-gram set is tiny relative to the corpus, so
  it broadcasts; the corpus side is one explode + one hash-join — never
  an all-pairs comparison. At 100 TB the same plan holds: the benchmark
  set (even 1k benchmarks × 10k n-grams) is MBs, squarely in broadcast
  range, and Spark can additionally inject a runtime bloom filter on the
  corpus scan.
- **Deterministic stratified sampling** — per-language keep rates applied
  via a content-stable hash (md5 of the doc key), not ``rand()``: the
  sample is reproducible across runs, executors, and engines, which is
  what makes ablation corpora and incremental re-runs possible. Pure
  map-side filter; the only shuffle is the final per-stratum audit agg.
- **Blocklist scrub** — term-list hit counting + density-threshold keep
  flag + scrubbed-text reconstruction, all inside one codegen span
  (higher-order functions over the token array; no UDF, no shuffle).
- **Sequence packing** — assign documents to fixed-token-budget training
  sequences by cumulative token count within each source shard
  (window over ``PARTITION BY source ORDER BY doc_id``). Window state is
  bounded per shard, and shard count grows with data, so the plan
  parallelizes at any scale; a global (unpartitioned) packing order
  would be the classic single-task window hazard, deliberately avoided.

These extend the reference's cleaning tier (reference
``sakila-data-lake/bronze_to_silver.py`` trim/dedup/null-drop) to the
corpus-curation operations an LLM training pipeline needs (SURVEY.md
north-star §"beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_star_table_spread
from ..functions import md5_int
from . import query
from ._parity import sql_stable_round, stable_round
from .dedup import _SQL_HS, shingle_hashes
from .text import _SQL_TOKS, tokens

# Benchmark/eval set for decontamination: one source shard plays the
# held-out benchmark. In production this is the eval-suite text.
BENCH_SOURCE = "src0"

# Deterministic per-language sampling rates (domain-mixing: downweight
# the dominant language, keep the rest at a higher rate). Rates are in
# thousandths so the hash comparison stays integer in both engines.
SAMPLE_RATES_PER_MILLE = {"en": 300, "de": 600, "es": 600, "fr": 600, "zh": 600}
_DEFAULT_RATE_PER_MILLE = 500

# Blocklist scrub: term list + maximum tolerated hit density.
BLOCKLIST = ("slow", "big")
REJECT_HIT_RATIO = 0.09  # p90 of fixture density ≈ 0.11 → both classes occur

# Sequence packing: token budget per training sequence.
PACK_TOKEN_BUDGET = 512

# Chunking: fixed context window with overlap (stride < window keeps
# boundary-spanning content in two chunks — the standard pretraining
# chunker shape).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, source, list_distinct({_SQL_HS}) AS hs FROM documents
    ),
    bench AS (
        SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE source = '{BENCH_SOURCE}'
    ),
    corpus AS (
        SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_doc_ngrams, unnest(hs) AS h
        FROM hashed WHERE source <> '{BENCH_SOURCE}'
    )
    SELECT c.doc_id,
           c.n_doc_ngrams,
           COUNT(*) AS n_shared_ngrams,
           {sql_stable_round('COUNT(*) * 1.0 / c.n_doc_ngrams', 4)} AS contamination_ratio
    FROM corpus c JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id, c.n_doc_ngrams
    """,
    doc="Test-set decontamination: flag corpus documents sharing any "
        "3-word shingle with the benchmark shard. Hashed shingles "
        "(int64 equi-join, not string compare); benchmark side distinct "
        "+ broadcast; corpus side explode + hash-join + per-doc count — "
        "no all-pairs stage anywhere, so cost is O(corpus n-grams).",
    tags=("text", "curation"),
    extra=True,  # r10 rotation (gated r2-r9, green): decontamination stays gated
    # via decontaminate_fuzzy_lsh + doc_ngram_novelty
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    hashed = d.select(
        "doc_id", "source",
        F.array_distinct(shingle_hashes(F.col("text"))).alias("hs"),
    )
    bench = (
        hashed.filter(F.col("source") == BENCH_SOURCE)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    corpus = hashed.filter(F.col("source") != BENCH_SOURCE).select(
        "doc_id", F.size("hs").cast("long").alias("n_doc_ngrams"),
        F.explode("hs").alias("h"),
    )
    # hs is distinct per doc and bench is globally distinct, so the
    # post-join count per doc IS the distinct shared-n-gram count.
    return (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id", "n_doc_ngrams")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .select(
            "doc_id", "n_doc_ngrams", "n_shared_ngrams",
            stable_round(
                F.col("n_shared_ngrams") * F.lit(1.0) / F.col("n_doc_ngrams"), 4
            ).alias("contamination_ratio"),
        )
    )


def _sql_rate_case() -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN {rate}"
        for lang, rate in sorted(SAMPLE_RATES_PER_MILLE.items())
    )
    return f"CASE lang {arms} ELSE {_DEFAULT_RATE_PER_MILLE} END"


def _rate_col():
    c = None
    for lang, rate in sorted(SAMPLE_RATES_PER_MILLE.items()):
        c = (c if c is not None else F).when(F.col("lang") == lang, F.lit(rate))
    return c.otherwise(F.lit(_DEFAULT_RATE_PER_MILLE))


@query(
    "stratified_sample_audit",
    oracle=f"""
    WITH flagged AS (
        SELECT lang, doc_id,
               {_sql_rate_case()} AS rate_per_mille,
               (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000) < ({_sql_rate_case()}) AS keep
        FROM documents
    )
    SELECT lang,
           rate_per_mille,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum,
           {sql_stable_round('SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 4)}
             AS achieved_rate
    FROM flagged
    GROUP BY lang, rate_per_mille
    """,
    doc="Deterministic stratified sampling (domain mixing): per-language "
        "keep rates applied via md5(doc_id) — reproducible across runs "
        "and engines, unlike rand()-based sampleBy. Map-side filter; the "
        "audit rollup (achieved vs target rate + membership checksum) is "
        "the only shuffle. sampled_id_sum pins the exact sampled set, so "
        "the oracle verifies membership, not just counts.",
    tags=("curation",),
    extra=True,  # r9 rotation (gated r2-r8, green): sampling/packing family stays
    # driver-gated via sequence_packing_plan
)
def stratified_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    rate = _rate_col()
    keep = (md5_int(F.col("doc_id").cast("string")) % 1000) < rate
    flagged = d.select(
        "lang", "doc_id", rate.alias("rate_per_mille"), keep.alias("keep")
    )
    kept1 = F.when(F.col("keep"), F.lit(1)).otherwise(F.lit(0))
    return (
        flagged.groupBy("lang", "rate_per_mille")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept1).cast("long").alias("n_sampled"),
            F.sum(F.when(F.col("keep"), F.col("doc_id")).otherwise(F.lit(0)))
             .cast("long").alias("sampled_id_sum"),
            stable_round(F.sum(kept1) * F.lit(1.0) / F.count(F.lit(1)), 4)
             .alias("achieved_rate"),
        )
    )


_SQL_BLOCK = "('" + "', '".join(BLOCKLIST) + "')"


@query(
    "blocklist_scrub_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> x IN {_SQL_BLOCK})) AS BIGINT) AS n_hits,
           {sql_stable_round(f'len(list_filter(toks, x -> x IN {_SQL_BLOCK})) * 1.0 / len(toks)', 4)}
             AS hit_ratio,
           (len(list_filter(toks, x -> x IN {_SQL_BLOCK})) * 1.0 / len(toks))
             <= {REJECT_HIT_RATIO} AS keep,
           CAST(length(array_to_string(list_filter(toks, x -> x NOT IN {_SQL_BLOCK}), ' '))
             AS BIGINT) AS scrubbed_len
    FROM t
    """,
    doc="Blocklist scrub: term-hit count, hit density, density-threshold "
        "keep flag, and scrubbed-text length, in one codegen span "
        "(filter/size/array_join HOFs over the token array — no UDF, no "
        "shuffle; scales linearly with corpus size).",
    tags=("text", "curation"),
    # re-gated r14 (gated r9-r12, out since the r13 rotation — oldest-first sweep)
)
def blocklist_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens(F.col("text"))
    hits = F.size(F.filter(toks, lambda t: t.isin(*BLOCKLIST)))
    ratio = hits * F.lit(1.0) / F.size(toks)
    scrubbed = F.array_join(
        F.filter(toks, lambda t: ~t.isin(*BLOCKLIST)), " "
    )
    return d.select(
        "doc_id",
        hits.cast("long").alias("n_hits"),
        stable_round(ratio, 4).alias("hit_ratio"),
        (ratio <= F.lit(REJECT_HIT_RATIO)).alias("keep"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


# PII patterns: simple character-class regexes with identical semantics
# in Java regex (Spark) and RE2 (DuckDB) — no lookaround, no backrefs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


@query(
    "pii_redaction_stats",
    oracle="SELECT doc_id, "
    + ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    + ", CAST(length("
    + "".join(
        f"regexp_replace("
        for _ in PII_PATTERNS
    )
    + "text"
    + "".join(
        f", '{pat}', '<{name.upper()}>', 'g')"
        for name, pat in PII_PATTERNS.items()
    )
    + ") AS BIGINT) AS redacted_len FROM documents",
    doc="PII detection/redaction stats: per-document counts of email / "
        "phone / IPv4 / SSN patterns plus the redacted-text length. "
        "Pure regexp expressions in one codegen span — map-only, no "
        "UDF; the patterns avoid lookaround so Java regex and RE2 "
        "agree. (The synthetic fixture contains no PII, so counts are "
        "verified at zero here; behavioral coverage with planted PII "
        "lives in test_curation_pipeline.)",
    tags=("text", "curation"),
    extra=True,  # r14 rotation (gated r9-r13, green): scrub-family twin blocklist_scrub_stats re-gated r14
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    cols = [
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        .cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    red = F.col("text")
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return d.select(
        "doc_id", *cols, F.length(red).cast("long").alias("redacted_len")
    )


# Deterministic corpus shuffle: training shard count.
SHUFFLE_SHARDS = 8
SHUFFLE_SEED = 7


@query(
    "corpus_shuffle_assignment",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(concat('shuf:{SHUFFLE_SEED}:',
                    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS order_key
        FROM documents
    )
    SELECT doc_id,
           CAST(order_key % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY order_key % {SHUFFLE_SHARDS}
               ORDER BY order_key, doc_id
           ) AS BIGINT) AS pos
    FROM keyed
    """,
    doc="Deterministic training-order shuffle: order key = md5(seed, "
        "doc_id), shard = key mod N, position = rank within shard. "
        "Reproducible epoch ordering without rand() state, and WITHOUT "
        "a global sort — each shard orders independently (bounded "
        "work), which is the only shuffle shape that survives 100 TB; "
        "a single global ORDER BY would funnel the corpus through one "
        "range partitioner.",
    tags=("curation",),
    extra=True,  # r14 rotation (gated r10-r13, green): chunk/pack/sample-family twin doc_chunking_windows re-gated r14
)
def corpus_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    key = md5_int(
        F.concat(F.lit(f"shuf:{SHUFFLE_SEED}:"), F.col("doc_id").cast("string"))
    )
    keyed = d.select("doc_id", key.alias("order_key"))
    # md5_int is 60-bit non-negative, so % == pmod here (matches DuckDB)
    shard = (F.col("order_key") % SHUFFLE_SHARDS).cast("long")
    w = Window.partitionBy(shard).orderBy("order_key", "doc_id")
    return keyed.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


_SQL_BIGRAMS = (
    f"list_transform(range(1, len({_SQL_TOKS})), "
    f"i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i+1])"
)


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH bg AS (
        SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bg FROM documents
    ),
    cnt AS (
        SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT)    AS n_bigrams,
           CAST(COUNT(*) AS BIGINT)  AS n_distinct_bigrams,
           CAST(MAX(c) AS BIGINT)    AS max_bigram_count,
           {sql_stable_round('MAX(c) * 1.0 / SUM(c)', 4)} AS max_bigram_frac,
           {sql_stable_round('COUNT(*) * 1.0 / SUM(c)', 4)} AS distinct_ratio
    FROM cnt GROUP BY doc_id
    """,
    doc="Repetition-based quality signals (the Gopher/C4 family): "
        "per-document bigram histogram → most-frequent-bigram fraction "
        "and distinct-bigram ratio; high max_bigram_frac / low "
        "distinct_ratio flags boilerplate and degenerate repetition. "
        "Explode + two-level aggregation keyed by doc — fully "
        "map-reducible, no per-doc state beyond the hash groups.",
    tags=("text", "curation"),
    # re-gated r14 (gated r9-r12, out since the r13 rotation — oldest-first sweep)
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    t = tokens(F.col("text"))
    n_bg = F.size(t) - 1
    bigrams = F.transform(
        F.arrays_zip(
            F.slice(t, 1, n_bg).alias("w0"), F.slice(t, 2, n_bg).alias("w1")
        ),
        lambda e: F.concat_ws(" ", e["w0"], e["w1"]),
    )
    cnt = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        F.max("c").cast("long").alias("max_bigram_count"),
        stable_round(F.max("c") * F.lit(1.0) / F.sum("c"), 4)
        .alias("max_bigram_frac"),
        stable_round(F.count(F.lit(1)) * F.lit(1.0) / F.sum("c"), 4)
        .alias("distinct_ratio"),
    )


@query(
    "sequence_packing_plan",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM t
    )
    SELECT source,
           CAST(FLOOR(cum_before / {PACK_TOKEN_BUDGET}.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
    FROM packed
    GROUP BY source, seq_id
    """,
    doc=f"Sequence packing: assign docs to {PACK_TOKEN_BUDGET}-token "
        "training sequences by cumulative token count within each source "
        "shard (running-sum window PARTITIONED by shard — bounded state, "
        "parallel across shards; a global packing order would serialize "
        "into one task and is deliberately not offered). Output is the "
        "per-sequence manifest a shard writer consumes.",
    tags=("curation",),
    # driver-gated since r4: carries the running-sum frame window's driver
    # row (user_running_totals rotated to extra) plus packing semantics
    extra=True,  # r10 rotation (gated r4-r9, green): chunk/pack family stays gated
    # via doc_chunking_windows
)
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    t = d.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn("cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return (
        packed.select(
            "source",
            F.floor(F.col("cum_before") / F.lit(float(PACK_TOKEN_BUDGET)))
             .cast("long").alias("seq_id"),
            "n_tok",
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("seq_tokens"),
        )
    )


@query(
    "doc_chunking_windows",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    e AS (
        SELECT doc_id, toks,
               unnest(range(0, len(toks), {CHUNK_STRIDE})) AS s
        FROM t
    )
    SELECT doc_id,
           CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS chunk_start,
           CAST(least({CHUNK_TOKENS}, len(toks) - s) AS BIGINT) AS chunk_tokens,
           md5(array_to_string(list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' ')) AS chunk_hash
    FROM e
    """,
    doc=f"Document chunking: split every document into {CHUNK_TOKENS}-token "
        f"context windows at stride {CHUNK_STRIDE} (overlapping so "
        "boundary-spanning content lands in two chunks) — the standard "
        "pretraining chunker between curation and sequence packing. "
        "Pure 1:N row expansion (sequence + posexplode + slice, all "
        "codegen HOFs): map-side, zero shuffle, no UDF; chunk volume is "
        "n_tokens/stride regardless of document count, so the plan "
        "scales with corpus size like the scan itself. chunk_hash is the "
        "content address a downstream shard writer dedups/ships by.",
    tags=("curation",),
    # re-gated r14 (gated r9-r12, out since the r13 rotation — oldest-first sweep)
)
def doc_chunking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
    e = t.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "chunk_start")
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_start") + 1, F.lit(CHUNK_TOKENS))
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("long"),
        F.col("chunk_start").cast("long"),
        F.size(chunk).cast("long").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# FUZZY decontamination — LSH-bucketed cross-corpus near-match (r7). The
# exact-shingle join above misses paraphrased/partially-edited benchmark
# leakage; MinHash+LSH catches high-Jaccard rewrites at the same
# O(colliding pairs) cost profile as within-corpus near-dedup.
# ---------------------------------------------------------------------------

_FUZZY_TAU = 0.5  # flag when estimated Jaccard >= tau


def _fuzzy_oracle() -> str:
    from ..operators.lsh import N_BANDS, N_MINHASH
    from .dedup import _SQL_SIGS_CTE, _sql_band_key

    sigs_cte = _SQL_SIGS_CTE.replace(
        "SELECT doc_id,", "SELECT doc_id, source,", 1
    ).replace("sigs AS (SELECT doc_id,", "sigs AS (SELECT doc_id, source,")
    mh_cols = ", ".join(f"mh{j}" for j in range(N_MINHASH))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, source, {b} AS band, {_sql_band_key(b, '')} AS bkey, "
        f"{mh_cols} FROM sigs"
        for b in range(N_BANDS)
    )
    est = (
        "("
        + " + ".join(
            f"CASE WHEN c.mh{j} = b.mh{j} THEN 1 ELSE 0 END"
            for j in range(N_MINHASH)
        )
        + f") / {N_MINHASH}.0"
    )
    return f"""
    WITH {sigs_cte}, bands AS ({bands}),
    cand AS (
      SELECT DISTINCT c.doc_id, b.doc_id AS bench_doc_id,
             {sql_stable_round(est, 4)} AS est_jaccard
      FROM (SELECT * FROM bands WHERE source <> '{BENCH_SOURCE}') c
      JOIN (SELECT * FROM bands WHERE source = '{BENCH_SOURCE}') b
        ON c.band = b.band AND c.bkey = b.bkey
      WHERE {est} >= {_FUZZY_TAU}
    )
    SELECT doc_id, bench_doc_id, est_jaccard FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY est_jaccard DESC, bench_doc_id
      ) AS rn FROM cand
    ) WHERE rn = 1
    """


@query(
    "decontaminate_fuzzy_lsh",
    oracle=_fuzzy_oracle(),
    doc="FUZZY test-set decontamination: corpus docs whose MinHash "
        "signature LSH-collides with a benchmark doc at estimated "
        "Jaccard >= 0.5 — the paraphrase/partial-edit leakage the exact "
        "shingle join (decontaminate_ngram_overlap) cannot see. Both "
        "sides band their signatures map-side; the only shuffle joins "
        "(band, key) tuples, so cost is O(colliding pairs) — never "
        "corpus × benchmark. Signatures ride the band rows (the "
        "lsh_candidate_pairs layout) so the estimate computes inside "
        "the one join; per-doc winner via max_by, no second window "
        "shuffle. At 100 TB: persist both signature tables and reuse "
        "across benchmark versions.",
    tags=("text", "curation", "dedup"),
    extra=True,  # r11 rotation (gated r8-r10, green): LSH decontamination
    # stays gated via doc_ngram_novelty + ngram_jaccard_consecutive
    # (re-gated this round)
)
def decontaminate_fuzzy_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation_pipeline import banded_signatures
    from ..operators.lsh import est_jaccard, mh_cols

    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    corpus = banded_signatures(d.filter(F.col("source") != BENCH_SOURCE),
                               "doc_id", "text", "doc_id")
    bench = banded_signatures(d.filter(F.col("source") == BENCH_SOURCE),
                              "bench_doc_id", "text", "doc_id")
    est = est_jaccard(mh_cols("doc_id_"), mh_cols("bench_doc_id_"))
    pairs = (
        corpus.join(bench, ["band", "bkey"])
        .select("doc_id", "bench_doc_id",
                stable_round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= _FUZZY_TAU)
        .dropDuplicates(["doc_id", "bench_doc_id"])  # multi-band re-reach
    )
    best = F.max(
        F.struct(F.col("est_jaccard"), (-F.col("bench_doc_id")).alias("nb"))
    ).alias("_m")
    return (
        pairs.groupBy("doc_id").agg(best)
        .select(
            "doc_id",
            (-F.col("_m.nb")).cast("long").alias("bench_doc_id"),
            F.col("_m.est_jaccard").alias("est_jaccard"),
        )
    )


@query(
    "doc_ngram_novelty",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, list_distinct({_SQL_HS}) AS hs FROM documents
    ),
    exploded AS (
        SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles,
               unnest(hs) AS h
        FROM hashed
    ),
    owner AS (SELECT h, MIN(doc_id) AS first_owner FROM exploded GROUP BY h)
    SELECT e.doc_id, e.n_shingles,
           CAST(SUM(CASE WHEN o.first_owner = e.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {sql_stable_round(
               "SUM(CASE WHEN o.first_owner = e.doc_id THEN 1 ELSE 0 END)"
               " * 1.0 / e.n_shingles", 4)} AS novelty_ratio
    FROM exploded e JOIN owner o ON e.h = o.h
    GROUP BY e.doc_id, e.n_shingles
    """,
    doc="Per-document n-gram NOVELTY — the fraction of a document's "
        "shingles it is the FIRST (lowest doc_id) to contribute to the "
        "corpus. The dedup-aware data-valuation signal: boilerplate and "
        "late near-copies score near 0, genuinely new content near 1 — "
        "what a curation pass ranks by when trimming to a token budget "
        "without a quality model. Cost is exactly the exact-dedup "
        "class (r15 owner-count identity, r16 single-pass): ONE "
        "tokenize→shingle→md5 pass, ONE explode, ONE shuffle of the "
        "int64 shingle hashes that BOTH rollups read (ReuseExchange): "
        "min-owner → owner counts (n_novel(doc) = |{h : min owner = "
        "doc}| because per-doc shingle sets are distinct) and per-doc "
        "exploded-row counts (= n_shingles, same distinctness; docs "
        "with no shingles drop out of both, matching the oracle's "
        "inner join with no pushable filter). The r14 shape joined the "
        "owner table back onto the full exploded set; the r15 shape "
        "re-derived n_shingles from a second shingle pass whose parity "
        "filter substituted a third chain evaluation into the scan "
        "(plans/r16/doc_ngram_novelty_{before,after}.txt). No "
        "all-pairs anywhere; first-ownership by doc_id is "
        "deterministic cross-engine.",
    tags=("text", "curation"),
    # r8 rotation: promoted to the driver gate (new in r7, never had a
    # driver row)
    # re-gated r13 (gated r8-r11, out since the r12 rotation — oldest-first sweep)
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    hs = d.select(
        "doc_id",
        F.array_distinct(shingle_hashes(F.col("text"))).alias("hs"),
    )
    # ONE explode feeds BOTH rollups through a shared h-keyed exchange
    # (r16). The prior shape derived n_shingles from a second
    # size(shingle_hashes(text)) branch, and its r15-ADVICE parity
    # filter (n_shingles > 0) was pushed below that branch's exchange BY
    # SUBSTITUTION — the full tokenize→shingle→md5 chain ran 3× per doc
    # (filter + two projections) across 2 scans, and the differing scan
    # subtrees kept AQE from reusing the text exchange (live-plan
    # audit; the 0.83 → 1.17 s r15→r16 artifact move was this, not
    # weather). Here the chain runs ONCE: both aggregates read the same
    # repartition(h) exchange (identical subtrees ⇒ ReuseExchange), the
    # owner rollup is exchange-free on top of it, and n_shingles =
    # per-doc exploded-row count (hs is array_distinct'ed). Docs with an
    # empty/NULL shingle set have no exploded rows, so BOTH rollups drop
    # them — exactly the oracle's inner-join row set, with no filterable
    # (hence pushable) predicate anywhere.
    exploded = hs.select("doc_id", F.explode("hs").alias("h")).repartition(
        F.col("h")
    )
    per_doc = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    owner_counts = (
        exploded.groupBy("h")
        .agg(F.min("doc_id").alias("first_owner"))
        .groupBy(F.col("first_owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return (
        per_doc.join(owner_counts, "doc_id", "left")
        .select(
            "doc_id", "n_shingles",
            # a doc owning no shingle has NO owner row: novelty 0, like
            # the oracle's SUM(CASE...) over its exploded rows
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id", "n_shingles", "n_novel",
            stable_round(
                F.col("n_novel") * F.lit(1.0) / F.col("n_shingles"), 4
            ).alias("novelty_ratio"),
        )
    )

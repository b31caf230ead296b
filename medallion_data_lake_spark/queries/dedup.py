"""Deduplication operators over ``documents`` / ``embeddings`` (north star).

Exact dedup (hash-groupBy), MinHash signatures + banded LSH candidate
pairs, SimHash fingerprints, n-gram Jaccard, and embedding-cosine
near-dup — all expressed with built-in higher-order functions so the
hot path stays JVM-side and shuffles only where pair generation demands
it (the LSH band join, which is exactly the shuffle MinHash exists to
bound).

Cross-engine hashing: Spark ``hash()``/``xxhash64`` and DuckDB ``hash()``
are different algorithms, so every hash here goes through md5 and takes
the first 15 hex digits as a 60-bit BIGINT — bit-identical in both
engines (functions.md5_int). At production scale you swap md5 for
xxhash64 (cheaper, same plan shape) via ``production=True`` on
:func:`shingle_hashes`/:func:`signatures`; the registry queries stay on
md5 because the oracle must reproduce the hashes.

Scale design (100 TB): signatures are one map-side pass per document
(no shuffle). LSH banding shuffles once on (band, key) — the classic
shingle→minhash→band→bucket-join pipeline whose candidate set is
O(near-dup pairs), not O(n²). The all-pairs oracle exists only for the
bounded consecutive-pair queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_star_table, load_star_table_spread
from ..functions import cosine, md5_int
from ..operators.lsh import (
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    band_self_join,
    est_jaccard,
    mh_cols,
)
from . import query
from ._parity import sql_stable_round, stable_round

SHINGLE_W = 3        # words per shingle
SIMHASH_BITS = 16

# Universal-hash family over a Mersenne prime: each shingle/token is
# md5-hashed ONCE to h ∈ [0, P), then the j-th hash is (A[j]·h + B[j]) mod P.
# One md5 per shingle instead of N_MINHASH — ~8× less hash work at 100 TB —
# and every product stays < 2^62, so int64 arithmetic never overflows in
# either engine (Spark ANSI mode would error; DuckDB would promote).
MERSENNE_P = 2_147_483_647  # 2^31 - 1
HASH_A = (1103515245, 1229782938, 1013904223, 1664525, 22695477, 69069, 1566083941, 48271)
HASH_B = (12345, 362436069, 521288629, 88675123, 5783321, 6615241, 99999989, 1013904243)

_SQL_COS_AB = (
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
    "* sqrt(list_dot_product(b.v, b.v)))"
)

# --- shared SQL fragments (DuckDB side of the same math) -------------------

def _sql_md5int(s: str) -> str:
    return f"CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


_SQL_TOKS = r"string_split_regex(trim(text), '\s+')"
_SQL_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(len({_SQL_TOKS}) - {SHINGLE_W - 1}, 1) + 1), "
    f"i -> array_to_string(list_slice({_SQL_TOKS}, i, i + {SHINGLE_W - 1}), ' ')))"
)


# one md5 per shingle, reduced mod P
_SQL_HS = (
    f"list_transform({_SQL_SHINGLES}, s -> {_sql_md5int('s')} % {MERSENNE_P})"
)


def _sql_minhash(j: int, hs: str = "hs") -> str:
    return (
        f"list_min(list_transform({hs}, "
        f"h -> ({HASH_A[j]} * h + {HASH_B[j]}) % {MERSENNE_P}))"
    )


_SQL_SIGS_CTE = (
    f"hashed AS (SELECT doc_id, {_SQL_HS} AS hs FROM documents), "
    "sigs AS (SELECT doc_id, "
    + ", ".join(f"{_sql_minhash(j)} AS mh{j}" for j in range(N_MINHASH))
    + " FROM hashed)"
)

# --- shared Spark expressions ----------------------------------------------

def _toks(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def shingles(col: Column) -> Column:
    """Distinct W-word shingles of a text column (set semantics).

    Built by zipping W shifted slices of the token array rather than
    ``transform(sequence(...), i -> slice(tokens, i, W))``: in the latter
    the tokenizing ``split`` sits *inside* the lambda and is re-evaluated
    once per shingle (measured ~8× slower on 50-token docs). With
    arrays_zip the split is evaluated O(W) times total and the lambda
    touches only its own zipped element.
    """
    t = _toks(col)
    n_sh = F.greatest(F.size(t) - (SHINGLE_W - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(t, i + 1, n_sh).alias(f"w{i}") for i in range(SHINGLE_W)]
    )
    # concat_ws skips nulls, so short docs (< W tokens) degrade to the
    # whole-text shingle, matching the slice-based semantics.
    return F.array_distinct(
        F.transform(
            zipped,
            lambda e: F.concat_ws(" ", *[e[f"w{i}"] for i in range(SHINGLE_W)]),
        )
    )


def shingle_hashes(col: Column, production: bool = False) -> Column:
    """Each distinct shingle hashed once, reduced mod MERSENNE_P.

    Default hash is md5 (cross-engine stable — the DuckDB oracle can
    reproduce it). ``production=True`` swaps in ``xxhash64``: same plan
    shape, no cryptographic work per shingle (measurably cheaper at
    100 TB), not oracle-reproducible. ``pmod`` because xxhash64 is
    signed and ``%`` preserves sign in Spark.
    """
    hasher = (
        (lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P)))
        if production
        else (lambda s: md5_int(s) % MERSENNE_P)
    )
    return F.transform(shingles(col), hasher)


def minhash(hash_arr: Column, j: int) -> Column:
    """j-th minhash from pre-hashed shingles: min of (A·h + B) mod P."""
    return F.array_min(
        F.transform(hash_arr, lambda h: (F.lit(HASH_A[j]) * h + HASH_B[j]) % MERSENNE_P)
    )


def signatures(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", production: bool = False) -> DataFrame:
    """id + mh0..mhN minhash signature — one map-side pass, no shuffle.

    The N_MINHASH minima are computed in a single fold over the hashed
    shingle array (array accumulator + zip_with/least). Computing them as
    N separate array_min projections looks cleaner but Catalyst's
    CollapseProject inlines the shared md5 pass into each of them —
    N× the hash work (measured: no speedup from a two-step projection).
    The single-fold form references the md5 array exactly once, so the
    expensive pass cannot be duplicated by any rewrite.

    ``production=True`` uses the xxhash64 shingle hash (cheaper,
    non-oracle-reproducible — see :func:`shingle_hashes`).
    """
    # the fold as ONE SQL string over a pre-projected hash array (r15):
    # operator-composing the 8-wide step array cost ~100 py4j
    # round-trips per build (same finding as multimodal.dhash_expr);
    # the parsed expression — aggregate/zip_with/least over the same
    # integer arithmetic — is identical, so results and plan shape are
    # unchanged (CollapseProject inlines the single-use _hs alias right
    # back into the fold).
    init = (
        "array(" + ", ".join(
            f"CAST({MERSENNE_P} AS BIGINT)" for _ in range(N_MINHASH)
        ) + ")"
    )
    derived = (
        "array(" + ", ".join(
            f"({HASH_A[j]} * h + {HASH_B[j]}) % {MERSENNE_P}"
            for j in range(N_MINHASH)
        ) + ")"
    )
    mins = F.expr(
        f"aggregate(_hs, {init}, "
        f"(acc, h) -> zip_with(acc, {derived}, (a, b) -> least(a, b)))"
    )
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes(F.col(text_col), production).alias("_hs"),
    ).select("doc_id", mins.alias("_mins"))
    return hashed.select(
        "doc_id",
        *[F.element_at("_mins", j + 1).alias(f"mh{j}") for j in range(N_MINHASH)],
    )


def signature_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-bound form of :func:`signatures` (the registry query)."""
    return signatures(load_star_table_spread(spark, sf_dir, "documents", "doc_id"))


# ---------------------------------------------------------------------------
# Exact dedup: content fingerprint + hash-groupBy (north star "exact")
# ---------------------------------------------------------------------------

_FPRINT_SQL = r"md5(lower(regexp_replace(text, '\s+', ' ', 'g')))"


@query(
    "doc_fingerprint_groups",
    oracle=f"""
    SELECT {_FPRINT_SQL}             AS fingerprint,
           CAST(COUNT(*) AS BIGINT)  AS dup_count,
           MIN(doc_id)               AS canonical_doc_id
    FROM documents
    GROUP BY 1
    """,
    doc="North-star exact dedup: whitespace-normalized md5 fingerprint, "
        "hash-groupBy, deterministic canonical winner (min doc_id). One "
        "shuffle on the fingerprint; at 100 TB this is the cheapest dedup "
        "and runs first to shrink the near-dup input.",
    tags=("dedup",),
    extra=True,  # r8 rotation: exact-dedup grouping stays driver-gated
    # via dedup_groups_connected; fingerprinting via
    # doc_winnowing_fingerprints; LSH via lsh_candidate_pairs
)
def doc_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    return (
        d.groupBy(fp.alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash signatures (shingle → minhash; map-side only)
# ---------------------------------------------------------------------------

@query(
    "minhash_signatures",
    oracle="WITH " + _SQL_SIGS_CTE + " SELECT * FROM sigs",
    doc=f"North-star MinHash: {N_MINHASH} signature values over distinct "
        f"{SHINGLE_W}-word shingles, md5-based hash family (cross-engine "
        "stable). Pure map-side; the signature is the only thing the LSH "
        "join ever shuffles, never the text.",
    tags=("dedup",),
    # re-gated r12 (out since r1 — oldest-first rotation)
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signature_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# LSH banded candidate pairs (band → bucket-join)
# ---------------------------------------------------------------------------

def _sql_band_key(b: int, prefix: str) -> str:
    cols = [f"{prefix}mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
    return " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)


_LSH_ORACLE = (
    "WITH " + _SQL_SIGS_CTE + ", bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_sql_band_key(b, '')} AS bkey FROM sigs"
        for b in range(N_BANDS)
    )
    + "), cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey "
    "AND a.doc_id < b.doc_id) "
    "SELECT c.doc_a, c.doc_b, "
    + sql_stable_round(
        "("
        + " + ".join(
            f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(N_MINHASH)
        )
        + f") / {N_MINHASH}.0",
        4,
    )
    + " AS est_jaccard "
    "FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a "
    "JOIN sigs sb ON sb.doc_id = c.doc_b"
)


@query(
    "lsh_candidate_pairs",
    oracle=_LSH_ORACLE,
    doc=f"North-star near-dup LSH: {N_BANDS} bands × {ROWS_PER_BAND} rows; "
        "docs sharing any band bucket become candidates; est_jaccard = "
        "matching-minhash fraction. The band join shuffles only "
        "(band, key, signature, doc_id) tuples — candidate generation is "
        "O(colliding pairs), the property that makes near-dedup feasible "
        "at 100 TB. The full signature RIDES THE BAND ROWS so est_jaccard "
        "computes inside the one self-join: the earlier "
        "candidates⨝sigs⨝sigs form recomputed the signature fold 4× "
        "(4 document scans — audited); this shape scans once per "
        "self-join side (2×). 8 extra longs per band row is a far "
        "cheaper shuffle than 2 extra md5 passes at scale; for exactly "
        "one pass, materialize signature_df as a table first — the "
        "standard production layout (SCALE.md).",
    tags=("dedup",),
    extra=True,  # r10 rotation (gated r1-r9, green): banded-LSH candidate join
    # stays gated via decontaminate_fuzzy_lsh + dedup_groups_connected (which
    # consumes these candidates)
)
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_pairs(signature_df(spark, sf_dir))


def lsh_pairs(sigs: DataFrame) -> DataFrame:
    """Banded LSH candidate pairs ``(doc_a, doc_b, est_jaccard)``,
    distinct, from a (doc_id, mh0..mhN) signature frame (see the
    registry query's doc for the plan rationale)."""
    mh = [f"mh{j}" for j in range(N_MINHASH)]
    # a pair colliding in several bands yields identical rows (same
    # signatures -> same est_jaccard), so distinct() on the final triple
    # equals the original distinct-pairs-then-score result
    return (
        band_self_join(sigs, mh_cols(), *mh)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            stable_round(est_jaccard(mh_cols("a."), mh_cols("b.")), 4)
            .alias("est_jaccard"),
        )
        .distinct()
    )


def lsh_pair_keys(sigs: DataFrame) -> DataFrame:
    """The pairs of :func:`lsh_pairs` as bare ``(doc_a, doc_b)`` keys,
    NOT distinct: one row per colliding band. For consumers that only
    need pair MEMBERSHIP (connected components): the band rows carry no
    signature columns (the self-join shuffles ~doc_id+band+bkey instead
    of +N_MINHASH longs per row — §2.3, fewer shuffled bytes at corpus
    scale), the per-pair match count is never computed, and the dedup
    shuffle is left to the consumer, which symmetrizes-then-distincts
    anyway (a distinct here PLUS that one would pay two full shuffles
    of the pair stream)."""
    return band_self_join(sigs, mh_cols()).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard on a bounded pair set (verification arm of LSH)
# ---------------------------------------------------------------------------

@query(
    "ngram_jaccard_consecutive",
    oracle=f"""
    WITH sh AS (SELECT doc_id, list_distinct({_SQL_HS}) AS s FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {sql_stable_round('len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s)))', 4)} AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
    doc=f"North-star n-gram Jaccard: {SHINGLE_W}-word-shingle set "
        "similarity on a bounded deterministic pair set (consecutive "
        "doc_ids), computed over HASHED shingle sets — set ops compare "
        "64-bit ints, not ~20-char strings (cheaper shuffles and "
        "compares at 100 TB; collision probability ~n²/2³¹ per doc is "
        "negligible at shingle-set sizes). In production this runs only "
        "on LSH candidates (lsh_candidate_pairs) — never all pairs.",
    tags=("dedup",),
    # re-gated r11 (oldest-first veteran sweep, r10 verdict #5: gated
    # r1-r6, out since the r7 rotation; takes the curation/near-dup slot
    # from decontaminate_fuzzy_lsh)
)
def ngram_jaccard_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    sh = d.select(
        "doc_id", F.array_distinct(shingle_hashes(F.col("text"))).alias("s")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s")))
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        stable_round(inter * F.lit(1.0) / union, 4).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

_SQL_TOKSD = f"list_distinct({_SQL_TOKS})"
_SQL_TOKEN_HASHES = f"list_transform({_SQL_TOKSD}, t -> {_sql_md5int('t')})"
_SQL_SIMHASH = " + ".join(
    f"(CASE WHEN list_sum(list_transform(th, "
    f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) >= 0 "
    f"THEN {1 << b} ELSE 0 END)"
    for b in range(SIMHASH_BITS)
)


@query(
    "simhash_fingerprints",
    oracle=f"""
    WITH th_t AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM documents)
    SELECT doc_id, CAST({_SQL_SIMHASH} AS BIGINT) AS simhash
    FROM th_t
    """,
    doc=f"North-star SimHash: {SIMHASH_BITS}-bit fingerprint — per bit, sign "
        "of the sum of ±1 votes from each distinct token's md5 hash bit. "
        "Map-side only; near-dup = small Hamming distance, findable by "
        "grouping on bit-masked prefixes (same banding trick as LSH).",
    tags=("dedup",),
    # re-gated r11 (oldest-first veteran sweep, r10 verdict #5: gated
    # r1-r6, out since the r7 rotation via the fingerprint twins)
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    # hash every distinct token once; the 16 bit-votes reuse the array
    hashed = d.select(
        "doc_id",
        F.transform(F.array_distinct(_toks(F.col("text"))), md5_int).alias("th"),
    )

    # the 16-vote tree as ONE SQL string (r15): the operator-composed
    # form cost ~300 py4j round-trips per build (same finding as
    # operators/multimodal.dhash_expr — SQL parse is ~50x cheaper, the
    # parsed expression is identical: CASE WHEN / shiftright / & are
    # exactly what when/shiftright/bitwiseAND produced)
    def bit_vote(b: int) -> str:
        votes = (
            f"transform(th, h -> CASE WHEN (shiftright(h, {b}) & 1) = 1 "
            "THEN 1 ELSE -1 END)"
        )
        return (
            f"CASE WHEN aggregate({votes}, 0, (acc, x) -> acc + x) >= 0 "
            f"THEN {1 << b} ELSE 0 END"
        )

    sim = F.expr(
        "CAST((" + " + ".join(bit_vote(b) for b in range(SIMHASH_BITS)) + ") AS BIGINT)"
    )
    return hashed.select("doc_id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (bounded deterministic pair set)
# ---------------------------------------------------------------------------

@query(
    "embedding_near_dup_consecutive",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_stable_round(_SQL_COS_AB, 4)} AS cos_sim,
           {_SQL_COS_AB} >= 0.99 AS is_near_dup
    FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    """,
    doc="North-star embedding-cosine near-dup on a bounded deterministic "
        "pair set (consecutive vec_ids); production pairs come from ANN "
        "buckets (queries/similarity.py). Cosine via zip_with+aggregate in "
        "double — built-in HOFs, no UDF.",
    tags=("dedup",),
    # re-gated r12 (out since r1 — oldest-first rotation)
)
def embedding_near_dup_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_star_table_spread(spark, sf_dir, "embeddings", "vec_id")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    cs = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
        .select(
            "vec_a",
            "vec_b",
            stable_round(cs, 4).alias("cos_sim"),
            (cs >= 0.99).alias("is_near_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup groups: connected components over LSH candidate pairs
# ---------------------------------------------------------------------------

_CC_ORACLE = (
    "WITH RECURSIVE " + _SQL_SIGS_CTE + ", bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_sql_band_key(b, '')} AS bkey FROM sigs"
        for b in range(N_BANDS)
    )
    + "), cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey "
    "AND a.doc_id < b.doc_id), "
    "edges AS (SELECT doc_a AS a, doc_b AS b FROM cand "
    "UNION SELECT doc_b, doc_a FROM cand), "
    "reach(a, b) AS (SELECT a, b FROM edges "
    "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) "
    "SELECT a AS doc_id, least(a, MIN(b)) AS component "
    "FROM reach GROUP BY a"
)


@query(
    "dedup_groups_connected",
    oracle=_CC_ORACLE,
    doc="North-star dedup-group resolution: connected components over the "
        "LSH candidate graph (operators/dedup_graph.py — driver-side "
        "union-find for small graphs, else large-star/small-star "
        "contraction in O(log² n) keyed-shuffle rounds). The oracle "
        "computes the same closure with a "
        "recursive CTE; component id = smallest doc_id reachable. This is "
        "the step that turns pairwise near-dup evidence into 'keep one "
        "canonical doc per group' at 100 TB.",
    tags=("dedup",),
    # re-gated r13 (gated r1-r11, out since the r12 rotation — oldest-first sweep)
)
def dedup_groups_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_graph import connected_components

    # bare pair keys (r16): CC needs pair MEMBERSHIP, not est_jaccard —
    # the full lsh_pairs form carried all N_MINHASH signature longs through
    # the band self-join, computed the match fraction per pair, and
    # distinct'ed the scored triple, only for this select to drop the
    # score; connected_components re-deduped anyway when symmetrizing.
    # Same candidate set (band collision alone defines it — no jaccard
    # threshold here or in the oracle), proven by
    # tests/test_dedup_graph.py::test_lsh_pair_keys_match_lsh_pairs.
    pairs = lsh_pair_keys(signature_df(spark, sf_dir))
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


@query(
    "minhash_lsh_ml_candidates",
    oracle=None,  # MLlib's hash family is not reproducible in DuckDB SQL
    doc="MLlib MinHashLSH candidates (HashingTF -> MinHashLSH(seed=42) -> "
        "approxSimilarityJoin) — the packaged scale path for near-dup "
        "candidate generation (operators/dedup_graph.py). Rows-only check: "
        "deterministic under the fixed seed, but the hash family is "
        "internal to Spark MLlib.",
    tags=("dedup",),
    extra=True,  # rows-only variant; the SQL-expressible LSH pipeline
                 # (lsh_candidate_pairs) is the driver-verified path and
                 # tests/test_dedup_graph.py covers this MLlib path
)
def minhash_lsh_ml_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_graph import ml_minhash_candidates

    docs = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    return ml_minhash_candidates(docs, num_hash_tables=4, jaccard_distance_threshold=0.5)


# ---------------------------------------------------------------------------
# Embedding near-dup via ANN buckets (the production pair source)
# ---------------------------------------------------------------------------

@query(
    "embedding_near_dup_bucketed",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(a.bucket AS INT) AS bucket,
           {{cos_r4}} AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {{cos_raw}} >= 0.5
    """.format(
        cos_r4=sql_stable_round(_SQL_COS_AB, 4),
        cos_raw=_SQL_COS_AB,
    ),
    doc="North-star embedding near-dup at production shape: candidate "
        "pairs come from shared ANN buckets (sign-bit coarse quantizer, "
        "queries/similarity.py), cosine computed only within buckets — "
        "the all-pairs O(n²) never materializes. Pairs over the 0.5 "
        "cosine threshold are near-dup candidates; a<b dedup of the pair "
        "space. At 100 TB the bucket is a partition key (pruned "
        "self-join per cell). The fixed 16-cell quantizer here is the "
        "oracle twin; production uses the cardinality-scaled buckets of "
        "operators/ann.py (adaptive_sign_bucket + bucketed_near_dup_pairs "
        "— max bucket size bounded regardless of n).",
    tags=("dedup",),
    extra=True,  # r8 rotation: embedding-space neighbor search stays
    # driver-gated via ann_ivf_bucketed (knn_bruteforce_cosine rotated out r9)
)
def embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dot, l2_norm
    from .similarity import sign_bucket

    # Precompute the L2 norm once per VECTOR before the pair join —
    # computing cosine as dot(a,b)/(na*nb) per pair would otherwise
    # re-derive both norms for every pair (3 dot products instead of 1;
    # measured ~3x slower). Same math, same doubles, oracle mirrors it.
    e = (
        load_star_table_spread(spark, sf_dir, "embeddings", "vec_id")
        .withColumn("bucket", sign_bucket(F.col("embedding")))
        .withColumn("nrm", l2_norm(F.col("embedding")))
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("bucket").alias("ba"), F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("bucket").alias("bb"), F.col("nrm").alias("nb"),
    )
    cs = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("vec_a") < F.col("vec_b")))
        .filter(cs >= 0.5)
        .select(
            "vec_a",
            "vec_b",
            F.col("ba").cast("int").alias("bucket"),
            stable_round(cs, 4).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

WINNOW_W = 4  # window of consecutive shingle hashes per fingerprint pick

# Winnowing is POSITIONAL: windows slide over the in-order k-gram hash
# sequence, so the sequence must keep duplicates (unlike the set-semantic
# shingle arrays the minhash family uses, where engines may order
# distinct elements differently).
_SQL_SHINGLES_SEQ = (
    f"list_transform(range(1, greatest(len({_SQL_TOKS}) - {SHINGLE_W - 1}, 1) + 1), "
    f"i -> array_to_string(list_slice({_SQL_TOKS}, i, i + {SHINGLE_W - 1}), ' '))"
)
_SQL_HS_SEQ = (
    f"list_transform({_SQL_SHINGLES_SEQ}, s -> {_sql_md5int('s')} % {MERSENNE_P})"
)
_SQL_WINNOW = (
    f"list_sort(list_distinct(list_transform("
    f"range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1), "
    f"i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1})))))"
)


def ordered_shingle_hashes(col: Column) -> Column:
    """Positional (non-distinct) shingle hash sequence — winnowing input."""
    t = _toks(col)
    n_sh = F.greatest(F.size(t) - (SHINGLE_W - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(t, i + 1, n_sh).alias(f"w{i}") for i in range(SHINGLE_W)]
    )
    seq = F.transform(
        zipped, lambda e: F.concat_ws(" ", *[e[f"w{i}"] for i in range(SHINGLE_W)])
    )
    return F.transform(seq, lambda s: md5_int(s) % MERSENNE_P)


@query(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH hashed AS (SELECT doc_id, {_SQL_HS_SEQ} AS hs FROM documents)
    SELECT doc_id,
           array_to_string(list_transform({_SQL_WINNOW},
                                          x -> CAST(x AS VARCHAR)), ',')
               AS fingerprints,
           CAST(len({_SQL_WINNOW}) AS INT) AS n_fingerprints
    FROM hashed
    """,
    doc=f"North-star rolling-hash document fingerprinting: winnowing "
        f"(Schleimer et al., SIGMOD'03) — per window of {WINNOW_W} "
        "consecutive shingle hashes keep the minimum; the distinct picks "
        "are the document's fingerprint set. Guarantees every match of "
        f"length >= {WINNOW_W}+shingle covers a shared fingerprint while "
        "sampling ~2/(w+1) of positions — the sub-linear sketch plagiarism "
        "/ near-dup detectors use. Map-side only (the windows are zipped "
        "shifted slices of the one hashed-shingle array, the same "
        "CollapseProject-safe trick as shingles()); fingerprints join "
        "against an inverted (fingerprint, doc) table at scale — another "
        "bucketed candidate generator like LSH bands.",
    tags=("dedup",),
    # driver-gated since r4: winnowing is its own fingerprinting op
    # (dedup_events_exact rotated to extra; P7 stays gated via
    # doc_fingerprint_groups)
    extra=True,  # r10 rotation (gated r4-r9, green): rolling-shingle fingerprints
    # stay gated via doc_ngram_novelty + dedup_groups_connected
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    hashed = d.select("doc_id", ordered_shingle_hashes(F.col("text")).alias("hs"))
    n_win = F.greatest(F.size("hs") - (WINNOW_W - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice("hs", i + 1, n_win).alias(f"h{i}") for i in range(WINNOW_W)]
    )
    # F.least skips the nulls arrays_zip pads short docs with, exactly
    # like DuckDB's list_min over the truncated slice
    mins = F.transform(
        zipped, lambda e: F.least(*[e[f"h{i}"] for i in range(WINNOW_W)])
    )
    fp = F.array_sort(F.array_distinct(mins))
    # The fingerprint SET is emitted as a comma-joined string, not an
    # ARRAY column: the driver's correctness gate canonicalizes results
    # through pandas sort_values, which cannot hash list cells (learned
    # in round 4 — CORRECTNESS_r04's unhashable-list failure). At scale
    # the consumer explodes this back out (split(',')) or, better, joins
    # the pre-explode `mins` against an inverted (fingerprint, doc) table.
    return hashed.select(
        "doc_id",
        F.array_join(fp.cast("array<string>"), ",").alias("fingerprints"),
        F.size(fp).cast("int").alias("n_fingerprints"),
    )

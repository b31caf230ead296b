"""Dedup-group resolution: connected components + MLlib LSH integration.

Near-dup pair lists (LSH candidates) only say "A resembles B"; dedup
needs GROUPS — the transitive closure of resemblance — so one canonical
document can be kept per group. That's connected components, an
iterative algorithm with no single-statement SQL form (the oracle for
the registry entry uses a recursive CTE).

``connected_components`` is a hybrid: a driver-side union-find when
the edge list is small, else a driver-coordinated large-star/small-star
contraction loop over DataFrames (Kiveris et al., "Connected Components
in MapReduce and Beyond") that converges in O(log² n) rounds whatever
the graph's diameter. Each round is a few keyed shuffles; the edge
state is checkpointed per round and the loop stops at a verified
fixpoint. This is the standard large-graph CC pattern when a graph
library isn't available, and it shards naturally: no driver state
beyond the loop counter and a per-round fingerprint.

``ml_minhash_candidates`` wraps Spark MLlib's MinHashLSH
(HashingTF → MinHashLSH → approxSimilarityJoin) — the production-scale
path with optimized hash families; seeded for determinism. Our
hand-rolled md5 pipeline (queries/dedup.py) exists because its hashes
are reproducible in the DuckDB oracle; MLlib's are not, so its registry
entry is rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    smallest reachable node id. Deterministic.

    Hybrid strategy (the same shape GraphFrames uses): when the edge
    list fits comfortably on the driver (≤ ``driver_threshold`` —
    near-dup graphs are tiny relative to the corpus because LSH already
    pruned them), solve with a local union-find in one pass instead of
    paying Spark jobs per round. Larger graphs take the distributed
    loop: alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") converging in
    O(log² n) rounds REGARDLESS of graph diameter.
    """
    # symmetrize in ONE pass: a union of two selects over the same input
    # evaluates the whole upstream plan twice (for LSH-derived edges that
    # is the full signature pipeline, twice); explode emits both
    # directions from a single evaluation
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )

    # size probe and data fetch in ONE action: take(threshold+1) either
    # returns the ENTIRE edge list (≤ threshold ⇒ those rows ARE the
    # graph — go driver-side with no cache, no count, no second job) or
    # proves the graph is big (> threshold ⇒ discard the sample, cache
    # for the iterative path). The previous cache+count+collect shape
    # paid a cache materialization plus an extra job for the same answer.
    sample = sym.take(driver_threshold + 1)
    if len(sample) <= driver_threshold:
        pairs = [(r["a"], r["b"]) for r in sample]
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by smaller id so the root IS the min node id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        spark = edges.sparkSession
        return spark.createDataFrame(rows, "node long, component long")

    sym = sym.cache()  # big graph: the contraction loop re-reads it
    result = _star_contraction(sym, max_iter)
    sym.unpersist()
    return result


def _star_contraction(sym: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction over a symmetrized
    (a, b) edge frame. Each round is two grouped aggregations + joins;
    the edge set monotonically contracts toward a forest of stars
    (node → component-min) in O(log² n) rounds — diameter-independent,
    unlike label propagation (a 1M-node chain converges in ~20 rounds,
    not 1M).

    Convergence detection: a cheap per-round fingerprint (count +
    xxhash64 sum) — when it repeats, an exact ``exceptAll`` check
    confirms the fixpoint, so a hash collision can delay but never fake
    convergence.
    """
    # state: canonical (hi, lo) pairs, hi > lo
    e = (
        sym.filter(F.col("a") > F.col("b"))
        .select(F.col("a").alias("hi"), F.col("b").alias("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e.isEmpty():
        # no edges at all: every node (if any) is its own component
        return sym.select(
            F.col("a").alias("node"), F.col("a").alias("component")
        ).distinct()

    def fingerprint(df: DataFrame):
        # decimal sum: a long sum of 64-bit hashes overflows under ANSI
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = fingerprint(e)
    for _ in range(max_iter):
        # ---- large-star: every node u links its LARGER neighbors to
        # m(u) = min(Γ(u) ∪ {u}); emitted edges (v, m) always have v > m
        d = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")),
                    F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
                )
            ).alias("x")
        ).select("x.u", "x.v")
        m_large = d.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            d.filter(F.col("v") > F.col("u"))
            .join(m_large, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # ---- small-star: every node links its SMALLER neighbors (and
        # itself) to the min of those; emitted (v, m) and (hi, m)
        m_small = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(m_small, "hi")
        e_next = (
            joined.select(
                F.explode(
                    F.array(
                        F.struct(F.col("lo").alias("x"), F.col("m")),
                        F.struct(F.col("hi").alias("x"), F.col("m")),
                    )
                ).alias("p")
            )
            .select(F.col("p.x").alias("hi"), F.col("p.m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint(eager=True)  # iterative-lineage trap
        )
        fp_next = fingerprint(e_next)
        if fp_next == fp:
            # exact confirmation — fingerprints can collide, fixpoints not
            if e_next.exceptAll(e).isEmpty() and e.exceptAll(e_next).isEmpty():
                e = e_next
                break
        e, fp = e_next, fp_next
    else:
        raise RuntimeError(
            f"connected_components(star) did not converge in {max_iter} "
            "rounds; increase max_iter (contraction needs O(log² n) rounds)"
        )
    # fixpoint: e is a star set (node → component root)
    roots = e.select(F.col("lo").alias("node")).distinct()
    return (
        e.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
        .unionByName(roots.select("node", F.col("node").alias("component")))
        .distinct()
    )


def ml_minhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    jaccard_distance_threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """MLlib MinHashLSH near-dup candidates (the packaged scale path).

    tokens → HashingTF sparse sets → MinHashLSH(seed) →
    approxSimilarityJoin under a Jaccard-distance threshold. Returns
    (doc_a, doc_b, jaccard_distance) with doc_a < doc_b.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..queries.dedup import shingles

    # Feature sets are word SHINGLES, not unigrams: documents drawn from a
    # shared vocabulary collide on nearly every unigram, which floods the
    # LSH buckets and turns approxSimilarityJoin quadratic. Shingles are
    # near-unique per document, so bucket collisions ≈ genuine near-dups.
    shingled = docs.withColumn("_shingles", shingles(F.col(text_col))).filter(
        F.size("_shingles") > 0
    )
    tf = HashingTF(
        inputCol="_shingles", outputCol="_features", numFeatures=num_features, binary=True
    )
    featurized = tf.transform(shingled)
    lsh = MinHashLSH(
        inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(featurized)
    joined = model.approxSimilarityJoin(
        featurized, featurized, jaccard_distance_threshold, distCol="jaccard_distance"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round("jaccard_distance", 4).alias("jaccard_distance"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )

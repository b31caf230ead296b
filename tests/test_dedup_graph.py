"""Connected-components and MLlib LSH operator tests."""

from __future__ import annotations

from medallion_data_lake_spark.operators.dedup_graph import (
    connected_components,
    ml_minhash_candidates,
)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df, **kw).collect()
    }


EDGES = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (3, 4)]
EXPECT = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_union_find_path(spark):
    assert _cc(spark, EDGES) == EXPECT


def test_distributed_star_path(spark):
    # force the distributed loop by setting the driver threshold to 0
    assert _cc(spark, EDGES, driver_threshold=0) == EXPECT


def test_distributed_nonconvergence_raises(spark):
    # star contraction capped below its O(log² n) round need must fail
    # loudly, never return silently wrong component ids
    import pytest

    long_chain = [(i, i + 1) for i in range(300)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, long_chain, driver_threshold=0, max_iter=1)


def test_both_paths_agree_on_chain(spark):
    # a chain exercises multi-round propagation (diameter = length); kept
    # under max_iter so the distributed path must fully converge
    chain = [(i, i + 1) for i in range(12)]
    assert _cc(spark, chain) == _cc(spark, chain, driver_threshold=0)


def test_star_converges_on_deep_chain_in_log_rounds(spark):
    # THE case label propagation cannot do: diameter 300 ≫ max_iter 12.
    # Star contraction halves path lengths per round, so ~log₂ rounds
    # suffice — the scale property (a 1M-node chain ≈ 20 rounds).
    chain = [(i, i + 1) for i in range(300)]
    out = _cc(spark, chain, driver_threshold=0, max_iter=12)
    assert out == {i: 0 for i in range(301)}


def test_ml_minhash_finds_planted_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra tail words here"),          # near-dup of 1
            (3, "completely different content " + "xyz " * 40),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ml_minhash_candidates(docs, jaccard_distance_threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_pair_keys_match_lsh_pairs(spark):
    """lsh_pair_keys yields exactly lsh_pairs' distinct pair set (it
    drops only the score and the dedup — membership identical), so
    dedup_groups_connected's CC input is unchanged by the r16
    narrow-shuffle form."""
    from medallion_data_lake_spark.queries.dedup import (
        lsh_pair_keys,
        lsh_pairs,
        signatures,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tail"),                       # near-dup of 1
            (3, base.replace("alpha", "omega")),       # near-dup of 1/2
            (4, "entirely different words " + "xyz "),
            (5, None),                                  # NULL text
            (6, ""),                                    # empty text
            (7, None),
            (8, None),
        ],
        "doc_id long, text string",
    )
    sigs = signatures(docs)
    full = {
        (r["doc_a"], r["doc_b"]) for r in lsh_pairs(sigs).collect()
    }
    keys = [
        (r["doc_a"], r["doc_b"])
        for r in lsh_pair_keys(sigs).collect()
    ]
    assert set(keys) == full
    assert full  # the fixture must actually produce collisions
    # the keys keep a<b (no self-pairs, no reversed duplicates)
    assert all(a < b for a, b in keys)
    # NULL-text docs pair with nothing (the oracle's NULL band key
    # joins no row), though concat_ws keys each of them as ""
    assert not {5, 7, 8} & {d for pair in full for d in pair}

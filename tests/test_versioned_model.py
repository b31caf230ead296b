"""Model-based property test for the versioned-table core.

Hypothesis drives random operation sequences (append / merge / delete /
overwrite / optimize) against BOTH the real table and a plain Python
dict model; after every sequence the table snapshot must equal the
model, every historical version must equal its recorded model state,
and replaying the change feed from zero must reconstruct the final
snapshot. This is the strongest correctness artifact the log format
has: not hand-picked scenarios, but arbitrary interleavings.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    commit,
    delete_rows,
    delete_rows_dv,
    merge_into,
    optimize_table,
    read_table,
    table_changes,
    update_rows,
)

# CI default keeps the suite fast; MDLS_MODEL_EXAMPLES=30 ran as an r7
# soak (both models green, DV interleavings included)
_EXAMPLES = int(os.environ.get("MDLS_MODEL_EXAMPLES", "6"))

# op alphabet: (kind, key-subset seed, tag seed). delete_dv joins the
# alphabet in r7 — merge-on-read vectors must interleave arbitrarily
# with rewrites, history, and the change feed, not just in hand-picked
# scenarios. rename joins in r8 — the metadata-only column mapping must
# interleave with every writer and still resolve names per version.
# staged (write-audit-publish) also joins in r8: the op is TWO-PHASE —
# one op stages, a later op publishes or abandons — so arbitrary
# writers and DDL interleave between stage and publish, pinning the
# publish-time contract (appends/overwrites compose; a rename in
# between must refuse with CommitConflict, never corrupt).
_ops = st.lists(
    st.tuples(
        st.sampled_from(["append", "merge", "delete", "overwrite", "optimize",
                         "update", "delete_dv", "rename", "staged"]),
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=6,
)


def _rows_for(seed_k: int, seed_t: int, fresh_base: int):
    """2-3 deterministic (id, tag) rows derived from the seeds."""
    ids = sorted({seed_k, seed_k + 3, fresh_base + seed_k})
    return [(i, f"t{seed_t}_{i}") for i in ids]


@settings(
    max_examples=_EXAMPLES, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(ops=_ops)
def test_versioned_table_matches_reference_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("model") / "vt")
    model: dict[int, str] = {}
    snapshots: list[dict[int, str]] = []  # model state per version
    fresh = 100  # id offset so appends also add never-seen keys
    tagcol = {"name": "tag"}  # current LOGICAL name of the value column

    def materializing(fn):
        """Run a rewrite op; if it refuses because matched files carry
        deletion vectors (the documented contract), materialize them
        with OPTIMIZE — a logical no-op version — and retry once. This
        is exactly the workflow the refusal message prescribes, so the
        model exercises it instead of avoiding DV+rewrite mixes."""
        try:
            return fn()
        except ValueError as e:
            if "deletion vector" not in str(e):
                raise
            optimize_table(spark, path, target_file_bytes=1 << 30)
            snapshots.append(dict(model))
            return fn()

    def apply_real(kind, seed_k, seed_t):
        nonlocal fresh
        rows = _rows_for(seed_k, seed_t, fresh)
        df = spark.createDataFrame(rows, f"id long, {tagcol['name']} string")
        if kind == "append":
            # append must not duplicate keys the table already holds —
            # route through merge when any key exists (the model is a
            # keyed dict; a keyed table is the realistic shape)
            if model and any(i in model for i, _ in rows):
                kind = "merge"
            else:
                commit(df, path, stats_cols=("id",))
                model.update(dict(rows))
                snapshots.append(dict(model))
                fresh += 100
                return
        if kind == "merge":
            if not model:
                commit(df, path, stats_cols=("id",))
            else:
                materializing(lambda: merge_into(spark, path, df, key="id"))
            model.update(dict(rows))
            snapshots.append(dict(model))
            fresh += 100
        elif kind == "delete":
            if not model:
                return
            lo = seed_k
            hi = seed_k + 4
            doomed = [i for i in model if lo <= i <= hi]
            # odd tag seeds delete by key list (absent keys included):
            # the planner's point path instead of its range path
            terms = (
                {"keys": {"id": list(range(lo, hi + 1))}} if seed_t % 2
                else {"predicates": {"id": (lo, hi)}}
            )
            out = materializing(lambda: delete_rows(spark, path, **terms))
            if doomed:
                assert out is not None and out["rows_deleted"] == len(doomed)
                for i in doomed:
                    del model[i]
                snapshots.append(dict(model))
            else:
                assert out is None
        elif kind == "overwrite":
            commit(df, path, mode="overwrite", stats_cols=("id",))
            model.clear()
            model.update(dict(rows))
            snapshots.append(dict(model))
            fresh += 100
        elif kind == "update":
            if not model:
                return
            lo, hi = seed_k, seed_k + 4
            hit = [i for i in model if lo <= i <= hi]
            tc = tagcol["name"]
            out = materializing(lambda: update_rows(
                spark, path,
                set_exprs={tc: f"concat({tc}, '_u{seed_t}')"},
                predicates={"id": (lo, hi)},
            ))
            if hit:
                assert out is not None and out["rows_updated"] == len(hit)
                for i in hit:
                    model[i] = f"{model[i]}_u{seed_t}"
                snapshots.append(dict(model))
            else:
                assert out is None
        elif kind == "delete_dv":
            if not model:
                return
            lo, hi = seed_k, seed_k + 4
            doomed = [i for i in model if lo <= i <= hi]
            out = delete_rows_dv(spark, path, predicates={"id": (lo, hi)})
            if doomed:
                assert out is not None and out["rows_deleted"] == len(doomed)
                for i in doomed:
                    del model[i]
                snapshots.append(dict(model))
            else:
                # already-vectored rows re-match but add no NEW
                # positions — the union is idempotent, entry elided
                assert out is None
        elif kind == "optimize":
            if not model:
                return
            optimize_table(spark, path, target_file_bytes=1 << 30)
            snapshots.append(dict(model))  # logical no-op, new version
        elif kind == "rename":
            if not model:
                return
            from medallion_data_lake_spark.operators.versioned import (
                rename_column,
            )

            cur = tagcol["name"]
            new = "label" if cur == "tag" else "tag"
            rename_column(spark, path, cur, new)
            tagcol["name"] = new
            snapshots.append(dict(model))  # metadata-only, new version
        elif kind == "staged":
            _apply_staged(seed_k, seed_t)

    from medallion_data_lake_spark.operators.evolution import SchemaDriftError
    from medallion_data_lake_spark.operators.versioned import CommitConflict
    from medallion_data_lake_spark.operators.wap import (
        abandon_staged,
        publish_staged,
        stage_commit,
    )

    # one in-flight staging: sid, rows, and whether any op that can
    # legitimately break publishability (rename/overwrite — the column
    # mapping or table schema moved) landed since the stage
    pending: dict = {}

    def _resolve_staged(seed_t):
        """Publish (even seed) or abandon (odd) the in-flight staging.
        Contract under interleaving: a CLEAN staging (no rename or
        overwrite since stage) must publish and land exactly the staged
        rows; a dirtied one either refuses (CommitConflict /
        SchemaDriftError — never corruption) or publishes correctly,
        and the final whole-table/feed comparison validates whichever
        happened."""
        sid, rows, clean = pending["sid"], pending["rows"], pending["clean"]
        pending.clear()
        if seed_t % 2 == 1:
            abandon_staged(path, sid)
            return
        try:
            publish_staged(spark, path, sid)
        except (CommitConflict, SchemaDriftError):
            assert not clean, "clean staging must never refuse to publish"
            abandon_staged(path, sid)
            return
        model.update(dict(rows))
        snapshots.append(dict(model))

    def _apply_staged(seed_k, seed_t):
        nonlocal fresh
        if pending:
            _resolve_staged(seed_t)
            return
        # reserve a private id band: staged rows must not collide with
        # any other op's keys while invisible (the model is a keyed
        # dict; duplicate ids after publish would be unrepresentable)
        rows = [(fresh + seed_k, f"s{seed_t}"),
                (fresh + seed_k + 3, f"s{seed_t}b")]
        fresh += 100
        df = spark.createDataFrame(
            rows, f"id long, {tagcol['name']} string"
        )
        pending.update({
            "sid": stage_commit(df, path, stats_cols=("id",)),
            "rows": rows,
            "clean": True,
        })

    for kind, seed_k, seed_t in ops:
        apply_real(kind, seed_k, seed_t)
        if pending and kind in ("rename", "overwrite"):
            pending["clean"] = False
    if pending:
        _resolve_staged(ops[-1][2])

    if not snapshots:
        return  # sequence was all no-ops on an empty table

    def as_dict(df):
        # the value column's name varies per version under renames —
        # resolve it structurally (the one column that isn't id)
        vc = [c for c in df.columns if c != "id"][0]
        return {r["id"]: r[vc] for r in df.collect()}

    # 1. current snapshot == model
    assert as_dict(read_table(spark, path)) == model
    # 2. every historical version == its recorded model state
    for v, state in enumerate(snapshots):
        assert as_dict(read_table(spark, path, version=v)) == state, v
    # 3. change-feed replay from zero reconstructs the final snapshot
    feed = table_changes(spark, path, 0)
    plus = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage"))
    minus = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage"))
    tc = tagcol["name"]  # the feed surfaces END-version names
    rebuilt = plus.select("id", tc).exceptAll(minus.select("id", tc))
    now = read_table(spark, path).select("id", tc)
    assert rebuilt.exceptAll(now).count() == 0
    assert now.exceptAll(rebuilt).count() == 0


# op alphabet for the evolution model: evolved appends, omitting
# appends, overwrite resets, rollback restores, full-rewrite optimize
_evo_ops = st.lists(
    st.tuples(
        st.sampled_from(["append", "evolve_append", "merge", "overwrite",
                         "rollback", "optimize"]),
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=_EXAMPLES, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(ops=_evo_ops)
def test_versioned_model_with_schema_evolution(spark, tmp_path_factory, ops):
    """Round-5 extension of the reference-model property: arbitrary
    interleavings of EVOLVED appends (add `score`), omitting appends,
    overwrites (schema reset), rollbacks (restore possibly-mixed
    snapshots), merges carrying the union schema, and full-rewrite
    OPTIMIZE. Every value — including evolved-column values, the exact
    thing the round-4 advisor found silently dropping — must match the
    dict model at every version. Scores are read as None when the
    column is absent, so a snapshot losing the column shows up as a
    value mismatch, not a KeyError."""
    path = str(tmp_path_factory.mktemp("evomodel") / "vt")
    model: dict[int, tuple[str, float | None]] = {}
    snapshots: list[dict[int, tuple[str, float | None]]] = []
    fresh = 100
    evolved = False  # does the CURRENT table schema include score?

    def plain_df(rows):
        return spark.createDataFrame(
            [(i, t) for i, (t, _) in rows.items()], "id long, tag string")

    def wide_df(rows):
        return spark.createDataFrame(
            [(i, t, s) for i, (t, s) in rows.items()],
            "id long, tag string, score double")

    def apply_real(kind, seed_k, seed_t):
        nonlocal fresh, evolved
        ids = sorted({seed_k, seed_k + 3, fresh + seed_k})
        plain = {i: (f"t{seed_t}_{i}", None) for i in ids}
        scored = {i: (f"t{seed_t}_{i}", float(seed_t)) for i in ids}

        if kind in ("append", "evolve_append") and any(i in model for i in ids):
            kind = "merge"  # keyed table: no duplicate keys

        if kind == "append":
            commit(plain_df(plain), path, allow_schema_evolution=True,
                   stats_cols=("id",))
            model.update(plain)
        elif kind == "evolve_append":
            commit(wide_df(scored), path, allow_schema_evolution=True,
                   stats_cols=("id",))
            evolved = True
            model.update(scored)
        elif kind == "merge":
            if not model:
                commit(plain_df(plain), path, stats_cols=("id",))
                model.update(plain)
            else:
                # merge source must carry the table's union schema
                src = wide_df(scored) if evolved else plain_df(plain)
                merge_into(spark, path, src, key="id")
                model.update(scored if evolved else plain)
        elif kind == "overwrite":
            commit(plain_df(plain), path, mode="overwrite",
                   stats_cols=("id",))
            evolved = False  # schema reset
            model.clear()
            model.update(plain)
        elif kind == "rollback":
            if not snapshots:
                return
            from medallion_data_lake_spark.operators.versioned import (
                rollback,
            )

            to_v = seed_k % len(snapshots)
            rollback(spark, path, to_version=to_v)
            model.clear()
            model.update(snapshots[to_v])
            evolved = any(s is not None for _, s in model.values())
        elif kind == "optimize":
            if not model:
                return
            optimize_table(spark, path, target_file_bytes=1 << 30)
        snapshots.append(dict(model))
        fresh += 100

    for kind, seed_k, seed_t in ops:
        apply_real(kind, seed_k, seed_t)
    if not snapshots:
        return

    def as_dict(df):
        has_score = "score" in df.columns
        return {
            r["id"]: (r["tag"], r["score"] if has_score else None)
            for r in df.collect()
        }

    assert as_dict(read_table(spark, path)) == model
    for v, state in enumerate(snapshots):
        assert as_dict(read_table(spark, path, version=v)) == state, (
            f"version {v} diverged"
        )

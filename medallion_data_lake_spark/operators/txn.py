"""Multi-table transactions: stage writes on several versioned tables,
then make them durable ALL-OR-NOTHING through one coordinator manifest.

A medallion pipeline commits related tables together — conformed events
plus the gold rollup, a curated corpus plus its benchmark exclusion
list. Committing them one `commit()` at a time leaves a failure window
where table A carries the new batch and table B never gets it, and
nothing records that the pair was supposed to move together. The
reference pipeline (sakila-data-lake's bronze→silver→gold scripts) has
the same hole — each layer lands independently.

This module is the classic write-ahead coordinator (the pattern behind
multi-table transactions in catalogs like Nessie, and percolator-style
primary-record commit), expressed over this repo's primitives:

1. **Stage** every table's batch with ``wap.stage_commit`` — data files
   written, zero visibility, full validation (schema enforcement,
   constraints, column mapping) already done per leg.
2. **Decide** with ONE atomic ``LogStore.put_exclusive`` of the txn
   manifest (status ``prepared``, listing every (table, staging_id)).
   Before this file exists, nothing published — abandoning the stagings
   aborts the txn with readers having seen nothing. Once it exists, the
   transaction WILL commit: the manifest is the redo log.
3. **Roll forward** each leg via ``wap.publish_staged`` — idempotent
   per staging_id, so a crash anywhere in this loop is repaired by
   ``recover_txns`` replaying the same publishes (an already-published
   leg returns its existing entry; no double commit is possible).
4. **Finalize**: the manifest flips to ``committed`` carrying each
   leg's published version — which doubles as a cross-table savepoint
   (``operators/savepoint.py`` shape), so a reader can open the exact
   transaction-consistent world later.

Isolation contract (stated, not oversold): per-table reads are snapshot
reads of that table's log — a reader opening tables independently
DURING roll-forward can observe a prefix (table A committed, table B
not yet). What the coordinator guarantees is atomic DURABILITY —
after ``recover_txns`` no committed-txn leg is ever missing and no
unprepared leg is ever visible — plus a recorded consistent snapshot
(``txn_snapshot``) for readers who want transaction-level isolation.
That is the same guarantee multi-table commits give in log-per-table
lakehouse formats without a central catalog pointer; true cross-table
linearizability needs the catalog to BE the root of every read, which
would put a single sequencer in front of 100 TB of independent tables.

Conflict handling: ``publish_staged`` re-validates each leg against its
table's fresh tip. Concurrent appends and additive evolution publish
fine; a concurrent DDL (rename/drop) or constraint change on one table
refuses with ``CommitConflict`` — the txn parks as ``stuck`` (legs
published so far stay published; the manifest records the error).
``commit_txn`` PRE-CHECKS every leg against its tip before writing the
manifest, so the stuck window is the commit-time race only, not "the
constraint changed an hour ago". A stuck txn is resolved either by
``recover_txns(retry_stuck=True)`` after reverting the conflicting DDL,
or by ``compensate_stuck_txn`` (saga-style: RESTORE each published leg
— refused unless that leg is still the table's tip — and abandon the
rest), which flips the manifest to ``aborted``.

Scale shape at 100 TB: staging costs exactly the data writes the tables
needed anyway; decide/roll-forward/finalize are pure metadata (one
small JSON put + one log entry per table); recovery lists one
directory of KB-sized manifests. Nothing here scans data, holds locks,
or serializes unrelated tables — only the tables IN a transaction
share its fate.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import SparkSession

from .logstore import get_log_store
from .versioned import (
    CommitConflict,
    Snapshot,
    _publish,
    _read_entry as _entry_at,
    _snapshot,
    latest_version,
    read_table,
    rollback,
    watermark_covered,
)
from .wap import (
    _constraints_fp,
    _read_manifest,
    abandon_staged,
    mark_staging_txn,
    publish_staged,
    unmark_staging_txn,
)


class TxnStuck(RuntimeError):
    """A prepared transaction hit a per-leg CommitConflict during roll
    forward. Already-published legs stay published; the manifest (status
    ``stuck``) records which leg refused and why. Resolve the conflict,
    then ``recover_txns(retry_stuck=True)`` — or ``compensate_stuck_txn``
    to abort saga-style."""


def _txn_file(txn_root: str, txn_id: str) -> str:
    return os.path.join(txn_root, f"{txn_id}.json")


def _write_manifest(txn_root: str, manifest: dict) -> None:
    # replace(), not put_exclusive: status updates after the decision
    # point. Concurrent updaters (a live commit_txn and a recover_txns)
    # replay the SAME idempotent publishes, so both write the same
    # content for the same legs — last-writer-wins is benign.
    # Backend note: LocalLogStore.replace is kernel-atomic (rename);
    # the LogStore BASE default is delete+create, which a concurrent
    # read can observe as transiently missing — a custom backend used
    # for txn roots should override replace with its atomic form (the
    # same requirement versioned._write_checkpoint already states).
    get_log_store().replace(
        _txn_file(txn_root, manifest["txn_id"]), json.dumps(manifest)
    )


def read_txn(txn_root: str, txn_id: str) -> dict:
    return json.loads(get_log_store().read(_txn_file(txn_root, txn_id)))


# statuses from which a manifest never moves again (``aborted`` via
# compensation, ``broken`` via resolve_broken_txn, ``committed`` via
# roll-forward). A concurrent writer holding a stale in-memory copy
# must never regress one of these.
_TERMINAL_STATUSES = frozenset({"committed", "aborted", "broken"})


def _write_manifest_unless_terminal(txn_root: str, manifest: dict) -> dict | None:
    """Guarded manifest update for CONCURRENT runners of the same txn
    (a live ``commit_txn`` racing a ``recover_txns`` sweep). A plain
    ``_write_manifest`` is last-writer-wins over the whole file, so a
    runner holding a stale 'prepared' copy could transiently regress an
    on-disk 'committed' manifest (dropping its savepoint) until its own
    finalize rewrote it — making a concurrent ``txn_snapshot`` of a
    just-committed txn spuriously raise. Re-read the on-disk manifest
    first: if another runner already COMMITTED the txn, ADOPT that
    manifest (return it, write nothing) — both runners replay the same
    idempotent publishes, so the committed copy already contains every
    leg version this runner would record. An on-disk ``aborted`` /
    ``broken`` manifest is NOT adoptable mid-roll-forward: those mean a
    compensation/resolution ran concurrently with this roll-forward
    (violating the documented not-concurrently-with-compensate rule) —
    adopting would silently discard any leg this runner just published,
    so refuse loudly instead (the raise surfaces the violation; the
    terminal manifest stays unregressed either way). For non-terminal
    on-disk states the write proceeds (same-content last-writer-wins,
    benign as before) — EXCEPT that per-leg ``error`` records and a
    'stuck' status the other runner parked are MERGED into this
    runner's copy first (r10 ADVICE): a stale 'prepared' copy
    overwriting a 'stuck' manifest would otherwise silently erase the
    recorded conflict until this runner's own finalize. A leg this
    runner has RESOLVED (its copy records a version) drops the other
    runner's now-obsolete error, and the stuck status clears with the
    last unresolved erroring leg; the merge mutates the caller's live
    manifest, so its own later progress writes carry the records
    forward. The read-then-write window is not zero, but a
    regression now requires the OTHER runner to finalize inside this
    runner's read→write gap of the SAME update — down from 'any time
    since this runner loaded the manifest'."""
    try:
        on_disk = read_txn(txn_root, manifest["txn_id"])
    except (FileNotFoundError, ValueError):
        on_disk = None  # not written yet, or torn mid-replace: proceed
    status = (on_disk or {}).get("status")
    if status == "committed":
        return on_disk
    if status in _TERMINAL_STATUSES or status == "aborting":
        # 'aborting' is live compensation state, not terminal, but it
        # must be refused for the same reason: writing through would
        # erase the compensation's persisted intent and per-leg
        # compensated_by progress (its restore jobs run for minutes
        # while the manifest sits here) — wap._txn_protection already
        # treats it as a protected live state
        raise RuntimeError(
            f"txn {manifest['txn_id']} was resolved to "
            f"{status!r} CONCURRENTLY with a roll-forward — "
            "recover_txns/commit_txn must not race compensate_stuck_txn/"
            "resolve_broken_txn (see recover_txns docstring); inspect the "
            "on-disk manifest for legs this runner may have published "
            "after the resolution pass"
        )
    if on_disk is not None:
        ours = {leg["table"]: leg for leg in manifest["legs"]}
        for other in on_disk.get("legs", []):
            leg = ours.get(other["table"])
            if leg is None or leg.get("version") is not None:
                continue  # this runner resolved the leg: error obsolete
            if other.get("error") and not leg.get("error"):
                leg["error"] = other["error"]
        if (
            status == "stuck"
            and manifest["status"] == "prepared"
            and any(
                leg.get("error") and leg.get("version") is None
                for leg in manifest["legs"]
            )
        ):
            manifest["status"] = "stuck"
    _write_manifest(txn_root, manifest)
    return None


def list_txns(txn_root: str) -> list[dict]:
    """Every transaction manifest under ``txn_root`` (KB each), oldest
    FIRST — ordered by each manifest's recorded ``created`` timestamp
    (txn-id tiebreak), not by listing order: store listings are
    lexicographic over ids, and legacy ids were random uuid hex. New
    ids carry a zero-padded ``time_ns`` prefix so the two orders agree
    going forward."""
    store = get_log_store()
    out = []
    for f in store.list(txn_root):
        if f.endswith(".json"):
            out.append(json.loads(store.read(os.path.join(txn_root, f))))
    out.sort(key=lambda m: (m.get("created", 0.0), m.get("txn_id", "")))
    return out


def _normalize_legs(legs) -> list[dict]:
    pairs = [(os.path.abspath(t), sid) for t, sid in legs]
    if not pairs:
        raise ValueError("commit_txn needs at least one (table, staging_id) leg")
    tables = [t for t, _ in pairs]
    if len(set(tables)) != len(tables):
        raise ValueError(
            "one leg per table: two stagings on the same table have no "
            "defined publish order inside a transaction — stage their "
            "union, or run two transactions"
        )
    return [{"table": t, "staging_id": sid} for t, sid in pairs]


def _preflight(legs: list[dict]) -> dict[str, dict]:
    """Re-run the publish-time refusals BEFORE the decision point, so a
    conflict that already exists aborts the txn cleanly (nothing
    published, stagings still abandonable) instead of parking it stuck
    after leg one. The commit-time race remains — that is what ``stuck``
    handles. Returns the parsed staging manifests keyed by table so the
    marking pass doesn't re-read each one."""
    manifests: dict[str, dict] = {}
    for leg in legs:
        t, sid = leg["table"], leg["staging_id"]
        m = _read_manifest(t, sid)  # raises if never staged / abandoned
        manifests[t] = m
        if _constraints_fp(t) != m["constraints_fp"]:
            raise CommitConflict(
                f"txn pre-check: table contract on {t} changed after "
                f"staging {sid} — re-stage/re-audit before commit_txn"
            )
        if (m["mode"] == "append"
                and _snapshot(t).column_mapping != m["prior_cm"]):
            raise CommitConflict(
                f"txn pre-check: column mapping on {t} moved after "
                f"staging {sid} (concurrent RENAME/DROP) — re-stage"
            )
    return manifests


def _covering_version(path: str, tw: dict | None, base: int | None) -> tuple[int, bool]:
    """``(version, verified)`` of the FIRST log entry whose
    ``(app, version)`` watermark covers ``tw`` — the entry that actually
    published a duplicate-skipped leg's rows. ``base`` (the staging's
    base_version) bounds the scan: the covering entry is provably newer
    than the staging's base (the batch was not covered at stage time),
    so a long-lived streamed table never pays an O(#commits) walk.
    Falls back to ``(tip, False)`` when the watermark is unknown
    (legacy manifest without the denormalized watermark, already gone
    on a replayed roll-forward — the tip still covers the rows, it may
    just pin unrelated later commits, and two concurrent roll-forwards
    can read different tips)."""
    from .versioned import _entries

    if tw is not None:
        lo = (base + 1) if base is not None else 0
        for e in _entries(path, lo=lo):
            t = e.get("txn")
            if (
                t is not None
                and t.get("app_id") == tw["app_id"]
                and t.get("version") >= tw["version"]
            ):
                return e["version"], True
    return latest_version(path), False


def _skip_covered_leg(txn_root: str, manifest: dict, leg: dict,
                      tw: dict, base: int | None) -> dict | None:
    """Record a duplicate-skip: the leg's batch is already published
    (an earlier txn / replay for the same micro-batch) — pin the
    COVERING entry's version (the first one whose watermark reached
    this batch), not the current tip, so the txn's savepoint never
    pins unrelated later commits and concurrent roll-forwards record
    the same version. On the legacy tip-fallback path (watermark
    unknown — see ``_covering_version``) the pin is approximate:
    ``version_unverified`` is recorded so savepoint consumers know the
    pinned version may include unrelated later commits. Returns the
    adopted terminal manifest if a concurrent runner already finalized
    this txn (see ``_write_manifest_unless_terminal``), else None."""
    leg["version"], verified = _covering_version(leg["table"], tw, base)
    if not verified:
        leg["version_unverified"] = True
    leg["duplicate_skip"] = True
    leg.pop("error", None)
    return _write_manifest_unless_terminal(txn_root, manifest)


def _roll_forward(spark: SparkSession, txn_root: str, manifest: dict) -> dict:
    """Publish every leg that has no recorded version yet; finalize to
    ``committed``. Idempotent: replaying after ANY crash point converges
    on the same versions (publish_staged returns the existing entry for
    an already-published staging_id). A leg whose redo state is broken
    (staging vanished) does NOT block the legs after it — they publish,
    the error is recorded, and the txn stays prepared for the next
    sweep (or ``resolve_broken_txn``)."""
    failures: list[Exception] = []
    for leg in manifest["legs"]:
        if leg.get("version") is not None:
            continue
        # the staging's watermark + base version, read before publish
        # (needed to resolve the COVERING entry on a duplicate-skip,
        # bounding the scan to commits after the staging's base); falls
        # back to the copies commit_txn denormalized into this manifest
        # so a DESTROYED staging can still be classified
        try:
            _m_leg = _read_manifest(leg["table"], leg["staging_id"])
            tw = _m_leg.get("txn_watermark")
            base = _m_leg.get("base_version")
        except FileNotFoundError:
            tw = leg.get("txn_watermark")
            base = leg.get("base_version")
        try:
            entry = publish_staged(spark, leg["table"], leg["staging_id"])
        except CommitConflict as e:
            manifest["status"] = "stuck"
            leg["error"] = str(e)
            adopted = _write_manifest_unless_terminal(txn_root, manifest)
            if adopted is not None:
                # a concurrent runner already finalized this txn — the
                # conflict this runner saw is stale (its publish raced
                # the other runner's); the txn is resolved, not stuck
                return adopted
            raise TxnStuck(
                f"txn {manifest['txn_id']} stuck on {leg['table']}: {e}"
            ) from e
        except FileNotFoundError as e:
            # redo state gone (staging destroyed out-of-band, never
            # published under this staging_id). If the manifest-recorded
            # watermark shows the BATCH is covered anyway (a replay txn
            # published the same rows), this is a duplicate-skip, not a
            # loss. Either way the remaining legs must not be blocked.
            if watermark_covered(_snapshot(leg["table"]), tw):
                adopted = _skip_covered_leg(txn_root, manifest, leg, tw, base)
                # symmetric with the entry-is-None skip: reclaim any
                # zombie manifest now (a no-op when it is already gone)
                abandon_staged(leg["table"], leg["staging_id"], force=True)
                if adopted is not None:
                    return adopted
                continue
            leg["error"] = str(e)
            adopted = _write_manifest_unless_terminal(txn_root, manifest)
            if adopted is not None:
                return adopted
            failures.append(e)
            continue
        if entry is None:
            # txn-watermarked staging whose batch the table already
            # covers. ORDER MATTERS: persist the skip into the txn
            # manifest FIRST, reclaim the staging AFTER —
            # publish_staged left a txn-marked staging's redo state in
            # place precisely so a crash here replays into the same
            # skip instead of an unresolvable prepared txn.
            adopted = _skip_covered_leg(txn_root, manifest, leg, tw, base)
            abandon_staged(leg["table"], leg["staging_id"], force=True)
            if adopted is not None:
                return adopted
            continue
        leg["version"] = entry["version"]
        leg.pop("error", None)
        # persist per-leg progress: a crash here costs one idempotent
        # re-publish, not a re-derivation of what already landed. The
        # guarded write adopts a concurrent runner's terminal manifest
        # instead of transiently regressing it to 'prepared'.
        adopted = _write_manifest_unless_terminal(txn_root, manifest)
        if adopted is not None:
            return adopted
    if failures:
        # some legs published, the broken one(s) are recorded: the txn
        # stays PREPARED (recover retries; resolve_broken_txn is the
        # terminal if the redo state is verifiably gone)
        raise failures[0]
    manifest["status"] = "committed"
    manifest["completed"] = time.time()
    # the committed manifest IS a cross-table savepoint (same shape as
    # operators/savepoint.py): each member pinned at the version that
    # made its leg visible — the transaction-consistent world
    manifest["savepoint"] = {
        "created": manifest["completed"],
        "tables": {
            leg["table"]: {"path": leg["table"], "version": leg["version"]}
            for leg in manifest["legs"]
        },
    }
    adopted = _write_manifest_unless_terminal(txn_root, manifest)
    return adopted if adopted is not None else manifest


def commit_txn(
    spark: SparkSession,
    txn_root: str,
    legs,
    note: str | None = None,
) -> dict:
    """Atomically commit staged writes across tables.

    ``legs`` is a sequence of ``(table_path, staging_id)`` pairs, each
    from :func:`~.wap.stage_commit` (optionally audited via
    ``wap.audit_and_publish``'s expectation vocabulary before calling
    this). Returns the committed manifest. To ABORT instead, don't call
    this — ``abandon_staged`` each leg; readers never saw a row.

    Raises ``CommitConflict`` from the pre-check (nothing published,
    txn not created) or :class:`TxnStuck` from a commit-time race (txn
    recorded, partially published — see module docstring)."""
    norm = _normalize_legs(legs)
    staged_manifests = _preflight(norm)
    for leg in norm:
        sm = staged_manifests[leg["table"]]
        # denormalize the staging's watermark + base into the TXN
        # manifest: if the staging is ever destroyed out-of-band, these
        # let recovery classify 'covered by a replay' (duplicate-skip)
        # vs 'genuinely lost' instead of erroring blind
        if sm.get("txn_watermark") is not None:
            leg["txn_watermark"] = sm["txn_watermark"]
        if sm.get("base_version") is not None:
            leg["base_version"] = sm["base_version"]
    # id = sortable creation instant + randomness: 16 hex digits of
    # time_ns (zero-padded → lexicographic order == chronological order
    # until ~year 2554) keeps directory listings chronological, the
    # uuid suffix keeps concurrent committers collision-free
    txn_id = f"txn-{time.time_ns():016x}-{uuid.uuid4().hex[:12]}"
    manifest = {
        "txn_id": txn_id,
        "status": "prepared",
        "created": time.time(),
        "legs": norm,
    }
    if note:
        manifest["note"] = note
    store = get_log_store()
    store.ensure_dir(txn_root)
    # mark each staged manifest as this txn's leg BEFORE deciding:
    # once the prepared manifest exists, the stagings are the redo
    # log, and maintenance (wap.expire_staged) / manual abandon must
    # not destroy them out from under a recoverable transaction
    manifest_file = _txn_file(txn_root, txn_id)
    try:
        for leg in norm:
            mark_staging_txn(
                leg["table"], leg["staging_id"], txn_root, txn_id,
                manifest_file=manifest_file,
                manifest=staged_manifests[leg["table"]],
            )
        # THE decision point: exclusive-create of the prepared manifest.
        # Before this line: abort by abandoning stagings. After it: the
        # txn commits, here or in recover_txns.
        store.put_exclusive(manifest_file, json.dumps(manifest))
    except Exception:
        # decision never happened (a mark failed partway, or the
        # manifest put itself did): unmark every leg so the documented
        # abort path (abandon_staged per leg) works immediately instead
        # of hitting the marker guard for its grace window. (A process
        # DEATH here can't unmark — that is what the grace window is
        # for.)
        for leg in norm:
            try:
                unmark_staging_txn(leg["table"], leg["staging_id"], txn_id)
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
        raise
    return _roll_forward(spark, txn_root, manifest)


def recover_txns(
    spark: SparkSession, txn_root: str, retry_stuck: bool = False
) -> list[dict]:
    """Repair after crashes: roll every ``prepared`` manifest forward
    (idempotent — safe to run on a schedule, or concurrently with a
    live ``commit_txn`` of the same txn). ``retry_stuck=True`` also
    retries ``stuck`` txns — do that after resolving the recorded
    conflict, and not concurrently with ``compensate_stuck_txn``.
    Returns the manifests it acted on, with their final status."""
    acted = []
    for m in list_txns(txn_root):
        if m["status"] == "prepared" or (
            retry_stuck and m["status"] == "stuck"
        ):
            try:
                acted.append(_roll_forward(spark, txn_root, m))
            except TxnStuck:
                acted.append(read_txn(txn_root, m["txn_id"]))
            except Exception as e:  # noqa: BLE001 — per-txn isolation
                # one poisoned txn (vanished staged dir, transient store
                # error) must not block recovery of every OTHER prepared
                # txn behind it in the listing; the manifest is left
                # untouched (still prepared) for the next sweep
                acted.append(dict(m, status="error", error=repr(e)))
    return acted


def _compensate_creating_leg(spark: SparkSession, path: str, txn_id: str) -> dict:
    """The compensating commit for a leg that CREATED its table
    (published as version 0 — there is no version -1 to restore to):
    an explicit empty overwrite published directly through the claim
    loop, stamped ``txn_compensate_of`` so a crash-resumed compensation
    can ADOPT it unambiguously. (A plain ``commit(empty_df,
    mode="overwrite")`` records one empty parquet part-file in
    ``added`` — indistinguishable on resume from an unrelated
    overwrite, which wedged the resume path; found by live repro.)"""
    schema_json = _snapshot(path, 0).schema(spark).jsonValue()

    def build(version: int, prev: Snapshot) -> dict:
        return {
            "version": version,
            "timestamp": time.time(),
            "mode": "overwrite",
            "added": [],
            "removed": prev.live,
            "operation": f"TXN_COMPENSATE({txn_id})",
            "txn_compensate_of": 0,
            "table_schema": schema_json,
        }

    entry = _publish(path, build)
    assert entry is not None  # build never skips
    return entry


def compensate_stuck_txn(
    spark: SparkSession, txn_root: str, txn_id: str,
    allow_prepared: bool = False,
) -> dict:
    """Saga-style abort of a ``stuck`` transaction: RESTORE each
    published leg to its pre-leg version (``versioned.rollback`` — a
    compensating commit, history preserved; a leg that CREATED its
    table compensates with an empty overwrite, since version -1 does
    not exist) and abandon the unpublished stagings; the manifest flips
    to ``aborted``.

    Crash-safe and resumable: intent is recorded first (``aborting`` —
    recovery never retries an aborting txn forward), each compensating
    commit is persisted per leg, and a re-run adopts a restore that
    landed but was not yet recorded instead of refusing it as drift.

    Refused unless every uncompensated published leg is still its
    table's TIP: if later commits landed on top, a blind restore would
    revert THEM too — that situation needs a human (targeted
    ``delete_rows`` of the leg's rows, or accept the txn and retry
    forward). Run this instead of, never concurrently with,
    ``recover_txns(retry_stuck=True)``.

    ``allow_prepared=True`` extends compensation to a PREPARED txn —
    the terminal path for a transaction whose redo state was destroyed
    out-of-band (``recover_txns`` keeps reporting ``error`` on it
    forever: a staged dir deleted bypassing the txn guard, expired
    data). A prepared txn promised to commit, so this is an explicit
    operator decision, never automatic; legs whose stagings are gone
    have nothing to abandon, published legs compensate as usual, and
    the txn reaches ``aborted`` — unpinning its surviving stagings from
    the maintenance guard."""
    m = read_txn(txn_root, txn_id)
    ok_states = ("stuck", "aborting") + (
        ("prepared",) if allow_prepared else ()
    )
    if m["status"] not in ok_states:
        raise ValueError(
            f"txn {txn_id} is {m['status']!r}, not stuck — compensation "
            "is only for transactions parked by a roll-forward conflict "
            "(or resuming its own crashed 'aborting' pass; pass "
            "allow_prepared=True to terminally abort an unrecoverable "
            "prepared txn)"
        )
    published = [leg for leg in m["legs"] if leg.get("version") is not None]
    todo = [leg for leg in published if "compensated_by" not in leg]
    # tip checks for EVERY remaining leg before the first restore: a
    # mid-loop refusal would strand a half-compensated transaction
    adoptable: dict[int, int] = {}
    for i, leg in enumerate(todo):
        if leg.get("duplicate_skip"):
            raise CommitConflict(
                f"cannot compensate txn {txn_id}: leg {leg['table']} was "
                "a duplicate-skip — its rows were published by an EARLIER "
                "transaction's entry, so no single commit of this txn can "
                "be restored away; resolve forward instead"
            )
        tip = latest_version(leg["table"])
        if tip != leg["version"]:
            # resume case FIRST: a previous compensation pass crashed
            # after restoring this leg but before recording it — adopt
            # the tip iff it IS that compensating commit (a landed
            # restore is adopted even for a watermarked leg: it cannot
            # be un-landed, and refusing would strand the txn in
            # 'aborting' forever)
            entry = _entry_at(leg["table"], tip)
            if leg["version"] == 0:
                compensated = entry.get("txn_compensate_of") == 0
            else:
                compensated = entry.get("restore_of") == leg["version"] - 1
            if m["status"] == "aborting" and compensated:
                adoptable[i] = tip
                continue
            raise CommitConflict(
                f"cannot compensate txn {txn_id}: {leg['table']} moved "
                f"past the leg's version {leg['version']} — restoring "
                "would revert unrelated commits; resolve forward instead"
            )
        if _entry_at(leg["table"], leg["version"]).get("txn") is not None:
            # the leg's entry carries an (app, batch) txn WATERMARK (a
            # streamed staging): restoring the rows away would NOT
            # retract the watermark — the replay accumulates watermarks
            # and restore entries never un-learn them — so a replayed
            # batch would be skipped on this table while other tables
            # re-apply it: a silent, permanent half-landed batch. The
            # safe resolution for streamed txns is always FORWARD
            # (recover_txns; the stream's checkpoint replays the rest).
            raise CommitConflict(
                f"cannot compensate txn {txn_id}: leg {leg['table']} "
                "published with a streaming txn watermark — restore "
                "cannot retract the watermark, so a replayed batch would "
                "skip this table forever; resolve forward instead "
                "(recover_txns, then restart the stream)"
            )
    # intent recorded FIRST: from here the txn is 'aborting', recovery
    # will not retry it forward, and a crash resumes HERE
    m["status"] = "aborting"
    _write_manifest(txn_root, m)
    for i, leg in enumerate(todo):
        if i in adoptable:
            leg["compensated_by"] = adoptable[i]
        elif leg["version"] == 0:
            entry = _compensate_creating_leg(spark, leg["table"], txn_id)
            leg["compensated_by"] = entry["version"]
        else:
            entry = rollback(spark, leg["table"], leg["version"] - 1)
            leg["compensated_by"] = entry["version"]
        # per-leg progress, same discipline as _roll_forward: a crash
        # costs one adopt-the-tip resume, never a wedged manifest
        _write_manifest(txn_root, m)
    for leg in m["legs"]:
        if leg.get("version") is None and not leg.get("abandoned"):
            abandon_staged(leg["table"], leg["staging_id"], force=True)
            leg["abandoned"] = True
            _write_manifest(txn_root, m)
    m["status"] = "aborted"
    m["completed"] = time.time()
    _write_manifest(txn_root, m)
    return m


def txn_snapshot(
    spark: SparkSession, txn_root: str, txn_id: str
) -> dict[str, "object"]:
    """Open every member table of a COMMITTED transaction at its pinned
    leg version — the transaction-consistent world, regardless of what
    landed since. Returns ``{table_path: DataFrame}``. Costs exactly a
    pinned ``read_table`` per member (pure log metadata resolution)."""
    m = read_txn(txn_root, txn_id)
    if m["status"] != "committed":
        raise ValueError(
            f"txn {txn_id} is {m['status']!r} — snapshots exist only "
            "for committed transactions"
        )
    return {
        leg["table"]: read_table(spark, leg["table"], version=leg["version"])
        for leg in m["legs"]
    }


def resolve_broken_txn(spark: SparkSession, txn_root: str, txn_id: str) -> dict:
    """Terminal state for a transaction that can NEITHER roll forward
    NOR compensate: its unpublished legs' redo state (staged manifest
    and files) was destroyed out-of-band AND some published leg carries
    a streaming watermark compensation refuses to revert. ``broken``
    records the tear honestly — which legs published, which were lost —
    instead of ``recover_txns`` reporting ``error`` on every sweep
    forever while the maintenance guard pins the surviving stagings.

    Refused while the txn is still resolvable: every unpublished leg
    must be verifiably unrecoverable (staging gone and no published
    entry for its staging_id), and a txn whose legs ALL published is
    completable — run ``recover_txns``. Prefer
    ``compensate_stuck_txn(allow_prepared=True)`` when no published leg
    is watermarked: that path actually reverts. This one only records."""
    from .wap import _published_entry

    m = read_txn(txn_root, txn_id)
    if m["status"] not in ("prepared", "stuck"):
        raise ValueError(
            f"txn {txn_id} is {m['status']!r} — only a prepared/stuck "
            "transaction can be declared broken"
        )
    unpublished = [leg for leg in m["legs"] if leg.get("version") is None]
    if not unpublished:
        raise ValueError(
            f"txn {txn_id} has every leg published — it is completable, "
            "run recover_txns instead of declaring it broken"
        )
    for leg in unpublished:
        t, sid = leg["table"], leg["staging_id"]
        sm = None
        try:
            sm = _read_manifest(t, sid)
        except FileNotFoundError:
            pass
        # coverage check FIRST, from the denormalized copy OR the
        # surviving staging manifest (legacy manifests predate the
        # denormalization) — and strictly before any zombie cleanup,
        # which would destroy the only remaining watermark record
        tw = leg.get("txn_watermark") or (
            sm.get("txn_watermark") if sm is not None else None
        )
        if watermark_covered(_snapshot(t), tw):
            raise ValueError(
                f"txn {txn_id} is still resolvable: leg {t}'s batch "
                "is watermark-covered (a replay published the rows) "
                "— run recover_txns, which records the duplicate-skip"
            )
        if sm is not None:
            # a manifest whose data dir is gone is a ZOMBIE (a reclaim
            # raced the marker write): addressable but unpublishable —
            # verifiably lost, and the dangling manifest goes with it
            still_staged = os.path.isdir(os.path.join(t, sm["data_dir"]))
            if not still_staged:
                from .wap import _drop_manifest

                _drop_manifest(t, sid)
        else:
            still_staged = False
        # bounded when the (zombie) manifest still carried its base;
        # full-log probe only when even that record is gone
        base = sm.get("base_version") if sm is not None else None
        lo = (base + 1) if base is not None else 0
        if still_staged or _published_entry(t, sid, lo=lo) is not None:
            raise ValueError(
                f"txn {txn_id} is still resolvable: leg {t} has live "
                "redo state (or already published) — recover_txns / "
                "compensate_stuck_txn are the right tools"
            )
        leg["lost"] = True
    m["status"] = "broken"
    m["completed"] = time.time()
    _write_manifest(txn_root, m)
    return m


def audit_and_commit_txn(
    spark: SparkSession,
    txn_root: str,
    legs,
    note: str | None = None,
    scope: str = "increment",
    on_fail: str = "keep",
) -> dict:
    """The multi-table WAP wrapper: audit EVERY staged leg against its
    expectations suite first; only if all pass does the transaction
    commit — one failing table keeps (``on_fail="keep"``, quarantine
    for inspection via ``wap.read_staged``) or abandons
    (``"abandon"``) ALL stagings, so a batch that fails quality on one
    table never half-lands anywhere.

    ``legs`` is a sequence of ``(table_path, staging_id, expectations)``
    where ``expectations`` is an ``operators/expectations.py`` suite (or
    None to skip the audit for that leg). Returns ``{"committed",
    "reports": {table: report}, "manifest"|None}``. Each audit is one
    aggregation over that leg's staged scope — same cost contract as
    ``wap.audit_and_publish``, multiplied by legs, never by tables not
    in the transaction."""
    if on_fail not in ("keep", "abandon"):
        raise ValueError(f"on_fail must be keep|abandon, got {on_fail!r}")
    # leg validation FIRST: an invalid leg list (empty, duplicate
    # tables — which would also silently collapse the reports dict)
    # must refuse before any Spark aggregation is paid
    _normalize_legs([(t, sid) for t, sid, _ in legs])
    from .expectations import run_expectations
    from .wap import read_staged

    reports: dict[str, dict] = {}
    all_passed = True
    for t, sid, exps in legs:
        if exps is None:
            continue
        rep = run_expectations(
            read_staged(spark, t, sid, scope=scope), exps
        )
        reports[os.path.abspath(t)] = rep
        all_passed = all_passed and rep["passed"]
    if not all_passed:
        if on_fail == "abandon":
            for t, sid, _ in legs:
                abandon_staged(t, sid)
        return {"committed": False, "reports": reports, "manifest": None}
    m = commit_txn(
        spark, txn_root, [(t, sid) for t, sid, _ in legs], note=note
    )
    return {"committed": True, "reports": reports, "manifest": m}


def expire_txns(
    txn_root: str, older_than_sec: float, keep_latest_committed: bool = True
) -> list[str]:
    """Drop terminal (committed/aborted/broken) manifests older than
    the horizon — the retention sweep for the coordinator directory.
    Never touches prepared/stuck manifests: those are redo records, and
    deleting one would un-decide a transaction. (A ``broken`` manifest
    is the record of a torn batch — size the horizon so it is read
    before it is reaped, like any incident log.)

    ``keep_latest_committed`` (default) retains, for EVERY table that
    appears in any committed manifest, the newest committed manifest
    covering it (the minimal covering set — bounded by the number of
    distinct tables, not by history): committed manifests are the
    coordinator's cross-table savepoints, and consumers that pin reads
    to them (``inverted_index.committed_index_snapshot``) would
    silently fall back to unpinned tip reads if a quiet period let the
    sweep reap them. Keeping only the single newest manifest is not
    enough — a duplicate-skip re-run can commit a manifest covering a
    SUBSET of the tables, newer than the full-coverage one (the r10
    review's found failure mode)."""
    store = get_log_store()
    now = time.time()
    dropped = []
    manifests = list_txns(txn_root)
    keep_ids: set[str] = set()
    if keep_latest_committed:
        covered: set[str] = set()
        for m in reversed(manifests):  # newest committed first
            if m["status"] != "committed":
                continue
            tables = {leg["table"] for leg in m.get("legs", [])}
            if tables - covered:
                keep_ids.add(m["txn_id"])
                covered |= tables
    for m in manifests:
        if m["txn_id"] in keep_ids:
            continue
        if m["status"] in ("committed", "aborted", "broken") and (
            now - m.get("completed", m.get("created", now))
        ) > older_than_sec:
            store.delete(_txn_file(txn_root, m["txn_id"]))
            dropped.append(m["txn_id"])
    return dropped

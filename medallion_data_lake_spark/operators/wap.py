"""Write-Audit-Publish (WAP): stage a commit invisibly, audit the
staged snapshot with declarative expectations, then publish it as one
atomic metadata operation — or abandon it without readers ever having
seen a row.

The naive quality gate — commit, run checks, roll back on failure —
has two holes at any scale: readers (and downstream incremental
consumers: CDF, index-sync, materialized views) observe the bad rows in
the window before the rollback, and the rollback itself is a second
commit that every change-feed consumer must then understand. WAP closes
both: staged data files live under the table's ``data/`` directory but
are referenced by NO log entry, so every reader, the change feed, and
``vacuum`` (whose candidate universe is log-referenced files only) are
blind to them; the audit runs against exactly the files that would
publish; and publishing writes one ordinary log entry pointing at the
already-written files — zero data movement, same atomicity as
:func:`~.versioned.commit`.

This is the Iceberg ``write.wap.enabled`` / dbt build-then-swap pattern
(public knowledge), expressed over this repo's versioned log. The
audit vocabulary is ``operators/expectations.py`` (one aggregation pass
over the staged batch, never the table).

Scale shape at 100 TB: staging costs exactly what the commit would
(one write of the batch); the audit reads ONLY the staged files
(``scope="increment"``, O(batch)) unless a dataset-wide property is
being gated (``scope="full"`` — the preview union is lazy, so a
uniqueness check still aggregates keys, not rows); publish and abandon
are metadata-only. Nothing here holds locks: a staged commit that loses
a version race at publish re-validates against the fresh tip inside the
shared ``_publish`` claim loop, exactly like a live commit.

Concurrency contract at publish time (all re-checked against the FRESH
log tip, not stage-time state):

- a concurrent APPEND is fine for a staged append (both land);
- additive schema evolution on the tip is fine (the entry's union
  schema is recomputed); a TYPE conflict refuses (SchemaDriftError);
- concurrent DDL (rename/drop — the column mapping moved) refuses with
  ``CommitConflict``: the staged files were written under the old
  mapping generation, so the only safe answer is re-stage;
- a constraint change between stage and publish refuses with
  ``CommitConflict``: the audit that approved this data ran under the
  old contract.

Crash safety: the manifest under ``_staging/`` is written LAST at stage
time (a crash mid-stage leaves an unreferenced data dir that
``abandon_staged``/``expire_staged`` reclaims); the published entry
records its ``staging_id``, and ``publish_staged`` is idempotent — a
crash between publish and manifest cleanup replays into "already
published: clean up and return the existing entry", never a double
publish.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import (
    CommitConflict,
    Snapshot,
    _check_append_drift,
    _cm_phys,
    _cm_phys_cols,
    _derive_cm,
    _enforce_constraints,
    _entries,
    _publish,
    _snapshot,
    _to_physical_names,
    _write_files,
    latest_version,
    read_table,
    table_constraints,
    watermark_covered,
)

_STAGING_DIR = "_staging"


def _staging_root(path: str) -> str:
    return os.path.join(path, _STAGING_DIR)


def _manifest_path(path: str, staging_id: str) -> str:
    return os.path.join(_staging_root(path), f"{staging_id}.json")


def _read_manifest(path: str, staging_id: str) -> dict:
    p = _manifest_path(path, staging_id)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"no staged commit {staging_id!r} under {path} "
            "(published already, abandoned, or never staged?)"
        )
    return json.load(open(p))


def _constraints_fp(path: str) -> str:
    """Order-independent fingerprint of the table contract."""
    import hashlib

    specs = table_constraints(path)
    blob = json.dumps(sorted(specs, key=json.dumps), sort_keys=True)
    return hashlib.md5(blob.encode()).hexdigest()


def stage_commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    allow_schema_evolution: bool = False,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> str | None:
    """Write ``df``'s data files under the table WITHOUT publishing a
    log entry; returns a ``staging_id`` for audit/publish/abandon.

    With ``txn_app_id``/``txn_version`` the staging inherits
    :func:`~.versioned.commit`'s idempotence contract: if the app's
    recorded watermark already covers ``txn_version``, the stage is
    skipped (returns None — the batch already published, don't pay the
    data write) and the eventual publish re-checks inside the claim
    loop and records the watermark. This is what makes STREAMED staged
    writes (one staging per micro-batch, published through
    ``txn.commit_txn``) exactly-once under checkpoint replay.

    The watermark is a HIGH-WATER mark (``txn_version <= seen`` skips —
    Delta's SetTransaction rule): it assumes an app's batch ids are
    applied in NON-DECREASING order per table, which Structured
    Streaming guarantees (batch N+1 never starts before batch N's epoch
    commits; a restart replays N first). An out-of-band coordinator
    that publishes batch N+1 while batch N's transaction is still
    PREPARED would make N's recovery skip it as covered — don't issue
    higher batch ids past an unrecovered transaction of the same app.

    Validation (schema enforcement, declarative constraints, column
    mapping) runs NOW, against the current tip — staging a batch that
    could never publish should fail at stage time, not after the audit.
    The same checks re-run against the fresh tip at publish (see module
    docstring for the conflict contract). ``analyze_stats`` partials
    are deliberately not supported here (their sidecar layout is keyed
    to published commits); run :func:`~.versioned.analyze_table` after
    publish, or use plain ``commit`` when stats-at-write matter more
    than the audit gate."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession

    snap = _snapshot(path)
    has_txn = txn_app_id is not None and txn_version is not None
    if has_txn and watermark_covered(
        snap, {"app_id": txn_app_id, "version": txn_version}
    ):
        return None  # replayed batch: already published, skip the write

    schema_changed = False
    table_schema = df.schema
    if mode == "append" and snap.version is not None:
        # THE schema-enforcement rule, shared with commit() — staged
        # and live writes must refuse identically
        table_schema, schema_changed = _check_append_drift(
            path, snap.schema(spark), df.schema,
            allow_schema_evolution, what="staged append",
        )

    _enforce_constraints(df, path)

    # column mapping, same derivation as commit(): appends translate to
    # physical names; an overwrite resets the mapping
    prior_cm = snap.column_mapping
    cm, cm_changed = _derive_cm(
        prior_cm, mode, [f.name for f in df.schema.fields]
    )
    written = _write_files(
        _to_physical_names(df, cm), path,
        stats_cols=_cm_phys_cols(cm, stats_cols),
        bloom_cols=_cm_phys_cols(cm, bloom_cols),
        prefix="wap-",
    )
    commit_dir = os.path.basename(written.data_path)
    staging_id = commit_dir[len("commit-"):]

    manifest = {
        "staging_id": staging_id,
        "mode": mode,
        "added": written.added,
        "data_dir": os.path.join("data", commit_dir),
        "batch_schema": df.schema.jsonValue(),
        "table_schema": table_schema.jsonValue(),
        "schema_changed": schema_changed,
        "allow_schema_evolution": allow_schema_evolution,
        "prior_cm": prior_cm,
        "cm": cm,
        "cm_changed": cm_changed,
        "file_stats": written.file_stats,
        "constraints_fp": _constraints_fp(path),
        "base_version": snap.version,
        "created": time.time(),
    }
    if has_txn:
        # "txn_watermark", not "txn": the latter key on a staging
        # manifest is the multi-table-transaction LEG marker
        manifest["txn_watermark"] = {
            "app_id": txn_app_id, "version": txn_version,
        }
    os.makedirs(_staging_root(path), exist_ok=True)
    # manifest LAST: its existence is what makes the staged dir real
    from ._atomic import atomic_write_json

    atomic_write_json(_manifest_path(path, staging_id), manifest)
    return staging_id


def _staged_frame(spark: SparkSession, path: str, manifest: dict) -> DataFrame:
    """The staged files on LOGICAL names (reverse of the staged cm)."""
    from pyspark.sql.types import StructType

    batch = StructType.fromJson(manifest["batch_schema"])
    raw = spark.read.parquet(os.path.join(path, manifest["data_dir"]))
    cm = manifest["cm"]
    return raw.select(*[
        F.col(_cm_phys(cm, f.name)).alias(f.name) for f in batch.fields
    ])


def read_staged(
    spark: SparkSession,
    path: str,
    staging_id: str,
    scope: str = "increment",
) -> DataFrame:
    """Preview a staged commit before anyone else can see it.

    ``scope="increment"`` — just the staged rows (what an append adds;
    O(batch), the audit default). ``scope="full"`` — the snapshot AS IT
    WOULD BE after publish: current table ∪ increment for an append,
    the staged rows alone for an overwrite (lazy union; dataset-wide
    checks like uniqueness need this one)."""
    if scope not in ("increment", "full"):
        raise ValueError(f"scope must be increment|full, got {scope!r}")
    m = _read_manifest(path, staging_id)
    staged = _staged_frame(spark, path, m)
    if scope == "increment" or m["mode"] == "overwrite":
        return staged
    if latest_version(path) is None:
        return staged
    return read_table(spark, path).unionByName(
        staged, allowMissingColumns=True
    )


def _published_entry(path: str, staging_id: str, lo: int = 0) -> dict | None:
    """The already-published entry for ``staging_id``, or None. ``lo``
    bounds the scan (an entry can only exist above the staging's base
    version — without the bound every probe reads the whole log)."""
    hits = [
        e for e in _entries(path, lo=lo)
        if e.get("staging_id") == staging_id
    ]
    return hits[-1] if hits else None


def publish_staged(
    spark: SparkSession, path: str, staging_id: str
) -> dict | None:
    """Turn the staged files into a real commit: one log entry, zero
    data movement. Re-validates against the FRESH tip inside the claim
    loop (see module docstring); idempotent — if this staging_id
    already published (crash between publish and cleanup, or a plain
    double-call), returns the existing entry and just removes the
    manifest. Returns None ONLY when the staging carries a txn
    watermark the table already covers (a replayed micro-batch staged
    a duplicate): a plain staging's files are reclaimed unseen; a
    staging marked as a TRANSACTION LEG keeps its redo state — the
    coordinator records the skip, then reclaims (``expire_staged``
    sweeps any leftover once the txn is terminal)."""
    try:
        m = _read_manifest(path, staging_id)
    except FileNotFoundError:
        # manifest gone: either published-and-cleaned (return the entry)
        # or abandoned/never staged (the original error stands)
        already = _published_entry(path, staging_id)
        if already is not None:
            return already
        raise
    base_lo = (m["base_version"] if m["base_version"] is not None else -1) + 1
    already = _published_entry(path, staging_id, lo=base_lo)
    if already is not None:
        _drop_manifest(path, staging_id)
        return already
    data_dir = os.path.join(path, m["data_dir"])
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(
            f"staged data dir {m['data_dir']} vanished under {path} — "
            "was the staging abandoned?"
        )
    from pyspark.sql.types import StructType

    batch_schema = StructType.fromJson(m["batch_schema"])

    def build(version: int, prev: Snapshot) -> dict | None:
        # the same inside-the-claim-loop re-check as commit(): a
        # concurrent duplicate (replayed micro-batch staged twice)
        # loses HERE, not by double-publishing
        if watermark_covered(prev, m.get("txn_watermark")):
            return None
        if _constraints_fp(path) != m["constraints_fp"]:
            raise CommitConflict(
                f"table contract on {path} changed after staging "
                f"{staging_id}: the audit ran under the old constraints "
                "— re-stage (or re-audit) against the current contract"
            )
        schema_changed = m["schema_changed"]
        table_schema_json = m["table_schema"]
        cm, cm_changed = m["cm"], m["cm_changed"]
        if m["mode"] == "overwrite":
            # an overwrite resets the mapping regardless of what landed
            # since the stage — but cm_changed must be recomputed on the
            # FRESH tip: a rename between stage and publish left a live
            # non-identity mapping that this entry must explicitly reset,
            # or reads of the new snapshot would alias through it
            cm, cm_changed = _derive_cm(
                prev.column_mapping, "overwrite", []
            )
        elif prev.column_mapping != m["prior_cm"]:
            raise CommitConflict(
                f"column mapping on {path} moved after staging "
                f"{staging_id} (concurrent RENAME/DROP): staged files "
                "carry the old physical layout — re-stage"
            )
        if m["mode"] == "append" and version > 0:
            # THE shared enforcement rule, against the fresh tip
            table_schema, schema_changed = _check_append_drift(
                path, prev.schema(spark),
                batch_schema, m["allow_schema_evolution"],
                what=f"staged append (staging {staging_id}, tip moved)",
            )
            table_schema_json = table_schema.jsonValue()
        entry = {
            "version": version,
            "timestamp": time.time(),
            "mode": m["mode"],
            "added": m["added"],
            "removed": prev.live if m["mode"] == "overwrite" else [],
            "operation": f"WRITE(staged {staging_id})",
            "staging_id": staging_id,
            "table_schema": table_schema_json,
        }
        if m.get("txn_watermark") is not None:
            entry["txn"] = {
                "app_id": m["txn_watermark"]["app_id"],
                "version": m["txn_watermark"]["version"],
            }
        if m["file_stats"]:
            entry["file_stats"] = m["file_stats"]
        if schema_changed:
            entry["schema_changed"] = True
        if cm_changed:
            entry["column_mapping"] = cm
        return entry

    entry = _publish(path, build)
    if entry is None:
        # idempotent duplicate skip (txn watermark already covers this
        # batch): the staged files were never referenced by any entry.
        # A staging that is a TRANSACTION LEG keeps its manifest and
        # files — the coordinator must persist the skip into its own
        # manifest FIRST and reclaim after (a reclaim here, before the
        # txn records the skip, would destroy the redo state a crash
        # needs); everything else is reclaimed like commit() reclaims
        # its orphaned data dir.
        if m.get("txn") is None:
            _drop_manifest(path, staging_id)
            shutil.rmtree(data_dir, ignore_errors=True)
        return None
    _drop_manifest(path, staging_id)
    return entry


def _drop_manifest(path: str, staging_id: str) -> None:
    try:
        os.remove(_manifest_path(path, staging_id))
    except FileNotFoundError:
        pass


# a staging marked as a txn leg whose coordinator manifest is MISSING
# is in the mark-then-decide gap (or the coordinator died pre-decision):
# protect it briefly, then let normal expiry reclaim it
TXN_MARKER_GRACE_SEC = 3600.0


def _txn_protection(m: dict) -> str | None:
    """Why this staged manifest must not be reclaimed, or None.

    A staging marked as a leg of a multi-table transaction
    (``operators/txn.py`` stamps ``m["txn"]`` before the decision
    point) is part of that txn's REDO LOG while the txn is undecided or
    live: reclaiming it would make a prepared txn permanently
    unrecoverable — leg A visible, leg B lost, the torn state the
    coordinator exists to prevent."""
    marker = m.get("txn")
    if not marker:
        return None
    # the marker carries the coordinator's own manifest path ("file",
    # written by txn._txn_file) so this guard never re-derives the
    # coordinator's naming scheme; legacy markers fall back — LAZILY,
    # so a malformed marker missing both keys classifies as torn (the
    # except arm below) instead of crashing the whole expire_staged
    # maintenance sweep with a KeyError
    from .logstore import get_log_store

    try:
        target = (
            marker["file"]
            if "file" in marker
            else os.path.join(marker["root"], f"{marker['id']}.json")
        )
        status = json.loads(get_log_store().read(target)).get("status")
    except (FileNotFoundError, KeyError, ValueError):
        # manifest not there (yet) or torn mid-write (the base
        # LogStore.replace / put_exclusive windows): the mark-to-decide
        # gap, or a coordinator that died before deciding — grace-
        # protect, then free (an undecided txn never commits). A torn
        # read heals on the next sweep; it must never crash maintenance.
        if time.time() - marker.get("marked_at", 0) < TXN_MARKER_GRACE_SEC:
            return f"txn {marker.get('id', '?')} deciding"
        return None
    if status in ("prepared", "stuck", "aborting"):
        return f"txn {marker.get('id', '?')} is {status}"
    return None


def mark_staging_txn(
    path: str, staging_id: str, txn_root: str, txn_id: str,
    manifest_file: str | None = None, manifest: dict | None = None,
) -> None:
    """Stamp a staged manifest as a transaction leg (called by
    ``txn.commit_txn`` before its decision point) so maintenance
    (``expire_staged``) and manual ``abandon_staged`` refuse to destroy
    the txn's redo state while the txn is live. ``manifest`` skips the
    re-read when the caller already holds the parsed staging manifest."""
    from ._atomic import atomic_write_json

    if manifest is not None and not os.path.exists(
        _manifest_path(path, staging_id)
    ):
        # the staging was reclaimed between the caller's read and this
        # mark (cron expire_staged, manual abandon): writing the cached
        # dict would RESURRECT a manifest whose data dir is gone and
        # wedge the txn as unrecoverable-prepared — refuse like the
        # re-read path does, while the txn can still abort cleanly
        raise FileNotFoundError(
            f"staging {staging_id} on {path} vanished before marking"
        )
    m = manifest if manifest is not None else _read_manifest(path, staging_id)
    m.pop("age_sec", None)  # a list_staged()-shaped dict: display-only
    m["txn"] = {
        "root": os.path.abspath(txn_root),
        "id": txn_id,
        "marked_at": time.time(),
    }
    if manifest_file is not None:
        m["txn"]["file"] = os.path.abspath(manifest_file)
    atomic_write_json(_manifest_path(path, staging_id), m)
    if not os.path.isdir(os.path.join(path, m["data_dir"])):
        # post-write re-verify closes the check-then-act race: a
        # reclaim that interleaved between the exists-check and the
        # write (manifest deleted, data dir rmtree'd) must not leave a
        # RESURRECTED manifest pointing at vanished bytes — the txn
        # would decide and then wedge on 'staged data dir vanished'.
        # After our write the reclaimer can no longer intervene: a
        # marked manifest is guard-protected (expire skips, abandon
        # refuses), so dir-present here means dir-stays.
        _drop_manifest(path, staging_id)
        raise FileNotFoundError(
            f"staging {staging_id} on {path} was reclaimed concurrently "
            "with marking"
        )


def unmark_staging_txn(path: str, staging_id: str, txn_id: str) -> None:
    """Remove a txn marker (the coordinator's pre-decision failure
    cleanup): only the NAMED txn's marker is removed, so a racing
    re-mark by a different transaction is never clobbered."""
    from ._atomic import atomic_write_json

    try:
        m = _read_manifest(path, staging_id)
    except FileNotFoundError:
        return
    if m.get("txn", {}).get("id") != txn_id:
        return
    m.pop("txn")
    atomic_write_json(_manifest_path(path, staging_id), m)


def abandon_staged(path: str, staging_id: str, force: bool = False) -> None:
    """Drop a staged commit: manifest first (the staging stops being
    addressable), then the data dir. Readers never saw it; nothing to
    roll back.

    Published-guard: a crash between publish and manifest cleanup
    leaves a stale manifest whose data files ARE now log-referenced —
    abandoning that staging must drop only the manifest, never the
    bytes (a maintenance `expire_staged` would otherwise physically
    delete committed data).

    Txn-guard: a staging marked as a live transaction leg refuses
    (``force=True`` overrides — that is for the txn machinery itself,
    e.g. ``compensate_stuck_txn`` abandoning its own legs)."""
    m = None
    try:
        m = _read_manifest(path, staging_id)
    except FileNotFoundError:
        pass
    if m is not None and not force:
        why = _txn_protection(m)
        if why is not None:
            raise ValueError(
                f"staging {staging_id} on {path} is a transaction leg "
                f"({why}) — abandoning it would destroy the txn's redo "
                "state; resolve the transaction instead (txn-recover / "
                "txn-compensate)"
            )
    if m is not None:
        base_lo = (
            (m["base_version"] if m["base_version"] is not None else -1) + 1
        )
        if _published_entry(path, staging_id, lo=base_lo) is not None:
            _drop_manifest(path, staging_id)  # stale manifest only
            return
    _drop_manifest(path, staging_id)
    if m is not None:
        shutil.rmtree(os.path.join(path, m["data_dir"]), ignore_errors=True)


def list_staged(path: str) -> list[dict]:
    """Manifests of every live staging on this table (age included —
    feed ``expire_staged`` on maintenance cadence)."""
    root = _staging_root(path)
    if not os.path.isdir(root):
        return []
    out = []
    for f in sorted(os.listdir(root)):
        if f.endswith(".json"):
            m = json.load(open(os.path.join(root, f)))
            m["age_sec"] = time.time() - m.get("created", 0)
            out.append(m)
    return out


def expire_staged(path: str, older_than_sec: float) -> list[str]:
    """Reclaim stagings older than the horizon (abandoned pipelines,
    crashed audits). Returns the expired staging_ids.

    Also sweeps MANIFEST-LESS staged dirs: a crash between the data
    write and the manifest write leaves ``data/commit-wap-*`` that no
    manifest or log entry will ever reference — invisible to
    ``abandon_staged`` (manifest-driven) and to ``vacuum`` (whose
    candidate universe is log-referenced files), so without this sweep
    every crashed staging leaks its bytes forever. A dir is reclaimed
    only when it is older than the horizon (never a stage-in-progress),
    has no manifest, and no log entry references its staging_id."""
    expired = []
    for m in list_staged(path):
        if m["age_sec"] > older_than_sec:
            if _txn_protection(m) is not None:
                # a live transaction's redo state — the txn machinery
                # (recover/compensate/expire_txns) owns its lifecycle
                continue
            abandon_staged(path, m["staging_id"], force=True)
            expired.append(m["staging_id"])
    data_root = os.path.join(path, "data")
    if os.path.isdir(data_root):
        manifested = {m["staging_id"] for m in list_staged(path)}
        published = {
            e.get("staging_id")
            for e in _entries(path)
            if e.get("staging_id")
        }
        now = time.time()
        for d in os.listdir(data_root):
            if not d.startswith("commit-wap-"):
                continue
            sid = d[len("commit-"):]
            if sid in manifested or sid in published:
                continue
            full = os.path.join(data_root, d)
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue
            if age > older_than_sec:
                shutil.rmtree(full, ignore_errors=True)
                expired.append(sid)
    return expired


def audit_and_publish(
    spark: SparkSession,
    path: str,
    staging_id: str,
    expectations,
    scope: str = "increment",
    on_fail: str = "keep",
) -> dict:
    """The WAP wrapper: run the expectations suite against the staged
    data, publish on pass, keep-or-abandon on fail.

    ``on_fail="keep"`` (default) leaves the staging in place for
    inspection via :func:`read_staged` — the quarantine IS the staging
    area; ``"abandon"`` reclaims it immediately. Returns
    ``{"published", "report", "entry"|None, "staging_id"}``."""
    if on_fail not in ("keep", "abandon"):
        raise ValueError(f"on_fail must be keep|abandon, got {on_fail!r}")
    from .expectations import run_expectations

    frame = read_staged(spark, path, staging_id, scope=scope)
    report = run_expectations(frame, expectations)
    if report["passed"]:
        entry = publish_staged(spark, path, staging_id)
        if entry is None:
            # txn-watermarked staging already covered (stream replay):
            # THIS call published nothing; the rows are in via the
            # earlier entry — flagged so callers never dereference
            # entry["version"] on the skip
            return {"published": False, "duplicate_skip": True,
                    "report": report, "entry": None,
                    "staging_id": staging_id}
        return {"published": True, "report": report, "entry": entry,
                "staging_id": staging_id}
    if on_fail == "abandon":
        abandon_staged(path, staging_id)
    return {"published": False, "report": report, "entry": None,
            "staging_id": staging_id}

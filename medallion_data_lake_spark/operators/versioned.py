"""A minimal log-structured table format: atomic commits, time travel,
rollback, vacuum, OPTIMIZE, idempotent writer transactions, and log
checkpoints — the Delta Lake core, engine-native.

Delta cannot be installed in this container (verified; see
``sources/sinks.py``), but the properties the pipeline actually relies
on — ATOMIC publication (readers never see a half-written table) and
TIME TRAVEL (reproduce any historical read) — are log design, not
package magic. This module implements them the way Delta/Iceberg do:

- data files are immutable; a writer lands NEW parquet files under a
  unique commit directory, invisible to readers;
- a commit is ONE json file ``_log/{version:020d}.json`` listing files
  added and removed. Creation uses exclusive-create (``open(..., 'x')``)
  — two racing writers claim the same version, one loses loudly and
  retries on the next number (optimistic concurrency, single-table
  serializability, same contract as Delta's log store). ALL log writers
  (commit, rollback, OPTIMIZE) go through the same claim-retry loop;
- a snapshot at version V = the newest CHECKPOINT at/before V plus a
  replay of the log tail after it. Every ``CHECKPOINT_INTERVAL``-th
  commit also writes ``{version:020d}.checkpoint.json`` holding the
  snapshot's state (live files, writer-txn watermarks, file stats,
  deletion vectors, schema, column mapping), so snapshot resolution
  reads O(1) checkpoint + O(interval) tail entries instead of the whole
  log — Delta's ``_last_checkpoint`` design. Checkpoints are derived,
  redundant state: losing one only means a longer replay;
- ``overwrite`` removes prior live files LOGICALLY (log entry); bytes
  stay for older versions until ``vacuum`` deletes files no retained
  version references;
- ``rollback`` is a metadata-only commit whose live set equals the old
  version's — instant at any size;
- a writer may tag a commit with ``(txn_app_id, txn_version)``; a commit
  whose txn_version is ≤ the app's recorded watermark is SKIPPED. This
  is Delta's txnAppId/txnVersion idempotent-write contract: a replayed
  streaming micro-batch (crash between the table commit and the stream
  checkpoint epoch commit) must not double-merge;
- ``rename_column`` / ``drop_column`` are METADATA-ONLY commits (Delta's
  column-mapping "name" mode): the log speaks logical names, data files
  keep their sticky physical names, reads project one to the other per
  version — so a rename or drop is one log entry at any table size, and
  per-file stats/blooms (keyed physically) keep pruning across renames;
- every reader and writer shares four decisions, each written once:
  ``_snapshot`` resolves one version ONCE per operation — one listing
  of ``_log``, one checkpoint read, one tail replay (``_fold``, the
  only replay rules) — into a ``Snapshot`` that every later step reads
  files, watermarks, stats, deletion vectors, mixedness, schema and
  column mapping from, so no operation can mix two versions;
  ``_plan_files`` picks the snapshot's files a predicate can touch
  (per-file [min, max] ranges and Bloom filters from the log),
  ``_write_files`` lands one new ``data/commit-<id>`` directory and
  describes its files (a rewrite records again every skipping column
  the replaced files carried), and ``_publish_rewrite`` commits a
  rewrite (refusing when a racing writer removed a replaced file or
  moved its deletion vector). Reads, DELETE, UPDATE, MERGE, OPTIMIZE,
  commits and staged commits all call them, so the copies cannot
  drift.

At 100 TB the log stays KB-per-commit (file paths + stats), and
data-file granularity means an append touches only its own files —
never a table rewrite. On a real cluster the exclusive-create needs an
atomic-put store (HDFS, S3 conditional PUT, or a log service) — the
same requirement Delta abstracts as its LogStore, and this module does
too: every log touch goes through ``operators/logstore.py``
(exclusive-put / list / read / delete behind ``get_log_store()``), so
a cluster backend is a LogStore subclass, not a rewrite. Data-file IO
stays on Spark's Hadoop filesystem layer, exactly like Delta.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from .logstore import get_log_store

CHECKPOINT_INTERVAL = 10  # write a log checkpoint every N commits

_ENTRY_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.json$")


class CommitConflict(RuntimeError):
    """Another writer claimed this version first; retry on the latest."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _versions(names: list[str], pattern: re.Pattern) -> list[int]:
    return sorted(int(m.group(1)) for f in names if (m := pattern.match(f)))


def _commit_versions(path: str) -> list[int]:
    return _versions(get_log_store().list(_log_dir(path)), _ENTRY_RE)


def _read_entry(path: str, version: int) -> dict:
    return json.loads(get_log_store().read(
        os.path.join(_log_dir(path), f"{version:020d}.json")
    ))


def _entries(path: str, lo: int = 0, hi: int | None = None) -> list[dict]:
    """Commit entries with lo <= version <= hi, oldest first."""
    return [
        _read_entry(path, v)
        for v in _commit_versions(path)
        if v >= lo and (hi is None or v <= hi)
    ]


def latest_version(path: str) -> int | None:
    versions = _commit_versions(path)
    return versions[-1] if versions else None


def _checkpoint_versions(path: str) -> list[int]:
    return _versions(get_log_store().list(_log_dir(path)), _CKPT_RE)


def _read_checkpoint(path: str, version: int) -> dict:
    """Read one checkpoint, tolerating the non-atomic replace window of
    LogStore backends without atomic overwrite (the default ``replace``
    is delete + exclusive-create): a reader that listed the checkpoint
    just before an upgrader swapped it would otherwise crash on a file
    that exists again milliseconds later. Brief retry, then raise — a
    checkpoint that STAYS missing is real corruption and must be loud."""
    target = os.path.join(_log_dir(path), f"{version:020d}.checkpoint.json")
    store = get_log_store()
    for attempt in range(5):
        try:
            return json.loads(store.read(target))
        except (FileNotFoundError, KeyError):
            if attempt == 4:
                raise
            time.sleep(0.05 * (attempt + 1))


# ---------------------------------------------------------------------------
# The snapshot — one version of a table, resolved ONCE per operation from
# one listing of _log: the newest checkpoint at/before the version plus a
# replay of the log tail after it (Delta's Snapshot). Every reader and
# writer asks it for files, watermarks, stats, vectors and schema.
# ---------------------------------------------------------------------------


class Snapshot(NamedTuple):
    """One version of a versioned table, resolved once by
    :func:`_snapshot` and handed down: every decision an operation
    makes about that version reads these fields, so its files, vectors,
    stats, mixedness and column names cannot come from two versions.
    Read-only by contract."""

    path: str
    version: int | None   # None: no commit at/before the request
    oldest: int | None    # oldest version the log still resolves
    live: list[str]       # live data files, log-relative
    txns: dict            # writer app id -> highest txn version
    file_stats: dict      # live file -> {col: [min, max], col__bloom: ...}
    dv: dict              # live file -> sorted deleted row positions
    mixed_schema: bool    # live files may span >1 schema (mergeSchema)
    table_schema: dict | None  # union schema JSON (None: never logged)
    column_mapping: dict  # {"map": {logical: physical}, "retired": [...]}

    def schema(self, spark):
        """The table's UNION schema (Delta's table-level schema, not any
        one file's): the logged ``table_schema`` — commit() records the
        running union on every append/overwrite, rollback() the
        restored target's, checkpoints carry it past expire_log. A log
        that never recorded one (a pre-field code generation) falls
        back to the newest data file's footer."""
        from pyspark.sql.types import StructType

        if self.table_schema is not None:
            return StructType.fromJson(self.table_schema)
        return _schema_of_latest(
            spark, self.path, _entries(self.path, hi=self.version)
        )


#: the snapshot fields a checkpoint records. A checkpoint missing any of
#: them was written by an older code generation: resolution never folds
#: from it (it replays the entries below instead), and expire_log
#: rewrites it before deleting those entries
_CKPT_FIELDS = frozenset(Snapshot._fields) - {"path", "version", "oldest"}


def _fold(base: Snapshot, entries: list[dict]) -> Snapshot:
    """``base`` advanced through ``entries`` (the consecutive commits
    after it, oldest first) — THE replay rules, written once:

    - live files: an entry drops its ``removed`` and appends its ``added``;
    - txn watermarks: the highest version per app;
    - file stats: the newest recorded per file, kept for live files;
    - deletion vectors: a ``delete_dv`` entry unions its positions into
      the file's vector, a file leaving the live set drops its vector,
      and a restore adopts the TARGET version's vectors (the restored
      live set is the target's);
    - mixed schema: a full-rewrite OPTIMIZE (``unified_schema``), an
      overwrite or a restore makes the snapshot single-schema;
      ``schema_changed`` (an evolved append, or a restore whose target
      spans >1 schema) marks it mixed;
    - table schema and column mapping: the newest entry carrying them."""
    live = list(base.live)
    txns = dict(base.txns)
    stats = dict(base.file_stats)
    dv = {f: set(ps) for f, ps in base.dv.items()}
    mixed, schema, cm = (base.mixed_schema, base.table_schema,
                         base.column_mapping)
    version = base.version
    for e in entries:
        removed = set(e.get("removed", []))
        live = [f for f in live if f not in removed] + e.get("added", [])
        t = e.get("txn")
        if t:
            txns[t["app_id"]] = max(txns.get(t["app_id"], -1), t["version"])
        stats.update(e.get("file_stats", {}))
        if e.get("mode") == "restore" and e.get("restore_of") is not None:
            target = _snapshot(base.path, int(e["restore_of"]))
            dv = {f: set(ps) for f, ps in target.dv.items()}
        else:
            for f in removed:
                dv.pop(f, None)
            for f, ps in e.get("dv", {}).items():
                dv.setdefault(f, set()).update(ps)
        if (e.get("unified_schema")
                or e.get("mode") in ("overwrite", "restore")):
            # the snapshot was compacted to the union schema or replaced
            # wholesale: single-schema unless the entry itself says
            # otherwise (rollback stamps schema_changed when the RESTORED
            # live set spans >1 schema — without that, a restore of an
            # evolved snapshot after an overwrite read without
            # mergeSchema and dropped the evolved columns)
            mixed = False
        if e.get("schema_changed"):
            mixed = True
        if e.get("table_schema") is not None:
            schema = e["table_schema"]
        if e.get("column_mapping") is not None:
            cm = e["column_mapping"]
        version = e["version"]
    keep = set(live)
    return base._replace(
        version=version, live=live, txns=txns,
        file_stats={f: s for f, s in stats.items() if f in keep},
        dv={f: sorted(ps) for f, ps in dv.items() if f in keep and ps},
        mixed_schema=mixed, table_schema=schema, column_mapping=cm,
    )


def _advance(snap: Snapshot, e: dict) -> Snapshot:
    """The snapshot at entry ``e``'s version from ``snap``, the one just
    before it: folded when ``snap`` holds that version, resolved afresh
    when it cannot (the history before ``e`` is expired)."""
    v = e["version"]
    if v == 0 or snap.version == v - 1:
        return _fold(snap, [e])
    return _snapshot(snap.path, v)


def _resolve(path: str, names: list[str], version: int | None,
             read: dict[int, dict] | None = None) -> Snapshot:
    """:func:`_snapshot` over an existing listing ``names`` of ``_log``
    (the claim loop resolves the tip it just listed); ``read`` holds
    entries the caller already read, by version (never re-read)."""
    read = read or {}
    commits = _versions(names, _ENTRY_RE)
    ckpts = _versions(names, _CKPT_RE)
    snap = Snapshot(path, None, min(commits + ckpts, default=None), [], {},
                    {}, {}, False, None, {"map": {}, "retired": []})
    if not commits or (version is not None and version < 0):
        return snap
    at = commits[-1] if version is None else min(version, commits[-1])
    base = -1
    for cv in reversed([c for c in ckpts if c <= at]):
        ck = _read_checkpoint(path, cv)
        if _CKPT_FIELDS.issubset(ck):
            snap = snap._replace(version=cv,
                                 **{k: ck[k] for k in _CKPT_FIELDS})
            base = cv
            break
    return _fold(snap, [read[v] if v in read else _read_entry(path, v)
                        for v in commits if base < v <= at])


def _snapshot(path: str, version: int | None = None) -> Snapshot:
    """The table at ``version`` (None = latest; past the tip = the tip;
    negative = empty) from ONE listing of ``_log``: the newest
    checkpoint at/before it that carries every :data:`_CKPT_FIELDS`
    field, plus the entries after it, each read once — O(1) checkpoint
    + O(interval) entries, never the whole log. A result whose
    ``version`` is None holds no commit: the table does not exist, or
    the requested version is older than ``oldest`` (expired)."""
    return _resolve(path, get_log_store().list(_log_dir(path)), version)


def _apply_dvs(spark, df, files: list[str], dvs: dict[str, list[int]]):
    """Anti-join the deleted (file, row position) pairs out of a scan of
    ``files``. The DV side is driver-held and bounded by construction
    (``delete_rows_dv`` refuses above ``max_dv_rows``), so this is one
    broadcast anti-join keyed on (file_name, row_index) — part-file
    names are globally unique (uuid per write), which sidesteps URI-
    scheme mismatches between ``_metadata.file_path`` renderings."""
    from pyspark.sql import functions as F

    relevant = {f: ps for f, ps in dvs.items() if f in set(files)}
    if not relevant:
        return df
    pairs = [
        (os.path.basename(f), int(p)) for f, ps in relevant.items() for p in ps
    ]
    dv_df = local_frame(spark, pairs, "_dv_fn string, _dv_ri long")
    out = (
        df.withColumn("_dv_fn", F.col("_metadata.file_name"))
        .withColumn("_dv_ri", F.col("_metadata.row_index"))
        .join(F.broadcast(dv_df), ["_dv_fn", "_dv_ri"], "left_anti")
        .drop("_dv_fn", "_dv_ri")
    )
    return out


def _write_checkpoint(path: str, version: int, upgrade: bool = False,
                      snap: Snapshot | None = None) -> None:
    """Materialize the snapshot at ``version`` — its :data:`_CKPT_FIELDS`
    — as ``{version:020d}.checkpoint.json``. Best-effort: a racing
    checkpointer (or a crash here) costs nothing but replay length.
    ``snap`` is that snapshot when the caller already holds it (the
    claim loop folds the entry it just published), else it is resolved.

    ``upgrade=True`` (expire_log's path) additionally REPLACES a
    pre-existing checkpoint that lacks any current field: exclusive-
    create alone would keep a legacy (pre-table_schema) checkpoint
    as-is, resolution would never fold from it, and once expire_log
    deletes the entries below it nothing could resolve those fields —
    the silent-downgrade regression the table_schema field was added
    to fix would resurface on migrated tables. The replace is atomic on
    backends that support it (``LogStore.replace``: POSIX rename,
    in-memory swap); on the delete+create fallback a reader in the gap
    retries (``_read_checkpoint``), and it only ever runs while the
    full log below still exists, so even a crash in the gap resolves
    from entries."""
    # resolve BEFORE the exclusive-create: it lands an initially empty
    # checkpoint file that a resolution would pick up and fail to parse
    if snap is None:
        snap = _snapshot(path, version)
    target = os.path.join(_log_dir(path), f"{version:020d}.checkpoint.json")
    store = get_log_store()
    payload = json.dumps(
        {"version": version,
         **{k: getattr(snap, k) for k in sorted(_CKPT_FIELDS)},
         "timestamp": time.time()},
    )
    try:
        store.put_exclusive(target, payload)
    except FileExistsError:
        if not upgrade:
            return
        try:
            existing = json.loads(store.read(target))
        except Exception:
            existing = {}
        if _CKPT_FIELDS.issubset(existing):
            return  # current-generation checkpoint; keep it
        # atomic where the backend allows (POSIX rename / mutex swap);
        # on backends with only the delete+create fallback, readers
        # tolerate the gap via _read_checkpoint's retry
        store.replace(target, payload)


def latest_txn_version(path: str, app_id: str) -> int | None:
    """Highest txn_version this app has committed, or None — the
    idempotence watermark (Delta's txnAppId/txnVersion)."""
    v = _snapshot(path).txns.get(app_id)
    return int(v) if v is not None else None


# ---------------------------------------------------------------------------
# The one log-claim loop every writer goes through
# ---------------------------------------------------------------------------


def watermark_covered(snap: Snapshot, tw: dict | None) -> bool:
    """True when ``snap``'s recorded watermark for ``tw["app_id"]``
    already covers ``tw["version"]`` — THE coverage predicate, shared
    by the publish gates (``commit``/``wap.publish_staged``), the stage
    fast-path, and the txn coordinator's classifiers so they can never
    diverge (a classifier stricter or looser than the gate mislabels a
    batch as lost or as applied)."""
    if tw is None:
        return False
    seen = snap.txns.get(tw["app_id"])
    return seen is not None and tw["version"] <= seen


def _publish(
    path: str,
    build_entry: Callable[[int, Snapshot], dict | None],
    planned: Snapshot | None = None,
    max_retries: int = 5,
) -> dict | None:
    """Claim the next version with exclusive-create, retrying on races.

    Every attempt lists ``_log`` once and calls ``build_entry(version,
    prev)`` with the snapshot it publishes on top of: ``planned`` (the
    snapshot the caller planned against) while the tip has not moved,
    else ``prev`` resolved from that same listing. So added/removed/txn
    decisions are recomputed against the fresh tip after a lost race
    (the bug the round-3 advice flagged in rollback/OPTIMIZE: a bare
    ``open(..., 'x')`` with stale state raises — or worse, publishes —
    instead of recomputing). ``build_entry`` may return None to abort
    cleanly (idempotent skip). After a successful claim, every
    ``CHECKPOINT_INTERVAL``-th commit also writes a log checkpoint.
    """
    store = get_log_store()
    store.ensure_dir(_log_dir(path))
    for _ in range(max_retries):
        names = store.list(_log_dir(path))
        tip = max(_versions(names, _ENTRY_RE), default=None)
        prev = (planned if planned is not None and planned.version == tip
                else _resolve(path, names, tip))
        version = 0 if tip is None else tip + 1
        entry = build_entry(version, prev)
        if entry is None:
            return None
        target = os.path.join(_log_dir(path), f"{version:020d}.json")
        try:
            # exclusive create = the lock (LogStore contract: atomic
            # create-if-absent, FileExistsError on conflict)
            store.put_exclusive(target, json.dumps(entry))
        except FileExistsError:
            continue  # lost the race; recompute against the new log tip
        if (version + 1) % CHECKPOINT_INTERVAL == 0:
            _write_checkpoint(path, version, snap=_fold(prev, [entry]))
        return entry
    raise CommitConflict(f"lost {max_retries} version races on {path}")


def _stat_probe(v, dtype=None):
    """Render a RANGE-probe bound exactly as :func:`_describe_files`
    rendered the stored min/max (numbers/bools native, everything else
    its ``str``) so overlap compares never cross Python types — a
    datetime bound against a string-rendered stat raised TypeError
    before this existed. Temporal cross-type probes normalize to the
    COLUMN's grain first: a ``date`` probing a TIMESTAMP column promotes
    to midnight (the instant Spark's implicit cast gives the residual
    row filter), and a ``datetime`` probing a DATE column demotes to its
    date — exact for an upper bound (dates ≤ any instant of day D are
    dates ≤ D) and conservative for a lower bound (reads at most one
    extra date's files; the residual filter keeps results exact).
    Without the demotion the longer timestamp rendering lexically
    exceeds the stored date string and boundary files are SILENTLY
    pruned."""
    import datetime as _dt

    from pyspark.sql.types import DateType, TimestampType

    if (
        dtype is not None and isinstance(dtype, TimestampType)
        and isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
    ):
        v = _dt.datetime.combine(v, _dt.time.min)
    elif (
        dtype is not None and isinstance(dtype, DateType)
        and isinstance(v, _dt.datetime)
    ):
        v = v.date()
    return v if isinstance(v, (int, float, bool)) or v is None else str(v)


BLOOM_BITS = 4096   # 512 B/file/col in the log — KB-scale at any layout
BLOOM_HASHES = 4    # k=4 at m/n >= 8 keeps FP rate ~2.4%
_ISIN_BLOOM_MAX = 128  # a point column with more values than this skips
# the bloom probe in _plan_files — pruned reads and keyed DML alike: a
# 4096-bit bloom almost surely admits SOME of thousands of keys, so the
# probe's skipping yield vanishes as its cost grows; range admission +
# the residual row predicate keep results exact


def _bloom_hash(col, seed: int):
    """The one hash both sides share: xxhash64 over the STRING rendering
    (type-insensitive — a read probing id=5 must hash identically whether
    the column is int or long)."""
    from pyspark.sql import functions as F

    return F.xxhash64(F.lit(seed), col.cast("string"))


def _probe_lit(v, dtype=None):
    """Probe-side literal rendered EXACTLY as the build side rendered
    the column: :func:`_describe_files` hashes
    ``col.cast("string")`` — SPARK's rendering of the COLUMN's type —
    so the probe must cast the literal to the column's table-schema
    type before the shared string cast. Python's ``str(v)`` is not
    that rendering (``True`` vs ``true``; int ``5`` probing a double
    column vs ``5.0``), and the mismatch makes the bloom answer
    "definitely absent" for values that ARE present: silently missing
    rows on ``eq=`` point reads and silently skipped keyed deletes/
    updates. With no known dtype the native-typed ``F.lit(v)`` still
    beats ``str(v)`` (a bool literal renders ``true``)."""
    from pyspark.sql import functions as F

    lit = F.lit(v)
    return lit.cast(dtype) if dtype is not None else lit


def _column_dtypes(spark, snap: Snapshot) -> dict:
    """{column: DataType} of ``snap``'s table schema — what the bloom
    probe sites need to render literals build-identically."""
    try:
        return {f.name: f.dataType for f in snap.schema(spark).fields}
    except Exception:
        return {}  # schema unresolvable: fall back to native-lit probes


def _describe_files(
    spark: SparkSession,
    data_path: str,
    schema,
    stats_cols: tuple[str, ...],
    bloom_cols: tuple[str, ...],
) -> dict[str, dict]:
    """{log-relative file: stats} over a just-written commit directory,
    from ONE aggregation over only the NEW files, grouped by
    input_file_name and read with the written frame's ``schema`` (so no
    schema-inference job runs first):

    - per-file [min, max] for ``stats_cols`` — the metadata every
      lakehouse format keeps per data file. Values are JSON-rendered
      (numbers stay numbers; everything else becomes its ISO string,
      which compares consistently);
    - per-file Bloom bitsets for ``bloom_cols`` — the point-lookup
      complement of the ranges (an equality probe on a high-NDV key
      where every file's range overlaps everything). collect_set of ≤
      ``BLOOM_BITS`` ints per file per hash — KB-scale. Encoded
      ``"{bits}:{k}:" + base64(bitset)`` under the reserved stats key
      ``"<col>__bloom"`` so it rides the file_stats plumbing (log entry
      → checkpoint → snapshot) untouched."""
    import base64

    from pyspark.sql import functions as F

    bits, k = BLOOM_BITS, BLOOM_HASHES
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    aggs += [
        F.collect_set(
            F.pmod(_bloom_hash(F.col(c), i), F.lit(bits))
        ).alias(f"{c}__{i}")
        for c in bloom_cols
        for i in range(k)
    ]
    rows = (
        spark.read.schema(schema).parquet(data_path)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )

    def render(v):
        return v if isinstance(v, (int, float, bool)) or v is None else str(v)

    commit_dir = os.path.basename(data_path)
    out: dict[str, dict] = {}
    for r in rows:
        desc = {
            c: [render(r[f"{c}__min"]), render(r[f"{c}__max"])]
            for c in stats_cols
        }
        for c in bloom_cols:
            bitset = bytearray((bits + 7) // 8)
            for i in range(k):
                for pos in r[f"{c}__{i}"] or []:
                    bitset[pos // 8] |= 1 << (pos % 8)
            desc[f"{c}__bloom"] = (
                f"{bits}:{k}:" + base64.b64encode(bytes(bitset)).decode()
            )
        rel = os.path.join(
            "data", commit_dir, os.path.basename(r["_f"].split("?")[0]))
        out[rel] = desc
    return out


def _carried_cols(carry) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """``(range_cols, bloom_cols)`` recorded on any of the per-file
    stats dicts in ``carry`` — what :func:`_write_files` records again
    on a rewrite's output, so range and point skipping survive MERGE,
    DELETE, UPDATE and OPTIMIZE (a rewritten file without them is still
    CORRECT, just conservatively read)."""
    keys = {k for s in carry for k in s}
    return (
        tuple(sorted(k for k in keys if not k.endswith("__bloom"))),
        tuple(sorted(
            k.removesuffix("__bloom") for k in keys if k.endswith("__bloom")
        )),
    )


def _bloom_may_contain(encoded: str, raw_hashes: list[int]) -> bool:
    """Probe an encoded bitset with the k raw xxhash64 values (positions
    derive per file from its own recorded bits)."""
    import base64

    bits_s, k_s, b64 = encoded.split(":", 2)
    bits, k = int(bits_s), int(k_s)
    bitset = base64.b64decode(b64)
    for raw in raw_hashes[:k]:
        pos = raw % bits
        if not (bitset[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


def _write_stats_partials(
    spark: SparkSession,
    path: str,
    data_path: str,
    analyze_cols: tuple[str, ...] | None,
) -> str:
    """Record PER-FILE mergeable stats partials for a just-written commit
    directory under ``_stats/<commit_dir>/`` — the write-side half of
    :func:`analyze_table`. One columnar scan over only the NEW files
    (operators/stats.py:collect_mergeable_stats_per_file); ``file`` is
    normalized to the log-relative path so snapshot resolution can filter
    partials by the live set. ``analyze_cols=None`` means all columns."""
    from pyspark.sql import functions as F

    from .stats import collect_mergeable_stats_per_file

    commit_dir = os.path.basename(data_path)
    partials = collect_mergeable_stats_per_file(
        spark.read.parquet(data_path),
        tuple(analyze_cols) if analyze_cols else None,
    ).withColumn(
        "file",
        F.concat(
            F.lit(f"data/{commit_dir}/"),
            F.substring_index(
                F.substring_index(F.col("file"), "?", 1), "/", -1
            ),
        ),
    )
    rel = os.path.join("_stats", commit_dir)
    partials.write.mode("error").parquet(os.path.join(path, rel))
    return rel


def analyze_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    finalize: bool = True,
) -> tuple[DataFrame, dict]:
    """Snapshot ANALYZE with NO data rescan: merge the per-file stats
    partials of exactly the files LIVE at ``version`` (counts add, HLL
    sketches union, extrema take typed min/max — operators/stats.py
    merge contract). Works for any retained snapshot — time-traveled
    table stats — and stays correct under overwrite/MERGE/OPTIMIZE
    because dead files' partials are filtered out, not un-merged.

    Returns ``(stats_df, report)``: the classic ANALYZE vector (or raw
    mergeable partials when ``finalize=False``) plus a coverage report —
    files committed without ``analyze_stats`` have no partials and are
    surfaced as ``files_missing`` rather than silently treated as empty.

    At 100 TB: reads KBs of partials (one row per file per column), the
    data files themselves are never opened."""
    from .stats import finalize_stats, merge_stats_partials

    snap = _snapshot(path, version)
    live = snap.live
    stats_root = os.path.join(path, "_stats")
    report = {"files_total": len(live), "files_covered": 0,
              "files_missing": len(live)}
    if not os.path.isdir(stats_root) or not live:
        raise ValueError(
            f"no stats partials recorded at {path} (commit with "
            "analyze_stats=True first)"
        )
    partials = (
        spark.read.option("recursiveFileLookup", "true").parquet(stats_root)
    )
    from pyspark.sql import functions as F

    # live-set filter as a broadcast join, not an isin literal list — a
    # large table's snapshot can hold 10^5-10^6 files and a million-term
    # IN list does not belong in a plan
    live_df = local_frame(spark, [(f,) for f in live], "file string")
    alive = partials.join(F.broadcast(live_df), "file")
    covered = {r["file"] for r in alive.select("file").distinct().collect()}
    report["files_covered"] = len(covered)
    report["files_missing"] = len(set(live) - covered)
    merged = merge_stats_partials(alive.drop("file"))
    out = finalize_stats(merged) if finalize else merged
    # partials are keyed by PHYSICAL column names (they were collected
    # over the written files); surface the version's LOGICAL names so a
    # post-rename ANALYZE reads like the table the user queries
    cm = snap.column_mapping
    if not _cm_is_identity(cm) and "column" in out.columns:
        rev = local_frame(
            spark, [(p, l) for l, p in cm.get("map", {}).items()],
            "column string, _logical string",
        )
        out = (
            out.join(F.broadcast(rev), "column", "left")
            .withColumn("column", F.coalesce("_logical", "column"))
            .drop("_logical")
        )
    return out, report


def _check_append_drift(path, current, batch_schema, allow, what="append"):
    """The table's one schema-enforcement rule, shared by live commits
    (:func:`commit`) and staged ones (``wap.stage_commit`` at stage
    time AND ``wap.publish_staged`` against the fresh tip) — three call
    sites, ONE rule, so a new drift refinement cannot silently let a
    staged batch publish what a direct commit would refuse. Returns
    ``(union_schema, schema_changed)``; raises ``SchemaDriftError`` on
    a type change or non-additive drift without the evolution flag."""
    from .evolution import SchemaDriftError, diff_schemas

    cur_types = {f.name: f.dataType.simpleString() for f in current.fields}
    new_types = {f.name: f.dataType.simpleString()
                 for f in batch_schema.fields}
    table_schema = _union_schema(current, batch_schema)
    if cur_types == new_types:
        return table_schema, False
    changed = [
        n for n in cur_types
        if n in new_types and cur_types[n] != new_types[n]
    ]
    if changed or not allow:
        drift = diff_schemas(batch_schema, current)
        raise SchemaDriftError(
            f"{what} schema drifts from table {path}: {drift}"
            + ("" if changed else
               " (pass allow_schema_evolution=True for additive drift)")
        )
    return table_schema, True


def _derive_cm(prior_cm: dict, mode: str, field_names) -> tuple[dict, bool]:
    """Column-mapping derivation for a write, shared with the WAP
    staging path (same single-rule rationale as
    :func:`_check_append_drift`): an overwrite resets the mapping (its
    snapshot is single-generation, logical == physical again); an
    append keeps it, and a NEW column colliding with a renamed column's
    physical or a retired physical gets a fresh ``col-<uuid>`` physical
    name — rebinding old bytes to a new logical identity is the
    corruption column mapping exists to prevent. Returns
    ``(cm, cm_changed)``."""
    if mode == "overwrite":
        return {"map": {}, "retired": []}, not _cm_is_identity(prior_cm)
    cm = {"map": dict(prior_cm.get("map", {})),
          "retired": list(prior_cm.get("retired", []))}
    cm_changed = False
    if not _cm_is_identity(cm):
        taken = set(cm["map"].values()) | set(cm["retired"])
        mapped = set(cm["map"])
        for name in field_names:
            if name not in mapped and name in taken:
                cm["map"][name] = f"col-{uuid.uuid4().hex[:8]}"
                cm_changed = True
    return cm, cm_changed


# ---------------------------------------------------------------------------
# The decisions every write shares, each written once: which of a
# snapshot's files a predicate can touch (_plan_files), how new files are
# written and described (_write_files), and how a rewrite replaces files
# (_publish_rewrite) — plus the row predicate a plan stands for
# (_row_cond) and the snapshot-file reader every scan goes through
# (_scan).
# ---------------------------------------------------------------------------


def _scan(spark, snap: Snapshot, files: list[str],
          dvs: dict[str, list[int]] | None = None) -> DataFrame:
    """Read ``files`` of ``snap``: with mergeSchema when that snapshot
    may span >1 schema (without it the scan takes ONE file's schema and
    silently drops the other files' columns; the footer-union cost is
    paid only by tables that evolved, the flag rides the log +
    checkpoints), then the deletion vectors ``dvs``
    anti-joined out. Rewrite scans pass no vectors: they refuse
    vector-carrying files, and their hidden ``_metadata`` columns must
    stay reachable."""
    reader = spark.read
    if snap.mixed_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*[os.path.join(snap.path, f) for f in files])
    return _apply_dvs(spark, df, files, dvs) if dvs else df


def _row_cond(ranges: dict[str, tuple], points: dict[str, list],
              where: str | None = None):
    """The row predicate a file plan stands for: every ``ranges``
    {col: (lo, hi)} bound (None = open), every ``points`` {col: [v,
    ...]} membership and the raw SQL ``where``, AND-ed. A NULL in a
    named column makes it NULL, which ``filter`` drops; a negation must
    go through ``coalesce(cond, false)``."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            cond = cond & (F.col(c) >= lo)
        if hi is not None:
            cond = cond & (F.col(c) <= hi)
    for c, vs in points.items():
        cond = cond & F.col(c).isin(*vs)
    if where is not None:
        cond = cond & F.expr(where)
    return cond


def _overlaps(rng, lo, hi) -> bool:
    """False only when a recorded file range ``rng`` = [min, max]
    provably misses [``lo``, ``hi``] (None = open bound) — THE
    range-skipping rule of :func:`_plan_files` and the
    ``medallion_lake`` batch reader. No recorded range, or bounds that
    do not compare with it (a cross-type probe), keep the file."""
    if not rng or rng[0] is None:
        return True
    fmin, fmax = rng
    try:
        return not ((hi is not None and fmin > hi)
                    or (lo is not None and fmax < lo))
    except TypeError:
        return True


def _plan_files(spark, snap: Snapshot, ranges: dict[str, tuple],
                points: dict[str, list]) -> list[str]:
    """THE file-skipping decision behind every pruned read and every
    DML: which of ``snap``'s live files can hold a row with each
    ``ranges`` {physical col: (lo, hi)} bound AND each ``points``
    {physical col: [v, ...]} membership. A file is skipped only on
    recorded evidence — a [min, max] range that misses a bound
    (:func:`_overlaps`), or a point column none of whose values both
    overlaps the range and (when a bloom is recorded) may be in the
    bloom. Files without stats for a column are kept; the caller's
    residual row predicate keeps results exact (Delta's data-skipping
    and bloom-index contract).

    Bounds compare in the stats' rendered form (:func:`_stat_probe`,
    typed by the table schema). The bloom probe hashes every point
    value in ONE tiny job — one row per value, ``BLOOM_HASHES``
    columns, over the posexploded literals, each cast to its column's
    type so it renders as the build side rendered it (:func:`_probe_lit`).
    A column with more than ``_ISIN_BLOOM_MAX`` values is not probed."""
    from pyspark.sql import functions as F

    cm, stats = snap.column_mapping, snap.file_stats
    dtypes = {
        _cm_phys(cm, c): t for c, t in _column_dtypes(spark, snap).items()
    }
    bounds = {
        c: (_stat_probe(lo, dtypes.get(c)), _stat_probe(hi, dtypes.get(c)))
        for c, (lo, hi) in ranges.items()
    }
    spoints = {
        c: [_stat_probe(v, dtypes.get(c)) for v in vs]
        for c, vs in points.items()
    }
    probed = [
        (c, j, v)
        for c, vs in points.items() if len(vs) <= _ISIN_BLOOM_MAX
        for j, v in enumerate(vs)
    ]
    hashes: dict[tuple[str, int], list[int]] = {}
    if probed:
        lits = [_probe_lit(v, dtypes.get(c)).cast("string")
                for c, _, v in probed]
        for r in spark.range(1).select(F.posexplode(F.array(*lits))).select(
            "pos",
            *[_bloom_hash(F.col("col"), i).alias(f"h{i}")
              for i in range(BLOOM_HASHES)],
        ).collect():
            c, j, _ = probed[r["pos"]]
            hashes[(c, j)] = [r[f"h{i}"] for i in range(BLOOM_HASHES)]

    def admits(fstats: dict, c: str) -> bool:
        rng, encoded = fstats.get(c), fstats.get(f"{c}__bloom")
        return any(
            _overlaps(rng, sv, sv)
            and (encoded is None or (c, j) not in hashes
                 or _bloom_may_contain(encoded, hashes[(c, j)]))
            for j, sv in enumerate(spoints[c])
        )

    return [
        f for f in snap.live
        if all(_overlaps(stats.get(f, {}).get(c), lo, hi)
               for c, (lo, hi) in bounds.items())
        and all(admits(stats.get(f, {}), c) for c in spoints)
    ]


class _Written(NamedTuple):
    path: str
    data_path: str
    added: list[str]
    file_stats: dict
    stats_rel: str | None

    def drop(self) -> None:
        """Remove the files of a write no log entry will name."""
        shutil.rmtree(self.data_path, ignore_errors=True)
        if self.stats_rel:
            shutil.rmtree(os.path.join(self.path, self.stats_rel),
                          ignore_errors=True)


def _write_files(
    df: DataFrame,
    path: str,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    analyze_stats: bool | tuple[str, ...] = False,
    carry=(),
    prefix: str = "",
    max_records: int | None = None,
) -> _Written:
    """THE data-file writer behind every commit, staged commit and
    rewrite: ``df`` (physical names) lands as ONE new
    ``data/commit-<id>`` directory, invisible until a log entry names
    its files, and the new files are described for skipping — [min,
    max] for ``stats_cols`` and blooms for ``bloom_cols`` (one small
    job over only the new files) and, with ``analyze_stats``
    (True = all columns, or a tuple), mergeable stats partials under
    ``_stats/``. Column names are physical.

    ``carry`` is the per-file stats of the files a rewrite replaces:
    every range and bloom column they recorded is recorded again on
    the output, so no rewrite costs a table its skipping. A failure
    after the data write drops the directory."""
    spark = df.sparkSession
    have = set(df.columns)
    carried_ranges, carried_blooms = _carried_cols(carry)
    stats_cols = tuple(dict.fromkeys(
        [*stats_cols, *(c for c in carried_ranges if c in have)]))
    bloom_cols = tuple(dict.fromkeys(
        [*bloom_cols, *(c for c in carried_blooms if c in have)]))
    commit_dir = f"commit-{prefix}{uuid.uuid4().hex[:12]}"
    data_path = os.path.join(path, "data", commit_dir)
    writer = df.write.mode("error")
    if max_records:
        writer = writer.option("maxRecordsPerFile", max_records)
    writer.parquet(data_path)
    added = sorted(
        os.path.join("data", commit_dir, f)
        for f in os.listdir(data_path)
        if f.endswith(".parquet")
    )
    file_stats: dict[str, dict] = {}
    stats_rel = None
    try:
        if (stats_cols or bloom_cols) and added:
            file_stats = _describe_files(
                spark, data_path, df.schema, stats_cols, bloom_cols)
        if analyze_stats and added:
            stats_rel = _write_stats_partials(
                spark, path, data_path,
                None if analyze_stats is True else tuple(analyze_stats),
            )
    except Exception:
        _Written(path, data_path, added, {},
                 os.path.join("_stats", commit_dir)).drop()
        raise
    return _Written(path, data_path, added, file_stats, stats_rel)


_REWRITE_OPS = {"optimize": "OPTIMIZE", "delete": "DELETE",
                "update": "UPDATE", "merge": "MERGE",
                "delete_dv": "DV DELETE"}


def _publish_rewrite(
    planned: Snapshot,
    mode: str,
    operation: str,
    written: _Written | None,
    replaced,
    txn: dict | None = None,
    fields: dict | None = None,
) -> dict | None:
    """THE commit of a rewrite planned on ``planned``: publish
    ``written``'s files in place of the ``replaced`` ones through the
    shared claim loop. On every attempt, against the fresh tip:

    - skip (None) when the ``txn`` watermark already covers this write;
    - CommitConflict when a racing writer REMOVED a replaced file —
      publishing would resurrect rows it deleted (Delta's
      ConcurrentDeleteRead rule); a racing append only costs a retry,
      its files stay live beside ours;
    - CommitConflict when a replaced file's deletion vector moved from
      the planned one (:func:`_refuse_dv_drift`);
    - a FULL-rewrite OPTIMIZE (every live file replaced) stamps
      ``unified_schema``: the snapshot is single-schema again.

    ``written=None`` is the merge-on-read delete: no file moves, the
    ``replaced`` files only have to stay live and the vectors ride
    ``fields``. A skipped or refused rewrite drops its unpublished
    files."""
    path = planned.path
    op = _REWRITE_OPS[mode]
    noun = {"optimize": "compacted ", "delete_dv": ""}.get(mode, "rewritten ")
    replaced = set(replaced)

    def build(version: int, prev: Snapshot) -> dict | None:
        if watermark_covered(prev, txn):
            return None
        missing = replaced - set(prev.live)
        if missing:
            raise CommitConflict(
                f"{op} on {path} raced a writer that removed "
                f"{len(missing)} {noun}file(s); re-run on the new snapshot"
            )
        if written is not None:
            _refuse_dv_drift(prev, replaced, planned.dv, op)
        entry = {
            "version": version,
            "timestamp": time.time(),
            "mode": mode,
            "added": written.added if written else [],
            "removed": sorted(replaced) if written else [],
            "operation": operation,
            **(fields or {}),
        }
        if mode == "optimize" and set(prev.live) == replaced:
            entry["unified_schema"] = True
        if txn:
            entry["txn"] = txn
        if written and written.file_stats:
            entry["file_stats"] = written.file_stats
        if written and written.stats_rel:
            entry["stats_partials"] = written.stats_rel
        return entry

    try:
        entry = _publish(path, build, planned=planned)
    except CommitConflict:
        if written:
            written.drop()
        raise
    if entry is None and written:
        written.drop()
    return entry


def _refuse_dv_drift(
    prev: Snapshot,
    files,
    planned: dict[str, list[int]],
    op: str,
) -> None:
    """Publish-time re-check of the planning-time deletion-vector
    snapshot for the files a rewrite replaces. A concurrent
    ``delete_rows_dv`` landing a vector on one of them between plan and
    publish would otherwise be SILENTLY undone: the rewrite's output was
    computed without (or with a stale view of) that vector, and the
    vector dies with the file the commit removes — deleted rows
    resurrect. Delta's ConcurrentDeleteRead rule: refuse, make the
    caller re-plan on the new snapshot. ``prev`` is the snapshot the
    claim loop is publishing on top of."""
    for f in files:
        if sorted(prev.dv.get(f, [])) != sorted(planned.get(f, [])):
            raise CommitConflict(
                f"{op} on {prev.path}: deletion vector changed on rewritten "
                f"file {f} between plan and publish; re-run on the new "
                "snapshot"
            )


def _refuse_dv_files(snap: Snapshot, files, op: str) -> None:
    """Rewrite-path guard: a file with a live deletion vector must be
    materialized (optimize_table) before a rewrite touches it —
    otherwise the rewrite copies rows the vector had deleted back to
    life. Bounded scope over silent resurrection."""
    hit = sorted(set(files) & set(snap.dv))
    if hit:
        raise ValueError(
            f"{op} on {snap.path}: {len(hit)} matched file(s) carry deletion "
            "vectors; run optimize_table(files=...) to materialize them "
            f"first (e.g. {hit[:2]}...)"
        )


def _txn_mark(app_id: str | None, version: int | None) -> dict | None:
    """The idempotent-writer watermark a write carries, or None."""
    if app_id is None or version is None:
        return None
    return {"app_id": app_id, "version": version}


def _cm_phys_cols(cm: dict, cols):
    """Logical column names → physical; a bool (``analyze_stats``' all
    or nothing) passes through."""
    if isinstance(cols, bool):
        return cols
    return tuple(_cm_phys(cm, c) for c in cols)


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_retries: int = 5,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    stats_cols: tuple[str, ...] = (),
    analyze_stats: bool | tuple[str, ...] = False,
    allow_schema_evolution: bool = False,
    bloom_cols: tuple[str, ...] = (),
) -> dict | None:
    """Write ``df`` as one atomic commit; returns the log entry.

    Data lands first (invisible), the log entry publishes it. On a
    version race the loser re-reads the log and retries against the
    next number — its already-written data files are reused, so a retry
    costs one metadata round, not a rewrite.

    With ``txn_app_id``/``txn_version`` the commit is IDEMPOTENT per
    app: if the app's recorded watermark already covers txn_version the
    write is skipped and None returned (replayed micro-batches must not
    double-apply). The check runs before the data write AND inside the
    claim loop, so a concurrent duplicate loses there too.

    ``stats_cols`` records per-file [min, max] ranges in the log entry
    (one small aggregation over only the new files) — the file-skipping
    metadata :func:`merge_into` prunes with.

    ``analyze_stats`` additionally records per-file MERGEABLE stats
    partials (``True`` = all columns, or a column tuple) under
    ``_stats/`` so :func:`analyze_table` can compute any snapshot's
    ANALYZE vector without rescanning data — stats-at-write, the
    Delta/Iceberg model extended with HLL NDV sketches.

    SCHEMA ENFORCEMENT (Delta's contract): an APPEND whose schema
    drifts from the table's refuses loudly instead of landing files a
    later read silently mis-merges (plain ``spark.read.parquet`` over
    mixed schemas picks one file's schema and DROPS the others'
    columns). ``allow_schema_evolution=True`` permits ADDITIVE drift —
    new columns, or columns the batch omits (read as null) — and marks
    the entry so snapshot reads switch to ``mergeSchema``; a TYPE
    change for an existing column is always refused (that is a rewrite,
    not an evolution). Overwrites may change schema freely: the
    snapshot they create is single-schema by construction.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")

    snap = _snapshot(path)
    schema_changed = False
    table_schema = df.schema
    if mode == "append" and snap.version is not None:
        # diff against the table's UNION schema from the log, not the
        # last commit's first data file: after an evolved append that
        # OMITS column c, a later append re-introducing c with a
        # different type must still be refused as a type change (vs the
        # file footer c would look like a brand-new column and slip
        # through, breaking every subsequent mergeSchema read)
        table_schema, schema_changed = _check_append_drift(
            path, snap.schema(df.sparkSession), df.schema,
            allow_schema_evolution,
        )
    tw = _txn_mark(txn_app_id, txn_version)
    if watermark_covered(snap, tw):  # skip before paying the data write
        return None

    _enforce_constraints(df, path)

    # column mapping: users and this API speak LOGICAL names; data files
    # carry PHYSICAL names (see _derive_cm for the overwrite reset and
    # the fresh-physical-name collision rule)
    cm, cm_changed = _derive_cm(
        snap.column_mapping, mode, [f.name for f in df.schema.fields]
    )
    written = _write_files(
        _to_physical_names(df, cm), path,
        stats_cols=_cm_phys_cols(cm, stats_cols),
        bloom_cols=_cm_phys_cols(cm, bloom_cols),
        analyze_stats=_cm_phys_cols(cm, analyze_stats),
    )

    def build(version: int, prev: Snapshot) -> dict | None:
        if watermark_covered(prev, tw):
            return None
        entry = {
            "version": version,
            "timestamp": time.time(),
            "mode": mode,
            "added": written.added,
            "removed": prev.live if mode == "overwrite" else [],
            "operation": "WRITE",
            # running union schema (overwrite resets it to the batch's):
            # the reference point append enforcement diffs against
            "table_schema": table_schema.jsonValue(),
        }
        if tw:
            entry["txn"] = tw
        if written.file_stats:
            entry["file_stats"] = written.file_stats
        if written.stats_rel:
            entry["stats_partials"] = written.stats_rel
        if schema_changed:
            entry["schema_changed"] = True
        if cm_changed:
            entry["column_mapping"] = cm
        return entry

    entry = _publish(path, build, planned=snap, max_retries=max_retries)
    if entry is None:
        # a concurrent duplicate published first: our data files were
        # never referenced by any log entry — remove the orphans
        written.drop()
    return entry


def version_at_timestamp(path: str, cutoff: float) -> int:
    """THE timestamp-travel rule (newest commit at/before ``cutoff``,
    epoch seconds) — shared by ``read_table(as_of_timestamp=...)`` and
    the ``medallion_lake`` data source's ``timestampAsOf`` option so
    the two surfaces can never resolve the same instant differently."""
    return _at_timestamp(path, cutoff)[0]


def _at_timestamp(
    path: str, cutoff: float
) -> tuple[int, list[str], dict[int, dict]]:
    """:func:`version_at_timestamp`'s version plus the ONE ``_log``
    listing and the entries (by version) it read to find it — what
    ``read_table`` hands :func:`_resolve` so timestamp travel lists
    once and reads no entry twice."""
    names = get_log_store().list(_log_dir(path))
    read = {v: _read_entry(path, v) for v in _versions(names, _ENTRY_RE)}
    eligible = [v for v, e in read.items() if e["timestamp"] <= cutoff]
    if not eligible:
        raise ValueError(f"no commit at or before ts={cutoff} on {path}")
    return max(eligible), names, read


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_timestamp: float | None = None,
) -> DataFrame:
    """Snapshot read: latest, a pinned ``version``, or the newest commit
    at/before ``as_of_timestamp`` (time travel). Latest/pinned reads
    resolve one snapshot (newest log checkpoint + tail); only timestamp
    travel reads every entry, and resolves from those same reads."""
    if as_of_timestamp is not None:
        version, names, read = _at_timestamp(path, as_of_timestamp)
        snap = _resolve(path, names, version, read)
    else:
        snap = _snapshot(path, version)
    if snap.oldest is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    if version is not None and version < snap.oldest:
        raise ValueError(
            f"version {version} expired (history starts at {snap.oldest}; "
            "see expire_log retention)"
        )
    if not snap.live:
        # a valid-but-empty snapshot (e.g. overwrite with 0 rows)
        return local_frame(spark, [], snap.schema(spark))
    df = _scan(spark, snap, snap.live, snap.dv)
    # physical -> logical names (identity mapping returns df untouched)
    return _apply_column_mapping(spark, df, snap)


def read_table_pruned(
    spark: SparkSession,
    path: str,
    col: str | None = None,
    lo=None,
    hi=None,
    version: int | None = None,
    predicates: dict[str, tuple] | None = None,
    eq: dict[str, object] | None = None,
    isin: dict[str, list] | None = None,
) -> tuple[DataFrame, dict]:
    """Snapshot read with FILE SKIPPING: live files whose recorded
    [min, max] range excludes the requested range(s) are never opened —
    the read-side payoff of the same per-file stats :func:`merge_into`
    prunes with (Delta/Iceberg data skipping, resolved from the log
    instead of parquet footers, so skipped files cost zero I/O including
    their footers). The residual predicate is still applied to the
    survivors (stats pruning is necessary, not sufficient). Files
    without recorded stats for a column are conservatively read.

    Ranges: either the single-column form (``col``, ``lo``, ``hi``) or
    ``predicates={col: (lo, hi), ...}`` — multiple columns prune
    CONJUNCTIVELY (a file survives only if every range overlaps), which
    is where z-ordered layouts pay off: OPTIMIZE ZORDER BY (a, b) gives
    every file a compact box in BOTH columns, so two-sided skipping
    multiplies instead of degenerating to the primary sort column.

    ``eq={col: value, ...}`` adds POINT-LOOKUP skipping via the
    per-file Bloom filters ``commit(bloom_cols=...)`` records — the
    case ranges cannot help (a high-NDV key whose [min, max] spans
    every file, e.g. unsorted ids: every range overlaps, the bloom
    says "definitely absent" for ~97% of files at the default
    4096-bit/4-hash layout). Both prunings compose; files without a
    recorded bloom are conservatively read, false positives only cost
    an extra file read (the residual equality filter keeps results
    exact — Delta's bloom-index contract).

    ``isin={col: [v1, v2, ...], ...}`` is the SET form of ``eq``: a
    file is read iff SOME value admits (per-value range overlap AND
    bloom maybe-contains — :func:`_plan_files`, the one planner the DML
    paths use too). One call replaces K separate point-reads: the bloom
    probe hashes for every value compute in ONE tiny job, the survivor
    files are opened ONCE (a file admitting several values is read
    once, where K point-reads re-read it K times), and the residual is
    a single pushed-down IN. ``eq`` and ``isin`` may not name the same
    column.

    Returns ``(df, report)`` where report carries files_read /
    files_skipped so callers and tests can audit the pruning.
    """
    snap = _snapshot(path, version)
    if snap.oldest is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    preds = dict(predicates or {})
    if col is not None:
        preds[col] = (lo, hi)
    eq = dict(eq or {})
    isin = {c: list(vs) for c, vs in (isin or {}).items()}
    if set(eq) & set(isin):
        raise ValueError(
            f"columns named in both eq and isin: {sorted(set(eq) & set(isin))}"
        )
    if any(not vs for vs in isin.values()):
        raise ValueError("isin value lists must be non-empty")
    if not preds and not eq and not isin:
        raise ValueError(
            "read_table_pruned needs col/lo/hi, predicates, eq, or isin"
        )
    # eq is the 1-value case of isin. Predicates arrive on LOGICAL
    # names; per-file stats/blooms are keyed by PHYSICAL names (sticky
    # across renames, so pruning keeps working after a metadata-only
    # rename with zero stats migration)
    points = {c: [v] for c, v in eq.items()} | isin
    cm = snap.column_mapping
    chosen = _plan_files(spark, snap, _cm_translate_keys(cm, preds),
                         _cm_translate_keys(cm, points))
    report = {
        "files_total": len(snap.live),
        "files_read": len(chosen),
        "files_skipped": len(snap.live) - len(chosen),
    }
    if not chosen:
        return local_frame(spark, [], snap.schema(spark)), report
    df = _scan(spark, snap, chosen, snap.dv)
    # project to logical names BEFORE the residual filter, which is
    # expressed (like the predicates) in logical terms
    df = _apply_column_mapping(spark, df, snap)
    return df.filter(_row_cond(preds, points)), report


def _schema_of_latest(spark, path, entries):
    for e in reversed(entries):
        if e.get("added"):
            return spark.read.parquet(os.path.join(path, e["added"][0])).schema
    raise ValueError(f"table {path} has no data files in any version")


def _table_schema_at(spark, path, version=None):
    """The table's UNION schema at ``version`` (:meth:`Snapshot.schema`)."""
    return _snapshot(path, version).schema(spark)


def _union_schema(base, new):
    """``base`` extended with ``new``'s columns it lacks (order:
    base-first). Callers enforce type agreement on shared names."""
    from pyspark.sql.types import StructType

    have = {f.name for f in base.fields}
    return StructType(
        list(base.fields) + [f for f in new.fields if f.name not in have]
    )


# ---------------------------------------------------------------------------
# Column mapping — metadata-only RENAME / DROP (Delta's column-mapping
# "name" mode). The log's table_schema always speaks LOGICAL names (what
# users query); data files always carry PHYSICAL names (what parquet
# stores). The mapping {logical: physical} lives in log entries /
# checkpoints, so a rename or drop is ONE metadata commit — never a
# table rewrite — and time travel resolves each version's own names.
# Physical names are sticky: the column keeps its first-written physical
# name forever, so every historical file stays readable and per-file
# stats / bloom filters (keyed by physical name) keep pruning across
# renames with zero migration. A column added after a drop/rename whose
# name collides with a live or retired physical name gets a fresh
# ``col-<uuid>`` physical name (Delta's collision rule).
# ---------------------------------------------------------------------------


def _cm_is_identity(cm: dict) -> bool:
    return not cm.get("map") and not cm.get("retired")


def _cm_phys(cm: dict, name: str) -> str:
    return cm.get("map", {}).get(name, name)


def _cm_translate_keys(cm: dict, d: dict | None) -> dict:
    """Dict keyed by logical column names -> same dict keyed physical."""
    if not d or _cm_is_identity(cm):
        return dict(d or {})
    return {_cm_phys(cm, k): v for k, v in d.items()}


def _cm_refuse_names(cm: dict, names, what: str) -> None:
    """Structured column NAMES (preds/keys dict keys, SET targets) get
    the same stale-name discipline as raw SQL (:func:`_cm_refuse_expr`):
    a renamed-away old name or a dropped column's retired physical is
    NOT translated by ``_cm_translate_keys`` (it isn't a current logical
    name), yet still names a live column in the data files — so DML
    would silently prune/match/mutate an identity the table no longer
    exposes. Refuse loudly instead (r8 self-review finding)."""
    if not names or _cm_is_identity(cm):
        return
    stale = (
        set(cm.get("map", {}).values()) | set(cm.get("retired", []))
    ) - set(cm.get("map", {}))
    hits = sorted(set(names) & stale)
    if hits:
        raise ValueError(
            f"{what} names column(s) {hits} — the pre-rename (or "
            f"dropped) name(s) under this table's column mapping "
            f"({cm.get('map', {})}; retired {cm.get('retired', [])}). "
            "Use the current logical names."
        )


def _cm_refuse_expr(cm: dict, expr: str | None, what: str) -> None:
    """Raw SQL strings (``where``, SET expressions) written in CURRENT
    logical names resolve fine inside DML rewrites — evaluation runs
    over a dual-name frame (:func:`_with_logical_aliases`). What must
    be refused is a reference to a STALE name: a renamed column's old
    (physical) name, or a dropped column's retired physical. Both still
    exist as columns in the data files, so the expression would silently
    bind to an identity the table no longer exposes.

    The scan ignores quoted STRING LITERALS and comments before
    matching (r8 ADVICE): ``tag = 'old_col'`` compares against a value
    that merely spells the old name — refusing it would reject a valid
    DML expression. Backtick-quoted identifiers still count: they DO
    bind to columns. The literal lexer matches Spark's DEFAULT string
    rules (backslash escapes active, ``''``/``""`` doubling, ``--`` and
    ``/* */`` comments); under the legacy
    ``spark.sql.parser.escapedStringLiterals=true`` conf a ``\\'``
    ENDS a literal instead of escaping a quote, so a stale name in the
    expression tail after such a literal can evade this guard — the
    conservative pre-masking behavior, restored only for that corner."""
    if expr is None or _cm_is_identity(cm):
        return
    stale = (
        set(cm.get("map", {}).values()) | set(cm.get("retired", []))
    ) - set(cm.get("map", {}))
    # mask '...' / "..." literals (backslash and doubled-quote escapes,
    # Spark's default lexing) and comments — occurrences inside them
    # are data, not references
    scanned = re.sub(
        r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"|--[^\n]*|/\*.*?\*/",
        " ", expr, flags=re.S,
    )
    hits = [s for s in stale if re.search(rf"\b{re.escape(s)}\b", scanned)]
    if hits:
        raise ValueError(
            f"{what} references {sorted(hits)} — the pre-rename (or "
            f"dropped) name(s) of column(s) under this table's column "
            f"mapping ({cm.get('map', {})}; retired "
            f"{cm.get('retired', [])}). Rewrite the expression using the "
            "current logical names."
        )


def _with_logical_aliases(df: DataFrame, cm: dict) -> DataFrame:
    """PHYSICAL frame + evaluation-only alias columns carrying the
    logical names of renamed columns, so structured predicates
    (translated to physical) and raw SQL written in logical terms BOTH
    resolve during DML evaluation. Writers must re-select the physical
    columns afterwards — the aliases never land in files."""
    if _cm_is_identity(cm) or not cm.get("map"):
        return df
    from pyspark.sql import functions as F

    out = df
    for logical, phys in cm["map"].items():
        if phys in df.columns and logical not in df.columns:
            out = out.withColumn(logical, F.col(phys))
    return out


def _to_physical_names(df: DataFrame, cm: dict) -> DataFrame:
    """LOGICAL frame -> PHYSICAL frame for a data-file write: rename the
    mapped columns; everything else passes through. Pure projection."""
    if _cm_is_identity(cm) or not cm.get("map"):
        return df
    from pyspark.sql import functions as F

    m = cm["map"]
    return df.select(
        *[F.col(c).alias(m.get(c, c)) for c in df.columns]
    )


def _apply_column_mapping(spark, df: DataFrame, snap: Snapshot) -> DataFrame:
    """PHYSICAL scan -> LOGICAL frame: project exactly ``snap``'s
    logical schema, reading each field from its mapped physical column
    (dropped columns' physicals simply aren't selected; a physical
    absent from every scanned file — possible only mid-evolution —
    reads as typed NULL). Identity mapping returns the frame untouched,
    so unrenamed tables pay nothing."""
    cm = snap.column_mapping
    if _cm_is_identity(cm):
        return df
    from pyspark.sql import functions as F

    cols = []
    for f in snap.schema(spark).fields:
        phys = _cm_phys(cm, f.name)
        if phys in df.columns:
            cols.append(F.col(phys).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def rename_column(spark: SparkSession, path: str, old: str, new: str) -> dict:
    """Metadata-only column RENAME: one log commit updating the logical
    schema and the logical→physical mapping — zero data files touched,
    instant at any size. Queries by the new name work immediately;
    ``read_table(version=v)`` for pre-rename v resolves the OLD name
    (the mapping is versioned state like everything else). Per-file
    stats and bloom filters keep pruning (they are keyed by the
    physical name, which never changes). Declarative constraints on the
    column follow the rename; a raw CHECK constraint mentioning it is
    refused (rewrite the constraint first).

    All validation and schema/mapping derivation run INSIDE the
    ``_publish`` retry loop, against the fresh log tip — a lost version
    race (concurrent schema-evolving append, another DDL) recomputes
    instead of republishing state derived from the stale tip, which
    would silently drop the race winner's schema/mapping change. The
    constraint sidecar is rewritten only AFTER the commit publishes; a
    crash in between leaves a constraint naming the old column, which
    the next write refuses LOUDLY (re-run ``set_table_constraints`` to
    repair) rather than silently enforcing against ghost data."""
    from pyspark.sql.types import StructField, StructType

    renamed_specs: list[dict] | None = None

    def build(version: int, prev: Snapshot) -> dict:
        nonlocal renamed_specs
        schema = prev.schema(spark)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"rename_column: no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"rename_column: column {new!r} already exists")
        cm = prev.column_mapping
        taken = set(cm.get("map", {}).values()) | set(cm.get("retired", []))
        # physical names of identity-mapped columns are their logical
        # names — `new` colliding with one was caught by the logical
        # check above; colliding with a RENAMED column's physical or a
        # retired physical would make scans ambiguous. Renaming a column
        # back to its OWN physical name is identity-restoring, always ok.
        own_phys = cm.get("map", {}).get(old, old)
        if new in taken and new != own_phys:
            raise ValueError(
                f"rename_column: {new!r} collides with a physical column "
                "name still present in data files (renamed or dropped "
                "earlier); choose another name"
            )
        for spec in table_constraints(path):
            if spec.get("kind") == "check" and re.search(
                rf"\b{re.escape(old)}\b", spec.get("sql", "")
            ):
                raise ValueError(
                    f"rename_column: CHECK constraint {spec.get('name')!r} "
                    f"references {old!r}; drop or rewrite the constraint "
                    "first"
                )

        new_map = dict(cm.get("map", {}))
        new_map[new] = new_map.pop(old, old)  # physical name is sticky
        if new_map.get(new) == new:
            del new_map[new]  # renamed back to its physical: identity again
        new_cm = {"map": new_map, "retired": list(cm.get("retired", []))}
        new_schema = StructType([
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old else f
            for f in schema.fields
        ])
        # declarative (col-keyed) constraints follow the logical rename —
        # staged here, applied only after the publish succeeds
        specs = table_constraints(path)
        renamed_specs = (
            [{**s, "col": new} if s.get("col") == old else s for s in specs]
            if any(s.get("col") == old for s in specs)
            else None
        )
        return {
            "version": version,
            "timestamp": time.time(),
            "mode": "alter",
            "added": [],
            "removed": [],
            "operation": f"RENAME COLUMN({old} -> {new})",
            "table_schema": new_schema.jsonValue(),
            "column_mapping": new_cm,
        }

    entry = _publish(path, build)
    if entry is not None and renamed_specs is not None:
        set_table_constraints(path, renamed_specs)
    return entry


def drop_column(spark: SparkSession, path: str, name: str) -> dict:
    """Metadata-only column DROP: one log commit removing the column
    from the logical schema and retiring its physical name — data files
    keep the bytes (history and time travel still read them; OPTIMIZE /
    overwrite rewrites shed them physically), but every current-version
    read stops projecting it. Re-adding a column with this name later
    gets a FRESH physical name (never the retired bytes). Refused while
    any constraint references the column. Validation and derivation run
    inside the ``_publish`` retry loop against the fresh tip (same
    lost-race discipline as :func:`rename_column`)."""
    from pyspark.sql.types import StructType

    def build(version: int, prev: Snapshot) -> dict:
        schema = prev.schema(spark)
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"drop_column: no column {name!r} in {names}")
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the only column")
        for spec in table_constraints(path):
            if spec.get("col") == name or (
                spec.get("kind") == "check"
                and re.search(rf"\b{re.escape(name)}\b", spec.get("sql", ""))
            ):
                raise ValueError(
                    f"drop_column: constraint {spec} references {name!r}; "
                    "drop the constraint first"
                )
        cm = prev.column_mapping
        new_map = dict(cm.get("map", {}))
        phys = new_map.pop(name, name)
        retired = sorted(set(cm.get("retired", [])) | {phys})
        new_cm = {"map": new_map, "retired": retired}
        new_schema = StructType([f for f in schema.fields if f.name != name])
        return {
            "version": version,
            "timestamp": time.time(),
            "mode": "alter",
            "added": [],
            "removed": [],
            "operation": f"DROP COLUMN({name})",
            "table_schema": new_schema.jsonValue(),
            "column_mapping": new_cm,
        }

    return _publish(path, build)


def _refuse_version(path: str, snap: Snapshot, what: str, version: int):
    """Raise for a requested ``version`` the log cannot resolve: past
    the tip, or older than the retained history."""
    tip = latest_version(path)
    raise ValueError(
        f"{what} version {version} out of range "
        f"(history spans {snap.oldest}..{tip}"
        + ("" if snap.oldest == 0 else "; older expired, see expire_log")
        + ")"
    )


def rollback(spark: SparkSession, path: str, to_version: int) -> dict:
    """Publish a NEW commit whose live set equals ``to_version``'s —
    metadata-only, instant at any size, history preserved (this is
    Delta's RESTORE, not a destructive reset). Goes through the shared
    claim loop, so a concurrent writer just costs a retry with both
    live sets recomputed against the new tip."""
    target = _snapshot(path, to_version)
    if target.oldest is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    if target.version != to_version:
        # a beyond-tip target would "succeed" as a no-op commit stamped
        # RESTORE(<nonexistent>), and an expired target would die later
        # with a misleading schema error — refuse up front, with the
        # same message shape as read_table's expired-version refusal
        _refuse_version(path, target, "restore target", to_version)
    target_schema = target.schema(spark).jsonValue()

    def build(version: int, prev: Snapshot) -> dict:
        entry = {
            "version": version,
            "timestamp": time.time(),
            "mode": "restore",
            "added": [f for f in target.live if f not in set(prev.live)],
            "removed": [f for f in prev.live if f not in set(target.live)],
            "operation": f"RESTORE({to_version})",
            "restore_of": to_version,
            "table_schema": target_schema,
            # the restored snapshot's names must resolve like they did
            # at to_version — the mapping is versioned state too
            "column_mapping": target.column_mapping,
        }
        if target.mixed_schema:
            # the restored live set spans >1 schema: stamp the entry so
            # the replay (_fold) re-enables mergeSchema reads (restore,
            # like overwrite, otherwise resets mixedness)
            entry["schema_changed"] = True
        return entry

    entry = _publish(path, build, planned=target)
    assert entry is not None  # build never skips
    return entry


def clone_table(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
) -> dict:
    """SHALLOW CLONE: a new versioned table at ``dst`` whose v0
    references the SOURCE's data files in place — zero bytes copied,
    instant at any size (Delta's ``CREATE TABLE ... SHALLOW CLONE``).
    The clone is a full first-class table from then on: writes, DML,
    OPTIMIZE, DDL, and time travel on either side never affect the
    other (clone rewrites land under the clone; the shared files are
    only ever dereferenced, never mutated — the log format is
    immutable-files + metadata, which is what makes this free).

    The whole source snapshot state rides the clone's v0 entry:
    file-skipping stats and bloom filters (keys translated to the
    clone-relative paths), deletion vectors, the union schema, the
    column mapping, and the mixed-schema flag; declarative constraints
    copy via their sidecar. ``version`` clones a historical snapshot
    (time-travel clone — the cheap way to hand a team yesterday's
    100 TB table).

    Retention contract (same as Delta's shallow clone): ``vacuum`` on
    the CLONE never deletes files outside its own directory (guarded),
    but ``vacuum``/``expire_log`` on the SOURCE can remove files the
    clone still references — keep source retention ≥ clone lifetime,
    or OPTIMIZE the clone (a full rewrite localizes every referenced
    byte, detaching it from the source)."""
    snap = _snapshot(src, version)
    if snap.oldest is None:
        raise FileNotFoundError(f"no versioned table at {src}")
    if latest_version(dst) is not None:
        raise ValueError(f"clone destination {dst} already exists")
    if version is not None and snap.version != version:
        _refuse_version(src, snap, "clone source", version)
    src_v = snap.version
    schema = snap.schema(spark).jsonValue()

    def xlate(rel: str) -> str:
        return os.path.relpath(
            os.path.normpath(os.path.join(src, rel)), dst
        )

    added = [xlate(f) for f in snap.live]

    def build(v: int, prev: Snapshot) -> dict:
        if v != 0:
            # a racer created the destination between the existence
            # check and the claim: publishing v1 here would silently
            # MERGE two unrelated tables (overwrite replay keeps the
            # racer's v0 files live alongside ours)
            raise ValueError(
                f"clone destination {dst} already exists "
                "(created concurrently)"
            )
        entry = {
            "version": v,
            "timestamp": time.time(),
            "mode": "overwrite",
            "added": added,
            "removed": [],
            "operation": f"CLONE({src} @ v{src_v})",
            "clone_of": {"path": os.path.abspath(src), "version": src_v},
            "table_schema": schema,
            "column_mapping": snap.column_mapping,
        }
        if snap.file_stats:
            entry["file_stats"] = {
                xlate(f): s for f, s in snap.file_stats.items()
            }
        if snap.dv:
            entry["dv"] = {xlate(f): ps for f, ps in snap.dv.items()}
        if snap.mixed_schema:
            entry["schema_changed"] = True
        return entry

    entry = _publish(dst, build)
    src_constraints = table_constraints(src)
    if src_constraints:
        set_table_constraints(dst, src_constraints)
    return entry


def history(path: str) -> list[dict]:
    """Commit log, oldest first (version/timestamp/operation/file counts)."""
    return [
        {
            "version": e["version"],
            "timestamp": e["timestamp"],
            "operation": e["operation"],
            "mode": e["mode"],
            "n_added": len(e.get("added", [])),
            "n_removed": len(e.get("removed", [])),
        }
        for e in _entries(path)
    ]


def vacuum(path: str, keep_last: int = 1, dry_run: bool = False) -> list[str]:
    """Physically delete data files referenced by NO retained version
    (the last ``keep_last`` snapshots stay readable; older time travel
    is given up — exactly Delta's retention trade-off). Returns the
    deleted relative paths. ``dry_run=True`` returns the doomed list
    without touching anything (Delta's ``VACUUM ... DRY RUN``) — audit
    what a retention change costs before paying it.

    Maintenance path: scans the remaining log plus every checkpoint —
    retained live sets resolve through the checkpoint-aware
    :func:`_snapshot` (entry replay alone under-counts once
    :func:`expire_log` has truncated old entries), and the candidate
    universe is entry ``added`` lists ∪ checkpoint live sets."""
    versions = _commit_versions(path)
    if not versions:
        return []
    retained = versions[-max(keep_last, 1):]
    keep: set[str] = set()
    for v in retained:
        keep.update(_snapshot(path, v).live)
    all_files: set[str] = set()
    for e in _entries(path):
        all_files.update(e.get("added", []))
    for cv in _checkpoint_versions(path):
        all_files.update(_read_checkpoint(path, cv).get("live", []))
    # never delete a file outside this table's directory: a shallow
    # clone (clone_table) references the SOURCE's files via ../ paths —
    # dereferencing them here is fine, physically deleting them would
    # corrupt the source table
    root = os.path.abspath(path)
    doomed = sorted(
        f for f in (all_files - keep)
        if os.path.abspath(os.path.join(path, f)).startswith(root + os.sep)
    )
    if dry_run:
        return doomed
    for rel in doomed:
        full = os.path.join(path, rel)
        if os.path.exists(full):
            os.remove(full)
    # stats partials are per-commit-directory; once no retained version
    # references ANY file of a commit dir, its partials can never match a
    # live file again — reclaim them with the data
    stats_root = os.path.join(path, "_stats")
    if os.path.isdir(stats_root):
        alive_dirs = {rel.split(os.sep)[1] for rel in keep}
        for d in os.listdir(stats_root):
            if d not in alive_dirs:
                shutil.rmtree(os.path.join(stats_root, d), ignore_errors=True)
    return doomed


def sweep_orphan_commit_dirs(
    path: str, older_than_sec: float, dry_run: bool = False
) -> list[str]:
    """Reclaim ``data/commit-*`` dirs that NO log entry or checkpoint
    has ever referenced — the leak class every crash-between-write-and-
    publish leaves behind (a writer killed before ``commit()``
    published; a stream-sink driver killed between the task writes and
    the commit leg; a lost-race duplicate whose cleanup itself died).
    These files are invisible to readers (entries name files, not
    dirs) AND to :func:`vacuum` (whose candidate universe is
    log-referenced files), so without this sweep they leak forever.

    Safety rails: a dir survives if ANY of its files is referenced by
    any retained entry or checkpoint (committed data), if a live WAP
    staging manifest claims it (staged-not-yet-published data — that
    lifecycle belongs to ``wap.expire_staged``), or if it is younger
    than ``older_than_sec`` (a write in flight RIGHT NOW). Run it on
    the same maintenance cadence as vacuum, with a horizon comfortably
    above the longest plausible write (hours, not minutes)."""
    data_root = os.path.join(path, "data")
    if not os.path.isdir(data_root):
        return []
    # scan _staging BEFORE the log: publish_staged writes the log entry
    # FIRST and drops the manifest after, so a publish racing this
    # sweep is caught on one side or the other (manifest still present
    # -> staged_dirs protects it; manifest already gone -> the entry
    # exists by the time the log scan below runs). Scanning the log
    # first would leave a window where a just-published dir looks
    # unreferenced AND unmanifested — and gets deleted (data loss).
    staged_dirs: set[str] = set()
    staging_root = os.path.join(path, "_staging")
    if os.path.isdir(staging_root):
        for f in os.listdir(staging_root):
            if f.endswith(".json"):
                try:
                    m = json.load(open(os.path.join(staging_root, f)))
                    staged_dirs.add(os.path.basename(m.get("data_dir", "")))
                except (OSError, ValueError):
                    continue  # unreadable manifest: leave its dir alone
    referenced_dirs: set[str] = set()
    for e in _entries(path):
        for rel in e.get("added", []):
            referenced_dirs.add(rel.split(os.sep)[1])
    for cv in _checkpoint_versions(path):
        for rel in _read_checkpoint(path, cv).get("live", []):
            parts = rel.split(os.sep)
            if len(parts) > 1:
                referenced_dirs.add(parts[1])
    now = time.time()
    swept = []
    stats_root = os.path.join(path, "_stats")

    def _old_enough(full: str) -> bool:
        try:
            return now - os.path.getmtime(full) > older_than_sec
        except OSError:
            return False

    for d in sorted(os.listdir(data_root)):
        if not d.startswith("commit-"):
            continue
        if d in referenced_dirs or d in staged_dirs:
            continue
        full = os.path.join(data_root, d)
        if not _old_enough(full):
            continue
        swept.append(os.path.join("data", d))
        if not dry_run:
            shutil.rmtree(full, ignore_errors=True)
            # the same crash leaks the commit's _stats partials
            # (written pre-publish by analyze_stats) — reclaim together
            shutil.rmtree(os.path.join(stats_root, d), ignore_errors=True)
    # stats partials whose data dir is already gone (e.g. swept by an
    # earlier code generation) leak independently — same rails apply
    if os.path.isdir(stats_root):
        for d in sorted(os.listdir(stats_root)):
            if (
                d.startswith("commit-")
                and d not in referenced_dirs
                and d not in staged_dirs
                and not os.path.isdir(os.path.join(data_root, d))
                and _old_enough(os.path.join(stats_root, d))
            ):
                swept.append(os.path.join("_stats", d))
                if not dry_run:
                    shutil.rmtree(
                        os.path.join(stats_root, d), ignore_errors=True
                    )
    return swept


def expire_log(path: str, keep_last: int = 1) -> dict:
    """Bound table METADATA the way ``vacuum`` bounds data: drop history
    older than the last ``keep_last`` versions — first vacuum the
    unreferenced data files (while the full log still knows about them),
    then write a checkpoint at the oldest retained version and delete
    every log entry and checkpoint below it. This is Delta's
    ``logRetentionDuration`` + checkpoint-cleanup pair: a long-lived
    streaming table with per-batch commits keeps an O(keep_last +
    interval) log forever instead of growing without bound.

    Retained snapshot reads are unaffected (they resolve from the base
    checkpoint + tail, which is how reads already work); txn watermarks
    survive inside the checkpoint; reads of expired versions raise.
    """
    doomed = vacuum(path, keep_last)
    versions = _commit_versions(path)
    if not versions:
        return {"files_deleted": doomed, "entries_deleted": 0, "base": None}
    base = versions[-max(keep_last, 1):][0]
    # upgrade=True: a legacy checkpoint at base (missing table_schema or
    # other later-added fields) must be rewritten BEFORE the entries
    # below it are deleted — its fallback resolution path is exactly
    # those entries (see _write_checkpoint docstring)
    _write_checkpoint(path, base, upgrade=True)  # makes base standalone
    dropped = 0
    store = get_log_store()
    for v in versions:
        if v < base:
            store.delete(os.path.join(_log_dir(path), f"{v:020d}.json"))
            dropped += 1
    for cv in _checkpoint_versions(path):
        if cv < base:
            store.delete(
                os.path.join(_log_dir(path), f"{cv:020d}.checkpoint.json")
            )
    return {"files_deleted": doomed, "entries_deleted": dropped, "base": base}


def optimize_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
    analyze_stats: bool | tuple[str, ...] = False,
    files: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> dict:
    """Delta-OPTIMIZE semantics: rewrite the CURRENT live set into
    target-sized files and publish the compacted layout as one atomic
    commit (adds the new files, removes the fragmented ones). History is
    untouched — older versions still resolve to the original files until
    ``vacuum`` reclaims them. Readers never see a half-compacted table:
    the swap is the log entry.

    ``zorder_by`` is Delta's ``OPTIMIZE ... ZORDER BY``: the rewrite is
    clustered on the Morton curve of those columns
    (operators/zorder.py — one range shuffle, same cost class as the
    plain repartition), so every output file covers a compact box in
    ALL of them and min-max skipping works for each. Per-file [min,max]
    ranges are recorded in the log entry for ``stats_cols`` (defaulting
    to the zorder columns) plus every range and bloom column the
    compacted files carried — the same metadata :func:`merge_into` and
    :func:`read_table_pruned` prune with, so an optimized table stays
    prunable.

    Concurrency: publication goes through the shared claim loop. A
    concurrent APPEND costs only a retry (its files stay live beside the
    compacted ones — we remove exactly the files we rewrote). A
    concurrent writer that REMOVED any file we compacted makes our
    rewrite stale: publishing would resurrect deleted data, so we raise
    CommitConflict instead (Delta's ConcurrentDeleteRead rule).

    ``files`` restricts the rewrite to a SUBSET of the live set (callers
    pass e.g. only the small files) — the primitive behind
    :func:`compact_small_files` / streaming auto-compaction: untouched
    files stay live beside the compacted output, so a table with a few
    large well-sized files and a tail of per-batch fragments pays only
    for the fragments.

    ``transform`` rewrites the files' CONTENT, not just their layout:
    the callable maps the rewritten rows to their replacement (e.g.
    folding per-batch delta rows into one row per key for tables whose
    readers aggregate deltas). The concurrency contract is what makes
    this safe where a logical overwrite is not: the commit removes
    exactly the files that were read and folded, so a racing append's
    NEW delta files stay live beside the folded output instead of being
    silently dropped (operators/inverted_index.compact_bm25_stats is
    the motivating caller).

    Returns the commit entry plus before/after file counts. Sizing uses
    on-disk bytes-per-row like ``maintenance.compact_table``.
    """
    # files, vectors, mixedness and stats of ONE version (a commit
    # landing mid-plan is the publish check's job)
    return _optimize(spark, _snapshot(path), target_file_bytes, zorder_by,
                     stats_cols, analyze_stats, files, transform)


def _optimize(spark, snap, target_file_bytes, zorder_by, stats_cols,
              analyze_stats, files, transform) -> dict:
    """:func:`optimize_table`'s body over a snapshot the caller already
    resolved (:func:`compact_small_files` picks its subset from it)."""
    from pyspark.sql import functions as F

    path = snap.path
    # zorder/stats columns arrive logical; the rewrite is physical
    cm = snap.column_mapping
    zorder_by = _cm_phys_cols(cm, zorder_by)
    stats_cols = _cm_phys_cols(cm, stats_cols)
    analyze_stats = _cm_phys_cols(cm, analyze_stats)

    if files is not None:
        unknown = set(files) - set(snap.live)
        if unknown:
            raise ValueError(
                f"optimize subset names {len(unknown)} file(s) not live at "
                f"{path}: {sorted(unknown)[:3]}..."
            )
        live = list(files)
    else:
        live = snap.live
    if not live:
        raise ValueError(f"nothing to optimize at {path}")
    total_bytes = sum(
        os.path.getsize(f) for f in (os.path.join(path, r) for r in live)
        if os.path.exists(f)
    )
    # evolved table: the scan reads the UNION schema (missing columns
    # null-filled) — OPTIMIZE doubles as schema compaction. Compaction
    # MATERIALIZES deletion vectors: the rewrite excludes the deleted
    # positions and the vectors die with the replaced files
    # (delete_rows_dv's documented materialization step)
    df = _scan(spark, snap, live, snap.dv)
    if transform is not None:
        in_rows = df.count()
        in_schema = [(f.name, f.dataType) for f in df.schema.fields]
        df = transform(df)
        # the transform may only FOLD ROWS — the files it emits replace
        # files of this table's current (possibly physical-named)
        # schema, and a column change would publish a snapshot whose
        # files diverge from the recorded table schema while build()
        # stamps it single-schema. Compare against the INPUT frame
        # (already in physical names under column mapping).
        if [(f.name, f.dataType) for f in df.schema.fields] != in_schema:
            raise ValueError(
                "optimize_table transform must preserve the rewritten "
                f"files' schema (rows may fold, columns may not): input "
                f"was {in_schema}, transform returned "
                f"{[(f.name, f.dataType) for f in df.schema.fields]}"
            )
    rows = df.count()
    if transform is not None:
        # sizing must reflect the TRANSFORMED output: a row-folding
        # transform shrinks cardinality, and input-bytes sizing would
        # fragment the (small) folded result into n_out near-empty
        # files — the opposite of OPTIMIZE's purpose
        bytes_per_row = max(total_bytes / max(in_rows, 1), 1e-6)
        total_bytes = rows * bytes_per_row
    bytes_per_row = max(total_bytes / max(rows, 1), 1e-6)
    records_per_file = max(int(target_file_bytes / bytes_per_row), 1)
    n_out = max(math.ceil(total_bytes / target_file_bytes), 1)

    if zorder_by:
        from .zorder import zorder_value

        out = (
            zorder_value(df, list(zorder_by))
            .repartitionByRange(n_out, F.col("_zvalue"))
            .sortWithinPartitions("_zvalue")
            .drop("_zvalue")
        )
    else:
        out = df.repartition(n_out)

    written = _write_files(
        out, path,
        stats_cols=stats_cols or zorder_by,
        analyze_stats=analyze_stats,
        carry=[snap.file_stats.get(f, {}) for f in live],
        max_records=records_per_file,
    )
    op_suffix = f" ZORDER({','.join(zorder_by)})" if zorder_by else ""
    entry = _publish_rewrite(
        snap, "optimize",
        f"OPTIMIZE({len(live)}->{len(written.added)}){op_suffix}",
        written, live,
    )
    assert entry is not None
    return {**entry, "files_before": len(live),
            "files_after": len(written.added)}


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED, derived from the log at READ time: the
    row-level changes each commit in ``[from_version, to_version]``
    made, tagged ``_change_type`` ∈ {insert, delete, update_preimage,
    update_postimage} + ``_commit_version`` — Delta's CDF surface,
    without writing change files (the log + immutable data files
    already determine every change):

    - append  → added files' rows are inserts;
    - overwrite/restore → removed rows are deletes, added rows inserts
      (an overwrite IS delete-all+insert-all, and a restore's logical
      change is exactly the rows it brings back/drops);
    - OPTIMIZE → no logical change, contributes nothing (compaction
      must be invisible to downstream consumers — the property that
      makes auto-compaction safe to run inside ingest loops);
    - MERGE → the rewritten files' row-level diff (exceptAll both
      ways — exact multiset semantics), classified by the recorded
      merge key: both sides = update (pre+post images), added-only =
      insert, removed-only = delete. Unchanged rows copied during the
      rewrite cancel in the diff;
    - DELETE → removed-minus-added rows are deletes.

    Cost scales with the CHANGED files only (file-granular writers keep
    those proportional to each batch), never the table. This is what
    feeds incremental downstream consumers without reprocessing
    snapshots: `rollup over table_changes(v..w)` instead of re-reading
    the table.

    Vacuum caveat (same as Delta): changes older than the retention
    window lose their data files — resolve feeds before vacuuming past
    them. Plan-size caveat: the feed unions one branch per requested
    version, so ask for bounded ranges (a consumer polling from its
    watermark — ``incremental.refresh_from_changes`` — does this
    naturally); a thousand-version catch-up belongs in a few chunked
    calls, not one plan. Filtering on ``_change_type`` prunes whole
    branches at optimization time (the tag is a literal per branch).
    """
    from pyspark.sql import functions as F

    lv = latest_version(path)
    if lv is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    hi = lv if to_version is None else to_version
    oldest = _commit_versions(path)[0]
    if from_version < oldest:
        # expired history: silently returning a PARTIAL feed would make
        # a consumer's state drift undetectably — fail loudly instead
        # (the consumer must bootstrap from a snapshot at `oldest`)
        raise ValueError(
            f"change feed from {from_version} unavailable: history before "
            f"version {oldest} is expired (expire_log retention). "
            f"Bootstrap from read_table(version={oldest}) and consume "
            f"changes from {oldest + 1}."
        )
    entries = _entries(path, lo=from_version, hi=hi)
    if not entries:
        raise ValueError(f"no commits in [{from_version}, {hi}] at {path}")
    # the snapshots before and after each entry: one resolution, then
    # the replay rules advance it entry by entry
    steps = []
    prev = _snapshot(path, from_version - 1)
    for e in entries:
        cur = _advance(prev, e)
        steps.append((e, prev, cur))
        prev = cur

    # change rows are consumed to rebuild the CURRENT table, so every
    # branch surfaces under the names at the feed's END version: each
    # row's columns resolve physically under ITS version's mapping, then
    # re-label to the end-version logical names (same physical identity
    # = same feed column, across any number of renames). A column
    # dropped by `hi` keeps its physical name and union-nulls.
    cm_hi = prev.column_mapping
    _rev_hi = {p: l for l, p in cm_hi.get("map", {}).items()}

    def to_hi_names(df, snap):
        cmv = snap.column_mapping
        if _cm_is_identity(cmv) and _cm_is_identity(cm_hi):
            return df
        m_v = cmv.get("map", {})
        return df.select(*[
            F.col(c).alias(_rev_hi.get(m_v.get(c, c), m_v.get(c, c)))
            for c in df.columns
        ])

    def rows_of(rel_files, snap):
        """Read one entry's historical file set. Mixedness is evaluated
        AT ITS VERSION (``snap``), not at the latest: after evolution
        followed by an overwrite (which resets the latest-mixed flag),
        the overwrite's REMOVED set still spans two schemas — reading it
        without mergeSchema silently drops evolved columns from the
        change feed. Deletion vectors at that version are applied too:
        rows a vector had already deleted must not re-appear as the
        overwrite's delete rows."""
        existing = [f for f in rel_files
                    if os.path.exists(os.path.join(path, f))]
        if not existing:
            return None
        df = _scan(spark, snap, existing, snap.dv)
        # physical -> the row's version's logical -> end-version names
        return to_hi_names(_apply_column_mapping(spark, df, snap), snap)

    def rows_at_positions(dv: dict, snap):
        """The rows a delete_dv entry removed: its files read at the
        recorded positions (broadcast semi-join on file_name+row_index,
        bounded by the max_dv_rows contract)."""
        existing = [f for f in dv if os.path.exists(os.path.join(path, f))]
        if not existing:
            return None
        df = _scan(spark, snap, existing)
        pairs = [
            (os.path.basename(f), int(p))
            for f in existing
            for p in dv[f]
        ]
        pos = local_frame(spark, pairs, "_dv_fn string, _dv_ri long")
        picked = (
            df.withColumn("_dv_fn", F.col("_metadata.file_name"))
            .withColumn("_dv_ri", F.col("_metadata.row_index"))
            .join(F.broadcast(pos), ["_dv_fn", "_dv_ri"], "left_semi")
            .drop("_dv_fn", "_dv_ri")
        )
        return to_hi_names(_apply_column_mapping(spark, picked, snap), snap)

    def tag(df, change_type, version):
        return df.select(
            "*",
            F.lit(change_type).alias("_change_type"),
            F.lit(version).alias("_commit_version"),
        )

    parts: list[DataFrame] = []
    for e, before, after in steps:
        v, mode = e["version"], e.get("mode")
        if mode == "optimize":
            continue
        if mode == "delete_dv":
            gone = rows_at_positions(e.get("dv", {}), before)
            if gone is not None:
                parts.append(tag(gone, "delete", v))
            continue
        # added files exist in the v snapshot; removed files come from
        # the PREVIOUS snapshot — each side reads under its own
        # version's mixedness
        added = rows_of(e.get("added", []), after)
        removed = rows_of(e.get("removed", []), before)
        if mode == "merge":
            key = e.get("merge_key")
            # merge entries record the PHYSICAL key; the change frames
            # carry END-version names — resolve through the hi mapping
            if key is not None:
                key = _rev_hi.get(key, key)
            if added is None or removed is None or key is None:
                raise ValueError(
                    f"version {v}: MERGE entry lacks data for change "
                    "derivation (pre-CDF commit?)"
                )
            new_rows = added.exceptAll(removed)
            old_rows = removed.exceptAll(added)
            upd_keys = (
                new_rows.select(key).intersect(old_rows.select(key))
            )
            parts.append(tag(new_rows.join(upd_keys, key, "left_semi"),
                             "update_postimage", v))
            parts.append(tag(old_rows.join(upd_keys, key, "left_semi"),
                             "update_preimage", v))
            parts.append(tag(new_rows.join(upd_keys, key, "left_anti"),
                             "insert", v))
            parts.append(tag(old_rows.join(upd_keys, key, "left_anti"),
                             "delete", v))
        elif mode == "update":
            # rewritten files hold changed AND copied-unchanged rows;
            # the multiset diff isolates the actual updates (pre/post
            # cannot be PAIRED without a key, but the diff itself is
            # the change — counts are symmetric by construction)
            if added is not None and removed is not None:
                parts.append(tag(added.exceptAll(removed),
                                 "update_postimage", v))
                parts.append(tag(removed.exceptAll(added),
                                 "update_preimage", v))
        elif mode == "delete":
            if removed is not None:
                gone = (
                    removed.exceptAll(added) if added is not None else removed
                )
                parts.append(tag(gone, "delete", v))
        else:  # append / overwrite / restore
            if removed is not None:
                parts.append(tag(removed, "delete", v))
            if added is not None:
                parts.append(tag(added, "insert", v))

    if not parts:
        empty = local_frame(spark, [], prev.schema(spark))
        return tag(empty, "insert", from_version).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


class ConstraintViolation(ValueError):
    """A committed batch broke the table's declared contract."""


def set_table_constraints(path: str, specs: list[dict]) -> None:
    """Declare the table's row-level contract (Delta's NOT NULL / CHECK
    constraints): a list of declarative specs persisted as
    ``_constraints.json`` and enforced on every subsequent
    :func:`commit`. Declarative (not Column objects) so the contract
    survives restarts and travels with the table:

    - ``{"kind": "not_null", "col": c}``
    - ``{"kind": "in_range", "col": c, "lo": x, "hi": y}``
    - ``{"kind": "in_set",  "col": c, "values": [...]}``
    - ``{"kind": "matches", "col": c, "regex": r}``
    - ``{"kind": "check",   "name": n, "sql": "<boolean expr>"}``
    """
    from .expectations import in_range, in_set, matches, not_null  # noqa: F401

    _constraints_from_specs(specs)  # validate eagerly: bad spec fails HERE
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_constraints.json"), "w") as fh:
        json.dump({"constraints": specs}, fh)


def table_constraints(path: str) -> list[dict]:
    """The declared specs (empty list when none)."""
    target = os.path.join(path, "_constraints.json")
    if not os.path.exists(target):
        return []
    with open(target) as fh:
        return json.load(fh)["constraints"]


def _constraints_from_specs(specs: list[dict]):
    from pyspark.sql import functions as F

    from .expectations import custom, in_range, in_set, matches, not_null

    out = []
    for s in specs:
        kind = s["kind"]
        if kind == "not_null":
            out.append(not_null(s["col"]))
        elif kind == "in_range":
            out.append(in_range(s["col"], s["lo"], s["hi"]))
        elif kind == "in_set":
            out.append(in_set(s["col"], s["values"]))
        elif kind == "matches":
            out.append(matches(s["col"], s["regex"]))
        elif kind == "check":
            out.append(custom(s["name"], F.expr(s["sql"])))
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
    return out


def _enforce_constraints(df: DataFrame, path: str) -> None:
    """Gate a batch on the table contract — one aggregation pass over
    the BATCH (never the table), all predicates partial-aggregated in a
    single job (operators/expectations.py). Violations fail CLOSED with
    per-check counts; quarantine-don't-block flows should split with
    ``split_by_expectations`` BEFORE committing (this gate is the
    last line, not the triage tool)."""
    specs = table_constraints(path)
    if not specs:
        return
    from .expectations import run_expectations

    report = run_expectations(df, _constraints_from_specs(specs))
    if not report["passed"]:
        bad = {k: v for k, v in report["checks"].items() if v}
        raise ConstraintViolation(
            f"batch violates table constraints at {path}: {bad} "
            f"(of {report['n_rows']} rows)"
        )


def delete_rows(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple] | None = None,
    where: str | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    keys: dict[str, list] | None = None,
) -> dict | None:
    """Delta-style DELETE, FILE-GRANULAR: rows matching the predicate
    are removed by rewriting ONLY the live files that hold one; every
    other file stays live untouched. The candidates come from the
    recorded [min, max] ranges (the planner :func:`read_table_pruned`
    and :func:`merge_into` use too), then one job counts matching rows
    per candidate file. History is preserved — the deletion is
    one commit, old snapshots still show the rows until ``vacuum``.

    The predicate is ``predicates`` ({col: (lo, hi)} ranges — these both
    PRUNE files and delete), optionally AND-ed with ``where`` (an
    arbitrary SQL boolean — applied to rows but unusable for pruning,
    so give range predicates whenever you have them: `WHERE day =
    '2024-01-01' AND user_id = 7` should arrive as
    ``predicates={'day': ('2024-01-01','2024-01-01')}, where="user_id
    = 7"``). A candidate file holding no matching row is left live
    as-is (no-op rewrites are skipped, not published). The rewritten
    files record again every range and bloom column the replaced files
    carried, plus the predicate and key columns. GDPR-style
    per-key erasure is this + a key-range predicate; erasing the
    HISTORY too is ``vacuum`` after retention.

    ``keys={col: [v, ...]}`` is the GDPR point-erasure form: delete
    rows whose column is IN a bounded key list. Files are pruned per
    key through BOTH the [min,max] ranges and the per-file Bloom
    filters (``commit(bloom_cols=...)``) — erasing a handful of ids
    from a million-file table rewrites only the files that can
    actually hold them. The list is driver-held: thousands of keys,
    not millions (a million-key erasure is a MERGE-shaped anti-join
    rewrite, not a point delete).

    Returns the commit entry (+ files_matched / rows audit) or None if
    no row matched anywhere. Idempotent-writer contract via
    ``txn_app_id``/``txn_version`` like every other writer here.
    """
    from pyspark.sql import functions as F

    snap = _snapshot(path)
    preds, keys = _dml_terms(snap, "delete_rows", predicates, keys, where)
    tw = _txn_mark(txn_app_id, txn_version)
    if watermark_covered(snap, tw):
        return None
    files = _plan_files(spark, snap, preds, keys)
    if not snap.live:
        raise FileNotFoundError(f"no versioned table at {path}")
    if not files:
        return None
    _refuse_dv_files(snap, files, "DELETE")
    cond = _row_cond(preds, keys, where)
    frame, hits = _file_hits(spark, snap, files, cond)
    if not hits:
        return None  # stats said "maybe"; rows said no — publish nothing
    n_deleted = sum(hits.values())
    kept = (
        _with_logical_aliases(frame, snap.column_mapping)
        .filter(~F.coalesce(cond, F.lit(False)))
        .select(*frame.columns)
    )
    written = _write_files(kept, path, stats_cols=(*preds, *keys),
                           carry=[snap.file_stats.get(f, {}) for f in hits])
    entry = _publish_rewrite(
        snap, "delete",
        f"DELETE({n_deleted} rows, {len(hits)} of {len(snap.live)} files "
        "rewritten)",
        written, hits, txn=tw,
    )
    if entry is None:
        return None
    return {
        **entry,
        "files_matched": len(hits),
        "files_untouched": len(snap.live) - len(hits),
        "rows_deleted": n_deleted,
    }


def _dml_terms(snap: Snapshot, op: str, predicates, keys,
               where: str | None, set_exprs: dict | None = None):
    """A DML call's row terms, validated and on PHYSICAL names:
    ``(ranges, points)`` (empty key lists dropped). Structured names
    translate through ``snap``'s column mapping; a stale name —
    a renamed column's old name or a dropped column's retired physical
    — in them, in ``where`` or in a SET body is refused
    (:func:`_cm_refuse_names`, :func:`_cm_refuse_expr`)."""
    preds = dict(predicates or {})
    keys = {c: list(vs) for c, vs in (keys or {}).items() if vs}
    if not preds and where is None and not keys:
        raise ValueError(f"{op} needs predicates, keys, and/or where")
    cm = snap.column_mapping
    _cm_refuse_expr(cm, where, f"{op} where=")
    for k, v in (set_exprs or {}).items():
        _cm_refuse_expr(cm, v, f"{op} set_exprs[{k}]=")
    _cm_refuse_names(
        cm, {**preds, **keys, **(set_exprs or {})},
        f"{op} preds/keys" + ("/SET targets" if set_exprs else ""),
    )
    return _cm_translate_keys(cm, preds), _cm_translate_keys(cm, keys)


def _file_hits(spark, snap: Snapshot, files: list[str],
               cond) -> tuple[DataFrame, dict[str, int]]:
    """Count the rows matching ``cond`` in each planned file (one job,
    keyed by ``_metadata.file_name``) so a rewrite replaces ONLY files
    that hold a match. Returns ``(frame, {file: hits})``: the physical
    scan narrowed to the hit files (its columns are the union over ALL
    planned files, as a SET target may exist only in some), and the
    counts. ``cond`` evaluates over the physical columns plus logical
    aliases (:func:`_with_logical_aliases`), so a raw ``where`` in
    logical names resolves."""
    from pyspark.sql import functions as F

    base = _scan(spark, snap, files)
    fn = F.col("_metadata.file_name")
    counts = (
        _with_logical_aliases(base.select(fn.alias("_fn"), "*"),
                              snap.column_mapping)
        .filter(cond).groupBy("_fn").count().collect()
    )
    by_name = {os.path.basename(f): f for f in files}
    hits = {by_name[r["_fn"]]: r["count"] for r in counts
            if r["_fn"] in by_name}
    return base.filter(fn.isin([os.path.basename(f) for f in hits])), hits


def delete_rows_dv(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple] | None = None,
    where: str | None = None,
    keys: dict[str, list] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    max_dv_rows: int = 100_000,
) -> dict | None:
    """MERGE-ON-READ delete (Delta's deletion vectors): instead of
    rewriting the matched files, record the deleted ROW POSITIONS in
    the log; reads anti-join them out. Deleting 10 rows from a 1 GB
    file costs a metadata commit, not a gigabyte of write
    amplification — the right tool for small/point deletes on large
    files, with :func:`optimize_table` as the materialization step
    (compaction rewrites without the deleted rows and the vectors die
    with the replaced files).

    Same predicate surface as :func:`delete_rows` (ranges prune AND
    delete, ``keys`` prunes through the Bloom filters, ``where`` is
    row-only). Positions come from ``_metadata.row_index`` over ONLY
    the pruned candidate files; rows already deleted by an earlier
    vector are excluded (re-deleting is a no-op, not a double count).
    Refuses above ``max_dv_rows`` total positions — a large delete
    SHOULD rewrite (``delete_rows``), the vector form would just move
    the cost to every subsequent read.

    Trade-offs (same as Delta's): snapshot reads pay one broadcast
    anti-join while vectors exist; per-file [min,max]/bloom stats
    become upper bounds (pruning stays correct — a skipped file never
    contained the value; a read file just filters more). History and
    time travel are exact: the vector is versioned state, so
    ``read_table(version=v)`` applies exactly the vectors at v.
    """
    from pyspark.sql import functions as F

    snap = _snapshot(path)
    preds, keys = _dml_terms(snap, "delete_rows_dv", predicates, keys, where)
    tw = _txn_mark(txn_app_id, txn_version)
    if watermark_covered(snap, tw):
        return None
    files = _plan_files(spark, snap, preds, keys)
    if not snap.live:
        raise FileNotFoundError(f"no versioned table at {path}")
    if not files:
        return None
    base = _scan(spark, snap, files)
    # pull the metadata columns into the frame FIRST (projections drop
    # access to the hidden _metadata struct), then add the logical
    # aliases so a raw `where` in logical terms resolves
    aug = _with_logical_aliases(
        base.select(
            F.col("_metadata.file_name").alias("_fn"),
            F.col("_metadata.row_index").alias("_ri"),
            "*",
        ),
        snap.column_mapping,
    )
    hits = (
        aug.filter(_row_cond(preds, keys, where))
        .select("_fn", "_ri")
        .limit(max_dv_rows + 1)
        .collect()
    )
    if len(hits) > max_dv_rows:
        raise ValueError(
            f"delete_rows_dv matched more than max_dv_rows={max_dv_rows} "
            f"rows on {path}; use delete_rows (file rewrite) for large "
            "deletes — a vector this big taxes every subsequent read"
        )
    by_base = {os.path.basename(f): f for f in files}
    # set-ify ONCE outside the loop: rebuilding per hit is
    # O(hits × vector) — ~10^10 ops at the max_dv_rows bound
    planned = set(files)
    existing_sets = {
        f: set(ps) for f, ps in snap.dv.items() if f in planned
    }
    new_dv: dict[str, list[int]] = {}
    n_new = 0
    for r in hits:
        rel = by_base.get(r["_fn"])
        if rel is None:
            continue
        if int(r["_ri"]) in existing_sets.get(rel, ()):
            continue  # already deleted by an earlier vector
        new_dv.setdefault(rel, []).append(int(r["_ri"]))
        n_new += 1
    if n_new == 0:
        return None
    new_dv = {f: sorted(ps) for f, ps in new_dv.items()}
    entry = _publish_rewrite(
        snap, "delete_dv",
        f"DELETE_DV({n_new} rows in {len(new_dv)} files, no rewrite)",
        None, new_dv, txn=tw, fields={"dv": new_dv},
    )
    if entry is None:
        return None
    return {
        **entry,
        "files_matched": len(new_dv),
        "files_untouched": len(snap.live) - len(new_dv),
        "rows_deleted": n_new,
    }


def update_rows(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicates: dict[str, tuple] | None = None,
    where: str | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    keys: dict[str, list] | None = None,
) -> dict | None:
    """Delta-style UPDATE, FILE-GRANULAR: rows matching the predicate
    get ``set_exprs`` applied ({column: SQL expression over the row,
    e.g. {"status": "'done'", "amount": "amount * 1.1"}}); only live
    files that hold a matching row are rewritten (same planning and
    per-file match count as :func:`delete_rows` — give range
    predicates whenever you have them; ``keys={col: [v, ...]}`` is the
    point-update form, pruned through the per-file Bloom filters
    exactly like keyed deletes). Unmatched rows in rewritten
    files are copied unchanged; untouched files stay live by identity.
    History keeps the pre-update rows until vacuum. The commit lands as
    ``mode="update"`` with constraint enforcement on the REWRITTEN
    output (an UPDATE must not break the table contract) and feeds
    :func:`table_changes` as update_pre/postimage rows.

    Returns the entry (+ rows_updated audit), None when nothing
    matched. Same idempotent-writer txn contract as every writer here.
    """
    from pyspark.sql import functions as F

    if not set_exprs:
        raise ValueError("update_rows needs set_exprs")
    # SET keys translate (the rewrite is physical); SET bodies and where
    # are raw SQL over the dual-name frame, refused when they reference
    # renamed/dropped names
    snap = _snapshot(path)
    cm = snap.column_mapping
    preds, keys = _dml_terms(snap, "update_rows", predicates, keys, where,
                             set_exprs)
    set_exprs = _cm_translate_keys(cm, set_exprs)
    tw = _txn_mark(txn_app_id, txn_version)
    if watermark_covered(snap, tw):
        return None
    files = _plan_files(spark, snap, preds, keys)
    if not snap.live:
        raise FileNotFoundError(f"no versioned table at {path}")
    if not files:
        return None
    _refuse_dv_files(snap, files, "UPDATE")
    cond = _row_cond(preds, keys, where)
    frame, hits = _file_hits(spark, snap, files, cond)
    unknown = set(set_exprs) - set(frame.columns)
    if unknown:
        raise ValueError(f"update_rows SET names unknown column(s) {sorted(unknown)}")
    if not hits:
        return None
    n_updated = sum(hits.values())
    # the select re-projects exactly the physical columns, so the
    # logical aliases never reach the rewritten files
    updated = _with_logical_aliases(frame, cm).select(*[
        F.when(cond, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
        if c in set_exprs else F.col(c)
        for c in frame.columns
    ])
    # constraints are declared on LOGICAL names; enforce on the logical
    # overlay of the (physical) rewrite
    _enforce_constraints(
        updated if _cm_is_identity(cm)
        else _apply_column_mapping(spark, updated, snap),
        path,
    )
    written = _write_files(updated, path, stats_cols=(*preds, *keys),
                           carry=[snap.file_stats.get(f, {}) for f in hits])
    entry = _publish_rewrite(
        snap, "update",
        f"UPDATE({n_updated} rows, {len(hits)} of {len(snap.live)} files "
        "rewritten)",
        written, hits, txn=tw,
    )
    if entry is None:
        return None
    return {
        **entry,
        "files_matched": len(hits),
        "files_untouched": len(snap.live) - len(hits),
        "rows_updated": n_updated,
    }


def compact_small_files(
    spark: SparkSession,
    path: str,
    small_bytes: int = 16 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 4,
    stats_cols: tuple[str, ...] = (),
    analyze_stats: bool | tuple[str, ...] = False,
) -> dict | None:
    """Delta autoCompact semantics: rewrite ONLY the live files smaller
    than ``small_bytes`` into target-sized ones, and only once at least
    ``min_files`` of them exist (compacting two tiny files into one tiny
    file is churn, not progress). Returns the OPTIMIZE entry, or None
    when there is nothing worth doing — callers (streaming loops) can
    invoke it after every batch for free.

    This is the small-files answer for per-batch commit patterns
    (streaming CDC/ingest): each micro-batch lands its own files; left
    alone a day of 1-minute batches is 1,440 fragments per table and
    every reader pays open-file overhead per fragment. Bounding the
    fragment count keeps reads O(data), not O(batches), while the
    subset rewrite keeps the compaction itself O(fragments).
    """
    snap = _snapshot(path)
    small = [
        f for f in snap.live
        if os.path.exists(os.path.join(path, f))
        and os.path.getsize(os.path.join(path, f)) < small_bytes
    ]
    if len(small) < min_files:
        return None
    return _optimize(spark, snap, target_file_bytes, zorder_by=(),
                     stats_cols=stats_cols, analyze_stats=analyze_stats,
                     files=small, transform=None)


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    delete_col: str | None = None,
    validate_unique: bool = True,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    analyze_stats: bool | tuple[str, ...] = False,
) -> dict | None:
    """Delta-style MERGE (upsert by ``key``), FILE-GRANULAR: only live
    data files whose recorded [min, max] key range overlaps the source
    batch's key range are rewritten; every other file stays live
    untouched. This is the scale property that separates a MERGE from an
    overwrite — a CDC batch touching one day of keys rewrites one day of
    files, not the table (SCALE.md named this the production upgrade
    real Delta exists for).

    Semantics per key: present in both → source row wins (update);
    source-only → insert; target-only → kept. With ``delete_col``,
    source rows where that boolean column is true DELETE the key
    instead. Files committed without ``stats_cols=(key,)`` have no
    recorded range and are conservatively treated as overlapping.

    The rewrite commit records fresh [min, max] stats for the key on
    its output files, plus every range and bloom column the replaced
    files carried, so merge output stays prunable by later merges and
    point reads. Publication
    goes through the shared claim loop; like OPTIMIZE, a concurrent
    writer REMOVING a file this merge rewrote aborts with
    CommitConflict (publishing would resurrect deleted rows), while a
    concurrent append just costs a retry.

    ``txn_app_id``/``txn_version`` give the same idempotent-writer
    contract as :func:`commit` (skip + return None when the watermark
    already covers this version) — what a streaming CDC apply needs to
    survive micro-batch replay.
    """
    snap = _snapshot(path)
    tw = _txn_mark(txn_app_id, txn_version)
    if watermark_covered(snap, tw):  # skip before the source scan + rewrite
        return None

    from pyspark.sql import functions as F

    # the upsert rows land in the table, so they face the same contract
    # as a commit (delete markers don't land — exempt)
    _enforce_constraints(
        source.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
        if delete_col else source,
        path,
    )
    if snap.version is None:
        raise FileNotFoundError(f"no versioned table at {path}")

    # source arrives on LOGICAL names; the rewrite reads and writes
    # PHYSICAL files — convert once here, then the whole merge (key
    # range probe, file pruning, union, output stats) runs physically
    cm = snap.column_mapping
    if not _cm_is_identity(cm):
        source = _to_physical_names(source, cm)
        key = _cm_phys(cm, key)
        if delete_col:
            delete_col = _cm_phys(cm, delete_col)

    # one bounded job over the source: key range + uniqueness check
    agg_row = source.agg(
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key)).alias("nd"),
    ).first()
    if agg_row["n"] == 0:
        raise ValueError("merge_into: empty source batch")
    if validate_unique and agg_row["n"] != agg_row["nd"]:
        raise ValueError(
            f"merge_into: source has duplicate keys "
            f"({agg_row['n']} rows, {agg_row['nd']} distinct {key!r}) — "
            "collapse with latest_change_per_key first"
        )
    matched = _plan_files(spark, snap,
                          {key: (agg_row["lo"], agg_row["hi"])}, {})
    if not snap.live:
        raise FileNotFoundError(f"no versioned table at {path}")
    _refuse_dv_files(snap, matched, "MERGE")

    if matched:
        base = _scan(spark, snap, matched)
        # column set from the (possibly merged) base schema, NOT the
        # first file — on an evolved table a narrow first file would
        # silently drop the evolved columns from the rewrite
        cols = base.columns
    else:
        cols = source.columns
    out_cols = [c for c in cols if c != delete_col]
    lacking = [c for c in out_cols if c != key and c not in source.columns]
    if lacking:
        raise ValueError(
            f"merge_into source lacks table column(s) {lacking} — an upsert "
            "row must state every column's value (pass explicit nulls); on "
            "an evolved table the source must carry the UNION schema"
        )
    if matched:
        s = source.select(
            F.col(key).alias("__sk"),
            *[F.col(c).alias(f"__s_{c}") for c in source.columns if c != key],
        )
        joined = base.join(s, base[key] == s["__sk"], "full_outer")
        from_source = F.col("__sk").isNotNull()
        merged = joined.select(
            *[
                F.when(
                    from_source,
                    F.col("__sk") if c == key else F.col(f"__s_{c}"),
                ).otherwise(F.col(c)).alias(c)
                for c in out_cols
            ],
            *( [F.when(from_source, F.coalesce(F.col(f"__s_{delete_col}"), F.lit(False)))
                 .otherwise(F.lit(False)).alias("__del")]
               if delete_col else
               [F.lit(False).alias("__del")] ),
        )
        merged = merged.filter(~F.col("__del")).drop("__del")
    else:
        merged = source.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False)) if delete_col else F.lit(True)
        ).select(*out_cols)

    # analyze_stats arrives in LOGICAL names; the files carry physical
    written = _write_files(
        merged, path, stats_cols=(key,),
        analyze_stats=_cm_phys_cols(cm, analyze_stats),
        carry=[snap.file_stats.get(f, {}) for f in matched],
    )
    entry = _publish_rewrite(
        snap, "merge",
        f"MERGE({len(matched)} of {len(snap.live)} files rewritten)",
        written, matched, txn=tw,
        fields={"merge_key": key},  # lets table_changes classify changes
    )
    if entry is None:  # concurrent duplicate txn published first
        return None
    return {
        **entry,
        "files_matched": len(matched),
        "files_untouched": len(snap.live) - len(matched),
    }

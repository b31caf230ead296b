"""``format("medallion_lake")`` — the versioned table as a native
Spark data source (PySpark 4 Python Data Source API), batch AND
streaming.

The reference exposes its tables only through its own CLI/driver
(``/root/reference/sakila-data-lake/query_datalake.py`` materializes
temp views per query); this module instead plugs the lakehouse into
Spark's OWN source surface, so any Spark job — including ones that know
nothing about this package — can read a versioned table:

    from medallion_data_lake_spark.sources.lakehouse_source import (
        register_lake_source,
    )
    register_lake_source(spark)   # registers + enables Python filter
                                  # pushdown (required conf, see below)
    spark.read.format("medallion_lake").load(path)                # batch
    spark.readStream.format("medallion_lake").load(path)          # tail

Registering the class directly (``spark.dataSource.register(
MedallionLakeDataSource)``) also works, but batch reads then require
``spark.sql.python.filterPushdown.enabled=true`` yourself — Spark 4.1
refuses ANY reader that implements ``pushFilters`` while that conf is
false, so ``register_lake_source`` sets it.

Streaming is the point: ``table_changes`` (operators/versioned.py) is a
poll-style batch CDF; this source turns the SAME commit log into a
Structured Streaming source with engine-managed exactly-once offsets —
the piece that connects the lakehouse to every downstream incremental
pipeline (Delta's streaming-source role).

Why this is safe to rebuild worker-side (no SparkSession on executors):

- **Offsets are log versions.** The commit log is an append-only
  sequence of immutable JSON entries; offset ``{"version": N}`` means
  "consumed through commit N". Replaying ``partitions(start, end)``
  for the same offsets re-lists the same immutable entries — the
  determinism Structured Streaming's exactly-once contract needs.
- **One partition per data file.** Every entry names whole files
  (``added`` / ``removed``); a file is independently readable with
  pyarrow, so the work unit parallelizes without any cross-file state.
- **Deletion vectors are per-file row positions.** A DV mask applies
  locally inside the file's partition (drop row indexes) — no
  anti-join needed on this path, unlike the JVM read
  (``_apply_dvs``), because the reader controls row order.
- **Physical column names are sticky across renames** (column
  mapping, versioned.py): partitions align columns by PHYSICAL name
  and re-label to the declared logical schema, so a mid-stream RENAME
  never misbinds a column, and files from before/after the rename
  feed the same output column.

Streaming modes (mirroring Delta's source semantics):

- default: initial SNAPSHOT of the table at stream start (emitted as
  the first micro-batch), then an append-only TAIL. Non-append commits
  fail loudly unless ``ignoreDeletes`` (skip delete/delete_dv commits)
  or ``ignoreChanges`` (skip deletes AND re-emit the added files of
  rewrite commits — duplicates by design, Delta's documented
  contract) is set.
- ``startingVersion=N``: no snapshot; tail from commit N inclusive.
- ``startingVersion=latest``: no snapshot; only commits after stream
  start.
- ``readChangeFeed=true``: rows carry ``_change_type`` ∈
  {insert, delete} + ``_commit_version``. Rewrite commits
  (delete/update/merge/overwrite/restore) stream in UNCANCELLED form —
  removed files' surviving rows as deletes, added files' rows as
  inserts — which is multiset-equivalent to the minimal diff (copied
  rows appear as paired delete+insert and cancel under apply
  semantics). The batch ``table_changes`` remains the classified form
  (update_pre/postimage); use it when pairing matters. OPTIMIZE and
  metadata-only commits (``alter``) contribute nothing in every mode —
  compaction and renames must be invisible downstream.

Batch reads push file skipping down: ``pushFilters`` prunes whole
files against the per-file [min, max] stats recorded in the log
(same ranges ``read_table_pruned`` uses), and returns every filter to
Spark for residual evaluation — pruning is an optimization, never a
correctness dependency. At 100 TB the JVM scan (``read_table``)
remains the throughput path for batch; this source's batch reader is
the interop path (same results, Arrow-batched per file), and the
STREAMING reader is incremental by construction (per-commit files
only, never the table).

Scale notes: offset resolution is O(checkpoint + tail) via the log
checkpoints; ``maxVersionsPerBatch`` bounds catch-up batches (a
restart 10k commits behind becomes many bounded micro-batches instead
of one giant one); partitions carry only file paths + DV positions
(DV size is already capped by ``delete_rows_dv``'s ``max_dv_rows``
contract), never data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructField, StructType

from ..operators.versioned import (
    Snapshot,
    _advance,
    _cm_phys,
    _commit_versions,
    _entries,
    _overlaps,
    _snapshot,
    _stat_probe,
    latest_version,
)

FORMAT_NAME = "medallion_lake"

#: commit modes that change no rows — invisible to every streaming mode
_NO_DATA_MODES = frozenset({"optimize", "alter"})
#: commit modes that rewrite files (removed + added in one commit)
_REWRITE_MODES = frozenset({"delete", "update", "merge", "overwrite",
                            "restore"})

@dataclass
class LakeFilePartition(InputPartition):
    """One data file's slice of the read. Picklable, data-free: the
    worker opens ``file`` with pyarrow, drops ``drop_positions`` (DV
    mask) or takes ``take_positions`` (a delete_dv commit's removed
    rows), aligns columns by PHYSICAL name to the declared schema
    (missing physical -> typed nulls: pre-evolution files), and
    re-labels to logical names."""

    file: str
    #: [(logical_name, physical_name), ...] in declared-schema order
    fields: list = field(default_factory=list)
    #: declared data schema (Spark JSON, logical names, no CDF cols)
    schema_json: dict = field(default_factory=dict)
    drop_positions: list | None = None
    take_positions: list | None = None
    #: None = plain rows; else the CDF tag for every row in this slice
    change_type: str | None = None
    commit_version: int | None = None


def _read_lake_partition(p: LakeFilePartition) -> Iterator:
    """Worker-side file read — pure pyarrow, no SparkSession. Yields
    Arrow record batches matching the source's declared schema."""
    if p is None:
        # the engine substitutes [None] for an EMPTY partitions() list
        # (plan_data_source_read.py) — e.g. every file pruned by a
        # pushed filter, or an all-deleted snapshot: a valid 0-row read
        return
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(StructType.fromJson(p.schema_json))
    pf = pq.ParquetFile(p.file)
    present = set(pf.schema_arrow.names)
    want = [phys for _, phys in p.fields if phys in present]
    tbl = pf.read(columns=want)
    if p.take_positions is not None:
        tbl = tbl.take(pa.array(sorted(p.take_positions), type=pa.int64()))
    elif p.drop_positions:
        mask = np.ones(tbl.num_rows, dtype=bool)
        mask[np.asarray(p.drop_positions, dtype=np.int64)] = False
        tbl = tbl.filter(pa.array(mask))
    n = tbl.num_rows
    cols, names = [], []
    for (logical, phys), fld in zip(p.fields, target):
        if phys in tbl.column_names:
            col = tbl[phys]
            if col.type != fld.type:
                # schema evolution only widens (commit() refuses type
                # changes), so the declared type is always the wider
                # one; safe=False only relaxes temporal unit narrowing
                # (parquet ns -> Spark us)
                col = col.cast(fld.type, safe=False)
        else:
            col = pa.nulls(n, type=fld.type)
        cols.append(col)
        names.append(logical)
    if p.change_type is not None:
        cols.append(pa.array([p.change_type] * n, type=pa.string()))
        names.append("_change_type")
        cols.append(pa.array([p.commit_version] * n, type=pa.int64()))
        names.append("_commit_version")
    out = pa.table(dict(zip(names, cols)))
    if out.num_rows == 0:
        # an all-deleted or empty slice still needs a schema-bearing
        # batch (the engine accepts zero batches too, but an empty
        # iterator from EVERY partition of a batch is fine — just
        # return nothing)
        return
    yield from out.to_batches()


def _declared_fields(snap: Snapshot, columns: str | None = None):
    """(schema_json, [(logical, physical), ...]) of ``snap`` — from the
    LOG ONLY (this source never needs a SparkSession for metadata).
    Raises on tables whose log predates schema recording: such tables
    re-record on their next commit, and the JVM path (read_table)
    covers them meanwhile.

    ``columns`` (comma-separated logical names) is the source's MANUAL
    projection pushdown: the Python Data Source API does no automatic
    column pruning, so without it every partition would read every
    column off disk — ruinous when a consumer wants ids out of a table
    whose widest column is an embedding array. The projection narrows
    both the declared schema and the per-file parquet read."""
    path, schema_json = snap.path, snap.table_schema
    if schema_json is None:
        raise ValueError(
            f"versioned table at {path} has no recorded table_schema in "
            "its log (written by a pre-schema code generation). Read it "
            "once with read_table / commit to it once to record the "
            "schema, or use read_table for this table."
        )
    if columns is not None:
        want = [c.strip() for c in columns.split(",") if c.strip()]
        have = {f["name"] for f in schema_json["fields"]}
        missing = [c for c in want if c not in have]
        if missing:
            raise ValueError(
                f"columns option names {missing} not in the table "
                f"schema at {path} (has {sorted(have)})"
            )
        schema_json = dict(
            schema_json,
            fields=[f for f in schema_json["fields"] if f["name"] in want],
        )
    cm = snap.column_mapping
    fields = [
        (f["name"], _cm_phys(cm, f["name"]))
        for f in schema_json["fields"]
    ]
    return schema_json, fields


def _opt(options: dict, name: str, default: str | None = None) -> str | None:
    """Case-insensitive option lookup (Spark lowercases SQL-set options
    but preserves python-set ones)."""
    lowered = {k.lower(): v for k, v in options.items()}
    return lowered.get(name.lower(), default)


def _flag(options: dict, name: str) -> bool:
    return str(_opt(options, name, "false")).lower() in ("true", "1", "yes")



def _parse_ts_opt(ts: str) -> float:
    """Timestamp option -> epoch seconds. Accepts epoch seconds or an
    ISO date/datetime string; a NAIVE ISO string is interpreted as UTC
    (no SparkSession here, so no session timezone — and resolving in
    the driver's OS zone would let two drivers pin different versions
    for the same literal). Pass an explicit offset to override."""
    try:
        return float(ts)
    except ValueError:
        import datetime as _dt

        parsed = _dt.datetime.fromisoformat(ts)
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=_dt.timezone.utc)
        return parsed.timestamp()


def _resolve_version_opt(path: str, options: dict) -> int | None:
    """``version`` / ``timestampAsOf`` -> a pinned log version (None =
    latest), via the SAME resolution rule as
    ``read_table(as_of_timestamp=...)`` (``version_at_timestamp``).
    Accepts epoch seconds or an ISO date/datetime string; a NAIVE ISO
    string is interpreted as UTC — this source has no SparkSession (no
    session timezone), and resolving in the driver's OS zone would let
    two drivers in different zones pin DIFFERENT versions for the same
    literal. Pass an explicit offset (``...+02:00``) to override."""
    from ..operators.versioned import version_at_timestamp

    v = _opt(options, "version")
    ts = _opt(options, "timestampAsOf")
    if v is not None and ts is not None:
        raise ValueError("give version OR timestampAsOf, not both")
    if v is not None:
        return int(v)
    if ts is None:
        return None
    return version_at_timestamp(path, _parse_ts_opt(ts))


class MedallionLakeBatchReader(DataSourceReader):
    """Batch: one partition per live data file at the requested
    version, DV positions attached. ``pushFilters`` prunes files on
    the log's per-file [min, max] stats and returns EVERY filter for
    residual evaluation — identical results with or without pruning."""

    def __init__(self, path: str, options: dict, pinned: int | None = None):
        # ``pinned`` is the DataSource's load-time latest, so the
        # declared schema and the scanned snapshot stay on ONE version
        # (Delta's snapshot-at-analysis rule) even though schema() and
        # reader() are separate engine calls
        self._path = path
        version = _resolve_version_opt(path, options)
        snap = _snapshot(path, pinned if version is None else version)
        self._version = snap.version
        self._schema_json, self._fields = _declared_fields(
            snap, _opt(options, "columns")
        )
        self._ranges: dict[str, list] = {}  # physical -> [lo, hi] probes

    def pushFilters(self, filters):  # noqa: N802 (API name)
        # logical -> physical for the stats keys; dtype for the probe
        # rendering (same rendering _describe_files stored)
        types = {
            f["name"]: StructField.fromJson(f).dataType
            for f in self._schema_json["fields"]
        }
        phys = dict(self._fields)

        def tighten(col, lo=None, hi=None):
            p = phys.get(col)
            if p is None:
                return
            cur = self._ranges.setdefault(p, [None, None])
            if lo is not None and (cur[0] is None or lo > cur[0]):
                cur[0] = lo
            if hi is not None and (cur[1] is None or hi < cur[1]):
                cur[1] = hi

        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                yield f
                continue
            col = attr[0]
            dt = types.get(col)
            if isinstance(f, EqualTo):
                v = _stat_probe(f.value, dt)
                tighten(col, lo=v, hi=v)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                tighten(col, lo=_stat_probe(f.value, dt))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                tighten(col, hi=_stat_probe(f.value, dt))
            elif isinstance(f, In):
                probes = [_stat_probe(v, dt) for v in f.value]
                if probes and all(p is not None for p in probes):
                    tighten(col, lo=min(probes), hi=max(probes))
            # every filter stays with Spark: stats pruning is
            # necessary-condition only (files, not rows)
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        snap = _snapshot(self._path, self._version)
        return [
            LakeFilePartition(
                file=os.path.join(self._path, rel),
                fields=self._fields,
                schema_json=self._schema_json,
                drop_positions=snap.dv.get(rel),
            )
            for rel in snap.live
            if all(_overlaps(snap.file_stats.get(rel, {}).get(p), lo, hi)
                   for p, (lo, hi) in self._ranges.items())
        ]

    def read(self, partition: LakeFilePartition) -> Iterator:
        return _read_lake_partition(partition)


class MedallionLakeStreamReader(DataSourceStreamReader):
    """Streaming tail of the commit log. Offset = ``{"version": N,
    "snap": bool}``: consumed through commit N; ``snap`` False means
    the initial snapshot AT N is still owed (first micro-batch)."""

    def __init__(self, path: str, options: dict):
        self._path = path
        self._cdf = _flag(options, "readChangeFeed")
        self._ignore_deletes = _flag(options, "ignoreDeletes")
        self._ignore_changes = _flag(options, "ignoreChanges")
        mv = _opt(options, "maxVersionsPerBatch")
        self._max_versions = int(mv) if mv is not None else None
        self._starting = _opt(options, "startingVersion")
        self._starting_ts = _opt(options, "startingTimestamp")
        if self._starting is not None and self._starting_ts is not None:
            raise ValueError(
                "give startingVersion OR startingTimestamp, not both"
            )
        self._schema_json, self._fields = _declared_fields(
            _snapshot(path), _opt(options, "columns")
        )
        self._last_end: int | None = None  # throttle anchor, in-process

    # -- offsets ----------------------------------------------------

    def initialOffset(self) -> dict:  # noqa: N802
        lv = latest_version(self._path)
        if lv is None:
            raise FileNotFoundError(f"no versioned table at {self._path}")
        if self._starting_ts is not None:
            # Delta's startingTimestamp rule: replay every commit AT or
            # AFTER the instant (no snapshot); an instant past the tip
            # means "tail only from here on". Same naive-ISO-means-UTC
            # rule as the batch reader's timestampAsOf. The scan walks
            # the log NEWEST-first and stops at the first entry before
            # the cutoff — O(matching tail), not O(retained log).
            cutoff = _parse_ts_opt(self._starting_ts)
            versions = _commit_versions(self._path)
            sv = lv + 1
            oldest_ts = None
            for v in reversed(versions):
                e = _entries(self._path, lo=v, hi=v)[0]
                if e["timestamp"] >= cutoff:
                    sv = v
                else:
                    break
                oldest_ts = e["timestamp"]
            if versions and versions[0] > 0 and sv == versions[0] and (
                oldest_ts is None or cutoff < oldest_ts
            ):
                # the cutoff predates the oldest RETAINED entry and
                # older entries were expired: "replay from <cutoff>"
                # cannot be satisfied — silently starting at the
                # retained tail would drop every row committed in the
                # expired range (same hazard the expired-gap guard in
                # partitions() refuses)
                raise ValueError(
                    f"startingTimestamp={self._starting_ts} predates "
                    f"the retained history of {self._path} (entries "
                    f"before version {versions[0]} are expired). "
                    "Re-bootstrap with snapshot mode (no "
                    "startingVersion/startingTimestamp) or "
                    f"startingVersion={versions[0]}."
                )
            off = {"version": sv - 1, "snap": True}
            self._last_end = off["version"]
            return off
        if self._starting is None:
            off = {"version": lv, "snap": False}      # snapshot + tail
        elif str(self._starting).lower() == "latest":
            off = {"version": lv, "snap": True}       # tail only
        else:
            sv = int(self._starting)
            if sv < 0 or sv > lv + 1:
                # beyond-tip starts must refuse: the committed offset
                # would sit at the TIP (sv-1 is unreachable), and once
                # new commits land the stream would emit versions BELOW
                # the requested start — the opposite of what was asked
                raise ValueError(
                    f"startingVersion={sv} out of range for {self._path}"
                    f" (log tip is {lv}; use 0..{lv + 1} or 'latest')"
                )
            off = {"version": sv - 1, "snap": True}
        # seed the catch-up throttle: a FRESH stream starting far
        # behind should get bounded batches from its very first one
        self._last_end = off["version"]
        return off

    def latestOffset(self) -> dict:  # noqa: N802
        lv = latest_version(self._path)
        if (
            self._max_versions is not None
            and self._last_end is not None
            and lv > self._last_end + self._max_versions
        ):
            # bounded catch-up: a consumer far behind gets many bounded
            # micro-batches, not one giant one. BEST-EFFORT from the
            # SECOND planned batch of each run: the Python source API's
            # latestOffset receives no start offset and the engine asks
            # for it before initialOffset/partitions, so the first
            # batch of a (re)started run has no safe anchor — guessing
            # one from the options could fall BEHIND a restarted
            # checkpoint and regress offsets (duplicate re-emission).
            # Correctness never depends on the bound, only batch sizing.
            lv = self._last_end + self._max_versions
        return {"version": lv, "snap": True}

    def commit(self, end: dict) -> None:  # noqa: N802
        pass  # log-based source: nothing to release

    # -- planning ---------------------------------------------------

    def _file_parts(self, rels, at_version, dvs, change_type):
        parts = []
        for rel in rels:
            full = os.path.join(self._path, rel)
            if not os.path.exists(full):
                # vacuumed beyond retention — same contract as
                # table_changes: the surviving files still replay
                continue
            parts.append(LakeFilePartition(
                file=full,
                fields=self._fields,
                schema_json=self._schema_json,
                drop_positions=(dvs or {}).get(rel),
                change_type=change_type,
                commit_version=at_version,
            ))
        return parts

    def _entry_partitions(self, e: dict, before: Snapshot | None,
                          after: Snapshot | None) -> list:
        """``e``'s rows; ``before``/``after`` are the snapshots around it
        (given whenever this stream reads vectors: CDF or
        ignoreChanges)."""
        v, mode = e["version"], e.get("mode")
        if mode in _NO_DATA_MODES:
            return []
        tag_ins = "insert" if self._cdf else None
        if mode == "append":
            # appended files carry no DV at their own commit
            return self._file_parts(e.get("added", []), v, None, tag_ins)
        if mode == "delete_dv":
            if self._cdf:
                return [
                    LakeFilePartition(
                        file=os.path.join(self._path, rel),
                        fields=self._fields,
                        schema_json=self._schema_json,
                        take_positions=list(ps),
                        change_type="delete",
                        commit_version=v,
                    )
                    for rel, ps in e.get("dv", {}).items()
                    if os.path.exists(os.path.join(self._path, rel))
                ]
            if self._ignore_deletes or self._ignore_changes:
                return []
            raise ValueError(
                f"commit {v} of {self._path} is a DV delete; an "
                "append-only stream cannot represent it. Set "
                "ignoreDeletes=true to skip delete commits, or "
                "readChangeFeed=true for row-level change semantics."
            )
        if mode in _REWRITE_MODES:
            if self._cdf:
                # uncancelled form: removed rows (under the PREVIOUS
                # version's DVs — rows a vector already deleted must
                # not re-appear as deletes) + added rows (under THIS
                # version's DVs — a restore adopts its target's
                # vectors). Multiset-equivalent to the minimal diff.
                return (
                    self._file_parts(e.get("removed", []), v, before.dv,
                                     "delete")
                    + self._file_parts(e.get("added", []), v, after.dv,
                                       "insert")
                )
            if mode == "delete" and self._ignore_deletes:
                # rows removed; survivors were already streamed when
                # first appended — skipping loses nothing append-only
                return []
            if self._ignore_changes:
                # Delta's documented contract: rewrite commits re-emit
                # their added files (duplicates possible downstream)
                return self._file_parts(e.get("added", []), v, after.dv, None)
            raise ValueError(
                f"commit {v} of {self._path} is a {mode} (file rewrite); "
                "an append-only stream cannot represent it. Set "
                "ignoreChanges=true (re-emits rewritten files, may "
                "duplicate), or readChangeFeed=true for row-level "
                "change semantics."
            )
        # unknown/metadata-only commit shapes: nothing to stream, but an
        # entry that DID move data must never be silently skipped
        if e.get("added") or e.get("removed") or e.get("dv"):
            raise ValueError(
                f"commit {v} of {self._path} has unrecognized mode "
                f"{mode!r} with data changes — refusing to guess its "
                "stream semantics"
            )
        return []

    def partitions(self, start: dict, end: dict):
        parts: list[InputPartition] = []
        lo, hi = start["version"] + 1, end["version"]
        if lo <= hi:
            oldest = min(_commit_versions(self._path), default=lo)
            if lo < oldest:
                # expired history: silently replaying only the retained
                # tail would make the consumer's state drift
                # UNDETECTABLY (the exact hazard table_changes raises
                # for) — a stream down longer than log retention must
                # re-bootstrap, not limp on
                raise ValueError(
                    f"stream gap on {self._path}: versions {lo}.."
                    f"{oldest - 1} were expired (expire_log) before this "
                    "stream consumed them. Re-bootstrap with a fresh "
                    "checkpoint (default snapshot mode, or "
                    f"startingVersion={oldest})."
                )
        # the snapshot at start, advanced entry by entry — resolved only
        # when the initial snapshot or the deletion vectors are needed
        v0 = start["version"]
        snap = (
            _snapshot(self._path, v0)
            if not start.get("snap", True) or self._cdf or self._ignore_changes
            else None
        )
        if not start.get("snap", True):
            parts += self._file_parts(
                snap.live, v0, snap.dv, "insert" if self._cdf else None
            )
        for e in _entries(self._path, lo=lo, hi=hi):
            after = _advance(snap, e) if snap is not None else None
            parts += self._entry_partitions(e, snap, after)
            snap = after
        self._last_end = hi
        return parts

    def read(self, partition: LakeFilePartition) -> Iterator:
        return _read_lake_partition(partition)


class MedallionLakeDataSource(DataSource):
    """``spark.dataSource.register(MedallionLakeDataSource)`` then
    ``format("medallion_lake")``. Options: ``version`` (batch),
    ``startingVersion`` / ``ignoreDeletes`` / ``ignoreChanges`` /
    ``readChangeFeed`` / ``maxVersionsPerBatch`` (streaming)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def __init__(self, options: dict):
        super().__init__(options)
        # Pin the batch snapshot at SOURCE construction (load time):
        # schema() and reader() are separate engine calls (potentially
        # in separate runner processes), and each resolving 'latest'
        # independently would declare version N's schema while scanning
        # version N+1's files if a commit lands between them. The pin
        # travels with the pickled instance; explicit version/
        # timestampAsOf options take precedence (resolved per call),
        # and the streaming paths ignore it (offsets pin their own
        # versions). None (table absent / no path yet, e.g. a writer)
        # falls back to per-call resolution, same as before.
        self._load_time_latest = None
        try:
            if (
                _opt(options, "version") is None
                and _opt(options, "timestampAsOf") is None
            ):
                self._load_time_latest = latest_version(self._path())
        except Exception:
            self._load_time_latest = None

    def _path(self) -> str:
        p = _opt(self.options, "path")
        if not p:
            raise ValueError(
                f"{FORMAT_NAME} needs a table path: .load(path) or "
                ".option('path', ...). (A catalog table created with "
                "CREATE TABLE ... USING medallion_lake loses its "
                "OPTIONS at scan time — Spark 4.1 re-instantiates "
                "Python sources without them; register a temp view "
                "over spark.read.format(...).load(path) instead.)"
            )
        if p.startswith("file:"):
            # contexts that qualify paths hand the source a file: URI;
            # the log store speaks plain filesystem paths. unquote
            # undoes the percent-encoding qualification applies (a
            # space becomes %20 on the way in)
            from urllib.parse import unquote, urlparse

            p = unquote(urlparse(p).path)
        return p

    def schema(self) -> StructType:
        path = self._path()
        v = _resolve_version_opt(path, dict(self.options))
        if v is None:
            v = self._load_time_latest
        schema_json, _ = _declared_fields(
            _snapshot(path, v), _opt(self.options, "columns"),
        )
        st = StructType.fromJson(schema_json)
        if _flag(self.options, "readChangeFeed"):
            from pyspark.sql.types import LongType, StringType

            st = StructType(
                st.fields
                + [StructField("_change_type", StringType(), False),
                   StructField("_commit_version", LongType(), False)]
            )
        return st

    def reader(self, schema: StructType) -> DataSourceReader:
        if _flag(self.options, "readChangeFeed"):
            # the batch reader emits plain rows; serving the declared
            # N+2-column CDF schema from it would schema-mismatch at
            # runtime — refuse up front with the right pointer
            raise ValueError(
                "readChangeFeed is a STREAMING option "
                "(spark.readStream); for a batch change feed use "
                "operators.versioned.table_changes()"
            )
        return MedallionLakeBatchReader(
            self._path(), dict(self.options),
            pinned=self._load_time_latest,
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:  # noqa: N802
        return MedallionLakeStreamReader(self._path(), dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        return MedallionLakeStreamWriter(
            self._path(), schema, overwrite, dict(self.options)
        )

    def writer(self, schema: StructType, overwrite: bool):
        return MedallionLakeBatchWriter(
            self._path(), schema, overwrite, dict(self.options)
        )


# ---------------------------------------------------------------------------
# streaming SINK: df.writeStream.format("medallion_lake") — one atomic
# versioned commit per micro-batch, exactly-once via the log's txn
# watermark. The write leg runs on executors (pyarrow parquet, no
# SparkSession); the commit leg runs in the sink runner process, which
# also has NO SparkSession — every check it performs (txn idempotence,
# schema drift against the fresh tip, mapping drift) is pure-log, the
# same snapshot the readers use. What therefore CANNOT run here:
# table constraints (SQL exprs need Spark) and bloom filters (Spark's
# xxhash64). Constrained tables are refused by the write leg BEFORE any
# file lands (a mid-stream ALTER ADD CONSTRAINT must not leak files) —
# use streaming/versioned_sink.run_append_stream (foreachBatch, full
# commit() semantics) for those; stats are recorded for NUMERIC columns
# only (int/float render identically in pyarrow and Spark — temporal/
# string renderings differ subtly between engines and a mismatched
# rendering would silently break later stats pruning).
# ---------------------------------------------------------------------------


@dataclass
class LakeWriteMessage(WriterCommitMessage):
    """One task's written file (or None for an empty slice) + its
    numeric min/max stats, PLUS the column-mapping generation the file
    was written under. The engine builds the write-leg writer ONCE at
    query start but re-instantiates the commit-leg writer fresh per
    batch (PythonStreamingSinkCommitRunner), so any state the commit
    needs about what the FILES actually contain must travel in the
    messages — instance attributes captured at commit-leg __init__
    describe the log at COMMIT time, not write time."""

    file: str | None = None
    rows: int = 0
    stats: dict = field(default_factory=dict)
    #: mapping the task renamed columns under (logical -> physical)
    cm: dict = field(default_factory=dict)
    #: the mapping generation cm was derived FROM (drift base)
    prior_cm: dict = field(default_factory=dict)


class _LakeArrowWriterCore:
    """Shared write/commit machinery for the streaming sink and the
    batch writer — identical file format, stats, mapping discipline,
    and claim-loop checks; only the txn leg differs (streams carry the
    (txnAppId, batchId) watermark, batch saves have no replay to
    defend against).

    One deliberate divergence from ``commit()``: OVERWRITE KEEPS the
    table's column mapping instead of resetting it — the long-lived
    stream write-leg writer renames columns under the mapping it
    captured at query start, so a reset would misbind every later
    batch's files. Delta's overwrite keeps the mapping too; the batch
    writer follows the same rule so the format is self-consistent."""

    def __init__(self, path: str, schema: StructType, overwrite: bool,
                 options: dict, require_txn: bool):
        self._path = path
        self._schema = schema
        #: "stream sink" or "batch writer" — error text must not tell a
        #: df.write user to restart a nonexistent streaming query
        self._kind = "stream sink" if require_txn else "batch writer"
        self._mode = "overwrite" if overwrite else "append"
        self._app_id = _opt(options, "txnAppId")
        if require_txn and not self._app_id:
            raise ValueError(
                f"{FORMAT_NAME} sink needs option('txnAppId', ...): the "
                "(appId, batchId) watermark in the commit log is what "
                "makes replayed micro-batches idempotent. Give each "
                "logical stream its own stable id."
            )
        sc = _opt(options, "statsColumns")
        self._stats_cols = tuple(
            c.strip() for c in sc.split(",") if c.strip()
        ) if sc else ()
        self._allow_evolution = _flag(options, "allowSchemaEvolution")
        snap = _snapshot(path)
        # the mapping generation the write-leg tasks rename under; the
        # commit leg learns it from the MESSAGES (see LakeWriteMessage)
        from ..operators.versioned import _derive_cm

        self._prior_cm = snap.column_mapping
        # append semantics for the derivation even in overwrite mode:
        # the sink keeps the mapping (class docstring), so collisions
        # with live/retired physicals must still get fresh names
        self._cm, _ = _derive_cm(
            self._prior_cm, "append", [f.name for f in schema.fields]
        )
        by_name = {f.name: f for f in schema.fields}
        missing = [c for c in self._stats_cols if c not in by_name]
        if missing:
            raise ValueError(
                f"statsColumns {missing} not in the stream schema "
                f"(has {sorted(by_name)}) — a typo here would silently "
                "record no stats and degrade later pruning to full scans."
            )
        numeric = {"byte", "short", "integer", "long", "float", "double"}
        bad = [
            c for c in self._stats_cols
            if by_name[c].dataType.typeName() not in numeric
        ]
        if bad:
            raise ValueError(
                f"statsColumns {bad} are non-numeric; the native sink "
                "records numeric min/max only (temporal/string stat "
                "renderings differ between pyarrow and Spark and would "
                "poison later pruning). Use run_append_stream for full "
                "stats collection."
            )
        if snap.version is not None:
            from ..operators.versioned import _check_append_drift

            logged = snap.table_schema
            if logged is None:
                # publishing the stream schema as authoritative over a
                # pre-schema-recording log would silently NARROW the
                # table's union schema (live files may carry columns
                # the stream lacks) — same refusal as _declared_fields
                raise ValueError(
                    f"versioned table at {path} has no recorded "
                    "table_schema in its log (pre-schema code "
                    "generation); commit() to it once to record the "
                    "schema before pointing the native sink at it."
                )
            if self._mode == "append":
                # early loud failure at stream START; re-checked
                # against the fresh tip inside every commit
                _check_append_drift(
                    path, StructType.fromJson(logged), schema,
                    self._allow_evolution, what=f"{self._kind} append",
                )

    # -- executor leg ------------------------------------------------

    def write(self, iterator) -> LakeWriteMessage:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from ..operators.versioned import table_constraints

        if table_constraints(self._path):
            # checked per task BEFORE any file lands (a mid-stream
            # "ALTER ADD CONSTRAINT" must not leak this batch's files):
            # the commit leg has no SparkSession to enforce SQL exprs
            raise ValueError(
                f"table {self._path} has CHECK constraints; the native "
                "sink cannot enforce them — use streaming.versioned_sink"
                ".run_append_stream (foreachBatch -> full commit() "
                "semantics) for constrained tables."
            )
        m = self._cm.get("map", {})
        writer = None
        rel = None
        rows = 0
        mins: dict = {}
        maxs: dict = {}
        stat_phys = [m.get(c, c) for c in self._stats_cols]
        for b in iterator:
            if not b.num_rows:
                continue
            t = pa.Table.from_batches([b])
            if m:
                t = t.rename_columns(
                    [m.get(c, c) for c in t.column_names]
                )
            if writer is None:
                rel_dir = os.path.join(
                    "data", f"commit-dsw-{_uuid.uuid4().hex[:12]}"
                )
                os.makedirs(
                    os.path.join(self._path, rel_dir), exist_ok=True
                )
                rel = os.path.join(
                    rel_dir, f"part-{_uuid.uuid4().hex}.parquet"
                )
                writer = pq.ParquetWriter(
                    os.path.join(self._path, rel), t.schema
                )
            # batch-by-batch: peak memory is ONE arrow batch, not the
            # whole task slice (catch-up batches can be arbitrarily big)
            writer.write_table(t)
            rows += t.num_rows
            for phys in stat_phys:
                if phys in t.column_names:
                    mm = pc.min_max(t[phys]).as_py()
                    if mm["min"] is not None:
                        if phys not in mins or mm["min"] < mins[phys]:
                            mins[phys] = mm["min"]
                        if phys not in maxs or mm["max"] > maxs[phys]:
                            maxs[phys] = mm["max"]
        if writer is None:
            return LakeWriteMessage(cm=self._cm, prior_cm=self._prior_cm)
        writer.close()
        stats = {p: [mins[p], maxs[p]] for p in mins}
        return LakeWriteMessage(
            file=rel, rows=rows, stats=stats,
            cm=self._cm, prior_cm=self._prior_cm,
        )

    # -- driver leg (commit runner process, pure-log) ------------------

    def _cleanup(self, messages) -> None:
        import shutil as _shutil

        for msg in messages or []:
            if msg is not None and msg.file:
                _shutil.rmtree(
                    os.path.dirname(os.path.join(self._path, msg.file)),
                    ignore_errors=True,
                )

    def _commit_impl(self, messages, batch_id: int | None) -> None:
        import time as _time

        from ..operators.versioned import (
            _check_append_drift,
            _publish,
            watermark_covered,
        )

        has_txn = batch_id is not None and self._app_id is not None
        tw = ({"app_id": self._app_id, "version": int(batch_id)}
              if has_txn else None)
        snap = _snapshot(self._path)
        if watermark_covered(snap, tw):
            # replay after a published commit: the retried tasks wrote
            # fresh files nothing references — drop them, keep the
            # original commit
            self._cleanup(messages)
            return
        # the files' OWN mapping generation, from the write-leg
        # messages; an empty batch falls back to this (fresh) instance's
        # capture — with no files there is nothing to misbind
        carrier = next(
            (m for m in messages if m is not None and m.file), None
        )
        msg_cm = carrier.cm if carrier else self._cm
        msg_prior = carrier.prior_cm if carrier else self._prior_cm
        added = sorted(m.file for m in messages if m is not None and m.file)
        file_stats = {
            m.file: m.stats
            for m in messages
            if m is not None and m.file and m.stats
        }
        table_schema = self._schema
        schema_changed = False

        def build(version: int, prev: Snapshot) -> dict | None:
            nonlocal table_schema, schema_changed
            if watermark_covered(prev, tw):
                return None
            if version > 0:
                # INSIDE the claim loop (re-runs on every lost race,
                # like wap.publish_staged): the current mapping must be
                # the generation the files were written under — or the
                # one this sink itself published (a collision-derived
                # mapping lands with the first batch and stays current
                # for the rest of the run)
                if prev.column_mapping not in (msg_prior, msg_cm):
                    remedy = (
                        "restart the query" if self._kind == "stream sink"
                        else "retry the save"
                    )
                    raise ValueError(
                        f"column mapping on {self._path} moved while "
                        f"the {self._kind} was writing (concurrent "
                        "RENAME/DROP): this batch's files carry the old "
                        f"physical layout — {remedy}."
                    )
            if self._mode == "append" and version > 0:
                logged = prev.table_schema
                if logged is not None:
                    # THE shared drift rule, against the fresh tip
                    table_schema, schema_changed = _check_append_drift(
                        self._path, StructType.fromJson(logged),
                        self._schema, self._allow_evolution,
                        what=f"{self._kind} append",
                    )
            removed = prev.live if self._mode == "overwrite" else []
            entry = {
                "version": version,
                "timestamp": _time.time(),
                "mode": self._mode,
                "added": added,
                "removed": removed,
                "operation": (
                    f"STREAM-SINK({self._app_id})" if has_txn
                    else f"WRITE({FORMAT_NAME})"
                ),
                "table_schema": table_schema.jsonValue(),
            }
            if has_txn:
                entry["txn"] = tw
            if file_stats:
                entry["file_stats"] = file_stats
            if schema_changed:
                entry["schema_changed"] = True
            if msg_cm != msg_prior:
                # collision-derived fresh physicals: record the files'
                # binding (overwrite mode still KEEPS the mapping —
                # class docstring)
                entry["column_mapping"] = msg_cm
            return entry

        try:
            published = _publish(self._path, build, planned=snap)
        except Exception:
            # SchemaDriftError / mapping drift / CommitConflict after
            # exhausted retries: the batch's files were never referenced
            # by any entry and vacuum's universe is log-referenced files
            # — without this they would leak forever
            self._cleanup(messages)
            raise
        if published is None:
            self._cleanup(messages)  # duplicate won the race


class MedallionLakeStreamWriter(_LakeArrowWriterCore,
                                DataSourceStreamArrowWriter):
    """APPEND (default) or per-batch OVERWRITE (outputMode complete):
    one atomic versioned commit per micro-batch, exactly-once via the
    (txnAppId, batchId) watermark (required)."""

    def __init__(self, path: str, schema: StructType, overwrite: bool,
                 options: dict):
        super().__init__(path, schema, overwrite, options,
                         require_txn=True)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        self._commit_impl(messages, int(batchId))

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._cleanup(messages)


class MedallionLakeBatchWriter(_LakeArrowWriterCore,
                               DataSourceArrowWriter):
    """``df.write.format("medallion_lake").save(path)`` — SaveMode
    append/overwrite as one atomic versioned commit (same file format,
    stats, mapping and drift discipline as the streaming sink; no txn
    leg — batch saves have no replay to defend against)."""

    def __init__(self, path: str, schema: StructType, overwrite: bool,
                 options: dict):
        super().__init__(path, schema, overwrite, options,
                         require_txn=False)

    def commit(self, messages) -> None:
        self._commit_impl(messages, None)

    def abort(self, messages) -> None:
        self._cleanup(messages)


def register_lake_source(spark) -> None:
    """Idempotent registration of the ``medallion_lake`` format. Also
    enables ``spark.sql.python.filterPushdown.enabled`` (runtime SQL
    conf, default false in 4.1): with it off, Spark refuses ANY reader
    that implements ``pushFilters`` — the batch reader's file skipping
    needs it."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MedallionLakeDataSource)


def read_table_stream(spark, path: str, **options):
    """``spark.readStream`` over a versioned table (registers the
    source first). Keyword options mirror the format options:
    ``starting_version``, ``ignore_deletes``, ``ignore_changes``,
    ``read_change_feed``, ``max_versions_per_batch``."""
    register_lake_source(spark)
    reader = spark.readStream.format(FORMAT_NAME)
    rename = {
        "starting_version": "startingVersion",
        "starting_timestamp": "startingTimestamp",
        "ignore_deletes": "ignoreDeletes",
        "ignore_changes": "ignoreChanges",
        "read_change_feed": "readChangeFeed",
        "max_versions_per_batch": "maxVersionsPerBatch",
    }
    for k, v in options.items():
        reader = reader.option(rename.get(k, k), str(v))
    return reader.load(path)

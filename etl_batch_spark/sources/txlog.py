"""Transaction-log table format (lakehouse mechanics, Spark-first).

A minimal implementation of the idea behind Delta Lake / Iceberg's
commit protocol (Armbrust et al., VLDB 2020): the TABLE is not "all
parquet under a directory" but "the file set named by the newest entry
of an ordered log".  That single inversion buys, with plain parquet
underneath:

- **atomic commits** — a version becomes visible when its JSON entry
  appears in ``_txlog/`` (one atomic rename); partial parquet writes
  are invisible because unreferenced files are not part of any version;
- **snapshot isolation** — a reader resolves its file list from the log
  once; compaction/overwrite commits ADD files and mark old ones
  removed but never delete them, so in-flight readers keep a
  consistent view;
- **time travel** — ``read(version=N)`` replays the log prefix;
- **safe compaction** — ``compact()`` rewrites small files into large
  ones as just another commit; ``vacuum()`` is the only physical
  delete and respects a retention horizon of versions.

At 100 TB the log is metadata (KBs per commit, file names + counts) —
table state resolution never lists the filesystem, which is exactly
what makes S3-scale tables usable.

Concurrency is optimistic (Delta's protocol shape): each commit claims
exactly one version slot via an atomic create-if-absent (``os.link``
locally; a conditional put / commit service on an object store — the
reader protocol is identical either way).  Blind appends commute and
auto-retry a lost race at the new head; snapshot-conditioned writes
(overwrite / merge / compact) carry the version they read and raise
:class:`ConcurrentWriteConflict` if any commit landed after it — the
caller re-reads and recomputes, so two racing read-modify-writes
serialize instead of one silently losing (the reference serializes
writers up front via its duplicate-run check,
pkg_batch_util_body.sql:219–247, 438–446).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_LOG_DIR = "_txlog"
_ENTRY_RE = re.compile(r"^(\d{8})\.json$")
_CKPT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")

# blind appends commute, so a lost commit race is retried at the new
# head; the cap only bounds pathological contention (the staged data
# is written once — each retry re-writes ~100 bytes of metadata)
_APPEND_RETRIES = 16


class ConcurrentWriteConflict(RuntimeError):
    """Another writer committed the version slot this transaction needed.

    Raised instead of silently losing either writer's commit.  Appends
    auto-retry (they commute); snapshot-conditioned writes (overwrite /
    merge / compact) surface the conflict so the caller re-reads the
    now-current snapshot and recomputes — retrying the stale rewrite
    would undo the other writer's rows.  The reference serializes
    writers up front with its duplicate-run check
    (pkg_batch_util_body.sql:219–247, 438–446); optimistic conflict
    detection is the lakehouse-native equivalent when writers cannot
    coordinate before starting.
    """


class SchemaEvolutionError(ValueError):
    """An append's schema differs from the table's without explicit
    ``merge_schema=True``, or evolution would change an existing
    column's type.  Silent schema drift is how a lakehouse table rots:
    Delta refuses exactly the same way by default."""


@dataclass(frozen=True)
class Version:
    version: int
    action: str  # append | overwrite | merge | compact
    added: "list[str]"
    removed: "list[str]"
    # rows in the files THIS commit added (a merge counts only the
    # rewritten files, not the snapshot)
    n_rows: int
    # free-form commit metadata (e.g. the streaming maintainer records
    # the micro-batch id here, making replay detection part of the
    # atomic commit itself)
    meta: "dict | None" = None
    # the FULL table schema as of this commit (StructType.jsonValue()).
    # Stored in the log so readers never scan parquet footers to learn
    # the schema — at 100 TB a mergeSchema footer sweep is a full
    # metadata pass; the log entry is O(columns).  Entries written
    # before round 8 lack it; read() falls back to footer inference.
    schema: "dict | None" = None
    # per-ADDED-file column envelopes {relpath: {col: [min, max]}},
    # harvested from the parquet footers of the files THIS commit wrote
    # (one footer read per new file, at write time — never again).
    # read_where() prunes files whose envelope is disjoint from the
    # query range: Delta's data-skipping-from-log-statistics, the read
    # optimization that makes a 100 TB table answer a narrow query by
    # scanning the handful of files that can contain it.  Entries
    # written before round 9 lack it; their files are simply never
    # pruned (correct, just unskipped).
    stats: "dict | None" = None


def _stat_value(v):
    """Normalize a parquet-footer statistic (or a query bound) into the
    JSON-safe total order pruning compares in: numbers stay numbers,
    strings stay strings, timestamps AND dates → epoch micros (one
    shared scale, so a date bound on a timestamp column — or vice
    versa — compares correctly instead of silently pruning
    everything).  Naive datetimes are interpreted as UTC, matching the
    engine's pinned ``spark.sql.session.timeZone`` so the pruning
    decision and the residual filter read the same instant (a
    local-tz interpretation would mis-prune whenever driver tz ≠
    session tz).  None = not statable (NaN, bytes that aren't UTF-8,
    exotic types) — a file with an unstatable envelope is read, never
    skipped; a cross-type comparison (string bound vs numeric
    envelope) raises TypeError at the compare site and is likewise
    treated as unprunable."""
    import datetime

    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, float):
        return None if v != v else v  # NaN poisons comparisons
    if isinstance(v, int):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):  # before date: datetime IS a date
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        epoch = datetime.date(1970, 1, 1).toordinal()
        return (v.toordinal() - epoch) * 86_400_000_000
    return None


def _file_stats(full_path: str) -> "tuple[int, dict[str, list]]":
    """(row count, {col: [min, max]}) from one parquet footer — only
    TOP-LEVEL columns whose every row group carries usable stats.
    Parquet footer metadata is per LEAF column (a struct explodes into
    one chunk per field), so columns are matched by ``path_in_schema``
    — indexing leaves by top-level schema position would attribute a
    nested field's envelope to the wrong column name and make
    read_where prune on the wrong column's stats.  Nested columns are
    simply not statted (range predicates on them aren't supported
    here)."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(full_path) as pf:  # close deterministically —
        md = pf.metadata  # a large append stages hundreds of files and
        # must not hold an fd per file until GC
    per_col: "dict[str, list[list]]" = {}
    unusable: "set[str]" = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            chunk = md.row_group(rg).column(ci)
            path = chunk.path_in_schema
            if "." in path:  # leaf of a nested column
                unusable.add(path.split(".", 1)[0])
                continue
            if path in unusable:
                continue
            st = chunk.statistics
            lo = hi = None
            if st is not None and st.has_min_max:
                lo, hi = _stat_value(st.min), _stat_value(st.max)
            if lo is None or hi is None:
                unusable.add(path)  # one unstatted row group poisons
                per_col.pop(path, None)
                continue
            per_col.setdefault(path, []).append([lo, hi])
    out = {
        col: [min(e[0] for e in envs), max(e[1] for e in envs)]
        for col, envs in per_col.items()
        if envs and col not in unusable
    }
    return md.num_rows, out


def _disjoint(envelopes: "dict | None", bounds: "dict[str, tuple]") -> bool:
    """True when a file's logged envelopes ({col: [min, max]}) lie
    wholly outside ``bounds`` ({col: (lo, hi)}, ``_stat_value``-normal,
    None = unbounded) on at least one column, so no row of the file can
    fall inside them.  A column without an envelope, or a bound of
    another type than its envelope, never decides: the file is read."""
    for col, (lo, hi) in bounds.items():
        env = (envelopes or {}).get(col)
        if env is None:
            continue
        try:
            if (hi is not None and env[0] > hi) or (
                lo is not None and env[1] < lo
            ):
                return True
        except TypeError:
            continue
    return False


def _norm_schema(schema: T.StructType) -> T.StructType:
    """Nullability-normalized copy: parquet round-trips make everything
    nullable, so schema identity is (name, type) only."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema.fields]
    )


def _merge_schemas(cur: T.StructType, new: T.StructType) -> T.StructType:
    """cur's columns in order, then new's additions; a type change on an
    existing column refuses (widening casts are a rewrite, not an
    append)."""
    by_name = {f.name: f for f in cur.fields}
    out = list(cur.fields)
    for f in new.fields:
        have = by_name.get(f.name)
        if have is None:
            out.append(T.StructField(f.name, f.dataType, True))
        elif have.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name!r} is {have.dataType.simpleString()} in "
                f"the table but {f.dataType.simpleString()} in the append; "
                "type changes need an overwrite, not schema merge"
            )
    return T.StructType(out)


class TxTable:
    """A parquet table whose contents are defined by ``_txlog/``.

    ``checkpoint_interval``: every Nth commit also writes a CHECKPOINT
    file (``{v:08d}.checkpoint.json``) holding the fully-folded
    snapshot state at that version — live file set + schema + commit
    meta.  Snapshot resolution then reads one checkpoint plus at most
    N tail entries instead of walking every commit since v0 (Delta
    writes a parquet checkpoint every 10 commits for exactly this
    reason: at pipeline commit rates the log walk becomes the metadata
    bottleneck).  Checkpoints are DERIVED data — deterministic folds
    of the authoritative entry log — so writing one is best-effort and
    idempotent (two racing writers produce identical bytes), deleting
    one is always safe, and the OCC commit protocol is untouched.
    ``vacuum()`` and ``history()`` still walk the full log: they need
    every version's file lists by definition."""

    def __init__(self, spark: SparkSession, path: str,
                 checkpoint_interval: int = 10):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(self.log_dir, exist_ok=True)

    # -- log ---------------------------------------------------------------

    def _log_names(self) -> "tuple[list[int], list[int]]":
        """(entry versions, checkpoint versions), from file NAMES only
        — one directory listing, zero file reads."""
        entries: "list[int]" = []
        ckpts: "list[int]" = []
        for name in os.listdir(self.log_dir):
            m = _ENTRY_RE.match(name)
            if m:
                entries.append(int(m.group(1)))
                continue
            m = _CKPT_RE.match(name)
            if m:
                ckpts.append(int(m.group(1)))
        return sorted(entries), sorted(ckpts)

    def _read_entry(self, version: int) -> Version:
        with open(os.path.join(self.log_dir, f"{version:08d}.json")) as f:
            return Version(**json.load(f))

    def _entries(self, lo: int, hi: int,
                 present: "list[int] | None" = None) -> "list[Version]":
        """Log entries with ``lo <= version <= hi`` — reads exactly
        those files, not the whole log.  Pass ``present`` (an
        already-obtained ``_log_names()`` listing) to avoid a second
        directory LIST — on an object-store log every listing is a
        paid round trip."""
        if present is None:
            present, _ = self._log_names()
        return [self._read_entry(v) for v in present if lo <= v <= hi]

    def _require_present(self, files: "list[str]", what: str) -> None:
        """The vacuum-retention-horizon refusal every historical read
        shares: raise a clean ValueError when any resolved file was
        physically deleted, instead of a scan-time path-not-found from
        deep inside the reader."""
        gone = [
            f for f in files
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if gone:
            raise ValueError(
                f"{what} references {len(gone)} file(s) removed by "
                f"vacuum() (e.g. {gone[0]}); historical reads are "
                "bounded by the vacuum retention horizon"
            )

    def versions(self) -> "list[Version]":
        """The FULL entry log (audit surface; vacuum/history need it).
        Snapshot reads should use :meth:`_snapshot` instead."""
        present, _ = self._log_names()
        return [self._read_entry(v) for v in present]

    def latest_version(self) -> int:
        present, _ = self._log_names()
        return present[-1] if present else -1

    def _snapshot(
        self, version: "int | None" = None,
        names: "tuple[list[int], list[int]] | None" = None,
    ) -> "tuple[list[str], T.StructType | None, dict]":
        """(live files, schema, per-file stats) of the snapshot at
        ``version`` (newest when None), resolved from the latest
        checkpoint at-or-before it plus the tail entries after —
        O(checkpoint_interval) file reads regardless of table age.
        Pass ``names`` (a prior ``_log_names()`` result) to reuse one
        directory listing across an operation.

        An explicit ``version`` must EXIST: asking for a version past
        the head (or below -1, the canonical empty snapshot) raises
        instead of silently resolving to the newest state — a caller
        tracking versions of a lagging replica must find out, not get
        current data labeled historical (Delta raises VersionNotFound
        for the same reason)."""
        present, ckpts = self._log_names() if names is None else names
        head = present[-1] if present else -1
        if version is not None and not (-1 <= version <= head):
            raise ValueError(
                f"version {version} of {self.path} does not exist "
                f"(head is v{head})"
            )
        v = head if version is None else version
        base = max((c for c in ckpts if c <= v), default=None)
        live: "set[str]" = set()
        stats: "dict[str, dict]" = {}
        schema_json = None
        start = 0
        if base is not None:
            with open(os.path.join(
                    self.log_dir, f"{base:08d}.checkpoint.json")) as f:
                ck = json.load(f)
            live = set(ck["live"])
            stats = dict(ck.get("stats") or {})
            schema_json = ck.get("schema")
            start = base + 1
        for e in self._entries(start, v, present=present):
            live -= set(e.removed)
            live |= set(e.added)
            for f in e.removed:
                stats.pop(f, None)
            if e.stats:
                stats.update(e.stats)
            if e.schema is not None:
                schema_json = e.schema
        schema = (T.StructType.fromJson(schema_json)
                  if schema_json is not None else None)
        return sorted(live), schema, {
            f: s for f, s in stats.items() if f in live
        }

    def _write_checkpoint(self, version: int) -> None:
        """Best-effort: checkpoints are deterministic folds of the
        entry log, so a failure loses nothing and a racing duplicate
        write produces identical content (os.replace clobber is
        safe)."""
        try:
            live, schema, stats = self._snapshot(version)
            entry = self._read_entry(version)
            payload = {
                "version": version,
                "live": live,
                "schema": schema.jsonValue() if schema is not None else None,
                "meta": entry.meta,
                "stats": stats,
            }
            tmp = os.path.join(self.log_dir, f".tmp-ck-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(
                tmp,
                os.path.join(self.log_dir, f"{version:08d}.checkpoint.json"),
            )
        except Exception:  # pragma: no cover — derived data, never
            # fatal: the commit ALREADY landed when this runs, so any
            # escape here (corrupt prior checkpoint JSON, schema parse
            # error, IO) would report a successful commit as a failure
            # and push the caller into a duplicating retry
            pass

    def schema_at(
        self,
        version: "int | None" = None,
        versions: "list[Version] | None" = None,
    ) -> "T.StructType | None":
        """Table schema of the snapshot at ``version`` (newest when
        None), resolved from the log alone — never a parquet footer.
        None for tables whose log predates schema tracking."""
        if versions is None:
            return self._snapshot(version)[1]
        out = None
        for v in versions:
            if version is not None and v.version > version:
                break
            if v.schema is not None:
                out = v.schema
        return T.StructType.fromJson(out) if out is not None else None

    def _active_files(
        self,
        version: "int | None" = None,
        versions: "list[Version] | None" = None,
    ) -> "list[str]":
        """File set of the snapshot at ``version`` (newest when None).
        Pass ``versions`` to reuse an already-read log instead of
        re-listing it (object-store log reads are the metadata cost);
        otherwise resolution is checkpoint-accelerated."""
        if versions is None:
            return self._snapshot(version)[0]
        live: "set[str]" = set()
        for v in versions:
            if version is not None and v.version > version:
                break
            live -= set(v.removed)
            live |= set(v.added)
        return sorted(live)

    def _commit(self, action: str, added: "list[str]", removed: "list[str]",
                n_rows: int, meta: "dict | None" = None,
                expected_version: "int | None" = None,
                schema: "T.StructType | None" = None,
                stats: "dict | None" = None) -> int:
        """Write one log entry at exactly one version slot, atomically
        and WITHOUT clobbering: the visibility point is ``os.link`` of a
        private tmp file onto ``{version:08d}.json``, which fails with
        EEXIST when another writer already owns the slot (the local-fs
        stand-in for an object store's conditional put / a commit
        service's CAS).  A plain ``os.rename`` here would silently
        overwrite a racing writer's commit — the lost-update anomaly
        optimistic concurrency exists to prevent.

        ``expected_version`` pins the slot for snapshot-conditioned
        writes (overwrite/merge/compact read version N and must land at
        exactly N+1 — landing later would base the rewrite on a stale
        snapshot); when None the slot is head+1 at commit time.  Raises
        :class:`ConcurrentWriteConflict` when the slot is taken.
        """
        version = (self.latest_version() + 1
                   if expected_version is None else expected_version)
        entry = Version(version=version, action=action, added=added,
                        removed=removed, n_rows=n_rows, meta=meta,
                        schema=schema.jsonValue() if schema is not None else None,
                        stats=stats or None)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as f:
                json.dump(entry.__dict__, f)
        except BaseException:
            # e.g. non-JSON-serializable meta: don't leave the tmp file
            # stranded in _txlog (nothing ever sweeps it)
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        final = os.path.join(self.log_dir, f"{version:08d}.json")
        try:
            # the atomic visibility point (create-if-absent, never clobber)
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentWriteConflict(
                f"version {version} of {self.path} was committed by a "
                f"concurrent writer (head is now v{self.latest_version()}); "
                "re-read the snapshot and retry"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:  # pragma: no cover — a failed cleanup of a
                pass         # linked commit must not fail the commit
        if (self.checkpoint_interval
                and version > 0
                and version % self.checkpoint_interval == 0):
            self._write_checkpoint(version)
        # INVARIANT: once os.link succeeded, nothing after it raises —
        # callers' failure-path cleanup may therefore assume a raised
        # _commit means the staged files are unreferenced
        return version

    # -- writes ------------------------------------------------------------

    def _write_files(self, df: DataFrame) -> "tuple[list[str], int, dict]":
        """Write df as new parquet files under a unique subdir; returns
        (relative file paths, row count, per-file column envelopes).
        Files are invisible until a commit references them.  The
        envelope harvest is one footer read per NEW file at write time
        — the only moment footers are ever touched; readers get the
        stats from the log.  The commit's row count comes from the
        same footers (exact, no second data scan)."""
        from etl_batch_spark.sources.io import pinned_conf

        sub = f"data-{uuid.uuid4().hex}"
        out = os.path.join(self.path, sub)
        # Pinned at the write site, not just in the engine's session
        # factory: the driver contract hands TxTable whatever session it
        # built, and PySpark's stock default (INT96) writes timestamp
        # columns with NO parquet min/max statistics — the footer
        # harvest below would silently record no envelope and
        # read_where would degrade to scan-everything (et42's round-9
        # driver failure).  set/restore so the caller's conf survives.
        with pinned_conf(
            df.sparkSession,
            "spark.sql.parquet.outputTimestampType",
            "TIMESTAMP_MICROS",
        ):
            df.write.mode("overwrite").parquet(out)
        files = sorted(
            os.path.join(sub, n)
            for n in os.listdir(out)
            if n.endswith(".parquet")
        )
        n_rows = 0
        stats = {}
        for f in files:
            n, s = _file_stats(os.path.join(self.path, f))
            n_rows += n
            if s:
                stats[f] = s
        return files, n_rows, stats

    @staticmethod
    def _check_meta(meta: "dict | None") -> None:
        """Fail BEFORE staging data: a non-JSON-serializable meta would
        otherwise be discovered only at commit time, after the full
        parquet write."""
        if meta is not None:
            try:
                json.dumps(meta)
            except TypeError as exc:
                raise TypeError(
                    f"commit meta must be JSON-serializable: {exc}"
                ) from None

    def _rewrite(self, action: str, df: DataFrame, removed: "list[str]",
                 read_version: int, meta: "dict | None",
                 schema: "T.StructType | None") -> int:
        """Stage ``df`` and commit it in place of ``removed`` at exactly
        ``read_version + 1`` — the snapshot-conditioned write overwrite,
        merge and compact share.  A lost slot raises
        :class:`ConcurrentWriteConflict`; any failure reclaims the
        staged files."""
        added, n, stats = self._write_files(df)
        try:
            return self._commit(action, added, removed, n, meta,
                                expected_version=read_version + 1,
                                schema=schema, stats=stats)
        except Exception:
            # the rewrite will never be referenced (conflict: stale and
            # recomputed from the fresh snapshot; any other failure:
            # _commit raises only before the entry links).  Exception,
            # not BaseException — see append's handler: an interrupt
            # escaping _commit post-link must leak staging (vacuum
            # sweeps it), never delete a committed version's data.
            self._cleanup_staged(added)
            raise

    def _scan(self, files: "list[str]", schema: "T.StructType | None",
              version: "int | None" = None) -> DataFrame:
        """Read exactly ``files`` under the log schema (footer inference
        only for logs that predate schema tracking).  No files reads as
        an empty frame typed from the log schema — an EMPTIED table
        (e.g. a merge that deleted every row) is a valid snapshot."""
        if not files:
            if schema is None:
                raise ValueError(
                    f"table {self.path} has no data at version {version} "
                    "and no log-recorded schema to type an empty snapshot"
                )
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[os.path.join(self.path, f) for f in files])

    def _cleanup_staged(self, files: "list[str] | None") -> None:
        """Best-effort delete of parquet staged for a commit that will
        never land.  Unreferenced files are invisible to readers, but
        vacuum()'s version walk only reclaims files some log entry
        added — without this, a permanently failed commit (exhausted
        retries, schema refusal on retry re-resolution, a conflicted
        overwrite) leaks its staging subdir until an orphan sweep."""
        if not files:
            return
        for sub in {f.split(os.sep, 1)[0] for f in files}:
            shutil.rmtree(os.path.join(self.path, sub), ignore_errors=True)

    def _evolved_schema(
        self, df: DataFrame, *, merge_schema: bool,
        version: "int | None" = None,
    ) -> T.StructType:
        """The table schema an append of ``df`` commits: unchanged when
        the columns match (any order), merged when ``merge_schema`` is
        set, refused otherwise — Delta's default write contract.
        ``version`` resolves against that snapshot's schema so the
        caller can pin its commit slot to the same head it resolved
        the schema from."""
        new = _norm_schema(df.schema)
        cur = self.schema_at(version)
        if cur is None:
            return new
        if {(f.name, f.dataType) for f in cur.fields} == {
            (f.name, f.dataType) for f in new.fields
        }:
            return cur
        if not merge_schema:
            raise SchemaEvolutionError(
                f"append schema {new.simpleString()} differs from table "
                f"schema {cur.simpleString()}; pass merge_schema=True to "
                "evolve (new columns NULL-fill in old snapshots' files)"
            )
        return _merge_schemas(cur, new)

    def append(self, df: DataFrame, *, meta: "dict | None" = None,
               merge_schema: bool = False) -> int:
        """Blind append.  Appends commute — they add files and remove
        nothing — so a slot collision with a concurrent writer is
        retried automatically at the new head (Delta's WriteSerializable
        rule for AddFile-only transactions).  The staged parquet is
        written once; only the metadata commit retries.

        A schema differing from the table's refuses unless
        ``merge_schema=True``, which commits the union schema (existing
        columns keep their types — a type change refuses either way);
        files written before the evolution NULL-fill the new columns at
        read time via the log-stored schema.

        The commit slot is PINNED to the head the schema was resolved
        against (``expected_version = resolved_head + 1``): a commit
        landing in between — which may itself have evolved the schema —
        always raises the slot conflict here, and the retry re-resolves
        both head and schema together.  Landing later with the stale
        schema would silently regress the table schema (a lost update
        on schema metadata — Delta's conflict checker likewise treats
        metadata changes as conflicting with every concurrent commit).
        """
        self._check_meta(meta)
        added: "list[str] | None" = None
        n = 0
        stats: dict = {}
        try:
            for _ in range(_APPEND_RETRIES):
                head = self.latest_version()
                schema = self._evolved_schema(
                    df, merge_schema=merge_schema, version=head
                )
                if added is None:  # stage the parquet exactly once
                    added, n, stats = self._write_files(df)
                try:
                    return self._commit("append", added, [], n, meta,
                                        expected_version=head + 1,
                                        schema=schema, stats=stats)
                except ConcurrentWriteConflict:
                    continue
            raise ConcurrentWriteConflict(
                f"append to {self.path} lost the commit race "
                f"{_APPEND_RETRIES} times; head is moving too fast"
            )
        except Exception:
            # this commit will never land — reclaim its staged parquet.
            # Safe: _commit's invariant is that no *Exception* escapes
            # after the log entry links, so a raised commit means the
            # staged files are unreferenced.  (The inner retry loop
            # swallows per-attempt conflicts; only terminal failures
            # reach here.)  Deliberately NOT BaseException: a
            # KeyboardInterrupt/SystemExit can land between the link
            # and _commit's return (e.g. mid-checkpoint-write), and
            # deleting the staged files then would corrupt a version
            # that already committed — an interrupted writer instead
            # leaks the staging dir, which vacuum's orphan sweep
            # reclaims behind its age guard.
            self._cleanup_staged(added)
            raise

    def overwrite(self, df: DataFrame, *, meta: "dict | None" = None,
                  read_version: "int | None" = None) -> int:
        """Replace the snapshot.  Unlike append this does NOT commute:
        the commit removes the file set of the snapshot it was computed
        from, so racing writers must not both land.  ``read_version``
        declares which snapshot ``df`` was derived from (capture it with
        ``latest_version()`` before reading); the commit then lands at
        exactly ``read_version + 1`` or raises
        :class:`ConcurrentWriteConflict` — the caller re-reads the fresh
        snapshot, recomputes, and retries (optimistic concurrency,
        serializable for read-modify-write).  When None, the snapshot is
        resolved at commit time (single-writer legacy path); a slot
        collision still refuses rather than clobbering."""
        self._check_meta(meta)
        if read_version is None:
            read_version = self.latest_version()
        # an overwrite replaces the rows, so it may replace the schema
        # too (Delta's overwriteSchema shape) — the new snapshot's
        # schema IS df's schema
        return self._rewrite(
            "overwrite", df, self._active_files(read_version), read_version,
            meta, _norm_schema(df.schema),
        )

    def merge(
        self,
        updates: DataFrame,
        keys: "list[str]",
        *,
        delete_col: "str | None" = None,
        meta: "dict | None" = None,
        max_retries: int = 3,
    ) -> int:
        """MERGE with automatic optimistic-concurrency retry — the
        user-facing read-modify-write (Delta's MERGE contract): apply
        ``operators.merge.merge_dataframes`` (update/insert/delete/carry
        by ``keys``) to the live files that can hold an update key, and
        commit their rewrite conditioned on the snapshot read; on
        :class:`ConcurrentWriteConflict` re-read the NOW-current
        snapshot and recompute, up to ``max_retries`` times, so racing
        merges serialize instead of one failing out to the caller.
        Manual conflict handling (et39's shape) remains available
        through ``overwrite(read_version=...)`` directly.

        Cost tracks the update's footprint, not the table size (Delta
        prunes a MERGE's target files on log statistics the same way):
        one aggregate over ``updates`` bounds each integral or string
        key, and a file whose logged envelope is disjoint from those
        bounds on any such key holds no update key, so it stays live
        untouched.  Files without an envelope are read; other key types
        never prune (a timestamp bound collected on the driver would
        bring the driver's time zone into the decision).  The aggregate
        re-runs the plan of ``updates``, so it runs only once a snapshot
        holds at least two live files with an envelope on such a key —
        with fewer there is nothing it could prune — and its bounds are
        kept for later attempts.  The touched set is recomputed on every
        retry — an interleaved append may have landed a file inside the
        bounds.  A key whose update values are all NULL matches no
        target row (NULL never equals), so then no file is touched.

        ``updates`` must be unique per key and deterministic: it is
        evaluated at most once for the bounds and once per attempt for
        the rows."""
        from pyspark.sql import functions as F

        from etl_batch_spark.operators.merge import merge_dataframes

        self._check_meta(meta)
        types = {f.name: f.dataType for f in updates.schema.fields}
        prunable = [
            k for k in keys
            if isinstance(types.get(k), T.IntegralType)
            or types.get(k) == T.StringType()
        ]
        bounds: "dict[str, tuple] | None" = None
        last: "ConcurrentWriteConflict | None" = None
        for _ in range(max(1, max_retries)):
            rv = self.latest_version()
            files, schema, stats = self._snapshot(rv)
            if bounds is None and sum(
                any((stats.get(f) or {}).get(k) is not None for k in prunable)
                for f in files
            ) >= 2:
                row = updates.agg(*[F.min(k) for k in prunable],
                                  *[F.max(k) for k in prunable]).first()
                bounds = {k: (row[i], row[len(prunable) + i])
                          for i, k in enumerate(prunable)}
            if bounds is None:
                touched = files
            elif any(lo is None for lo, _ in bounds.values()):
                touched = []  # a key whose update values are all NULL matches no row
            else:
                touched = [f for f in files if not _disjoint(stats.get(f), bounds)]
            if rv < 0:
                # bootstrap: no target to merge into — inserts minus
                # explicit deletes ARE the first snapshot
                target = updates.select(
                    *[c for c in updates.columns if c != delete_col]
                ).limit(0)
            else:
                target = self._scan(touched, schema, rv)
            merged = merge_dataframes(target, updates, keys,
                                      delete_col=delete_col)
            try:
                return self._rewrite("merge", merged, touched, rv, meta,
                                     _norm_schema(merged.schema))
            except ConcurrentWriteConflict as exc:
                last = exc
                continue
        raise ConcurrentWriteConflict(
            f"merge into {self.path} conflicted {max_retries} times; "
            f"last: {last}"
        )

    def latest_meta(self) -> "dict | None":
        present, _ = self._log_names()
        return self._read_entry(present[-1]).meta if present else None

    def compact(
        self,
        *,
        target_files: int = 4,
        zorder_cols: "list[str] | None" = None,
        equal_frequency: bool = False,
    ) -> int:
        """Rewrite the current snapshot into ``target_files`` files —
        logically a no-op (same rows), physically the small-file fix.
        Old files stay on disk for in-flight readers until vacuum().

        With ``zorder_cols`` this is OPTIMIZE ZORDER: the rewrite
        clusters rows along the Morton curve (``sources.io.zorder_key``)
        so the new files carry tight footer envelopes on every listed
        column — compaction and data-skipping layout in one commit,
        exactly how Delta/Iceberg table services fold the two.  Readers
        keep snapshot isolation throughout: the clustered rewrite is one
        atomic commit like any other.
        """
        # ONE listing + ONE snapshot fold for the whole rewrite, and —
        # crucially — the rows are read AT the CAS anchor: an unpinned
        # self.read() could observe a commit landing between the anchor
        # and the read, staging a full clustered rewrite that the
        # guaranteed slot conflict then throws away
        names = self._log_names()
        present = names[0]
        read_version = present[-1] if present else -1
        if read_version < 0:
            raise ValueError(f"table {self.path} has no commits to compact")
        files, schema, _ = self._snapshot(read_version, names=names)
        current = self._scan(files, schema, read_version)
        if zorder_cols:
            from etl_batch_spark.sources.io import zorder_key

            z = zorder_key(
                current, zorder_cols, equal_frequency=equal_frequency
            )
            clustered = (
                current.withColumn("__z", z)
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            clustered = current.coalesce(target_files)
        # carry the previous commit's meta forward: compaction is a
        # logical no-op, and consumers of latest_meta() (the streaming
        # sinks' replay/incarnation detection) must still see the state's
        # provenance — dropping it would make the next micro-batch look
        # like a foreign run and wipe the accumulated state
        # CAS at read_version + 1: a writer landing mid-rewrite means
        # this compaction was computed from a stale snapshot — removing
        # its files would drop the concurrent commit's effect
        return self._rewrite("compact", clustered, files, read_version,
                             self._read_entry(read_version).meta, schema)

    def vacuum(self, *, retain_versions: int = 1,
               orphan_age_seconds: float = 3600.0) -> "list[str]":
        """Physically delete files not referenced by the newest
        ``retain_versions`` versions (1 = current snapshot only).  The
        ONLY destructive operation.

        Also sweeps ORPHANED staging subdirs — ``data-*`` dirs no log
        entry ever referenced (a writer that crashed between staging
        and commit; failure paths clean up after themselves, a kill -9
        cannot).  ``orphan_age_seconds`` is the in-flight-writer guard:
        a subdir younger than it may belong to a writer still between
        staging and commit and is left alone (Delta's vacuum applies
        the same mtime horizon to unreferenced files)."""
        if retain_versions < 1:
            raise ValueError(
                f"retain_versions must be >= 1 (the current snapshot is "
                f"always retained), got {retain_versions}"
            )
        vs = self.versions()  # one log read for the whole operation
        latest = vs[-1].version if vs else -1
        horizon = max(latest - retain_versions + 1, 0)
        # single forward fold: maintain the live set and union it into
        # `keep` for every retained version — O(V·files), not O(V²) log
        # reads
        keep: "set[str]" = set()
        live: "set[str]" = set()
        for v in vs:
            live -= set(v.removed)
            live |= set(v.added)
            if v.version >= horizon:
                keep |= live
        removed = []
        for v in vs:
            for f in v.added:
                if f not in keep:
                    full = os.path.join(self.path, f)
                    if os.path.exists(full):
                        os.remove(full)
                        removed.append(f)
        # orphan sweep: staging subdirs no log entry references at all
        ever = {f for v in vs for f in v.added}
        now = time.time()
        for sub in sorted(os.listdir(self.path)):
            full_sub = os.path.join(self.path, sub)
            if not sub.startswith("data-") or not os.path.isdir(full_sub):
                continue
            rels = [
                os.path.join(sub, name)
                for name in os.listdir(full_sub)
                if name.endswith(".parquet")
            ]
            if any(r in ever for r in rels):
                continue  # committed data — the version walk above owns it
            try:
                age = now - os.path.getmtime(full_sub)
            except OSError:
                continue  # raced with a concurrent cleanup
            if age >= orphan_age_seconds:
                shutil.rmtree(full_sub, ignore_errors=True)
                # report only what actually went away: a partially
                # failed rmtree must not claim files as deleted
                removed.extend(
                    r for r in rels
                    if not os.path.exists(os.path.join(self.path, r))
                )
        return sorted(removed)

    # -- reads -------------------------------------------------------------

    def read(self, version: "int | None" = None) -> DataFrame:
        """Snapshot read: resolve the file list from the log (never a
        filesystem listing), then read exactly those files.

        Time travel is bounded by the vacuum retention horizon: an
        explicit ``version=`` read first checks the resolved files still
        exist and refuses cleanly when vacuum() has removed any — the
        alternative is a confusing scan-time path-not-found from deep
        inside the reader.  The check costs one stat per file, paid only
        on explicit time-travel reads (the CURRENT snapshot can never
        reference vacuumed files: vacuum always retains it).

        The schema comes from the LOG — the table schema AS OF that
        version, so files written before a schema evolution NULL-fill
        the later columns and time travel sees the historical column
        set, never footers (at 100 TB a mergeSchema footer sweep is a
        full metadata pass; the log entry is O(columns)).  Logs written
        before schema tracking fall back to footer inference.

        Resolution is checkpoint-accelerated: one checkpoint read plus
        at most ``checkpoint_interval`` tail entries, however old the
        table is."""
        files, schema, _ = self._snapshot(version)
        if version is not None:
            self._require_present(files, f"snapshot at version {version}")
        return self._scan(files, schema, version)

    def read_where(
        self, version: "int | None" = None, **ranges
    ) -> DataFrame:
        """Stats-pruned snapshot read — Delta's data skipping from log
        statistics.  ``ranges`` maps column → ``(lo, hi)`` closed
        bounds (either side None = unbounded); files whose logged
        [min, max] envelope is DISJOINT from every bound are dropped
        from the scan using METADATA ALONE, and the residual row
        filter is applied to the files that remain, so the result is
        exactly ``read(version).filter(col BETWEEN lo AND hi ...)``.

        At 100 TB this is the difference between scanning the table
        and scanning the handful of files a narrow predicate can
        touch: the envelopes were harvested once at write time (one
        footer read per new file) and travel in the commit log /
        checkpoints, so pruning costs zero data-file IO.  Files
        without logged stats (pre-round-9 commits, unstatable column
        types, all-NULL envelopes) are conservatively read.  NULL rows
        never satisfy a range predicate, so skipping a file on its
        non-NULL envelope agrees with the residual filter.

        Layout matters exactly as in Delta: cluster the table
        (``compact(zorder_cols=...)`` or range-partitioned appends) so
        envelopes are tight; a randomly-laid-out table prunes
        nothing."""
        from pyspark.sql import functions as F

        if not ranges:
            return self.read(version)
        files, schema, stats = self._snapshot(version)
        if not files:
            return self.read(version)  # typed-empty / no-schema refusal
        if version is not None:
            # same retention-horizon contract as read(version=): the
            # result must be exactly read(version).filter(...), clean
            # refusal included
            self._require_present(files, f"snapshot at version {version}")
        norm = {
            col: (
                _stat_value(lo) if lo is not None else None,
                _stat_value(hi) if hi is not None else None,
            )
            for col, (lo, hi) in ranges.items()
        }
        keep = [f for f in files if not _disjoint(stats.get(f), norm)]
        residual = F.lit(True)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                residual = residual & (F.col(col) >= F.lit(lo))
            if hi is not None:
                residual = residual & (F.col(col) <= F.lit(hi))
        if not keep:
            # every file pruned: an empty, correctly-typed relation
            return self._scan(files[:1], schema).limit(0).filter(residual)
        return self._scan(keep, schema).filter(residual)

    def changes(
        self,
        v_from: int,
        v_to: "int | None" = None,
        *,
        schema=None,
    ) -> DataFrame:
        """Change feed between two versions (Delta CDF semantics for a
        table without per-row lineage): rows with ``_change_type`` in
        {'insert', 'delete'}; an update appears as delete + insert.

        ``schema`` (StructType or DDL string) types the empty bootstrap
        feed of a still-empty table so downstream consumers that select
        row columns (e.g. ``ivm.apply_feed``) see a no-op instead of an
        AnalysisException.  Without it, the bootstrap feed is typed from
        any file the log ever referenced; only a never-written table
        falls back to the bare ``_change_type`` column.

        Scale path: when every commit in ``(v_from, v_to]`` is an
        ``append``, the feed is exactly the rows of the files those
        commits ADDED — resolved from log metadata alone, reading none
        of the pre-existing table (the common incremental-ETL case, and
        O(changed data) no matter how large the table is).  Overwrites /
        merges / compactions fall back to a full multiset diff (``exceptAll``)
        of the two snapshots — the honest cost when commits rewrite
        arbitrary rows; its shuffle is 2× a snapshot scan, linear.
        Compaction alone therefore yields an EMPTY feed (same rows).
        """
        from pyspark.sql import functions as F

        names = self._log_names()  # ONE listing for the whole call
        present = names[0]
        head = present[-1] if present else -1
        if v_to is not None and not (-1 <= v_to <= head):
            raise ValueError(
                f"version {v_to} of {self.path} does not exist "
                f"(head is v{head})"
            )
        v_to = head if v_to is None else v_to
        if v_to < v_from:
            raise ValueError(f"v_to {v_to} < v_from {v_from}")
        # checkpoint-accelerated: the BEFORE endpoint resolves through
        # the nearest checkpoint; the after endpoint and the feed
        # schema fold forward over only the in-range entries — total
        # metadata reads O(interval + range), never O(table age)
        between = self._entries(v_from + 1, v_to, present=present)
        before_files, before_schema, _ = self._snapshot(v_from, names=names)
        after_live = set(before_files)
        feed_schema_json = (
            before_schema.jsonValue() if before_schema is not None else None
        )
        for e in between:
            after_live -= set(e.removed)
            after_live |= set(e.added)
            if e.schema is not None:
                feed_schema_json = e.schema
        after_files = sorted(after_live)

        # both endpoints read with the schema AS OF v_to (Delta CDF's
        # convention): an exceptAll diff needs one schema, and reading
        # the older snapshot under the newer schema NULL-fills evolved
        # columns instead of failing the union
        feed_schema = (
            T.StructType.fromJson(feed_schema_json)
            if feed_schema_json is not None else None
        )

        def snap(files: "list[str]") -> DataFrame:
            return self._scan(files, feed_schema)

        if not before_files and not after_files:
            # bootstrap cursor over a still-empty table: an empty feed,
            # typed (in priority order) from the caller-supplied schema,
            # then from any file the log ever referenced (appended then
            # deleted rows still pin the row schema), else only the
            # column the feed itself guarantees.  (Full log walk — fine:
            # only reachable while the table has no data at all.)
            # Only files that still EXIST can type the probe — a
            # vacuumed ever-file would crash the limit(0) read with a
            # scan-time path-not-found.
            ever = [
                f for v in self.versions() for f in v.added
                if os.path.exists(os.path.join(self.path, f))
            ]
            if schema is not None:
                empty = self.spark.createDataFrame([], schema)
            elif feed_schema is not None:
                # schema-tracked log: no file probe needed at all
                empty = self.spark.createDataFrame([], feed_schema)
            elif ever:
                empty = snap(ever[-1:]).limit(0)
            else:
                return self.spark.range(0).select(
                    F.lit("insert").alias("_change_type")
                )
            return empty.withColumn("_change_type", F.lit("insert")).limit(0)
        if all(v.action == "append" for v in between):
            added = [f for v in between for f in v.added]
            if not added:
                return (
                    snap(after_files)
                    .withColumn("_change_type", F.lit("insert"))
                    .limit(0)
                )
            # files appended in the range can be compacted away by a
            # LATER commit and then physically deleted by vacuum() —
            # refuse cleanly like read(version=) does instead of a
            # scan-time path-not-found deep inside the reader
            self._require_present(added, f"change feed over ({v_from}, {v_to}]")
            return snap(added).withColumn("_change_type", F.lit("insert"))
        # the diff endpoints are historical snapshots too — same
        # retention-horizon refusal as the fast path
        self._require_present(
            [*before_files, *after_files],
            f"change feed over ({v_from}, {v_to}]",
        )
        # an empty endpoint of a diff range (e.g. v_from=-1 bootstrap
        # against a table whose first commit was an overwrite) is an
        # empty relation typed like the other endpoint
        after = snap(after_files) if after_files else snap(before_files).limit(0)
        before = snap(before_files) if before_files else after.limit(0)
        ins = after.exceptAll(before).withColumn("_change_type", F.lit("insert"))
        dele = before.exceptAll(after).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dele)

    def history(self) -> "list[dict]":
        return [
            {"version": v.version, "action": v.action, "n_rows": v.n_rows,
             "n_added": len(v.added), "n_removed": len(v.removed)}
            for v in self.versions()
        ]

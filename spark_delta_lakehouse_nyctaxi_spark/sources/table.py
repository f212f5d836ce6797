"""Versioned parquet tables — the Delta Lake capability surface,
Spark-native.

The reference relies on Delta Lake for storage-level operators:
MERGE upsert (utils/incremental.py:89-156), time travel
(utils/delta_ops.py:132-164), history (:107-129), restore (:167-204),
vacuum (:65-104), OPTIMIZE/compaction (:29-54). delta-spark is not
available in this environment, so this module supplies the same
semantics on plain parquet with a JSON version log:

    <path>/_vlog/00000000.json   one manifest per version; snapshot
                                 semantics (lists ALL live data units)
    <path>/_vlog/00000010.checkpoint.parquet
                                 manifests 0..10 in one file (every 10th)
    <path>/data/<uuid>/          parquet written by one commit

A "data unit" is the granularity of reuse between versions:
- unpartitioned commit  → the commit dir itself
- partitioned commit    → each ``key=value`` subdir individually

Copy-on-write DML (merge, update, delete, replace_where) has Delta's
two-phase shape: find the units that hold a matched row, rewrite only
those, and carry every other unit over by reference. An upsert whose
keys live in 3 of 10,000 daily partitions rewrites 3 subdirs; an update
of one row in a table of many appends rewrites one commit dir. Appending
1 GB to a 100 TB table writes 1 GB.

The version log is tiny driver-side JSON metadata (like Delta's
transaction log); all data movement is Spark jobs. Each manifest is
the single source of its snapshot's metadata, in ``extra``:

- table properties, carried by every commit unless it changes them:
  ``schema`` (the physical schema as ``StructType.json()``, data
  columns then partition columns, as Delta's ``metaData.schemaString``),
  ``stats_cols`` and ``bloom_cols`` (the skipping columns every unit
  is statted and bloomed for), ``column_map`` (a pending rename) and
  the table's rules: ``constraints`` (CHECK), ``generated``,
  ``defaults`` and ``identity`` (with its allocation watermark);
- per-unit entries, carried with the unit: ``rows``, ``stats`` and
  ``blooms`` (Delta's per-file ``numRecords`` and stats);
- pending merge-on-read tombstones (``mor_deletes``), each scoped to
  the units it applies to.

Reads go through the logged schema — never inferred from the data —
so their cost does not grow with history.

Rows are checked by the job that writes them, as Delta checks CHECK
constraints inside its write job: constraints, generated-column
equations and a replaceWhere predicate are counts observed on the write
and read after it; a rejected write removes its dir before any commit.

Concurrency follows Delta's optimistic protocol: a commit is a
put-if-absent of ``<version>.json`` (``os.link`` — atomic on POSIX,
fails EEXIST if another writer won the version). Every writer commits
through one path, :meth:`VersionedTable._next`, on the version it read.
A writer whose data came from that version — merge, update, delete,
replace_where, compact, materialize_rename — raises
:class:`ConcurrentWriteError` when another commit lands first, and the
caller re-runs it on the new snapshot (Delta's conflict detection).
Blind writes (write, restore) and metadata changes (rule changes,
rename_column) instead re-read the head and run their commit step again
(:meth:`VersionedTable._retry`): a write rebases only while the table's
rules are unchanged (Delta raises ``MetadataChangedException`` there),
and a metadata change re-validates against the new head.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType


def _nullable(t):
    """``t`` with every field nullable, as the parquet reader reports it."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType))
    return t


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first. The operation's
    inputs came from a now-stale snapshot; refresh and retry."""


@dataclass
class VersionInfo:
    version: int
    timestamp: float
    operation: str
    mode: str | None
    units: list[str]  # relative paths under data/
    partition_by: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @staticmethod
    def from_json(s: str) -> "VersionInfo":
        d = json.loads(s)
        return VersionInfo(**d)


class VersionedTable:
    """A parquet table with Delta-style versioning.

    Usage::

        t = VersionedTable(spark, "/path/tbl")
        t.write(df, mode="overwrite", partition_by=["order_date"])
        t.write(more, mode="append")
        t.read()                     # latest snapshot
        t.read(version=0)            # time travel by version
        t.read(timestamp=ts)         # time travel by wall clock
        t.merge(src, keys=["id"])    # upsert (rewrites only matched units)
        t.history(); t.restore(0); t.vacuum(); t.compact()
    """

    #: auto-checkpoint the version log every N commits (Delta writes a
    #: parquet checkpoint every 10 commits for the same reason: snapshot
    #: resolution must not reopen every JSON manifest ever committed)
    checkpoint_interval: int = 10

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._vlog = os.path.join(path, "_vlog")
        self._data = os.path.join(path, "data")

    # ------------------------------------------------------------- log

    @staticmethod
    def _is_version_file(fn: str) -> bool:
        # strictly NNNNNNNN.json — checkpoints and temp files live in the
        # same dir and must not parse as a version manifest
        stem = fn[:-5]
        return fn.endswith(".json") and stem.isdigit()

    def _log_files(self) -> tuple[list[int], list[int]]:
        """One listing of the log: its version numbers and its checkpoint
        numbers, each ascending. Any other file is ignored: temp files,
        and a ``_last_checkpoint`` pointer left by older code."""
        try:
            names = os.listdir(self._vlog)
        except FileNotFoundError:
            return [], []
        versions, checkpoints = [], []
        for fn in names:
            stem, _, ext = fn.partition(".")
            if stem.isdigit() and ext in ("json", "checkpoint.parquet"):
                (versions if ext == "json" else checkpoints).append(int(stem))
        return sorted(versions), sorted(checkpoints)

    def exists(self) -> bool:
        return any(self._log_files())

    # -------------------------------------------------- log checkpoints
    #
    # Delta-style metadata scaling: snapshot resolution must not reopen
    # every JSON manifest ever committed (at 100k commits that is 100k
    # driver-side file opens per read). A checkpoint is ONE parquet file,
    # `_vlog/NNNNNNNN.checkpoint.parquet`, holding every VersionInfo up
    # to its version. `_versions()` takes the newest checkpoint its one
    # listing finds that reads, and opens only the JSON manifests AFTER
    # it. Because our manifests are tiny, the checkpoint retains the
    # FULL history, so `cleanup_log()` may delete superseded JSONs
    # without losing any time-travel target (stronger than Delta, whose
    # checkpoints hold only the live snapshot state).

    def _read_checkpoint(self, checkpoints=None) -> tuple[int, list[VersionInfo]]:
        """Return (checkpoint version, manifests ≤ that version) from the
        newest checkpoint that reads, trying older ones past an unreadable
        file; (-1, []) when none reads. ``checkpoints`` is the list from
        :meth:`_log_files`, listed here when omitted."""
        import pyarrow.parquet as pq

        if checkpoints is None:
            checkpoints = self._log_files()[1]
        for n in reversed(checkpoints):
            try:
                tbl = pq.read_table(os.path.join(self._vlog, f"{n:08d}.checkpoint.parquet"))
                manifests = tbl.column("manifest").to_pylist()
                return n, [VersionInfo.from_json(m) for m in manifests]
            except (KeyError, ValueError, OSError):
                continue  # unreadable: fall back to the next older one
        return -1, []

    def checkpoint(self) -> int:
        """Write a parquet checkpoint of the full version log. Idempotent
        and concurrency-safe: content is a pure function of the immutable
        committed manifests, and the file is put-if-absent (racing
        writers produce identical bytes). The newest checkpoint is the
        highest-numbered file, so it only moves forward."""
        vs = self._versions()
        if not vs:
            return -1
        n = vs[-1].version
        fp = os.path.join(self._vlog, f"{n:08d}.checkpoint.parquet")
        if not os.path.exists(fp):
            import pyarrow as pa
            import pyarrow.parquet as pq

            tbl = pa.table(
                {
                    "version": pa.array([v.version for v in vs], pa.int64()),
                    "manifest": pa.array([v.to_json() for v in vs], pa.string()),
                }
            )
            tmp = os.path.join(self._vlog, f".{uuid.uuid4().hex}.ckpt.tmp")
            pq.write_table(tbl, tmp)
            try:
                os.link(tmp, fp)
            except FileExistsError:
                pass  # a racing writer won with identical content
            finally:
                os.unlink(tmp)
        return n

    def cleanup_log(self) -> int:
        """Delete JSON manifests already covered by the newest checkpoint
        that reads (it retains full history, so every time-travel target
        survives). Returns the number of files removed."""
        versions, checkpoints = self._log_files()
        ck_v, _ = self._read_checkpoint(checkpoints)
        covered = [n for n in versions if n <= ck_v]
        for n in covered:
            os.unlink(os.path.join(self._vlog, f"{n:08d}.json"))
        return len(covered)

    def _versions(self) -> list[VersionInfo]:
        versions, checkpoints = self._log_files()
        _, infos = self._read_checkpoint(checkpoints)
        out = {v.version: v for v in infos}
        for n in versions:
            if n not in out:  # covered manifests are not reopened
                with open(os.path.join(self._vlog, f"{n:08d}.json")) as f:
                    out[n] = VersionInfo.from_json(f.read())
        return [out[k] for k in sorted(out)]

    def latest_version(self) -> int:
        vs = self._versions()
        return vs[-1].version if vs else -1

    def _commit(self, info: VersionInfo) -> None:
        """Atomic put-if-absent of the version manifest: ``os.link``
        fails with EEXIST when another writer already committed this
        version — the optimistic-concurrency conflict signal (os.rename
        would silently overwrite the winner's commit).

        The manifest records the row count of every live unit (Delta's
        per-file ``numRecords``): units carried from the previous
        snapshot bring theirs; the units this commit adds are counted
        here from their parquet footers, by the committing process, with
        no Spark job. The added units are also statted and bloomed here
        for the table's skipping columns (:meth:`_collect_skipping`), so
        no writer can commit a unit without them."""
        known = info.extra.get("rows", {})
        added = [u for u in info.units if u not in known]
        counted = self._footer_rows(added)
        info.extra["rows"] = {
            u: known[u] if u in known else counted[u]
            for u in info.units
            if u in known or u in counted
        }
        self._collect_skipping(info, added)
        os.makedirs(self._vlog, exist_ok=True)
        tmp = os.path.join(self._vlog, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(info.to_json())
        try:
            os.link(tmp, os.path.join(self._vlog, f"{info.version:08d}.json"))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {info.version} at {self.path} was committed by a "
                "concurrent writer"
            ) from None
        finally:
            os.unlink(tmp)
        if info.version > 0 and info.version % self.checkpoint_interval == 0:
            # best-effort, like Delta's post-commit checkpoint: a failure
            # here must never fail the (already durable) commit
            try:
                self.checkpoint()
            except Exception:
                pass

    def _next(
        self,
        info: VersionInfo,
        operation: str,
        mode: str | None,
        carried: list[str],
        new_units: list[str],
        extra: dict,
        tombstone: str | None = None,
        partition_by: list[str] | None = None,
        source: VersionInfo | None = None,
    ) -> VersionInfo:
        """Commit the version after ``info`` — the only commit path.
        It keeps the ``carried`` units of ``source`` (default ``info``)
        by reference with their metadata and ``source``'s table
        properties (:meth:`_carry`; entries in ``extra`` override them),
        adds ``new_units``, and is laid out by ``partition_by`` (default
        ``source``'s). With ``tombstone``, the predicate also commits as
        a merge-on-read delete scoped to all of ``info``'s units. The
        version is pinned: a concurrent commit since ``info`` raises
        :class:`ConcurrentWriteError` and is never silently overwritten;
        callers that may rebase re-run through :meth:`_retry`."""
        source = source or info
        xtra = {**self._carry(source, carried), **extra}
        if tombstone is not None:
            xtra["mor_deletes"] = xtra.get("mor_deletes", []) + [
                {"pred": tombstone, "units": list(info.units)}
            ]
        vinfo = VersionInfo(
            version=info.version + 1,
            timestamp=time.time(),
            operation=operation,
            mode=mode,
            units=carried + new_units,
            partition_by=list(source.partition_by if partition_by is None else partition_by),
            extra=xtra,
        )
        self._commit(vinfo)
        return vinfo

    def _retry(self, step, head: VersionInfo | None = None):
        """``step(head)`` on ``head`` (default the latest version), run
        again on the new head while a concurrent commit moves it (ten
        runs at most) — for the writers that rebase or re-validate
        rather than fail. A :class:`ConcurrentWriteError` the step raises
        on an unmoved head (a blind write whose rules changed)
        propagates at once."""
        head = head or self._head()
        for attempt in range(10):
            try:
                return step(head)
            except ConcurrentWriteError:
                moved = self._head()
                if attempt == 9 or moved.version == head.version:
                    raise
                head = moved

    def _resolve(self, version: int | None = None, timestamp: float | None = None) -> VersionInfo:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no versions at {self.path}")
        if version is not None:
            for v in vs:
                if v.version == version:
                    return v
            raise ValueError(f"version {version} not found (latest {vs[-1].version})")
        if timestamp is not None:
            eligible = [v for v in vs if v.timestamp <= timestamp]
            if not eligible:
                raise ValueError(f"no version at or before timestamp {timestamp}")
            return eligible[-1]
        return vs[-1]

    # ------------------------------------------------------- table rules
    #
    # CHECK constraints, generated columns, column defaults and identity
    # columns are table properties like the schema (Delta logs them too:
    # constraints in ``metaData.configuration``, the others in the
    # schema's field metadata), so a version's rules travel with its
    # rows through time travel, restore and clone. Each rule change
    # commits one metadata-only version.

    #: the rule properties: name → SQL expression for ``constraints``,
    #: ``generated`` and ``defaults``; name → {start, step, watermark}
    #: for ``identity``
    _RULES = ("constraints", "generated", "defaults", "identity")

    @classmethod
    def _rules(cls, info: VersionInfo) -> dict:
        """The rule properties ``info`` logs, empty ones left out."""
        return {k: info.extra[k] for k in cls._RULES if info.extra.get(k)}

    def _head(self) -> VersionInfo:
        """The latest version; for a missing table, the empty version -1
        that a first commit follows."""
        vs = self._versions()
        if vs:
            return vs[-1]
        return VersionInfo(-1, 0.0, "", None, [], extra={"schema": StructType([]).json()})

    def _set_rule(self, operation: str, key: str, name: str, value=None, validate=None) -> None:
        """Commit a metadata-only version whose ``key`` property maps
        ``name`` to ``value`` (``value=None`` drops it; dropping an
        absent rule commits nothing). ``validate(head)`` runs first
        against the head the commit builds on; the commit is pinned to
        that head, so a concurrent commit re-reads the head and
        validates again (as :meth:`rename_column` does)."""

        def step(head: VersionInfo) -> None:
            rules = dict(head.extra.get(key, {}))
            if value is None:
                if name not in rules:
                    return
                del rules[name]
            else:
                if validate is not None:
                    validate(head)
                rules[name] = value
            self._next(head, operation, None, head.units, [], {key: rules})

        self._retry(step)

    def constraints(self) -> dict[str, str]:
        """CHECK constraints of the latest version (Delta ``ALTER TABLE
        ... ADD CONSTRAINT`` analog), enforced on every write path.
        Versioned with the table: time travel, restore and clone see
        the constraints of their version."""
        return dict(self._head().extra.get("constraints", {}))

    def add_constraint(self, name: str, expr: str) -> None:
        """Register a CHECK constraint after validating the EXISTING
        data satisfies it (Delta semantics: adding a constraint scans
        the table once and fails if any current row violates). A row
        violates when the expression evaluates to FALSE; NULL passes
        (SQL CHECK semantics).

        Refused while a metadata-only rename is pending: the write
        checks rows on PHYSICAL names (:meth:`_write_checked`), so an
        expression validated here against the LOGICAL view would bind
        to a different (or missing) column at write time."""

        def validate(head: VersionInfo) -> None:
            self._require_no_column_map("add_constraint", head)
            if not self._schema(head).fields:
                return  # nothing written yet
            bad = self._existing_violations(head, {name: expr})
            if bad:
                raise ValueError(
                    f"cannot add constraint {name!r}: {bad} existing rows "
                    f"violate ({expr})"
                )

        self._set_rule("ADD CONSTRAINT", "constraints", name, expr, validate)

    def drop_constraint(self, name: str) -> None:
        self._set_rule("DROP CONSTRAINT", "constraints", name)

    def drop_generated_column(self, name: str) -> None:
        """Unregister a generated column (the data column stays; only
        the ALWAYS-AS enforcement is dropped) — the drop-and-re-add
        path the rename guards point at."""
        self._set_rule("DROP GENERATED COLUMN", "generated", name)

    # -------------------------------------------------- column defaults

    def column_defaults(self) -> dict[str, str]:
        """Registered column DEFAULTs (Delta ``ALTER TABLE ... SET
        DEFAULT`` analog): column name → SQL expression evaluated for
        rows of any WRITE that omits the column. Unlike generated
        columns, a writer MAY supply explicit values (DEFAULT fills
        gaps, ALWAYS-AS enforces); unlike Delta, defaults here apply
        only to writes after registration — existing rows are
        untouched and read back as stored."""
        return dict(self._head().extra.get("defaults", {}))

    def add_column_default(self, name: str, expr: str) -> None:
        """Register ``name DEFAULT expr``. The expression may reference
        other columns of the incoming row (a superset of Delta, whose
        defaults must be literal/constant-foldable). Validated by
        analysis against the current schema; refused while a rename
        mapping is pending (write-path evaluation binds physical
        names, same argument as add_constraint)."""

        def validate(head: VersionInfo) -> None:
            self._require_no_column_map("add_column_default", head)
            schema = self._schema(head)
            if not schema.fields:
                return  # nothing written yet
            probe = self.spark.createDataFrame([], schema)
            if name not in probe.columns:
                raise ValueError(
                    f"column {name!r} does not exist; defaults attach to "
                    "existing columns (add the column via a merge_schema "
                    "append first)"
                )
            try:
                probe.select(F.expr(expr)).schema
            except Exception:
                raise ValueError(
                    f"default expression ({expr}) does not analyze "
                    "against the table schema"
                ) from None

        self._set_rule("SET DEFAULT", "defaults", name, expr, validate)

    def drop_column_default(self, name: str) -> None:
        self._set_rule("DROP DEFAULT", "defaults", name)

    # ------------------------------------------------ identity columns

    def identity_columns(self) -> dict[str, dict]:
        """Registered identity columns (Delta ``GENERATED ALWAYS AS
        IDENTITY`` analog): name → {start, step, watermark}. The
        watermark is the next value to allocate; it advances in the
        commit that writes the ids, so two writers that allocate from
        the same watermark conflict and the loser retries with fresh
        ids. A commit that fails leaves no gap."""
        return dict(self._head().extra.get("identity", {}))

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> None:
        """Register ``name`` as GENERATED ALWAYS AS IDENTITY
        (START WITH ``start`` INCREMENT BY ``step``).

        Delta parity: identity columns can only be defined at table
        creation (``ALTER TABLE`` cannot add one), so this refuses on
        a table that already logs a column; on a missing table it
        commits version 0 with no data and an empty schema. Every write
        path that omits the column gets values assigned via the
        scale-safe ``global_row_number`` pattern (range exchange +
        offset cumsum — never a single-partition window); supplying
        explicit values is rejected (ALWAYS semantics). Unlike Delta's
        arbitrary allocation, assignment order is the lexicographic
        order of the incoming batch's other columns — deterministic,
        hence value-oracle-able."""
        if step == 0:
            raise ValueError("identity step must be non-zero")

        def validate(head: VersionInfo) -> None:
            if self._schema(head).fields:
                raise ValueError(
                    "identity columns can only be defined before the first "
                    "write (Delta parity: ALTER TABLE cannot add IDENTITY)"
                )

        spec = {"start": int(start), "step": int(step), "watermark": int(start)}
        self._set_rule("ADD IDENTITY COLUMN", "identity", name, spec, validate)

    def _assign_identity(
        self, df: DataFrame, name: str, spec: dict, only_null: bool = False
    ) -> tuple[DataFrame, dict]:
        """Assign identity values to ``df`` (or, with ``only_null``, to
        its NULL-``name`` rows — the MERGE insert arm), and return it
        with ``spec`` advanced past them, for the commit that writes
        them to log. Distributed: one range exchange over the incoming
        BATCH (not the table) via global_row_number; the per-partition
        counts it collects are the only driver metadata."""
        from ..operators.indexing import global_row_number

        step = spec["step"]
        order_cols = [c for c in df.columns if c != name]
        if only_null:
            todo = df.filter(F.col(name).isNull()).drop(name)
            keep = df.filter(F.col(name).isNotNull())
        else:
            todo, keep = df, None
        n = todo.count()
        if n == 0:
            return df, spec
        first = spec["watermark"]
        assigned = (
            global_row_number(todo, order_cols, out_col="__ident_idx")
            .withColumn(
                name,
                (F.lit(first) + (F.col("__ident_idx") - 1) * F.lit(step)).cast(
                    "long"
                ),
            )
            .drop("__ident_idx")
        )
        spec = {**spec, "watermark": first + step * n}
        if keep is None:
            return assigned, spec
        return keep.unionByName(assigned), spec

    # ------------------------------------------------- generated cols

    def generated_columns(self) -> dict[str, str]:
        """Registered generated columns (Delta ``GENERATED ALWAYS AS``
        analog): column name → SQL expression over the other columns."""
        return dict(self._head().extra.get("generated", {}))

    def add_generated_column(self, name: str, expr: str) -> None:
        """Register ``name`` as GENERATED ALWAYS AS ``expr``.

        Enforcement (Delta semantics) on every checked write path:
        a frame MISSING the column gets it computed (write/append); a
        frame CARRYING the column must match the expression exactly
        (null-safe equality) or the commit is rejected — so an UPDATE
        or MERGE can never silently break the invariant.  Registering
        over EXISTING data requires the column to already be present
        and consistent (validated here); backfill by rewriting first
        if it is absent.

        Refused while a metadata-only rename is pending, for the same
        reason as :meth:`add_constraint`: write-path enforcement runs
        on physical names, so an expression validated against the
        logical view would mis-bind after :meth:`_to_physical`."""

        def validate(head: VersionInfo) -> None:
            self._require_no_column_map("add_generated_column", head)
            names = self._schema(head).fieldNames()
            if not names:
                return  # nothing written yet
            if name not in names:
                raise ValueError(
                    f"column {name!r} does not exist; backfill it (e.g. "
                    "rewrite with the expression) before registering"
                )
            checks = self._row_checks({"generated": {name: expr}}, [name])
            bad = self._existing_violations(head, checks)
            if bad:
                raise ValueError(
                    f"cannot register generated column {name!r}: {bad} "
                    f"existing rows do not match ({expr})"
                )

        self._set_rule("ADD GENERATED COLUMN", "generated", name, expr, validate)

    def _fill(self, df: DataFrame, rules: dict) -> tuple[DataFrame, dict]:
        """``df`` with the columns it omits filled under ``rules``:
        defaults, then generated columns (present ones are checked by
        the write, :meth:`_write_checked`), then identity values; and the
        ``identity`` property the commit logs, watermarks advanced past
        the ids assigned here (empty when the table has none)."""
        for key in ("defaults", "generated"):
            for name, expr in rules.get(key, {}).items():
                if name not in df.columns:
                    df = df.withColumn(name, F.expr(expr))
        identity = {}
        for name, spec in rules.get("identity", {}).items():
            if name not in df.columns:
                df, spec = self._assign_identity(df, name, spec)
            else:
                raise ValueError(
                    f"column {name!r} is GENERATED ALWAYS AS IDENTITY "
                    "and cannot be supplied; omit it and values are "
                    "assigned automatically"
                )
            identity[name] = spec
        return df, ({"identity": identity} if identity else {})

    @staticmethod
    def _row_checks(rules: dict, columns: list[str]) -> dict[str, str]:
        """The named checks ``rules`` put on rows with ``columns``: each
        CHECK constraint, and the equation of each generated column they
        carry, so UPDATE and MERGE cannot break it either."""
        checks = dict(rules.get("constraints", {}))
        for name, expr in rules.get("generated", {}).items():
            if name in columns:
                checks[f"__generated_{name}"] = f"{name} <=> ({expr})"
        return checks

    @staticmethod
    def _violations(checks: dict[str, str]) -> list:
        """Per named check, an aggregate counting the rows whose
        expression is FALSE (NULL passes, SQL CHECK semantics). Over no
        rows it is NULL, which means 0."""
        return [F.sum(F.expr(f"({e}) IS FALSE").cast("long")).alias(n) for n, e in checks.items()]

    def _existing_violations(self, head: VersionInfo, checks: dict[str, str]) -> int:
        """Rows of ``head``'s snapshot violating ``checks`` (one check),
        in the one scan that registering a rule over existing data costs."""
        snap = self._read_with_deletes(head, head.units)
        return snap.agg(*self._violations(checks)).first()[0] or 0

    # ----------------------------------------------------------- write

    @staticmethod
    def _as_logged(df: DataFrame, schema: StructType) -> DataFrame:
        """``df`` with every column whose type differs from the logged
        ``schema`` cast to the logged type, so all units of a snapshot
        store the same types (Delta casts writes to the table schema)."""
        types = {f.name: f.dataType for f in schema.fields}
        casts = {
            f.name: F.col(f.name).cast(types[f.name])
            for f in df.schema.fields
            if f.name in types and _nullable(f.dataType) != types[f.name]
        }
        return df.withColumns(casts) if casts else df

    def _write_units(self, df: DataFrame, partition_by: list[str] | None) -> list[str]:
        """Write one commit dir; return its data units (partition
        subdirs when partitioned, else the commit dir)."""
        rel = uuid.uuid4().hex
        target = os.path.join(self._data, rel)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        if not partition_by:
            return [rel]
        units = []
        for sub in sorted(os.listdir(target)):
            p = os.path.join(target, sub)
            if os.path.isdir(p) and "=" in sub:
                units.append(self._subunits(rel, sub, depth=len(partition_by) - 1))
        return [u for group in units for u in group]

    def _write_checked(
        self, df: DataFrame, partition_by, what: str, rules: dict, where: str | None = None
    ) -> list[str]:
        """:meth:`_write_units` with the rows checked by the job that
        writes them: the :meth:`_row_checks` of ``rules`` and, with
        ``where``, the replaceWhere predicate are counted by one
        ``df.observe`` on the write, so no pass before it re-runs
        ``df``'s plan. A violation, or any failure before this returns,
        removes the commit dir just written and raises (the predicate
        ahead of the constraints). With nothing to check, nothing is
        attached."""
        checks = self._row_checks(rules, df.columns)
        if where is not None:
            checks = {"__where": f"coalesce(({where}), false)", **checks}
        if not checks:
            return self._write_units(df, partition_by)
        obs = Observation(f"checks_{uuid.uuid4().hex}")
        units = self._write_units(df.observe(obs, *self._violations(checks)), partition_by)
        try:
            counts = obs.get
            bad = {n: counts[n] for n in checks if counts[n]}  # NULL over no rows
            if "__where" in bad:
                raise ValueError(
                    f"{bad['__where']} incoming rows do not satisfy the "
                    f"replaceWhere predicate ({where}); Delta semantics "
                    "reject the whole commit"
                )
            if bad:
                detail = ", ".join(f"{n} ({checks[n]!r}): {c} rows" for n, c in bad.items())
                raise ValueError(f"CHECK constraint violation on {what}: {detail}")
        except BaseException:
            for root in {u.split("/", 1)[0] for u in units}:
                shutil.rmtree(os.path.join(self._data, root), ignore_errors=True)
            raise
        return units

    def _subunits(self, rel: str, sub: str, depth: int) -> list[str]:
        if depth == 0:
            return [f"{rel}/{sub}"]
        out = []
        for nxt in sorted(os.listdir(os.path.join(self._data, rel, sub))):
            if "=" in nxt:
                out.extend(self._subunits(f"{rel}/{sub}", nxt, depth - 1))
        return out

    def _footer_rows(self, units: list[str]) -> dict[str, int]:
        """Row count of each unit summed from its parquet footers. A
        unit with no readable parquet file is left out: its count stays
        unknown rather than wrong."""
        import pyarrow.parquet as pq

        out = {}
        for u in units:
            files = [
                os.path.join(root, fn)
                for root, _, fns in os.walk(os.path.join(self._data, u))
                for fn in fns
                if fn.endswith(".parquet")
            ]
            try:
                if files:
                    out[u] = sum(pq.read_metadata(f).num_rows for f in files)
            except (OSError, ValueError):
                pass
        return out

    #: table properties, carried by every commit unless it changes them
    _PROPS = ("schema", "stats_cols", "bloom_cols", "column_map", *_RULES)
    #: manifest entries keyed by unit, valid for as long as the unit is
    #: live: skipping stats, bloom filters and row counts
    _PER_UNIT = ("stats", "blooms", "rows")

    @classmethod
    def _carry(cls, info: VersionInfo, carried: list[str]) -> dict:
        """The table properties of ``info``, plus the per-unit metadata
        and pending merge-on-read tombstones of the units a commit
        carries over by reference. Carried units are byte-identical, so
        their entries stay valid verbatim; the tombstones stay scoped to
        the carried units, whose deleted rows were not materialized.
        The units a commit adds get theirs in :meth:`_commit`."""
        keep = set(carried)
        xtra = {k: info.extra[k] for k in cls._PROPS if k in info.extra}
        for k in cls._PER_UNIT:
            sub = {u: v for u, v in info.extra.get(k, {}).items() if u in keep}
            if sub:
                xtra[k] = sub
        mor = [
            {"pred": d["pred"], "units": scoped}
            for d in info.extra.get("mor_deletes", [])
            if (scoped := [u for u in d["units"] if u in keep])
        ]
        if mor:
            xtra["mor_deletes"] = mor
        return xtra

    def _schema(self, info: VersionInfo) -> StructType:
        """The physical schema ``info`` logged. There is no inference
        fallback: a manifest without one predates the logged schema."""
        if "schema" not in info.extra:
            raise ValueError(
                f"table at {self.path}: version {info.version} logs no "
                "schema (it was written before manifests carried one); "
                "rewrite the table with write(mode='overwrite')"
            )
        return StructType.fromJson(json.loads(info.extra["schema"]))

    def _props(
        self,
        head: VersionInfo | None,
        schema: StructType,
        partition_by: list[str] | None,
        stats_cols: list[str] | None,
        bloom_cols: list[str] | None,
    ) -> dict:
        """The table properties a write commits. A rewrite (no ``head``)
        takes the frame's ``schema`` and the given skipping columns, and
        clears any rename mapping, as its files store the frame's names;
        an append (or a compaction) extends ``head``'s: columns
        the frame adds (``merge_schema``) follow the logged data columns,
        and the given skipping columns join the logged ones. The schema
        is in the parquet reader's order — data columns, then
        ``partition_by`` — with every field nullable, as the reader
        reports it; skipping columns outside it are dropped."""
        fields = list(self._schema(head).fields) if head else []
        have = {f.name for f in fields}
        fields += [
            StructField(f.name, _nullable(f.dataType))
            for f in schema.fields
            if f.name not in have
        ]
        parts = list(partition_by or [])
        fields = [f for f in fields if f.name not in parts] + [
            f for p in parts for f in fields if f.name == p
        ]
        names = {f.name for f in fields}

        def cols(key: str, given: list[str] | None) -> list[str]:
            logged = head.extra.get(key, []) if head else []
            return [c for c in dict.fromkeys([*logged, *(given or [])]) if c in names]

        props = {
            "schema": StructType(fields).json(),
            "stats_cols": cols("stats_cols", stats_cols),
            "bloom_cols": cols("bloom_cols", bloom_cols),
        }
        return props if head else {**props, "column_map": {}}

    @staticmethod
    def _jsonable(v):
        """Stats values must round-trip through the JSON manifest AND
        compare consistently with user-supplied predicate bounds:
        numbers stay numbers; date/timestamp/decimal become strings
        (ISO date/timestamp strings compare lexicographically in value
        order, so the pruning comparison stays correct)."""
        import datetime
        import decimal

        if v is None or isinstance(v, (int, float, str, bool)):
            return v
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
        if isinstance(v, decimal.Decimal):
            return float(v)
        return str(v)

    # Bloom filter parameters: m bits / k hashes sized for ~500 distinct
    # values per unit at ~1% false-positive rate; a false positive only
    # costs reading a unit that range stats alone would have read anyway.
    _BLOOM_M, _BLOOM_K = 4096, 5

    @classmethod
    def _bloom_positions(cls, v):
        """The k bit positions of value column ``v``: JVM xxhash64 of its
        string form, seeded 0..k-1, mod m — shared by the build and the
        probe side, so both hash alike."""
        m, k = F.lit(cls._BLOOM_M), cls._BLOOM_K
        return F.array(
            *[F.pmod(F.xxhash64(v.cast("string"), F.lit(i)), m).cast("int") for i in range(k)]
        )

    def _collect_skipping(self, info: VersionInfo, units: list[str]) -> None:
        """Add the skipping metadata of ``units`` — the units a commit
        adds — to ``info.extra``, for the table's logged ``stats_cols``
        and ``bloom_cols``:

        - stats (Delta's per-file stats in the log): min/max/null count
          per column in ONE Spark job for all units, grouped by the
          file's directory (a unit holds its part-files directly, so
          leaf dir == unit); one row per unit reaches the driver;
        - bloom filters (the Delta/Parquet bloom-filter-index analog):
          ONE Spark job per column; every non-null value hashes to k = 5
          positions in an m = 4096-bit set via JVM xxhash64 (seeded
          0..k-1, engine-stable), positions deduplicate distributed, and
          only the ≤ m distinct positions per unit reach the driver,
          which packs them into a hex-encoded bitset.

        Directory strings are matched back to units via the same
        unquote(urlparse(...)) decoding the DELETE path uses — never by
        re-encoding partition values."""
        from urllib.parse import unquote, urlparse

        stats_cols = info.extra.get("stats_cols", [])
        bloom_cols = info.extra.get("bloom_cols", [])
        if not units or not (stats_cols or bloom_cols):
            return
        m = self._BLOOM_M
        stats = info.extra.setdefault("stats", {})
        blooms = info.extra.setdefault("blooms", {})
        df = self._read_units(info, units)
        unit_of = {os.path.abspath(os.path.join(self._data, u)): u for u in units}
        d = F.regexp_replace(F.input_file_name(), "/[^/]*$", "").alias("_dir")

        def unit(r) -> str | None:
            return unit_of.get(unquote(urlparse(r["_dir"]).path))

        if stats_cols:
            aggs = [
                a
                for i, c in enumerate(stats_cols)
                for a in (
                    F.min(c).alias(f"min{i}"),
                    F.max(c).alias(f"max{i}"),
                    F.sum(F.col(c).isNull().cast("long")).alias(f"nulls{i}"),
                )
            ]
            for r in df.groupBy(d).agg(*aggs).collect():
                if (u := unit(r)) is not None:
                    stats[u] = {
                        c: {
                            "min": self._jsonable(r[f"min{i}"]),
                            "max": self._jsonable(r[f"max{i}"]),
                            "nulls": r[f"nulls{i}"],
                        }
                        for i, c in enumerate(stats_cols)
                    }
        for c in bloom_cols:
            # hash the CANONICAL STRING form: xxhash64 is type-sensitive
            # and the probe side builds values from literals whose Spark
            # type (int) can differ from the column's (bigint) — strings
            # make build and probe agree for every primitive type
            for r in (
                df.filter(F.col(c).isNotNull())
                .select(d, F.explode(self._bloom_positions(F.col(c))).alias("p"))
                .distinct()
                .groupBy("_dir")
                .agg(F.collect_set("p").alias("ps"))
                .collect()
            ):
                if (u := unit(r)) is not None:
                    arr = bytearray(m // 8)
                    for p in r["ps"]:
                        arr[p >> 3] |= 1 << (p & 7)
                    blooms.setdefault(u, {})[c] = bytes(arr).hex()

    def _bloom_probe_positions(self, eq: dict, schema=None) -> dict[str, list[int]]:
        """k hash positions per probed value — ONE tiny Spark job (the
        probe must use the same JVM xxhash64 the build used).

        The build side hashes the COLUMN value's string form, so the
        probe literal must render identically: a Python ``7`` probed
        against a double column would hash ``'7'`` vs the build's
        ``'7.0'`` and mark every unit value-free. When ``schema`` (the
        stored StructType) is given, the literal is first cast to the
        column's data type so both sides stringify the same value."""
        types = {f.name: f.dataType for f in schema.fields} if schema else {}
        cols = list(eq)
        lits = [F.lit(eq[c]).cast(types[c]) if c in types else F.lit(eq[c]) for c in cols]
        row = self.spark.range(1).select(
            *[self._bloom_positions(v).alias(f"p{i}") for i, v in enumerate(lits)]
        ).first()
        return {c: list(row[f"p{i}"]) for i, c in enumerate(cols)}

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        operation: str = "WRITE",
        extra: dict | None = None,
        merge_schema: bool = False,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> VersionInfo:
        """Reference parity: write_*_delta (etl/bronze_job.py:60-91) —
        modes overwrite/append, optional partitionBy.

        The table's schema is the one the version log records (Delta's
        ``metaData.schemaString``), and an append enforces it: a frame
        whose column set differs is rejected unless
        ``merge_schema=True`` (Delta's ``mergeSchema`` option), which
        adds the frame's new columns to the logged schema — they read
        back as nulls on old rows, and logged columns the frame lacks
        read back as nulls on its rows — and every column is cast to its
        logged type before it is written. Overwrite always replaces the
        schema (the reference sets overwriteSchema=true unconditionally,
        etl/bronze_job.py:78). Partition columns read back with the type
        they were written with, as in Delta, not one inferred from the
        directory names. ``stats_cols`` and ``bloom_cols`` set the
        table's skipping columns on overwrite and extend them on
        append; every writer stats and blooms the units it adds for
        them. Both modes keep the table's rules (constraints, generated
        columns, defaults, identity columns).

        A blind write: when another commit lands first, the write
        rebases onto it — an append keeps the winner's units and
        properties, an overwrite replaces them — unless the winner
        changed the rules the rows were filled and checked under, which
        raises :class:`ConcurrentWriteError` (Delta's
        ``MetadataChangedException``). A missing table is created by
        either mode."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unsupported mode {mode!r}")
        cur = self._head()
        rules = self._rules(cur)
        # fill missing default, generated and identity columns BEFORE the
        # append schema comparison (an appender may legitimately omit them)
        df, identity = self._fill(df, rules)
        if mode == "append":
            partition_by = partition_by or cur.partition_by
            m = self._column_map_of(cur)
            existing = {m.get(f.name, f.name) for f in self._schema(cur).fields}
            # a head that logs no column yet (a missing table, or rules
            # registered before the first write) takes the frame's schema
            if existing and set(df.columns) != existing and not merge_schema:
                added = sorted(set(df.columns) - existing)
                missing = sorted(existing - set(df.columns))
                raise ValueError(
                    f"append schema mismatch (added={added}, missing="
                    f"{missing}); pass merge_schema=True to evolve"
                )
            # appended frames arrive under LOGICAL names; files store
            # physical ones so all units stay name-uniform
            df = self._as_logged(self._to_physical(df, cur), self._schema(cur))
            inv = {l: p for p, l in m.items()}
            stats_cols = [inv.get(c, c) for c in stats_cols or []]
            bloom_cols = [inv.get(c, c) for c in bloom_cols or []]
        new_units = self._write_checked(df, partition_by, f"write({mode})", rules)

        # the data units above are immutable and uuid-named, so a lost
        # race only rebuilds the manifest on the new head
        def commit(head: VersionInfo) -> VersionInfo:
            if self._rules(head) != rules:
                raise ConcurrentWriteError(
                    f"version {head.version} at {self.path} changed the "
                    "table rules this write was checked against; re-run "
                    "it on the new snapshot"
                )
            # an append carries the head's units with their metadata, and
            # pending merge-on-read tombstones stay scoped to them (the
            # appended rows are never filtered); an overwrite carries only
            # the table properties, the rules among them
            base = head if mode == "append" else None
            props = self._props(base, df.schema, partition_by, stats_cols, bloom_cols)
            return self._next(
                head, operation, mode, head.units if base else [], new_units,
                {**(extra or {}), **identity, **props},
                partition_by=list(partition_by or []),
            )

        return self._retry(commit, cur)

    # ------------------------------------------------------------ read

    def _read_units(self, info: VersionInfo, units: list[str]) -> DataFrame:
        """Read ``units`` of ``info`` through its logged schema, never
        inferring one from the data: one multi-path read when
        unpartitioned; when partitioned, one read per commit root (its
        ``basePath`` restores the key=value columns, and Spark refuses
        one partitioned read across roots), unioned over the identical
        schema. Partition columns read back with their logged type, a
        unit that lacks a column null-fills it, and no units read as an
        empty frame of the schema."""
        schema = self._schema(info)
        if not units:
            return self.spark.createDataFrame([], schema)
        if not info.partition_by:
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self._data, u) for u in units]
            )
        by_root: dict[str, list[str]] = {}
        for u in units:
            by_root.setdefault(u.split("/", 1)[0], []).append(u)
        return functools.reduce(
            DataFrame.union,
            [
                self.spark.read.schema(schema)
                .option("basePath", os.path.join(self._data, root))
                .parquet(*[os.path.join(self._data, u) for u in us])
                for root, us in by_root.items()
            ],
        )

    def _read_with_deletes(self, info: VersionInfo, units: list[str]) -> DataFrame:
        """Read ``units`` applying any pending merge-on-read delete
        predicates. Each tombstone is SCOPED to the units that existed
        when the DELETE committed, so rows appended later are never
        filtered even if they match an old predicate. Units sharing the
        same tombstone chain read as one group (filters compose as
        ``NOT coalesce(pred, false)`` — NULL-evaluating rows survive,
        Delta DELETE semantics); groups union back together."""
        mor = info.extra.get("mor_deletes", [])
        if not mor or not units:
            return self._read_units(info, units)
        groups: dict[tuple[int, ...], list[str]] = {}
        for u in units:
            key = tuple(i for i, d in enumerate(mor) if u in d["units"])
            groups.setdefault(key, []).append(u)
        parts = []
        for key, us in groups.items():
            df = self._read_units(info, us)
            for i in key:
                df = df.filter(F.expr(f"NOT coalesce(({mor[i]['pred']}), false)"))
            parts.append(df)
        return functools.reduce(DataFrame.union, parts)

    # ----------------------------------------------- column mapping

    @staticmethod
    def _column_map_of(info: VersionInfo) -> dict[str, str]:
        """physical → logical name map (Delta column-mapping analog).
        Empty when no metadata-only rename is pending."""
        return dict(info.extra.get("column_map", {}))

    def _apply_column_map(self, df: DataFrame, info: VersionInfo) -> DataFrame:
        """Present a physically-named frame under its logical names."""
        m = self._column_map_of(info)
        if not m:
            return df
        return df.select(*[F.col(c).alias(m.get(c, c)) for c in df.columns])

    def _to_physical(self, df: DataFrame, info: VersionInfo) -> DataFrame:
        """Map a logically-named frame back to physical storage names
        (what the parquet files carry) before writing."""
        m = self._column_map_of(info)
        if not m:
            return df
        inv = {l: p for p, l in m.items()}
        out = [inv.get(c, c) for c in df.columns]
        if len(set(out)) != len(out):
            # e.g. physical v is mapped to logical "value" and a
            # merge-schema append introduces a NEW column literally
            # named "v" — storing both would collide in the files
            dup = sorted({c for c in out if out.count(c) > 1})
            raise ValueError(
                f"append column(s) {dup} collide with the physical "
                "name(s) of renamed column(s); materialize_rename() "
                "first or pick different names"
            )
        return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])

    def _require_no_column_map(self, op: str, info: VersionInfo | None = None) -> VersionInfo:
        """``info`` (by default the latest version), refused while it
        has a rename mapping pending."""
        info = info or self._resolve()
        if self._column_map_of(info):
            raise ValueError(
                f"{op} is not supported while a metadata-only column "
                "rename is pending (predicate strings would need "
                "physical-name translation); call materialize_rename() "
                "first — it rewrites the data files under the logical "
                "names and clears the mapping"
            )
        return info

    def rename_column(self, old: str, new: str) -> VersionInfo:
        """Metadata-only column rename (Delta column-mapping analog):
        commits a new version whose manifest maps the column's PHYSICAL
        name (what every immutable parquet unit carries) to the new
        LOGICAL name — zero data IO, O(manifest) cost.  At 100 TB this
        is the difference between an instant schema change and a
        petabyte rewrite.

        Reads (``read``/``scan``/``changes``) present logical names;
        appends accept logical names and store physical ones, so the
        files stay uniform.  Restrictions (each raises):
        - partition columns (their physical names are baked into
          key=value directory paths);
        - while merge-on-read tombstones are pending (their predicate
          strings reference storage names — OPTIMIZE first);
        - DML (delete/update/merge) while a mapping is pending — run
          :meth:`materialize_rename` to rewrite under logical names.
        """
        import re

        for name in (old, new):
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
                raise ValueError(f"not a simple identifier: {name!r}")

        # a metadata-only commit: on a lost race, validate again on the
        # new head
        def step(info: VersionInfo) -> VersionInfo:
            if info.version < 0:
                raise ValueError("cannot rename a column of an empty table")
            if info.extra.get("mor_deletes"):
                raise ValueError(
                    "pending merge-on-read tombstones reference storage "
                    "names; compact() before renaming"
                )
            m = self._column_map_of(info)
            physical = self._schema(info).fieldNames()
            logical = [m.get(c, c) for c in physical]
            if old not in logical:
                raise ValueError(f"no such column: {old!r} (have {logical})")
            if new in logical:
                raise ValueError(f"column already exists: {new!r}")
            part_logical = {m.get(p, p) for p in info.partition_by}
            if old in part_logical:
                raise ValueError(
                    f"{old!r} is a partition column — its physical name "
                    "is baked into the directory layout; rewrite instead"
                )
            # A generated column (or an expression input of one) being
            # renamed breaks the append path immediately: appends that
            # omit the generated column compute F.expr(expr) on the
            # LOGICAL frame, where the old name no longer resolves (and
            # a renamed generated column would be re-computed under its
            # old name alongside the new one). Guided error instead of
            # the opaque AnalysisException (round-3 advisor item).
            gen = info.extra.get("generated", {})
            if old in gen:
                raise ValueError(
                    f"{old!r} is a generated column; drop_generated_column "
                    "and re-register it under the new name after renaming"
                )
            if old in info.extra.get("identity", {}):
                raise ValueError(
                    f"{old!r} is a GENERATED ALWAYS AS IDENTITY column; "
                    "its allocation metadata is keyed by name — renaming "
                    "it is not supported"
                )
            renamed_probe = self._apply_column_map(
                self._read_units(info, []), info
            ).withColumnRenamed(old, new)
            for gname, gexpr in gen.items():
                try:
                    renamed_probe.select(F.expr(gexpr)).schema
                except Exception:
                    raise ValueError(
                        f"generated column {gname!r} ({gexpr}) references "
                        f"{old!r}; drop_generated_column and re-add it "
                        "under the new name before renaming"
                    ) from None
            phys = physical[logical.index(old)]
            m.pop(phys, None)
            if new != phys:
                m[phys] = new
            return self._next(
                info, "RENAME COLUMN", None, info.units, [], {"column_map": m}
            )

        return self._retry(step)

    def materialize_rename(self) -> VersionInfo:
        """Rewrite the snapshot with logical column names and clear the
        mapping — the explicit rewrite that re-enables DML after
        :meth:`rename_column`.  Validates first that every CHECK
        constraint and generated column still analyzes against the new
        names (they bind to the names they were written with; one that
        references an old name must be dropped and re-added). The rows
        themselves are not re-checked: only their column names change,
        and they satisfied the rules when they were written.

        A read-modify-write pinned to the version it read: a commit that
        lands first raises :class:`ConcurrentWriteError`, and the caller
        re-runs it on the new snapshot."""
        info = self._resolve()
        m = self._column_map_of(info)
        if not m:
            return info
        # logical names
        df = self._apply_column_map(self._read_with_deletes(info, info.units), info)
        for key, what, drop in (
            ("constraints", "constraint", "drop_constraint"),
            ("generated", "generated column", "drop_generated_column"),
        ):
            for name, expr in info.extra.get(key, {}).items():
                try:
                    # select, not filter: Spark 4's hidden-output
                    # resolution lets a FILTER see the pre-rename child
                    # columns through the projection, which would mask
                    # the stale reference; .schema forces analysis
                    df.select(F.expr(expr)).schema
                except Exception:
                    raise ValueError(
                        f"{what} {name!r} ({expr}) references a renamed "
                        f"column; {drop} and re-add it under the new name "
                        "before materializing"
                    ) from None
        part_logical = [m.get(p, p) for p in info.partition_by]
        props = self._props(
            None, df.schema, part_logical,
            [m.get(c, c) for c in info.extra.get("stats_cols", [])],
            [m.get(c, c) for c in info.extra.get("bloom_cols", [])],
        )
        new_units = self._write_units(df, part_logical)
        return self._next(
            info, "MATERIALIZE RENAME", "overwrite", [], new_units, props,
            partition_by=part_logical,
        )

    def read(self, version: int | None = None, timestamp: float | None = None) -> DataFrame:
        """Latest or time-travel scan (utils/delta_ops.py:132-164).
        Applies pending merge-on-read delete tombstones (see
        :meth:`delete` with ``mode="merge-on-read"``) and presents
        logical column names when a rename mapping is pending."""
        info = self._resolve(version, timestamp)
        return self._apply_column_map(self._read_with_deletes(info, info.units), info)

    def _prune_units(
        self, info: VersionInfo, pred: dict[str, tuple]
    ) -> tuple[list[str], list[str]]:
        """Split units into (kept, skipped) for a conjunction of range
        predicates ``{col: (lo, hi)}`` (inclusive; None = open end).
        A unit is skipped only when its manifest stats PROVE no row can
        match: its [min, max] is disjoint from [lo, hi], or the column
        is all-null there (range predicates never match NULL). Units
        without stats for a column — added before it became a stats
        column — are always kept: skipping is an optimization, never a
        correctness dependency."""
        stats = info.extra.get("stats", {})
        kept, skipped = [], []
        for u in info.units:
            s = stats.get(u, {})
            keep = True
            for col, (lo, hi) in pred.items():
                cs = s.get(col)
                if not cs:
                    continue
                if cs["min"] is None:  # every row NULL in this unit
                    keep = False
                    break
                lo_n, hi_n = self._jsonable(lo), self._jsonable(hi)
                if lo_n is not None and cs["max"] < lo_n:
                    keep = False
                    break
                if hi_n is not None and cs["min"] > hi_n:
                    keep = False
                    break
            (kept if keep else skipped).append(u)
        return kept, skipped

    def scan(
        self,
        pred: dict[str, tuple] | None = None,
        version: int | None = None,
        timestamp: float | None = None,
        eq: dict | None = None,
    ) -> DataFrame:
        """Stats-skipping scan — the Delta data-skipping analog: range
        predicates are checked against the per-unit min/max collected at
        write time (``write(stats_cols=...)``), units provably disjoint
        from the predicate never reach the reader's file listing, and
        the same predicates are re-applied as row filters on the
        surviving units (stats prune at unit granularity; parquet
        row-group stats and the row filter finish the job). At 100 TB a
        clustered ingest (time-ordered appends, range/Z-order layout)
        makes this the difference between scanning one unit and
        scanning the table. ``self.last_scan`` records kept/skipped
        counts for observability.

        ``eq`` adds EQUALITY predicates ``{col: value}`` pruned through
        per-unit bloom filters (``write(bloom_cols=...)``) — the
        point-lookup complement of range stats: a unit is skipped when
        any of the value's k bit positions is absent from its bitset
        (provably value-free; false positives only cost a read), plus
        the min/max check when range stats also cover the column. Both
        predicate kinds re-apply as row filters."""
        pred = dict(pred or {})
        eq = dict(eq or {})
        info = self._resolve(version, timestamp)
        # predicates arrive under logical names; stats are keyed by the
        # physical names the units carry
        inv = {l: p for p, l in self._column_map_of(info).items()}
        pred = {inv.get(c, c): b for c, b in pred.items()}
        eq = {inv.get(c, c): v for c, v in eq.items()}
        # equality bounds participate in range pruning too
        range_pred = dict(pred)
        for c, v in eq.items():
            range_pred.setdefault(c, (v, v))
        kept, skipped = self._prune_units(info, range_pred)
        if eq and kept:
            # probe literals cast to the logged column types before
            # stringifying (ADVICE r4: an int probe vs a double column
            # rendered '7' vs '7.0' and silently skipped every matching
            # unit)
            probes = self._bloom_probe_positions(eq, schema=self._schema(info))
            blooms = info.extra.get("blooms", {})
            survivors = []
            for u in kept:
                ub = blooms.get(u, {})
                drop = False
                for c, positions in probes.items():
                    hx = ub.get(c)
                    if hx is None:
                        continue  # no bloom for this unit/col: keep
                    bits = bytes.fromhex(hx)
                    if any(
                        not (bits[p >> 3] >> (p & 7)) & 1 for p in positions
                    ):
                        drop = True
                        break
                (skipped if drop else survivors).append(u)
            kept = survivors
        self.last_scan = {"kept": len(kept), "skipped": len(skipped)}
        df = self._read_with_deletes(info, kept)
        for col, (lo, hi) in pred.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        for col, v in eq.items():
            df = df.filter(F.col(col) == F.lit(v))
        return self._apply_column_map(df, info)

    def _matched_units(self, info: VersionInfo, match) -> tuple[list[str], list[str]]:
        """Split ``info``'s units into (touched, carried) — the finder
        of every copy-on-write DML. ``match`` maps the snapshot, read
        through its tombstones, to its matching rows; a unit is touched
        when it holds one. Touched units come from the files that hold
        the matches (input_file_name, projected before ``match`` so a
        join may follow), never from re-encoding partition values as
        strings, which diverges from Spark's path encoding for NULLs,
        URL-escaped characters and float/timestamp formatting. File
        paths are metadata-sized (one row per file, the cardinality of
        Delta's file stats). A snapshot of at most one unit is all
        touched, with no Spark job: there is nothing to carry."""
        from urllib.parse import unquote, urlparse

        if len(info.units) <= 1:
            return list(info.units), []
        snap = self._read_with_deletes(info, info.units)
        matched_files = {
            unquote(urlparse(r["_file"]).path)
            for r in match(snap.withColumn("_file", F.input_file_name()))
            .select("_file")
            .distinct()
            .collect()
        }
        touched, carried = [], []
        for u in info.units:
            prefix = os.path.abspath(os.path.join(self._data, u)) + os.sep
            (touched if any(f.startswith(prefix) for f in matched_files)
             else carried).append(u)
        return touched, carried

    def delete(self, condition: str, mode: str = "copy-on-write") -> VersionInfo:
        """Delta ``DELETE WHERE`` analog.

        ``mode="copy-on-write"`` (default): rewrite only the units that
        hold a matching row (:meth:`_matched_units`), without those
        rows; every other unit is carried over by reference with its
        metadata. A delete that matches nothing commits nothing.

        ``mode="merge-on-read"``: the deletion-vector / Iceberg
        equality-delete analog — NO data is rewritten at all. The
        predicate commits as a tombstone SCOPED to the current unit set;
        reads (read / scan / merge / CDF, which all route through
        :meth:`_read_with_deletes`) apply ``NOT coalesce(pred, false)``
        to exactly those units, so later appends are untouched even
        when they match. O(metadata) commit — at 100 TB this turns a
        petabyte rewrite into one manifest write; ``compact()``
        materializes pending tombstones and clears them (merge-on-read
        pays a small read tax until then)."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unsupported delete mode {mode!r}")
        info = self._require_no_column_map("delete")
        if mode == "merge-on-read":
            return self._next(
                info, "DELETE", "merge-on-read", info.units, [],
                {"condition": condition}, tombstone=condition,
            )
        touched, carried = self._matched_units(info, lambda t: t.filter(condition))
        if not touched:
            return info  # nothing matched; current snapshot stands
        # DELETE removes rows where the condition is TRUE; rows where it
        # evaluates to NULL must SURVIVE (Delta semantics) — a bare
        # `NOT (cond)` would silently drop them. The rewrite reads
        # THROUGH pending tombstones, which would otherwise resurrect
        # previously MoR-deleted rows.
        kept = self._read_with_deletes(info, touched).filter(
            f"NOT coalesce(({condition}), false)"
        )
        new_units = self._write_units(kept, info.partition_by)
        return self._next(info, "DELETE", None, carried, new_units, {"condition": condition})

    def replace_where(
        self, df: DataFrame, condition: str
    ) -> VersionInfo:
        """Delta ``overwrite`` + ``replaceWhere`` analog: atomically
        replace exactly the rows matching ``condition`` with ``df`` —
        the idiomatic idempotent backfill ("rewrite this day/segment")
        that full overwrite (loses everything else) and append
        (duplicates on retry) both get wrong.

        Delta semantics throughout: every incoming row must satisfy the
        predicate, or the whole commit is rejected; existing rows where
        the predicate is NULL survive. The incoming rows are written
        first, by the job that checks them (:meth:`_write_checked`), so
        a rejected call leaves no dir. Only the units holding a matching
        row are rewritten (:meth:`_matched_units`); the rest are carried
        BY REFERENCE with their skipping stats, blooms, and pending
        merge-on-read tombstones intact. Defaults / generated / identity
        columns apply to the incoming frame exactly as in :meth:`write`."""
        info = self._require_no_column_map("replace_where")
        rules = self._rules(info)
        df, identity = self._fill(df, rules)
        schema = self._schema(info)
        existing = set(schema.fieldNames())
        if set(df.columns) != existing:
            raise ValueError(
                f"replace_where schema mismatch: incoming "
                f"{sorted(set(df.columns))} vs table {sorted(existing)}"
            )
        part_cols = info.partition_by
        incoming = self._write_checked(
            self._as_logged(df, schema), part_cols, "REPLACE WHERE", rules, where=condition
        )
        touched, carried = self._matched_units(info, lambda t: t.filter(condition))
        new_units: list[str] = []
        if touched:
            kept = self._read_with_deletes(info, touched).filter(
                f"NOT coalesce(({condition}), false)"
            )
            new_units += self._write_units(kept, part_cols)
        new_units += incoming
        return self._next(
            info, "REPLACE WHERE", "overwrite", carried, new_units,
            {"condition": condition, **identity},
        )

    def update(
        self,
        set_exprs: dict[str, str],
        condition: str = "true",
        mode: str = "copy-on-write",
    ) -> VersionInfo:
        """Delta ``UPDATE SET ... WHERE`` analog: matching rows get each
        column replaced by its SQL expression (over the row itself),
        everything else passes through unchanged.

        ``copy-on-write`` (default): rewrite only the units that hold a
        matching row (:meth:`_matched_units`) and carry the rest by
        reference; an update that matches nothing commits nothing.

        ``merge-on-read``: the deletion-vector update path — ONLY the
        matched rows are written (as a fresh unit carrying their
        updated images) and the predicate commits as a tombstone scoped
        to the pre-update units, hiding the stale images at read time.
        IO is proportional to the matched rows, not the table: the
        update that touches 0.001% of 100 TB writes megabytes. The new
        unit is outside the tombstone's scope, so updated rows survive
        even when they still match the predicate. OPTIMIZE
        materializes. Rows where the condition is NULL are untouched
        in both modes."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unsupported update mode {mode!r}")
        info = self._require_no_column_map("update")
        rules = self._rules(info)
        bad_ident = set(set_exprs) & set(rules.get("identity", {}))
        if bad_ident:
            raise ValueError(
                f"column(s) {sorted(bad_ident)} are GENERATED ALWAYS AS "
                "IDENTITY and cannot be updated"
            )
        mor = mode == "merge-on-read"
        if mor:
            carried = info.units
            df = self._read_with_deletes(info, info.units).filter(
                F.expr(f"coalesce(({condition}), false)")
            )
        else:
            touched, carried = self._matched_units(info, lambda t: t.filter(condition))
            if not touched:
                return info  # nothing matched; current snapshot stands
            df = self._read_with_deletes(info, touched)

        def set_col(c: str):
            e = F.expr(set_exprs[c])
            return e if mor else F.when(F.expr(condition), e).otherwise(F.col(c))

        updated = df.select(
            *[set_col(c).alias(c) if c in set_exprs else F.col(c) for c in df.columns]
        )
        new_units = self._write_checked(
            self._as_logged(updated, self._schema(info)), info.partition_by,
            "UPDATE(merge-on-read)" if mor else "UPDATE", rules,
        )
        return self._next(
            info, "UPDATE", mode if mor else None, carried, new_units,
            {"condition": condition, "set": set_exprs},
            tombstone=condition if mor else None,
        )

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two versions (Delta CDF analog,
        *net* changes): each key appears at most once, tagged
        ``_change_type`` ∈ insert / update_postimage / delete.
        Insert/update rows carry the new image, deletes the old one.

        Computed as a key full-outer join of the two snapshots with a
        null-safe payload-struct comparison — one shuffle per side (or
        zero if both snapshots are read back bucketed); nothing touches
        the driver. This is the downstream-sync primitive: consumers
        re-apply the feed as a MERGE instead of re-reading the table.
        """
        # Both snapshots share physical storage names; presenting BOTH
        # under the to-version's logical map makes the feed rename-
        # transparent (Delta-CDF-with-column-mapping semantics: change
        # rows carry the names of the version you query at).
        info_old = self._resolve(from_version)
        info_new = self._resolve(to_version)
        old = self._apply_column_map(
            self._read_with_deletes(info_old, info_old.units), info_new
        )
        new = self._apply_column_map(
            self._read_with_deletes(info_new, info_new.units), info_new
        )
        cols = new.columns
        keys = keys or [cols[0]]
        payload = [c for c in cols if c not in keys]
        # Presence is detected via a literal marker added to each side
        # BEFORE the join — key-nullness would mislabel genuinely
        # NULL-keyed rows (the join matches them via eqNullSafe, but
        # both key-based flags would read false → bogus 'insert').
        o = old.withColumn("_o_mark", F.lit(True)).alias("o")
        n = new.withColumn("_n_mark", F.lit(True)).alias("n")
        cond = None
        for k in keys:
            c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
            cond = c if cond is None else (cond & c)
        o_present = F.col("o._o_mark").isNotNull()
        n_present = F.col("n._n_mark").isNotNull()
        if payload:
            differs = ~F.struct(*[F.col(f"o.{c}") for c in payload]).eqNullSafe(
                F.struct(*[F.col(f"n.{c}") for c in payload])
            )
        else:
            # all columns are keys: a matched row can never differ
            differs = F.lit(False)
        change = (
            F.when(~o_present, "insert")
            .when(~n_present, "delete")
            .when(differs, "update_postimage")
        )
        out_cols = [
            F.when(n_present, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
            for c in cols
        ]
        return (
            o.join(n, cond, "full_outer")
            .withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*out_cols, "_change_type")
        )

    # --------------------------------------------------------- history

    def history(self, limit: int | None = None) -> list[dict]:
        """Delta history analog (utils/delta_ops.py:107-129)."""
        vs = list(reversed(self._versions()))
        if limit:
            vs = vs[:limit]
        return [json.loads(v.to_json()) for v in vs]

    def detail(self) -> dict:
        """Delta detail analog (utils/delta_ops.py:207-241)."""
        info = self._resolve()
        n_files = 0
        size = 0
        for rel in info.units:
            for root, _, files in os.walk(os.path.join(self._data, rel)):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n_files += 1
                        size += os.path.getsize(os.path.join(root, fn))
        stats = info.extra.get("stats", {})
        rows = info.extra.get("rows", {})
        return {
            "location": self.path,
            "version": info.version,
            "num_files": n_files,
            "size_bytes": size,
            # from the log's per-unit counts; unknown while tombstones
            # hide rows or a unit predates recorded counts
            "num_rows": (
                sum(rows[u] for u in info.units)
                if all(u in rows for u in info.units)
                and not info.extra.get("mor_deletes")
                else None
            ),
            "partition_columns": info.partition_by,
            # observability for the scan optimizations: how much of the
            # snapshot can skip, and whether reads pay a tombstone tax
            "num_units": len(info.units),
            "units_with_stats": len([u for u in info.units if u in stats]),
            "units_with_blooms": len(
                [u for u in info.units if u in info.extra.get("blooms", {})]
            ),
            # the table properties: logged schema and skipping columns
            "schema": info.extra.get("schema"),
            "stats_columns": info.extra.get("stats_cols", []),
            "bloom_columns": info.extra.get("bloom_cols", []),
            "pending_mor_deletes": len(info.extra.get("mor_deletes", [])),
            "column_mapping": self._column_map_of(info),
        }

    # --------------------------------------------------------- restore

    def restore(self, version: int) -> VersionInfo:
        """Restore an earlier version as a NEW version (history kept —
        utils/delta_ops.py:167-204 semantics), with that version's table
        properties (schema, skipping columns, rename mapping, rules) and
        per-unit skipping stats, bloom filters and row counts. Identity
        watermarks are the exception: they keep the head's, which never
        move back, so no id is allocated twice.

        A blind write of an existing snapshot: when another commit lands
        first, the restore rebases onto the new head."""
        target = self._resolve(version)

        # the restored snapshot's units are byte-identical, so its
        # metadata — and any tombstones pending AT that version — come
        # along verbatim
        def commit(head: VersionInfo) -> VersionInfo:
            ident = {"identity": head.extra["identity"]} if "identity" in head.extra else {}
            return self._next(
                head, "RESTORE", None, target.units, [],
                {"restored_from": version, **ident}, source=target,
            )

        return self._retry(commit)

    # ----------------------------------------------------------- clone

    def clone(self, dest_path: str, version: int | None = None) -> "VersionedTable":
        """Delta SHALLOW CLONE analog: materialize a snapshot as a NEW
        independent table at ``dest_path`` with (near-)zero data copy —
        every parquet file is hard-linked (``os.link``), so a 100 TB
        clone costs directory entries, not bytes, and finishes in
        O(files) driver time with no Spark job at all.

        Unlike Delta's shallow clone (whose manifest points into the
        SOURCE table, so vacuuming the source corrupts the clone), the
        hard links make the clone self-contained: either table may be
        vacuumed, compacted, or deleted without touching the other —
        the inodes survive until the last link drops.  The clone
        starts at version 0 with the snapshot's units, partitioning,
        table properties (schema, skipping columns, pending rename
        mapping, and the rules: constraints, generated columns,
        defaults, identity columns) and per-unit skipping stats, bloom
        filters and row counts; pending merge-on-read tombstones are
        carried too (they reference the cloned units by identical
        relative paths). All of it comes from the cloned version's
        manifest, so a version-pinned clone carries exactly the rules
        its snapshot was written under and validates nothing.
        """
        src = self._resolve(version)
        dest = VersionedTable(self.spark, dest_path)
        if dest.exists():
            raise ValueError(f"destination already has a table: {dest_path}")
        for rel in src.units:
            src_root = os.path.join(self._data, rel)
            dst_root = os.path.join(dest._data, rel)
            for root, _dirs, files in os.walk(src_root):
                tgt = os.path.join(dst_root, os.path.relpath(root, src_root))
                os.makedirs(tgt, exist_ok=True)
                for fn in files:
                    os.link(os.path.join(root, fn), os.path.join(tgt, fn))
        dest._next(
            dest._head(), "CLONE", None, src.units, [],
            {"cloned_from": self.path, "source_version": src.version},
            source=src,
        )
        return dest

    # ---------------------------------------------------------- vacuum

    def vacuum(
        self,
        retain_last: int = 2,
        dry_run: bool = False,
        retain_hours: float | None = None,
    ) -> list[str]:
        """Remove commit dirs no longer referenced by the retained
        versions (utils/delta_ops.py:65-104 analog).

        ``retain_last`` keeps the newest N versions (count-based, so
        tests are deterministic). ``retain_hours`` is the Delta
        ``VACUUM ... RETAIN n HOURS`` analog: additionally keeps every
        version whose commit timestamp is within the window, so time
        travel inside the retention horizon keeps working; the latest
        version is always kept. When both are given, a version is
        retained if EITHER rule keeps it."""
        vs = self._versions()
        if retain_hours is None:
            # count-based only; retain_last=0 keeps everything (legacy)
            keep: list = list(vs[-retain_last:]) if retain_last else list(vs)
        else:
            # time window (+ optional count floor); retain_last=0 means
            # no count-based retention here, the window alone decides —
            # but the head always survives
            keep = list(vs[-retain_last:]) if retain_last else []
            cutoff = time.time() - retain_hours * 3600.0
            keep += [v for v in vs if v.timestamp >= cutoff]
            if vs and not keep:
                keep = [vs[-1]]
        keep_roots: set[str] = set()
        for v in keep:
            for u in v.units:
                keep_roots.add(u.split("/", 1)[0])
        removed = []
        if os.path.isdir(self._data):
            for rel in sorted(os.listdir(self._data)):
                if rel not in keep_roots:
                    removed.append(rel)
                    if not dry_run:
                        shutil.rmtree(os.path.join(self._data, rel))
        return removed

    # ------------------------------------------------------ compaction

    def compact(
        self, target_files: int = 1, stats_cols: list[str] | None = None
    ) -> VersionInfo:
        """OPTIMIZE/compaction analog (utils/delta_ops.py:29-54): rewrite
        the snapshot into ``target_files`` files (per partition when
        partitioned). The compacted units are statted and bloomed for
        the table's skipping columns like every other writer's —
        OPTIMIZE must not silently degrade a skipping-enabled table into
        an always-scan one; ``stats_cols`` adds stats columns."""
        info = self._resolve()
        # read PHYSICALLY (tombstones applied, logical map NOT): the
        # rewritten units must keep storage names so a pending rename
        # mapping stays valid across OPTIMIZE
        df = self._read_with_deletes(info, info.units)
        if not info.partition_by:
            df = df.coalesce(target_files)
        new_units = self._write_units(df, info.partition_by)
        props = self._props(info, StructType(), info.partition_by, stats_cols, None)
        # pinned to the snapshot read: compaction is a read-modify-write,
        # so a writer committing since must fail this commit rather than
        # lose its rows to a rebase
        return self._next(info, "OPTIMIZE", "overwrite", [], new_units, props)

    # ----------------------------------------------------------- merge

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        update_columns: list[str] | None = None,
        insert_unmatched: bool = True,
        update_condition: str | None = None,
        update_exprs: dict[str, str] | None = None,
        delete_condition: str | None = None,
        extra: dict | None = None,
    ) -> VersionInfo:
        """Delta MERGE analog (utils/incremental.py:89-156):
        whenMatchedUpdate(set=update_columns or all non-key columns) +
        whenNotMatchedInsertAll, as a join-based rewrite.

        ``delete_condition``: optional SQL boolean over aliases ``t``
        and ``s``; MATCHED rows satisfying it are DELETED instead of
        updated (Delta's ``whenMatchedDelete(condition=...)``) — the
        primitive a change-data-feed consumer needs to re-apply
        upstream deletes.

        ``update_condition``: optional SQL boolean over aliases ``t``
        (target) and ``s`` (source); matched rows update only when it
        holds (Delta's ``whenMatchedUpdate(condition=...)``).

        ``update_exprs``: optional per-column SQL expressions over ``t``
        and ``s`` applied to MATCHED rows (Delta's
        ``whenMatchedUpdate(set={...})`` with arbitrary expressions) —
        e.g. ``{"cnt": "t.cnt + s.cnt"}`` for additive incremental
        aggregate maintenance. Unmatched source rows still insert the
        source values.

        Only the units holding a target row whose keys match a source
        row are read and rewritten (:meth:`_matched_units`, with the
        same null-safe key match as the join below); every other unit
        is carried over by reference. On a partitioned table the merged
        rows are written partitioned, so a key whose partition value
        changed leaves its old unit and lands in its new partition, and
        new source partitions land in the rewrite. A table with no
        logged column yet takes the source as an append.
        """
        info = self._head()
        rules = self._rules(info)
        idents = rules.get("identity", {})
        ident_in_source = set(idents) & set(source.columns)
        if ident_in_source:
            raise ValueError(
                f"column(s) {sorted(ident_in_source)} are GENERATED ALWAYS "
                "AS IDENTITY; the merge source cannot supply them (match "
                "on a natural key instead — inserted rows are assigned "
                "fresh values)"
            )
        bad = set(idents) & {*(update_columns or []), *(update_exprs or {})}
        if bad:
            raise ValueError(
                f"identity column(s) {sorted(bad)} cannot be merge update targets"
            )
        schema = self._schema(info)
        if not schema.fields:
            # nothing written yet: an append, so a concurrent first
            # writer's rows are kept rather than overwritten
            return self.write(source, mode="append", operation="MERGE", extra=extra)
        self._require_no_column_map("merge", info)
        cols = schema.fieldNames()
        update_columns = update_columns or [
            c for c in cols if c not in keys and c in source.columns
        ]
        cond = functools.reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
        )
        touched, carried = self._matched_units(
            info,
            lambda t: t.alias("t").join(source.select(*keys).alias("s"), cond, "left_semi"),
        )
        # read THROUGH pending merge-on-read tombstones: a raw unit read
        # would resurrect MoR-deleted rows into the rewrite
        target = self._read_with_deletes(info, touched)

        # Literal markers (not key-nullness) detect row presence after the
        # full-outer join — the join matches NULL keys via eqNullSafe, so
        # key-based flags would mislabel genuinely NULL-keyed rows.
        t = target.withColumn("_t_mark", F.lit(True)).alias("t")
        s = source.withColumn("_s_mark", F.lit(True)).alias("s")
        joined = t.join(s, cond, "full_outer")

        s_present = F.col("s._s_mark").isNotNull()
        t_present = F.col("t._t_mark").isNotNull()
        raw_matched = s_present & t_present
        matched = raw_matched
        if update_condition is not None:
            matched = matched & F.expr(update_condition)
        s_only = ~t_present
        if delete_condition is not None:
            # whenMatchedDelete wins over whenMatchedUpdate (Delta
            # evaluates clauses in order; we expose delete-first)
            to_delete = raw_matched & F.expr(delete_condition)
            matched = matched & ~to_delete
            joined = joined.filter(
                ~F.coalesce(to_delete, F.lit(False))
                # a source row that ONLY deletes must not insert either
                & ~(s_only & F.coalesce(F.expr(delete_condition), F.lit(False)))
            )
        merged_cols = []
        for c in cols:
            tc = F.col(f"t.{c}")
            sc = F.col(f"s.{c}") if c in source.columns else F.lit(None)
            if c in keys:
                expr = F.coalesce(tc, sc)
            elif update_exprs and c in update_exprs:
                expr = (
                    F.when(matched, F.expr(update_exprs[c]))
                    .when(s_only, sc)
                    .otherwise(tc)
                )
            elif c in update_columns:
                expr = F.when(matched | s_only, sc).otherwise(tc)
            else:
                expr = F.when(s_only, sc).otherwise(tc)
            merged_cols.append(expr.alias(c))
        if not insert_unmatched:
            joined = joined.filter(~s_only)
        merged = joined.select(*merged_cols)

        # Inserted rows (source-only, so their identity slot is NULL —
        # the source is barred from carrying it above) get fresh values;
        # matched/carried rows keep theirs.
        identity = dict(idents)
        for name, spec in idents.items():
            if name in cols:
                merged, identity[name] = self._assign_identity(
                    merged, name, spec, only_null=True
                )

        new_units = self._write_checked(
            self._as_logged(merged, schema), info.partition_by, "MERGE", rules
        )
        return self._next(
            info, "MERGE", None, carried, new_units,
            {
                **(extra or {}), "keys": keys, "pruned": bool(carried),
                **({"identity": identity} if identity else {}),
            },
        )

    # ------------------------------------------------ idempotent writers

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest transaction version committed under ``app_id`` — the
        Delta ``txnAppId``/``txnVersion`` idempotent-writer analog.
        Writers that may replay work (e.g. ``foreachBatch`` after a
        checkpoint restart) record ``extra={"txn": {"app_id": ...,
        "version": batch_id}}`` on each commit and skip any batch whose
        id is ≤ this value."""
        commit = self.last_txn_commit(app_id)
        return None if commit is None else commit["txn"]["version"]

    def last_txn_commit(self, app_id: str) -> dict | None:
        """Full ``extra`` metadata of the HIGHEST-version transactional
        commit under ``app_id`` (None if no such commit).  Lets an
        idempotent writer store small running state (e.g. a token
        offset) ATOMICALLY with the data it describes — one commit
        carries rows + txn marker + state, so no crash point can
        separate them (the Delta commit-info pattern)."""
        best_v, best_extra = None, None
        for v in self._versions():
            txn = v.extra.get("txn")
            if txn and txn.get("app_id") == app_id:
                if best_v is None or txn["version"] > best_v:
                    best_v, best_extra = txn["version"], dict(v.extra)
        return best_extra

    @staticmethod
    def txn_extra(app_id: str, version: int) -> dict:
        """Commit-metadata fragment marking a transactional write."""
        return {"txn": {"app_id": app_id, "version": int(version)}}

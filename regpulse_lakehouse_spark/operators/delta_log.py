"""Delta Lake transaction log, implemented from the PUBLIC protocol —
the in-container answer to "the real Delta path is never exercised".

delta-spark needs a JVM package this environment cannot download (no
egress — NOTES.md round 13 records the attempted commands), but the
Delta TABLE FORMAT itself is an open specification
(github.com/delta-io/delta PROTOCOL.md): parquet data files plus an
ordered ``_delta_log/<version>.json`` of newline-delimited actions
(``protocol``, ``metaData``, ``add``, ``remove``, ``commitInfo``),
where a snapshot at version N is the replay of actions 0..N (files =
adds minus removes) and commits are atomic put-if-absent creations of
the next version file. :class:`DeltaLogTable` implements that writer
and reader directly over Spark parquet — so tables written here are
real Delta tables on disk (protocol 1/2, JSON log, optional
Hive-partitioned layout with per-add ``partitionValues``, parquet
checkpoints with tombstone retention, VACUUM with a guarded time-
travel horizon), loadable by delta-spark / duckdb-delta / delta-rs the
moment one is installed, while every operation is exercisable and
differential-tested in-container TODAY against
:class:`~.upsert.VersionedParquetTable` (reference write semantics:
services/api/src/repository.ts:14-23 ON CONFLICT DO NOTHING, :25-78
ON CONFLICT UPDATE).

Physical shapes (the part that matters at 100 TB):

- ``append`` / ``insert_if_absent`` add files — ZERO rewrite (the
  copy-on-write fallback rewrites the full snapshot per commit).
- ``upsert`` / ``delete_where`` rewrite ONLY the data files that
  actually contain matching keys/rows (``input_file_name()`` semi-join
  → touched-file set), exactly Delta MERGE's touched-file behavior;
  untouched files carry over by reference. A 1-row upsert into a
  10k-file table rewrites one file, not 10k.
- every ``add`` carries real ``stats`` (numRecords + min/max per leaf
  atomic column, read from the parquet footers via pyarrow) — the
  protocol's data-skipping hook.

Single-writer semantics like the fallback (the reference serializes
writes through one worker, worker.ts:18,26); the put-if-absent commit
(hard-link, fails if the version exists) turns a racing second writer
into a clean ``FileExistsError`` instead of silent corruption.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time
import uuid
from urllib.parse import quote, unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .upsert import dedup_on_keys, upsert_latest_wins

_LOG_DIR = "_delta_log"
#: Hive's directory token for a NULL partition value (what Spark's
#: partitionBy writer emits); maps to JSON null in ``partitionValues``
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
#: spec-default tombstone retention (delta.deletedFileRetentionDuration
#: = interval 1 week): checkpoints keep remove actions younger than
#: this, and vacuum() refuses to delete younger tombstones
_TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000
#: metaData.configuration key prefix the spec assigns to CHECK
#: constraints (ALTER TABLE ... ADD CONSTRAINT name CHECK (expr))
_CONSTRAINT_PREFIX = "delta.constraints."
#: marker embedded in the in-job assert message so executor-side
#: violations translate to ConstraintViolationError on the driver
_CONSTRAINT_MARK = "DELTA_VIOLATE_CONSTRAINT"


class ConstraintViolationError(ValueError):
    """A CHECK constraint rejected a write — the commit never happened
    (delta-spark's InvariantViolationException shape)."""


def _log_encode_path(rel_fs_path: str) -> str:
    """Filesystem-relative path → the spec's ``add.path`` encoding:
    RFC 2396 percent-encoded relative URI (PROTOCOL.md 'Add File and
    Remove File': *"a relative path ... which are URL-encoded"*).
    Spaces become %20 and a literal '%' (e.g. Hive's %3A escape for
    ':' in timestamp partition dirs) becomes %25 — so an external
    spec-compliant reader (delta-spark / delta-rs) URL-decodes back to
    the exact on-disk name instead of a nonexistent ':'-named file.
    '/' and '=' stay literal, matching Hadoop Path.toUri(): both are
    legal URI path chars and delta-spark leaves hive ``col=value``
    segments readable."""
    return quote(rel_fs_path, safe="/=")


def _log_decode_path(log_path: str) -> str:
    """``add.path`` → filesystem-relative path (inverse of
    :func:`_log_encode_path`; also correct for external writers that
    encoded more characters than we do — unquote is total)."""
    return unquote(log_path)
# leaf types whose parquet-footer min/max are safe to publish as Delta
# stats (strings included: Spark writes truncated UTF-8 bounds, and we
# only publish when the footer marks them exact)
_STATS_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DateType, T.StringType, T.BooleanType,
)


def _now_ms() -> int:
    return int(time.time() * 1000)


def _stat_json(v):
    """A footer min/max value in the Delta ``stats`` JSON encoding:
    dates and timestamps as ISO-8601 strings (the spec's encoding —
    json.dumps would otherwise crash on datetime.date, which is what
    pyarrow returns for date min/max), bytes decoded, scalars as-is."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def _stat_cmp(v):
    """Normalize a user-side bound so it compares against published
    stats: dates become their ISO string (same total order), everything
    else passes through."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


class DeltaLogTable:
    """VersionedParquetTable's method surface over a real Delta log.

    Supports Hive-partitioned tables (``partition_columns``): data
    files land under ``col=value/`` directories, every ``add`` carries
    the spec's ``partitionValues`` string map, and :meth:`read_where`
    prunes on partition values before stats — the table-format feature
    a 100 TB user needs first. The partitioning is fixed at table
    creation (recorded in ``metaData.partitionColumns``); re-opening
    with a conflicting spec raises instead of writing a half-spec
    table.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        checkpoint_interval: int | None = 10,
        partition_columns: list[str] | None = None,
    ):
        self.spark = spark
        self.root = root
        #: write a parquet checkpoint after every Nth commit (the spec
        #: default cadence); None disables auto-checkpointing
        self.checkpoint_interval = checkpoint_interval
        #: partition spec for a table THIS handle creates; an existing
        #: table's metaData always wins (validated on first write)
        self._init_partition_cols = list(partition_columns or [])
        #: parsed actions per committed version (see :meth:`_actions`)
        self._parsed: dict[int, list[dict]] = {}
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)

    # -- log plumbing --------------------------------------------------------
    def _log_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{version:020d}.json")

    def _committed_versions(self) -> list[int]:
        out = []
        for name in os.listdir(os.path.join(self.root, _LOG_DIR)):
            stem, ext = os.path.splitext(name)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def _actions(self, version: int) -> list[dict]:
        """The parsed actions of commit ``version``. A committed JSON
        never changes (commits are put-if-absent, and nothing rewrites
        or deletes a log JSON), so each is parsed once per handle: the
        five or six replays of one write op otherwise re-parse every
        commit since the last checkpoint. Callers must not mutate the
        returned actions. A missing version raises FileNotFoundError."""
        actions = self._parsed.get(version)
        if actions is None:
            with open(self._log_path(version), encoding="utf-8") as fh:
                actions = [json.loads(line) for line in fh if line.strip()]
            self._parsed[version] = actions
        return actions

    @property
    def version(self) -> int | None:
        versions = self._committed_versions()
        return versions[-1] if versions else None

    def exists(self) -> bool:
        return self.version is not None

    def _replay(self, version: int | None = None) -> tuple[dict, dict, dict]:
        """Replay the log up to ``version`` (inclusive): returns
        (active add-actions by path, latest metaData, tombstoned
        remove-actions by path). Remove wins over any earlier add of
        the same path — the protocol's file-level last-action-wins
        reconciliation; tombstones accumulate (paths are UUID-unique,
        never re-added) and feed checkpoint retention and
        :meth:`vacuum`.

        When a parquet CHECKPOINT at version ≤ target exists (see
        :meth:`checkpoint`), replay starts from its state and only the
        JSON commits AFTER it are read — snapshot resolution stays O(
        commits-since-checkpoint) instead of O(all commits); a 10k-
        commit table would otherwise open 10k files per read. Time
        travel to a version BELOW every checkpoint still replays the
        JSONs from 0 (log JSONs are never deleted) — but a version
        below the VACUUM horizon (its data files are physically gone)
        raises a clear error instead of a missing-file scan failure."""
        versions = self._committed_versions()
        if not versions:
            raise FileNotFoundError(f"no Delta log under {self.root}")
        if version is not None:
            if version not in versions:
                raise FileNotFoundError(
                    f"version {version} not committed under {self.root}"
                )
            horizon = self._vacuum_horizon()
            if version < horizon:
                raise ValueError(
                    f"version {version} predates the vacuum horizon "
                    f"{horizon}: its data files have been physically "
                    f"deleted by vacuum() and the snapshot is no longer "
                    f"reconstructible"
                )
            versions = [v for v in versions if v <= version]
        active: dict[str, dict] = {}
        meta: dict = {}
        tombstones: dict[str, dict] = {}
        cp = self._latest_checkpoint(versions[-1])
        if cp is not None:
            cp_version, active, meta, tombstones, _proto = cp
            versions = [v for v in versions if v > cp_version]
        for v in versions:
            for action in self._actions(v):
                if "add" in action:
                    active[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    active.pop(action["remove"]["path"], None)
                    tombstones[action["remove"]["path"]] = action["remove"]
                elif "metaData" in action:
                    meta = action["metaData"]
        return active, meta, tombstones

    # -- checkpoints ---------------------------------------------------------
    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(
            self.root, _LOG_DIR, f"{version:020d}.checkpoint.parquet"
        )

    def _vacuum_horizon(self) -> int:
        """Oldest version whose snapshot is still fully on disk (0 when
        vacuum has never run). Kept in a tiny engine-local sidecar next
        to ``_last_checkpoint`` — the spec does not standardize vacuum
        bookkeeping; external readers of vacuumed-away versions fail on
        the missing files either way, ours fail with a clear error."""
        try:
            with open(
                os.path.join(self.root, _LOG_DIR, "_vacuum_horizon"),
                encoding="utf-8",
            ) as fh:
                return int(json.load(fh)["minVersion"])
        except (OSError, ValueError, KeyError):
            return 0

    def _latest_checkpoint(self, max_version: int):
        """(version, active, meta, tombstones, protocol) of the newest
        checkpoint at or below ``max_version``, or None.
        ``_last_checkpoint`` is the spec's fast pointer; fall back to a
        directory listing so a missing or torn pointer only costs the
        listing, never correctness."""
        candidates = []
        ptr = os.path.join(self.root, _LOG_DIR, "_last_checkpoint")
        try:
            with open(ptr, encoding="utf-8") as fh:
                v = int(json.load(fh)["version"])
            if v <= max_version and os.path.exists(self._checkpoint_path(v)):
                candidates.append(v)
        except (OSError, ValueError, KeyError):
            pass
        if not candidates:
            for name in os.listdir(os.path.join(self.root, _LOG_DIR)):
                if name.endswith(".checkpoint.parquet"):
                    v = int(name.split(".", 1)[0])
                    if v <= max_version:
                        candidates.append(v)
        if not candidates:
            return None
        v = max(candidates)
        import pyarrow.parquet as pq

        tbl = pq.read_table(self._checkpoint_path(v))
        active: dict[str, dict] = {}
        meta: dict = {}
        tombstones: dict[str, dict] = {}
        protocol: dict = {}
        for row in tbl.to_pylist():
            if row.get("protocol"):
                protocol = {
                    k: v2 for k, v2 in row["protocol"].items()
                    if v2 is not None
                }
            elif row.get("add"):
                a = {k: v2 for k, v2 in row["add"].items() if v2 is not None}
                # pyarrow maps round-trip as [(k, v)] — restore the
                # JSON-log dict shape so checkpoint-seeded state is
                # indistinguishable from replayed state
                a["partitionValues"] = dict(a.get("partitionValues") or [])
                active[a["path"]] = a
            elif row.get("remove"):
                r = {k: v2 for k, v2 in row["remove"].items() if v2 is not None}
                tombstones[r["path"]] = r
            elif row.get("metaData"):
                m = {k: v2 for k, v2 in row["metaData"].items() if v2 is not None}
                m["configuration"] = dict(m.get("configuration") or [])
                if "format" in m:
                    m["format"] = {
                        "provider": m["format"].get("provider", "parquet"),
                        "options": dict(m["format"].get("options") or []),
                    }
                meta = m
        return v, active, meta, tombstones, protocol

    def checkpoint(self) -> int:
        """Write the current snapshot state as the spec's parquet
        checkpoint (one row per action: protocol + metaData + every
        active add + every remove tombstone younger than the spec's
        retention window, as nullable top-level structs) plus the
        ``_last_checkpoint`` pointer. Readers of any version ≥ this one
        start here instead of replaying every JSON commit; tombstones
        are retained so checkpoint-seeded readers (incl. VACUUM) still
        know about removed-but-present files, as the spec requires.
        Returns the checkpointed version."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self.version
        if v is None:
            raise FileNotFoundError(f"no Delta log under {self.root}")
        active, meta, tombstones = self._replay(v)
        add_struct = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
            ]
        )
        meta_struct = pa.struct(
            [
                ("id", pa.string()),
                ("format", pa.struct(
                    [("provider", pa.string()),
                     ("options", pa.map_(pa.string(), pa.string()))]
                )),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
                ("createdTime", pa.int64()),
            ]
        )
        proto_struct = pa.struct(
            [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
        )
        remove_struct = pa.struct(
            [
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        )
        schema = pa.schema(
            [
                ("protocol", proto_struct),
                ("metaData", meta_struct),
                ("add", add_struct),
                ("remove", remove_struct),
            ]
        )

        def _mapify(d: dict, key: str) -> list:
            return list((d.get(key) or {}).items())

        rows = [
            {"protocol": self._protocol(),
             "metaData": None, "add": None, "remove": None},
            {"protocol": None,
             "metaData": {
                 "id": meta.get("id"),
                 "format": {
                     "provider": meta.get("format", {}).get("provider", "parquet"),
                     "options": _mapify(meta.get("format", {}), "options"),
                 },
                 "schemaString": meta.get("schemaString"),
                 "partitionColumns": meta.get("partitionColumns") or [],
                 "configuration": _mapify(meta, "configuration"),
                 "createdTime": meta.get("createdTime"),
             },
             "add": None, "remove": None},
        ]
        for path in sorted(active):
            a = active[path]
            rows.append(
                {"protocol": None, "metaData": None, "remove": None,
                 "add": {
                     "path": a["path"],
                     "partitionValues": _mapify(a, "partitionValues"),
                     "size": a["size"],
                     "modificationTime": a["modificationTime"],
                     "dataChange": False,
                     "stats": a.get("stats"),
                 }}
            )
        # the spec requires checkpoints to RETAIN unexpired remove
        # tombstones — dropping them would make a checkpoint-seeded
        # VACUUM blind to removed-but-present files
        cutoff = _now_ms() - _TOMBSTONE_RETENTION_MS
        for path in sorted(tombstones):
            r = tombstones[path]
            if (r.get("deletionTimestamp") or 0) < cutoff:
                continue  # expired: eligible for vacuum, not replay
            rows.append(
                {"protocol": None, "metaData": None, "add": None,
                 "remove": {
                     "path": r["path"],
                     "deletionTimestamp": r.get("deletionTimestamp"),
                     "dataChange": bool(r.get("dataChange", True)),
                 }}
            )
        tmp = self._checkpoint_path(v) + f".{uuid.uuid4().hex}.tmp"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.rename(tmp, self._checkpoint_path(v))
        ptr_tmp = os.path.join(
            self.root, _LOG_DIR, f"_last_checkpoint.{uuid.uuid4().hex}.tmp"
        )
        with open(ptr_tmp, "w", encoding="utf-8") as fh:
            json.dump({"version": v, "size": len(rows)}, fh)
        os.rename(ptr_tmp, os.path.join(self.root, _LOG_DIR, "_last_checkpoint"))
        return v

    def _commit(self, version: int, actions: list[dict]) -> int:
        """Atomic put-if-absent of ``<version>.json``: write a temp
        file, hard-link it to the final name (fails with
        FileExistsError if a concurrent writer won), unlink the temp.
        A torn temp file is invisible to readers — only the link
        publishes."""
        tmp = self._log_path(version) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            for action in actions:
                fh.write(json.dumps(action, separators=(",", ":")) + "\n")
        try:
            os.link(tmp, self._log_path(version))
        finally:
            os.unlink(tmp)
        if (
            self.checkpoint_interval
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            self.checkpoint()
        return version

    def _meta_action(self, df: DataFrame) -> dict:
        # an overwrite keeps the table's identity and configuration
        # (spec: metaData.id is stable for the table's lifetime, and
        # dropping configuration would silently shed CHECK constraints)
        mid, cfg, created = str(uuid.uuid4()), {}, _now_ms()
        if self.exists():
            _, meta, _ = self._replay()
            mid = meta.get("id") or mid
            cfg = dict(meta.get("configuration") or {})
            created = meta.get("createdTime") or created
        return {
            "metaData": {
                "id": mid,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": self.partition_columns(),
                "configuration": cfg,
                "createdTime": created,
            }
        }

    def _protocol(self) -> dict:
        """The table's current protocol action (latest in the log wins
        — versions are monotonic per spec). Reverse-scans the commit
        JSONs, stopping at the newest checkpoint (whose protocol row
        seeds the default), so resolution stays
        O(commits-since-checkpoint)."""
        default = {"minReaderVersion": 1, "minWriterVersion": 2}
        versions = self._committed_versions()
        if not versions:
            return default
        cp = self._latest_checkpoint(versions[-1])
        floor = -1
        if cp is not None:
            floor = cp[0]
            if cp[4]:
                default = cp[4]
        for v in reversed(versions):
            if v <= floor:
                break
            for action in self._actions(v):
                if "protocol" in action:
                    return action["protocol"]
        return default

    def partition_columns(self) -> list[str]:
        """The table's partition spec: metaData wins for an existing
        table (and a conflicting constructor spec raises — the
        directory contract is fixed at creation); the constructor's
        spec applies to a table this handle is about to create."""
        if self.exists():
            _, meta, _ = self._replay()
            cols = meta.get("partitionColumns") or []
            if self._init_partition_cols and self._init_partition_cols != cols:
                raise ValueError(
                    f"table at {self.root} is partitioned by {cols}, "
                    f"not {self._init_partition_cols}; the partition "
                    f"spec is fixed at table creation"
                )
            return cols
        return list(self._init_partition_cols)

    def _rel_from_uri(self, uri: str) -> str:
        """Table-root-relative path from an ``input_file_name()`` URI
        (basename is not enough once files live under ``col=value/``
        partition directories)."""
        parsed = urlparse(uri)
        path = unquote(parsed.path) if parsed.scheme else uri
        rel = os.path.relpath(path, os.path.abspath(self.root))
        return _log_encode_path(rel.replace(os.sep, "/"))

    def _read_files(self, rel_paths: list[str], schema: T.StructType) -> DataFrame:
        """Read exactly these active files under the log's schema.
        ``basePath`` pins partition discovery to the table root so the
        hive ``col=value`` directories materialize as the partition
        columns the log schema declares."""
        paths = [os.path.join(self.root, _log_decode_path(p)) for p in rel_paths]
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.root)
            .parquet(*paths)
        )

    # -- data files ----------------------------------------------------------
    def _stage_files(self, df: DataFrame, data_change: bool) -> list[dict]:
        """Write ``df`` as parquet part files under the table root
        (unique names; partitioned tables keep Spark's hive
        ``col=value/`` layout) and return their ``add`` actions with
        footer-derived stats and spec ``partitionValues``."""
        import pyarrow.parquet as pq

        if data_change:
            # CHECK constraints are enforced IN the write job (guard
            # expression, no extra pass over df) — a violation aborts
            # before any commit JSON exists
            df = self._with_constraint_guards(df)
        pcols = self.partition_columns()
        stage = os.path.join(self.root, f"_stage_{uuid.uuid4().hex}")
        try:
            if pcols:
                df.write.partitionBy(*pcols).parquet(stage)
            else:
                df.write.parquet(stage)
        except Exception as exc:  # translate executor-side assert
            detail = str(exc)
            if _CONSTRAINT_MARK not in detail:
                raise
            shutil.rmtree(stage, ignore_errors=True)
            line = next(
                (l for l in detail.splitlines() if _CONSTRAINT_MARK in l),
                detail,
            )
            raise ConstraintViolationError(
                line.split(_CONSTRAINT_MARK, 1)[1].lstrip(": ").strip()
                or line
            ) from None
        stats_fields = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, _STATS_TYPES) and f.name not in pcols
        ]
        adds = []
        for dirpath, _dirs, names in sorted(os.walk(stage)):
            rel_dir = os.path.relpath(dirpath, stage)
            part_values: dict[str, str | None] = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    col, _, raw = seg.partition("=")
                    part_values[col] = (
                        None if raw == _HIVE_NULL else unquote(raw)
                    )
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, name)
                if pq.ParquetFile(src).metadata.num_rows == 0:
                    continue  # local[] partitioning padding, not data
                final = f"part-{uuid.uuid4().hex}.snappy.parquet"
                if rel_dir != ".":
                    os.makedirs(os.path.join(self.root, rel_dir), exist_ok=True)
                    final = os.path.join(rel_dir, final)
                dst = os.path.join(self.root, final)
                os.rename(src, dst)
                adds.append(
                    {
                        "add": {
                            # spec paths are forward-slash relative,
                            # RFC 2396 percent-encoded
                            "path": _log_encode_path(final.replace(os.sep, "/")),
                            "partitionValues": part_values,
                            "size": os.path.getsize(dst),
                            "modificationTime": _now_ms(),
                            "dataChange": data_change,
                            "stats": json.dumps(
                                _footer_stats(pq.ParquetFile(dst), stats_fields)
                            ),
                        }
                    }
                )
        shutil.rmtree(stage)
        return adds

    def _remove_actions(self, paths: list[str]) -> list[dict]:
        ts = _now_ms()
        return [
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": True}}
            for p in paths
        ]

    # -- reads ---------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Latest committed snapshot, or ``VERSION AS OF`` time travel:
        replay the log to ``version``, read exactly the active files
        under the log's schema (schema enforcement — parquet footers do
        not get a vote)."""
        active, meta, _ = self._replay(version)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        if not active:
            return self.spark.createDataFrame([], schema)
        return self._read_files(sorted(active), schema)

    def version_as_of(self, timestamp_ms: int) -> int:
        """TIMESTAMP AS OF resolution: the newest committed version
        whose commitInfo timestamp is ≤ ``timestamp_ms`` (delta-spark
        semantics; it falls back to file mtimes — our writer always
        stamps commitInfo, which survives copies/rsync where mtimes
        don't). Raises if the timestamp predates the table."""
        best = None
        for v in self._committed_versions():
            ts = None
            for action in self._actions(v):
                if "commitInfo" in action:
                    ts = action["commitInfo"].get("timestamp")
            if ts is None:
                ts = int(os.path.getmtime(self._log_path(v)) * 1000)
            if ts <= timestamp_ms:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no commit at or before timestamp {timestamp_ms} under {self.root}"
            )
        return best

    def read_as_of(self, timestamp_ms: int) -> DataFrame:
        """``SELECT ... TIMESTAMP AS OF``: snapshot at the newest
        commit whose timestamp is ≤ ``timestamp_ms``."""
        return self.read(version=self.version_as_of(timestamp_ms))

    def active_files(self, version: int | None = None) -> list[dict]:
        """The snapshot's add-actions (path, size, stats) — the
        data-skipping surface a planner prunes on. The dicts are the
        handle's parsed log actions: read them, do not mutate them."""
        active, _, _ = self._replay(version)
        return [active[p] for p in sorted(active)]

    def files_where(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> list[str]:
        """The file-skipping decision alone: relative paths of active
        files that MAY hold rows with ``col`` in [lo, hi] (partition
        value for partition columns, add-action min/max stats
        otherwise; either bound may be None = open). Exposed so tests
        and capacity planning can measure skipping without reading
        data; :meth:`read_where` scans exactly these files."""
        active, meta, _ = self._replay(version)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        pcols = meta.get("partitionColumns") or []
        dtype = next(
            (f.dataType for f in schema.fields if f.name == col), None
        )
        c_lo, c_hi = _stat_cmp(lo), _stat_cmp(hi)
        keep = []
        for path in sorted(active):
            if col in pcols:
                raw = (active[path].get("partitionValues") or {}).get(col)
                val = _stat_cmp(_typed_partition_value(raw, dtype))
                if val is None:
                    keep.append(path)  # NULL partition: row filter decides
                elif (c_lo is None or val >= c_lo) and (
                    c_hi is None or val <= c_hi
                ):
                    keep.append(path)
                continue
            stats = json.loads(active[path].get("stats") or "{}")
            mn = stats.get("minValues", {}).get(col)
            mx = stats.get("maxValues", {}).get(col)
            if mn is None or mx is None:
                keep.append(path)  # unknown bounds: must scan
            elif (c_lo is None or mx >= c_lo) and (c_hi is None or mn <= c_hi):
                keep.append(path)
        return keep

    def read_where(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """Snapshot read with FILE SKIPPING: when ``col`` is a
        partition column, keep only the files whose ``partitionValues``
        entry falls in [lo, hi] (partition pruning at the table-format
        level — the first thing a 100 TB reader needs); otherwise keep
        the files whose add-action stats [min, max] interval for
        ``col`` intersects [lo, hi] (either bound may be None = open).
        The row filter applies on top in both cases. Files with no
        published bounds are conservatively kept — skipping is an
        optimization, never a correctness decision. At 100 TB the
        driver prunes on a few bytes of log metadata instead of
        launching tasks per file."""
        _, meta, _ = self._replay(version)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        keep = self.files_where(col, lo, hi, version=version)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        if not keep:
            return self.spark.createDataFrame([], schema)
        return self._read_files(keep, schema).filter(cond)

    # -- commits ---------------------------------------------------------------
    def write(self, df: DataFrame) -> int:
        """Full overwrite: remove every active file, add the new ones —
        one atomic commit, old snapshots stay time-travelable."""
        v = 0 if self.version is None else self.version + 1
        old = list(self._replay()[0]) if self.exists() else []
        # partition_columns() validates the constructor spec against an
        # existing table's metaData before any file is staged
        self.partition_columns()
        actions = [self._meta_action(df)]
        if v == 0:
            actions.insert(
                0, {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        actions += self._stage_files(df, data_change=True)
        actions += self._remove_actions(old)
        actions.append(_commit_info("WRITE"))
        return self._commit(v, actions)

    def _check_schema(self, df: DataFrame, merge_schema: bool) -> dict | None:
        """SCHEMA ENFORCEMENT (the Delta writer contract): an append
        whose schema differs from the log's is rejected — without this
        a wider append silently loses its extra column on read (the
        log schema wins) and a narrower one writes unreadable intent.
        ``merge_schema=True`` permits ADDITIVE evolution only (new
        columns appended to the log schema; existing files read the
        merged schema with nulls for the new columns — parquet's
        missing-column semantics); type changes and dropped columns
        stay rejected. Returns the new metaData action when the schema
        evolved, else None. Nullability/metadata differences are not a
        mismatch (createDataFrame defaults differ from parquet's)."""
        _, meta, _ = self._replay()
        current = T.StructType.fromJson(json.loads(meta["schemaString"]))
        cur = {f.name: f.dataType for f in current.fields}
        new = {f.name: f.dataType for f in df.schema.fields}
        if cur == new:
            return None
        changed = sorted(n for n in cur.keys() & new.keys() if cur[n] != new[n])
        missing = sorted(cur.keys() - new.keys())
        added = sorted(new.keys() - cur.keys())
        if changed or missing or not merge_schema:
            raise ValueError(
                f"schema mismatch vs the Delta log at {self.root}: "
                f"added={added} missing={missing} type_changed={changed}"
                + (
                    "" if changed or missing
                    else " — pass merge_schema=True for additive evolution"
                )
            )
        merged = T.StructType(
            list(current.fields)
            + [f for f in df.schema.fields if f.name not in cur]
        )
        new_meta = dict(meta)
        new_meta["schemaString"] = merged.json()
        return {"metaData": new_meta}

    def append(
        self, df: DataFrame, max_retries: int = 0, merge_schema: bool = False
    ) -> int:
        """Blind append: add-only commit, nothing rewritten. The
        df's schema must match the log schema (see
        :meth:`_check_schema`); ``merge_schema=True`` allows additive
        new columns, committing the evolved metaData with the adds.

        ``max_retries`` > 0 opts into the Delta spec's conflict
        resolution for BLIND APPENDS: an add-only commit reads no
        table state, so losing the put-if-absent race to another
        writer is always rebasable — re-attempt at the new head
        version without restaging (the data files are already on
        disk; only the commit JSON re-targets). This is exactly
        delta-spark's WriteSerializable behavior for appends. The
        default stays fail-fast (0): single-writer callers should see
        a racer, not absorb it. (A schema-evolving append is NOT
        blind — it read the schema — so retries require
        ``merge_schema=False``.)"""
        if not self.exists():
            return self.write(df)
        meta_action = self._check_schema(df, merge_schema)
        if meta_action is not None and max_retries:
            raise ValueError(
                "merge_schema appends read table state and cannot be "
                "blindly rebased; use max_retries=0"
            )
        read_v = self.version
        v = read_v + 1  # captured BEFORE staging: a racer that
        # publishes this version first makes our commit fail, never
        # silently land on top of a snapshot we didn't read
        actions = self._stage_files(df, data_change=True)
        if meta_action is not None:
            actions.insert(0, meta_action)
        actions.append(_commit_info("WRITE"))
        for _attempt in range(max_retries + 1):
            try:
                return self._commit(v, actions)
            except FileExistsError:
                if _attempt == max_retries:
                    raise
                # rebase: a blind append commutes with DATA landed by
                # the racer — but NOT with a metaData/protocol change
                # (a concurrent schema evolution would make our staged
                # files silently stale — extra columns read as null /
                # our intent lost). A blind append has an EMPTY read
                # set, so reconciliation degenerates to exactly the
                # metadata check (WriteSerializable's rule for
                # appends).
                v = self._reconcile_winners(read_v, removed=[])

    def _reconcile_winners(
        self,
        read_v: int,
        *,
        removed: list[str],
        on_cols: list[str] | None = None,
        bounds=None,
        any_add_conflicts: bool = False,
    ) -> int:
        """Delta WriteSerializable LOGICAL-CONFLICT reconciliation
        after losing the put-if-absent commit race (PROTOCOL.md
        'Concurrency Control' / delta-spark's ConflictChecker):
        inspect every commit in (read_v, head] and raise unless THIS
        transaction commutes with all of them — in which case return
        head+1, the rebased target version. Mirrors delta-spark's
        exception taxonomy:

        - metaData/protocol in a winner → concurrent METADATA change
          (this txn validated its schema against the old head);
        - a winner removed a file this txn also removes → concurrent
          DELETE-DELETE; a data-changing remove of a file this txn's
          key range may have READ (stats/partition intersection at
          the read snapshot) → DELETE-READ — serial execution after
          the winner would have seen different rows;
        - a winner added data files this txn should have read:
          stats/partition intersection with (``on_cols``, ``bounds``)
          for keyed MERGE txns, or ANY data-changing add when
          ``any_add_conflicts`` (a predicate txn cannot prove
          disjointness from stats) → concurrent APPEND.

        dataChange=false shuffling (OPTIMIZE) commutes unless it
        tombstoned a file this txn removes (double-remove would
        resurrect the compacted copy of rewritten rows)."""
        head = self.version
        active_read, meta, _ = self._replay(read_v)
        pcols = meta.get("partitionColumns") or []
        dtypes = {
            f.name: f.dataType
            for f in T.StructType.fromJson(
                json.loads(meta["schemaString"])
            ).fields
        }
        my_removed = set(removed)

        def keyed_match(add: dict) -> bool:
            return bool(on_cols) and _add_may_match(
                add, on_cols, bounds, pcols, dtypes
            )

        for won in range(read_v + 1, head + 1):
            try:
                actions = self._actions(won)
            except FileNotFoundError:
                continue  # gap: racer between listdir and open
            for action in actions:
                if "metaData" in action or "protocol" in action:
                    raise ValueError(
                        f"concurrent metadata change at version {won} of "
                        f"{self.root}: a racing commit altered the table "
                        f"schema/protocol; re-read the table and retry"
                    )
                if "remove" in action:
                    p = action["remove"]["path"]
                    if p in my_removed:
                        raise ValueError(
                            f"concurrent delete at version {won} of "
                            f"{self.root}: the racing commit removed "
                            f"file(s) this transaction read and rewrote; "
                            f"re-read the table and retry"
                        )
                    if action["remove"].get("dataChange", True):
                        prior = active_read.get(p)
                        if prior is not None and keyed_match(prior):
                            raise ValueError(
                                f"concurrent delete at version {won} of "
                                f"{self.root}: the racing commit removed "
                                f"rows in this transaction's key range; "
                                f"re-read the table and retry"
                            )
                elif "add" in action and action["add"].get(
                    "dataChange", True
                ):
                    if any_add_conflicts or keyed_match(action["add"]):
                        raise ValueError(
                            f"concurrent append at version {won} of "
                            f"{self.root}: the racing commit added rows "
                            f"this transaction should have read; re-read "
                            f"the table and retry"
                        )
        return head + 1

    def insert_if_absent(
        self, new: DataFrame, keys: list[str], max_retries: int = 0
    ) -> int:
        """MERGE ... WHEN NOT MATCHED THEN INSERT (ON CONFLICT DO
        NOTHING): anti-join against the snapshot, append the survivors.
        Add-only — no data file is rewritten.

        ``max_retries`` > 0 opts into WriteSerializable conflict
        resolution: a lost commit race rebases to the new head when
        every winning commit is key-disjoint (no adds OR removes whose
        stats/partitions intersect this batch's key bounds — either
        could change the anti-join's answer), else raises a clear
        concurrent-append/delete error. Result ≡ serial execution."""
        if not self.exists():
            return self.write(new.dropDuplicates(keys))
        self._check_schema(new, merge_schema=False)
        read_v = self.version
        v = read_v + 1
        missing = new.dropDuplicates(keys).join(
            self.read().select(keys), keys, "left_anti"
        )
        actions = self._stage_files(missing, data_change=True)
        actions.append(_commit_info("MERGE"))
        bounds = None
        for _attempt in range(max_retries + 1):
            try:
                return self._commit(v, actions)
            except FileExistsError:
                if _attempt == max_retries:
                    raise
                if bounds is None:
                    bounds = self._key_bounds(new, keys)
                v = self._reconcile_winners(
                    read_v, removed=[], on_cols=keys, bounds=bounds
                )

    def _candidate_files(self, match: DataFrame, on_cols: list[str]) -> list[str]:
        """STATS PRUNING for merge-candidate detection: a file can only
        contain a matching key if, for every key column with published
        stats, its [min, max] intersects the update batch's [min, max]
        (or the file has nulls and the batch has null keys — the window
        semantics match NULL to NULL). Partition key columns prune on
        their ``partitionValues`` point instead of footer stats. One
        tiny agg over the update side buys skipping the scan of every
        out-of-range file — real Delta MERGE's file pruning.
        Conservative: missing stats keep the file."""
        active, meta, _ = self._replay()
        pcols = meta.get("partitionColumns") or []
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        dtypes = {f.name: f.dataType for f in schema.fields}
        b = self._key_bounds(match, on_cols)
        return [
            path
            for path in sorted(active)
            if _add_may_match(active[path], on_cols, b, pcols, dtypes)
        ]

    def _key_bounds(self, match: DataFrame, on_cols: list[str]):
        """The one tiny agg feeding :func:`_add_may_match`: per key
        column min/max/has-null over the update batch."""
        aggs = []
        for k in on_cols:
            aggs += [
                F.min(k).alias(f"_mn_{k}"),
                F.max(k).alias(f"_mx_{k}"),
                F.max(F.col(k).isNull()).alias(f"_null_{k}"),
            ]
        return match.agg(*aggs).first()

    def _touched_files(self, match: DataFrame, on_cols: list[str]) -> list[str]:
        """Active files that contain at least one row matching
        ``match`` on ``on_cols``: stats-pruned candidates first, then a
        null-safe semi-join over just those files (null-SAFE because the
        upsert's window semantics group NULL keys together — a plain
        equi-join would never mark a null-keyed row's file as touched
        and the stale row would survive next to its replacement). The
        match side broadcasts when small; only file NAMES come back to
        the driver."""
        candidates = self._candidate_files(match, on_cols)
        if not candidates:
            return []
        _, meta, _ = self._replay()
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        tagged = self._read_files(candidates, schema).withColumn(
            "_file", F.input_file_name()
        )
        probe = match.select(
            *[F.col(k).alias(f"_m_{k}") for k in on_cols]
        ).dropDuplicates()
        cond = None
        for k in on_cols:
            c = F.col(k).eqNullSafe(F.col(f"_m_{k}"))
            cond = c if cond is None else (cond & c)
        rows = (
            tagged.join(probe, cond, "left_semi")
            .select("_file")
            .distinct()
            .collect()
        )
        return [self._rel_from_uri(r["_file"]) for r in rows]

    def upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        version_col: str,
        max_retries: int = 0,
    ) -> int:
        """MERGE WHEN MATCHED AND s.version >= t.version THEN UPDATE
        WHEN NOT MATCHED THEN INSERT — latest-wins full-row upsert with
        Delta MERGE's physical shape: only files containing a matched
        key are rewritten; every other file carries over untouched.

        ``max_retries`` > 0 opts into WriteSerializable conflict
        resolution (:meth:`_reconcile_winners`): a lost commit race
        rebases to the new head when every winning commit is disjoint
        from this MERGE — touched different files AND a key range
        whose stats/partitions don't intersect this batch's — else
        raises a clear concurrent-append/delete/metadata error.
        Two concurrent upserts into DIFFERENT partitions both land;
        overlapping ones surface the racer. Result ≡ serial
        execution (pinned in tests/test_delta_log.py)."""
        updates = dedup_on_keys(updates, keys, [F.desc(version_col)])
        if not self.exists():
            return self.write(updates)
        self._check_schema(updates, merge_schema=False)
        read_v = self.version
        v = read_v + 1
        touched = self._touched_files(updates, keys)
        current = self.read()
        if touched:
            _, meta, _ = self._replay()
            schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
            touched_df = self._read_files(touched, schema)
            merged = upsert_latest_wins(touched_df, updates, keys, version_col)
        else:
            # pure insert: nothing to rewrite, append only the new keys
            merged = updates.join(current.select(keys), keys, "left_anti")
        actions = self._stage_files(merged, data_change=True)
        actions += self._remove_actions(touched)
        actions.append(_commit_info("MERGE"))
        bounds = None
        for _attempt in range(max_retries + 1):
            try:
                return self._commit(v, actions)
            except FileExistsError:
                if _attempt == max_retries:
                    raise
                if bounds is None:
                    bounds = self._key_bounds(updates, keys)
                v = self._reconcile_winners(
                    read_v, removed=touched, on_cols=keys, bounds=bounds
                )

    def delete_where(self, predicate: Column, max_retries: int = 0) -> int:
        """DELETE ... WHERE p with the fallback's exact contract: keep
        the complement (``filter(~p)`` — predicate-NULL rows are
        dropped too, so both implementations stay bit-identical on any
        predicate; SQL DELETE proper would keep NULL rows). Files with
        no affected row carry over; affected files are rewritten minus
        the dropped rows — so 'affected' must include NULL-predicate
        rows, not just TRUE ones.

        ``max_retries`` > 0 opts into WriteSerializable conflict
        resolution: a lost commit race rebases when the winners only
        removed OTHER files and added nothing data-changing (an
        arbitrary predicate cannot be proven disjoint from new rows
        via stats, so ANY concurrent data-changing add conflicts —
        delta-spark's rule for predicate txns without partition
        pruning). Else raises the clear concurrent-change error."""
        if not self.exists():
            raise FileNotFoundError(f"no Delta log under {self.root}")
        read_v = self.version
        v = read_v + 1
        current = self.read().withColumn("_file", F.input_file_name())
        touched_rows = (
            current.filter(predicate.isNull() | predicate)
            .select("_file")
            .distinct()
            .collect()
        )
        touched = [self._rel_from_uri(r["_file"]) for r in touched_rows]
        if not touched:
            actions = [_commit_info("DELETE")]
        else:
            _, meta, _ = self._replay()
            schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
            survivors = self._read_files(touched, schema).filter(~predicate)
            actions = self._stage_files(survivors, data_change=True)
            actions += self._remove_actions(touched)
            actions.append(_commit_info("DELETE"))
        for _attempt in range(max_retries + 1):
            try:
                return self._commit(v, actions)
            except FileExistsError:
                if _attempt == max_retries:
                    raise
                v = self._reconcile_winners(
                    read_v, removed=touched, any_add_conflicts=True
                )

    def truncate(self) -> int:
        """DELETE FROM t: remove every active file (metadata-only —
        nothing is read or rewritten)."""
        if not self.exists():
            raise FileNotFoundError(f"no Delta log under {self.root}")
        v = self.version + 1
        old = list(self._replay()[0])
        actions = self._remove_actions(old)
        actions.append(_commit_info("DELETE"))
        return self._commit(v, actions)

    def changes(
        self,
        keys: list[str],
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Keyed change feed between two committed versions, same
        contract as the fallback's ``changes``.

        FAST PATH: when every commit in the window is ADD-ONLY (pure
        appends / insert_if_absent — no remove, no schema change), the
        log itself IS the change feed: read just the files those
        commits added and stamp them ``insert``. No snapshot join, no
        old-version scan — at 100 TB this reads only the delta, which
        is the point of a log-structured table. Sound because the table
        is keyed (the method's own contract): an active snapshot never
        holds a key twice, so a row added in the window is a key that
        was absent at ``from_version``. Any remove/metaData in the
        window falls back to the keyed snapshot diff (correct for any
        committed pair)."""
        from .upsert import snapshot_changes

        to_v = self.version if to_version is None else to_version
        # Vacuum guard for the WHOLE window, fast path included: the
        # add-only path reads the window's added files directly, and a
        # file added in the window may have been tombstoned AFTER to_v
        # and physically vacuumed. The horizon is the max removal
        # version of any vacuumed file, so from_version >= horizon
        # implies every add after from_version still exists (its
        # removal version would exceed the horizon — contradiction).
        # The snapshot-diff fallback needs from_version intact anyway.
        horizon = self._vacuum_horizon()
        if from_version < horizon:
            raise ValueError(
                f"change feed from version {from_version} predates the "
                f"vacuum horizon {horizon}: data files in that window "
                f"have been physically deleted by vacuum() and the feed "
                f"is no longer reconstructible"
            )
        window_adds: list[str] = []
        add_only = True
        for v in self._committed_versions():
            if v <= from_version or v > to_v:
                continue
            for action in self._actions(v):
                if "add" in action:
                    window_adds.append(action["add"]["path"])
                elif "commitInfo" in action:
                    pass
                else:  # remove / metaData / protocol
                    add_only = False
            if not add_only:
                break
        if add_only:
            _, meta, _ = self._replay(to_v)
            schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
            if not window_adds:
                empty = self.spark.createDataFrame([], schema)
                return empty.select(
                    *keys,
                    *[c for c in empty.columns if c not in keys],
                    F.lit("insert").alias("_change_type"),
                )
            added = self._read_files(window_adds, schema)
            return added.select(
                *keys,
                *[c for c in added.columns if c not in keys],
                F.lit("insert").alias("_change_type"),
            )
        return snapshot_changes(self.read(to_version), self.read(from_version), keys)

    # -- CHECK constraints ---------------------------------------------------
    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints as name → SQL expression (stored
        under the spec's ``delta.constraints.<name>`` configuration
        keys)."""
        if not self.exists():
            return {}
        _, meta, _ = self._replay()
        return {
            k[len(_CONSTRAINT_PREFIX):]: v
            for k, v in (meta.get("configuration") or {}).items()
            if k.startswith(_CONSTRAINT_PREFIX)
        }

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ``name`` CHECK (``expr``):
        validates the EXISTING rows first (one scan; a NULL evaluation
        passes — SQL CHECK semantics), then commits the
        ``delta.constraints.<name>`` configuration entry plus, for the
        table's first constraint, the protocol upgrade to
        minWriterVersion 3 the spec requires. From then on every
        data-changing write evaluates the expression inside the write
        job itself — zero extra passes — and a violating row aborts
        the whole commit with :class:`ConstraintViolationError` before
        any log entry exists."""
        if not self.exists():
            raise FileNotFoundError(f"no Delta log under {self.root}")
        if not name or any(ch.isspace() for ch in name) or "." in name:
            raise ValueError(f"invalid constraint name: {name!r}")
        _, meta, _ = self._replay()
        cfg = dict(meta.get("configuration") or {})
        key = _CONSTRAINT_PREFIX + name
        if key in cfg:
            raise ValueError(
                f"constraint {name} already exists: {cfg[key]}"
            )
        ok = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        bad = self.read().filter(~ok).limit(1).collect()
        if bad:
            raise ConstraintViolationError(
                f"cannot add CHECK constraint {name} ({expr}): an "
                f"existing row violates it: {bad[0].asDict()}"
            )
        cfg[key] = expr
        new_meta = dict(meta)
        new_meta["configuration"] = cfg
        actions: list[dict] = []
        proto = self._protocol()
        if proto.get("minWriterVersion", 2) < 3:
            actions.append(
                {"protocol": {
                    "minReaderVersion": proto.get("minReaderVersion", 1),
                    "minWriterVersion": 3,
                }}
            )
        info = _commit_info("ADD CONSTRAINT")
        info["commitInfo"]["operationParameters"] = {
            "name": name, "expr": expr
        }
        actions += [{"metaData": new_meta}, info]
        return self._commit(self.version + 1, actions)

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT: removes the configuration
        entry (the protocol stays at writer 3 — spec versions never
        downgrade)."""
        if not self.exists():
            raise FileNotFoundError(f"no Delta log under {self.root}")
        _, meta, _ = self._replay()
        cfg = dict(meta.get("configuration") or {})
        key = _CONSTRAINT_PREFIX + name
        if key not in cfg:
            raise ValueError(f"no such constraint: {name}")
        del cfg[key]
        new_meta = dict(meta)
        new_meta["configuration"] = cfg
        info = _commit_info("DROP CONSTRAINT")
        info["commitInfo"]["operationParameters"] = {"name": name}
        return self._commit(
            self.version + 1, [{"metaData": new_meta}, info]
        )

    def _with_constraint_guards(self, df: DataFrame) -> DataFrame:
        """Wrap ``df`` so every active CHECK constraint is asserted on
        each row inside whatever job writes it: the first column is
        rewrapped in assert-guard CASE layers whose value is unchanged
        when all constraints hold and whose evaluation raises (with
        the violating row's JSON) when one is strictly FALSE. NULL
        evaluations pass, per SQL CHECK."""
        cons = self.constraints()
        if not cons:
            return df
        c0 = df.columns[0]
        guard = F.col(c0)
        for name in sorted(cons):
            expr = cons[name]
            try:
                df.select(F.expr(expr))  # analysis only, driver-side
            except Exception as exc:
                raise ValueError(
                    f"CHECK constraint {name} ({expr}) cannot be "
                    f"evaluated against the written schema — drop the "
                    f"constraint first ({exc})"
                ) from None
            ok = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            msg = F.concat(
                F.lit(
                    f"{_CONSTRAINT_MARK}: CHECK constraint {name} "
                    f"({expr}) violated by row "
                ),
                F.to_json(F.struct(*[F.col(c) for c in df.columns])),
            )
            guard = F.when(F.assert_true(ok, msg).isNull(), guard)
        return df.withColumn(c0, guard)

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_cols: list[str] | None = None,
    ) -> int:
        """OPTIMIZE: coalesce the active files toward
        ``target_file_bytes``, committed with ``dataChange: false`` on
        both sides so CDC/streaming readers know no rows changed."""
        if not self.exists():
            raise FileNotFoundError(f"no Delta log under {self.root}")
        v = self.version + 1
        active, meta, _ = self._replay()
        total = sum(a["size"] for a in active.values())
        n_out = max(1, round(total / target_file_bytes))
        df = self.read()
        if sort_cols:
            df = df.repartitionByRange(n_out, *sort_cols)
        else:
            df = df.coalesce(n_out)
        actions = self._stage_files(df, data_change=False)
        for a in actions:
            a["add"]["dataChange"] = False
        ts = _now_ms()
        actions += [
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": False}}
            for p in active
        ]
        actions.append(_commit_info("OPTIMIZE"))
        return self._commit(v, actions)

    def zorder_by(
        self,
        cols: list[str],
        target_file_bytes: int = 128 * 1024 * 1024,
        bits: int = 6,
        sample_cap: int = 4096,
    ) -> int:
        """OPTIMIZE ZORDER BY: rewrite the active files clustered along
        the Morton (Z-order) curve over ``cols``, so every file's
        footer min/max is tight on EVERY listed column and
        :meth:`read_where` / :meth:`files_where` skip files for range
        predicates on ANY of them. ``compact(sort_cols=[a, b])`` sorts
        lexicographically — tight on ``a``, but ``b`` spans its full
        range inside every ``a``-run, so a ``b`` predicate prunes
        nothing; Z-ordering interleaves the columns' rank bits so
        locality (and therefore skipping) degrades gracefully as
        columns are added instead of collapsing after the first.

        Mechanics (all JVM-side — the only driver work is a bounded
        boundary sample of ≤ ``sample_cap`` values per column):

        1. per column, map each value to a rank in [0, 2**bits) against
           quantile boundaries drawn from a deterministic sample
           (NULLs rank 0 — they cluster together like delta-spark's
           NULLS FIRST);
        2. interleave the rank bits of the k columns into one z value
           (bit j of rank i lands at position j*k + i);
        3. ``repartitionByRange`` + ``sortWithinPartitions`` on z
           (partition columns lead the range exchange so a partitioned
           table's hive split does not shred the clustering), then
           stage files exactly like :meth:`compact` — committed with
           ``dataChange: false`` on both sides, so CDC / streaming
           readers see no row change.

        The sampling-based range bucketing is the same strategy
        delta-spark's OPTIMIZE ZORDER uses (range_partition_id);
        boundaries need only be approximately balanced — skew moves
        file boundaries, never rows, and correctness never depends on
        the stats. Complements
        :func:`~..sources.layout.write_zordered`, which Z-orders a
        PLAIN parquet dataset at write time via linear min/max scaling
        of numeric columns; this method rewrites a live Delta table
        in-place (commit + tombstones, CDC-silent) and rank-buckets
        any orderable type, so skewed or string facets cluster just as
        tightly. Returns the committed version."""
        if not self.exists():
            raise FileNotFoundError(f"no Delta log under {self.root}")
        if not cols:
            raise ValueError("zorder_by needs at least one column")
        active, meta, _ = self._replay()
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        pcols = meta.get("partitionColumns") or []
        by_name = {f.name: f.dataType for f in schema.fields}
        for c in cols:
            if c not in by_name:
                raise ValueError(f"unknown z-order column: {c}")
            if c in pcols:
                raise ValueError(
                    f"{c} is a partition column — already pruned by the "
                    "hive layout; z-order the non-partition columns"
                )
        v = self.version + 1
        total = sum(a["size"] for a in active.values())
        n_rows = sum(
            json.loads(a.get("stats") or "{}").get("numRecords") or 0
            for a in active.values()
        )
        n_out = max(1, round(total / target_file_bytes))
        df = self.read()
        ranks = [
            _range_rank(
                df, c, by_name[c], 1 << bits, n_rows, sample_cap
            )
            for c in cols
        ]
        z = F.lit(0)
        for j in range(bits):
            for i, r in enumerate(ranks):
                z = z + F.shiftleft(
                    F.shiftright(r, j).bitwiseAND(F.lit(1)),
                    j * len(ranks) + i,
                )
        zcol = f"__z_{uuid.uuid4().hex[:8]}"
        clustered = (
            df.withColumn(zcol, z)
            .repartitionByRange(n_out, *pcols, zcol)
            .sortWithinPartitions(*pcols, zcol)
            .drop(zcol)
        )
        actions = self._stage_files(clustered, data_change=False)
        for a in actions:
            a["add"]["dataChange"] = False
        ts = _now_ms()
        actions += [
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": False}}
            for p in active
        ]
        info = _commit_info("OPTIMIZE")
        info["commitInfo"]["operationParameters"] = {
            "zOrderBy": json.dumps(cols)
        }
        actions.append(info)
        return self._commit(v, actions)

    def vacuum(self, retention_ms: int = _TOMBSTONE_RETENTION_MS) -> list[str]:
        """VACUUM: physically delete tombstoned data files whose
        ``deletionTimestamp`` is older than ``retention_ms`` (spec
        default 1 week — delta.deletedFileRetentionDuration). The log
        JSONs are never deleted, so commit lineage survives (the keyed
        change feed survives only for windows starting at or above the
        vacuum horizon — :meth:`changes` raises a clear error below it,
        since the window's data files may be gone);
        what dies is TIME TRAVEL to snapshots that referenced the
        deleted files — the vacuum horizon (the oldest still-intact
        version) is recorded in an engine-local sidecar and
        :meth:`read` raises a clear error below it instead of a
        missing-file scan failure. Bounds disk growth: without vacuum a
        high-churn table retains every rewritten file forever. Returns
        the relative paths it deleted."""
        if not self.exists():
            raise FileNotFoundError(f"no Delta log under {self.root}")
        cutoff = _now_ms() - retention_ms
        # full JSON scan (maintenance op): tombstones AND the version
        # each remove landed in — needed for the exact horizon; the
        # JSON log is complete even when replay is checkpoint-seeded
        active_paths: set[str] = set()
        removed_at: dict[str, int] = {}
        removed_ts: dict[str, int] = {}
        for v in self._committed_versions():
            for action in self._actions(v):
                if "add" in action:
                    active_paths.add(action["add"]["path"])
                elif "remove" in action:
                    p = action["remove"]["path"]
                    active_paths.discard(p)
                    removed_at[p] = v
                    removed_ts[p] = action["remove"].get(
                        "deletionTimestamp"
                    ) or 0
        doomed = []
        for p in sorted(removed_ts):
            if p in active_paths or removed_ts[p] >= cutoff:
                continue
            try:
                os.unlink(os.path.join(self.root, _log_decode_path(p)))
            except FileNotFoundError:
                continue  # already vacuumed by an earlier pass
            doomed.append(p)
        if not doomed:
            return []
        # snapshot(v) is intact for all v >= max removal version of any
        # deleted file (a file removed at r is active only below r);
        # monotonic max with any earlier horizon
        horizon = max(
            [self._vacuum_horizon()] + [removed_at[p] for p in doomed]
        )
        sidecar = os.path.join(self.root, _LOG_DIR, "_vacuum_horizon")
        tmp = sidecar + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"minVersion": horizon}, fh)
        os.rename(tmp, sidecar)
        # audit commit (commitInfo-only, like delta-spark's VACUUM END)
        info = _commit_info("VACUUM END")
        info["commitInfo"]["operationParameters"] = {
            "retentionMs": retention_ms,
            "numDeletedFiles": len(doomed),
            "minTimeTravelVersion": horizon,
        }
        self._commit(self.version + 1, [info])
        return doomed


def _sort_proxy(col: str, dtype) -> Column:
    """An order-preserving, sample-and-compare-friendly expression for
    a z-order column: numerics and strings as-is, temporal types to
    their numeric epoch (day / second) so boundary literals collected
    on the driver compare in plain SQL, everything else via its
    canonical string form."""
    c = F.col(col)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType, T.DecimalType,
                          T.StringType)):
        return c
    if isinstance(dtype, T.BooleanType):
        return c.cast("int")
    if isinstance(dtype, T.DateType):
        return F.datediff(c, F.lit("1970-01-01"))
    if isinstance(dtype, T.TimestampType):
        return c.cast("double")
    return c.cast("string")


def _range_rank(
    df: DataFrame, col: str, dtype, n_buckets: int, n_rows: int, cap: int
) -> Column:
    """``col`` as an integer rank in [0, n_buckets): position against
    quantile boundaries drawn from a deterministic bounded sample
    (≤ ``cap`` values on the driver — the same sampling-based range
    bucketing Spark's own repartitionByRange and delta-spark's
    range_partition_id use). Boundaries only steer file boundaries;
    skew or sampling error shifts cluster sizes, never row values, so
    correctness is independent of the sample. NULLs rank 0."""
    proxy = _sort_proxy(col, dtype)
    frac = 1.0 if n_rows <= cap else min(1.0, (cap * 1.5) / n_rows)
    sample = [
        r[0]
        for r in df.select(proxy.alias("v"))
        .where(F.col("v").isNotNull())
        .sample(False, frac, seed=0)
        .limit(cap)
        .collect()
    ]
    sample.sort()
    bounds: list = []
    for i in range(1, n_buckets):
        if not sample:
            break
        b = sample[min(len(sample) - 1, i * len(sample) // n_buckets)]
        if not bounds or b > bounds[-1]:
            bounds.append(b)
    if not bounds:
        return F.lit(0)
    rank = F.aggregate(
        F.array(*[F.lit(b) for b in bounds]),
        F.lit(0),
        lambda acc, x: acc + F.when(proxy >= x, 1).otherwise(0),
    )
    return F.when(proxy.isNull(), F.lit(0)).otherwise(rank)


def _add_may_match(
    add: dict, on_cols: list[str], b, pcols: list[str], dtypes: dict
) -> bool:
    """Whether an ``add`` action's file MAY contain a row matching the
    key-bounds row ``b`` (from :meth:`DeltaLogTable._key_bounds`): for
    every key column, the file's [min, max] (footer stats, or the
    ``partitionValues`` point for partition columns) must intersect
    the batch's [min, max], or null-match (the window semantics group
    NULL keys together). Conservative: missing stats keep the file.
    Shared by merge-candidate pruning AND the optimistic-concurrency
    conflict check (a racing commit's adds conflict exactly when one
    may contain a matching key)."""
    stats = json.loads(add.get("stats") or "{}")
    for k in on_cols:
        if k in pcols:
            raw = (add.get("partitionValues") or {}).get(k)
            val = _typed_partition_value(raw, dtypes.get(k))
            fmn = fmx = _stat_cmp(val)
            fnull = 1 if val is None else 0
            if val is None:
                fmn = fmx = None
        else:
            fmn = stats.get("minValues", {}).get(k)
            fmx = stats.get("maxValues", {}).get(k)
            fnull = stats.get("nullCount", {}).get(k)
        umn = _stat_cmp(b[f"_mn_{k}"])
        umx = _stat_cmp(b[f"_mx_{k}"])
        if fmn is None or fmx is None:
            # a NULL partition value only matches a null key
            if k in pcols and not bool(b[f"_null_{k}"]):
                return False
            continue  # no published bounds: cannot prune on k
        overlaps = umn is not None and not (fmx < umn or fmn > umx)
        null_match = bool(b[f"_null_{k}"]) and (fnull is None or fnull > 0)
        if not (overlaps or null_match):
            return False
    return True


def _typed_partition_value(raw: str | None, dtype):
    """A ``partitionValues`` entry (spec: always a string, null for
    NULL) as a Python value of the column's type, for pruning
    comparisons. Unknown/complex types return the raw string — fine
    for equality-shaped pruning, and the row filter is always applied
    on top."""
    if raw is None:
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(raw)
    if isinstance(dtype, T.TimestampType):
        # hive dirs use 'YYYY-MM-DD HH:MM:SS[.ffffff]' (space); parse to
        # a datetime so _stat_cmp normalizes BOTH sides to ISO-T order —
        # comparing the raw space-separated string against an ISO-T
        # bound would mis-prune (' ' < 'T')
        return datetime.datetime.fromisoformat(raw)
    return raw


def _footer_stats(pf, fields: list[str]) -> dict:
    """Delta ``add.stats`` from the parquet footer: numRecords plus
    min/max per requested leaf column, merged across row groups and
    published only when every row group marks its bounds exact."""
    md = pf.metadata
    out = {"numRecords": md.num_rows, "minValues": {}, "maxValues": {}, "nullCount": {}}
    name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    for col in fields:
        idx = name_to_idx.get(col)
        if idx is None:
            continue
        mins, maxs, nulls, ok = [], [], 0, True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mins.append(st.min)
            maxs.append(st.max)
            nulls += st.null_count if st.null_count is not None else 0
        if ok and mins:
            try:
                # _stat_json: dates/timestamps → ISO-8601 strings (the
                # spec's stats encoding; json.dumps crashes on the raw
                # datetime.date pyarrow returns)
                out["minValues"][col] = _stat_json(min(mins))
                out["maxValues"][col] = _stat_json(max(maxs))
                out["nullCount"][col] = nulls
            except TypeError:  # pragma: no cover - mixed footer types
                pass
    return out


def _commit_info(operation: str) -> dict:
    return {
        "commitInfo": {
            "timestamp": _now_ms(),
            "operation": operation,
            "operationParameters": {},
            "engineInfo": "regpulse_lakehouse_spark delta-log writer",
        }
    }

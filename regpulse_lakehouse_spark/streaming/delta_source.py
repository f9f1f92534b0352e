"""Structured-Streaming source over a :class:`DeltaLogTable` change
feed — the standard 100 TB ingestion pattern: downstream pipelines
incrementally consume a lakehouse table instead of re-scanning it
(delta-spark's ``spark.readStream.format("delta")``; reference-side
the run ledger replays incrementally, services/api/src/repository.ts).

Spark-first shape: **the transaction log IS the stream.** A file
source (``readStream.text``) tails ``_delta_log/*.json`` — commit
JSONs are published with an atomic put-if-absent rename, so a visible
JSON is a committed transaction and its data files are already on
disk (delta_log.py stages files BEFORE the commit). Spark's streaming
checkpoint tracks which commit files have been processed — offsets,
restart, availableNow draining and trigger pacing all come free from
the engine. Inside ``foreachBatch`` each commit's few KB of JSON are
parsed driver-side (bounded metadata, never data), the ADD files it
names are read under the log schema, stamped with the commit version,
and published to the sink — so executors only ever touch the delta's
parquet, never the snapshot.

Exactly-once without a transactional sink: each commit version's rows
land in their own ``commit_version=<v>/`` hive directory via a
private-stage + atomic-rename publish. A batch replayed after a crash
(Spark's at-least-once foreachBatch contract) finds the directory
already present and skips — idempotent, and the sink stays a plain
partitioned parquet table any reader can consume.

Non-append commits follow delta-spark's streaming-source rules:
``dataChange=false`` file shuffling (OPTIMIZE/compact) is silently
skipped; a data-changing REMOVE (upsert/delete rewrote rows) raises
unless ``ignore_changes=True`` (then its adds stream as inserts —
delta-spark's ``ignoreChanges``, which re-emits rewritten rows);
a schema-changing metaData raises unless it is an ancestor of the
feed's frozen schema (old files read with nulls for later columns —
the sink schema stays fixed; a WIDER table schema requires starting a
fresh feed, which adopts it).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.delta_log import DeltaLogTable

#: the change-feed's stamp columns, appended after the table columns
CHANGE_COLS = ("_change_type", "_commit_version")


def read_log_stream(table: DeltaLogTable, max_commits_per_trigger: int | None = None) -> DataFrame:
    """The raw commit-action stream: one row per log JSON line, with
    the source file name (commit version) attached. Building block for
    :func:`stream_changes`; useful alone for log-audit pipelines."""
    reader = (
        table.spark.readStream.option("pathGlobFilter", "*.json")
        # commit JSONs are tiny; one file per trigger gives the
        # finest-grained restart drill and costs nothing at scale
        # (the data volume is in the parquet, not the log)
    )
    if max_commits_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_commits_per_trigger)
    lines = reader.text(os.path.join(table.root, "_delta_log"))
    return lines.select(
        F.col("value").alias("action_json"),
        F.input_file_name().alias("_log_file"),
    )


def _version_of(log_file_uri: str) -> int:
    stem = os.path.basename(log_file_uri)
    return int(stem.split(".")[0])


def stream_changes(
    table: DeltaLogTable,
    sink_path: str,
    checkpoint_dir: str,
    *,
    starting_version: int = 0,
    ignore_changes: bool = False,
    available_now: bool = True,
    max_commits_per_trigger: int | None = 1,
):
    """Incrementally drain ``table``'s change feed into a partitioned
    parquet sink (``commit_version=<v>/`` dirs + ``_change_type``
    column). Returns the StreamingQuery; with ``available_now`` the
    caller awaits termination and the sink then equals the batch
    change feed over every commit in ``[starting_version+1, head]``.

    ``starting_version``: EXCLUSIVE lower bound — commits at or below
    it are acknowledged without reading, matching
    ``DeltaLogTable.changes(from_version=...)``. The default 0 streams
    changes AFTER table creation (the diff semantics); pass -1 to also
    emit the version-0 snapshot as inserts (delta-spark's
    initial-snapshot behavior), or a later version as the resume point
    for a feed whose early files were vacuumed (pair with
    ``table._vacuum_horizon()``, delta-spark's ``startingVersion``).

    Restart safety: Spark's checkpoint re-feeds any commit file whose
    batch did not fully commit; the per-version rename-commit publish
    makes the replay a no-op, so kill-and-resume converges on exactly
    the uninterrupted sink (drill: tests/test_delta_stream.py)."""
    spark = table.spark
    # freeze the FEED's schema on first start and persist it as a sink
    # sidecar (underscore-prefixed: invisible to parquet discovery) —
    # the sink must stay ONE schema across restarts, so a table whose
    # schema evolved between drains fails the NEXT drain loudly
    # instead of publishing mixed-schema version dirs. delta-spark's
    # streaming source enforces the same contract via its checkpoint.
    os.makedirs(sink_path, exist_ok=True)
    sidecar = os.path.join(sink_path, "_stream_schema.json")
    if os.path.exists(sidecar):
        with open(sidecar, encoding="utf-8") as fh:
            schema0_json = fh.read()
    else:
        _, meta0, _ = table._replay()
        schema0_json = meta0["schemaString"]
        tmp = sidecar + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(schema0_json)
        os.rename(tmp, sidecar)
    schema0 = T.StructType.fromJson(json.loads(schema0_json))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # commit JSONs: KBs of metadata
        by_version: dict[int, list[dict]] = {}
        for r in rows:
            line = r["action_json"].strip()
            if not line:
                continue
            by_version.setdefault(_version_of(r["_log_file"]), []).append(
                json.loads(line)
            )
        for v in sorted(by_version):
            if v <= starting_version:
                continue
            out_dir = os.path.join(sink_path, f"commit_version={v}")
            if os.path.isdir(out_dir):
                continue  # replayed batch after restart: already published
            adds, has_data_remove, meta_changed = [], False, False
            for action in by_version[v]:
                if "add" in action and action["add"].get("dataChange", True):
                    adds.append(action["add"]["path"])
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    has_data_remove = True
                elif "metaData" in action:
                    if action["metaData"]["schemaString"] != schema0_json:
                        # a historical ANCESTOR schema (every column
                        # present in the feed schema with the same
                        # type) is fine: its files read under the feed
                        # schema with nulls for the later columns —
                        # parquet missing-column semantics. Anything
                        # else (new columns the feed lacks, type
                        # changes) cannot be represented in the sink.
                        hist = {
                            (f.name, f.dataType)
                            for f in T.StructType.fromJson(
                                json.loads(
                                    action["metaData"]["schemaString"]
                                )
                            ).fields
                        }
                        feed = {(f.name, f.dataType) for f in schema0.fields}
                        if not hist <= feed:
                            meta_changed = True
            if meta_changed:
                raise ValueError(
                    f"schema change at version {v} of {table.root}: the "
                    f"change stream was started on a different schema; "
                    f"restart the stream to pick up the new one"
                )
            if has_data_remove and not ignore_changes:
                raise ValueError(
                    f"data-changing remove at version {v} of {table.root} "
                    f"(upsert/delete rewrote rows): the add-only change "
                    f"stream cannot represent it; pass ignore_changes=True "
                    f"to re-emit rewritten rows as inserts (delta-spark's "
                    f"ignoreChanges) or consume a snapshot diff instead"
                )
            if not adds:
                # still publish an empty marker so a replay skips the
                # version without re-raising/re-reading
                os.makedirs(out_dir, exist_ok=True)
                continue
            changed = table.read_files(adds, schema0).select(
                "*", F.lit("insert").alias("_change_type")
            )
            stage = os.path.join(sink_path, f"_stage_{uuid.uuid4().hex}")
            changed.write.parquet(stage)
            try:
                os.rename(stage, out_dir)
            except OSError:
                shutil.rmtree(stage, ignore_errors=True)  # lost a race
        return None

    writer = (
        read_log_stream(table, max_commits_per_trigger)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_change_sink(spark, sink_path: str) -> DataFrame:
    """The drained change feed as a batch frame: table columns +
    ``_change_type`` + ``commit_version`` (from the hive layout).
    Empty-version markers contribute no rows; an empty sink raises
    Spark's usual unable-to-infer error — callers gate on existence."""
    return spark.read.option("basePath", sink_path).parquet(sink_path)

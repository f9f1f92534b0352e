"""Pure-Python Delta transaction log (operators/delta_log.py): the
same MERGE-semantics script the adapter family runs, protocol
compliance of the emitted ``_delta_log``, touched-file-only rewrites,
time travel, put-if-absent commit atomicity, footer stats, and
bit-equality with the copy-on-write fallback across whole operation
sequences."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators import delta_adapter as DA
from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
from regpulse_lakehouse_spark.operators.upsert import VersionedParquetTable

from tests.test_delta_adapter import run_merge_semantics_script


def _rows(df):
    # NULL-safe sort key: None sorts before any value of its column
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )


def test_delta_log_follows_merge_semantics(spark, tmp_path):
    """The documented interface → MERGE mapping holds on the REAL
    Delta log format — the differential delta-spark's absence used to
    block entirely."""
    run_merge_semantics_script(spark, DeltaLogTable(spark, str(tmp_path / "dl")))


def test_log_is_protocol_compliant(spark, tmp_path):
    """Every commit file is newline-delimited JSON of spec-shaped
    actions; version 0 carries protocol + metaData; adds/removes carry
    the spec's required fields; stats parse and count records."""
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    t.delete_where(F.col("id") == 1)

    log_dir = tmp_path / "t" / "_delta_log"
    names = sorted(os.listdir(log_dir))
    assert names == [f"{v:020d}.json" for v in range(3)]

    v0 = [json.loads(l) for l in (log_dir / names[0]).read_text().splitlines()]
    kinds = [next(iter(a)) for a in v0]
    assert kinds[0] == "protocol"
    assert v0[0]["protocol"] == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in v0 if "metaData" in a)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["partitionColumns"] == []
    # schemaString is a Spark StructType JSON document
    schema = json.loads(meta["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "v"]

    n_records = 0
    for name in names:
        for line in (log_dir / name).read_text().splitlines():
            action = json.loads(line)
            if "add" in action:
                add = action["add"]
                for field in ("path", "partitionValues", "size",
                              "modificationTime", "dataChange"):
                    assert field in add, field
                assert os.path.exists(tmp_path / "t" / add["path"])
                stats = json.loads(add["stats"])
                assert stats["numRecords"] >= 1
                if name == names[0]:
                    n_records += stats["numRecords"]
            elif "remove" in action:
                assert "path" in action["remove"]
                assert "deletionTimestamp" in action["remove"]
            else:
                assert set(action) <= {"protocol", "metaData", "commitInfo"}
    assert n_records == 2


def test_sequence_matches_fallback_at_every_version(spark, tmp_path):
    """One operation sequence through BOTH implementations; snapshots
    must be row-identical at every committed version (the two formats
    commit in lockstep, so version numbers line up)."""
    dl = DeltaLogTable(spark, str(tmp_path / "dl"))
    cow = VersionedParquetTable(spark, str(tmp_path / "cow"))

    def df(rows):
        return spark.createDataFrame(rows, "id long, ver long, val string")

    steps = [
        lambda t: t.write(df([(i, 1, f"r{i}") for i in range(8)])),
        lambda t: t.append(df([(100, 1, "x"), (101, 1, "y")])),
        lambda t: t.insert_if_absent(df([(0, 9, "dup"), (200, 1, "new")]), ["id"]),
        lambda t: t.upsert(
            df([(1, 5, "up"), (2, 0, "stale"), (300, 1, "ins")]), ["id"], "ver"
        ),
        lambda t: t.delete_where(F.col("id") >= 200),
        lambda t: t.compact(target_file_bytes=1 << 20),
        lambda t: t.truncate(),
    ]
    for step in steps:
        v1, v2 = step(dl), step(cow)
        # Delta versions are 0-based per the protocol; the fallback's
        # are 1-based — constant offset, same commit cadence
        assert v1 == v2 - 1
        assert _rows(dl.read()) == _rows(cow.read())
    for v in range(dl.version + 1):
        assert _rows(dl.read(version=v)) == _rows(cow.read(version=v + 1)), v
    # changes() contract too
    assert _rows(dl.changes(["id"], 0, 4)) == _rows(cow.changes(["id"], 1, 5))


def test_upsert_rewrites_only_touched_files(spark, tmp_path):
    """Three appended files; a 1-key upsert must remove exactly the one
    file containing that key and carry the other two by reference —
    Delta MERGE's physical contract, the reason this beats the
    copy-on-write fallback at scale."""
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    for batch in range(3):
        t.append(
            spark.createDataFrame(
                [(batch * 10 + i, 1, "a") for i in range(5)],
                "id long, ver long, val string",
            ).coalesce(1)
        )
    before = {a["path"] for a in t.active_files()}
    assert len(before) == 3

    t.upsert(
        spark.createDataFrame([(11, 7, "up")], "id long, ver long, val string"),
        ["id"],
        "ver",
    )
    log = (tmp_path / "t" / "_delta_log" / f"{t.version:020d}.json").read_text()
    actions = [json.loads(l) for l in log.splitlines()]
    removed = [a["remove"]["path"] for a in actions if "remove" in a]
    assert len(removed) == 1  # only the file holding id=11
    after = {a["path"] for a in t.active_files()}
    assert len(before - after) == 1 and before - after == set(removed)
    rows = {r["id"]: r for r in t.read().collect()}
    assert rows[11]["val"] == "up" and rows[11]["ver"] == 7 and len(rows) == 15

    # pure-insert upsert (no matching key): nothing removed at all
    t.upsert(
        spark.createDataFrame([(999, 1, "new")], "id long, ver long, val string"),
        ["id"],
        "ver",
    )
    log = (tmp_path / "t" / "_delta_log" / f"{t.version:020d}.json").read_text()
    assert not any("remove" in json.loads(l) for l in log.splitlines())


def test_delete_rewrites_only_affected_files_incl_null_predicate(spark, tmp_path):
    """delete_where keeps the complement exactly like the fallback —
    including dropping predicate-NULL rows — while rewriting only the
    files that lose rows."""
    dl = DeltaLogTable(spark, str(tmp_path / "dl"))
    cow = VersionedParquetTable(spark, str(tmp_path / "cow"))
    batches = [
        [(1, "a"), (2, "b")],        # no nulls, no matches
        [(3, None), (4, "d")],       # a predicate-NULL row
        [(5, "kill"), (6, "e")],     # a TRUE row
    ]
    for b in batches:
        df = spark.createDataFrame(b, "id long, val string").coalesce(1)
        dl.append(df)
        cow.append(df)
    pred = F.col("val") == "kill"  # NULL for id=3
    dl.delete_where(pred)
    cow.delete_where(pred)
    assert _rows(dl.read()) == _rows(cow.read())
    assert {r["id"] for r in dl.read().collect()} == {1, 2, 4, 6}
    log = (tmp_path / "dl" / "_delta_log" / f"{dl.version:020d}.json").read_text()
    removed = [json.loads(l)["remove"]["path"]
               for l in log.splitlines() if "remove" in json.loads(l)]
    assert len(removed) == 2  # the NULL file and the TRUE file; file 1 untouched


def test_commit_is_put_if_absent(spark, tmp_path):
    """A writer that loses the race — another handle publishes the
    target version while this one is still staging — fails cleanly
    with FileExistsError instead of overwriting the winner's commit.
    (A version published BEFORE the operation starts is simply the
    current snapshot; the put-if-absent guard is for the in-flight
    window.)"""
    root = str(tmp_path / "t")
    t1 = DeltaLogTable(spark, root)
    t1.write(spark.createDataFrame([(1,)], "id long"))
    t2 = DeltaLogTable(spark, root)

    real_stage = t1._stage_files

    def stage_and_lose_race(df, data_change):
        t2.append(spark.createDataFrame([(99,)], "id long"))  # racer wins v1
        return real_stage(df, data_change)

    t1._stage_files = stage_and_lose_race
    with pytest.raises(FileExistsError):
        t1.append(spark.createDataFrame([(2,)], "id long"))
    # the winner's commit is intact and readable; the loser's rows never
    # became visible
    assert {r["id"] for r in t2.read().collect()} == {1, 99}


def test_stats_carry_footer_minmax(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(5, 2.5, "m"), (1, 9.0, "a"), (7, -1.0, "z")],
            "id long, score double, name string",
        ).coalesce(1)
    )
    (add,) = t.active_files()
    stats = json.loads(add["stats"])
    assert stats["numRecords"] == 3
    assert stats["minValues"]["id"] == 1 and stats["maxValues"]["id"] == 7
    assert stats["minValues"]["score"] == -1.0 and stats["maxValues"]["score"] == 9.0
    assert stats["minValues"]["name"] == "a" and stats["maxValues"]["name"] == "z"


def test_compact_coalesces_without_data_change(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(spark.createDataFrame([(i, "v")], "id long, val string").coalesce(1))
    before = _rows(t.read())
    v_pre = t.version
    t.compact(target_file_bytes=1 << 30)
    assert len(t.active_files()) == 1
    assert _rows(t.read()) == before
    log = (tmp_path / "t" / "_delta_log" / f"{t.version:020d}.json").read_text()
    for line in log.splitlines():
        action = json.loads(line)
        if "add" in action:
            assert action["add"]["dataChange"] is False
        if "remove" in action:
            assert action["remove"]["dataChange"] is False
    # time travel still reaches the pre-compaction snapshot
    assert _rows(t.read(version=v_pre)) == before


def test_open_table_auto_detects_delta_log(spark, tmp_path):
    root = str(tmp_path / "t")
    t = DA.open_table(spark, root, format="delta-log")
    assert isinstance(t, DeltaLogTable)
    t.write(spark.createDataFrame([(1,)], "id long"))
    if not DA.HAS_DELTA:
        reopened = DA.open_table(spark, root)  # auto
        assert isinstance(reopened, DeltaLogTable)
        assert reopened.read().count() == 1
    fresh = DA.open_table(spark, str(tmp_path / "new"))
    expected = DA.DeltaTableAdapter if DA.HAS_DELTA else VersionedParquetTable
    assert isinstance(fresh, expected)
    with pytest.raises(ValueError, match="format"):
        DA.open_table(spark, root, format="iceberg")


def test_time_travel_rejects_uncommitted_version(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(FileNotFoundError, match="version 5"):
        t.read(version=5)
    with pytest.raises(FileNotFoundError, match="no Delta log"):
        DeltaLogTable(spark, str(tmp_path / "empty")).read()


def test_read_where_skips_files_on_add_stats(spark, tmp_path):
    """Stats-based file skipping: only files whose [min,max] intersects
    the bound are opened (asserted via inputFiles), and the result
    equals the unskipped filter."""
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)], "id long, val string"
            ).coalesce(1)
        )
    pruned = t.read_where("id", lo=100, hi=109)
    assert len(pruned.inputFiles()) == 1  # only the middle file
    full = t.read().filter((F.col("id") >= 100) & (F.col("id") <= 109))
    assert _rows(pruned) == _rows(full)
    # open bounds and no-stats conservatism
    assert _rows(t.read_where("id", lo=200)) == _rows(
        t.read().filter(F.col("id") >= 200)
    )
    assert t.read_where("id", lo=1000).count() == 0


def test_changes_add_only_fast_path_reads_only_the_delta(spark, tmp_path):
    """An append/insert-only window serves the change feed straight
    from the window's added files (no old-snapshot scan), identical to
    the keyed snapshot diff; a delete in the window falls back."""
    from regpulse_lakehouse_spark.operators.upsert import snapshot_changes

    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"))
    v0 = t.version
    t.append(spark.createDataFrame([(3, "c")], "id long, val string").coalesce(1))
    t.insert_if_absent(
        spark.createDataFrame([(2, "dup"), (4, "d")], "id long, val string"), ["id"]
    )
    feed = t.changes(["id"], v0)
    # only the two window files are opened — not the version-0 snapshot
    assert all("part-" in f for f in feed.inputFiles())
    assert len(feed.inputFiles()) == 2
    want = snapshot_changes(t.read(), t.read(v0), ["id"])
    assert _rows(feed) == _rows(want)
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}

    # a remove in the window → snapshot-diff fallback, still correct
    t.delete_where(F.col("id") == 1)
    feed2 = t.changes(["id"], v0)
    want2 = snapshot_changes(t.read(), t.read(v0), ["id"])
    assert _rows(feed2) == _rows(want2)
    assert {r["_change_type"] for r in feed2.collect()} == {"insert", "delete"}


def test_null_keyed_upsert_matches_fallback(spark, tmp_path):
    """upsert_latest_wins groups NULL keys (window partitioning), so a
    null-keyed update must REPLACE a null-keyed row — the touched-file
    semi-join has to be null-safe or the stale row survives in an
    'untouched' file next to its replacement."""
    dl = DeltaLogTable(spark, str(tmp_path / "dl"))
    cow = VersionedParquetTable(spark, str(tmp_path / "cow"))
    base = [(1, 1, "a"), (None, 1, "n"), (3, 1, "c")]
    for t in (dl, cow):
        t.write(spark.createDataFrame(base, "id long, ver long, val string"))
        t.upsert(
            spark.createDataFrame(
                [(None, 5, "n-up"), (9, 1, "ins")], "id long, ver long, val string"
            ),
            ["id"],
            "ver",
        )
    assert _rows(dl.read()) == _rows(cow.read())
    rows = {r["id"]: r for r in dl.read().collect()}
    assert rows[None]["val"] == "n-up" and rows[None]["ver"] == 5
    assert len(rows) == 4


def test_upsert_candidate_pruning_uses_stats(spark, tmp_path):
    """An out-of-range update batch must not even SCAN in-range files:
    candidate detection prunes on the add-action stats before any Spark
    job touches the data."""
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    for lo in (0, 1000, 2000):
        t.append(
            spark.createDataFrame(
                [(lo + i, 1, "a") for i in range(10)], "id long, ver long, val string"
            ).coalesce(1)
        )
    up = spark.createDataFrame([(1005, 9, "up")], "id long, ver long, val string")
    assert len(t._candidate_files(up, ["id"])) == 1
    t.upsert(up, ["id"], "ver")
    rows = {r["id"]: r for r in t.read().collect()}
    assert rows[1005]["val"] == "up" and len(rows) == 30


def test_checkpoint_bounds_replay_and_preserves_state(spark, tmp_path):
    """25 commits with interval-10 auto-checkpoints: snapshot equals a
    checkpoint-free twin at EVERY version (incl. time travel below the
    checkpoint), the _last_checkpoint pointer exists, and replay after
    the checkpoint reads only the JSON commits past it."""
    t = DeltaLogTable(spark, str(tmp_path / "t"), checkpoint_interval=10)
    plain = DeltaLogTable(spark, str(tmp_path / "plain"), checkpoint_interval=None)
    for i in range(25):
        df = spark.createDataFrame([(i, f"v{i}")], "id long, val string").coalesce(1)
        if i % 7 == 3:
            t.upsert(df, ["id"], "id")
            plain.upsert(df, ["id"], "id")
        else:
            t.append(df)
            plain.append(df)
    log_dir = tmp_path / "t" / "_delta_log"
    cps = [n for n in os.listdir(log_dir) if n.endswith(".checkpoint.parquet")]
    assert {int(n.split(".", 1)[0]) for n in cps} == {10, 20}
    ptr = json.loads((log_dir / "_last_checkpoint").read_text())
    assert ptr["version"] == 20
    assert t.version == plain.version == 24
    for v in (0, 5, 10, 17, 20, 24):
        assert _rows(t.read(version=v)) == _rows(plain.read(version=v)), v
    # checkpoint-seeded replay of THIS table matches forcing the same
    # table through pure-JSON replay, action for action
    cp_state, cp_meta, cp_tomb = t._replay()
    t_json_only = DeltaLogTable(spark, str(tmp_path / "t"))
    t_json_only._latest_checkpoint = lambda mv: None
    js_state, js_meta, js_tomb = t_json_only._replay()
    assert {p: a["size"] for p, a in cp_state.items()} == {
        p: a["size"] for p, a in js_state.items()
    }
    assert cp_meta["schemaString"] == js_meta["schemaString"]
    assert len(cp_state) == len(t.active_files())
    # checkpoint-seeded tombstones match JSON-replayed ones (the spec
    # requires checkpoints to retain unexpired remove actions)
    assert set(cp_tomb) == set(js_tomb)


def test_checkpoint_pointer_fallback(spark, tmp_path):
    """A deleted/torn _last_checkpoint only costs a directory listing;
    the newest on-disk checkpoint still seeds replay."""
    t = DeltaLogTable(spark, str(tmp_path / "t"), checkpoint_interval=5)
    for i in range(7):
        t.append(spark.createDataFrame([(i,)], "id long").coalesce(1))
    before = _rows(t.read())
    ptr = tmp_path / "t" / "_delta_log" / "_last_checkpoint"
    ptr.write_text("{torn")
    assert _rows(t.read()) == before
    os.unlink(ptr)
    assert _rows(t.read()) == before
    # explicit checkpoint() restores the pointer
    v = t.checkpoint()
    assert json.loads(ptr.read_text())["version"] == v == t.version


# -- round 14: date stats, guards, tombstones, partitions, vacuum ------------


def test_date_column_stats_round_trip(spark, tmp_path):
    """DateType is in _STATS_TYPES and pyarrow returns datetime.date
    for date min/max — the stats JSON must encode them as ISO-8601
    strings (the spec's encoding) instead of crashing json.dumps, and
    read_where must still prune on them."""
    import datetime

    t = DeltaLogTable(spark, str(tmp_path / "t"))
    d = datetime.date
    for year in (2020, 2021, 2022):
        t.append(
            spark.createDataFrame(
                [(i, d(year, 1, 1 + i)) for i in range(5)],
                "id long, day date",
            ).coalesce(1)
        )
    all_stats = [json.loads(a["stats"]) for a in t.active_files()]
    assert {s["minValues"]["day"] for s in all_stats} == {
        "2020-01-01", "2021-01-01", "2022-01-01"
    }
    assert {s["maxValues"]["day"] for s in all_stats} == {
        "2020-01-05", "2021-01-05", "2022-01-05"
    }

    # pruning with date bounds: only the 2021 file is opened
    pruned = t.read_where("day", lo=d(2021, 1, 1), hi=d(2021, 1, 5))
    assert len(pruned.inputFiles()) == 1
    full = t.read().filter(
        (F.col("day") >= F.lit(d(2021, 1, 1))) & (F.col("day") <= F.lit(d(2021, 1, 5)))
    )
    assert _rows(pruned) == _rows(full)

    # upsert keyed on the date column exercises _candidate_files'
    # date-vs-ISO-string comparison path
    t.upsert(
        spark.createDataFrame([(99, d(2021, 1, 3))], "id long, day date"),
        ["day"],
        "id",
    )
    rows = {r["day"]: r["id"] for r in t.read().collect()}
    assert rows[d(2021, 1, 3)] == 99 and len(rows) == 15


def test_mutations_on_missing_table_raise_cleanly(spark, tmp_path):
    """delete_where/truncate/compact/vacuum on a table with no log must
    raise the same FileNotFoundError read() raises — not an opaque
    NoneType + int TypeError."""
    t = DeltaLogTable(spark, str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError, match="no Delta log"):
        t.delete_where(F.col("id") == 1)
    with pytest.raises(FileNotFoundError, match="no Delta log"):
        t.truncate()
    with pytest.raises(FileNotFoundError, match="no Delta log"):
        t.compact()
    with pytest.raises(FileNotFoundError, match="no Delta log"):
        t.vacuum()
    with pytest.raises(FileNotFoundError, match="no Delta log"):
        t.checkpoint()


def test_checkpoint_retains_remove_tombstones(spark, tmp_path):
    """The spec requires checkpoints to retain unexpired remove
    tombstones; a checkpoint-seeded reader (e.g. VACUUM) must still see
    removed-but-present files."""
    import pyarrow.parquet as pq

    t = DeltaLogTable(spark, str(tmp_path / "t"), checkpoint_interval=None)
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "id long").coalesce(1))
    t.delete_where(F.col("id") == 1)
    v = t.checkpoint()

    tbl = pq.read_table(t._checkpoint_path(v)).to_pylist()
    removes = [r["remove"] for r in tbl if r.get("remove")]
    assert len(removes) == 1
    assert removes[0]["deletionTimestamp"] > 0
    # the tombstoned file is still on disk (not yet vacuumed)
    assert os.path.exists(tmp_path / "t" / removes[0]["path"])
    # checkpoint-seeded replay carries the tombstone
    _, _, tombs = t._replay()
    assert set(tombs) == {removes[0]["path"]}
    # and vacuum driven off that state deletes exactly that file
    deleted = t.vacuum(retention_ms=0)
    assert deleted == [removes[0]["path"]]


def test_partitioned_table_matches_unpartitioned(spark, tmp_path):
    """The full MERGE-semantics script on a Hive-partitioned table:
    bit-identical observable behavior to the unpartitioned twin, spec
    partitionValues in every add, hive col=value layout on disk."""
    t = DeltaLogTable(spark, str(tmp_path / "p"), partition_columns=["val"])
    run_merge_semantics_script(spark, t)

    t2 = DeltaLogTable(spark, str(tmp_path / "p2"), partition_columns=["val"])
    plain = DeltaLogTable(spark, str(tmp_path / "u2"))
    df = spark.createDataFrame(
        [(i, 1, f"g{i % 3}") for i in range(30)], "id long, ver long, val string"
    )
    t2.write(df)
    plain.write(df)
    up = spark.createDataFrame(
        [(7, 9, "moved"), (100, 1, "g0")], "id long, ver long, val string"
    )
    t2.upsert(up, ["id"], "ver")
    plain.upsert(up, ["id"], "ver")
    assert _rows(t2.read()) == _rows(plain.read())
    # column order follows the log schema, not the hive layout
    assert t2.read().columns == ["id", "ver", "val"]

    for add in t2.active_files():
        assert set(add["partitionValues"]) == {"val"}
        assert add["path"].startswith(f"val={add['partitionValues']['val']}/")
        # partition columns carry no footer stats (they are not in the
        # data files); non-partition columns still do
        stats = json.loads(add["stats"])
        assert "val" not in stats["minValues"] and "id" in stats["minValues"]
    # metaData records the spec
    meta = t2._replay()[1]
    assert meta["partitionColumns"] == ["val"]
    # conflicting re-open spec raises before writing anything
    with pytest.raises(ValueError, match="partitioned by"):
        DeltaLogTable(spark, str(tmp_path / "p2"), partition_columns=["id"]).write(df)


def test_partition_pruning_in_read_where(spark, tmp_path):
    """read_where on a partition column prunes on partitionValues (no
    stats needed), opens only the matching partition's files, and
    null partitions are kept only when the row filter can't exclude
    them a priori (conservative keep + row filter on top)."""
    t = DeltaLogTable(spark, str(tmp_path / "t"), partition_columns=["bucket"])
    t.write(
        spark.createDataFrame(
            [(i, i % 3) for i in range(30)] + [(99, None)],
            "id long, bucket int",
        )
    )
    pruned = t.read_where("bucket", lo=1, hi=1)
    opened = pruned.inputFiles()
    assert opened and all("bucket=1" in f or "HIVE_DEFAULT" in f for f in opened)
    assert _rows(pruned) == _rows(t.read().filter(F.col("bucket") == 1))
    # a non-partition column still prunes on footer stats
    pruned_id = t.read_where("id", lo=0, hi=2)
    assert _rows(pruned_id) == _rows(
        t.read().filter((F.col("id") >= 0) & (F.col("id") <= 2))
    )
    # the null partition row survives an unbounded read
    assert t.read().filter(F.col("bucket").isNull()).count() == 1


def test_partitioned_upsert_touches_only_matching_partition(spark, tmp_path):
    """_candidate_files prunes on partitionValues: an upsert whose keys
    all live in one partition must not remove (or scan) any other
    partition's files."""
    t = DeltaLogTable(spark, str(tmp_path / "t"), partition_columns=["grp"])
    t.write(
        spark.createDataFrame(
            [(i, 1, f"g{i % 4}") for i in range(40)], "id long, ver long, grp string"
        )
    )
    before = {a["path"] for a in t.active_files()}
    up = spark.createDataFrame([(2, 9, "g2")], "id long, ver long, grp string")
    # grp is a partition key col here: candidates must be g2-only
    cands = t._candidate_files(up, ["grp"])
    assert cands and all(p.startswith("grp=g2/") for p in cands)
    t.upsert(up, ["id"], "ver")
    after = {a["path"] for a in t.active_files()}
    # every removed file was a g2 partition file
    assert all(p.startswith("grp=g2/") for p in before - after)
    rows = {r["id"]: r for r in t.read().collect()}
    assert rows[2]["ver"] == 9 and len(rows) == 40


def test_vacuum_deletes_tombstoned_files_and_guards_time_travel(spark, tmp_path):
    """vacuum(retention 0) physically deletes every tombstoned file:
    HEAD snapshot unchanged, disk file count drops, time travel below
    the horizon raises a clear error, at/above the horizon still
    works, and a second vacuum is a no-op."""
    t = DeltaLogTable(spark, str(tmp_path / "t"), checkpoint_interval=None)
    for i in range(4):
        t.append(
            spark.createDataFrame([(i, 1, "a")], "id long, ver long, val string").coalesce(1)
        )
    t.upsert(
        spark.createDataFrame([(1, 9, "up")], "id long, ver long, val string"),
        ["id"],
        "ver",
    )  # tombstones the file holding id=1
    t.compact(target_file_bytes=1 << 30)  # tombstones everything else
    head = _rows(t.read())
    v_compact = t.version

    def data_files():
        return {
            os.path.relpath(os.path.join(dp, n), tmp_path / "t")
            for dp, _, ns in os.walk(tmp_path / "t")
            for n in ns
            if n.endswith(".parquet") and "_delta_log" not in dp
        }

    n_before = len(data_files())
    deleted = t.vacuum(retention_ms=0)
    assert deleted and len(data_files()) == n_before - len(deleted)
    # HEAD snapshot is intact (only non-active files died)
    assert _rows(t.read()) == head
    # the audit commit advanced the version; HEAD is still readable
    assert t.version == v_compact + 1
    # time travel below the horizon raises a CLEAR error
    with pytest.raises(ValueError, match="vacuum horizon"):
        t.read(version=0)
    # at/above the horizon still works (compact was the last remove)
    assert _rows(t.read(version=v_compact)) == head
    # idempotent: nothing left to delete
    assert t.vacuum(retention_ms=0) == []
    # young tombstones survive a default-retention vacuum
    t.delete_where(F.col("id") == 0)
    assert t.vacuum() == []  # 7-day retention: fresh tombstone kept
    assert _rows(t.read()) == [r for r in head if r[0] != 0]


def test_blind_append_retry_rebases_onto_racer(spark, tmp_path):
    """append(max_retries=1): an add-only commit that loses the
    put-if-absent race rebases to the new head (the spec's
    WriteSerializable behavior for blind appends) — both writers' rows
    land, nothing is lost or doubled. Default stays fail-fast."""
    root = str(tmp_path / "t")
    t1 = DeltaLogTable(spark, root)
    t1.write(spark.createDataFrame([(1,)], "id long"))
    t2 = DeltaLogTable(spark, root)

    real_stage = t1._stage_files

    def stage_and_lose_race(df, data_change):
        t2.append(spark.createDataFrame([(99,)], "id long"))  # racer wins
        return real_stage(df, data_change)

    t1._stage_files = stage_and_lose_race
    v = t1.append(spark.createDataFrame([(2,)], "id long"), max_retries=1)
    assert v == 2  # rebased past the racer's v1
    assert {r["id"] for r in t1.read().collect()} == {1, 2, 99}
    # retries exhausted -> the racer still surfaces
    def stage_and_lose_twice(df, data_change):
        t2.append(spark.createDataFrame([(100,)], "id long"))
        return real_stage(df, data_change)

    t1._stage_files = stage_and_lose_twice
    t1._commit_orig = t1._commit

    def steal_then_commit(version, actions):
        # racer claims every version t1 targets, forever
        t2._commit(version, t2._stage_files(
            spark.createDataFrame([(200 + version,)], "id long"), True
        ) + [{"commitInfo": {"timestamp": 0, "operation": "WRITE",
                             "operationParameters": {}, "engineInfo": "racer"}}])
        return t1._commit_orig(version, actions)

    t1._commit = steal_then_commit
    with pytest.raises(FileExistsError):
        t1.append(spark.createDataFrame([(3,)], "id long"), max_retries=2)


def test_timestamp_as_of_resolves_commit_boundaries(spark, tmp_path):
    """TIMESTAMP AS OF maps to the newest commit at or before the
    timestamp; before-table timestamps raise."""
    import json as _json

    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(0,)], "id long"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))

    def commit_ts(v):
        ts = None
        for line in open(t._log_path(v)):
            a = _json.loads(line)
            if "commitInfo" in a:
                ts = a["commitInfo"]["timestamp"]
        return ts

    t0, t1_, t2_ = (commit_ts(v) for v in (0, 1, 2))
    assert t.version_as_of(t0) == 0
    assert t.version_as_of(t2_ + 10_000) == 2
    # a timestamp inside the window [t1, t2) resolves to v1 — only
    # asserted when the commits got distinct stamps (ms granularity)
    if t1_ < t2_:
        assert t.version_as_of(t2_ - 1) == 1
    assert {r["id"] for r in t.read_as_of(t0).collect()} == {0}
    assert {r["id"] for r in t.read_as_of(t2_ + 10_000).collect()} == {0, 1, 2}
    with pytest.raises(FileNotFoundError, match="timestamp"):
        t.version_as_of(t0 - 100_000)


def test_timestamp_partition_pruning(spark, tmp_path):
    """Timestamp partition values are parsed from the hive dir format
    (space-separated) before comparison — a raw-string compare against
    an ISO-T bound would mis-prune (' ' < 'T')."""
    import datetime as _dt

    t = DeltaLogTable(spark, str(tmp_path / "t"), partition_columns=["hour"])
    rows = [
        (i, _dt.datetime(2024, 1, 1, h, 0, 0))
        for i, h in enumerate((0, 6, 12, 18))
    ]
    t.write(spark.createDataFrame(rows, "id long, hour timestamp"))
    lo, hi = _dt.datetime(2024, 1, 1, 6), _dt.datetime(2024, 1, 1, 12)
    pruned = t.read_where("hour", lo=lo, hi=hi)
    got = sorted(r["id"] for r in pruned.collect())
    assert got == [1, 2]
    opened = pruned.inputFiles()
    assert opened and all("hour=2024-01-01 00" not in f for f in opened)


def test_schema_enforcement_and_additive_evolution(spark, tmp_path):
    """The Delta writer contract: a mismatched append/upsert is
    REJECTED (before this, a wider append silently lost its extra
    column on read — the log schema wins); merge_schema=True permits
    additive evolution only, and old files read the merged schema with
    nulls for the new column."""
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "a")], "id long, val string"))

    wider = spark.createDataFrame([(2, "b", 0.5)], "id long, val string, score double")
    with pytest.raises(ValueError, match="added=\\['score'\\]"):
        t.append(wider)
    narrower = spark.createDataFrame([(3,)], "id long")
    with pytest.raises(ValueError, match="missing=\\['val'\\]"):
        t.append(narrower)
    retyped = spark.createDataFrame([(4, 5)], "id long, val long")
    with pytest.raises(ValueError, match="type_changed=\\['val'\\]"):
        t.append(retyped)
    with pytest.raises(ValueError, match="type_changed"):
        t.upsert(retyped, ["id"], "id")
    with pytest.raises(ValueError, match="added"):
        t.insert_if_absent(wider, ["id"])

    # additive evolution: new column lands, old rows read as null
    v = t.append(wider, merge_schema=True)
    got = {r["id"]: (r["val"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 0.5)}
    # the evolved metaData is committed (new readers see it); time
    # travel below the evolution still serves the OLD schema
    assert t.read().columns == ["id", "val", "score"]
    assert t.read(version=v - 1).columns == ["id", "val"]
    # matching appends still work, and are unaffected by column order
    t.append(spark.createDataFrame([(9, 0.1, "z")], "id long, score double, val string"))
    assert t.read().count() == 3
    # a schema-evolving append is not blind: no rebase retries
    wider2 = spark.createDataFrame(
        [(10, "c", 0.2, True)], "id long, val string, score double, flag boolean"
    )
    with pytest.raises(ValueError, match="cannot be blindly rebased"):
        t.append(wider2, max_retries=1, merge_schema=True)


def test_append_retry_rejects_concurrent_metadata_change(spark, tmp_path):
    """A blind append that loses the race to a SCHEMA-CHANGING commit
    must NOT rebase (Delta WriteSerializable: appends conflict with
    concurrent metadata/protocol changes) — the staged files were
    validated against the pre-race schema and would land stale. r15
    fix for the r14 advisory."""
    root = str(tmp_path / "t")
    t1 = DeltaLogTable(spark, root)
    t1.write(spark.createDataFrame([(1, "a")], "id long, val string"))
    t2 = DeltaLogTable(spark, root)

    real_stage = t1._stage_files

    def stage_and_lose_to_schema_change(df, data_change):
        # racer commits a merge_schema append (metaData action) first
        t2.append(
            spark.createDataFrame(
                [(50, "x", 1.5)], "id long, val string, score double"
            ),
            merge_schema=True,
        )
        return real_stage(df, data_change)

    t1._stage_files = stage_and_lose_to_schema_change
    with pytest.raises(ValueError, match="concurrent metadata change"):
        t1.append(
            spark.createDataFrame([(2, "b")], "id long, val string"),
            max_retries=3,
        )
    # the racer's evolved table is untouched by the failed append
    assert set(t2.read().columns) == {"id", "val", "score"}
    assert {r["id"] for r in t2.read().collect()} == {1, 50}


def test_add_paths_are_percent_encoded(spark, tmp_path):
    """Spec compliance: ``add.path`` is an RFC 2396 percent-encoded
    relative URI. A partition value with a space and a colon produces
    a hive dir like ``k=a b%3Ac/`` on disk; the log must carry
    ``k=a%20b%253Ac/...`` so an external reader that URL-decodes the
    path finds the exact on-disk file. Round-trips through read,
    read_where, upsert (touched-file detection) and vacuum."""
    t = DeltaLogTable(spark, str(tmp_path / "t"), partition_columns=["k"])
    df = spark.createDataFrame(
        [(1, 1, "a b:c"), (2, 1, "plain")], "id long, ver long, k string"
    )
    t.write(df)
    from urllib.parse import unquote as _unq

    for add in t.active_files():
        p = add["path"]
        assert " " not in p, f"unencoded space in add.path: {p!r}"
        if p.startswith("k=a"):
            assert p.startswith("k=a%20b%253Ac/"), p
            # decoding yields the literal on-disk relative path
            decoded = _unq(p)
            assert decoded.startswith("k=a b%3Ac/")
            assert os.path.exists(tmp_path / "t" / decoded)
    # reads resolve through the decoder
    assert {r["id"] for r in t.read().collect()} == {1, 2}
    pruned = t.read_where("k", lo="a b:c", hi="a b:c")
    assert {r["id"] for r in pruned.collect()} == {1}
    # touched-file detection round-trips fs->log encoding (upsert
    # rewrites only the weird partition, remove paths match add paths)
    t.upsert(
        spark.createDataFrame([(1, 9, "a b:c")], "id long, ver long, k string"),
        ["id"],
        "ver",
    )
    rows = {r["id"]: r["ver"] for r in t.read().collect()}
    assert rows == {1: 9, 2: 1}
    # vacuum physically deletes the encoded-path tombstones
    deleted = t.vacuum(retention_ms=0)
    assert any(p.startswith("k=a%20b%253Ac/") for p in deleted)
    assert {r["id"] for r in t.read().collect()} == {1, 2}


def test_changes_below_vacuum_horizon_raises(spark, tmp_path):
    """The change feed refuses windows whose data files may have been
    vacuumed — including the add-only fast path, whose window adds can
    be tombstoned after to_version and physically deleted. r15 fix for
    the r14 advisory (the docstring claimed the feed survives vacuum;
    it survives only at/above the horizon)."""
    t = DeltaLogTable(spark, str(tmp_path / "t"), checkpoint_interval=None)
    t.write(spark.createDataFrame([(1, "a")], "id long, val string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, val string"))
    # the v0->v1 window is add-only and readable pre-vacuum
    feed = t.changes(["id"], from_version=0, to_version=1)
    assert {r["id"] for r in feed.collect()} == {2}
    # rewrite everything, then vacuum the originals away (the 1 ms
    # sleep keeps retention 0 from racing same-millisecond tombstones)
    t.compact(target_file_bytes=1 << 30)
    import time as _t

    _t.sleep(0.05)
    deleted = t.vacuum(retention_ms=0)
    assert deleted
    with pytest.raises(ValueError, match="vacuum horizon"):
        t.changes(["id"], from_version=0, to_version=1)
    # windows at/above the horizon still work
    hz = t._vacuum_horizon()
    ok = t.changes(["id"], from_version=hz)
    assert ok.count() == 0  # compact is dataChange=false; no keyed change


def _race(loser_table, winner_fn):
    """Make ``winner_fn`` commit between the loser's staging and its
    commit (the put-if-absent race, same trick as the blind-append
    drill): returns a restore handle."""
    real_stage = loser_table._stage_files
    fired = []

    def stage_and_lose(df, data_change):
        if not fired:
            fired.append(1)
            winner_fn()
        return real_stage(df, data_change)

    loser_table._stage_files = stage_and_lose
    return real_stage


def test_disjoint_partition_concurrent_upserts_both_land(spark, tmp_path):
    """WriteSerializable reconciliation for MERGE (r15, VERDICT r14
    task 4): an upsert keyed on (partition, id) that loses the race to
    an upsert into a DIFFERENT partition rebases and lands; the result
    equals serial execution on a twin table. The id ranges of the two
    partitions deliberately coincide, so only the partitionValues leg
    of the conflict check can prove disjointness."""
    root, twin_root = str(tmp_path / "t"), str(tmp_path / "twin")
    base = spark.createDataFrame(
        [(i, 1, g) for g in ("g0", "g1") for i in range(10)],
        "id long, ver long, grp string",
    )
    t1 = DeltaLogTable(spark, root, partition_columns=["grp"])
    t1.write(base)
    t2 = DeltaLogTable(spark, root)
    twin = DeltaLogTable(spark, twin_root, partition_columns=["grp"])
    twin.write(base)

    keys = ["grp", "id"]
    up_g0 = spark.createDataFrame([(3, 9, "g0")], "id long, ver long, grp string")
    up_g1 = spark.createDataFrame([(3, 9, "g1")], "id long, ver long, grp string")
    _race(t1, lambda: t2.upsert(up_g0, keys, "ver"))
    v = t1.upsert(up_g1, keys, "ver", max_retries=1)
    assert v == 2  # v0 write, v1 winner, v2 rebased loser

    # serial twin: winner first, then loser
    twin.upsert(up_g0, keys, "ver")
    twin.upsert(up_g1, keys, "ver")
    assert _rows(t1.read()) == _rows(twin.read())


def test_overlapping_concurrent_upserts_raise(spark, tmp_path):
    """Same partition, same FILE (one file per partition): the loser
    must surface the racer, not silently double-apply — its touched
    file was tombstoned by the winner. Different keys in different
    files genuinely commute and are covered by the disjoint test."""
    root = str(tmp_path / "t")
    t1 = DeltaLogTable(spark, root, partition_columns=["grp"])
    t1.write(
        spark.createDataFrame(
            [(i, 1, g) for g in ("g0", "g1") for i in range(10)],
            "id long, ver long, grp string",
        ).coalesce(1)
    )
    t2 = DeltaLogTable(spark, root)
    keys = ["grp", "id"]
    up_a = spark.createDataFrame([(2, 9, "g0")], "id long, ver long, grp string")
    up_b = spark.createDataFrame([(4, 9, "g0")], "id long, ver long, grp string")
    _race(t1, lambda: t2.upsert(up_a, keys, "ver"))
    with pytest.raises(ValueError, match="concurrent"):
        t1.upsert(up_b, keys, "ver", max_retries=2)
    # default stays fail-fast with the raw race error
    t3 = DeltaLogTable(spark, root)
    _race(t3, lambda: t2.append(
        spark.createDataFrame([(100, 1, "g0")], "id long, ver long, grp string")
    ))
    with pytest.raises(FileExistsError):
        t3.upsert(up_b, keys, "ver")


def test_concurrent_insert_if_absent_key_disjoint_rebases(spark, tmp_path):
    root = str(tmp_path / "t")
    t1 = DeltaLogTable(spark, root)
    t1.write(spark.createDataFrame([(1, "a")], "id long, val string"))
    t2 = DeltaLogTable(spark, root)
    # winner inserts a key far outside the loser's range -> rebase
    _race(t1, lambda: t2.insert_if_absent(
        spark.createDataFrame([(1000, "w")], "id long, val string"), ["id"]
    ))
    t1.insert_if_absent(
        spark.createDataFrame([(2, "b")], "id long, val string"),
        ["id"],
        max_retries=1,
    )
    assert {r["id"] for r in t1.read().collect()} == {1, 2, 1000}
    # winner inserting INSIDE the loser's key range -> conflict (the
    # loser's anti-join answer may be stale)
    t3 = DeltaLogTable(spark, root)
    _race(t3, lambda: t2.insert_if_absent(
        spark.createDataFrame([(3, "w")], "id long, val string"), ["id"]
    ))
    with pytest.raises(ValueError, match="concurrent append"):
        t3.insert_if_absent(
            spark.createDataFrame([(3, "races")], "id long, val string"),
            ["id"],
            max_retries=1,
        )


def test_concurrent_deletes_disjoint_files_rebase(spark, tmp_path):
    """A whole-partition delete (removes only, no survivor adds)
    commutes with a delete of a DIFFERENT partition; two deletes
    touching the same file conflict."""
    root = str(tmp_path / "t")
    t1 = DeltaLogTable(spark, root, partition_columns=["grp"])
    t1.write(
        spark.createDataFrame(
            [(i, f"g{i % 3}") for i in range(30)], "id long, grp string"
        ).coalesce(1)  # one file per partition: the overlap case below
        # must share a file, else the deletes genuinely commute
    )
    t2 = DeltaLogTable(spark, root)
    _race(t1, lambda: t2.delete_where(F.col("grp") == "g0"))
    t1.delete_where(F.col("grp") == "g1", max_retries=1)
    assert {r["grp"] for r in t1.read().collect()} == {"g2"}

    # overlapping: winner rewrites a g2 file the loser also touches
    t3 = DeltaLogTable(spark, root)
    _race(t3, lambda: t2.delete_where((F.col("grp") == "g2") & (F.col("id") == 2)))
    with pytest.raises(ValueError, match="concurrent"):
        t3.delete_where((F.col("grp") == "g2") & (F.col("id") == 5), max_retries=1)


def test_write_op_parses_each_commit_once(spark, tmp_path, monkeypatch):
    """A MERGE replays the log several times (schema check, key bounds,
    touched files, commit); each commit JSON is parsed at most once per
    handle, since committed JSONs never change."""
    from regpulse_lakehouse_spark.operators import delta_log as DL

    root = str(tmp_path / "t")
    t = DeltaLogTable(spark, root, checkpoint_interval=None)
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}", 0)], "id long, val string, ver int").coalesce(1))
    opened: list[str] = []

    def counting_open(path, *a, **k):
        opened.append(os.path.basename(str(path)))
        return open(path, *a, **k)

    monkeypatch.setattr(DL, "open", counting_open, raising=False)
    fresh = DeltaLogTable(spark, root, checkpoint_interval=None)
    fresh.upsert(spark.createDataFrame([(2, "new", 1)], "id long, val string, ver int"), ["id"], "ver")
    logs = [n for n in opened if n.endswith(".json")]
    assert sorted(logs) == [f"{v:020d}.json" for v in range(4)]
    assert _rows(fresh.read()) == [(0, "v0", 0), (1, "v1", 0), (2, "new", 1), (3, "v3", 0)]

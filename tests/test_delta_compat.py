"""Delta-format interop of ``AcidTable`` (sources/acid.py).

The contract under test is the public Delta transaction-log protocol:
every table the engine writes must be replayable by an INDEPENDENT
engine from nothing but the parquet files and the _delta_log JSON.
DuckDB plays the foreign engine here (same role delta-rs / Trino would
play in production): the tests replay the log with plain json (no
engine code) to derive the live file set, then have DuckDB read those
files and match the Spark-side result.
"""

from __future__ import annotations

import json
import os
import urllib.parse

import duckdb
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from equity_volatility_lakehouse_platform_spark.sources.acid import (
    AcidTable,
    CommitConflict,
    DeltaFormatError,
)
from equity_volatility_lakehouse_platform_spark.sources.readers import load_table


def _foreign_live_files(root: str, upto: int | None = None) -> list[str]:
    """Replay _delta_log with NOTHING but json — what delta-rs does:
    apply add/remove by path in version order, then resolve each path
    as a URI (relative to the table root unless it is absolute)."""
    log_dir = os.path.join(root, "_delta_log")
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log_dir)
        if len(f) == 25 and f.endswith(".json") and f[:20].isdigit()
    )
    live: set[str] = set()
    for v in versions:
        if upto is not None and v > upto:
            break
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    live.add(action["add"]["path"])
                elif "remove" in action:
                    live.discard(action["remove"]["path"])
    out = []
    for p in live:
        uri = urllib.parse.urlparse(p)
        rel = urllib.parse.unquote(uri.path)
        out.append(rel if uri.scheme else os.path.join(root, rel))
    return sorted(out)


def _foreign_rows(root: str, cols: list[str], upto: int | None = None):
    """DuckDB over the json-replayed live file set."""
    files = _foreign_live_files(root, upto)
    if not files:
        return []
    return sorted(
        duckdb.sql(
            f"SELECT {', '.join(cols)} FROM "
            f"read_parquet({files!r}, union_by_name=true)"
        ).fetchall()
    )


def _engine_live_files(table: AcidTable, version: int | None = None):
    v = table.latest_version() if version is None else version
    return sorted(
        os.path.join(table.root, f) for f in table._manifest(v)["files"]
    )


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


@pytest.fixture()
def nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def test_write_read_roundtrip_and_time_travel(spark, nation, tmp_path):
    table = AcidTable(spark, str(tmp_path / "delta"))
    v0 = table.overwrite(nation.filter(F.col("n_regionkey") == 0))
    v1 = table.append(nation.filter(F.col("n_regionkey") == 1))
    assert (v0, v1) == (0, 1)
    expect = nation.filter(F.col("n_regionkey") <= 1)
    assert _rows(table.read(), "n_nationkey") == _rows(expect, "n_nationkey")
    assert _rows(table.read(version=0), "n_nationkey") == _rows(
        nation.filter(F.col("n_regionkey") == 0), "n_nationkey"
    )
    # overwrite removes the old files logically but keeps v0/v1 readable
    table.overwrite(nation.filter(F.col("n_regionkey") == 2))
    assert _rows(table.read(), "n_nationkey") == _rows(
        nation.filter(F.col("n_regionkey") == 2), "n_nationkey"
    )
    assert _rows(table.read(version=1), "n_nationkey") == _rows(
        expect, "n_nationkey"
    )
    ops = [h["op"] for h in table.history()]
    assert ops == ["overwrite", "append", "overwrite"]


def test_foreign_engine_reads_the_log(spark, nation, tmp_path):
    """DuckDB over the json-replayed live file set == the Spark read —
    on a table whose log contains real remove actions."""
    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    table.overwrite(nation)
    table.overwrite(nation.filter(F.col("n_regionkey") != 3))  # removes
    files = _foreign_live_files(root)
    assert files == _engine_live_files(table)
    got = duckdb.sql(
        f"SELECT n_nationkey, n_name FROM read_parquet({files!r}) "
        "ORDER BY n_nationkey"
    ).fetchall()
    want = [
        (r.n_nationkey, r.n_name)
        for r in table.read()
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
        .collect()
    ]
    assert got == want


def _op_overwrite(t, nation, tmp_path):
    t.overwrite(nation.filter(F.col("n_regionkey") != 3))
    return t


def _op_append(t, nation, tmp_path):
    t.append(nation.filter(F.col("n_regionkey") == 1))
    return t


def _op_merge_upsert(t, nation, tmp_path):
    src = nation.filter(F.col("n_nationkey") % 2 == 0).withColumn(
        "n_name", F.lit("upserted")
    )
    t.merge_upsert(src, ["n_nationkey"])
    return t


def _op_merge_full_tombstones(t, nation, tmp_path):
    src = (
        nation.filter(F.col("n_nationkey") % 3 == 0)
        .withColumn("n_name", F.lit("cdc"))
        .withColumn("_tombstone", F.col("n_nationkey") % 2 == 0)
    )
    t.merge_full(src, ["n_nationkey"], tombstone_col="_tombstone")
    return t


def _op_delete_where(t, nation, tmp_path):
    t.delete_where(F.col("n_regionkey") == 1)
    return t


def _op_update_where(t, nation, tmp_path):
    t.update_where(F.col("n_regionkey") == 2, {"n_name": F.lit("updated")})
    return t


def _op_compact(t, nation, tmp_path):
    t.compact()
    return t


def _op_optimize_zorder(t, nation, tmp_path):
    t.optimize_zorder(["n_nationkey"], target_files=2)
    return t


def _op_restore(t, nation, tmp_path):
    t.delete_where(F.col("n_regionkey") == 1)
    t.restore(1)
    return t


def _op_clone(t, nation, tmp_path):
    # a clone's log adds the source files by absolute file:// URI; its
    # own COW rewrite then mixes them with table-relative adds
    c = t.clone(str(tmp_path / "clone"))
    c.delete_where(F.col("n_regionkey") == 1)
    return c


def _op_append_partitioned(t, nation, tmp_path):
    t.append_partitioned(nation.filter(F.col("n_regionkey") == 4), ["n_regionkey"])
    return t


@pytest.mark.parametrize(
    "op",
    [
        _op_overwrite,
        _op_append,
        _op_merge_upsert,
        _op_merge_full_tombstones,
        _op_delete_where,
        _op_update_where,
        _op_compact,
        _op_optimize_zorder,
        _op_restore,
        _op_clone,
        _op_append_partitioned,
    ],
    ids=lambda op: op.__name__[4:],
)
def test_foreign_reader_sees_every_op(spark, nation, tmp_path, op):
    """Every AcidTable op leaves a log whose plain-json replay selects
    exactly the engine's live set, and DuckDB over those files reads
    exactly what ``read()`` returns."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.overwrite(nation.filter(F.col("n_regionkey") <= 2))
    t.append(nation.filter(F.col("n_regionkey") > 2))
    t = op(t, nation, tmp_path)
    assert _foreign_live_files(t.root) == _engine_live_files(t)
    cols = nation.columns
    assert _foreign_rows(t.root, cols) == sorted(
        tuple(r) for r in t.read().select(*cols).collect()
    )


def test_every_version_time_travels_for_a_foreign_reader(spark, nation, tmp_path):
    root = str(tmp_path / "acid")
    acid = AcidTable(spark, root)
    acid.overwrite(nation.filter(F.col("n_regionkey") <= 2))
    acid.append(nation.filter(F.col("n_regionkey") == 3))
    acid.delete_where(F.col("n_regionkey") == 1)  # remove+add (COW)
    acid.compact()  # pure file-layout change, same rows
    cols = nation.columns
    for v in range(acid.latest_version() + 1):
        assert _foreign_live_files(root, v) == _engine_live_files(acid, v)
        assert _foreign_rows(root, cols, v) == sorted(
            tuple(r) for r in acid.read(version=v).select(*cols).collect()
        ), f"version {v} diverged"


def test_version0_carries_protocol_and_metadata(spark, nation, tmp_path):
    root = str(tmp_path / "delta")
    AcidTable(spark, root).overwrite(nation)
    with open(os.path.join(root, "_delta_log", "0" * 20 + ".json")) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert "protocol" in kinds and "metaData" in kinds
    meta = next(a for a in actions if "metaData" in a)["metaData"]
    assert json.loads(meta["schemaString"])["type"] == "struct"
    assert meta["partitionColumns"] == []
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(not a["path"].startswith("/") for a in adds)
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == nation.count()


def test_checkpoint_replay_equivalence(spark, nation, tmp_path):
    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    table.overwrite(nation.filter(F.col("n_regionkey") == 0))
    for rk in (1, 2, 3):
        table.append(nation.filter(F.col("n_regionkey") == rk))
    table.overwrite(nation.filter(F.col("n_regionkey") != 4))  # removes
    cp = table.checkpoint()
    assert cp == table.latest_version()
    table.append(nation.filter(F.col("n_regionkey") == 4))
    want = _rows(nation, "n_nationkey")
    assert _rows(table.read(), "n_nationkey") == want
    # prove the checkpoint is actually used: corrupt every json before
    # it (what Delta's log cleanup removes) — a replay that still
    # touched them would now fail loudly
    log_dir = os.path.join(root, "_delta_log")
    for v in range(cp):
        path = os.path.join(log_dir, f"{v:020d}.json")
        with open(path, "w") as fh:
            fh.write("{not json\n")
    assert _rows(AcidTable(spark, root).read(), "n_nationkey") == want
    assert _rows(table.read(version=cp), "n_nationkey") == _rows(
        nation.filter(F.col("n_regionkey") != 4), "n_nationkey"
    )
    pointer = json.load(open(os.path.join(log_dir, "_last_checkpoint")))
    assert pointer["version"] == cp


def test_fail_loud_on_gaps_and_foreign_features(spark, nation, tmp_path):
    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    table.overwrite(nation)
    table.append(nation)
    # a gap in the log must refuse, not silently skip
    os.unlink(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(DeltaFormatError, match="non-contiguous"):
        table.read()

    def _foreign_table(name: str, protocol: dict, partition_columns: list):
        t = AcidTable(spark, str(tmp_path / name))
        meta = {
            "id": "foreign",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": nation.schema.json(),
            "partitionColumns": partition_columns,
            "configuration": {},
        }
        with open(os.path.join(t.root, "_delta_log", f"{0:020d}.json"), "w") as fh:
            for action in ({"protocol": protocol}, {"metaData": meta}):
                fh.write(json.dumps(action) + "\n")
        return t

    # a reader-v3 table (deletion vectors etc.) must refuse
    v3 = {"minReaderVersion": 3, "minWriterVersion": 7}
    with pytest.raises(DeltaFormatError, match="reader version"):
        _foreign_table("delta2", v3, []).read()
    # physical partition columns are not supported: refuse, never misread
    v1 = {"minReaderVersion": 1, "minWriterVersion": 2}
    with pytest.raises(DeltaFormatError, match="partition columns"):
        _foreign_table("delta3", v1, ["n_regionkey"]).read()


def test_append_schema_evolution_refreshes_metadata(spark, nation, tmp_path):
    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    table.overwrite(nation.select("n_nationkey", "n_name"))
    widened = nation.select(
        "n_nationkey", "n_name", F.col("n_regionkey").alias("rk")
    )
    table.append(widened)
    out = table.read()
    assert [f.name for f in out.schema.fields] == [
        "n_nationkey",
        "n_name",
        "rk",
    ]
    # old files lack rk -> nulls there, values in the new files
    n_old = nation.count()
    got = out.groupBy(F.col("rk").isNull().alias("missing")).count()
    assert {(r.missing, r["count"]) for r in got.collect()} == {
        (True, n_old),
        (False, n_old),
    }
    # the evolving commit carries a fresh metaData with the same table id
    metas = []
    for v in (0, 1):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json")) as fh:
            metas += [
                a["metaData"] for a in map(json.loads, fh) if "metaData" in a
            ]
    assert len(metas) == 2 and metas[0]["id"] == metas[1]["id"]
    assert "rk" in metas[1]["schemaString"]


def test_txn_watermark_idempotence_and_checkpoint_survival(
    spark, nation, tmp_path
):
    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    part0 = nation.filter(F.col("n_regionkey") == 0)
    part1 = nation.filter(F.col("n_regionkey") == 1)
    assert table.append_txn(part0, "app", 0) == 0
    # the foreachBatch retry race: same (app, version) is a no-op
    assert table.append_txn(part0, "app", 0) is None
    assert table.append_txn(part1, "app", 1) == 1
    assert table.txn_version("app") == 1
    assert table.txn_version("other") is None
    want = _rows(nation.filter(F.col("n_regionkey") <= 1), "n_nationkey")
    assert _rows(table.read(), "n_nationkey") == want
    # the watermark survives a checkpoint: corrupt every json before it
    # — a replay that still needed them would fail loudly
    cp = table.checkpoint()
    log_dir = os.path.join(root, "_delta_log")
    for v in range(cp):
        with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
            fh.write("{not json\n")
    assert table.txn_version("app") == 1
    assert table.append_txn(part1, "app", 1) is None
    assert table.append_txn(part1, "app", 2) == cp + 1


def test_txn_watermark_rechecked_inside_the_commit_loop(spark, nation, tmp_path):
    """A concurrent writer that lands the same (app, version) between
    our watermark check and our commit makes this append a no-op, and
    the loser's data files are removed."""
    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    table.overwrite(nation.filter(F.col("n_regionkey") == 0))
    rival = AcidTable(spark, root)
    batch = nation.filter(F.col("n_regionkey") == 1)
    write_data = table._write_data

    def write_then_lose_race(df):
        files = write_data(df)
        rival.append_txn(batch, "app", 0)
        return files

    table._write_data = write_then_lose_race
    assert table.append_txn(batch, "app", 0) is None
    assert _rows(table.read(), "n_nationkey") == _rows(
        nation.filter(F.col("n_regionkey") <= 1), "n_nationkey"
    )
    on_disk = {
        os.path.join("data", w, f)
        for w in os.listdir(os.path.join(root, "data"))
        for f in os.listdir(os.path.join(root, "data", w))
        if f.endswith(".parquet")
    }
    assert on_disk == set(table._manifest(table.latest_version())["files"])


def test_stream_restart_from_checkpoint_is_exactly_once(spark, nation, tmp_path):
    """A txn-stamped foreachBatch append is killed after its first
    micro-batch committed to the table but before the stream recorded
    the batch as done; restarted from the same checkpoint, the stream
    re-delivers batch 0, which the table's txn watermark skips. A hand
    replay of batch 0 is skipped too, and the table holds every source
    row exactly once."""
    src = tmp_path / "src"
    os.makedirs(src)
    for k in range(3):
        stage = str(tmp_path / f"stage{k}")
        nation.filter(F.col("n_regionkey") % 3 == k).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), str(src / f"batch{k}.parquet"))
    table = AcidTable(spark, str(tmp_path / "table"))
    batch0: list = []
    delivered: list[int] = []

    def crash_after_commit(df, batch_id):
        table.append_txn(df, "restart", batch_id)
        batch0.extend(df.collect())
        raise RuntimeError("killed after the sink commit")

    def ingest(df, batch_id):
        delivered.append(batch_id)
        table.append_txn(df, "restart", batch_id)

    def start(fn):
        return (
            spark.readStream.schema(nation.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException):
        start(crash_after_commit).awaitTermination()
    assert table.txn_version("restart") == 0
    start(ingest).awaitTermination()
    assert delivered[0] == 0, "the restart must re-deliver batch 0"
    assert table.txn_version("restart") == max(delivered)
    replay = spark.createDataFrame(batch0, nation.schema)
    assert table.append_txn(replay, "restart", 0) is None
    assert _rows(table.read(), "n_nationkey") == _rows(nation, "n_nationkey")


def test_vacuum_version_retention(spark, nation, tmp_path):
    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    table.overwrite(nation.filter(F.col("n_regionkey") <= 1))
    table.overwrite(nation.filter(F.col("n_regionkey") == 2))
    v0_files = set(table._manifest(0)["files"])
    deleted = set(table.vacuum(retain_last=1))
    assert deleted == v0_files  # v0's files are referenced nowhere live
    want = _rows(nation.filter(F.col("n_regionkey") == 2), "n_nationkey")
    assert _rows(table.read(), "n_nationkey") == want  # current unharmed
    with pytest.raises(Exception):
        table.read(version=0).collect()  # expired snapshot fails loudly


def test_commit_race_exactly_one_winner(spark, nation, tmp_path):
    """The spec's required mutual exclusion on version creation:
    concurrent committers of the SAME version — exactly one link(2)
    wins, every loser raises, the log holds one intact entry."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "delta")
    table = AcidTable(spark, root)
    table.overwrite(nation)
    m = table._manifest(0)

    def _try(i: int) -> bool:
        try:
            table._try_commit(1, "race", m["files"], m["schema"])
            return True
        except CommitConflict:
            return False

    with ThreadPoolExecutor(max_workers=8) as pool:
        wins = list(pool.map(_try, range(8)))
    assert sum(wins) == 1
    log = os.path.join(root, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    assert [a["commitInfo"]["operation"] for a in actions] == ["RACE"]
    assert table.history()[1]["op"] == "race"
    # no torn temp files left behind
    assert not [f for f in os.listdir(log) if ".tmp-" in f]

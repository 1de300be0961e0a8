"""Lifecycle/utility commands: truncate, clone, convert, manifests,
partitions listing, protocol, SQL dispatcher routing."""

import os

import pytest
from pyspark.sql import functions as F

from delta_spark.datasets import load_table
from delta_spark.io import write_delta
from delta_spark.log import DeltaLog
from delta_spark.sql import delta_sql
from delta_spark.table import DeltaTable


def test_truncate(spark, tmp_table, sf_dir):
    write_delta(load_table(spark, sf_dir, "orders").limit(50), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.truncate()
    assert dt.toDF().count() == 0
    assert dt.asOfVersion(0).count() == 50  # still time-travelable


def test_shallow_clone_and_independence(spark, tmp_table, tmp_path, sf_dir):
    write_delta(load_table(spark, sf_dir, "customer"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    clone_path = str(tmp_path / "clone")
    clone = dt.clone(clone_path, isShallow=True)
    assert clone.toDF().count() == dt.toDF().count()
    # writes to the clone don't touch the source
    clone.delete("c_acctbal < 0")
    assert dt.toDF().count() == load_table(spark, sf_dir, "customer").count()


def test_convert_partitioned(spark, tmp_path, sf_dir):
    p = str(tmp_path / "plain")
    load_table(spark, sf_dir, "lineitem").write.partitionBy("l_returnflag").parquet(p)
    dt = DeltaTable.convertToDelta(spark, p, "l_returnflag string")
    assert dt.toDF().count() == load_table(spark, sf_dir, "lineitem").count()
    snap = DeltaLog.for_table(p).update()
    assert snap.partition_columns == ["l_returnflag"]
    # converted stats enable pruning
    assert len(snap.files_for_scan("l_returnflag = 'A'")) < snap.num_files


def test_symlink_manifest(spark, tmp_table, sf_dir):
    write_delta(load_table(spark, sf_dir, "supplier"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    base = dt.generate()
    manifest = os.path.join(base, "manifest")
    assert os.path.exists(manifest)
    uris = open(manifest).read().strip().splitlines()
    snap = DeltaLog.for_table(tmp_table).update()
    assert len(uris) == snap.num_files


def test_show_partitions(spark, tmp_table, sf_dir):
    write_delta(load_table(spark, sf_dir, "lineitem"), tmp_table,
                partition_by=["l_returnflag", "l_linestatus"])
    dt = DeltaTable.forPath(spark, tmp_table)
    rows = {(r["l_returnflag"], r["l_linestatus"]) for r in dt.show_partitions().collect()}
    truth = {(r["l_returnflag"], r["l_linestatus"])
             for r in load_table(spark, sf_dir, "lineitem")
             .select("l_returnflag", "l_linestatus").distinct().collect()}
    assert rows == truth


def test_protocol_upgrade(spark, tmp_table, sf_dir):
    write_delta(load_table(spark, sf_dir, "region"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.upgradeTableProtocol(2, 5)
    snap = DeltaLog.for_table(tmp_table).update()
    assert (snap.protocol.minReaderVersion, snap.protocol.minWriterVersion) == (2, 5)
    with pytest.raises(ValueError, match="downgraded"):
        dt.upgradeTableProtocol(1, 2)


def test_sql_dispatcher_surface(spark, tmp_table, sf_dir):
    write_delta(load_table(spark, sf_dir, "orders").limit(100), tmp_table)
    t = f"delta.`{tmp_table}`"
    assert delta_sql(spark, f"DESCRIBE DETAIL {t}").collect()[0]["numFiles"] >= 1
    delta_sql(spark, f"DELETE FROM {t} WHERE o_totalprice < 0")
    h = delta_sql(spark, f"DESCRIBE HISTORY {t} LIMIT 2").collect()
    assert h[0]["operation"] == "DELETE"
    out = delta_sql(spark, f"SELECT count(*) AS n FROM {t}")
    assert out.collect()[0]["n"] == 100
    tt = delta_sql(spark, f"SELECT count(*) AS n FROM {t} VERSION AS OF 0")
    assert tt.collect()[0]["n"] == 100
    # TIMESTAMP AS OF accepts a DESCRIBE HISTORY timestamp verbatim:
    # history reports the commit file's modificationTime (the same
    # clock version_at_timestamp resolves against), so the round trip
    # lands on exactly that version
    ts0 = [r["timestamp"] for r in
           delta_sql(spark, f"DESCRIBE HISTORY {t}").collect()
           if r["version"] == 0][0]
    tt = delta_sql(spark,
                   f"SELECT count(*) AS n FROM {t} TIMESTAMP AS OF '{ts0}'")
    assert tt.collect()[0]["n"] == 100
    delta_sql(spark, f"OPTIMIZE {t}")
    res = delta_sql(spark, f"VACUUM {t} RETAIN 0 HOURS DRY RUN")
    assert res.columns == ["path"]


def test_checkpoint_plus_vacuumed_history_error(spark, tmp_table, sf_dir):
    """After vacuum removes old files, time travel to them errors
    cleanly rather than returning wrong data."""
    li = load_table(spark, sf_dir, "lineitem")
    write_delta(li.limit(100), tmp_table)
    write_delta(li.limit(10), tmp_table, mode="overwrite")
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.vacuum(0)
    with pytest.raises(Exception):
        dt.asOfVersion(0).count()


def test_in_commit_timestamps_monotonic(spark, tmp_table, sf_dir):
    import time

    write_delta(load_table(spark, sf_dir, "region"), tmp_table,
                configuration={"delta.enableInCommitTimestamps": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    for i in range(3):
        write_delta(load_table(spark, sf_dir, "region"), tmp_table, mode="append")
    h = dt.history().collect()
    ts = [r["timestamp"] for r in reversed(h)]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)  # strictly monotonic
    # timestamp time travel uses commit timestamps
    v1_ts = [r for r in h if r["version"] == 1][0]["timestamp"]
    assert dt.asOfTimestamp(v1_ts).count() == 10


def test_merge_sql_statement(spark, tmp_table, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    write_delta(orders.limit(100), tmp_table)
    src = (orders.limit(30)
           .withColumn("o_totalprice", F.col("o_totalprice") * 3)
           .withColumn("o_orderkey",
                       F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderkey"))
                       .otherwise(F.col("o_orderkey") + 7_000_000)))
    src.createOrReplaceTempView("merge_src")
    delta_sql(spark, f"""
        MERGE INTO delta.`{tmp_table}` AS t
        USING merge_src AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_totalprice > 100 THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT *
    """)
    dt = DeltaTable.forPath(spark, tmp_table)
    n_new = src.join(orders.limit(100), "o_orderkey", "left_anti").count()
    assert dt.toDF().count() >= 100 + n_new - 30  # updates/deletes applied
    # updated rows carry tripled price
    tripled = dt.toDF().alias("t").join(src.alias("s"), "o_orderkey") \
        .filter("t.o_totalprice = s.o_totalprice").count()
    assert tripled > 0


def test_vacuum_lite(spark, tmp_table, sf_dir):
    from delta_spark.commands.maintenance import vacuum_lite

    li = load_table(spark, sf_dir, "lineitem")
    write_delta(li.limit(100), tmp_table)
    write_delta(li.limit(10), tmp_table, mode="overwrite")
    log = DeltaLog.for_table(tmp_table)
    victims = vacuum_lite(spark, log, retention_hours=0, dry_run=True)
    assert victims
    vacuum_lite(spark, log, retention_hours=0)
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == 10


def test_crc_written(spark, tmp_table, sf_dir):
    import json as _json
    import os as _os

    write_delta(load_table(spark, sf_dir, "region"), tmp_table)
    crc = _os.path.join(tmp_table, "_delta_log", "%020d.crc" % 0)
    assert _os.path.exists(crc)
    d = _json.loads(open(crc).read())
    snap = DeltaLog.for_table(tmp_table).update()
    assert d["numFiles"] == snap.num_files
    assert d["tableSizeBytes"] == snap.size_in_bytes


def test_idempotent_delete(spark, tmp_table, sf_dir):
    from delta_spark.commands.delete import execute_delete

    write_delta(load_table(spark, sf_dir, "orders").limit(100), tmp_table)
    log = DeltaLog.for_table(tmp_table)
    v1 = execute_delete(spark, log, "o_totalprice > 100000", "app1", 1)
    assert v1 is not None
    n_after = DeltaTable.forPath(spark, tmp_table).toDF().count()
    # replay of the same (app, version) is a no-op
    assert execute_delete(spark, log, "o_totalprice > 0", "app1", 1) is None
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == n_after


def test_insert_and_ctas_sql(spark, tmp_path, sf_dir):
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supp_v")
    t = str(tmp_path / "ctas")
    delta_sql(spark, f"CREATE TABLE delta.`{t}` USING delta AS SELECT * FROM supp_v")
    dt = DeltaTable.forPath(spark, t)
    n = dt.toDF().count()
    assert n == load_table(spark, sf_dir, "supplier").count()
    delta_sql(spark, f"INSERT INTO delta.`{t}` SELECT * FROM supp_v WHERE s_acctbal > 0")
    assert dt.toDF().count() > n
    delta_sql(spark, f"INSERT OVERWRITE delta.`{t}` SELECT * FROM supp_v LIMIT 3")
    assert dt.toDF().count() == 3
    with pytest.raises(Exception):
        delta_sql(spark, f"CREATE TABLE delta.`{t}` AS SELECT * FROM supp_v")
    delta_sql(spark, f"CREATE OR REPLACE TABLE delta.`{t}` AS SELECT * FROM supp_v LIMIT 5")
    assert dt.toDF().count() == 5


def test_table_changes_tvf(spark, tmp_table, sf_dir):
    write_delta(load_table(spark, sf_dir, "supplier"), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})
    DeltaTable.forPath(spark, tmp_table).delete("s_acctbal < 0")
    out = delta_sql(spark, f"SELECT _change_type, count(*) AS n "
                           f"FROM table_changes_by_path('{tmp_table}', 1) GROUP BY 1")
    rows = {r["_change_type"]: r["n"] for r in out.collect()}
    want = load_table(spark, sf_dir, "supplier").filter("s_acctbal < 0").count()
    assert rows.get("delete", 0) == want


def test_sql_alter_table_surface(spark, tmp_table, sf_dir):
    """ALTER TABLE verbs through the SQL dispatcher (DeltaSqlBase.g4
    AlterTable* rules)."""
    from delta_spark.sql import delta_sql
    from delta_spark.datasets import load_table

    src = (load_table(spark, sf_dir, "supplier").limit(100)
           .withColumn("s_suppkey", F.col("s_suppkey").cast("int")))
    write_delta(src, tmp_table,
                configuration={"delta.enableTypeWidening": "true"})
    t = f"delta.`{tmp_table}`"
    delta_sql(spark, f"ALTER TABLE {t} ADD COLUMNS (extra double, note string)")
    delta_sql(spark, f"ALTER TABLE {t} SET TBLPROPERTIES ('delta.appendOnly' = 'false', 'custom.tag' = 'x')")
    delta_sql(spark, f"ALTER TABLE {t} CHANGE COLUMN s_suppkey TYPE bigint")
    delta_sql(spark, f"ALTER TABLE {t} RENAME COLUMN note TO note2")
    delta_sql(spark, f"ALTER TABLE {t} ADD CONSTRAINT pos CHECK (s_acctbal > -1e9)")
    dt = DeltaTable.forPath(spark, tmp_table)
    sch = dt.toDF().schema
    assert "extra" in sch.names and "note2" in sch.names
    assert sch["s_suppkey"].dataType.typeName() == "long"
    snap = DeltaLog.for_table(tmp_table).update()
    assert snap.configuration["custom.tag"] == "x"
    assert "delta.constraints.pos" in snap.configuration
    delta_sql(spark, f"ALTER TABLE {t} DROP CONSTRAINT pos")
    delta_sql(spark, f"ALTER TABLE {t} DROP COLUMN extra")
    delta_sql(spark, f"ALTER TABLE {t} UNSET TBLPROPERTIES ('custom.tag')")
    snap = DeltaLog.for_table(tmp_table).update()
    assert "custom.tag" not in snap.configuration
    assert "extra" not in dt.toDF().schema.names
    delta_sql(spark, f"ALTER TABLE {t} DROP FEATURE typeWidening TRUNCATE HISTORY")
    p = DeltaLog.for_table(tmp_table).update().protocol
    assert "typeWidening" not in (p.readerFeatures or [])


def test_multipart_checkpoint_roundtrip(spark, tmp_table, sf_dir):
    """Classic multi-part checkpoints (<v>.checkpoint.<p>.<parts>.parquet):
    written when actions exceed delta.checkpoint.partSize, replayed from
    all parts; partial sets are ignored."""
    import glob as _glob

    src = load_table(spark, sf_dir, "supplier").limit(120)
    write_delta(src.repartition(8), tmp_table,
                configuration={"delta.checkpoint.partSize": "5",
                               "delta.enableRowTracking": "true"})
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    log.write_checkpoint(snap)
    parts = _glob.glob(os.path.join(tmp_table, "_delta_log",
                                    "*.checkpoint.*.*.parquet"))
    assert len(parts) >= 2
    assert not os.path.exists(log.checkpoint_file(snap.version))
    assert snap.version in log.list_checkpoint_versions()

    # replay through the multi-part checkpoint only (drop the jsons)
    for v in log.list_commit_versions():
        os.unlink(log.commit_file(v))
    DeltaLog.clear_cache()
    log2 = DeltaLog.for_table(tmp_table)
    snap2 = log2.update()
    assert snap2.version == snap.version
    assert snap2.num_files == snap.num_files
    # protocol features and row-tracking ids survive the replay
    assert "rowTracking" in (snap2.protocol.writerFeatures or [])
    assert all(f.baseRowId is not None for f in snap2.all_files)
    assert (DeltaTable.forPath(spark, tmp_table).toDF().count()
            == src.count())

    # an incomplete part set must not be listed as usable
    os.unlink(sorted(parts)[0])
    DeltaLog.clear_cache()
    assert (snap.version
            not in DeltaLog.for_table(tmp_table).list_checkpoint_versions())


def test_sql_reorg_and_clone(spark, tmp_table, tmp_path, sf_dir):
    write_delta(load_table(spark, sf_dir, "part").limit(200), tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    t = f"delta.`{tmp_table}`"
    delta_sql(spark, f"DELETE FROM {t} WHERE p_size > 30")
    snap = DeltaLog.for_table(tmp_table).update()
    assert any(f.deletionVector for f in snap.all_files)
    delta_sql(spark, f"REORG TABLE {t} APPLY (PURGE)")
    snap = DeltaLog.for_table(tmp_table).update()
    assert not any(f.deletionVector for f in snap.all_files)

    dst = str(tmp_path / "cl")
    delta_sql(spark, f"CREATE TABLE delta.`{dst}` SHALLOW CLONE {t} VERSION AS OF 0")
    assert DeltaTable.forPath(spark, dst).toDF().count() == 200


def test_v2_checkpoint_roundtrip(spark, tmp_table, sf_dir):
    """V2 checkpoints: uuid top-level file + _sidecars/ parquets,
    replayed transparently; cleanup reclaims sidecars."""
    import glob as _glob

    src = load_table(spark, sf_dir, "lineitem").limit(500)
    n = src.count()
    write_delta(src.repartition(6), tmp_table,
                configuration={"delta.checkpointPolicy": "v2",
                               "delta.checkpoint.partSize": "3"})
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    assert "v2Checkpoint" in (snap.protocol.readerFeatures or [])
    log.write_checkpoint(snap)
    tops = _glob.glob(os.path.join(tmp_table, "_delta_log",
                                   "*.checkpoint.*-*.parquet"))
    sidecars = _glob.glob(os.path.join(tmp_table, "_delta_log",
                                       "_sidecars", "*.parquet"))
    assert len(tops) == 1 and len(sidecars) >= 2
    assert snap.version in log.list_checkpoint_versions()

    # replay exclusively through the v2 checkpoint
    for v in log.list_commit_versions():
        os.unlink(log.commit_file(v))
    DeltaLog.clear_cache()
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == n
    snap2 = DeltaLog.for_table(tmp_table).update()
    assert snap2.num_files == snap.num_files

    # a later checkpoint + cleanup reclaims the old sidecars
    write_delta(src.limit(10), tmp_table, mode="append")
    log2 = DeltaLog.for_table(tmp_table)
    log2.write_checkpoint(log2.update())
    from delta_spark.util import current_time_millis
    log2.cleanup_expired_logs(
        now_ms=current_time_millis() + log2.log_retention_ms() + 60_000)
    remaining_tops = _glob.glob(os.path.join(
        tmp_table, "_delta_log", "*.checkpoint.*-*.parquet"))
    assert len(remaining_tops) == 1
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == n + 10


def test_minor_log_compaction(spark, tmp_table, sf_dir):
    """<start>.<end>.compacted.json substitutes the per-version jsons
    during replay; cleanup reclaims expired compactions."""
    import glob as _glob

    write_delta(load_table(spark, sf_dir, "customer").limit(100), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    for lo in (0, 200, 400):  # v1..v3 appends
        write_delta(load_table(spark, sf_dir, "customer")
                    .filter(f"c_custkey > {lo}").limit(40),
                    tmp_table, mode="append")
    dt.delete("c_custkey % 7 = 0")  # v4
    log = DeltaLog.for_table(tmp_table)
    expect = dt.toDF().count()
    snap = log.update()
    assert snap.version == 4

    cpath = log.compact_log(1, 4)
    assert os.path.basename(cpath).endswith(".compacted.json")
    # idempotent re-run
    assert log.compact_log(1, 4) == cpath

    # drop the interior jsons (keep the tip for listing/timestamps):
    # replay must go through the compaction or hit missing-commit errors
    for v in range(1, 4):
        os.unlink(log.commit_file(v))
    DeltaLog.clear_cache()
    log2 = DeltaLog.for_table(tmp_table)
    snap2 = log2.update()
    assert snap2.version == 4
    assert snap2.num_files == snap.num_files
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == expect
    # incremental advance (update() path) across a compacted boundary
    DeltaLog.clear_cache()
    log3 = DeltaLog.for_table(tmp_table)
    log3.snapshot_at(0)
    assert log3.update().version == 4

    # checkpoint later, then cleanup reclaims the expired compaction
    write_delta(load_table(spark, sf_dir, "customer").limit(5),
                tmp_table, mode="append")
    log3.write_checkpoint(log3.update())
    from delta_spark.util import current_time_millis
    log3.cleanup_expired_logs(
        now_ms=current_time_millis() + log3.log_retention_ms() + 60_000)
    assert not _glob.glob(os.path.join(tmp_table, "_delta_log",
                                       "*.compacted.json"))
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == expect + 5


def test_vacuum_parallel_listing_matches_sequential(spark, tmp_table, sf_dir):
    """Above the top-level-dir threshold VACUUM lists as a Spark job;
    its dry-run victim set must equal the driver-walk's."""
    from delta_spark.commands.maintenance import vacuum

    orders = load_table(spark, sf_dir, "orders").limit(500) \
        .withColumn("bucket", F.col("o_orderkey") % 70)
    write_delta(orders, tmp_table, partition_by=["bucket"])
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("o_orderkey % 3 = 0")  # rewrite → tombstoned originals
    log = DeltaLog.for_table(tmp_table)

    spark.conf.set("delta_spark.vacuum.parallelListingThreshold", "10000")
    seq = sorted(vacuum(spark, log, retention_hours=0, dry_run=True))
    spark.conf.set("delta_spark.vacuum.parallelListingThreshold", "4")
    par = sorted(vacuum(spark, log, retention_hours=0, dry_run=True))
    assert par == seq and len(par) > 0

    # and the destructive run actually reclaims them
    vacuum(spark, log, retention_hours=0)
    import os as _os
    assert all(not _os.path.exists(p) for p in par)
    assert dt.toDF().count() == orders.filter("o_orderkey % 3 <> 0").count()
    spark.conf.unset("delta_spark.vacuum.parallelListingThreshold")


def test_clone_api_parity(spark, tmp_table, tmp_path, sf_dir):
    """Reference python API shapes: cloneAtVersion / cloneAtTimestamp /
    clone(replace=, properties=) and deep clone."""
    from delta_spark.datasets import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(300)
    write_delta(li, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    write_delta(li.limit(50), tmp_table, mode="append")

    # cloneAtVersion pins the pre-append state
    c1 = dt.cloneAtVersion(0, str(tmp_path / "v0"), isShallow=True)
    assert c1.toDF().count() == 300
    # cloneAtTimestamp resolves through commit timestamps
    ts = dt.history().filter("version = 1").collect()[0]["timestamp"]
    c2 = dt.cloneAtTimestamp(str(ts), str(tmp_path / "ts"), isShallow=True)
    assert c2.toDF().count() == 350
    # replace=True swaps an existing target in one commit
    c3 = dt.clone(str(tmp_path / "v0"), isShallow=True, replace=True,
                  properties={"delta.appendOnly": "false"})
    assert c3.toDF().count() == 350
    assert c3.detail().collect()[0]["properties"].get("delta.appendOnly") == "false"
    # replace=False on an existing target still refuses
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dt.clone(str(tmp_path / "v0"), isShallow=True)


def test_deep_clone_self_contained(spark, tmp_table, tmp_path, sf_dir):
    """Deep clone owns its data: masked rows stay deleted after the
    SOURCE is vacuumed away, and the clone diverges independently."""
    import shutil as _shutil

    from delta_spark.datasets import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(400)
    write_delta(li, tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    want = dt.toDF().count()
    deep = dt.clone(str(tmp_path / "deep"), isShallow=False)
    assert deep.toDF().count() == want
    # clone has no DVs (masks materialized) and no source references
    from delta_spark.log import DeltaLog as _DL
    snap = _DL.for_table(str(tmp_path / "deep")).update()
    assert not any(f.deletionVector for f in snap.all_files)
    assert all(not f.path.startswith("/") or str(tmp_path / "deep") in f.path
               for f in snap.all_files)
    # destroy the source entirely — the deep clone still reads
    _shutil.rmtree(tmp_table)
    DeltaLog.clear_cache()
    assert DeltaTable.forPath(spark, str(tmp_path / "deep")).toDF().count() == want


def test_replace_table_shallow_clone_sql(spark, tmp_table, tmp_path, sf_dir):
    """CREATE OR REPLACE ... SHALLOW CLONE ... TBLPROPERTIES — the full
    grammar form (DeltaSqlBase.g4 #clone)."""
    li = load_table(spark, sf_dir, "lineitem").limit(100)
    write_delta(li, tmp_table)
    write_delta(li.limit(20), tmp_table, mode="append")
    dst = str(tmp_path / "c")
    t = f"delta.`{tmp_table}`"
    delta_sql(spark, f"CREATE TABLE delta.`{dst}` SHALLOW CLONE {t} "
                     f"VERSION AS OF 0 TBLPROPERTIES ('delta.appendOnly' = 'false')")
    c = DeltaTable.forPath(spark, dst)
    assert c.toDF().count() == 100
    assert c.detail().collect()[0]["properties"]["delta.appendOnly"] == "false"
    # REPLACE swaps the existing target at the newer version
    delta_sql(spark, f"CREATE OR REPLACE TABLE delta.`{dst}` SHALLOW CLONE {t}")
    assert c.toDF().count() == 120


def test_insert_values_positional_and_column_list(spark, tmp_table):
    """INSERT INTO resolves bare VALUES by ordinal and a column list by
    name, NULL-filling unlisted plain columns (DeltaAnalysis INSERT
    resolution semantics)."""
    write_delta(spark.createDataFrame([(1, "a", 1.5)],
                                      "k int, v string, w double"),
                tmp_table)
    t = f"delta.`{tmp_table}`"
    delta_sql(spark, f"INSERT INTO {t} VALUES (2, 'b', 2.5)")
    delta_sql(spark, f"INSERT INTO {t} (v, k) VALUES ('c', 3)")
    rows = {(r["k"], r["v"], r["w"])
            for r in delta_sql(spark, f"SELECT * FROM {t}").collect()}
    assert rows == {(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)}


def test_create_table_ddl_and_vacuum_lite_sql(spark, tmp_path):
    """CREATE TABLE with column definitions routes to the builder;
    VACUUM ... LITE reclaims from log tombstones (DeltaSqlBase.g4:75)."""
    p = str(tmp_path / "ddl")
    delta_sql(spark, f"CREATE TABLE delta.`{p}` "
                     f"(k INT NOT NULL, v STRING, d DECIMAL(10,2)) "
                     f"USING delta PARTITIONED BY (v) "
                     f"TBLPROPERTIES ('delta.appendOnly' = 'false')")
    dt = DeltaTable.forPath(spark, p)
    assert dt.toDF().schema.simpleString() == \
        "struct<k:int,v:string,d:decimal(10,2)>"
    snap = DeltaLog.for_table(p).update()
    assert snap.partition_columns == ["v"]
    assert not snap.schema["k"].nullable
    delta_sql(spark, f"INSERT INTO delta.`{p}` VALUES (1, 'x', 2.50)")
    assert dt.toDF().count() == 1
    # IF NOT EXISTS is a no-op on the existing table
    delta_sql(spark, f"CREATE TABLE IF NOT EXISTS delta.`{p}` (k INT)")
    assert dt.toDF().count() == 1

    df2 = spark.createDataFrame([(1, "a")], "k int, v string")
    p2 = str(tmp_path / "vl")
    write_delta(df2, p2)
    write_delta(df2, p2, mode="overwrite")
    got = delta_sql(spark, f"VACUUM delta.`{p2}` LITE RETAIN 0 HOURS DRY RUN")
    assert got.count() >= 1


def test_select_join_of_two_delta_paths(spark, tmp_path):
    """The generic SELECT rewrite registers one view PER path — a join
    of two different delta tables must not collapse into one view."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_delta(spark.createDataFrame([(1, "x"), (2, "y")],
                                      "k int, v string"), a)
    write_delta(spark.createDataFrame([(1, 100), (3, 300)],
                                      "k int, n int"), b)
    out = delta_sql(spark, f"SELECT a.k, a.v, b.n FROM delta.`{a}` a "
                           f"JOIN delta.`{b}` b ON a.k = b.k").collect()
    assert [(r["k"], r["v"], r["n"]) for r in out] == [(1, "x", 100)]


def test_convert_no_statistics_and_parquet_prefix(spark, tmp_path, sf_dir):
    """CONVERT TO DELTA parquet.`path` NO STATISTICS: the grammar's
    qualified spelling and the collectStats=false leg."""
    p = str(tmp_path / "plain")
    load_table(spark, sf_dir, "supplier").write.parquet(p)
    delta_sql(spark, f"CONVERT TO DELTA parquet.`{p}` NO STATISTICS")
    snap = DeltaLog.for_table(p).update()
    assert snap.num_files >= 1
    assert all(f.stats is None for f in snap.all_files)
    assert delta_sql(spark, f"SELECT count(*) c FROM delta.`{p}`") \
        .collect()[0]["c"] == load_table(spark, sf_dir, "supplier").count()


def test_convert_to_delta_api_parquet_prefix(spark, tmp_path):
    """DeltaTable.convertToDelta takes the reference's qualified
    identifier parquet.`<path>`, in any case, like CONVERT TO DELTA."""
    p = str(tmp_path / "plain")
    spark.range(20).write.parquet(p)
    dt = DeltaTable.convertToDelta(spark, f"parquet.`{p}`")
    assert dt.toDF().count() == 20
    assert DeltaLog.for_table(p).update().version == 0
    q = str(tmp_path / "upper")
    spark.range(7).write.parquet(q)
    assert DeltaTable.convertToDelta(
        spark, f"PARQUET.`{q}`").toDF().count() == 7


def test_checkpoint_interval_property(spark, tmp_table):
    """delta.checkpointInterval (DeltaConfigs.CHECKPOINT_INTERVAL)
    overrides the default 10-commit checkpoint cadence."""
    import os

    write_delta(spark.range(1), tmp_table,
                configuration={"delta.checkpointInterval": "3"})
    for _ in range(6):
        write_delta(spark.range(1), tmp_table, mode="append")
    cps = sorted(f for f in os.listdir(f"{tmp_table}/_delta_log")
                 if f.endswith("checkpoint.parquet"))
    assert cps == ["00000000000000000003.checkpoint.parquet",
                   "00000000000000000006.checkpoint.parquet"]


def test_auto_log_cleanup_on_checkpoint(spark, tmp_table):
    """Each interval checkpoint also reclaims commit JSONs older than
    delta.logRetentionDuration (Checkpoints.checkpointAndCleanUpDeltaLog)
    unless delta.enableExpiredLogCleanup=false."""
    import os
    import time

    write_delta(spark.range(1), tmp_table,
                configuration={"delta.checkpointInterval": "4",
                               "delta.logRetentionDuration": "interval 1 hours"})
    for _ in range(3):
        write_delta(spark.range(1), tmp_table, mode="append")
    logdir = f"{tmp_table}/_delta_log"
    # age the early commits past the retention window, then trigger the
    # next interval checkpoint (v8)
    old = time.time() - 7200
    for v in range(3):
        os.utime(os.path.join(logdir, "%020d.json" % v), (old, old))
    for _ in range(5):
        write_delta(spark.range(1), tmp_table, mode="append")
    names = set(os.listdir(logdir))
    assert "00000000000000000008.checkpoint.parquet" in names
    assert "00000000000000000000.json" not in names
    assert "00000000000000000002.json" not in names
    # versions at/after the surviving checkpoint are intact and readable
    assert "00000000000000000008.json" in names
    from delta_spark import DeltaLog
    DeltaLog.clear_cache()
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 9


def test_comment_on_table_sql(spark, tmp_table):
    """COMMENT ON TABLE routes into Metadata.description (DeltaCatalog
    maps the 'comment' property; AlterTableSetPropertiesDeltaCommand)."""
    write_delta(spark.range(3), tmp_table)
    delta_sql(spark, f"COMMENT ON TABLE delta.`{tmp_table}` IS 'scratch table'")
    dt = DeltaTable.forPath(spark, tmp_table)
    row = dt.detail().collect()[0]
    assert row["description"] == "scratch table"
    # NULL clears it
    delta_sql(spark, f"COMMENT ON TABLE delta.`{tmp_table}` IS NULL")
    assert dt.detail().collect()[0]["description"] is None
    # survives unrelated metadata updates
    delta_sql(spark, f"COMMENT ON TABLE delta.`{tmp_table}` IS 'kept'")
    dt.setProperties({"delta.appendOnly": "false"})
    assert dt.detail().collect()[0]["description"] == "kept"


def test_sql_queries_reference_delta_paths(spark, tmp_path):
    """INSERT ... SELECT, CTAS bodies, and MERGE USING can all read
    delta.`path` relations (DeltaDataSource path resolution role): the
    dispatcher registers per-path temp views and rewrites references."""
    t = str(tmp_path / "t")
    src = str(tmp_path / "src")
    write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), t)
    write_delta(spark.createDataFrame([(2, "B"), (3, "C")], "k long, s string"), src)

    delta_sql(spark, f"INSERT INTO delta.`{t}` SELECT k+100, s FROM delta.`{src}`")
    assert DeltaTable.forPath(spark, t).toDF().count() == 4

    delta_sql(spark, f"""MERGE INTO delta.`{t}` AS t USING delta.`{src}` AS s
        ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.s = s.s
        WHEN NOT MATCHED THEN INSERT *""")
    rows = sorted(tuple(r) for r in DeltaTable.forPath(spark, t).toDF().collect())
    assert (2, "B") in rows and (3, "C") in rows

    delta_sql(spark, f"""MERGE INTO delta.`{t}` AS t
        USING (SELECT k FROM delta.`{src}` WHERE k = 3) AS s
        ON t.k = s.k WHEN MATCHED THEN DELETE""")
    assert DeltaTable.forPath(spark, t).toDF().filter("k = 3").count() == 0

    ctas = str(tmp_path / "ctas")
    delta_sql(spark, f"CREATE TABLE delta.`{ctas}` AS "
                     f"SELECT k FROM delta.`{src}` WHERE k > 1")
    assert DeltaTable.forPath(spark, ctas).toDF().count() == 2


def test_sql_literal_edge_cases(spark, tmp_path):
    """Escaped quotes in COMMENT; delta.`path` inside a string literal
    is data, not a relation to rewrite."""
    t = str(tmp_path / "t")
    write_delta(spark.range(2).withColumnRenamed("id", "k"), t)
    delta_sql(spark, f"COMMENT ON TABLE delta.`{t}` IS 'it''s mine'")
    dt = DeltaTable.forPath(spark, t)
    assert dt.detail().collect()[0]["description"] == "it's mine"
    # a quoted 'delta.`x`' inside the INSERT body must not be resolved
    delta_sql(spark, f"INSERT INTO delta.`{t}` "
                     f"SELECT k + 10 FROM delta.`{t}` WHERE 'delta.`x`' != ''")
    assert dt.toDF().count() == 4


def test_create_table_ddl_full_column_clauses(spark, tmp_path):
    """CREATE TABLE DDL supports the full column-spec surface: NOT NULL,
    GENERATED ALWAYS AS (expr), IDENTITY, DEFAULT, COMMENT — plus RTAS
    (CREATE OR REPLACE ... AS SELECT) replacing schema AND partitioning."""
    p = str(tmp_path / "t")
    delta_sql(spark, f"""CREATE TABLE delta.`{p}` (
        id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 5),
        price DOUBLE NOT NULL COMMENT 'unit price',
        ts TIMESTAMP,
        year INT GENERATED ALWAYS AS (year(ts)),
        qty INT DEFAULT 1
    ) USING delta PARTITIONED BY (year)""")
    delta_sql(spark, f"INSERT INTO delta.`{p}` (price, ts) "
                     f"VALUES (9.5, TIMESTAMP '2024-03-04 05:06:07')")
    delta_sql(spark, f"INSERT INTO delta.`{p}` (price, ts) "
                     f"VALUES (1.5, TIMESTAMP '2025-01-01 00:00:00')")
    rows = sorted(tuple(r) for r in delta_sql(
        spark, f"SELECT id, year, qty FROM delta.`{p}`").collect())
    assert rows == [(10, 2024, 1), (15, 2025, 1)]
    snap = DeltaLog.for_table(p).update()
    assert snap.partition_columns == ["year"]
    assert snap.schema["price"].metadata.get("comment") == "unit price"
    # ADD COLUMNS with COMMENT
    delta_sql(spark, f"ALTER TABLE delta.`{p}` ADD COLUMNS (note STRING COMMENT 'free')")
    assert DeltaLog.for_table(p).update().schema["note"].metadata["comment"] == "free"
    # RTAS: schema AND partitioning replaced
    delta_sql(spark, f"CREATE OR REPLACE TABLE delta.`{p}` AS SELECT 1 AS x")
    snap2 = DeltaLog.for_table(p).update()
    assert [f.name for f in snap2.schema.fields] == ["x"]
    assert snap2.partition_columns == []
    # old versions still time travel
    assert DeltaTable.forPath(spark, p).asOfVersion(1).count() == 1


def test_detail_clustering_and_features(spark, tmp_table, sf_dir):
    """DESCRIBE DETAIL carries clusteringColumns and tableFeatures
    (DescribeDeltaDetailsCommand:160-188: explicit + legacy-implied)."""
    from delta_spark.datasets import load_table

    write_delta(load_table(spark, sf_dir, "supplier"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    row = dt.detail().collect()[0]
    assert row["clusteringColumns"] == []
    # (1,2) legacy protocol implies appendOnly + invariants
    assert set(row["tableFeatures"]) == {"appendOnly", "invariants"}
    dt.alterClusterBy(["s_nationkey", "s_acctbal"])
    row2 = dt.detail().collect()[0]
    assert row2["clusteringColumns"] == ["s_nationkey", "s_acctbal"]
    assert "clustering" in row2["tableFeatures"]


def test_clone_of_clustered_table_carries_features(spark, tmp_table, tmp_path):
    """A commit carrying live DomainMetadata auto-enables the
    domainMetadata (+clustering) writer features at the transaction
    seam — a clone of a clustered table must not produce a legacy
    protocol with domain actions (spec violation)."""
    write_delta(spark.range(20).withColumnRenamed("id", "a"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.alterClusterBy(["a"])
    clone_path = str(tmp_path / "cl")
    dt.clone(clone_path, isShallow=True)
    pr = DeltaLog.for_table(clone_path).update().protocol
    assert "domainMetadata" in (pr.writerFeatures or [])
    assert "clustering" in (pr.writerFeatures or [])


def test_ddl_rejects_generated_by_default_expression(spark, tmp_path):
    """GENERATED BY DEFAULT is only legal for IDENTITY — an expression
    variant must fail at CREATE, not silently become GENERATED ALWAYS."""
    p = str(tmp_path / "t")
    with pytest.raises(ValueError, match="BY DEFAULT"):
        delta_sql(spark, f"CREATE TABLE delta.`{p}` "
                         f"(ts TIMESTAMP, y INT GENERATED BY DEFAULT AS (year(ts))) USING delta")


def test_datasource_timestamp_as_of_strict(spark, tmp_path, sf_dir):
    """The delta_py batch reader's timestampAsOf option uses the same
    strict future-timestamp resolution as every other read path."""
    import pytest as _pytest

    p = str(tmp_path / "t")
    write_delta(spark.range(3).withColumnRenamed("id", "a"), p)
    from delta_spark.streaming import register
    register(spark)
    with _pytest.raises(Exception, match="after the latest version"):
        (spark.read.format("delta_py").option("path", p)
         .option("timestampAsOf", "2035-01-01 00:00:00").load().count())


def test_at_syntax_time_travel_paths(spark, tmp_path):
    """Reference DeltaTimeTravelSpec.scala:88,98 `@vN` (case-insensitive)
    and `@yyyyMMddHHmmssSSS` path suffixes pin reads, including through
    delta_sql relations."""
    import datetime as dt

    p = str(tmp_path / "t")
    write_delta(spark.range(3).withColumnRenamed("id", "a"), p)              # v0
    write_delta(spark.range(5).withColumnRenamed("id", "a"), p, mode="append")  # v1
    assert DeltaTable.forPath(spark, p + "@v0").toDF().count() == 3
    assert DeltaTable.forPath(spark, p + "@V1").toDF().count() == 8
    assert delta_sql(spark, f"SELECT count(*) AS c FROM delta.`{p}@v0`") \
        .collect()[0]["c"] == 3
    # timestamp form: the last commit's own timestamp resolves to latest
    log = DeltaLog.for_table(p)
    ts = dt.datetime.fromtimestamp(
        log._commit_timestamp(1) / 1000.0, dt.timezone.utc)
    suffix = ts.strftime("%Y%m%d%H%M%S") + f"{ts.microsecond // 1000:03d}"
    assert DeltaTable.forPath(spark, p + "@" + suffix).toDF().count() == 8
    # a future timestamp errors (strict read-side resolution)
    fut = (ts + dt.timedelta(days=365)).strftime("%Y%m%d%H%M%S") + "000"
    with pytest.raises(Exception, match="after the latest version"):
        DeltaTable.forPath(spark, p + "@" + fut).toDF().count()


def test_vacuum_reclaims_stale_cdc_and_underscore_partitions(spark, tmp_path):
    """isHiddenDirectory (DeltaTable.scala:289): `_change_data` and
    partition dirs of underscore-named columns are NOT hidden to
    VACUUM — stale CDC files age out of the retention window
    (DeltaVacuumSuite 'vacuum for cdc - delete tombstones'), and
    underscore-partition files are GC'd normally. (conftest already
    disables the retention-duration check suite-wide.)"""
    import glob

    p = str(tmp_path / "cdc")
    write_delta(spark.range(10).selectExpr("id", "id % 2 AS part"), p,
                partition_by=["part"],
                configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, p)
    dt.delete("id = 9")
    cdc = lambda: glob.glob(p + "/_change_data/**/*.parquet", recursive=True)
    assert len(cdc()) == 1
    dt.vacuum(100)            # inside the window: kept
    assert len(cdc()) == 1
    dt.vacuum(0)              # outside: reclaimed
    assert cdc() == []
    assert dt.toDF().count() == 9

    p2 = str(tmp_path / "und")
    df2 = spark.range(10).selectExpr("id", "id % 2 AS _upart")
    write_delta(df2, p2, partition_by=["_upart"])
    dt2 = DeltaTable.forPath(spark, p2)
    write_delta(df2.filter("id < 4"), p2, mode="overwrite")
    dt2.vacuum(0)
    live = {os.path.basename(f.path) for f
            in DeltaLog.for_table(p2).update().all_files}
    on_disk = {os.path.basename(f) for f in
               glob.glob(p2 + "/_upart=*/**/*.parquet", recursive=True)}
    assert on_disk == live          # every stale file reclaimed
    assert dt2.toDF().count() == 4


def test_vacuum_lite_reclaims_expired_cdc(spark, tmp_path):
    """Lite vacuum unions `cdc` actions of commits outside the window
    into its candidate set (VacuumCommand.scala:860) — without a full
    listing."""
    import glob

    from delta_spark.commands.maintenance import vacuum_lite

    p = str(tmp_path / "t")
    write_delta(spark.range(10).withColumnRenamed("id", "a"), p,
                configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, p)
    dt.delete("a = 1")
    assert glob.glob(p + "/_change_data/**/*.parquet", recursive=True)
    victims = vacuum_lite(spark, DeltaLog.for_table(p),
                          retention_hours=0, dry_run=True)
    assert any("_change_data" in v for v in victims)
    vacuum_lite(spark, DeltaLog.for_table(p), retention_hours=0)
    assert glob.glob(p + "/_change_data/**/*.parquet", recursive=True) == []
    assert dt.toDF().count() == 9


@pytest.mark.parametrize("writer", ["driver", "distributed"])
def test_checkpoint_expires_aged_tombstones(spark, tmp_path, writer):
    """DeltaRetentionSuite 'RemoveFiles get deleted during checkpoint if
    retention time has passed': both checkpoint writers drop tombstones
    older than delta.deletedFileRetentionDuration; fresh ones survive."""
    def checkpoint(path):
        log = DeltaLog.for_table(path)
        if writer == "driver":
            log.write_checkpoint()
        else:
            assert log.write_checkpoint_distributed(spark)

    p = str(tmp_path / "t")
    write_delta(spark.range(10).withColumnRenamed("id", "a"), p,
                configuration={
                    "delta.deletedFileRetentionDuration": "interval 0 hours"})
    write_delta(spark.range(4).withColumnRenamed("id", "a"), p,
                mode="overwrite")
    checkpoint(p)
    DeltaLog.clear_cache()
    snap = DeltaLog.for_table(p).update()
    assert snap.tombstones == {}
    assert DeltaTable.forPath(spark, p).toDF().count() == 4
    # default retention: fresh tombstones are kept
    p2 = str(tmp_path / "t2")
    write_delta(spark.range(10).withColumnRenamed("id", "a"), p2)
    write_delta(spark.range(4).withColumnRenamed("id", "a"), p2,
                mode="overwrite")
    checkpoint(p2)
    DeltaLog.clear_cache()
    assert len(DeltaLog.for_table(p2).update().tombstones) > 0


def test_log_cleanup_removes_crc_files(spark, tmp_path):
    """Expired commits take their .crc checksums with them
    (DeltaRetentionSuite 'the checkpoint and checksum for version 0
    should be cleaned')."""
    import glob as _glob

    from delta_spark.util import current_time_millis

    p = str(tmp_path / "t")
    write_delta(spark.range(5).withColumnRenamed("id", "a"), p)
    for i in range(3):
        write_delta(spark.range(5).withColumnRenamed("id", "a"), p,
                    mode="append")
    log = DeltaLog.for_table(p)
    log.write_checkpoint()
    n_crc_before = len(_glob.glob(os.path.join(p, "_delta_log", "*.crc")))
    assert n_crc_before >= 4
    log.cleanup_expired_logs(
        now_ms=current_time_millis() + log.log_retention_ms() + 60_000)
    remaining_json = _glob.glob(os.path.join(p, "_delta_log", "*[0-9].json"))
    remaining_crc = _glob.glob(os.path.join(p, "_delta_log", "*.crc"))
    # every surviving crc belongs to a surviving commit or the tip
    surviving = {os.path.basename(j)[:20] for j in remaining_json}
    assert all(os.path.basename(c)[:20] in surviving or
               os.path.basename(c)[:20] == "%020d" % log.latest_version()
               for c in remaining_crc)
    assert len(remaining_crc) < n_crc_before
    assert DeltaTable.forPath(spark, p).toDF().count() == 20


def test_time_travel_with_adjusted_timestamps(spark, tmp_path):
    """DeltaHistoryManager.monotonizeCommitTimestamps: when clock skew
    gives commit N+1 an mtime before commit N's, history and timestamp
    time travel agree on one adjusted monotonic sequence."""
    p = str(tmp_path / "t")
    write_delta(spark.range(1).withColumnRenamed("id", "a"), p)
    write_delta(spark.range(2).withColumnRenamed("id", "a"), p, mode="append")
    write_delta(spark.range(3).withColumnRenamed("id", "a"), p, mode="append")
    log = DeltaLog.for_table(p)
    t2 = os.stat(log.commit_file(2)).st_mtime
    os.utime(log.commit_file(1), (t2 + 10, t2 + 10))  # v1 after v2
    DeltaLog.clear_cache()
    log = DeltaLog.for_table(p)
    seq = log._monotonic_commit_timestamps()
    assert all(seq[i][1] < seq[i + 1][1] for i in range(len(seq) - 1))
    dt = DeltaTable.forPath(spark, p)
    hist = dt.history().collect()
    hts = [r["timestamp"] for r in hist]
    assert all(hts[i] > hts[i + 1] for i in range(len(hts) - 1))
    for r in hist:  # each history timestamp resolves to its own version
        assert dt.asOfTimestamp(r["timestamp"]).count() == \
            dt.asOfVersion(r["version"]).count()


def test_dml_rejects_time_travelled_targets(spark, tmp_path):
    """DeltaHistoryManagerSuite 'cannot time travel target tables of
    insert/delete/update/merge': @v-pinned handles and paths are
    read-only."""
    p = str(tmp_path / "t")
    write_delta(spark.range(10).withColumnRenamed("id", "a"), p)
    write_delta(spark.range(5).withColumnRenamed("id", "a"), p,
                mode="append")
    for stmt in (f"DELETE FROM delta.`{p}@v0` WHERE a = 1",
                 f"UPDATE delta.`{p}@v0` SET a = 9 WHERE a = 2",
                 f"INSERT INTO delta.`{p}@v0` VALUES (99)",
                 f"OPTIMIZE delta.`{p}@v0`"):
        with pytest.raises(Exception, match="time-travelled"):
            delta_sql(spark, stmt)
    assert not os.path.exists(p + "@v0")   # no stray sibling table
    dt = DeltaTable.forPath(spark, p + "@v1")
    with pytest.raises(ValueError, match="time-travelled"):
        dt.delete("a = 1")
    with pytest.raises(ValueError, match="time-travelled"):
        dt.merge(spark.range(1).withColumnRenamed("id", "a"), "1=1")
    with pytest.raises(ValueError, match="time-travelled"):
        dt.truncate()
    assert DeltaTable.forPath(spark, p).toDF().count() == 15  # untouched


def test_time_travel_guard_covers_alias_and_maintenance(spark, tmp_path):
    """Review follow-ups: the pin survives alias(), and maintenance /
    metadata mutators (vacuum, restore, set-properties, constraints)
    reject pinned handles; mixed-case CDC reserved names are caught."""
    p = str(tmp_path / "t")
    write_delta(spark.range(10).withColumnRenamed("id", "a"), p)
    write_delta(spark.range(5).withColumnRenamed("id", "a"), p,
                mode="append")
    dt = DeltaTable.forPath(spark, p + "@v0")
    al = dt.alias("t")
    assert al.toDF().count() == 10          # pin survives alias
    with pytest.raises(ValueError, match="time-travelled"):
        al.merge(spark.range(1).withColumnRenamed("id", "a"), "1=1")
    for fn in (lambda: dt.vacuum(0, dry_run=True),
               lambda: dt.restoreToVersion(0),
               lambda: dt.setProperties({"x": "y"}),
               lambda: dt.addCheckConstraint("c1", "a >= 0")):
        with pytest.raises(ValueError, match="time-travelled"):
            fn()
    with pytest.raises(ValueError, match="reserved"):
        write_delta(spark.range(3).withColumnRenamed("id", "_Change_Type"),
                    str(tmp_path / "c"),
                    configuration={"delta.enableChangeDataFeed": "true"})


def test_insert_replace_where_sql(spark, tmp_path):
    """DeltaSuite 'replaceWhere SQL': INSERT INTO t REPLACE WHERE cond
    SELECT ... is an overwrite scoped to the predicate — partition and
    data-column predicates both work."""
    p = str(tmp_path / "t")
    write_delta(spark.range(100).withColumn("part", F.col("id") % 10), p,
                partition_by=["part"])
    spark.range(10).withColumn("part", F.lit(0)) \
        .createOrReplaceTempView("rw_src")
    delta_sql(spark, f"INSERT INTO delta.`{p}` REPLACE WHERE part >= 0 "
                     f"SELECT * FROM rw_src")
    dt = DeltaTable.forPath(spark, p)
    assert dt.toDF().count() == 10
    spark.range(5).withColumn("part", F.lit(0)) \
        .createOrReplaceTempView("rw_src2")
    delta_sql(spark, f"INSERT INTO delta.`{p}` REPLACE WHERE part = 0 "
                     f"SELECT * FROM rw_src2")
    assert dt.toDF().count() == 5
    delta_sql(spark, f"INSERT INTO delta.`{p}` REPLACE WHERE id < 2 "
                     f"SELECT id, 0 AS part FROM range(2)")
    assert dt.toDF().count() == 5  # 2 new + 3 untouched (id >= 2)


def test_restore_never_downgrades_protocol(spark, tmp_table, sf_dir):
    """RESTORE to a version before a feature enable keeps the upgraded
    protocol (RestoreTableCommand: protocol is not restored — a
    downgrade would let old clients corrupt post-feature state)."""
    from delta_spark.datasets import load_table
    from delta_spark.io import write_delta
    from delta_spark.table import DeltaTable

    df = load_table(spark, sf_dir, "lineitem").limit(200)
    write_delta(df, tmp_table)                       # v0: plain protocol
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.setProperties({"delta.enableDeletionVectors": "true"})  # v1
    dt.delete("l_quantity > 40")                     # v2: DV delete
    p_before = dt.log.update().protocol
    assert "deletionVectors" in (p_before.readerFeatures or [])
    dt.restoreToVersion(0)
    snap = dt.log.update()
    p_after = snap.protocol
    assert p_after.minReaderVersion >= p_before.minReaderVersion
    assert set(p_before.readerFeatures or []) <= set(p_after.readerFeatures or [])
    # the restored metadata reverts the PROPERTY, not the protocol
    assert snap.configuration.get("delta.enableDeletionVectors") is None
    assert dt.toDF().count() == 200


def test_log_retention_shorter_than_checkpoint_interval(spark, tmp_table,
                                                        sf_dir):
    """DeltaRetentionSuite edge: delta.logRetentionDuration far below
    the checkpoint cadence. Cleanup may only delete commits BELOW the
    newest checkpoint (the ceiling) no matter how aged the rest are —
    otherwise the table would lose its only reconstruction path — and
    in-retention commits below the ceiling survive too."""
    from delta_spark.util import current_time_millis

    li = load_table(spark, sf_dir, "lineitem").limit(20)
    write_delta(li, tmp_table, configuration={
        "delta.logRetentionDuration": "interval 1 second",
        "delta.checkpointInterval": "100"})          # no auto checkpoint
    for _ in range(4):
        write_delta(li, tmp_table, mode="append")    # v1..v4
    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint(log.snapshot_at(2))         # ceiling = 2

    # everything is aged past the 1s retention
    deleted = log.cleanup_expired_logs(
        now_ms=current_time_millis() + 5_000)
    assert deleted >= 2
    remaining = log.list_commit_versions()
    assert remaining == [2, 3, 4], remaining         # ceiling held
    DeltaLog.clear_cache()
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == 100
    # versions at/after the ceiling stay time-travelable
    assert dt.asOfVersion(2).count() == 60
    assert dt.asOfVersion(4).count() == 100

    # a fresh commit inside the retention window is NOT reclaimed even
    # though it sits below a newer checkpoint
    write_delta(li, tmp_table, mode="append")        # v5, fresh mtime
    log2 = DeltaLog.for_table(tmp_table)
    log2.write_checkpoint(log2.update())             # ceiling = 5
    log2.cleanup_expired_logs(now_ms=current_time_millis())  # cutoff 1s ago
    assert 5 in log2.list_commit_versions()   # fresh commit survives
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 120


def test_time_travel_past_cleaned_log_fails_with_reference_shape(
        spark, tmp_table, sf_dir):
    """Time travel below the cleanup horizon raises the reference's
    VersionNotFoundException shape ('Cannot time travel Delta table to
    version X. Available versions: [earliest, latest].'), while the
    horizon itself and everything after stay readable
    (DeltaRetentionSuite + DeltaHistoryManager semantics)."""
    from delta_spark.util import current_time_millis

    li = load_table(spark, sf_dir, "lineitem").limit(20)
    write_delta(li, tmp_table, configuration={
        "delta.logRetentionDuration": "interval 1 second"})
    for _ in range(4):
        write_delta(li, tmp_table, mode="append")    # v1..v4
    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint(log.snapshot_at(3))
    log.cleanup_expired_logs(now_ms=current_time_millis() + 5_000)
    assert log.list_commit_versions() == [3, 4]
    assert log.earliest_available_version() == 3

    DeltaLog.clear_cache()
    dt = DeltaTable.forPath(spark, tmp_table)
    with pytest.raises(ValueError,
                       match=r"Cannot time travel Delta table to version 1\. "
                             r"Available versions: \[3, 4\]"):
        dt.asOfVersion(1)
    # beyond-latest keeps its own error shape
    with pytest.raises(ValueError, match="Cannot time travel"):
        dt.asOfVersion(9)
    assert dt.asOfVersion(3).count() == 80
    assert dt.toDF().count() == 100
    # history only covers the surviving range
    hist_versions = {r["version"] for r in dt.history().collect()}
    assert hist_versions == {3, 4}

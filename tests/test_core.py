"""End-to-end slice: create → append → read → delete/update/merge →
time travel → checkpoint, verified against DuckDB where cheap."""

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from delta_spark.io import write_delta
from delta_spark.log import DeltaLog
from delta_spark.table import DeltaTable


def _li(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def test_create_append_read_roundtrip(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    v = write_delta(df, tmp_table, mode="append")
    assert v == 0
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == df.count()
    # second append
    write_delta(df.limit(100), tmp_table, mode="append")
    assert dt.toDF().count() == df.count() + 100


def test_overwrite(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table)
    write_delta(df.limit(10), tmp_table, mode="overwrite")
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == 10
    assert dt.version == 1


def test_q6_vs_duckdb(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    got = (dt.toDF()
           .filter("l_shipdate >= TIMESTAMP '1994-01-01 00:00:00' AND "
                   "l_shipdate < TIMESTAMP '1995-01-01 00:00:00' AND "
                   "l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")
           .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
           ).collect()[0]["revenue"]
    want = duckdb.sql(f"""
        SELECT sum(l_extendedprice * l_discount) AS revenue
        FROM read_parquet('{sf_dir}/lineitem.parquet')
        WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """).fetchone()[0]
    assert got == pytest.approx(want, rel=1e-9)


def test_partitioned_write_and_pruning(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table, partition_by=["l_returnflag"])
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    all_files = snap.all_files
    pruned = snap.files_for_scan("l_returnflag = 'A'")
    assert 0 < len(pruned) < len(all_files)
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF("l_returnflag = 'A'").count() == df.filter("l_returnflag = 'A'").count()


def test_stats_skipping(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    # write ordered by orderkey in several files → min/max ranges disjoint
    write_delta(df.repartitionByRange(8, "l_orderkey"), tmp_table)
    snap = DeltaLog.for_table(tmp_table).update()
    assert len(snap.all_files) >= 4
    pruned = snap.files_for_scan("l_orderkey = 1")
    assert len(pruned) < len(snap.all_files)
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF("l_orderkey = 1").count() == df.filter("l_orderkey = 1").count()


def test_delete(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 30")
    assert dt.toDF().count() == df.filter("l_quantity <= 30 OR l_quantity IS NULL").count()
    assert dt.toDF().filter("l_quantity > 30").count() == 0


def test_delete_partition_metadata_only(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table, partition_by=["l_returnflag"])
    dt = DeltaTable.forPath(spark, tmp_table)
    before_files = set(DeltaLog.for_table(tmp_table).update().active)
    dt.delete("l_returnflag = 'A'")
    after = DeltaLog.for_table(tmp_table).update()
    assert set(after.active) < before_files  # no rewrites, only drops
    assert dt.toDF().filter("l_returnflag = 'A'").count() == 0


def test_update(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.update({"l_discount": "l_discount + 0.01"}, "l_quantity < 10")
    got = dt.toDF().agg(F.sum("l_discount")).collect()[0][0]
    want = (df.withColumn("l_discount",
                          F.when(F.col("l_quantity") < 10, F.col("l_discount") + 0.01)
                          .otherwise(F.col("l_discount")))
            .agg(F.sum("l_discount")).collect()[0][0])
    assert got == pytest.approx(want, rel=1e-9)


def test_merge_upsert(spark, tmp_table, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    write_delta(orders, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = (orders.limit(200)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2)
           .withColumn("o_orderkey",
                       F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderkey"))
                       .otherwise(F.col("o_orderkey") + 10_000_000)))
    (dt.merge(src, "target.o_orderkey = source.o_orderkey")
       .whenMatchedUpdateAll()
       .whenNotMatchedInsertAll()
       .execute())
    out = dt.toDF()
    n_new = src.join(orders, "o_orderkey", "left_anti").count()
    assert out.count() == orders.count() + n_new
    # matched rows got doubled price
    joined = out.alias("t").join(src.alias("s"), "o_orderkey").filter("t.o_totalprice <> s.o_totalprice")
    assert joined.count() == 0


def test_merge_delete_clause(spark, tmp_table, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    write_delta(orders, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = orders.select("o_orderkey").limit(100)
    (dt.merge(src, "target.o_orderkey = source.o_orderkey")
       .whenMatchedDelete()
       .execute())
    assert dt.toDF().count() == orders.count() - 100


def test_time_travel_and_history(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df.limit(100), tmp_table)
    write_delta(df.limit(50), tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 0")
    assert dt.asOfVersion(0).count() == 100
    assert dt.asOfVersion(1).count() == 150
    assert dt.toDF().count() == df.limit(150).filter("l_quantity <= 0").count()
    h = dt.history().collect()
    assert [r["operation"] for r in h] == ["DELETE", "WRITE", "CREATE TABLE AS SELECT"]
    # @v path suffix (DeltaTimeTravelSpec.scala:88)
    assert DeltaTable.forPath(spark, tmp_table + "@v0").toDF().count() == 100
    assert DeltaTable.forPath(spark, tmp_table + "@v1").toDF().count() == 150


def test_checkpoint_roundtrip(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir).limit(500)
    write_delta(df, tmp_table)
    log = DeltaLog.for_table(tmp_table)
    for i in range(11):
        write_delta(df.limit(5), tmp_table, mode="append")
    assert log.list_checkpoint_versions() != []
    # force full rebuild from checkpoint
    log.invalidate()
    DeltaLog.clear_cache()
    log2 = DeltaLog.for_table(tmp_table)
    snap = log2.update()
    assert snap.version == 11
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == 500 + 55


def test_restore(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df.limit(100), tmp_table)
    write_delta(df.limit(70), tmp_table, mode="overwrite")
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.restoreToVersion(0)
    assert dt.toDF().count() == 100


def test_optimize_compaction(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    for i in range(5):
        write_delta(df.limit(200), tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    before = DeltaLog.for_table(tmp_table).update().num_files
    res = dt.optimize().executeCompaction()
    after = DeltaLog.for_table(tmp_table).update().num_files
    assert after < before
    assert dt.toDF().count() == 1000


def test_vacuum(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir)
    write_delta(df.limit(100), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    write_delta(df.limit(10), tmp_table, mode="overwrite")
    # retention 0 → old files deletable
    victims = dt.vacuum(0, dry_run=True)
    assert victims
    dt.vacuum(0)
    assert dt.toDF().count() == 10  # current version unharmed
    with pytest.raises(Exception):
        dt.asOfVersion(0).count()  # vacuumed data gone


def test_cdf(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir).limit(100)
    write_delta(df, tmp_table, configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    n_deleted = df.filter("l_quantity > 40").count()
    ch = dt.table_changes(starting_version=1)
    dels = ch.filter("_change_type = 'delete'").count()
    assert dels == n_deleted
    ch0 = dt.table_changes(starting_version=0)
    assert ch0.filter("_change_type = 'insert'").count() == 100


def test_delete_rewrite_partitioned(spark, tmp_table, sf_dir):
    """Non-partition predicate on a partitioned table: part-file
    basenames collide across partition dirs (one job writes
    part-00000-<uuid> into each) — regression for full-path touched-file
    matching."""
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table, partition_by=["l_returnflag"])
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 30")
    want = df.filter("NOT coalesce(l_quantity > 30, false)").count()
    assert dt.toDF().count() == want
    assert dt.toDF().filter("l_quantity > 30").count() == 0


def test_merge_partitioned(spark, tmp_table, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    write_delta(orders, tmp_table, partition_by=["o_orderstatus"])
    dt = DeltaTable.forPath(spark, tmp_table)
    src = (orders.limit(100)
           .withColumn("o_totalprice", F.col("o_totalprice") + 1))
    (dt.merge(src, "target.o_orderkey = source.o_orderkey")
       .whenMatchedUpdateAll()
       .whenNotMatchedInsertAll()
       .execute())
    assert dt.toDF().count() == orders.count()
    bumped = dt.toDF().alias("t").join(src.alias("s"), "o_orderkey") \
        .filter("t.o_totalprice <> s.o_totalprice").count()
    assert bumped == 0


def test_deletion_vectors(spark, tmp_table, sf_dir):
    """DV path: DELETE marks rows without rewriting files; reads filter
    via row-index anti-join; second delete unions the DV; REORG PURGE
    materializes."""
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table, configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    data_paths_before = {f.path for f in DeltaLog.for_table(tmp_table).update().all_files}
    dt.delete("l_quantity > 40")
    snap = DeltaLog.for_table(tmp_table).update()
    assert {f.path for f in snap.all_files} == data_paths_before  # no rewrite
    assert any(f.deletionVector for f in snap.all_files)
    want1 = df.filter("NOT coalesce(l_quantity > 40, false)")
    assert dt.toDF().count() == want1.count()
    assert dt.toDF().filter("l_quantity > 40").count() == 0
    # second delete unions into a fresh DV
    dt.delete("l_discount > 0.08")
    want2 = want1.filter("NOT coalesce(l_discount > 0.08, false)")
    assert dt.toDF().count() == want2.count()
    # time travel still sees the intermediate state
    assert dt.asOfVersion(1).count() == want1.count()
    # aggregates/joins over the DV table are correct
    got = dt.toDF().agg(F.sum("l_quantity")).collect()[0][0]
    assert got == pytest.approx(want2.agg(F.sum("l_quantity")).collect()[0][0])
    # purge rewrites to plain files
    dt.reorgPurge()
    snap3 = DeltaLog.for_table(tmp_table).update()
    assert not any(f.deletionVector for f in snap3.all_files)
    assert dt.toDF().count() == want2.count()


def test_dv_update_no_rewrite(spark, tmp_table, sf_dir):
    """DV UPDATE (UpdateCommand.scala:139): matched positions are
    masked in-place and only the post-update rows land in new files —
    the touched files' bytes never change."""
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table, configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    before = {f.path for f in DeltaLog.for_table(tmp_table).update().all_files}
    dt.update({"l_tax": "CAST(9.99 AS DOUBLE)"}, "l_quantity > 45")
    snap = DeltaLog.for_table(tmp_table).update()
    paths = {f.path for f in snap.all_files}
    # originals all survive (with DVs); the update added new files
    assert before <= paths and len(paths) > len(before)
    assert any(f.deletionVector for f in snap.all_files)
    n_upd = df.filter("l_quantity > 45").count()
    got = dt.toDF()
    assert got.count() == df.count()                       # row count preserved
    assert got.filter("l_tax = 9.99").count() == n_upd     # all matched updated
    assert got.filter("l_quantity > 45 AND l_tax <> 9.99").count() == 0
    # a second update over already-masked files unions the DVs
    dt.update({"l_tax": "CAST(1.11 AS DOUBLE)"}, "l_quantity > 48")
    got2 = dt.toDF()
    assert got2.count() == df.count()
    assert got2.filter("l_quantity > 48 AND l_tax <> 1.11").count() == 0
    n2 = df.filter("l_quantity > 48").count()
    assert got2.filter("l_tax = 1.11").count() == n2
    # time travel sees the intermediate state
    assert dt.asOfVersion(1).filter("l_tax = 9.99").count() == n_upd


def test_dv_update_cdf_and_full_mask(spark, tmp_table, sf_dir):
    """DV UPDATE emits update_preimage/postimage CDF pairs; an update
    matching every row of a file retires the file (plain remove) with
    its rows rewritten, not double-counted."""
    from delta_spark.cdf import table_changes

    df = _li(spark, sf_dir).limit(200)
    write_delta(df, tmp_table, configuration={
        "delta.enableDeletionVectors": "true",
        "delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    n_upd = df.filter("l_quantity > 45").count()
    dt.update({"l_returnflag": "'U'"}, "l_quantity > 45")
    ch = table_changes(spark, DeltaLog.for_table(tmp_table), 1, 1)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"update_preimage": n_upd, "update_postimage": n_upd}
    # full-mask: update EVERY row — originals retire, rows land once
    dt.update({"l_returnflag": "'Z'"}, None)
    got = dt.toDF()
    assert got.count() == df.count()
    assert got.filter("l_returnflag <> 'Z'").count() == 0
    snap = DeltaLog.for_table(tmp_table).update()
    assert not any(f.deletionVector for f in snap.all_files)


def test_dv_update_row_tracking(spark, tmp_table, sf_dir):
    """Stable row ids survive a DV UPDATE: updated rows keep their id
    (materialized into the new files) and take the new commit's
    row-commit-version."""
    from delta_spark.reader import read_with_row_ids

    df = _li(spark, sf_dir).limit(300)
    write_delta(df, tmp_table, configuration={
        "delta.enableDeletionVectors": "true",
        "delta.enableRowTracking": "true"})
    log = DeltaLog.for_table(tmp_table)
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # key the before/after comparison on the row id itself
    before = {r["_row_id"]: r for r in read_with_row_ids(spark, log.update())
              .select("_row_id", "l_orderkey", "l_quantity", "l_tax").collect()}
    assert len(before) == df.count()              # ids unique
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.update({"l_tax": "CAST(5.55 AS DOUBLE)"}, "l_quantity > 40")
    rows = read_with_row_ids(spark, log.update()) \
        .select("_row_id", "l_orderkey", "l_quantity", "l_tax",
                "_row_commit_version").collect()
    assert len(rows) == df.count()
    upd_version = log.latest_version()
    assert {r["_row_id"] for r in rows} == set(before)  # same id set, no renumbering
    for r in rows:
        old = before[r["_row_id"]]
        # identity columns ride along with the id
        assert (r["l_orderkey"], r["l_quantity"]) == (old["l_orderkey"], old["l_quantity"])
        if old["l_quantity"] is not None and old["l_quantity"] > 40:
            assert r["l_tax"] == 5.55
            assert r["_row_commit_version"] == upd_version
        else:
            assert r["l_tax"] == old["l_tax"]


def test_dv_merge_no_rewrite(spark, tmp_table, sf_dir):
    """DV MERGE (MergeIntoCommand.scala:136): matched update/delete
    rows are masked in-place; only update outputs and inserts land in
    new files; copied rows never move."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    write_delta(orders, tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    before = {f.path for f in DeltaLog.for_table(tmp_table).update().all_files}
    src = (orders.limit(200)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2)
           .withColumn("o_orderkey",
                       F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderkey"))
                       .otherwise(F.col("o_orderkey") + 10_000_000)))
    (dt.merge(src, "target.o_orderkey = source.o_orderkey")
       .whenMatchedUpdateAll()
       .whenNotMatchedInsertAll()
       .execute())
    snap = DeltaLog.for_table(tmp_table).update()
    paths = {f.path for f in snap.all_files}
    assert before <= paths            # originals all survive (masked, not rewritten)
    assert any(f.deletionVector for f in snap.all_files)
    out = dt.toDF()
    n_new = src.join(orders, "o_orderkey", "left_anti").count()
    assert out.count() == orders.count() + n_new
    assert out.alias("t").join(src.alias("s"), "o_orderkey") \
        .filter("t.o_totalprice <> s.o_totalprice").count() == 0
    # no duplicate keys from a masked row surviving next to its update
    n_matched = src.join(orders, "o_orderkey", "left_semi").count()
    assert out.join(src, "o_orderkey", "left_semi").count() == n_matched + n_new
    # matched-DELETE also masks instead of rewriting
    victims = orders.select("o_orderkey").limit(50)
    (dt.merge(victims, "target.o_orderkey = source.o_orderkey")
       .whenMatchedDelete()
       .execute())
    assert dt.toDF().join(victims, "o_orderkey", "left_semi").count() == 0
    assert dt.toDF().count() == orders.count() + n_new - \
        out.join(victims, "o_orderkey", "left_semi").count()


def test_dv_merge_keeps_dv_thread_error(spark, tmp_table, monkeypatch):
    """When the new-file write and the concurrent DV job of a DV MERGE
    both fail, the write's error is raised and the DV job's error stays
    reachable from it."""
    import delta_spark.commands.delete as D
    import delta_spark.commands.merge as M

    write_delta(spark.range(100).withColumnRenamed("id", "k"), tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})

    def dv_fails(*args, **kwargs):
        raise RuntimeError("dv job failed")

    def write_fails(*args, **kwargs):
        raise RuntimeError("file write failed")

    monkeypatch.setattr(D, "mask_rows_with_dvs", dv_fails)
    monkeypatch.setattr(M, "write_table_files", write_fails)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.range(0, 10).withColumnRenamed("id", "k")
    with pytest.raises(RuntimeError, match="file write failed") as ei:
        (dt.merge(src, "target.k = source.k")
           .whenMatchedUpdate(set={"k": "source.k + 1000"})
           .execute())
    chain, e = [], ei.value
    while e is not None and e not in chain:
        chain.append(e)
        e = e.__context__
    assert "dv job failed" in [str(x) for x in chain]
    assert dt.toDF().count() == 100   # nothing committed


def test_dv_merge_cdf_and_nbs(spark, tmp_table, sf_dir):
    """DV MERGE with CDF + not-matched-by-source clauses: change rows
    match the rewrite path's, and nbs deletes mask whole-table rows."""
    from delta_spark.cdf import table_changes

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(400)
    write_delta(orders, tmp_table, configuration={
        "delta.enableDeletionVectors": "true",
        "delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    src = orders.limit(100).withColumn("o_totalprice", F.lit(1.0))
    (dt.merge(src, "target.o_orderkey = source.o_orderkey")
       .whenMatchedUpdate({"o_totalprice": "source.o_totalprice"})
       .whenNotMatchedBySourceDelete("target.o_totalprice < 50000")
       .execute())
    n_upd = orders.join(src, "o_orderkey", "left_semi").count()
    n_del = (orders.join(src, "o_orderkey", "left_anti")
             .filter("o_totalprice < 50000").count())
    ch = table_changes(spark, DeltaLog.for_table(tmp_table), 1, 1)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts.get("update_preimage", 0) == n_upd
    assert counts.get("update_postimage", 0) == n_upd
    assert counts.get("delete", 0) == n_del
    got = dt.toDF()
    assert got.count() == orders.count() - n_del
    assert got.filter("o_totalprice = 1.0").count() == \
        src.filter("o_totalprice = 1.0").count()


def test_dv_merge_row_tracking(spark, tmp_table, sf_dir):
    """Stable ids through a DV MERGE: updated rows keep their id,
    copied (unmoved) rows keep theirs, inserts get fresh ids."""
    from delta_spark.reader import read_with_row_ids

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(300)
    write_delta(orders, tmp_table, configuration={
        "delta.enableDeletionVectors": "true",
        "delta.enableRowTracking": "true"})
    log = DeltaLog.for_table(tmp_table)
    before = {r["_row_id"]: r["o_orderkey"]
              for r in read_with_row_ids(spark, log.update())
              .select("_row_id", "o_orderkey").collect()}
    dt = DeltaTable.forPath(spark, tmp_table)
    src = (orders.limit(80).withColumn("o_comment", F.lit("merged"))
           if "o_comment" in orders.columns
           else orders.limit(80).withColumn("o_totalprice", F.lit(2.0)))
    (dt.merge(src, "target.o_orderkey = source.o_orderkey")
       .whenMatchedUpdateAll()
       .execute())
    rows = read_with_row_ids(spark, log.update()) \
        .select("_row_id", "o_orderkey").collect()
    assert len(rows) == orders.count()
    assert {r["_row_id"] for r in rows} == set(before)   # same ids, none renumbered
    for r in rows:
        assert before[r["_row_id"]] == r["o_orderkey"]


def test_deletion_vectors_cdf(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir).limit(200)
    write_delta(df, tmp_table, configuration={
        "delta.enableDeletionVectors": "true",
        "delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    n = df.filter("l_quantity > 40").count()
    ch = dt.table_changes(starting_version=1)
    assert ch.filter("_change_type = 'delete'").count() == n


def test_deletion_vectors_checkpoint(spark, tmp_table, sf_dir):
    """DV descriptors must survive checkpoint replay."""
    df = _li(spark, sf_dir).limit(300)
    write_delta(df, tmp_table, configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint()
    DeltaLog.clear_cache()
    log2 = DeltaLog.for_table(tmp_table)
    snap = log2.update()
    assert any(f.deletionVector for f in snap.all_files)
    want = df.filter("NOT coalesce(l_quantity > 40, false)").count()
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == want


def test_vacuum_reclaims_stale_dv_dirs(spark, tmp_table, sf_dir):
    import os as _os

    df = _li(spark, sf_dir).limit(300)
    # legacy parquet-sidecar encoding (portable 'u' is the default now)
    write_delta(df, tmp_table, configuration={"delta.enableDeletionVectors": "true",
                                              "delta_spark.dv.portable": "false"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")   # dv dir 1
    dt.delete("l_discount > 0.08")  # dv dir 2 (dir 1 now stale)
    dv_root = _os.path.join(tmp_table, "_deletion_vectors")
    assert len(_os.listdir(dv_root)) == 2
    want = dt.toDF().count()
    dt.vacuum(0)
    assert len(_os.listdir(dv_root)) == 1  # stale dir reclaimed
    assert dt.toDF().count() == want      # live DV untouched


def test_distributed_stats_path(spark, tmp_table, sf_dir, monkeypatch):
    """Force the executor-side footer pass and check stats parity."""
    import delta_spark.stats as S

    monkeypatch.setattr(S, "DISTRIBUTED_STATS_THRESHOLD", 1)
    write_delta(_li(spark, sf_dir).repartition(4), tmp_table)
    snap = DeltaLog.for_table(tmp_table).update()
    assert snap.num_files >= 2
    for f in snap.all_files:
        assert f.stats and f.num_records > 0
    assert snap.metadata_aggregates(["l_orderkey"]) is not None


def test_merge_schema_evolution(spark, tmp_table, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    write_delta(orders.limit(100), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = (orders.limit(40)
           .withColumn("o_channel", F.when(F.col("o_orderkey") % 2 == 0, "web").otherwise("store"))
           .withColumn("o_orderkey",
                       F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderkey"))
                       .otherwise(F.col("o_orderkey") + 5_000_000)))
    (dt.merge(src, "target.o_orderkey = source.o_orderkey")
       .whenMatchedUpdateAll()
       .whenNotMatchedInsertAll()
       .withSchemaEvolution()
       .execute())
    out = dt.toDF()
    assert "o_channel" in out.columns
    n_new = src.join(orders.limit(100), "o_orderkey", "left_anti").count()
    assert out.count() == 100 + n_new
    # rows from the source carry the new column; untouched rows are null
    assert out.filter("o_channel IS NOT NULL").count() == src.count()
    # without evolution, `*` expands to TARGET columns only: extra
    # source columns are ignored (ResolveDeltaMergeInto star semantics)
    before_cols = set(dt.toDF().columns)
    src2 = src.withColumn("o_extra", F.lit(1)) \
        .withColumn("o_orderkey", F.col("o_orderkey") + 90_000_000)
    (dt.merge(src2, "target.o_orderkey = source.o_orderkey")
       .whenNotMatchedInsertAll().execute())
    assert set(dt.toDF().columns) == before_cols  # no o_extra


def test_deletion_vectors_partitioned(spark, tmp_table, sf_dir):
    """Partitioned DV delete: DV row-index sets must key on full file
    paths — part-file basenames collide across partition dirs
    (regression: basename keys over-deleted sibling partitions)."""
    df = _li(spark, sf_dir).limit(300)
    write_delta(df, tmp_table, partition_by=["l_returnflag"],
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    want = df.filter("NOT coalesce(l_quantity > 40, false)").count()
    assert dt.toDF().count() == want
    per_flag = {r["l_returnflag"]: r["n"] for r in
                dt.toDF().groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()}
    truth = {r["l_returnflag"]: r["n"] for r in
             df.filter("NOT coalesce(l_quantity > 40, false)")
             .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_flag == truth


def test_row_tracking_partitioned(spark, tmp_table, sf_dir):
    from delta_spark.reader import read_with_row_ids

    df = _li(spark, sf_dir).limit(200)
    write_delta(df, tmp_table, partition_by=["l_returnflag"],
                configuration={"delta.enableRowTracking": "true"})
    snap = DeltaLog.for_table(tmp_table).update()
    ids = [r["_row_id"] for r in read_with_row_ids(spark, snap).select("_row_id").collect()]
    assert len(ids) == 200 and len(set(ids)) == 200


def test_cdf_replace_where_exact_changes(spark, tmp_table, sf_dir):
    """replaceWhere commits carry complete CDC files: copied rows of
    rewritten files must NOT appear as changes (regression: add/remove
    synthesis over-reported the whole rewritten file)."""
    li = _li(spark, sf_dir).limit(300)
    write_delta(li, tmp_table, configuration={"delta.enableChangeDataFeed": "true"})
    repl = li.filter("l_quantity > 40").withColumn("l_extendedprice", F.lit(1.0))
    write_delta(repl, tmp_table, mode="overwrite", replace_where="l_quantity > 40")
    ch = DeltaTable.forPath(spark, tmp_table).table_changes(starting_version=1)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    true_changes = li.filter("l_quantity > 40").count()
    assert counts == {"delete": true_changes, "insert": true_changes}


def test_clone_and_restore_preserve_deletion_vectors(spark, tmp_table, tmp_path, sf_dir):
    """Shallow clones and restores must carry DV descriptors — dropping
    them silently resurrects deleted rows."""
    li = _li(spark, sf_dir).limit(300)
    write_delta(li, tmp_table, configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    want = dt.toDF().count()
    clone = dt.clone(str(tmp_path / "dvclone"), isShallow=True)
    assert clone.toDF().count() == want
    # restore back onto the DV version after an overwrite removed it
    write_delta(li.limit(5), tmp_table, mode="overwrite")
    dt.restoreToVersion(1)
    assert dt.toDF().count() == want


def test_update_and_merge_on_dv_table(spark, tmp_table, sf_dir):
    """UPDATE/MERGE on tables carrying deletion vectors: touched-file
    discovery must capture file keys before the DV anti-join
    (regression: input_file_name() after a join is rejected), and
    masked rows must not resurrect through the rewrite."""
    li = _li(spark, sf_dir).limit(300)
    write_delta(li, tmp_table, configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    n = dt.toDF().count()
    dt.update({"l_tax": "l_tax + CAST(1.0 AS DOUBLE)"}, "l_quantity < 5")
    assert dt.toDF().count() == n
    assert dt.toDF().filter("l_quantity > 40").count() == 0
    src = li.limit(50).withColumn("l_quantity", F.lit(7.0))
    (dt.merge(src, "target.l_orderkey = source.l_orderkey AND "
                   "target.l_linenumber = source.l_linenumber AND "
                   "target.l_partkey = source.l_partkey")
       .whenMatchedUpdate({"l_quantity": "source.l_quantity"})
       .execute())
    assert dt.toDF().filter("l_quantity > 40").count() == 0
    assert dt.toDF().count() == n
    # compaction on the DV table materializes without changing contents
    dt.optimize().executeCompaction()
    assert dt.toDF().count() == n


def test_max_records_per_file(spark, tmp_table, sf_dir):
    """DeltaOptions maxRecordsPerFile: per-write row cap per data file."""
    from delta_spark.datasets import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(1000).coalesce(1)
    write_delta(li, tmp_table, max_records_per_file=200)
    snap = DeltaLog.for_table(tmp_table).update()
    assert snap.num_files >= 5
    import json as _json
    for f in snap.all_files:
        assert _json.loads(f.stats)["numRecords"] <= 200
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 1000


def test_merge_cardinality_violation(spark, tmp_table):
    """A target row matched by multiple source rows with an UPDATE/
    DELETE clause must raise (MergeIntoCommandBase cardinality check);
    insert-only duplicate sources are fine — both rows insert."""
    write_delta(spark.createDataFrame([(1, "t")], "k long, v string"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dup = spark.createDataFrame([(1, "s1"), (1, "s2")], "k long, v string")
    with pytest.raises(Exception, match="multiple source rows"):
        (dt.merge(dup, "target.k = source.k")
           .whenMatchedUpdate(set={"v": "source.v"}).execute())
    assert dt.toDF().count() == 1  # failed merge left no partial write
    ins = spark.createDataFrame([(2, "x"), (2, "y")], "k long, v string")
    (dt.merge(ins, "target.k = source.k").whenNotMatchedInsertAll().execute())
    assert dt.toDF().count() == 3


def test_merge_operation_metrics_exact(spark, tmp_table):
    """Copy-on-write MERGE with update (a nested SET), delete and insert
    clauses records exact row and file counts in commitInfo."""
    write_delta(spark.sql(
        "SELECT id, named_struct('x', id, 'y', 'a') AS s FROM range(1, 7)"
    ).coalesce(1), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT * FROM VALUES (1L, 'u', 50), (2L, 'd', 0), "
                    "(9L, 'i', 90) AS v(id, op, nv)")
    (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
       .whenMatchedUpdate(condition="s.op = 'u'", set={"t.s.x": "s.nv"})
       .whenMatchedDelete(condition="s.op = 'd'")
       .whenNotMatchedInsert(values={"id": "s.id",
                                     "s": "named_struct('x', s.nv, 'y', 'i')"})
       .execute())
    h = dt.history().collect()[0]
    assert h["operation"] == "MERGE"
    assert h["operationMetrics"] == {
        "numTargetRowsUpdated": "1",
        "numTargetRowsDeleted": "1",
        "numTargetRowsInserted": "1",
        "numTargetRowsCopied": "4",
        "numTargetFilesAdded": "1",
        "numTargetFilesRemoved": "1",
    }
    assert sorted((r["id"], r["s"]["x"]) for r in dt.toDF().collect()) == [
        (1, 50), (3, 3), (4, 4), (5, 5), (6, 6), (9, 90)]


def test_append_with_missing_nullable_columns(spark, tmp_table):
    """Appends may omit nullable table columns (ImplicitMetadataOperation:
    mergeSchemas(table, subset) == table schema, so the write proceeds and
    readers null-fill); missing NOT NULL columns still error."""
    write_delta(spark.createDataFrame([(1, "x")], "a long, b string"), tmp_table)
    write_delta(spark.createDataFrame([(2,)], "a long"), tmp_table, mode="append")
    rows = sorted([tuple(r) for r in
                   DeltaTable.forPath(spark, tmp_table).toDF().collect()])
    assert rows == [(1, "x"), (2, None)]
    # NOT NULL column cannot be omitted
    p2 = tmp_table + "_nn"
    import pyspark.sql.types as T
    nn = T.StructType([T.StructField("a", T.LongType(), False),
                       T.StructField("b", T.StringType(), False)])
    df = spark.createDataFrame([(1, "x")], schema=nn)
    write_delta(df, p2)
    with pytest.raises(Exception, match="b"):
        write_delta(spark.createDataFrame([(2,)], "a long"), p2, mode="append")


def test_time_travel_future_timestamp_strict(spark, tmp_table):
    """TIMESTAMP AS OF past the latest commit errors for READS
    (DeltaHistoryManager canReturnLastCommit=false /
    timestampGreaterThanLatestCommit) — a silent read of latest would
    not be a stable result. RESTORE stays lenient."""
    write_delta(spark.range(3).withColumnRenamed("id", "a"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    with pytest.raises(ValueError, match="after the latest version"):
        dt.asOfTimestamp("2035-01-01 00:00:00").count()
    from delta_spark.sql import delta_sql
    with pytest.raises(ValueError, match="after the latest version"):
        delta_sql(spark,
                  f"SELECT * FROM delta.`{tmp_table}` "
                  f"TIMESTAMP AS OF '2035-01-01 00:00:00'").count()
    # lenient: RESTORE to a future timestamp restores to latest
    dt.restoreToTimestamp("2035-01-01 00:00:00")
    assert dt.toDF().count() == 3


def test_replace_on_and_replace_using(spark, tmp_table):
    """replaceOn/replaceUsing overwrites (WriteIntoDelta:239,
    DeltaInsertReplaceOnOrUsingCommand): delete EXACTLY the target rows
    matching ANY inserted row, append all new rows, one atomic commit.
    Unlike MERGE, duplicate source matches are legal and every source
    row is inserted."""
    write_delta(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"),
        tmp_table, configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)

    new = spark.createDataFrame([(2, "B", 99), (5, "E", 50)],
                                "k long, s string, v long")
    write_delta(new, tmp_table, mode="overwrite", replace_using=["k"])
    assert sorted(tuple(r) for r in dt.toDF().collect()) == \
        [(1, "a", 10), (2, "B", 99), (3, "c", 30), (5, "E", 50)]
    # one atomic commit with the expected CDF rows
    ch = dt.table_changes(starting_version=1, ending_version=1)
    counts = {r["_change_type"]: r["count"]
              for r in ch.groupBy("_change_type").count().collect()}
    assert counts == {"delete": 1, "insert": 2}

    # duplicate source matches: both rows insert, matched target deleted
    dup = spark.createDataFrame([(3, "z1", 1), (3, "z2", 2)],
                                "k long, s string, v long")
    write_delta(dup, tmp_table, mode="overwrite", replace_using=["k"])
    assert dt.toDF().filter("k = 3").count() == 2

    # replaceOn with a target alias and a target-only condition
    src = spark.createDataFrame([(9, "n", 0)], "k long, s string, v long")
    write_delta(src, tmp_table, mode="overwrite",
                replace_on="t.v < 5", target_alias="t")
    assert dt.toDF().filter("v < 5").count() == 1  # only the new row
    assert dt.toDF().filter("k = 9").count() == 1

    # criteria are mutually exclusive
    with pytest.raises(ValueError, match="cannot be specified"):
        write_delta(src, tmp_table, mode="overwrite",
                    replace_using=["k"], replace_where="k > 0")
    with pytest.raises(ValueError, match="must exist in both"):
        write_delta(src, tmp_table, mode="overwrite", replace_using=["zz"])


def test_replace_using_sees_generated_columns(spark, tmp_table):
    """replaceUsing matches against the rows ACTUALLY inserted —
    generated columns computed by the write path participate."""
    from delta_spark.table import DeltaTable as DT

    (DT.create(spark).location(tmp_table)
     .addColumn("k", "bigint")
     .addColumn("ts", "timestamp")
     .addColumn("year", "int", generatedAlwaysAs="year(ts)")
     .execute())
    write_delta(spark.createDataFrame(
        [(1, __import__("datetime").datetime(2023, 5, 1)),
         (2, __import__("datetime").datetime(2024, 5, 1))], "k long, ts timestamp"),
        tmp_table, mode="append")
    # new data for 2024 only — replaces the 2024 row, keeps 2023
    write_delta(spark.createDataFrame(
        [(9, __import__("datetime").datetime(2024, 1, 1))], "k long, ts timestamp"),
        tmp_table, mode="overwrite", replace_using=["year"])
    rows = sorted((r["k"], r["year"]) for r in
                  DeltaTable.forPath(spark, tmp_table).toDF().collect())
    assert rows == [(1, 2023), (9, 2024)]
    # replaceOn + dataChange=false is rejected
    with pytest.raises(Exception, match="dataChange=false"):
        write_delta(spark.createDataFrame(
            [(3, __import__("datetime").datetime(2024, 2, 2))], "k long, ts timestamp"),
            tmp_table, mode="overwrite", replace_using=["year"],
            data_change=False)


def test_write_option_combinations_and_compression(spark, tmp_table):
    """DeltaOptionSuite semantics: replaceWhere/overwriteSchema conflict
    with dynamic partition overwrite (WriteIntoDelta.scala:210,223), the
    mode value is validated, and a per-write parquet codec is honored."""
    import glob

    df = spark.range(10).selectExpr("id AS k", "id % 2 AS part")
    with pytest.raises(ValueError, match="overwriteSchema.*dynamic"):
        write_delta(df, tmp_table, mode="overwrite", partition_by=["part"],
                    partition_overwrite_mode="dynamic", overwrite_schema=True)
    with pytest.raises(ValueError, match="replaceWhere.*dynamic"):
        write_delta(df, tmp_table, mode="overwrite",
                    replace_where="part = 0",
                    partition_overwrite_mode="dynamic")
    with pytest.raises(ValueError, match="partitionOverwriteMode"):
        write_delta(df, tmp_table, partition_overwrite_mode="bogus")
    write_delta(df, tmp_table, compression="zstd")
    files = glob.glob(tmp_table + "/**/*.parquet", recursive=True)
    assert files and all("zstd" in f for f in files)
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 10


def test_replace_where_rejects_subquery(spark, tmp_table):
    """DeltaSuite 'replaceWhere blocks subquery': a subquery can
    evaluate differently between the validation and delete scans."""
    df = spark.range(10).selectExpr("id AS a", "id % 2 AS part")
    write_delta(df, tmp_table, partition_by=["part"])
    with pytest.raises(ValueError, match="[Ss]ubquer"):
        write_delta(df.filter("part = 0"), tmp_table, mode="overwrite",
                    replace_where="part IN (SELECT 0)")
    # rearrangeOnly replaceWhere stays allowed (dataChange=false)
    write_delta(df.filter("part = 0"), tmp_table, mode="overwrite",
                replace_where="part = 0", data_change=False)
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 10


def test_cdf_coalesced_walk_collision_and_mixed_kinds(spark, tmp_table):
    """Round-9 coalesced CDF walk: contiguous same-schema versions read
    as ONE scan per leg kind with version/timestamp joined back per
    file. Pins the two hazards of that design: (a) a path that is
    re-added inside the range (RESTORE) must not be stamped ambiguously
    — the group flushes on the key collision; (b) interleaved cdc-file
    commits and synthesized add/remove commits keep per-version
    attribution exact."""
    spark.sql("SELECT 1 AS id, 'a' AS v UNION ALL SELECT 2, 'b'") \
        .createOrReplaceTempView("src0")
    write_delta(spark.table("src0").coalesce(1), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    write_delta(spark.sql("SELECT 3 AS id, 'c' AS v").coalesce(1),
                tmp_table, mode="append")                 # v1: insert
    dt.delete("id = 3")                                   # v2: cdc delete
    dt.restoreToVersion(1)                                # v3: re-adds v2's victim
    ch = dt.table_changes(starting_version=0, ending_version=3)
    got = {(r["id"], r["_change_type"], r["_commit_version"])
           for r in ch.collect()}
    want = {(1, "insert", 0), (2, "insert", 0),
            (3, "insert", 1),
            (3, "delete", 2),
            (3, "insert", 3)}
    assert got == want
    # timestamps are per-version (joined, not per-leg constants)
    ts = {r["_commit_version"]: r["_commit_timestamp"] for r in ch.collect()}
    assert len(ts) == 4 and all(ts[v] is not None for v in ts)
    assert ts[0] <= ts[1] <= ts[2] <= ts[3]

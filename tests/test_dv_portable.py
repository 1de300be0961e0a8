"""End-to-end protocol-format (RoaringBitmapArray) deletion vectors:
DELETE writes deletion_vector_<uuid>.bin blobs with 'u' descriptors;
reads, second-delete union, checkpoint replay, CLONE and VACUUM all
understand them. Mirrors tests/test_core.py's native-'q' coverage."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from delta_spark import DeltaLog, DeltaTable, write_delta
from delta_spark import dv as dvmod

CONF = {"delta.enableDeletionVectors": "true",
        "delta_spark.dv.portable": "true"}


@pytest.fixture(params=["driver", "executor"])
def dv_decode_side(request, monkeypatch):
    """Run the test with deletion vectors decoded on the driver (the
    default below the bound) and, with the bound at 0, on executors."""
    if request.param == "executor":
        import delta_spark.reader as R

        monkeypatch.setattr(R, "DV_DRIVER_DECODE_MAX_ROWS", 0)
    return request.param


def _li(spark, sf_dir):
    from delta_spark.datasets import load_table

    return load_table(spark, sf_dir, "lineitem").limit(600)


def test_portable_dv_delete_and_read(spark, tmp_table, sf_dir, dv_decode_side):
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table, configuration=CONF)
    dt = DeltaTable.forPath(spark, tmp_table)
    before = {f.path for f in DeltaLog.for_table(tmp_table).update().all_files}
    dt.delete("l_quantity > 40")
    snap = DeltaLog.for_table(tmp_table).update()
    assert {f.path for f in snap.all_files} == before  # no rewrite
    descs = [f.deletionVector for f in snap.all_files if f.deletionVector]
    assert descs and all(d["storageType"] == "u" for d in descs)
    bins = glob.glob(os.path.join(tmp_table, "deletion_vector_*.bin"))
    assert len(bins) == 1
    # blob round-trips through the codec with the descriptor's range
    d0 = descs[0]
    blob = dvmod.read_dv_blob(dvmod.absolute_dv_path(tmp_table, d0),
                              int(d0["offset"]), int(d0["sizeInBytes"]))
    assert dvmod.deserialize_rbm_array(blob).size == d0["cardinality"]

    want1 = df.filter("NOT coalesce(l_quantity > 40, false)")
    assert dt.toDF().count() == want1.count()
    assert dt.toDF().filter("l_quantity > 40").count() == 0

    # second delete unions the previous DV into a fresh blob
    dt.delete("l_discount > 0.08")
    want2 = want1.filter("NOT coalesce(l_discount > 0.08, false)")
    assert dt.toDF().count() == want2.count()
    assert dt.asOfVersion(1).count() == want1.count()  # time travel intact
    got = dt.toDF().agg(F.sum("l_quantity")).collect()[0][0]
    assert got == pytest.approx(want2.agg(F.sum("l_quantity")).collect()[0][0])

    # purge materializes back to plain files
    dt.reorgPurge()
    snap3 = DeltaLog.for_table(tmp_table).update()
    assert not any(f.deletionVector for f in snap3.all_files)
    assert dt.toDF().count() == want2.count()


def test_portable_dv_checkpoint_replay(spark, tmp_table, sf_dir):
    df = _li(spark, sf_dir).limit(300)
    write_delta(df, tmp_table, configuration=CONF)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint()
    DeltaLog.clear_cache()
    snap = DeltaLog.for_table(tmp_table).update()
    descs = [f.deletionVector for f in snap.all_files if f.deletionVector]
    assert descs and all(d["storageType"] == "u" for d in descs)
    assert all(d.get("offset") is not None for d in descs)
    want = df.filter("NOT coalesce(l_quantity > 40, false)").count()
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == want


def test_portable_dv_clone_and_vacuum(spark, tmp_table, tmp_path, sf_dir, dv_decode_side):
    df = _li(spark, sf_dir).limit(400)
    write_delta(df, tmp_table, configuration=CONF)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    want = dt.toDF().count()

    # shallow clone rewrites 'u' descriptors to absolute-path 'p'
    dst = str(tmp_path / "clone_dst")
    dt.clone(dst, isShallow=True)
    csnap = DeltaLog.for_table(dst).update()
    cdescs = [f.deletionVector for f in csnap.all_files if f.deletionVector]
    assert cdescs and all(d["storageType"] == "p" for d in cdescs)
    assert DeltaTable.forPath(spark, dst).toDF().count() == want

    # vacuum(0): the live blob (referenced by the current snapshot)
    # survives; a second delete makes the first blob stale + reclaimable
    dt.vacuum(0)
    assert len(glob.glob(os.path.join(tmp_table, "deletion_vector_*.bin"))) == 1
    assert dt.toDF().count() == want
    dt.delete("l_discount > 0.08")
    assert len(glob.glob(os.path.join(tmp_table, "deletion_vector_*.bin"))) == 2
    want2 = dt.toDF().count()
    dt.vacuum(0)
    assert len(glob.glob(os.path.join(tmp_table, "deletion_vector_*.bin"))) == 1
    assert dt.toDF().count() == want2


def test_inline_dv_descriptor_read(spark, tmp_table, sf_dir, dv_decode_side):
    """Engine reads 'i' (inline z85) descriptors — written here by
    hand-editing the log, as a reader-compatibility check."""
    df = _li(spark, sf_dir).limit(100).coalesce(1)
    write_delta(df, tmp_table, configuration=CONF)
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    (f,) = snap.all_files
    from delta_spark.transaction import OptimisticTransaction
    from delta_spark.actions import AddFile

    inline = dvmod.inline_descriptor([0, 1, 2])
    txn = OptimisticTransaction(log)
    txn.commit([AddFile(path=f.path, partitionValues=f.partitionValues,
                        size=f.size, modificationTime=f.modificationTime,
                        dataChange=True, stats=f.stats, deletionVector=inline)],
               "DELETE", {}, {})
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == df.count() - 3


def test_corrupt_dv_blob_fails_read(spark, tmp_table, sf_dir, dv_decode_side):
    """A flipped byte inside a deletion_vector_*.bin blob fails the
    read with the checksum error, whichever side decodes it."""
    write_delta(_li(spark, sf_dir).limit(200), tmp_table, configuration=CONF)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    snap = DeltaLog.for_table(tmp_table).update()
    d0 = next(f.deletionVector for f in snap.all_files if f.deletionVector)
    path = dvmod.absolute_dv_path(tmp_table, d0)
    with open(path, "r+b") as fh:
        pos = int(d0["offset"]) + 4 + 5   # inside the data, past the size
        fh.seek(pos)
        b = fh.read(1)
        fh.seek(pos)
        fh.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="DV checksum mismatch"):
        dt.toDF().count()


def test_max_row_index_validation(spark, tmp_table, sf_dir):
    """maxRowIndex guard (actions.scala:956-963): a DV claiming a row
    index beyond the file's record count fails the command; valid DVs
    never serialize maxRowIndex into the log."""
    import json

    df = _li(spark, sf_dir).limit(50).coalesce(1)
    write_delta(df, tmp_table, configuration=CONF)
    dt = DeltaTable.forPath(spark, tmp_table)
    # corrupt the file's recorded stats so every DV row index looks
    # out of range, then a DV delete must refuse to commit
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    (f,) = snap.all_files
    from delta_spark.actions import AddFile
    from delta_spark.transaction import OptimisticTransaction

    bad_stats = json.dumps({**json.loads(f.stats), "numRecords": 1})
    txn = OptimisticTransaction(log)
    txn.commit([AddFile(path=f.path, partitionValues=f.partitionValues,
                        size=f.size, modificationTime=f.modificationTime,
                        dataChange=False, stats=bad_stats)],
               "COMPUTE STATS", {}, {})
    with pytest.raises(ValueError, match="invalid row index"):
        dt.delete("l_linenumber >= 2")

    # restore truthful stats: delete succeeds and the logged descriptor
    # carries no maxRowIndex field
    txn = OptimisticTransaction(log)
    txn.commit([AddFile(path=f.path, partitionValues=f.partitionValues,
                        size=f.size, modificationTime=f.modificationTime,
                        dataChange=False, stats=f.stats)],
               "COMPUTE STATS", {}, {})
    dt.delete("l_linenumber >= 2")
    with open(log.commit_file(log.update().version)) as fh:
        for line in fh:
            d = json.loads(line)
            if "add" in d and d["add"].get("deletionVector"):
                assert "maxRowIndex" not in d["add"]["deletionVector"]


def test_default_dv_encoding_is_portable(spark, tmp_table, sf_dir):
    """With only delta.enableDeletionVectors=true (no portable flag),
    DELETE must write protocol-valid descriptors (storageType u/i/p)
    and declare the standard deletionVectors feature."""
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    snap = DeltaLog.for_table(tmp_table).update()
    descs = [f.deletionVector for f in snap.all_files if f.deletionVector]
    assert descs and all(d["storageType"] in ("u", "i", "p") for d in descs)
    assert "deletionVectors" in (snap.protocol.readerFeatures or [])
    assert dt.toDF().filter("l_quantity > 40").count() == 0


def test_legacy_q_encoding_is_opt_out_with_nonstandard_feature(spark, tmp_table, sf_dir):
    """delta_spark.dv.portable=false keeps the parquet-sidecar 'q'
    encoding but must NOT declare the standard deletionVectors feature
    (external readers fail closed on the non-standard name instead of
    misreading 'q' descriptors)."""
    df = _li(spark, sf_dir)
    write_delta(df, tmp_table,
                configuration={"delta.enableDeletionVectors": "true",
                               "delta_spark.dv.portable": "false"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    snap = DeltaLog.for_table(tmp_table).update()
    descs = [f.deletionVector for f in snap.all_files if f.deletionVector]
    assert descs and all(d["storageType"] == "q" for d in descs)
    rf = snap.protocol.readerFeatures or []
    assert "deletionVectors" not in rf
    assert "delta-spark.dvParquetSidecar" in rf
    assert dt.toDF().filter("l_quantity > 40").count() == 0


def test_dv_serialize_dedupes_overlapping_positions(spark, tmp_table):
    """r10: the portable DV path no longer runs a distinct() exchange
    before the per-file bitmap job — the bitmap is a set, and the
    descriptor's cardinality/maxRowIndex must describe the SET even if
    the position frame carries duplicates (matched ∪ previous-DV
    overlap is the case the old distinct guarded)."""
    from delta_spark.commands.delete import mask_rows_with_dvs
    from delta_spark.transaction import dml_transaction

    write_delta(spark.range(0, 1000).selectExpr("id AS k"), tmp_table,
                configuration=CONF)
    log = DeltaLog.for_table(tmp_table)
    txn = dml_transaction(spark, log)
    snap = txn.snapshot
    f = snap.all_files[0]
    from delta_spark.reader import file_key_of
    base = file_key_of(snap.table_path, f)
    # rows 0..9 of the first file, each listed TWICE
    pos = spark.createDataFrame(
        [(base, i) for i in range(10)] * 2, "file_base string, row_index long")
    adds, removes, newly = mask_rows_with_dvs(spark, txn, [f], pos)
    assert newly == 10                      # set size, not row count
    dv_adds = [a for a in adds if a.deletionVector]
    assert dv_adds and dv_adds[0].deletionVector["cardinality"] == 10
    d0 = dv_adds[0].deletionVector
    blob = dvmod.read_dv_blob(dvmod.absolute_dv_path(tmp_table, d0),
                              int(d0["offset"]), int(d0["sizeInBytes"]))
    got = dvmod.deserialize_rbm_array(blob)
    assert list(got) == list(range(10))

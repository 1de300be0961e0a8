"""Distributed snapshot state reconstruction (DeltaLog.state_df) and
distributed stats pruning (files_for_scan_df) — parity with the
driver-side python replay/pruning (reference Snapshot.scala:598
stateReconstruction, DataSkippingReader.scala:656)."""

import json
import os
import time as _time

import pytest

from delta_spark.actions import DomainMetadata, SetTransaction
from delta_spark.datasets import load_table
from delta_spark.io import write_delta
from delta_spark.log import DeltaLog
from delta_spark.transaction import OptimisticTransaction
from delta_spark.util import current_time_millis

_SCHEMA = json.dumps({
    "type": "struct",
    "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]})


def _commit(log_dir: str, v: int, lines: list[dict]) -> None:
    with open(os.path.join(log_dir, "%020d.json" % v), "w") as f:
        f.write("\n".join(json.dumps(x) for x in lines))


def _synth_log(base: str, n_batches: int = 40, adds_per: int = 50):
    """Log-only table: thousands of AddFiles, periodic removes, no
    parquet data (replay never opens data files)."""
    ld = os.path.join(base, "_delta_log")
    os.makedirs(ld)
    _commit(ld, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "synth", "format": {"provider": "parquet", "options": {}},
                      "schemaString": _SCHEMA, "partitionColumns": ["p"],
                      "configuration": {}, "createdTime": 1}},
    ])
    v = 1
    for b in range(n_batches):
        lines = [{"add": {"path": f"p={b % 5}/f_{b}_{i}.parquet",
                          "partitionValues": {"p": str(b % 5)},
                          "size": 100 + i, "modificationTime": 1000 + v,
                          "dataChange": True,
                          "stats": json.dumps({"numRecords": i + 1})}}
                 for i in range(adds_per)]
        if b > 0 and b % 7 == 0:
            # tombstone an earlier file
            # recent timestamp: checkpoint writers expire tombstones
            # older than deletedFileRetentionDuration, and this fixture
            # asserts reconciliation parity, not retention
            lines.append({"remove": {"path": f"p={(b - 1) % 5}/f_{b - 1}_0.parquet",
                                     "deletionTimestamp": int(_time.time() * 1000),
                                     "dataChange": True}})
        _commit(ld, v, lines)
        v += 1
    return ld, v


def _key_set(files):
    return {(f.path, f.size, tuple(sorted((f.partitionValues or {}).items())))
            for f in files}


def test_distributed_state_reconstruction_parity(spark, tmp_path):
    base = str(tmp_path / "synth")
    os.makedirs(base)
    ld, v = _synth_log(base)
    log = DeltaLog.for_table(base)
    snap = log.update()
    want = _key_set(snap.all_files)
    assert len(want) == 40 * 50 - 5  # 5 tombstoned

    rows = log.state_df(spark).collect()
    got = {(r.path, r.size, tuple(sorted((r.partitionValues or {}).items())))
           for r in rows}
    assert len(rows) == len(got) == len(want)
    assert got == want


def test_distributed_replay_across_checkpoint(spark, tmp_path):
    """Checkpoint parquet + later commit JSONs reconcile together; a
    post-checkpoint remove kills a checkpointed add, and a DV-carrying
    re-add supersedes its predecessor."""
    base = str(tmp_path / "synth2")
    os.makedirs(base)
    ld, v = _synth_log(base, n_batches=10, adds_per=20)
    log = DeltaLog.for_table(base)
    log.write_checkpoint(log.update())
    # post-checkpoint commits: new adds, a remove of a checkpointed
    # file, and a DV re-add of another
    _commit(ld, v, [
        {"add": {"path": "p=0/late_0.parquet", "partitionValues": {"p": "0"},
                 "size": 7, "modificationTime": 99, "dataChange": True}},
        {"remove": {"path": "p=0/f_0_0.parquet", "deletionTimestamp": 9,
                    "dataChange": True}},
    ])
    _commit(ld, v + 1, [
        {"remove": {"path": "p=0/f_0_1.parquet", "deletionTimestamp": 9,
                    "dataChange": True}},
        {"add": {"path": "p=0/f_0_1.parquet", "partitionValues": {"p": "0"},
                 "size": 101, "modificationTime": 1001, "dataChange": True,
                 "deletionVector": {"storageType": "u", "pathOrInlineDv": "ab12",
                                    "offset": 1, "sizeInBytes": 40,
                                    "cardinality": 3}}},
    ])
    DeltaLog.clear_cache()
    log = DeltaLog.for_table(base)
    snap = log.update()
    want = _key_set(snap.all_files)
    df = log.state_df(spark)
    rows = df.collect()
    got = {(r.path, r.size, tuple(sorted((r.partitionValues or {}).items())))
           for r in rows}
    assert got == want
    assert "p=0/f_0_0.parquet" not in {r.path for r in rows}
    dvrow = [r for r in rows if r.path == "p=0/f_0_1.parquet"]
    assert len(dvrow) == 1 and dvrow[0].size == 101
    dv = json.loads(dvrow[0].deletionVector)
    assert dv["storageType"] == "u" and dv["cardinality"] == 3
    # stats survive as JSON strings (the skipping-reader contract)
    stats = [r.stats for r in rows if r.path == "p=1/f_1_3.parquet"]
    assert stats and json.loads(stats[0])["numRecords"] == 4


def test_checkpoint_only_plan_has_no_shuffle(spark, tmp_path):
    """A checkpoint is reconciled by construction (PROTOCOL.md Action
    Reconciliation: add paths are unique), so planning a scan with no
    commit tail must not shuffle the file state — and with a tail, the
    checkpoint side must join broadcast, not exchange. This is the
    invariant that keeps 10⁶-file planning map-only."""
    base = str(tmp_path / "synth3")
    os.makedirs(base)
    ld, v = _synth_log(base, n_batches=10, adds_per=20)
    log = DeltaLog.for_table(base)
    log.write_checkpoint(log.update())

    plan = log.state_df(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan

    # with a commit tail, only the (small) tail hits an exchange; the
    # checkpoint side stays on a broadcast join
    _commit(ld, v, [{"add": {"path": "p=0/late.parquet",
                             "partitionValues": {"p": "0"}, "size": 1,
                             "modificationTime": 1, "dataChange": True}}])
    DeltaLog.clear_cache()
    log = DeltaLog.for_table(base)
    plan = log.state_df(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # every Exchange in the plan feeds the tail (its reconcile window +
    # the distinct over touched paths), never the checkpoint scan —
    # cheap proxy: at most those two hashpartitionings, and the
    # checkpoint parquet files never appear under a shuffle (only one
    # Window operator exists and it reads the commit JSONs)
    assert plan.count("hashpartitioning") <= 2


def test_oversized_tail_falls_back_to_window(spark, tmp_path):
    """When the post-checkpoint commit tail is too big to broadcast
    (stalled checkpointing), state_df degrades to the union+window
    shuffle — same live set, no broadcast of the touched paths."""
    base = str(tmp_path / "synth4")
    os.makedirs(base)
    ld, v = _synth_log(base, n_batches=6, adds_per=10)
    log = DeltaLog.for_table(base)
    log.write_checkpoint(log.update())
    _commit(ld, v, [
        {"add": {"path": "p=0/late.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"remove": {"path": "p=0/f_0_0.parquet", "deletionTimestamp": 9,
                    "dataChange": True}},
    ])
    DeltaLog.clear_cache()
    log = DeltaLog.for_table(base)
    want = _key_set(log.update().all_files)
    spark.conf.set("delta_spark.scan.tailBroadcastMaxBytes", "1")
    try:
        df = log.state_df(spark)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        got = {(r.path, r.size,
                tuple(sorted((r.partitionValues or {}).items())))
               for r in df.collect()}
        assert got == want
    finally:
        spark.conf.unset("delta_spark.scan.tailBroadcastMaxBytes")


PRUNING_PREDICATES = [
    "l_quantity < 5",
    "l_quantity >= 45",
    "l_returnflag = 'A'",                               # partition eq
    "l_returnflag = 'A' AND l_quantity > 30",           # mixed
    "l_returnflag IN ('A', 'N')",
    "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'",
    "l_linestatus LIKE 'F%'",
    "l_quantity IS NOT NULL",
    "l_quantity != 25",
    "l_quantity < 5 OR l_returnflag = 'R'",
    "l_quantity < -1",                                  # prunes everything
    "l_quantity + 1 < 5",                               # unsupported → all
]


def test_files_for_scan_df_parity(spark, tmp_table, sf_dir):
    """Distributed pruning must keep exactly the same files as the
    python per-file loop across the supported predicate surface."""
    li = load_table(spark, sf_dir, "lineitem").repartition(8)
    write_delta(li, tmp_table, partition_by=["l_returnflag"])
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    for pred in PRUNING_PREDICATES:
        want = {f.path for f in snap.files_for_scan(pred)}
        got = {r.path for r in log.files_for_scan_df(spark, pred).collect()}
        assert got == want, f"parity broken for {pred!r}"
    assert {r.path for r in log.files_for_scan_df(spark).collect()} == \
        {f.path for f in snap.all_files}


def test_files_for_scan_df_limit(spark, tmp_table, sf_dir):
    """LIMIT pushdown: the chosen file prefix covers the limit and is
    minimal (dropping its last file would fall short)."""
    import json as _json

    li = load_table(spark, sf_dir, "lineitem").repartition(12)
    write_delta(li, tmp_table)
    log = DeltaLog.for_table(tmp_table)
    total_files = len(log.update().all_files)
    rows = log.files_for_scan_df(spark, limit=500) \
        .orderBy("version", "path").collect()
    assert 0 < len(rows) < total_files
    counts = [_json.loads(r.stats)["numRecords"] for r in rows]
    assert sum(counts) >= 500
    assert sum(counts[:-1]) < 500  # minimal prefix
    # predicate + limit compose
    some = log.files_for_scan_df(spark, "l_quantity < 10", limit=100).collect()
    assert some and sum(_json.loads(r.stats)["numRecords"] for r in some) >= 100


def test_files_for_scan_df_generated_partition(spark, tmp_table, sf_dir):
    """Generated-partition derivation prunes in the distributed path
    too (predicate on the base column implies partition predicates)."""
    from delta_spark.table import DeltaTable as DT

    orders = load_table(spark, sf_dir, "orders")
    (DT.create(spark).location(tmp_table)
     .addColumns(orders.schema)
     .addColumn("o_year", "int", generatedAlwaysAs="year(o_orderdate)")
     .partitionedBy("o_year")
     .execute())
    write_delta(orders, tmp_table, mode="append")
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    pred = ("o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND "
            "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")
    want = {f.path for f in snap.files_for_scan(pred)}
    got = {r.path for r in log.files_for_scan_df(spark, pred).collect()}
    assert got == want
    assert len(got) < len(snap.all_files)  # actually pruned


# ------------------------------------------------- end-to-end planning ----

@pytest.fixture()
def force_distributed(spark):
    spark.conf.set("delta_spark.scan.distributedPlanning", "always")
    yield
    spark.conf.set("delta_spark.scan.distributedPlanning", "auto")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_distributed_scan_parity_partitioned(spark, tmp_table, sf_dir,
                                             force_distributed):
    """toDF routed through read_snapshot_distributed returns the exact
    rows of the replay path, with predicate and limit."""
    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").repartition(6)
    write_delta(li, tmp_table, partition_by=["l_returnflag"])
    dt = DeltaTable.forPath(spark, tmp_table)
    got = dt.toDF()
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    want = DeltaTable.forPath(spark, tmp_table).toDF()
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    spark.conf.set("delta_spark.scan.distributedPlanning", "always")
    got_p = dt.toDF("l_returnflag = 'A' AND l_quantity < 10")
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    want_p = dt.toDF("l_returnflag = 'A' AND l_quantity < 10")
    assert _rows(got_p) == _rows(want_p)
    spark.conf.set("delta_spark.scan.distributedPlanning", "always")
    assert dt.toDF(limit=37).count() == 37


def test_distributed_scan_parity_dv(spark, tmp_table, sf_dir,
                                    force_distributed):
    """DV-masked rows are dropped on the distributed path too (the
    descriptor JSON survives the DataFrame round trip)."""
    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    write_delta(li, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.setProperties({"delta.enableDeletionVectors": "true"})
    dt.delete("l_quantity > 30")
    got = dt.toDF()
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    want = DeltaTable.forPath(spark, tmp_table).toDF()
    assert _rows(got) == _rows(want)
    assert got.filter("l_quantity > 30").count() == 0


def test_distributed_scan_parity_column_mapping(spark, tmp_table, sf_dir,
                                                force_distributed):
    """Column mapping: physical-name indirection works from the
    metadata-only snapshot."""
    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(500)
    write_delta(li, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.enableColumnMapping()
    dt.renameColumn("l_quantity", "qty")
    got = dt.toDF("qty < 10")
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    want = DeltaTable.forPath(spark, tmp_table).toDF("qty < 10")
    assert "qty" in got.columns
    assert _rows(got) == _rows(want)


def test_light_snapshot_matches_full(spark, tmp_table, sf_dir):
    """light_snapshot agrees with the replayed snapshot on metadata,
    protocol, version and timestamp — across a checkpoint boundary —
    without loading any file state."""
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    write_delta(li, tmp_table)
    log = DeltaLog.for_table(tmp_table)
    for _ in range(12):  # cross the checkpoint interval
        write_delta(li.limit(10), tmp_table, mode="append")
    full = log.update()
    light = log.light_snapshot()
    assert light.version == full.version
    assert light.metadata.schemaString == full.metadata.schemaString
    assert light.metadata.configuration == full.metadata.configuration
    assert light.protocol.minWriterVersion == full.protocol.minWriterVersion
    assert light.timestamp == full.timestamp
    assert light.all_files == []  # file state intentionally unloaded
    assert log.checkpointed_action_count() is not None


def test_auto_threshold_routing(spark, tmp_table, sf_dir):
    """auto mode consults the _last_checkpoint size estimate."""
    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(100)
    write_delta(li, tmp_table)
    log = DeltaLog.for_table(tmp_table)
    for _ in range(11):
        write_delta(li.limit(5), tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    assert not dt._plan_distributed()  # tiny table stays on replay
    spark.conf.set("delta_spark.scan.distributedPlanningThreshold", "1")
    try:
        assert dt._plan_distributed()
        assert dt.toDF().count() == 100 + 11 * 5
    finally:
        spark.conf.set(
            "delta_spark.scan.distributedPlanningThreshold", "500000")


def test_distributed_dml_parity(spark, tmp_path, sf_dir, force_distributed):
    """DELETE / UPDATE / MERGE executed on distributed-planning
    transactions produce byte-identical tables to the replay path."""
    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(5000)
    paths = {}
    for arm in ("dist", "replay"):
        p = str(tmp_path / arm)
        spark.conf.set("delta_spark.scan.distributedPlanning", "never")
        write_delta(li, p, partition_by=["l_returnflag"])
        paths[arm] = p
    src = (li.limit(300)
           .dropDuplicates(["l_orderkey", "l_linenumber"])
           .selectExpr("l_orderkey", "l_linenumber",
                       "l_quantity * 2 AS new_qty")
           .localCheckpoint())  # freeze: limit() picks are not stable
    for arm, mode in (("dist", "always"), ("replay", "never")):
        spark.conf.set("delta_spark.scan.distributedPlanning", mode)
        DeltaLog.clear_cache()
        dt = DeltaTable.forPath(spark, paths[arm])
        dt.delete("l_quantity > 45")
        dt.update({"l_tax": "l_tax + CAST(0.5 AS DOUBLE)"},
                  "l_returnflag = 'A' AND l_quantity < 5")
        (dt.merge(src, "target.l_orderkey = source.l_orderkey AND "
                       "target.l_linenumber = source.l_linenumber")
         .whenMatchedUpdate({"l_quantity": "source.new_qty"})
         .execute())
        dt.optimize().executeCompaction(min_file_size=1 << 30)
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    DeltaLog.clear_cache()
    a = DeltaTable.forPath(spark, paths["dist"]).toDF()
    b = DeltaTable.forPath(spark, paths["replay"]).toDF()
    assert _rows(a) == _rows(b)


def test_distributed_dml_row_tracking(spark, tmp_table, sf_dir,
                                      force_distributed):
    """Row-tracking baseRowId survives the state_df round trip: the
    high watermark seen by a distributed-planning transaction matches
    the replayed one, so fresh ranges never collide."""
    from delta_spark.reader import read_with_row_ids
    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    write_delta(li, tmp_table,
                configuration={"delta.enableRowTracking": "true"})
    spark.conf.set("delta_spark.scan.distributedPlanning", "always")
    DeltaLog.clear_cache()
    write_delta(li.limit(200), tmp_table, mode="append")
    DeltaLog.clear_cache()
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    snap = DeltaLog.for_table(tmp_table).update()
    ids = read_with_row_ids(spark, snap).select("_row_id")
    assert ids.count() == 1200
    assert ids.distinct().count() == 1200  # no baseRowId collisions


def test_blind_append_never_loads_file_state(spark, tmp_table, sf_dir,
                                             force_distributed):
    """An append through the distributed route commits without ever
    hydrating the file state (the 100-TB streaming-ingest property)."""
    from delta_spark import transaction as txn_mod

    li = load_table(spark, sf_dir, "lineitem").limit(100)
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    write_delta(li, tmp_table)
    spark.conf.set("delta_spark.scan.distributedPlanning", "always")
    DeltaLog.clear_cache()
    created = []
    orig = txn_mod.OptimisticTransaction.__init__

    def spy(self, log, *a, **kw):
        orig(self, log, *a, **kw)
        created.append(self)

    txn_mod.OptimisticTransaction.__init__ = spy
    try:
        write_delta(li.limit(10), tmp_table, mode="append")
    finally:
        txn_mod.OptimisticTransaction.__init__ = orig
    assert created, "append did not go through a transaction"
    assert any(t.snapshot.files_unloaded for t in created), \
        "append hydrated the file state"


def test_incremental_checksum_parity(spark, tmp_table, sf_dir):
    """The per-version .crc is now computed incrementally from its
    predecessor; it must equal the full-snapshot aggregates after any
    mix of DML (protocol invariant: every replaced path gets a
    RemoveFile, so adds-minus-removes is exact)."""
    import json as _json

    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    write_delta(li, tmp_table, partition_by=["l_returnflag"])
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    write_delta(li.limit(100), tmp_table, mode="append")
    dt.update({"l_tax": "l_tax + CAST(0.1 AS DOUBLE)"}, "l_quantity < 3")
    dt.setProperties({"delta.enableDeletionVectors": "true"})
    dt.delete("l_quantity > 30")  # DV path: add(same path) + remove
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    with open(os.path.join(log.log_path, "%020d.crc" % snap.version)) as fh:
        crc = _json.load(fh)
    assert crc["numFiles"] == snap.num_files
    assert crc["tableSizeBytes"] == snap.size_in_bytes


def test_distributed_checkpoint_parity(spark, tmp_path, sf_dir):
    """write_checkpoint_distributed produces a checkpoint the python
    replay reads identically to the python-written one: same live set,
    same tombstones, same DV descriptors, same metadata — across a mix
    of appends, rewrites, DV deletes, and an earlier checkpoint."""
    import shutil as _shutil

    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(3000)
    a = str(tmp_path / "dist")
    write_delta(li, a, partition_by=["l_returnflag"],
                configuration={"delta.enableRowTracking": "true"})
    dt = DeltaTable.forPath(spark, a)
    dt.delete("l_quantity > 45")
    write_delta(li.limit(200), a, mode="append")
    DeltaLog.for_table(a).write_checkpoint()  # earlier python checkpoint
    write_delta(li.limit(50), a, mode="append")
    dt.setProperties({"delta.enableDeletionVectors": "true",
                      "delta.setTransactionRetentionDuration":
                          "interval 1 days"})
    dt.delete("l_quantity > 40")
    # one txn inside the retention window, one past it, one domain
    now = current_time_millis()
    OptimisticTransaction(DeltaLog.for_table(a)).commit(
        [SetTransaction("fresh-app", 3, now),
         SetTransaction("aged-app", 5, now - 3 * 86_400_000),
         DomainMetadata("test.parity", '{"k":1}', False)],
        "MANUAL UPDATE")
    b = str(tmp_path / "py")
    _shutil.copytree(a, b)
    DeltaLog.clear_cache()
    la, lb = DeltaLog.for_table(a), DeltaLog.for_table(b)
    v = la.latest_version()
    assert la.write_checkpoint_distributed(spark, v)
    lb.write_checkpoint(lb.update())
    DeltaLog.clear_cache()
    sa = DeltaLog.for_table(a).snapshot_at(v)
    sb = DeltaLog.for_table(b).snapshot_at(v)

    def key(f):
        return (f.path, f.size, f.baseRowId, f.defaultRowCommitVersion,
                json.dumps(f.deletionVector, sort_keys=True),
                json.dumps(f.partitionValues, sort_keys=True), f.stats)

    assert sorted(map(key, sa.all_files)) == sorted(map(key, sb.all_files))
    assert set(sa.tombstones) == set(sb.tombstones)
    assert sa.metadata.configuration == sb.metadata.configuration
    assert sa.protocol.writerFeatures == sb.protocol.writerFeatures
    # both writers keep the fresh txn and drop the aged one
    assert sa.set_transactions == sb.set_transactions
    assert set(sa.set_transactions) == {"fresh-app"}
    assert sa.domain_metadata == sb.domain_metadata
    assert "test.parity" in sa.domain_metadata
    # the data reads the same through either checkpoint
    assert (DeltaTable.forPath(spark, a).toDF().count()
            == DeltaTable.forPath(spark, b).toDF().count())


def test_checkpoint_stats_parsed(spark, tmp_path, sf_dir):
    """delta.checkpoint.writeStatsAsStruct: the distributed checkpoint
    carries a typed add.stats_parsed struct, the scan filter uses it
    (identical pruning to the python loop over every predicate), and
    schema changes after the checkpoint coerce soundly."""
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").repartition(8)
    a = str(tmp_path / "sp")
    write_delta(li, a, partition_by=["l_returnflag"])
    log = DeltaLog.for_table(a)
    assert log.write_checkpoint_distributed(spark)
    # the checkpoint parquet carries typed min/max under stats_parsed
    ck = log.checkpoint_paths(log.latest_version())
    sch = _pq.read_schema(ck[0])
    add_t = sch.field("add").type
    names = [add_t.field(i).name for i in range(add_t.num_fields)]
    assert "stats_parsed" in names
    sp = add_t.field(names.index("stats_parsed")).type
    spn = [sp.field(i).name for i in range(sp.num_fields)]
    assert {"numRecords", "minValues", "maxValues", "nullCount"} <= set(spn)
    # scan parity through the parsed stats (plus post-checkpoint
    # commits that only have the JSON blob)
    write_delta(li.limit(100), a, mode="append")
    DeltaLog.clear_cache()
    log = DeltaLog.for_table(a)
    snap = log.update()
    for pred in PRUNING_PREDICATES:
        want = {f.path for f in snap.files_for_scan(pred)}
        got = {r.path for r in log.files_for_scan_df(spark, pred).collect()}
        assert got == want, f"stats_parsed parity broken for {pred!r}"
    # a column added AFTER the checkpoint: old parsed stats lack it,
    # pruning on it must keep every checkpointed file (sound)
    evolved = li.limit(60).withColumn("l_extra", F.lit(7).cast("long"))
    write_delta(evolved, a, mode="append", merge_schema=True)
    DeltaLog.clear_cache()
    log = DeltaLog.for_table(a)
    snap = log.update()
    want = {f.path for f in snap.files_for_scan("l_extra = 7")}
    got = {r.path for r in log.files_for_scan_df(spark, "l_extra = 7").collect()}
    assert got == want


def test_checkpoint_stats_parsed_opt_out(spark, tmp_path, sf_dir):
    """writeStatsAsStruct=false keeps the JSON-only checkpoint shape."""
    import pyarrow.parquet as _pq

    li = load_table(spark, sf_dir, "lineitem").limit(500)
    a = str(tmp_path / "nosp")
    write_delta(li, a, configuration={
        "delta.checkpoint.writeStatsAsStruct": "false"})
    log = DeltaLog.for_table(a)
    assert log.write_checkpoint_distributed(spark)
    sch = _pq.read_schema(log.checkpoint_paths(log.latest_version())[0])
    add_t = sch.field("add").type
    names = [add_t.field(i).name for i in range(add_t.num_fields)]
    assert "stats_parsed" not in names


def test_distributed_checkpoint_multipart(spark, tmp_path, sf_dir):
    """partSize splits the distributed checkpoint into a complete
    multi-part set that replays to the same state."""
    li = load_table(spark, sf_dir, "lineitem").limit(1000).repartition(6)
    a = str(tmp_path / "mp")
    write_delta(li, a, configuration={"delta.checkpoint.partSize": "3"})
    write_delta(li.limit(80), a, mode="append")
    log = DeltaLog.for_table(a)
    v = log.latest_version()
    want = {f.path for f in log.update().all_files}
    assert log.write_checkpoint_distributed(spark, v)
    names = [n for n in os.listdir(os.path.join(a, "_delta_log"))
             if ".checkpoint." in n]
    assert len(names) > 1  # actually split
    DeltaLog.clear_cache()
    got = {f.path for f in DeltaLog.for_table(a).snapshot_at(v).all_files}
    assert got == want


def test_checkpoint_auto_multipart_both_writers(spark, tmp_path,
                                                monkeypatch):
    """The auto multi-part rule (no delta.checkpoint.partSize, more than
    2 × AUTO_PART_ACTIONS actions) is shared: the driver and the
    distributed writer split the same log into the same number of parts,
    and each complete set replays to the same state."""
    import shutil as _shutil

    from delta_spark import log as L

    monkeypatch.setattr(L, "AUTO_PART_ACTIONS", 40)
    a = str(tmp_path / "drv")
    os.makedirs(a)
    _synth_log(a, n_batches=8, adds_per=25)
    b = str(tmp_path / "dist")
    _shutil.copytree(a, b)
    la, lb = DeltaLog.for_table(a), DeltaLog.for_table(b)
    v = la.latest_version()
    snap = la.update()
    want, want_tomb = _key_set(snap.all_files), set(snap.tombstones)
    total = 2 + len(want) + len(want_tomb)   # + protocol, metaData
    n_parts = -(-total // 40)
    assert n_parts > 1
    la.write_checkpoint(snap)
    assert lb.write_checkpoint_distributed(spark, v)
    for p in (a, b):
        ld = os.path.join(p, "_delta_log")
        parts = [n for n in os.listdir(ld) if ".checkpoint." in n]
        assert len(parts) == n_parts
        assert all(n.endswith(".%010d.parquet" % n_parts) for n in parts)
        with open(os.path.join(ld, "_last_checkpoint")) as fh:
            assert json.load(fh) == {"version": v, "size": total,
                                     "parts": n_parts}
        # replay through the checkpoint alone
        for n in os.listdir(ld):
            if n.endswith(".json"):
                os.unlink(os.path.join(ld, n))
        DeltaLog.clear_cache()
        got = DeltaLog.for_table(p).update()
        assert got.version == v
        assert _key_set(got.all_files) == want
        assert set(got.tombstones) == want_tomb


def test_distributed_checkpoint_synth_log(spark, tmp_path):
    """Distributed checkpoint over a synthetic 2000-action log (no data
    files): replay through it matches the pre-checkpoint state exactly,
    including the tombstones."""
    base = str(tmp_path / "synthck")
    os.makedirs(base)
    _synth_log(base, n_batches=40, adds_per=50)
    log = DeltaLog.for_table(base)
    v = log.latest_version()
    want_active = _key_set(log.update().all_files)
    want_tomb = set(log.update().tombstones)
    assert log.write_checkpoint_distributed(spark, v)
    DeltaLog.clear_cache()
    log2 = DeltaLog.for_table(base)
    snap = log2.snapshot_at(v)
    assert _key_set(snap.all_files) == want_active
    assert set(snap.tombstones) == want_tomb
    # state_df reads straight through the distributed checkpoint too
    got = {(r.path, r.size,
            tuple(sorted((r.partitionValues or {}).items())))
           for r in log2.state_df(spark).collect()}
    assert got == want_active


def test_distributed_checkpoint_v2(spark, tmp_path, sf_dir):
    """V2 policy: the distributed writer produces Spark-written
    sidecars + a driver-side top file; replay and state_df read it like
    the python-written V2 checkpoint."""
    li = load_table(spark, sf_dir, "lineitem").limit(1500).repartition(5)
    a = str(tmp_path / "v2d")
    write_delta(li, a, configuration={"delta.checkpointPolicy": "v2",
                                      "delta.checkpoint.partSize": "4"})
    write_delta(li.limit(90), a, mode="append")
    from delta_spark.table import DeltaTable

    DeltaTable.forPath(spark, a).delete("l_quantity > 45")
    log = DeltaLog.for_table(a)
    v = log.latest_version()
    want = _key_set(log.update().all_files)
    assert log.write_checkpoint_distributed(spark, v)
    ld = os.path.join(a, "_delta_log")
    tops = [n for n in os.listdir(ld)
            if ".checkpoint." in n and n.endswith(".parquet")]
    assert len(tops) == 1 and len(tops[0].split(".")) == 4  # uuid-named
    sidecars = os.listdir(os.path.join(ld, "_sidecars"))
    assert len(sidecars) >= 2  # partSize split the file actions
    DeltaLog.clear_cache()
    log2 = DeltaLog.for_table(a)
    assert _key_set(log2.snapshot_at(v).all_files) == want
    got = {(r.path, r.size, tuple(sorted((r.partitionValues or {}).items())))
           for r in log2.state_df(spark).collect()}
    assert got == want


def test_replay_fuzz_three_ways(spark, tmp_path):
    """Randomized log fuzz: arbitrary interleavings of adds, removes,
    re-adds (DV updates), metadata changes, and checkpoints must
    reconcile identically through (a) the python replay, (b) state_df,
    and (c) a replay whose prefix is a distributed checkpoint."""
    import random

    rng = random.Random(20260814)
    base = str(tmp_path / "fuzz")
    ld = os.path.join(base, "_delta_log")
    os.makedirs(ld)
    _commit(ld, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "fuzz", "format": {"provider": "parquet",
                                               "options": {}},
                      "schemaString": _SCHEMA, "partitionColumns": [],
                      "configuration": {}, "createdTime": 1}},
    ])
    live: set[str] = set()
    next_id = 0
    v = 1
    for _ in range(30):
        lines = []
        n_ops = rng.randint(1, 8)
        batch_live = set(live)
        # a commit may touch each path at most once, and may not both
        # introduce and drop a path (the protocol forbids the same
        # logical file in the add and remove collections; a writer
        # adding-then-deleting in one txn simply omits the add)
        untouched = set(live)
        for _ in range(n_ops):
            op = rng.random()
            if op < 0.5 or not untouched:
                path = f"f_{next_id}.parquet"
                next_id += 1
                lines.append({"add": {
                    "path": path, "partitionValues": {}, "size": rng.randint(1, 500),
                    "modificationTime": v, "dataChange": True,
                    "stats": json.dumps({"numRecords": rng.randint(1, 9)})}})
                batch_live.add(path)
            elif op < 0.8:
                path = rng.choice(sorted(untouched))
                untouched.discard(path)
                lines.append({"remove": {"path": path, "deletionTimestamp": v,
                                         "dataChange": True}})
                batch_live.discard(path)
            else:
                # DV-style update: remove + re-add of the same path
                path = rng.choice(sorted(untouched))
                untouched.discard(path)
                lines.append({"remove": {"path": path, "deletionTimestamp": v,
                                         "dataChange": True}})
                lines.append({"add": {
                    "path": path, "partitionValues": {},
                    "size": rng.randint(1, 500), "modificationTime": v,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": rng.randint(1, 9)}),
                    "deletionVector": {"storageType": "u",
                                       "pathOrInlineDv": f"dv{v}",
                                       "offset": 1, "sizeInBytes": 8,
                                       "cardinality": 1}}})
        rng.shuffle(lines)  # action order within a commit is arbitrary
        _commit(ld, v, lines)
        live = batch_live
        v += 1
        if v == 12:
            DeltaLog.clear_cache()
            DeltaLog.for_table(base).write_checkpoint()  # python ckpt mid-log
    DeltaLog.clear_cache()
    log = DeltaLog.for_table(base)
    snap = log.update()
    py = _key_set(snap.all_files)
    assert {f.path for f in snap.all_files} == live
    sdf = {(r.path, r.size, tuple(sorted((r.partitionValues or {}).items())))
           for r in log.state_df(spark).collect()}
    assert sdf == py
    assert log.write_checkpoint_distributed(spark, snap.version)
    DeltaLog.clear_cache()
    log2 = DeltaLog.for_table(base)
    assert _key_set(log2.snapshot_at(snap.version).all_files) == py
    assert {(r.path, r.size, tuple(sorted((r.partitionValues or {}).items())))
            for r in log2.state_df(spark).collect()} == py


def test_distributed_time_travel_parity(spark, tmp_table, sf_dir,
                                        force_distributed):
    from delta_spark.table import DeltaTable

    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    spark.conf.set("delta_spark.scan.distributedPlanning", "never")
    write_delta(li, tmp_table)
    DeltaTable.forPath(spark, tmp_table).delete("l_quantity > 30")
    spark.conf.set("delta_spark.scan.distributedPlanning", "always")
    DeltaLog.clear_cache()
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.asOfVersion(0).count() == 1000
    assert dt.asOfVersion(1).count() == dt.toDF().count()
    with pytest.raises(ValueError, match="Cannot time travel"):
        dt.asOfVersion(99)

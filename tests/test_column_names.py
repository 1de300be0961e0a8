"""Arbitrary / parquet-hostile column names (reference
DeltaArbitraryColumnNameSuite, SchemaUtils.checkSchemaFieldNames:1354,
OptimisticTransaction.assertMetadata:1005): names with ' ,;{}()\\n\\t='
are rejected without column mapping and fully usable with it;
duplicate names are rejected with a domain error; DML SET targets
resolve backquoted and case-insensitively."""

import pytest

from delta_spark import DeltaLog, DeltaTable
from delta_spark.io import DeltaWriteError, write_delta

NAME_CFG = {"delta.columnMapping.mode": "name"}


def _df(spark):
    return spark.sql("SELECT * FROM VALUES (1, 2, 3), (4, 5, 6) AS t(`a b`, `x,y`, ok)")


def test_invalid_chars_rejected_without_mapping(spark, tmp_table):
    with pytest.raises(ValueError, match="column mapping"):
        write_delta(_df(spark), tmp_table)


def test_invalid_partition_col_rejected_without_mapping(spark, tmp_table):
    df = spark.sql("SELECT 1 AS `p v`, 2 AS x")
    with pytest.raises(ValueError, match="column mapping"):
        write_delta(df, tmp_table, partition_by=["p v"])


def test_special_names_work_with_mapping(spark, tmp_table):
    write_delta(_df(spark), tmp_table, configuration=NAME_CFG)
    dt = DeltaTable.forPath(spark, tmp_table)
    assert sorted(r["a b"] for r in dt.toDF().collect()) == [1, 4]
    # predicate + stats round-trip on a sibling scalar column
    assert dt.toDF("ok = 3").count() == 1
    dt.update(set={"`a b`": "100"}, condition="ok = 3")
    assert sorted(r["a b"] for r in dt.toDF().collect()) == [4, 100]
    dt.delete("`x,y` = 5")
    assert dt.toDF().count() == 1
    # physical parquet names are engine-generated, not the logical ones
    snap = DeltaLog.for_table(tmp_table).update()
    phys = snap.physical_map()
    assert all(" " not in p and "," not in p for p in phys.values())
    # MERGE SET of a name that needs backquotes
    src = spark.sql("SELECT 3 AS ok, 77 AS nv")
    (dt.merge(src, "t.ok = s.ok", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"`a b`": "s.nv"}).execute())
    assert [tuple(r) for r in dt.toDF().collect()] == [(77, 2, 3)]
    # MERGE UPDATE/INSERT * into a struct whose field name needs quotes
    path2 = tmp_table + "_struct"
    write_delta(spark.sql("SELECT 1 AS id, named_struct('x y', 1, 'z', 'a') AS s"),
                path2, configuration=NAME_CFG)
    dt2 = DeltaTable.forPath(spark, path2)
    src2 = spark.sql("SELECT * FROM VALUES (1, named_struct('x y', 5, 'z', 'b')), "
                     "(2, named_struct('x y', 6, 'z', 'c')) AS v(id, s)")
    (dt2.merge(src2, "t.id = s.id", target_alias="t", source_alias="s")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
    assert sorted((r["id"], r["s"]["x y"], r["s"]["z"])
                  for r in dt2.toDF().collect()) == [(1, 5, "b"), (2, 6, "c")]


def test_schema_evolution_to_invalid_name_rejected(spark, tmp_table):
    write_delta(spark.sql("SELECT 1 AS ok"), tmp_table)
    bad = spark.sql("SELECT 2 AS ok, 9 AS `new col`")
    with pytest.raises(ValueError, match="column mapping"):
        write_delta(bad, tmp_table, mode="append", merge_schema=True)


def test_duplicate_names_rejected(spark, tmp_table):
    dup = spark.sql("SELECT 1 AS c, 2 AS C")
    with pytest.raises(DeltaWriteError, match="duplicate"):
        write_delta(dup, tmp_table)


def test_set_targets_backquoted_and_case_insensitive(spark, tmp_table, sf_dir):
    from delta_spark.datasets import load_table

    write_delta(load_table(spark, sf_dir, "region"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.update(set={"`R_NAME`": "'X'"}, condition="r_regionkey = 0")
    names = {r["r_name"] for r in dt.toDF().collect()}
    assert "X" in names
    with pytest.raises(ValueError, match="SET targets"):
        dt.update(set={"nope": "'Y'"})


_NULL_STRUCT_ROWS = (
    "SELECT * FROM VALUES (1, named_struct('x', 10, 'y', 'a')), "
    "(2, named_struct('x', 20, 'y', 'b')), "
    "(3, CAST(NULL AS struct<x:int,y:string>)) AS t(id, s)")


def _struct_rows(dt):
    return {r["id"]: r["s"] and (r["s"]["x"], r["s"]["y"])
            for r in dt.toDF().collect()}


def test_nested_struct_set_target(spark, tmp_table):
    write_delta(spark.sql(_NULL_STRUCT_ROWS), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.update(set={"s.x": "s.x + 100"}, condition="id = 1")
    # sibling field y survives the in-place struct-field update
    assert _struct_rows(dt) == {1: (110, "a"), 2: (20, "b"), 3: None}
    # two-level nesting + case-insensitive path
    with pytest.raises(ValueError, match="not a struct"):
        dt.update(set={"id.x": "1"})
    dt.update(set={"S.Y": "'z'"}, condition="id = 2")
    rows = {r["id"]: r["s"] and r["s"]["y"] for r in dt.toDF().collect()}
    assert rows[2] == "z"
    # a NULL struct stays NULL (as Spark's UpdateFields leaves it)
    dt.update(set={"s.x": "5"})
    assert _struct_rows(dt) == {1: (5, "a"), 2: (5, "z"), 3: None}


def test_conflicting_set_targets_rejected(spark, tmp_table):
    df = spark.sql("SELECT 1 AS id, named_struct('x', 10) AS s")
    write_delta(df, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    with pytest.raises(ValueError, match="conflicting"):
        dt.update(set={"s": "named_struct('x', 1)", "s.x": "2"})


def test_nested_set_target_dv_path(spark, tmp_table):
    write_delta(spark.sql(_NULL_STRUCT_ROWS), tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.update(set={"s.x": "s.x + 1"}, condition="id = 2")
    assert _struct_rows(dt) == {1: (10, "a"), 2: (21, "b"), 3: None}
    dt.update(set={"s.x": "5"})
    assert _struct_rows(dt) == {1: (5, "a"), 2: (5, "b"), 3: None}


def test_merge_nested_and_backquoted_set(spark, tmp_table):
    from pyspark.sql import functions as F

    df = spark.sql(
        "SELECT * FROM VALUES (1, named_struct('x', 10, 'y', 'a'), 5), "
        "(2, named_struct('x', 20, 'y', 'b'), 6), "
        "(4, CAST(NULL AS struct<x:int,y:string>), 8) AS t(id, s, v)")
    # nullable columns: the merge below inserts a row with a NULL struct
    from pyspark.sql import types as T

    def relax(dt):
        if isinstance(dt, T.StructType):
            return T.StructType([
                T.StructField(f.name, relax(f.dataType), True, f.metadata)
                for f in dt.fields])
        return dt

    df = spark.createDataFrame(df.collect(), relax(df.schema))
    write_delta(df, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT * FROM VALUES (2, 99), (3, 77), (4, 55) AS t(id, nv)")
    (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"t.s.x": "s.nv", "`v`": "s.nv"})
       .whenNotMatchedInsert(values={"`id`": "s.id", "v": "s.nv"})
       .execute())
    rows = {r["id"]: (r["s"]["x"] if r["s"] else None,
                      r["s"]["y"] if r["s"] else None, r["v"])
            for r in dt.toDF().collect()}
    # matched: s.x updated in place (sibling y kept), v updated
    assert rows[2] == (99, "b", 99)
    assert rows[1] == (10, "a", 5)
    # inserted row: struct is null, v from source
    assert rows[3] == (None, None, 77)
    # matched row with a NULL struct: the struct stays NULL
    assert rows[4] == (None, None, 55)


def test_two_level_nested_set_keeps_siblings(spark, tmp_table):
    write_delta(spark.sql(
        "SELECT 1 AS id, named_struct('a', named_struct('b', 1, 'c', 'k'), "
        "'d', 2.5D) AS s"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)

    def s():
        return dt.toDF().collect()[0]["s"].asDict(recursive=True)

    dt.update(set={"s.a.b": "s.a.b + 41"})
    assert s() == {"a": {"b": 42, "c": "k"}, "d": 2.5}
    (dt.merge(spark.sql("SELECT 1 AS id, 7 AS nv"), "t.id = src.id",
              target_alias="t", source_alias="src")
       .whenMatchedUpdate(set={"T.S.A.B": "src.nv"}).execute())
    assert s() == {"a": {"b": 7, "c": "k"}, "d": 2.5}


@pytest.mark.parametrize("dv", ["false", "true"])
def test_merge_nested_set_cdf_postimage(spark, tmp_table, dv):
    write_delta(spark.sql(_NULL_STRUCT_ROWS), tmp_table, configuration={
        "delta.enableChangeDataFeed": "true",
        "delta.enableDeletionVectors": dv})
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT * FROM VALUES (2, 99), (3, 77) AS v(id, nv)")
    (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"t.s.x": "s.nv"}).execute())
    got = sorted(((r["_change_type"], r["id"], r["s"] and tuple(r["s"]))
                  for r in dt.table_changes(starting_version=1).collect()),
                 key=str)
    assert got == [("update_postimage", 2, (99, "b")),
                   ("update_postimage", 3, None),
                   ("update_preimage", 2, (20, "b")),
                   ("update_preimage", 3, None)]


@pytest.mark.parametrize("dv", ["false", "true"])
def test_merge_nested_set_keeps_row_ids(spark, tmp_table, dv):
    from delta_spark.reader import read_with_row_ids

    write_delta(spark.sql(_NULL_STRUCT_ROWS), tmp_table, configuration={
        "delta.enableRowTracking": "true",
        "delta.enableDeletionVectors": dv})
    log = DeltaLog.for_table(tmp_table)
    before = {r["id"]: r["_row_id"]
              for r in read_with_row_ids(spark, log.update()).collect()}
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT * FROM VALUES (1, 50), (3, 70) AS v(id, nv)")
    (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"t.s.x": "s.nv"}).execute())
    rows = read_with_row_ids(spark, log.update()).collect()
    assert {r["id"]: r["_row_id"] for r in rows} == before
    assert {r["id"]: r["s"] and tuple(r["s"]) for r in rows} == {
        1: (50, "a"), 2: (20, "b"), 3: None}


def test_sql_update_nested_and_backquoted(spark, tmp_table):
    from delta_spark import delta_sql

    df = spark.sql("SELECT 1 AS id, named_struct('x', 7, 'y', 'a') AS s")
    write_delta(df, tmp_table)
    delta_sql(spark, f"UPDATE delta.`{tmp_table}` SET s.x = 8, `id` = 2")
    r = DeltaTable.forPath(spark, tmp_table).toDF().collect()[0]
    assert (r["id"], r["s"]["x"], r["s"]["y"]) == (2, 8, "a")


def test_vacuum_retention_duration_check(spark, tmp_table, sf_dir):
    from delta_spark.datasets import load_table

    write_delta(load_table(spark, sf_dir, "region"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("r_regionkey = 0")
    spark.conf.set("delta_spark.retentionDurationCheck.enabled", "true")
    try:
        with pytest.raises(ValueError, match="retentionDurationCheck"):
            dt.vacuum(0)
        # the default window (no explicit retention) is always safe
        dt.vacuum()
    finally:
        spark.conf.set("delta_spark.retentionDurationCheck.enabled", "false")
    dt.vacuum(0)  # check disabled again: allowed


def test_merge_unknown_set_target_rejected(spark, tmp_table):
    from delta_spark.commands.merge import MergeError

    write_delta(spark.sql("SELECT 1 AS id, 2 AS v"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT 1 AS id, 9 AS nv")
    with pytest.raises(MergeError, match="not a column"):
        (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
           .whenMatchedUpdate(set={"vv": "s.nv"}).execute())


def test_sql_update_backquoted_nested(spark, tmp_table):
    from delta_spark import delta_sql

    write_delta(spark.sql(
        "SELECT 1 AS id, named_struct('x', 1, 'y', 'a') AS s"), tmp_table)
    delta_sql(spark, f"UPDATE delta.`{tmp_table}` SET `s`.`x` = 9")
    r = DeltaTable.forPath(spark, tmp_table).toDF().collect()[0]
    assert (r["s"]["x"], r["s"]["y"]) == (9, "a")


def test_nested_fields_mapped_physically(spark, tmp_table):
    """Nested struct fields get column-mapping metadata too
    (DeltaColumnMapping assigns ids/physicalNames recursively): the
    parquet on disk must carry PHYSICAL nested names + nested field
    ids, and the read path must reassemble logical names at every
    level. Caught by the golden-table parity suite against
    reference-written tables; this pins our own write side."""
    import os
    import pyarrow.parquet as pq
    from delta_spark.schema import field_id, physical_name

    df = spark.sql("""
        SELECT 1 AS id,
               named_struct('aa', 'x', 'ac', named_struct('aca', 7)) AS s,
               array(named_struct('ab', CAST(5 AS LONG))) AS arr,
               map('k', named_struct('mv', 2)) AS m
    """)
    write_delta(df, tmp_table,
                configuration={"delta.columnMapping.mode": "id"})
    snap = DeltaLog.for_table(tmp_table).update()
    # every nested struct field carries an id + physicalName
    s_field = snap.schema["s"]
    for f in s_field.dataType.fields:
        assert field_id(f) is not None and physical_name(f)
    aca = s_field.dataType["ac"].dataType["aca"]
    assert field_id(aca) is not None
    arr_el = snap.schema["arr"].dataType.elementType["ab"]
    m_val = snap.schema["m"].dataType.valueType["mv"]
    assert field_id(arr_el) is not None and field_id(m_val) is not None
    # ids are unique across the whole tree
    ids = [field_id(snap.schema["id"]), field_id(s_field),
           field_id(s_field.dataType["aa"]), field_id(s_field.dataType["ac"]),
           field_id(aca), field_id(snap.schema["arr"]), field_id(arr_el),
           field_id(snap.schema["m"]), field_id(m_val)]
    assert len(set(ids)) == len(ids)

    # the parquet footer stores nested field ids
    fpath = os.path.join(tmp_table, snap.all_files[0].path)
    arrow_schema = pq.read_schema(fpath)
    s_phys = physical_name(s_field)
    s_arrow = arrow_schema.field(s_phys)
    nested_meta = s_arrow.type.field(0).metadata or {}
    assert b"PARQUET:field_id" in nested_meta

    # logical names reassemble at every level on read
    dt = DeltaTable.forPath(spark, tmp_table)
    row = dt.toDF().selectExpr("s.aa", "s.ac.aca", "arr[0].ab",
                               "m['k'].mv").collect()[0]
    assert tuple(row) == ("x", 7, 5, 2)


def test_cdc_files_carry_physical_names(spark, tmp_table):
    """CDC files follow the SAME schema rules as data files
    (PROTOCOL.md "Change Data Files"): under column mapping they store
    PHYSICAL column names — an external CDF reader resolves by them —
    and our own table_changes maps them back to logical."""
    import glob
    import os

    import pyarrow.parquet as pq

    write_delta(spark.sql("SELECT 1 AS id, 'a' AS val"), tmp_table,
                configuration={"delta.columnMapping.mode": "name",
                               "delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("id = 1")                                   # v1: cdc files
    snap = DeltaLog.for_table(tmp_table).update()
    from delta_spark.schema import physical_name
    phys = {physical_name(f) for f in snap.schema.fields}
    cdc = sorted(glob.glob(os.path.join(tmp_table, "_change_data",
                                        "*.parquet")))
    assert cdc, "delete under CDF must write change files"
    cols = set(pq.read_schema(cdc[-1]).names)
    assert phys <= cols and "_change_type" in cols
    assert not any(c in cols for c in ("id", "val"))      # physical only
    from delta_spark.cdf import table_changes
    rows = {(r["id"], r["val"], r["_change_type"])
            for r in table_changes(spark, DeltaLog.for_table(tmp_table),
                                   1, 1).collect()}
    assert rows == {(1, "a", "delete")}


def test_replace_where_cdf_on_mapped_table(spark, tmp_table):
    """replaceWhere's insert-leg CDC files ride the already-projected
    write frame: on a mapped table the feed must still serve LOGICAL
    names and real values (regression: ids read as NULL)."""
    write_delta(spark.sql("SELECT 1 AS id, 'a' AS val"), tmp_table,
                configuration={"delta.columnMapping.mode": "name",
                               "delta.enableChangeDataFeed": "true"})
    write_delta(spark.sql("SELECT 1 AS id, 'b' AS val"), tmp_table,
                mode="overwrite", replace_where="id = 1")
    from delta_spark.cdf import table_changes
    rows = {(r["id"], r["val"], r["_change_type"])
            for r in table_changes(spark, DeltaLog.for_table(tmp_table),
                                   1, 1).collect()}
    assert rows == {(1, "a", "delete"), (1, "b", "insert")}


def test_merge_evolution_assigns_mapping_identity(spark, tmp_table):
    """MERGE schema evolution on a mapped table must assign the new
    column an engine-generated physicalName + columnMapping id and
    bump maxColumnId (reference DeltaColumnMapping assignment rules —
    a mapped field without an id is protocol-invalid), and the data /
    CDC files of the evolving commit are written under those physical
    names."""
    import glob
    import os

    import pyarrow.parquet as pq

    write_delta(spark.sql("SELECT 1 AS id, 'a' AS val"), tmp_table,
                configuration={"delta.columnMapping.mode": "name",
                               "delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT 1 AS id, 'A' AS val, 9 AS extra "
                    "UNION ALL SELECT 2, 'b', 7")
    (dt.merge(src, "target.id = source.id")
       .whenMatchedUpdateAll().whenNotMatchedInsertAll()
       .withSchemaEvolution().execute())
    snap = DeltaLog.for_table(tmp_table).update()
    from delta_spark.schema import field_id, physical_name
    f = next(x for x in snap.schema.fields if x.name == "extra")
    assert physical_name(f).startswith("col-")
    assert field_id(f) == 3
    assert snap.configuration.get("delta.columnMapping.maxColumnId") == "3"
    assert sorted(tuple(r) for r in dt.toDF().collect()) == \
        [(1, "A", 9), (2, "b", 7)]
    cdc = sorted(glob.glob(os.path.join(tmp_table, "_change_data",
                                        "*.parquet")))
    cols = set(pq.read_schema(cdc[-1]).names)
    assert physical_name(f) in cols and "extra" not in cols
    from delta_spark.cdf import table_changes
    rows = {(r["id"], r["val"], r["extra"], r["_change_type"])
            for r in table_changes(spark, DeltaLog.for_table(tmp_table),
                                   1, 1).collect()}
    # preimage rows null-fill the evolved column (it had no value)
    assert rows == {(1, "a", None, "update_preimage"),
                    (1, "A", 9, "update_postimage"),
                    (2, "b", 7, "insert")}


def test_merge_evolution_cdf_preimage_nulls_plain(spark, tmp_table):
    """Same preimage-null contract without column mapping (regression:
    the CDF projection referenced target.<evolved-col> and failed
    analysis)."""
    write_delta(spark.sql("SELECT 1 AS id, 'a' AS val"), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT 1 AS id, 'A' AS val, 9 AS extra")
    (dt.merge(src, "target.id = source.id")
       .whenMatchedUpdateAll().withSchemaEvolution().execute())
    from delta_spark.cdf import table_changes
    rows = {(r["id"], r["val"], r["extra"], r["_change_type"])
            for r in table_changes(spark, DeltaLog.for_table(tmp_table),
                                   1, 1).collect()}
    assert rows == {(1, "a", None, "update_preimage"),
                    (1, "A", 9, "update_postimage")}


def test_evolution_ignores_stolen_alias_metadata(spark, tmp_table):
    """Spark propagates StructField metadata through aliases, so
    SELECT x AS new_col from a mapped table carries x's
    columnMapping.physicalName. Schema evolution must IGNORE it — the
    table owns identity — or two logical columns share one physical
    column (COLUMN_ALREADY_EXISTS at write, or silent misreads)."""
    from delta_spark.schema import field_id, physical_name

    write_delta(spark.sql("SELECT 1 AS id, 10 AS x"), tmp_table,
                configuration={"delta.columnMapping.mode": "name"})
    dt = DeltaTable.forPath(spark, tmp_table)
    # write-path evolution (merge_schema append)
    write_delta(dt.toDF().selectExpr("id", "x", "x AS y"), tmp_table,
                mode="append", merge_schema=True)
    snap = DeltaLog.for_table(tmp_table).update()
    phys = [physical_name(f) for f in snap.schema.fields]
    assert len(phys) == len(set(phys)), phys
    ids = [field_id(f) for f in snap.schema.fields]
    assert None not in ids and len(set(ids)) == len(ids)
    # MERGE-path evolution with an aliased source column
    src = dt.toDF().limit(1).selectExpr("id + 100 AS id", "x", "y",
                                        "x AS z")
    (dt.merge(src, "target.id = source.id")
       .whenMatchedUpdateAll().whenNotMatchedInsertAll()
       .withSchemaEvolution().execute())
    snap = DeltaLog.for_table(tmp_table).update()
    phys = [physical_name(f) for f in snap.schema.fields]
    assert len(phys) == len(set(phys)), phys
    rows = {tuple(r) for r in dt.toDF().collect()}
    assert (101, 10, 10, 10) in rows


# ---------------------------------------------------------------------------
# field-id read confs: session hygiene (VERDICT r8 #4 / ADVICE r8)
# ---------------------------------------------------------------------------

ID_CFG = {"delta.columnMapping.mode": "id"}
_FID = "spark.sql.parquet.fieldId.read.enabled"
_FID_MISS = "spark.sql.parquet.fieldId.read.ignoreMissing"


def _fid_state(spark):
    return (spark.conf.get(_FID, None), spark.conf.get(_FID_MISS, None))


def _reset_fid(spark):
    from delta_spark.util import _saved_field_id_confs

    _saved_field_id_confs.pop(spark, None)
    for k in (_FID, _FID_MISS):
        spark.conf.unset(k)


def test_field_id_confs_untouched_by_name_mode_read(spark, tmp_table):
    """Only id-mode tables need field-id resolution: reading none/name
    mode tables must not touch the user's parquet confs."""
    _reset_fid(spark)
    write_delta(_df(spark), tmp_table, configuration=NAME_CFG)
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 2
    assert _fid_state(spark) == (None, None)


def test_field_id_confs_set_and_restorable_for_id_mode(spark, tmp_table):
    """An id-mode read turns the confs on for the session (the parquet
    source consumes them at execution time, so a scoped set/restore
    would break the returned lazy DataFrame — pinned below);
    restore_field_id_read_confs undoes the mutation."""
    from delta_spark.util import restore_field_id_read_confs

    _reset_fid(spark)
    df = spark.sql("SELECT 1 AS id, 'x' AS v")
    write_delta(df, tmp_table, configuration=ID_CFG)
    out = DeltaTable.forPath(spark, tmp_table).toDF()
    assert [(r["id"], r["v"]) for r in out.collect()] == [(1, "x")]
    assert _fid_state(spark) == ("true", "true")
    restore_field_id_read_confs(spark)
    assert _fid_state(spark) == (None, None)
    # restore is idempotent and a later id-mode read re-arms
    restore_field_id_read_confs(spark)
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 1
    assert _fid_state(spark) == ("true", "true")
    _reset_fid(spark)


def test_field_id_override_warns_once(spark, tmp_table):
    """If the user explicitly set the conf to a non-true value, the
    engine warns (once per session) that it is overriding it."""
    import warnings

    from delta_spark.util import restore_field_id_read_confs

    _reset_fid(spark)
    spark.conf.set(_FID, "false")
    df = spark.sql("SELECT 1 AS id")
    write_delta(df, tmp_table, configuration=ID_CFG)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 1
        assert any("fieldId" in str(x.message) for x in w)
    # restore puts the user's explicit value back
    restore_field_id_read_confs(spark)
    assert spark.conf.get(_FID, None) == "false"
    _reset_fid(spark)


def test_field_id_conf_cannot_be_scoped(spark, tmp_path):
    """Pins WHY the conf must stay set while id-mode DataFrames are
    live (DEVIATIONS.md): Spark's parquet source consumes the field-id
    confs at EXECUTION time, so restoring them after building the
    DataFrame silently null-fills every column, and per-read
    DataFrameReader options are ignored for these keys. If either
    behavior ever changes in Spark, this test fails and the engine can
    switch to properly scoped reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    _reset_fid(spark)
    d = str(tmp_path / "fid")
    os_schema = pa.schema([
        pa.field("phys_a", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"})])
    import os as _os
    _os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({"phys_a": [1, 2]}, schema=os_schema),
                   d + "/f.parquet")
    read_schema = T.StructType([
        T.StructField("col_a", T.LongType(), True, {"parquet.field.id": 1})])
    # scoped set/restore: values are gone by collect time → null-fill
    spark.conf.set(_FID, "true")
    spark.conf.set(_FID_MISS, "true")
    df = spark.read.schema(read_schema).parquet(d)
    spark.conf.unset(_FID)
    spark.conf.unset(_FID_MISS)
    assert [r["col_a"] for r in df.collect()] == [None, None]
    # per-read options: ignored for these keys → null-fill too
    df2 = (spark.read.schema(read_schema)
           .option(_FID, "true").option(_FID_MISS, "true").parquet(d))
    assert [r["col_a"] for r in df2.collect()] == [None, None]
    # control: conf on at execution time resolves by id
    spark.conf.set(_FID, "true")
    spark.conf.set(_FID_MISS, "true")
    df3 = spark.read.schema(read_schema).parquet(d)
    assert [r["col_a"] for r in df3.collect()] == [1, 2]
    _reset_fid(spark)

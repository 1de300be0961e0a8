"""Generated columns through DML (reference
UpdateExpressionsSupport.scala:478: a generated column with no
user-provided update expression is RECOMPUTED from its generation
expression over the post-update row; explicit assignments are
validated). Covers UPDATE (rewrite + DV paths), MERGE update/insert,
the insert-only fast path, and CDF post-images."""

import pytest
from pyspark.sql import functions as F

from delta_spark import DeltaLog, DeltaTable
from delta_spark.io import write_delta
from delta_spark.table import DeltaTable as DT


def _gen_table(spark, path, extra_cfg=None):
    b = (DT.create(spark).location(path)
         .addColumn("id", "INT")
         .addColumn("g", "INT", generatedAlwaysAs="id * 2"))
    if extra_cfg:
        for k, v in extra_cfg.items():
            b = b.property(k, v)
    b.execute()
    write_delta(spark.sql("SELECT 1 AS id UNION ALL SELECT 2"), path,
                mode="append")
    return DeltaTable.forPath(spark, path)


def _rows(dt):
    return {r["id"]: r["g"] for r in dt.toDF().collect()}


def test_update_recomputes_generated(spark, tmp_table):
    dt = _gen_table(spark, tmp_table)
    dt.update(set={"id": "10"}, condition="id = 1")
    assert _rows(dt) == {10: 20, 2: 4}
    # explicit consistent assignment passes; inconsistent fails
    dt.update(set={"id": "5", "g": "10"}, condition="id = 2")
    assert _rows(dt) == {10: 20, 5: 10}
    with pytest.raises(Exception, match="generat"):
        dt.update(set={"id": "7", "g": "999"}, condition="id = 5")


def test_update_recomputes_generated_dv_path(spark, tmp_table):
    dt = _gen_table(spark, tmp_table,
                    {"delta.enableDeletionVectors": "true"})
    dt.update(set={"id": "10"}, condition="id = 1")
    assert _rows(dt) == {10: 20, 2: 4}


def test_merge_update_recomputes_generated(spark, tmp_table):
    dt = _gen_table(spark, tmp_table)
    src = spark.sql("SELECT 1 AS id, 100 AS nid UNION ALL SELECT 99, 99")
    (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"id": "s.nid"})
       .whenNotMatchedInsert(values={"id": "s.id"})
       .execute())
    assert _rows(dt) == {100: 200, 2: 4, 99: 198}


def test_merge_insert_only_recomputes_generated(spark, tmp_table):
    dt = _gen_table(spark, tmp_table)
    src = spark.sql("SELECT 50 AS id")
    (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
       .whenNotMatchedInsert(values={"id": "s.id"}).execute())
    assert _rows(dt)[50] == 100


def test_merge_cdf_postimage_regenerated(spark, tmp_table):
    dt = _gen_table(spark, tmp_table,
                    {"delta.enableChangeDataFeed": "true"})
    v = DeltaLog.for_table(tmp_table).latest_version()
    src = spark.sql("SELECT 1 AS id, 30 AS nid")
    (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"id": "s.nid"}).execute())
    from delta_spark.cdf import table_changes
    ch = table_changes(spark, DeltaLog.for_table(tmp_table),
                       starting_version=v + 1)
    post = {(r["id"], r["g"]) for r in
            ch.filter(F.col("_change_type") == "update_postimage").collect()}
    assert post == {(30, 60)}


def test_check_constraints_enforced_in_dml(spark, tmp_table):
    """DeltaInvariantCheckerExec role: constraints bind to DML rewrites,
    not just batch appends."""
    write_delta(spark.sql("SELECT 1 AS id, 5 AS v"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.addCheckConstraint("v_pos", "v > 0")
    with pytest.raises(Exception, match="v_pos"):
        dt.update(set={"v": "-3"})
    src = spark.sql("SELECT 2 AS id, -9 AS v")
    with pytest.raises(Exception, match="v_pos"):
        (dt.merge(src, "t.id = s.id", target_alias="t", source_alias="s")
           .whenNotMatchedInsertAll().execute())
    with pytest.raises(Exception, match="v_pos"):
        (dt.merge(spark.sql("SELECT 1 AS id, -1 AS v"),
                  "t.id = s.id", target_alias="t", source_alias="s")
           .whenMatchedUpdateAll().execute())
    # valid DML still passes and the table is intact
    dt.update(set={"v": "7"})
    assert {r["v"] for r in dt.toDF().collect()} == {7}


def test_check_constraints_enforced_in_dv_dml(spark, tmp_table):
    write_delta(spark.sql("SELECT 1 AS id, 5 AS v"), tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.addCheckConstraint("v_pos", "v > 0")
    with pytest.raises(Exception, match="v_pos"):
        dt.update(set={"v": "-3"})
    assert {r["v"] for r in dt.toDF().collect()} == {5}


def _identity_table(spark, path, always=True):
    from pyspark.sql import types as T
    from delta_spark.schema import (IDENTITY_ALLOW_EXPLICIT_KEY,
                                    IDENTITY_START_KEY, IDENTITY_STEP_KEY)

    md = {IDENTITY_START_KEY: 1, IDENTITY_STEP_KEY: 1}
    if not always:
        md[IDENTITY_ALLOW_EXPLICIT_KEY] = True
    schema = T.StructType([
        T.StructField("rid", T.LongType(), True, md),
        T.StructField("k", T.IntegerType(), True),
    ])
    DT.create(spark).location(path).addColumns(schema).execute()
    write_delta(spark.sql("SELECT 1 AS k"), path, mode="append")
    return DeltaTable.forPath(spark, path)


def test_merge_insert_allocates_identity(spark, tmp_table):
    dt = _identity_table(spark, tmp_table)
    src = spark.sql("SELECT 2 AS k UNION ALL SELECT 3")
    (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
       .whenNotMatchedInsert(values={"k": "s.k"}).execute())
    rows = {r["k"]: r["rid"] for r in dt.toDF().collect()}
    assert None not in rows.values()
    assert len(set(rows.values())) == 3  # unique ids
    # watermark advanced past every allocated value
    from delta_spark.schema import identity_info
    info = identity_info(DeltaLog.for_table(tmp_table).update().schema)["rid"]
    assert info["highWaterMark"] >= max(rows.values())
    # a further append keeps allocating above the watermark
    write_delta(spark.sql("SELECT 9 AS k"), tmp_table, mode="append")
    rows2 = {r["k"]: r["rid"] for r in dt.toDF().collect()}
    assert len(set(rows2.values())) == 4


def test_merge_full_path_allocates_identity(spark, tmp_table):
    dt = _identity_table(spark, tmp_table)
    src = spark.sql("SELECT 1 AS k, 10 AS nk UNION ALL SELECT 5, 5")
    (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"k": "s.nk"})
       .whenNotMatchedInsert(values={"k": "s.k"}).execute())
    rows = {r["k"]: r["rid"] for r in dt.toDF().collect()}
    assert set(rows) == {10, 5} and None not in rows.values()
    assert len(set(rows.values())) == 2


def test_merge_identity_restrictions(spark, tmp_table):
    from delta_spark.commands.merge import MergeError

    dt = _identity_table(spark, tmp_table)  # GENERATED ALWAYS
    src = spark.sql("SELECT 7 AS k, 99 AS rid")
    with pytest.raises(MergeError, match="IDENTITY"):
        (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
           .whenMatchedUpdate(set={"rid": "s.rid"}).execute())
    with pytest.raises(Exception, match="GENERATED ALWAYS"):
        (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
           .whenNotMatchedInsert(values={"k": "s.k", "rid": "s.rid"})
           .execute())


def test_update_identity_rejected(spark, tmp_table):
    dt = _identity_table(spark, tmp_table)
    with pytest.raises(ValueError, match="IDENTITY"):
        dt.update(set={"rid": "5"})


def test_merge_insert_applies_defaults(spark, tmp_table):
    from pyspark.sql import types as T
    from delta_spark.schema import DEFAULT_VALUE_KEY

    schema = T.StructType([
        T.StructField("k", T.IntegerType(), True),
        T.StructField("d", T.StringType(), True, {DEFAULT_VALUE_KEY: "'dflt'"}),
    ])
    DT.create(spark).location(tmp_table).addColumns(schema).execute()
    write_delta(spark.sql("SELECT 1 AS k, 'a' AS d"), tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.sql("SELECT 2 AS k UNION ALL SELECT 1")
    (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
       .whenNotMatchedInsert(values={"k": "s.k"}).execute())
    rows = {r["k"]: r["d"] for r in dt.toDF().collect()}
    assert rows == {1: "a", 2: "dflt"}
    # insert-only fast path too
    src2 = spark.sql("SELECT 5 AS k")
    (dt.merge(src2, "t.k = s.k", target_alias="t", source_alias="s")
       .whenNotMatchedInsert(values={"k": "s.k"}).execute())
    assert {r["d"] for r in dt.toDF().filter("k = 5").collect()} == {"dflt"}


def test_nested_not_null_and_legacy_invariants(spark, tmp_table):
    """Invariants.scala:73 getFromSchema: nested struct NOT NULL and
    legacy delta.invariants expression metadata bind to writes. A NULL
    parent struct carries no child values, so nested NOT NULL binds
    only where the parent is present."""
    import json as _json
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.IntegerType(), True),
        T.StructField("s", T.StructType([
            T.StructField("x", T.IntegerType(), False),
            T.StructField("y", T.StringType(), True),
        ]), True),
        T.StructField("lim", T.IntegerType(), True, {
            "delta.invariants": _json.dumps(
                {"expression": {"expression": "lim < 100"}})}),
    ])
    DT.create(spark).location(tmp_table).addColumns(schema).execute()
    ok = spark.createDataFrame([(1, (5, "a"), 10), (2, None, 20)], schema)
    write_delta(ok, tmp_table, mode="append")  # NULL parent allowed
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == 2
    bad_nested = spark.sql(
        "SELECT 3 AS id, named_struct('x', CAST(NULL AS INT), 'y', 'b') AS s, "
        "10 AS lim")
    with pytest.raises(Exception, match="NOT NULL"):
        write_delta(bad_nested, tmp_table, mode="append")
    bad_inv = spark.createDataFrame([(4, (1, "c"), 500)], schema)
    with pytest.raises(Exception, match="invariant"):
        write_delta(bad_inv, tmp_table, mode="append")
    # DML rewrite path enforces the same rules
    with pytest.raises(Exception, match="invariant"):
        dt.update(set={"lim": "999"}, condition="id = 1")


def test_restore_preserves_identity_watermark(spark, tmp_table):
    """RestoreTableCommand.scala:202: the latest watermark survives a
    RESTORE so post-restore inserts never reuse ids."""
    dt = _identity_table(spark, tmp_table)          # v: create + append
    write_delta(spark.sql("SELECT 2 AS k"), tmp_table, mode="append")
    write_delta(spark.sql("SELECT 3 AS k"), tmp_table, mode="append")
    all_ids = {r["rid"] for r in dt.toDF().collect()}
    dt.restoreToVersion(1)                          # back to 1 row
    assert dt.toDF().count() == 1
    write_delta(spark.sql("SELECT 9 AS k"), tmp_table, mode="append")
    new_ids = {r["rid"] for r in dt.toDF().collect()}
    # the fresh allocation is above EVERY pre-restore id
    fresh = new_ids - {r for r in new_ids if r in all_ids and r is not None}
    assert max(new_ids) > max(all_ids)
    assert len(new_ids) == 2


def test_negative_step_identity_watermark(spark, tmp_table):
    """Directional watermark: INCREMENT BY -1 advances DOWNWARD; two
    successive merges must not re-allocate the same id."""
    from pyspark.sql import types as T
    from delta_spark.schema import (IDENTITY_START_KEY, IDENTITY_STEP_KEY,
                                    identity_info)

    schema = T.StructType([
        T.StructField("rid", T.LongType(), True,
                      {IDENTITY_START_KEY: 100, IDENTITY_STEP_KEY: -1}),
        T.StructField("k", T.IntegerType(), True),
    ])
    DT.create(spark).location(tmp_table).addColumns(schema).execute()
    write_delta(spark.sql("SELECT 1 AS k UNION ALL SELECT 2"), tmp_table,
                mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    ids1 = {r["rid"] for r in dt.toDF().collect()}
    info = identity_info(DeltaLog.for_table(tmp_table).update().schema)["rid"]
    assert info["highWaterMark"] == min(ids1)  # downward watermark
    (dt.merge(spark.sql("SELECT 3 AS k"), "t.k = s.k",
              target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"k": "s.k"})
       .whenNotMatchedInsert(values={"k": "s.k"}).execute())
    (dt.merge(spark.sql("SELECT 4 AS k"), "t.k = s.k",
              target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"k": "s.k"})
       .whenNotMatchedInsert(values={"k": "s.k"}).execute())
    ids = [r["rid"] for r in dt.toDF().collect()]
    assert len(ids) == len(set(ids)) == 4  # no collisions
    assert all(i <= 100 for i in ids)


def test_update_all_keeps_identity(spark, tmp_table):
    """whenMatchedUpdateAll must NOT overwrite identity values even
    when the source carries the column."""
    dt = _identity_table(spark, tmp_table)
    before = {r["k"]: r["rid"] for r in dt.toDF().collect()}
    src = spark.sql("SELECT 1 AS k, CAST(999 AS BIGINT) AS rid")
    (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
       .whenMatchedUpdateAll().execute())
    after = {r["k"]: r["rid"] for r in dt.toDF().collect()}
    assert after == before  # identity untouched


def test_cdf_insert_rows_carry_identity(spark, tmp_table):
    from pyspark.sql import types as T
    from delta_spark.schema import IDENTITY_START_KEY, IDENTITY_STEP_KEY

    schema = T.StructType([
        T.StructField("rid", T.LongType(), True,
                      {IDENTITY_START_KEY: 1, IDENTITY_STEP_KEY: 1}),
        T.StructField("k", T.IntegerType(), True),
    ])
    (DT.create(spark).location(tmp_table).addColumns(schema)
       .property("delta.enableChangeDataFeed", "true").execute())
    write_delta(spark.sql("SELECT 1 AS k"), tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    v = DeltaLog.for_table(tmp_table).latest_version()
    # full-outer path (matched + not-matched clauses)
    src = spark.sql("SELECT 1 AS k, 11 AS nk UNION ALL SELECT 2, 2")
    (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
       .whenMatchedUpdate(set={"k": "s.nk"})
       .whenNotMatchedInsert(values={"k": "s.k"}).execute())
    from delta_spark.cdf import table_changes
    ch = table_changes(spark, DeltaLog.for_table(tmp_table),
                       starting_version=v + 1)
    feed = {(r["k"], r["rid"]) for r in
            ch.filter(F.col("_change_type") == "insert").collect()}
    table = {(r["k"], r["rid"]) for r in dt.toDF().filter("k = 2").collect()}
    assert feed == table and None not in {r for _, r in feed}


def test_update_whole_struct_set_with_notnull_field(spark, tmp_table):
    """Casting a SET value to the declared type must not trip on NOT
    NULL struct fields (nullability is enforced at the write seam)."""
    df = spark.sql("SELECT 1 AS id, named_struct('a', 5) AS s")  # a NOT NULL
    write_delta(df, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.update(set={"s": "named_struct('a', id + 7)"})
    assert dt.toDF().collect()[0]["s"]["a"] == 8


def test_overlapping_nested_set_rejected(spark, tmp_table):
    write_delta(spark.sql(
        "SELECT 1 AS id, named_struct('a', named_struct('b', 1)) AS s"),
        tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    with pytest.raises(ValueError, match="conflicting"):
        dt.update(set={"s.a": "named_struct('b', 2)", "s.a.b": "3"})


def test_sync_identity_negative_step(spark, tmp_table):
    from pyspark.sql import types as T
    from delta_spark.schema import (IDENTITY_ALLOW_EXPLICIT_KEY,
                                    IDENTITY_START_KEY, IDENTITY_STEP_KEY,
                                    identity_info)

    schema = T.StructType([
        T.StructField("rid", T.LongType(), True,
                      {IDENTITY_START_KEY: 100, IDENTITY_STEP_KEY: -1,
                       IDENTITY_ALLOW_EXPLICIT_KEY: True}),
        T.StructField("k", T.IntegerType(), True),
    ])
    DT.create(spark).location(tmp_table).addColumns(schema).execute()
    write_delta(spark.sql("SELECT 1 AS k"), tmp_table, mode="append")  # 100
    # explicit insert BELOW the generated range
    write_delta(spark.sql("SELECT CAST(40 AS BIGINT) AS rid, 2 AS k"),
                tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.syncIdentity()
    info = identity_info(DeltaLog.for_table(tmp_table).update().schema)["rid"]
    assert info["highWaterMark"] == 40  # advanced DOWN past the explicit id
    write_delta(spark.sql("SELECT 3 AS k"), tmp_table, mode="append")
    ids = [r["rid"] for r in dt.toDF().collect()]
    assert len(ids) == len(set(ids)) == 3 and min(ids) < 40


def test_cdf_across_rename_blocked_additive_allowed(spark, tmp_table):
    """CDCReader schema-compatibility: a CDF range spanning a RENAME or
    DROP is blocked with a clear error; additive evolution null-fills."""
    from delta_spark.cdf import table_changes

    write_delta(spark.sql("SELECT 1 AS a"), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true",
                               "delta.columnMapping.mode": "name"})
    dt = DeltaTable.forPath(spark, tmp_table)
    write_delta(spark.sql("SELECT 2 AS a"), tmp_table, mode="append")  # v1
    dt.renameColumn("a", "b")                                          # v2
    write_delta(spark.sql("SELECT 3 AS b"), tmp_table, mode="append")  # v3
    log = DeltaLog.for_table(tmp_table)
    with pytest.raises(ValueError, match="RENAME"):
        table_changes(spark, log, starting_version=0).collect()
    # narrowed to post-rename versions: fine
    rows = table_changes(spark, log, starting_version=3).collect()
    assert [(r["b"], r["_change_type"]) for r in rows] == [(3, "insert")]
    # additive evolution inside the range: old rows null-fill
    write_delta(spark.sql("SELECT 4 AS b, 'x' AS c"), tmp_table,
                mode="append", merge_schema=True)                      # v4
    rows = table_changes(spark, log, starting_version=3).collect()
    got = {(r["b"], r["c"]) for r in rows}
    assert got == {(3, None), (4, "x")}
    # a DROP inside the range is blocked too
    dt.dropColumn("c")                                                 # v5
    with pytest.raises(ValueError, match="DROP"):
        table_changes(spark, log, starting_version=3).collect()


def test_invariant_fastpath_escaping_and_update_selectexpr(spark, tmp_table):
    """The one-string enforcement and UPDATE projection texts must
    survive SQL-hostile text: constraint expressions and column names
    carrying quotes/backslashes, and trailing -- comments in constraint,
    SET and condition SQL."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("name's", T.StringType(), True),
        T.StructField("path\\col", T.LongType(), True),
    ])
    rows = [(1, "O'Brien", 10), (2, "x\\y", 20), (3, None, 30)]
    write_delta(spark.createDataFrame(rows, schema), tmp_table,
                mode="overwrite")
    dt = DeltaTable.forPath(spark, tmp_table)
    # CHECK constraint whose expr AND message carry a quoted literal
    dt.addCheckConstraint("no_smith", "`name's` IS NULL OR `name's` != 'Smith'")
    # fast-path UPDATE (whole-column SET) through the constraint
    dt.update(condition="k = 2", set={"`path\\col`": "`path\\col` + 100"})
    got = {r["k"]: (r["name's"], r["path\\col"]) for r in dt.toDF().collect()}
    assert got == {1: ("O'Brien", 10), 2: ("x\\y", 120), 3: (None, 30)}
    # violating UPDATE dies inside the write job with the check message
    with pytest.raises(Exception, match="no_smith"):
        dt.update(condition="k = 1", set={"`name's`": "'Smith'"})
    # NOT NULL on the fast path: nulling k is rejected
    with pytest.raises(Exception, match="NOT NULL"):
        dt.update(condition="k = 3", set={"k": "CAST(NULL AS LONG)"})
    # state unchanged after both rejections
    assert {r["k"] for r in dt.toDF().collect()} == {1, 2, 3}
    # a trailing -- comment in user SQL ends at its own line: it cannot
    # swallow the text composed after it
    dt.addCheckConstraint("pos", "k > 0 -- must be positive")
    write_delta(spark.createDataFrame([(4, "d", 40)], schema), tmp_table,
                mode="append")
    with pytest.raises(Exception, match="CHECK constraint pos"):
        write_delta(spark.createDataFrame([(-1, "e", 50)], schema), tmp_table,
                    mode="append")
    dt.update(condition="k = 4 -- the appended row",
              set={"`path\\col`": "`path\\col` + 1 -- bump"})
    got = {r["k"]: r["path\\col"] for r in dt.toDF().collect()}
    assert got == {1: 10, 2: 120, 3: 30, 4: 41}

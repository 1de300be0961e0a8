"""Physical-plan quality gates: these assert the *shape* of execution,
not results — log-level file pruning reaches the scan, predicates push
into Parquet, column pruning applies, small dimensions broadcast.
A correct-but-full-scan plan is a perf regression at 100 TB even when
row-for-row correct."""

import os

import pytest
from pyspark.sql import functions as F

from delta_spark.datasets import load_table
from delta_spark.io import write_delta
from delta_spark.table import DeltaTable


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning_reaches_scan(spark, tmp_table, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    write_delta(li, tmp_table, partition_by=["l_returnflag"])
    dt = DeltaTable.forPath(spark, tmp_table)
    files = dt.toDF("l_returnflag = 'A'").inputFiles()
    # only the A partition's files reach the scan
    assert files and all("l_returnflag=A" in f for f in files)


def test_predicate_pushdown_and_column_pruning(spark, tmp_table, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    write_delta(li, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    df = dt.toDF("l_quantity < 10").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "l_quantity" in plan and ("PushedFilters" in plan or "DataFilters" in plan)
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    # projection-pruned: wide columns never reach the reader
    assert "l_extendedprice" not in scan_line
    assert "l_comment" not in scan_line


def test_stats_skipping_reduces_scan_files(spark, tmp_table, sf_dir):
    from delta_spark.log import DeltaLog

    li = load_table(spark, sf_dir, "lineitem")
    write_delta(li.repartitionByRange(8, "l_orderkey"), tmp_table)
    snap = DeltaLog.for_table(tmp_table).update()
    assert len(snap.files_for_scan("l_orderkey < 100")) <= len(snap.all_files) // 2


def test_small_dim_join_broadcasts(spark, tmp_table, sf_dir):
    write_delta(load_table(spark, sf_dir, "lineitem"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    supp = load_table(spark, sf_dir, "supplier")
    joined = dt.toDF().join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_limit_pushdown_selects_few_files(spark, tmp_table, sf_dir):
    from delta_spark.log import DeltaLog

    li = load_table(spark, sf_dir, "lineitem")
    write_delta(li.repartition(8), tmp_table)
    snap = DeltaLog.for_table(tmp_table).update()
    files = snap.files_for_scan(limit=10)
    assert len(files) == 1  # first file already covers LIMIT 10
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF(limit=10).count() == 10


def test_metadata_only_aggregates(spark, tmp_table, sf_dir):
    """COUNT/MIN/MAX answered from log stats without a scan
    (OptimizeMetadataOnlyDeltaQuery equivalent)."""
    from delta_spark.log import DeltaLog

    li = load_table(spark, sf_dir, "lineitem")
    write_delta(li, tmp_table)
    snap = DeltaLog.for_table(tmp_table).update()
    aggs = snap.metadata_aggregates(["l_orderkey"])
    assert aggs is not None
    truth = li.agg(F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    assert aggs["numRecords"] == truth[0]
    assert aggs["minValues"]["l_orderkey"] == truth[1]
    assert aggs["maxValues"]["l_orderkey"] == truth[2]


def test_generated_partition_filter_derivation(spark, tmp_table, sf_dir):
    """Partition col GENERATED AS year(ts): predicates on the base
    timestamp prune partitions even with no file stats (the derivation
    path, not min/max skipping)."""
    from delta_spark.table import DeltaTable

    (DeltaTable.create(spark).location(tmp_table)
     .addColumn("o_orderkey", "long")
     .addColumn("o_orderdate", "timestamp")
     .addColumn("o_year", "int", generatedAlwaysAs="year(o_orderdate)")
     .partitionedBy("o_year")
     .execute())
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    write_delta(orders, tmp_table, mode="append")
    from delta_spark.log import DeltaLog

    snap = DeltaLog.for_table(tmp_table).update()
    assert len({f.partitionValues.get("o_year") for f in snap.all_files}) > 3
    # strip stats → only the derived partition conjunct can prune
    bare = snap.clone_state()
    for f in list(bare.active.values()):
        f.stats = None
    pred = ("o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND "
            "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")
    pruned = bare.files_for_scan(pred)
    kept_years = {f.partitionValues.get("o_year") for f in pruned}
    assert kept_years <= {"1997", "1998"}  # 1998 kept: year(U)=1998 non-strict
    assert len(pruned) < len(bare.all_files)
    # results still correct end-to-end
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF(pred).count() == orders.filter(pred).count()


def test_merge_phase1_prunes_with_target_only_conjuncts(spark, tmp_table, sf_dir,
                                                        monkeypatch):
    """A merge whose condition carries a target-only conjunct on the
    partition column must scan ONLY that partition's files in phase 1
    (ClassicMergeExecutor.findTouchedFiles data-skipping), not the
    whole table."""
    import delta_spark.reader as R

    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag").limit(2000)
    write_delta(li, tmp_table, partition_by=["l_returnflag"])
    dt = DeltaTable.forPath(spark, tmp_table)

    captured = {}
    orig = R.read_files_with_index

    def spy(spark_, snapshot, files):
        captured.setdefault("files", files)
        return orig(spark_, snapshot, files)

    monkeypatch.setattr(R, "read_files_with_index", spy)

    src = (dt.toDF().filter("l_returnflag = 'A' AND l_orderkey % 7 = 0")
           .groupBy(F.col("l_orderkey").alias("okey"),
                    F.col("l_linenumber").alias("lno"))
           .agg((F.max("l_quantity") + 1).alias("q"))
           .localCheckpoint(eager=True))
    (dt.merge(src, "target.l_orderkey = source.okey AND "
                   "target.l_linenumber = source.lno AND target.l_returnflag = 'A'")
       .whenMatchedUpdate(set={"l_quantity": "source.q"})
       .execute())

    scanned = captured["files"]
    snap = dt.log.update()
    assert scanned, "phase 1 scanned no files"
    assert all(f.partitionValues.get("l_returnflag") == "A" for f in scanned)
    assert len(scanned) < len(snap.all_files)
    # and the merge actually updated the rows
    got = dt.toDF().filter("l_returnflag = 'A'").alias("t").join(
        src, (F.col("t.l_orderkey") == F.col("okey"))
        & (F.col("t.l_linenumber") == F.col("lno"))).filter(
        "t.l_quantity <> q").count()
    assert got == 0


def test_merge_pruning_predicate_extraction(spark, tmp_table, sf_dir):
    from delta_spark.commands.merge import MergeBuilder, _split_top_and

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity")
    write_delta(li.limit(100), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    snap = dt.log.update()
    src = li.limit(5).selectExpr("l_orderkey AS okey", "l_quantity AS q")

    def pred_of(cond):
        return MergeBuilder(spark, dt.log, src, cond)._target_pruning_predicate(snap)

    assert _split_top_and("a = 1 AND (b = 2 OR c = 3) AND d LIKE '%AND%'") == \
        ["a = 1", "(b = 2 OR c = 3)", "d LIKE '%AND%'"]
    # pure join key → nothing target-only
    assert pred_of("target.l_orderkey = source.okey") is None
    # mixed: the partition conjunct survives, alias-stripped
    assert pred_of("target.l_orderkey = source.okey AND target.l_returnflag = 'A'") \
        == "(l_returnflag = 'A')"
    # unqualified target column works; unqualified source column rejects
    assert pred_of("target.l_orderkey = source.okey AND l_returnflag = 'A'") \
        == "(l_returnflag = 'A')"
    assert pred_of("target.l_orderkey = okey AND target.l_returnflag IN ('A','N')") \
        == "(l_returnflag IN ('A','N'))"
    # OR across source+target inside one conjunct → rejected whole
    assert pred_of("target.l_orderkey = source.okey OR target.l_returnflag = 'A'") is None
    # BETWEEN's pairing AND is an operand, not a conjunction
    assert _split_top_and("l_quantity BETWEEN 5 AND 10 AND l_returnflag = 'A'") == \
        ["l_quantity BETWEEN 5 AND 10", "l_returnflag = 'A'"]
    # the AND inside CASE..END never splits
    assert _split_top_and(
        "CASE WHEN a = 1 AND b = 2 THEN 1 ELSE 0 END = 1 AND c = 3") == \
        ["CASE WHEN a = 1 AND b = 2 THEN 1 ELSE 0 END = 1", "c = 3"]
    assert pred_of("target.l_orderkey = source.okey AND "
                   "target.l_quantity BETWEEN 5 AND 10") \
        == "(l_quantity BETWEEN 5 AND 10)"
    # an identifier that is neither a source nor a target column
    # (outer-scope ref / typo) must not become a pruning predicate
    assert pred_of("target.l_orderkey = source.okey AND l_returnflg = 'A'") is None
    # conjuncts outside the skipping-parser subset are dropped, not kept
    # as unverifiable read predicates
    assert pred_of("target.l_orderkey = source.okey AND "
                   "target.l_returnflag = 'A' AND "
                   "xxhash64(target.l_returnflag) % 2 = 0") \
        == "(l_returnflag = 'A')"


def test_merge_source_materialization_is_conditional(spark, tmp_table, sf_dir,
                                                     monkeypatch):
    """A deterministic file-based merge source must NOT be
    localCheckpoint'd (MergeIntoMaterializeSource shouldMaterializeSource:
    at 100 TB the checkpoint is a full second copy of the source on
    executor disks); nondeterministic sources must be."""
    from delta_spark.commands.merge import _should_materialize_source

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    write_delta(li, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)

    # unit: plan classification
    file_src = (li.filter("l_returnflag = 'A'")
                .groupBy("l_orderkey", "l_linenumber")
                .agg(F.max("l_quantity").alias("q")))
    assert not _should_materialize_source(file_src)
    assert not _should_materialize_source(dt.toDF())
    assert _should_materialize_source(li.withColumn("r", F.rand()))
    assert _should_materialize_source(li.limit(10))           # unordered limit
    assert _should_materialize_source(
        li.limit(10).localCheckpoint(eager=True))             # RDD-backed

    # behavioral: no checkpoint for the file-based source
    calls = []
    import pyspark.sql.classic.dataframe as CD
    orig = CD.DataFrame.localCheckpoint

    def spy(self, eager=True):
        calls.append(1)
        return orig(self, eager)

    monkeypatch.setattr(CD.DataFrame, "localCheckpoint", spy)
    (dt.merge(file_src.selectExpr("l_orderkey AS okey", "l_linenumber AS lno", "q"),
              "target.l_orderkey = source.okey AND target.l_linenumber = source.lno")
       .whenMatchedUpdate(set={"l_quantity": "source.q + 1000"})
       .execute())
    assert calls == [], "deterministic source was materialized"
    n = dt.toDF().filter("l_quantity >= 1000").count()
    assert n > 0
    # and a nondeterministic source still goes through the checkpoint
    nondet = (file_src.selectExpr("l_orderkey AS okey", "l_linenumber AS lno")
              .withColumn("r", F.rand()))
    (dt.merge(nondet, "target.l_orderkey = source.okey AND "
                      "target.l_linenumber = source.lno")
       .whenMatchedUpdate(set={"l_quantity": "source.r"})
       .execute())
    assert len(calls) == 1


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """chunk_documents is a narrow per-row expansion: the physical plan
    must contain no Exchange — at 100 TB a shuffle here would move the
    whole corpus."""
    from delta_spark.ops.pipeline import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(chunk_documents(docs))
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_broadcasts_query_side(spark, sf_dir):
    """Brute-force kNN must broadcast the small query side; the corpus
    never shuffles (ops/similarity.knn_cosine scale contract)."""
    from delta_spark.ops.similarity import knn_brute_force

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(5).withColumnRenamed("vec_id", "query_id")
    plan = _plan(knn_brute_force(emb, queries, k=3))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_subset_append_stays_codegen(spark, tmp_path, sf_dir):
    """The null-fill projection for subset appends is a plain Project
    over the scan — JVM-side, inside WholeStageCodegen, no Python."""
    p = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "x")], "a long, b string"), p)
    from delta_spark.util import schema_from_json
    from delta_spark.log import DeltaLog
    from delta_spark.writer import normalize_df

    schema = schema_from_json(DeltaLog.for_table(p).update().metadata.schemaString)
    out = normalize_df(spark.createDataFrame([(2,)], "a long"), schema,
                       allow_missing_nullable=True)
    plan = _plan(out)
    assert "Project" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_metadata_aggregates_wide_and_partial_stats(spark, tmp_table):
    """MIN/MAX from log stats is only answerable when every file
    contributed a value (or is provably all-null for the column); DV
    files disable the whole fast path; tightBounds=false rides on
    DV-carrying adds."""
    import json as _json

    from delta_spark.log import DeltaLog

    write_delta(spark.range(10).selectExpr(
        "id AS a", "CAST(NULL AS long) AS b"), tmp_table)
    write_delta(spark.range(10, 20).selectExpr(
        "id AS a", "id AS b"), tmp_table, mode="append")
    snap = DeltaLog.for_table(tmp_table).update()
    aggs = snap.metadata_aggregates(["a", "b"])
    assert aggs["numRecords"] == 20
    assert aggs["minValues"]["a"] == 0 and aggs["maxValues"]["a"] == 19
    # all-null first file is fine: b's extrema come from file 2
    assert aggs["minValues"]["b"] == 10 and aggs["maxValues"]["b"] == 19
    # DV delete: fast path off, and the add's stats turn wide
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.setProperties({"delta.enableDeletionVectors": "true"})
    dt.delete("a = 15")
    snap2 = DeltaLog.for_table(tmp_table).update()
    assert snap2.metadata_aggregates(["a"]) is None
    dv_adds = [f for f in snap2.all_files if f.deletionVector]
    assert dv_adds and all(
        _json.loads(f.stats).get("tightBounds") is False for f in dv_adds)


def test_limit_pushdown_accounts_for_dvs(spark, tmp_table):
    """File selection under LIMIT counts valid rows (numRecords minus
    DV cardinality), so a heavily-masked file cannot satisfy the limit
    on paper while returning too few real rows."""
    write_delta(spark.range(10).withColumnRenamed("id", "a").coalesce(1),
                tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    write_delta(spark.range(10, 20).withColumnRenamed("id", "a")
                .coalesce(1), tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("a < 8")        # first file keeps only 2 valid rows
    assert dt.toDF(limit=5).count() == 5
    from delta_spark.log import DeltaLog

    files = DeltaLog.for_table(tmp_table).update().files_for_scan(
        None, limit=15)
    # 15 valid rows require BOTH files (2 + 10 < 15 is false, but
    # 10 alone < 15 and 2 alone < 15)
    assert len(files) == 2


_PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "PythonUDF",
                 "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def test_small_dv_scan_runs_no_python(spark, tmp_table, monkeypatch):
    """Below the driver-decode bound, a DV scan decodes the deletion
    vectors on the driver: the plan has no Python node and drops the
    masked rows by a broadcast LEFT ANTI join. DV DELETE's reads of the
    existing vectors take the same path."""
    import delta_spark.reader as R

    write_delta(spark.range(0, 2000, numPartitions=4).withColumnRenamed(
        "id", "a"), tmp_table,
        configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("a % 7 = 0")
    plan = _plan(dt.toDF())
    assert not [n for n in _PYTHON_NODES if n in plan], plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert dt.toDF().count() == 2000 - len(range(0, 2000, 7))

    dv_reads = []
    orig = R.deleted_rows_df

    def spy(*args):
        out = orig(*args)
        dv_reads.append(out)
        return out

    monkeypatch.setattr(R, "deleted_rows_df", spy)
    dt.delete("a % 5 = 0")
    # the visible-row scan and the old-DV union both read existing DVs
    assert len(dv_reads) >= 2
    for d in dv_reads:
        plan = _plan(d)
        assert not [n for n in _PYTHON_NODES if n in plan], plan
    assert dt.toDF().count() == len(
        [a for a in range(2000) if a % 7 and a % 5])

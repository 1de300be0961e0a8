"""Streaming source + sink (reference DeltaSourceSuite/DeltaSinkSuite
style: real local streams driven to completion)."""

import os

import pytest
from pyspark.sql import functions as F

from delta_spark.datasets import load_table

from delta_spark.io import write_delta
from delta_spark.log import DeltaLog
from delta_spark.streaming import delta_sink, read_stream, write_stream
from delta_spark.table import DeltaTable


def test_sink_exactly_once(spark, tmp_table, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    sink = delta_sink(tmp_table, query_id="q1")
    sink(events.limit(100), batch_id=0)
    sink(events.limit(50), batch_id=1)
    # replayed batch must be skipped
    sink(events.limit(50), batch_id=1)
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.toDF().count() == 150

    # complete mode: batch 0 creates a partitioned table, each batch
    # replaces the table, and a replayed batch changes nothing
    out = str(tmp_path / "complete")
    full = delta_sink(out, query_id="q2", output_mode="complete",
                      partition_by=["event_type"])
    full(events.filter("event_id < 40"), batch_id=0)
    full(events.filter("event_id < 10"), batch_id=1)
    full(events.filter("event_id < 30"), batch_id=1)
    snap = DeltaLog.for_table(out).update()
    assert snap.version == 1
    assert snap.partition_columns == ["event_type"]
    dt2 = DeltaTable.forPath(spark, out)
    assert sorted(r["event_id"] for r in dt2.toDF().collect()) == \
        sorted(r["event_id"] for r in events.filter("event_id < 10").collect())
    h = dt2.history().collect()[0]
    assert h["operation"] == "STREAMING UPDATE"
    assert h["operationParameters"]["mode"] == "Overwrite"
    # DeltaSink accepts only Append and Complete: an "update" batch holds
    # only the changed rows, so overwriting with it would lose the rest
    with pytest.raises(ValueError, match="output_mode"):
        delta_sink(out, query_id="q3", output_mode="update")


def test_streaming_source_reads_table(spark, tmp_table, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(200), tmp_table)
    write_delta(events.limit(100), tmp_table, mode="append")

    # no rate limit: availableNow falls back to single-batch execution
    # for Python sources, so a cap would truncate the run (the capped
    # paths are exercised by the processingTime tests below)
    stream = read_stream(spark, tmp_table)
    q = (stream.writeStream.format("memory").queryName("t_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) c FROM t_stream").collect()[0]["c"]
    assert got == 300


def test_streaming_source_tails_new_commits(spark, tmp_table, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    out_tbl = str(tmp_path / "sink_tbl")
    write_delta(events.limit(10), tmp_table)
    stream = read_stream(spark, tmp_table)
    q = write_stream(stream, out_tbl, str(tmp_path / "ckpt2"), query_id="tailq")
    q.awaitTermination(120)
    dt = DeltaTable.forPath(spark, out_tbl)
    assert dt.toDF().count() == 10
    # new commit, then a second availableNow pass picks up only the delta
    write_delta(events.limit(5), tmp_table, mode="append")
    stream2 = read_stream(spark, tmp_table)
    q2 = write_stream(stream2, out_tbl, str(tmp_path / "ckpt2"), query_id="tailq")
    q2.awaitTermination(120)
    assert dt.toDF().count() == 15


def test_end_to_end_stream_pipeline(spark, tmp_table, sf_dir, tmp_path):
    """parquet source table → streaming read → windowed agg via
    foreachBatch → delta sink."""
    src_tbl = str(tmp_path / "src")
    out_tbl = str(tmp_path / "out")
    events = load_table(spark, sf_dir, "events")
    write_delta(events, src_tbl)

    stream = read_stream(spark, src_tbl)
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    q = (agg.writeStream
         .foreachBatch(delta_sink(out_tbl, "agg_q", output_mode="complete"))
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    dt = DeltaTable.forPath(spark, out_tbl)
    want = events.groupBy("event_type").count().count()
    assert dt.toDF().count() == want


def test_streaming_cdf_source(spark, tmp_table, sf_dir, tmp_path):
    """readChangeFeed streaming: inserts from the initial snapshot plus
    change rows (incl. delete-only commits) from later versions."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(50), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    sink_tbl = str(tmp_path / "cdf_sink")
    stream = read_stream(spark, tmp_table, readChangeFeed="true")
    q = write_stream(stream, sink_tbl, str(tmp_path / "cdfck"), query_id="cdfq")
    q.awaitTermination(120)
    out = DeltaTable.forPath(spark, sink_tbl)
    assert out.toDF().filter("_change_type = 'insert'").count() == 50

    # delete-only commit → delete change rows on resume
    n_del = dt.toDF().filter("value > 50").count()
    dt.delete("value > 50")
    stream2 = read_stream(spark, tmp_table, readChangeFeed="true")
    q2 = write_stream(stream2, sink_tbl, str(tmp_path / "cdfck"), query_id="cdfq")
    q2.awaitTermination(120)
    dels = out.toDF().filter("_change_type = 'delete'") \
        .agg(F.count(F.lit(1)).alias("c"), F.max("_commit_version").alias("v")).collect()[0]
    assert dels["c"] == n_del and dels["v"] == 1


def _drain(stream, tmp_path, name, batches):
    """Drain a stream through foreachBatch with a real microbatch
    trigger (Python sources don't support Trigger.AvailableNow — Spark
    falls back to ONE batch, so availableNow never exercises admission
    control), recording (batch_id, row_count) per microbatch."""
    def sink(df, bid):
        batches.append((bid, df.count()))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / name))
         .trigger(processingTime="0 seconds").start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    return q


def test_max_files_per_trigger_splits_backlog(spark, tmp_table, sf_dir, tmp_path):
    """A 10-commit backlog under maxFilesPerTrigger=2 must drain in
    multiple microbatches (admission control actually engages), with
    no rows lost or duplicated (streaming.py latestOffset capping)."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    for _ in range(9):
        write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    batches = []
    # startingVersion=0 streams the 10 commits as commits (not as one
    # initial snapshot), so the cap splits across commit boundaries
    stream = read_stream(spark, tmp_table, startingVersion="0",
                         maxFilesPerTrigger="2")
    _drain(stream, tmp_path, "ck_mft", batches)
    assert sum(n for _, n in batches) == 100
    assert len([b for b in batches if b[1] > 0]) >= 5
    assert max(n for _, n in batches) <= 20  # ≤2 files × 10 rows


def test_max_files_per_trigger_splits_snapshot(spark, tmp_table, sf_dir, tmp_path):
    """The initial snapshot's file list is also subject to the cap."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    for _ in range(4):
        write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    batches = []
    stream = read_stream(spark, tmp_table, maxFilesPerTrigger="2")
    _drain(stream, tmp_path, "ck_snap", batches)
    assert sum(n for _, n in batches) == 50
    assert len([b for b in batches if b[1] > 0]) >= 2
    assert max(n for _, n in batches) <= 20


def test_max_bytes_per_trigger(spark, tmp_table, sf_dir, tmp_path):
    """maxBytesPerTrigger=1 byte admits exactly one file per batch
    (always takes ≥1 file, like the reference's ReadMaxBytes)."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    for _ in range(3):
        write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    batches = []
    stream = read_stream(spark, tmp_table, startingVersion="0",
                         maxBytesPerTrigger="1")
    _drain(stream, tmp_path, "ck_mbt", batches)
    assert sum(n for _, n in batches) == 40
    assert len([b for b in batches if b[1] > 0]) == 4


def test_rate_limited_restart_no_dupes(spark, tmp_table, sf_dir, tmp_path):
    """Capped drain → stop → more commits → restart from the same
    checkpoint: partitions() re-seeds the admission base (_pos) from
    the checkpointed offsets and the delta arrives exactly once (the
    exactly-once delta sink makes any duplicate emission fatal)."""
    import time
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    for _ in range(4):
        write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    out_tbl = str(tmp_path / "rst_out")
    seen = {}

    def make_q(max_files):
        base = delta_sink(out_tbl, "rstq")
        def sink(df, bid):
            seen[bid] = df.count()
            base(df, bid)
        stream = read_stream(spark, tmp_table, startingVersion="0",
                             maxFilesPerTrigger=str(max_files))
        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / "ck_rst"))
                .trigger(processingTime="0 seconds").start())

    q = make_q(2)
    q.processAllAvailable()
    q.stop(); q.awaitTermination(60)
    out = DeltaTable.forPath(spark, out_tbl)
    assert out.toDF().count() == 50
    # two more commits, then a fresh reader on the SAME checkpoint
    write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    q2 = make_q(1)
    q2.processAllAvailable()
    assert out.toDF().count() == 70
    # live appends while the query runs: the re-seeded base caps them
    n_before = len(seen)
    write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    deadline = time.time() + 60
    while time.time() < deadline and out.toDF().count() < 90:
        q2.processAllAvailable()
    q2.stop(); q2.awaitTermination(60)
    assert out.toDF().count() == 90
    live = [n for bid, n in seen.items() if n > 0][n_before:]
    assert len(live) >= 2 and max(live) <= 10  # 1 file (=10 rows) per batch


def test_cdf_capped_stream_no_duplicate_changes(spark, tmp_table, sf_dir, tmp_path):
    """readChangeFeed + maxFilesPerTrigger: a multi-file commit must
    never be split across batches (latestOffset rounds capped CDF
    offsets up to commit boundaries), or its change rows would be
    emitted twice."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(20).coalesce(1), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})
    # v1: one commit, three files
    write_delta(events.limit(30).repartition(3), tmp_table, mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    n_del = dt.toDF().filter("value > 100").count()
    dt.delete("value > 100")  # v2: cdc files
    stream = read_stream(spark, tmp_table, readChangeFeed="true",
                         startingVersion="0", maxFilesPerTrigger="1")
    sink_tbl = str(tmp_path / "cdf_capped_sink")
    batches = []

    def sink(df, bid):
        batches.append((bid, df.count()))
        delta_sink(sink_tbl, "cdfcap")(df, bid)

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck_cdfcap"))
         .trigger(processingTime="0 seconds").start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = DeltaTable.forPath(spark, sink_tbl).toDF()
    assert out.filter("_change_type = 'insert'").count() == 50
    assert out.filter("_change_type = 'delete'").count() == n_del
    # exactly-once per change row: a split commit would double-emit
    assert out.count() == 50 + n_del
    assert len([b for b in batches if b[1] > 0]) >= 3


def test_ignore_deletes(spark, tmp_table, sf_dir, tmp_path):
    """ignoreDeletes skips delete-only commits (partition drops);
    rewriting deletes still fail without ignoreChanges
    (DeltaOptions.scala IGNORE_DELETES_OPTION)."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(50), tmp_table, partition_by=["event_type"])
    dt = DeltaTable.forPath(spark, tmp_table)
    etype = dt.toDF().select("event_type").first()[0]
    n_dropped = dt.toDF().filter(F.col("event_type") == etype).count()
    dt.delete(f"event_type = '{etype}'")  # metadata-only partition drop
    stream = read_stream(spark, tmp_table, startingVersion="0",
                         ignoreDeletes="true")
    q = (stream.writeStream.format("memory").queryName("m_igdel")
         .option("checkpointLocation", str(tmp_path / "ck_igdel"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) c FROM m_igdel").collect()[0]["c"]
    assert got == 50  # the original appends stream; the delete commit is skipped
    assert n_dropped > 0


def test_schema_tracking_rename_midstream(spark, tmp_table, sf_dir, tmp_path):
    """DeltaSourceMetadataTrackingLog behavior: a mid-stream RENAME
    stops the stream AFTER the pre-change backlog drains, records the
    evolved schema in the tracking log, and a restart (with the
    non-additive opt-in) resumes from the checkpoint reading the
    post-change commits with the new schema."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")
    rows, cols_seen = [], []

    def sink(df, bid):
        got = df.collect()
        rows.extend(got)
        if got:
            cols_seen.append(tuple(df.columns))

    def start(**opts):
        stream = read_stream(spark, tmp_table,
                             schemaTrackingLocation=str(tmp_path / "slog"), **opts)
        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / "ck_st"))
                .trigger(processingTime="0 seconds").start())

    q = start()
    q.processAllAvailable()
    assert len(rows) == 20
    # mid-stream: rename a column, then append under the new schema.
    # renameColumn makes TWO metadata commits (column-mapping upgrade,
    # then the rename) — each is a schema boundary with its own
    # stop/restart cycle, like the reference.
    DeltaTable.forPath(spark, tmp_table).renameColumn("value", "amount")
    write_delta(events.limit(5).coalesce(1).withColumnRenamed("value", "amount"),
                tmp_table, mode="append")
    with pytest.raises(Exception, match="[Ss]chema.*changed|restart"):
        q.processAllAvailable()
        q.awaitTermination(60)
    q.stop()
    assert len(rows) == 20  # nothing from the post-change commit yet

    # restart (no opt-in): crosses the additive upgrade boundary, then
    # stops at the RENAME boundary with the opt-in hint
    q_denied = start()
    with pytest.raises(Exception, match="allowSourceColumnRenameAndDrop"):
        q_denied.processAllAvailable()
        q_denied.awaitTermination(60)
    q_denied.stop()
    assert len(rows) == 20

    # restart again without the opt-in: the init-time gate refuses
    # (the tracked entry is now the non-additive rename schema)
    q_denied2 = start()
    with pytest.raises(Exception, match="allowSourceColumnRenameAndDrop"):
        q_denied2.processAllAvailable()
        q_denied2.awaitTermination(60)
    q_denied2.stop()

    # restart WITH the opt-in: resumes with the evolved schema
    q2 = start(allowSourceColumnRenameAndDrop="true")
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)
    assert len(rows) == 25
    assert "amount" in cols_seen[-1] and "value" not in cols_seen[-1]


def test_schema_tracking_additive_resumes_without_optin(spark, tmp_table, sf_dir,
                                                        tmp_path):
    """Adding a nullable column is additive: the stream still stops at
    the boundary (the running query's schema is fixed), but the
    restart needs no opt-in."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    rows = []

    def start():
        stream = read_stream(spark, tmp_table,
                             schemaTrackingLocation=str(tmp_path / "slog2"))
        return (stream.writeStream
                .foreachBatch(lambda df, bid: rows.extend(df.collect()))
                .option("checkpointLocation", str(tmp_path / "ck_add"))
                .trigger(processingTime="0 seconds").start())

    q = start()
    q.processAllAvailable()
    assert len(rows) == 10
    from pyspark.sql import types as T
    DeltaTable.forPath(spark, tmp_table).addColumns(
        [T.StructField("bonus", T.DoubleType())])
    write_delta(events.limit(5).coalesce(1).withColumn("bonus", F.lit(1.5)),
                tmp_table, mode="append")
    with pytest.raises(Exception, match="[Ss]chema.*changed|restart"):
        q.processAllAvailable()
        q.awaitTermination(60)
    q.stop()
    q2 = start()  # no opt-in needed for additive evolution
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)
    assert len(rows) == 15
    assert rows[-1]["bonus"] == 1.5


def test_default_and_cluster_by(spark, tmp_table, sf_dir, tmp_path):
    from delta_spark.table import DeltaTable as DT
    (DT.create(spark).location(tmp_table)
     .addColumn("k", "long")
     .addColumn("status", "string", default="'new'")
     .clusterBy("k")
     .execute())
    df = spark.range(100).selectExpr("id AS k")
    write_delta(df, tmp_table, mode="append")
    dt = DT.forPath(spark, tmp_table)
    assert dt.toDF().filter("status = 'new'").count() == 100
    # OPTIMIZE on a clustered table re-clusters on the clustering cols
    res = dt.optimize().executeCompaction()
    assert dt.toDF().count() == 100
    # CREATE TABLE LIKE copies schema incl. default
    like_path = str(tmp_path / "like")
    dt2 = DT.createLike(spark, tmp_table, like_path)
    write_delta(spark.range(5).selectExpr("id AS k"), like_path, mode="append")
    assert dt2.toDF().filter("status = 'new'").count() == 5


def test_streaming_source_after_rename(spark, tmp_table, sf_dir, tmp_path):
    """Streaming read of a column-mapped table: files store physical
    names; the stream must emit logical ones."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(40), tmp_table)
    DeltaTable.forPath(spark, tmp_table).renameColumn("value", "amount")
    write_delta(events.limit(10).withColumnRenamed("value", "amount"),
                tmp_table, mode="append")
    stream = read_stream(spark, tmp_table)
    q = (stream.writeStream.format("memory").queryName("m_ren")
         .option("checkpointLocation", str(tmp_path / "ckren"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT count(*) c, sum(amount) s FROM m_ren").collect()[0]
    want = events.limit(40).union(events.limit(10)).agg(
        F.count(F.lit(1)), F.sum("value")).collect()[0]
    assert out["c"] == want[0]
    assert abs(out["s"] - want[1]) < 1e-6


# ------------------------------------------------- streaming transforms ----

def _drain_fb(stream_df, sink, ckpt):
    q = (stream_df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="0 seconds").start())
    q.processAllAvailable()
    return q


def test_windowed_rollup_late_data(spark, tmp_table, sf_dir, tmp_path):
    """Watermarked tumbling windows over the delta source: windows
    finalize (append-emit) once the watermark passes, and rows later
    than the watermark are dropped."""
    from delta_spark.ops.stream_ops import windowed_rollup

    events = load_table(spark, sf_dir, "events").filter("user_id < 8") \
        .select("event_id", "ts", "user_id", "event_type", "value")
    write_delta(events, tmp_table)

    got = []
    rolled = windowed_rollup(read_stream(spark, tmp_table),
                             window="1 hour", watermark="2 hours")
    q = _drain_fb(rolled, lambda df, _b: got.extend(df.collect()),
               str(tmp_path / "ck_roll"))
    # sentinel far past every real event pushes the watermark beyond
    # all real windows; they must all finalize and emit exactly once
    sentinel = spark.sql("""
        SELECT CAST(9e9 AS BIGINT) AS event_id,
               TIMESTAMP '2030-01-01 00:00:00' AS ts,
               CAST(999999 AS BIGINT) AS user_id,
               'sentinel' AS event_type, CAST(0.0 AS DOUBLE) AS value""")
    write_delta(sentinel, tmp_table, mode="append")
    q.processAllAvailable()
    q.stop(); q.awaitTermination(60)

    want = {(r["ws"], r["event_type"]): (r["n"], r["total"]) for r in
            events.selectExpr("date_trunc('HOUR', ts) AS ws", "event_type", "value")
            .groupBy("ws", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()}
    emitted = {(r["window_start"], r["event_type"]): (r["n"], r["total"])
               for r in got if r["event_type"] != "sentinel"}
    assert set(emitted) == set(want)
    for k, (n, tot) in emitted.items():
        assert n == want[k][0]
        assert abs(tot - want[k][1]) < 1e-6


def test_streaming_dedup_across_batches(spark, tmp_table, sf_dir, tmp_path):
    """dropDuplicates state spans microbatches: a re-delivered event in
    a later commit is dropped."""
    from delta_spark.ops.stream_ops import streaming_dedup

    base = load_table(spark, sf_dir, "events").filter("user_id < 4") \
        .select("event_id", "ts", "user_id", "value").limit(50).cache()
    write_delta(base, tmp_table)

    got = []
    dd = streaming_dedup(read_stream(spark, tmp_table), watermark="10 hours")
    q = _drain_fb(dd, lambda df, _b: got.extend(df.collect()),
               str(tmp_path / "ck_dd"))
    n1 = len(got)
    # redeliver 20 of the same events plus nothing new
    write_delta(base.limit(20), tmp_table, mode="append")
    q.processAllAvailable()
    q.stop(); q.awaitTermination(60)
    assert n1 == base.count()
    assert len(got) == n1  # duplicates all dropped


def test_sessionize_stream_matches_batch(spark, tmp_table, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer: every session the watermark
    has closed matches the batch lag-window definition exactly."""
    from delta_spark.ops.stream_ops import sessionize_stream

    events = load_table(spark, sf_dir, "events").filter("user_id < 12") \
        .select("event_id", "ts", "user_id").cache()
    write_delta(events, tmp_table)

    got = []
    sess = sessionize_stream(read_stream(spark, tmp_table), gap_minutes=30)
    q = _drain_fb(sess, lambda df, _b: got.extend(df.collect()),
               str(tmp_path / "ck_sess"))
    # push the watermark past every real session's close
    sentinel = spark.sql("""
        SELECT CAST(9e9 AS BIGINT) AS event_id,
               TIMESTAMP '2030-01-01 00:00:00' AS ts,
               CAST(999999 AS BIGINT) AS user_id""")
    write_delta(sentinel, tmp_table, mode="append")
    q.processAllAvailable()
    q.stop(); q.awaitTermination(60)

    events.createOrReplaceTempView("sess_events")
    want = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
            for r in spark.sql("""
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS new_s
          FROM sess_events),
        s AS (SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM g)
        SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid""").collect()}
    emitted = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
               for r in got if r["user_id"] != 999999}
    assert emitted == want


def test_sessionize_stream_late_arrival_splits(spark, tmp_table, sf_dir, tmp_path):
    """An in-watermark late event whose gap to the open session exceeds
    the threshold must close as its OWN session (batch semantics), not
    merge — and one within the gap must extend the session start."""
    from delta_spark.ops.stream_ops import sessionize_stream

    def ev(eid, ts, uid):
        return spark.sql(f"SELECT CAST({eid} AS BIGINT) AS event_id, "
                         f"TIMESTAMP '{ts}' AS ts, CAST({uid} AS BIGINT) AS user_id")

    # open sessions: user 1 at [10:00, 10:05]; user 2 at [10:00, 10:02]
    write_delta(ev(1, "2024-06-01 10:00:00", 1)
                .union(ev(2, "2024-06-01 10:05:00", 1))
                .union(ev(3, "2024-06-01 10:00:00", 2))
                .union(ev(4, "2024-06-01 10:02:00", 2)), tmp_table)
    got = []
    sess = sessionize_stream(read_stream(spark, tmp_table), gap_minutes=30,
                             watermark="10 hours")
    q = _drain_fb(sess, lambda df, _b: got.extend(df.collect()),
                  str(tmp_path / "ck_late"))
    # late arrivals: user 1 at 09:10 (gap 50min > 30 → separate session);
    # user 2 at 09:40 (gap 20min ≤ 30 → extends session start)
    write_delta(ev(5, "2024-06-01 09:10:00", 1)
                .union(ev(6, "2024-06-01 09:40:00", 2)), tmp_table, mode="append")
    q.processAllAvailable()
    # sentinel closes everything via the event-time timeout
    write_delta(ev(7, "2030-01-01 00:00:00", 99), tmp_table, mode="append")
    q.processAllAvailable()
    q.stop(); q.awaitTermination(60)

    out = {(r["user_id"], str(r["session_start"]), str(r["session_end"])): r["n_events"]
           for r in got if r["user_id"] != 99}
    assert out == {
        (1, "2024-06-01 09:10:00", "2024-06-01 09:10:00"): 1,
        (1, "2024-06-01 10:00:00", "2024-06-01 10:05:00"): 2,
        (2, "2024-06-01 09:40:00", "2024-06-01 10:02:00"): 3,
    }


def test_streaming_starting_timestamp(spark, tmp_table, sf_dir, tmp_path):
    """startingTimestamp streams changes committed at/after the
    timestamp (DeltaOptions STARTING_TIMESTAMP_OPTION), skipping the
    initial snapshot like startingVersion."""
    import datetime
    import time

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    write_delta(events.limit(40), tmp_table)
    time.sleep(1.2)
    mark = datetime.datetime.now().isoformat()
    time.sleep(1.2)
    write_delta(events.limit(10), tmp_table, mode="append")

    stream = read_stream(spark, tmp_table, startingTimestamp=mark)
    q = (stream.writeStream.format("memory").queryName("m_sts")
         .option("checkpointLocation", str(tmp_path / "ck_sts"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) c FROM m_sts").collect()[0]["c"] == 10


def test_exclude_regex_and_data_change_write(spark, tmp_table, sf_dir, tmp_path):
    """excludeRegex drops matching files from the stream; a
    dataChange=false rearrangement write is invisible to it."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    write_delta(events.limit(30), tmp_table, partition_by=["user_id"])

    stream = read_stream(spark, tmp_table, excludeRegex=r"user_id=3/")
    q = (stream.writeStream.format("memory").queryName("m_exc")
         .option("checkpointLocation", str(tmp_path / "ck_exc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) c, sum(CASE WHEN user_id = 3 THEN 1 ELSE 0 END) u3 FROM m_exc").collect()[0]
    base = events.limit(30)
    assert got["u3"] == 0
    assert got["c"] == base.filter("user_id <> 3").count()

    # dataChange=false write: a tailing stream skips the rearrangement
    # commit but still sees a later real append
    latest = DeltaLog.for_table(tmp_table).latest_version()
    got = []
    tail = read_stream(spark, tmp_table, startingVersion=str(latest + 1))
    qt = _drain_fb(tail, lambda df, _b: got.extend(df.collect()),
                   str(tmp_path / "ck_dc"))
    write_delta(events.limit(5), tmp_table, mode="append", data_change=False)
    qt.processAllAvailable()
    assert got == []
    write_delta(events.limit(4), tmp_table, mode="append")
    qt.processAllAvailable()
    qt.stop(); qt.awaitTermination(60)
    assert len(got) == 4


def test_fail_on_data_loss_false_skips_cleaned_gap(spark, tmp_table, sf_dir, tmp_path):
    """A mid-backlog commit json reclaimed by log cleanup kills the
    stream by default; failOnDataLoss=false skips the gap."""
    import os

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    write_delta(events.limit(10), tmp_table)
    for i in range(3):
        write_delta(events.limit(5), tmp_table, mode="append")
    # simulate cleanup reclaiming commit 1 (covered by a checkpoint, as
    # real log cleanup requires)
    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint(log.update())
    os.remove(os.path.join(tmp_table, "_delta_log", f"{1:020d}.json"))
    DeltaLog.clear_cache()

    stream = read_stream(spark, tmp_table, startingVersion="1",
                         failOnDataLoss="false")
    q = (stream.writeStream.format("memory").queryName("m_fdl")
         .option("checkpointLocation", str(tmp_path / "ck_fdl"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # commits 2 and 3 stream; the reclaimed commit 1 is skipped
    assert spark.sql("SELECT count(*) c FROM m_fdl").collect()[0]["c"] == 10


def test_batch_datasource_read_parity(spark, tmp_table, sf_dir):
    """spark.read.format('delta_py') — the batch half of the python
    DataSource: row parity with toDF(), deletion vectors applied, and
    versionAsOf/timestampAsOf snapshot pinning."""
    from delta_spark.streaming import register

    li = load_table(spark, sf_dir, "lineitem").limit(400)
    write_delta(li, tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")   # DV-masked, files not rewritten
    snap = DeltaLog.for_table(tmp_table).update()
    assert any(f.deletionVector for f in snap.all_files), \
        "fixture must exercise the DV read path"

    register(spark)
    got = spark.read.format("delta_py").option("path", tmp_table).load()
    want = dt.toDF()
    assert got.count() == want.count()
    assert (got.exceptAll(want).count() == 0
            and want.exceptAll(got).count() == 0)

    # time travel to the pre-delete snapshot
    v0 = (spark.read.format("delta_py").option("path", tmp_table)
          .option("versionAsOf", "0").load())
    assert v0.count() == 400
    ts0 = [r["timestamp"] for r in dt.history().collect()
           if r["version"] == 0][0]
    t0 = (spark.read.format("delta_py").option("path", tmp_table)
          .option("timestampAsOf", str(ts0)).load())
    assert t0.count() == 400


def test_batch_datasource_read_column_mapping(spark, tmp_table, sf_dir):
    """Batch delta_py read resolves renamed (physical-name) columns."""
    from delta_spark.streaming import register

    orders = load_table(spark, sf_dir, "orders").limit(50)
    write_delta(orders, tmp_table,
                configuration={"delta.columnMapping.mode": "name"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.renameColumn("o_totalprice", "price")

    register(spark)
    got = spark.read.format("delta_py").option("path", tmp_table).load()
    assert "price" in got.columns
    want = dt.toDF().agg(F.sum("price")).collect()[0][0]
    assert abs(float(got.agg(F.sum("price")).collect()[0][0])
               - float(want)) < 1e-6


def test_stream_source_applies_deletion_vectors(spark, tmp_table, sf_dir, tmp_path):
    """The initial-snapshot scan must not resurrect DV-masked rows
    (DeltaParquetFileFormat row-filter semantics on the source)."""
    from delta_spark.streaming import register

    register(spark)
    li = load_table(spark, sf_dir, "lineitem").limit(300)
    write_delta(li, tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 40")
    want = dt.toDF().count()
    assert any(f.deletionVector
               for f in DeltaLog.for_table(tmp_table).update().all_files)

    q = (read_stream(spark, tmp_table).writeStream.format("memory")
         .queryName("dv_stream")
         .option("checkpointLocation", str(tmp_path / "ck_dv"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    got = spark.sql("SELECT count(*) c FROM dv_stream").collect()[0]["c"]
    assert got == want


def test_streaming_starting_version_latest(spark, tmp_table, sf_dir, tmp_path):
    """startingVersion='latest' (DeltaOptions STARTING_VERSION_OPTION):
    the stream carries ONLY commits made after it starts — the existing
    snapshot is never emitted."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    write_delta(events.limit(40), tmp_table)

    out_tbl = str(tmp_path / "sink_svl")
    ck = str(tmp_path / "ck_svl")
    stream = read_stream(spark, tmp_table, startingVersion="latest")
    q = write_stream(stream, out_tbl, ck, query_id="svlq")
    q.awaitTermination(120)
    # the pre-existing 40-row snapshot is NOT emitted
    assert not DeltaTable.isDeltaTable(spark, out_tbl) or \
        DeltaTable.forPath(spark, out_tbl).toDF().count() == 0

    write_delta(events.limit(7), tmp_table, mode="append")
    stream2 = read_stream(spark, tmp_table, startingVersion="latest")
    q2 = write_stream(stream2, out_tbl, ck, query_id="svlq")
    q2.awaitTermination(120)
    assert DeltaTable.forPath(spark, out_tbl).toDF().count() == 7


def test_ignore_file_deletion_alias(spark, tmp_table, sf_dir, tmp_path):
    """The deprecated ignoreFileDeletion option aliases ignoreDeletes
    (DeltaSource.scala:764)."""
    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(30), tmp_table, partition_by=["event_type"])
    dt = DeltaTable.forPath(spark, tmp_table)
    etype = dt.toDF().select("event_type").first()[0]
    dt.delete(f"event_type = '{etype}'")
    stream = read_stream(spark, tmp_table, startingVersion="0",
                         ignoreFileDeletion="true")
    q = (stream.writeStream.format("memory").queryName("m_igfd")
         .option("checkpointLocation", str(tmp_path / "ck_igfd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) c FROM m_igfd").collect()[0]["c"] == 30


def test_restart_against_recreated_table_fails(spark, tmp_table, sf_dir, tmp_path):
    """Offsets carry the table id (DeltaSourceOffset.reservoirId): a
    restart from a checkpoint written against a table that was since
    deleted and recreated must fail, not silently serve the new
    table's commits ('unmatched reservoir id')."""
    import shutil

    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10), tmp_table)
    ck = str(tmp_path / "ck")
    out_tbl = str(tmp_path / "out")
    q = write_stream(read_stream(spark, tmp_table), out_tbl, ck,
                     query_id="ridq")
    q.awaitTermination(120)
    assert DeltaTable.forPath(spark, out_tbl).toDF().count() == 10
    # delete + recreate the source table (new metadata id)
    shutil.rmtree(tmp_table)
    DeltaLog.clear_cache()
    write_delta(events.limit(7), tmp_table)
    q2 = write_stream(read_stream(spark, tmp_table), out_tbl, ck,
                      query_id="ridq")
    failed = False
    try:
        q2.awaitTermination(120)
        failed = q2.exception() is not None
    except Exception:
        failed = True
    assert failed, "restart against a recreated table must fail"
    err = str(q2.exception() or "")
    assert "deleted and recreated" in err or "different delta table" in err


def test_available_now_pins_end_and_respects_caps(spark, tmp_table, sf_dir):
    """Trigger.AvailableNow semantics at the source (reference
    DeltaSource prepareForTriggerAvailableNow): the end version is
    pinned at the FIRST latestOffset call, per-batch caps stay
    engaged, and commits landing mid-drain are not consumed."""
    from delta_spark.streaming import DeltaStreamReader

    events = load_table(spark, sf_dir, "events")
    for mode in [None, "append", "append"]:  # v0..v2, one file each
        write_delta(events.limit(10).coalesce(1), tmp_table,
                    mode=mode or "error")
    r = DeltaStreamReader(None, {
        "path": tmp_table, "availablenow": "true", "cappeddrain": "true",
        "maxfilespertrigger": "1", "startingversion": "0"})
    off = r.initialOffset()
    seen_versions = []
    for step in range(20):
        nxt = r._latest_offset()
        if nxt == off:
            break
        parts = list(r.partitions(off, nxt))
        assert len(parts) <= 1, "cap of 1 file per trigger violated"
        seen_versions.append(nxt["version"])
        off = nxt
        if step == 0:
            # commits landing mid-drain must NOT extend the run
            write_delta(events.limit(10).coalesce(1), tmp_table,
                        mode="append")
            write_delta(events.limit(10).coalesce(1), tmp_table,
                        mode="append")
            r._log = None  # force the reader to re-open the log
    else:
        pytest.fail("drain never converged")
    assert max(seen_versions) == 2, \
        f"drain must stop at the pinned version 2, saw {seen_versions}"
    assert len(seen_versions) >= 3  # capped → one file per batch


def test_available_now_drain_capped_end_to_end(spark, tmp_table, sf_dir,
                                               tmp_path):
    """drain_available_now: a capped 6-commit backlog drains in
    multiple exactly-once microbatches and stops; a second drain from
    the same checkpoint picks up only post-drain commits."""
    from delta_spark.streaming import drain_available_now, read_stream

    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    for _ in range(5):
        write_delta(events.limit(10).coalesce(1), tmp_table, mode="append")

    sink = str(tmp_path / "an_sink")
    ck = str(tmp_path / "an_ck")
    stream = read_stream(spark, tmp_table, startingVersion="0",
                         maxFilesPerTrigger="2", availableNow="true",
                         cappedDrain="true")
    drain_available_now(stream, sink, ck, query_id="anq")
    out = DeltaTable.forPath(spark, sink)
    assert out.toDF().count() == 60
    # cap 2 files/batch over 6 single-file commits → ≥3 sink commits
    assert out.history().count() >= 3

    # post-drain commit: a fresh availableNow pass gets exactly it
    write_delta(events.limit(7).coalesce(1), tmp_table, mode="append")
    stream2 = read_stream(spark, tmp_table, startingVersion="0",
                          maxFilesPerTrigger="2", availableNow="true",
                          cappedDrain="true")
    drain_available_now(stream2, sink, ck, query_id="anq")
    assert DeltaTable.forPath(spark, sink).toDF().count() == 67


def test_available_now_with_caps_requires_acknowledgment(spark, tmp_table,
                                                          sf_dir):
    """availableNow + rate limits without cappedDrain acknowledgment
    fails construction loudly: Spark's native trigger(availableNow)
    single-batches Python sources, which would silently truncate a
    capped drain (ADVICE r5)."""
    from delta_spark.streaming import DeltaStreamReader

    events = load_table(spark, sf_dir, "events")
    write_delta(events.limit(10).coalesce(1), tmp_table)
    with pytest.raises(ValueError, match="cappedDrain"):
        DeltaStreamReader(None, {
            "path": tmp_table, "availablenow": "true",
            "maxfilespertrigger": "1"})
    with pytest.raises(ValueError, match="cappedDrain"):
        DeltaStreamReader(None, {
            "path": tmp_table, "availablenow": "true",
            "maxbytespertrigger": "1g"})
    # uncapped availableNow and capped non-availableNow remain fine
    DeltaStreamReader(None, {"path": tmp_table, "availablenow": "true"})
    DeltaStreamReader(None, {"path": tmp_table, "maxfilespertrigger": "1"})


def test_datasource_nested_column_mapping_roundtrip(spark, tmp_path):
    """format('delta_py') read on an id-mode table with nested structs:
    files store physical nested names + parquet field ids at every
    level (pyarrow casts match struct children by name, so the Arrow
    reader renames structurally via Array.view; id-mode JVM readers
    resolve by id and read files without ids as all-null). The source
    is read-only: a `write.format('delta_py')` fails and commits
    nothing."""
    import pyspark.errors as PE

    from delta_spark.streaming import register

    register(spark)
    t = str(tmp_path / "nested_cm")
    write_delta(spark.sql("SELECT 1 AS id, named_struct('aa', 5, 'ab', 'x') AS s"),
                t, configuration={"delta.columnMapping.mode": "id"})
    write_delta(spark.sql("SELECT 2 AS id, named_struct('aa', 7, 'ab', 'y') AS s"),
                t, mode="append")
    with pytest.raises(PE.AnalysisException):
        (spark.sql("SELECT 3 AS id, named_struct('aa', 9, 'ab', 'z') AS s")
         .write.format("delta_py").mode("append").save(t))
    assert DeltaLog.for_table(t).update().version == 1
    want = [(1, 5, "x"), (2, 7, "y")]
    # JVM read path
    got = sorted((r["id"], r["s"]["aa"], r["s"]["ab"])
                 for r in DeltaTable.forPath(spark, t).toDF().collect())
    assert got == want
    # Python DataSource batch read path
    got_ds = sorted((r["id"], r["s"]["aa"], r["s"]["ab"])
                    for r in spark.read.format("delta_py").load(t).collect())
    assert got_ds == want
    # every file carries nested physical names + field ids
    import pyarrow.parquet as pq
    from delta_spark.schema import physical_name
    snap = DeltaLog.for_table(t).update()
    s_phys = physical_name(snap.schema["s"])
    for f in snap.all_files:
        sch = pq.read_schema(os.path.join(t, f.path))
        sf = sch.field(s_phys)
        assert all(sf.type.field(i).name.startswith("col-")
                   for i in range(sf.type.num_fields))
        assert all(b"PARQUET:field_id" in (sf.type.field(i).metadata or {})
                   for i in range(sf.type.num_fields))


def test_additive_change_recurses_into_array_and_map():
    """A field added inside array<struct<...>> or a map's struct value
    is ADDITIVE (reference isReadCompatible recurses through array
    element and map key/value types) — it must not demand the
    allowSourceColumnRenameAndDrop opt-in."""
    from pyspark.sql import types as T

    from delta_spark.streaming import _is_additive_change

    def j(*fields):
        return T.StructType(list(fields)).json()

    arr_old = j(T.StructField("xs", T.ArrayType(T.StructType([
        T.StructField("aa", T.IntegerType())]))))
    arr_new = j(T.StructField("xs", T.ArrayType(T.StructType([
        T.StructField("aa", T.IntegerType()),
        T.StructField("bb", T.StringType())]))))
    assert _is_additive_change(arr_old, arr_new)
    assert not _is_additive_change(arr_new, arr_old)          # drop

    map_old = j(T.StructField("m", T.MapType(T.StringType(), T.StructType([
        T.StructField("aa", T.IntegerType())]))))
    map_new = j(T.StructField("m", T.MapType(T.StringType(), T.StructType([
        T.StructField("aa", T.IntegerType()),
        T.StructField("bb", T.StringType())]))))
    assert _is_additive_change(map_old, map_new)
    assert not _is_additive_change(map_new, map_old)

    # retype inside the array element is still non-additive
    arr_retype = j(T.StructField("xs", T.ArrayType(T.StructType([
        T.StructField("aa", T.LongType())]))))
    assert not _is_additive_change(arr_old, arr_retype)


def test_streaming_cdf_reads_mapped_cdc_files(spark, tmp_table, tmp_path):
    """CDC files under column mapping carry PHYSICAL column names
    (protocol contract, round 8): the streaming readChangeFeed source
    must resolve them back to logical names — a delete's change rows
    stream with real values, not NULLs."""
    from delta_spark.streaming import register

    write_delta(spark.sql("SELECT 1 AS id, 'a' AS val"), tmp_table,
                configuration={"delta.columnMapping.mode": "name",
                               "delta.enableChangeDataFeed": "true"})
    DeltaTable.forPath(spark, tmp_table).delete("id = 1")
    register(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = (spark.readStream.format("delta_py")
         .option("readChangeFeed", "true").option("startingVersion", "0")
         .option("path", tmp_table).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    rows = {(r["id"], r["val"], r["_change_type"])
            for r in spark.read.parquet(out).collect()}
    assert rows == {(1, "a", "insert"), (1, "a", "delete")}

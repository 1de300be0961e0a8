"""Snapshot → DataFrame (reference DeltaLog.createRelation /
TahoeLogFileIndex → FileSourceScanExec path).

We hand Spark an *explicit pruned file list* plus the full table schema
(data + partition columns) and the table root as ``basePath`` so
Spark's own partition-discovery attaches typed partition columns. The
result is a single Parquet relation — predicate pushdown, column
pruning, vectorized reading and whole-stage codegen all apply exactly
as for a plain parquet read; our log-level pruning has already removed
irrelevant files before Catalyst ever sees the scan.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from delta_spark.actions import AddFile
from delta_spark.snapshot import Snapshot
from delta_spark.util import deserialize_partition_value


def _abs_path(table_path: str, f: AddFile) -> str:
    from delta_spark.util import resolve_log_path

    return resolve_log_path(table_path, f.path)


def file_key_col():
    """Stable per-file key for row-level bookkeeping (DVs, row ids):
    the full decoded path. Basenames are NOT unique — a partitioned
    write emits the same part-file name into every partition dir.
    `url_decode` is form-decoding ('+' → space); pre-escape literal
    '+' so the key matches `file_key_of`'s percent-only decode."""
    return F.regexp_replace(
        F.url_decode(F.regexp_replace(F.input_file_name(), r"\+", "%2B")),
        "^file:/*", "/")


def file_key_of(table_path: str, f: AddFile) -> str:
    return os.path.normpath(_abs_path(table_path, f))


def _is_absolute_add(table_path: str, f: AddFile) -> bool:
    """Classify by the RESOLVED location, not the raw log string —
    'file:/x' single-slash URIs (Hadoop Path.toString of cloned
    absolute paths) must land in the absolute branch."""
    p = _abs_path(table_path, f)
    return not p.startswith(os.path.join(table_path, ""))


def read_files_df(
    spark: SparkSession,
    snapshot: Snapshot,
    files: Optional[list[AddFile]] = None,
    with_file_key: bool = False,
) -> DataFrame:
    """Build a DataFrame over the given AddFiles (defaults to the whole
    snapshot).

    `with_file_key` appends a `__cdf_file_key` column (file_key_col():
    the decoded absolute path, matching file_key_of) so callers that
    coalesce MANY per-file-set reads into one scan — the batch CDF
    long-range walk — can join per-file metadata (commit version /
    timestamp) back on without one DataFrame per file set."""
    from delta_spark import geo as _geo

    files = snapshot.all_files if files is None else files
    logical_schema = snapshot.schema
    _geo.assert_readable(spark, logical_schema)
    if not files:
        out_schema = logical_schema
        if with_file_key:
            out_schema = T.StructType(
                list(logical_schema.fields)
                + [T.StructField("__cdf_file_key", T.StringType())])
        return spark.createDataFrame([], out_schema)
    mapped = snapshot.column_mapping_enabled
    if mapped:
        # files store physical names: read physically, alias back.
        # IdMapping resolves parquet columns BY field id, not name —
        # the read schema carries parquet.field.id and Spark's
        # fieldId.read path does the matching.
        from delta_spark.schema import physical_schema as _phys

        by_id = snapshot.column_mapping_mode == "id"
        if by_id:
            # session-wide by necessity (execution-time conf) — saves
            # the user's prior values, see util.ensure_field_id_read_confs
            from delta_spark.util import ensure_field_id_read_confs
            ensure_field_id_read_confs(spark)
        schema = _phys(logical_schema, with_field_ids=by_id)
        l2p = snapshot.physical_map()
        part_cols = [l2p.get(c, c) for c in snapshot.partition_columns]
    else:
        schema = logical_schema
        part_cols = snapshot.partition_columns
    # geo columns live in parquet as WKB binary (writer seam wkb_out);
    # read binary, reconstruct the logical geo type at the end
    schema = _geo.binary_read_schema(schema)

    dv_files = [f for f in files if f.deletionVector]
    plain = [f for f in files if not f.deletionVector]
    rel_files = [f for f in plain
                 if not _is_absolute_add(snapshot.table_path, f)]
    abs_files = [f for f in plain if _is_absolute_add(snapshot.table_path, f)]

    fk = ([file_key_col().alias("__cdf_file_key")] if with_file_key else [])
    dfs = []
    if rel_files:
        paths = [_abs_path(snapshot.table_path, f) for f in rel_files]
        if part_cols:
            df = (spark.read.option("basePath", snapshot.table_path)
                  .schema(schema).parquet(*paths))
        else:
            df = spark.read.schema(schema).parquet(*paths)
        dfs.append(df.select(*[f.name for f in schema.fields], *fk))
    if dv_files:
        dfs.append(_read_dv_files(spark, snapshot, dv_files, schema,
                                  part_cols, with_file_key=with_file_key))
    if abs_files:
        # absolute paths (shallow clones): attach partition values as
        # typed literals per distinct partition tuple
        pset = set(part_cols)
        data_schema = T.StructType([f for f in schema.fields if f.name not in pset])
        ptypes = {f.name: f.dataType for f in schema.fields if f.name in pset}
        groups: dict[tuple, list[AddFile]] = {}
        for f in abs_files:
            key = tuple(f.partitionValues.get(c) for c in part_cols)
            groups.setdefault(key, []).append(f)
        for key, group in groups.items():
            df = spark.read.schema(data_schema).parquet(*[_abs_path(snapshot.table_path, f) for f in group])
            for c in part_cols:
                raw = group[0].partitionValues.get(c)
                val = deserialize_partition_value(raw, ptypes[c])
                df = df.withColumn(c, F.lit(val).cast(ptypes[c]))
            dfs.append(df.select(*[f.name for f in schema.fields], *fk))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    if mapped:
        # physical → logical projection. Nested struct fields are
        # physically named too (reference contract), so a top-level
        # alias isn't enough: CAST to the logical shape renames at
        # every nesting level (struct casts are positional in Spark).
        from delta_spark.schema import strip_nested_metadata_type

        def back(p, l):
            if isinstance(l.dataType, (T.StructType, T.ArrayType, T.MapType)):
                return F.col(p.name).cast(
                    strip_nested_metadata_type(l.dataType)).alias(l.name)
            # primitives (incl. geo read as WKB binary) keep the plain
            # alias — a cast would fight the geo restore seam below
            return F.col(p.name).alias(l.name)

        out = out.select(*([back(p, l) for p, l in
                            zip(schema.fields, logical_schema.fields)]
                           + ([F.col("__cdf_file_key")] if with_file_key
                              else [])))
    return _geo.restore(out, logical_schema)


# Summed DV cardinality (rows) at or below which a scan decodes the
# deletion vectors on the driver and broadcasts them into the anti-join.
# Above it, executors decode them so driver memory stays bounded.
DV_DRIVER_DECODE_MAX_ROWS = 2_000_000


def dv_total_small(dv_files) -> bool:
    return sum(f.dv_cardinality for f in dv_files) <= DV_DRIVER_DECODE_MAX_ROWS


def deleted_rows_df(spark: SparkSession, snapshot, files) -> Optional[DataFrame]:
    """DataFrame(file_base string, row_index long) of every
    DV-masked row across the given files, whatever the DV encoding:

    - ``q`` (engine-native): parquet row-index sets, read directly —
      already distributed.
    - ``u``/``i``/``p`` (protocol RoaringBitmapArray, PROTOCOL.md
      §Deletion Vectors): at or below ``DV_DRIVER_DECODE_MAX_ROWS``
      the blobs are decoded on the driver into a local relation that
      the JVM explodes — no Python worker, no extra job. Above it,
      executors decode them (``mapInPandas``) so the expansion never
      lands on the driver.
    """
    dfs = []
    q_dirs = sorted({f.deletionVector["pathOrInlineDv"] for f in files
                     if f.deletionVector and f.deletionVector["storageType"] == "q"})
    for d in q_dirs:
        dfs.append(spark.read.parquet(os.path.join(snapshot.table_path, d)))
    proto = [(file_key_of(snapshot.table_path, f), f.deletionVector)
             for f in files
             if f.deletionVector and f.deletionVector["storageType"] in ("u", "i", "p")]
    if proto:
        decode = (_driver_decoded_rows if dv_total_small(files)
                  else _executor_decoded_rows)
        dfs.append(decode(spark, snapshot.table_path, proto))
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _driver_decoded_rows(spark: SparkSession, table_path: str,
                         proto) -> DataFrame:
    """Decode every descriptor here (size and CRC checked by
    ``dv.descriptor_row_indexes``) into one row per file
    ``(file_base, row_indexes array<long>)``; Arrow hands it to the JVM
    as a local relation and ``explode`` runs there."""
    import numpy as np
    import pyarrow as pa

    from delta_spark import dv as _dv

    idx = [_dv.descriptor_row_indexes(table_path, d).astype(np.int64)
           for _, d in proto]
    offsets = np.zeros(len(idx) + 1, dtype=np.int32)
    np.cumsum([len(i) for i in idx], out=offsets[1:])
    table = pa.table({
        "file_base": [base for base, _ in proto],
        "row_indexes": pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(np.concatenate(idx)))})
    return (spark.createDataFrame(
                table, "file_base string, row_indexes array<long>")
            .select("file_base", F.explode("row_indexes").alias("row_index")))


def _executor_decoded_rows(spark: SparkSession, table_path: str,
                           proto) -> DataFrame:
    """One ``mapInPandas`` task per slice of descriptors decodes its
    files' compact roaring blobs into row indexes."""
    desc_df = spark.createDataFrame(
        [(base, d["storageType"], d["pathOrInlineDv"],
          int(d.get("offset") or 0), int(d["sizeInBytes"]))
         for base, d in proto],
        "file_base string, st string, pod string, offset long, size long")

    def _explode(batches):
        import pandas as _pd

        from delta_spark import dv as _dv

        for pdf in batches:
            for r in pdf.itertuples():
                idx = _dv.descriptor_row_indexes(
                    table_path, {"storageType": r.st, "pathOrInlineDv": r.pod,
                                 "offset": r.offset, "sizeInBytes": r.size})
                yield _pd.DataFrame({"file_base": r.file_base,
                                     "row_index": idx.astype("int64")})

    from delta_spark.connect_compat import default_parallelism

    n = min(len(proto), default_parallelism(spark))
    return desc_df.repartition(n).mapInPandas(
        _explode, "file_base string, row_index long")


def _with_row_position(df: DataFrame) -> DataFrame:
    """Tag each scanned row with `__file_base` (file_key_col) and
    `__row_idx` (its position in the parquet file)."""
    return (df.withColumn("__file_base", file_key_col())
            .withColumn("__row_idx", F.col("_metadata.row_index")))


def _drop_deleted_rows(spark: SparkSession, snapshot, df: DataFrame,
                       files) -> DataFrame:
    """Drop DV-masked rows from a `_with_row_position` scan of `files`
    by a LEFT ANTI join on (file key, row index) — the DataFrame
    analogue of DeltaParquetFileFormat.scala:194's IS_ROW_DELETED
    filter. The sets are broadcast exactly when they are within the
    bound under which `deleted_rows_df` decodes them on the driver.
    Sound across DV generations because
    every rewrite of a file's DV unions its predecessor (a stale set is
    always a subset)."""
    dv = deleted_rows_df(spark, snapshot, files)
    if dv is None:
        return df
    if dv_total_small(files):
        dv = F.broadcast(dv)
    return df.join(dv, (df["__file_base"] == dv["file_base"])
                   & (df["__row_idx"] == dv["row_index"]), "left_anti")


def _read_dv_files(spark: SparkSession, snapshot, dv_files, schema,
                   part_cols, with_file_key: bool = False) -> DataFrame:
    """Scan files that carry deletion vectors, masked rows dropped."""
    paths = [_abs_path(snapshot.table_path, f) for f in dv_files]
    if part_cols:
        # cloned tables point at absolute paths under the SOURCE root —
        # basePath must be the files' common root for partition parsing
        if any(_is_absolute_add(snapshot.table_path, f) for f in dv_files):
            base = os.path.commonpath([os.path.dirname(p) for p in paths])
            for _ in range(len(part_cols)):
                if "=" in os.path.basename(base):
                    base = os.path.dirname(base)
            reader = spark.read.option("basePath", base)
        else:
            reader = spark.read.option("basePath", snapshot.table_path)
    else:
        reader = spark.read
    df = _with_row_position(reader.schema(schema).parquet(*paths))
    dropped = _drop_deleted_rows(spark, snapshot, df, dv_files)
    fk = ([F.col("__file_base").alias("__cdf_file_key")]
          if with_file_key else [])
    return dropped.select(*[f.name for f in schema.fields], *fk)


def materialized_row_id_col(snapshot) -> Optional[str]:
    """Name of the physical-only stable-row-id column
    (PROTOCOL.md:1684 `delta.rowTracking.materializedRowIdColumnName`;
    assigned at rowTracking enable time)."""
    return (snapshot.configuration or {}).get(
        "delta.rowTracking.materializedRowIdColumnName")


def materialized_row_commit_col(snapshot) -> Optional[str]:
    """Name of the physical-only stable-row-commit-version column
    (PROTOCOL.md:1715)."""
    return (snapshot.configuration or {}).get(
        "delta.rowTracking.materializedRowCommitVersionColumnName")


def read_files_with_index(spark: SparkSession, snapshot, files,
                          request_materialized_row_id: bool = False) -> DataFrame:
    """Visible rows of the given files plus bookkeeping columns
    `__file_base` / `__row_idx` (used by the DV write path). Rows
    already masked by an existing deletion vector are excluded. With
    ``request_materialized_row_id``, the table's materialized row-id
    column is also requested (null-filled for files that never
    materialized it)."""
    from delta_spark import geo as _geo

    schema = snapshot.schema
    _geo.assert_readable(spark, schema)
    part_cols = snapshot.partition_columns
    mat_cols = []
    if request_materialized_row_id:
        mat_cols = [c for c in (materialized_row_id_col(snapshot),
                                materialized_row_commit_col(snapshot))
                    if c is not None]
    if snapshot.column_mapping_enabled:
        from delta_spark.schema import physical_schema as _phys

        by_id = snapshot.column_mapping_mode == "id"
        if by_id:
            # session-wide by necessity (execution-time conf) — saves
            # the user's prior values, see util.ensure_field_id_read_confs
            from delta_spark.util import ensure_field_id_read_confs
            ensure_field_id_read_confs(spark)
        l2p = snapshot.physical_map()
        read_schema = _phys(schema, with_field_ids=by_id)
        part_cols = [l2p.get(c, c) for c in part_cols]
    else:
        read_schema = schema
    if mat_cols:
        read_schema = T.StructType(
            list(read_schema.fields)
            + [T.StructField(c, T.LongType(), True) for c in mat_cols])
    from delta_spark import geo as _geo

    read_schema = _geo.binary_read_schema(read_schema)
    paths = [_abs_path(snapshot.table_path, f) for f in files]
    reader = spark.read.option("basePath", snapshot.table_path) if part_cols else spark.read
    df = _with_row_position(reader.schema(read_schema).parquet(*paths))
    if snapshot.column_mapping_enabled:
        df = df.select(*([F.col(p.name).alias(l.name)
                          for p, l in zip(read_schema.fields, schema.fields)]
                         + [df[c] for c in mat_cols]
                         + [F.col("__file_base"), F.col("__row_idx")]))
    df = _drop_deleted_rows(spark, snapshot, df, files)
    return _geo.restore(df, schema)


def read_snapshot_distributed(
    spark: SparkSession,
    log,
    predicate: Optional[str] = None,
    limit: Optional[int] = None,
    version: Optional[int] = None,
) -> DataFrame:
    """Scan planned WITHOUT driver-side log replay — the >10⁶-file
    path. Metadata comes from ``DeltaLog.light_snapshot`` (column-
    pruned checkpoint read), the live file set is reconstructed AND
    stats-pruned executor-side (``files_for_scan_df`` = the DataFrame
    forms of Snapshot.scala:598 stateReconstruction +
    DataSkippingReader.scala:656 withStats), and only the pruned
    SURVIVORS are collected to drive the parquet relation — the
    reference's filesForScan contract: files-after-skipping land on the
    driver, the full state never does.

    Result-identical to the replay path (read_snapshot): same relation
    builder (read_files_df), DV filtering and column mapping included —
    tests/test_distributed_replay.py proves parity."""
    snap = log.light_snapshot(version)
    rows = (log.files_for_scan_df(spark, predicate, version=snap.version,
                                  limit=limit)
            .select("path", "partitionValues", "size", "modificationTime",
                    "deletionVector")
            .collect())
    files = [
        AddFile(
            path=r.path,
            partitionValues=dict(r.partitionValues or {}),
            size=r.size or 0,
            modificationTime=r.modificationTime or 0,
            deletionVector=(json.loads(r.deletionVector)
                            if r.deletionVector else None),
        ) for r in rows]
    df = read_files_df(spark, snap, files)
    if predicate:
        df = df.filter(predicate)
    if limit is not None:
        df = df.limit(limit)
    return df


def read_snapshot(
    spark: SparkSession,
    snapshot: Snapshot,
    predicate: Optional[str] = None,
    limit: Optional[int] = None,
) -> DataFrame:
    """Snapshot scan with log-level pruning; the predicate is ALSO
    re-applied by Spark on the rows (skipping is file-granular)."""
    if not snapshot.schema.fields:
        # DeltaErrors.schemaNotSetException: the log is readable (state,
        # history) but data cannot be scanned without a schema
        raise ValueError(
            "Table schema is not set. Write data into it or use CREATE "
            "TABLE to set the schema.")
    files = snapshot.files_for_scan(predicate, limit)
    df = read_files_df(spark, snapshot, files)
    if predicate:
        df = df.filter(predicate)
    if limit is not None:
        df = df.limit(limit)
    return df


def _file_lit_map(snapshot, files, value_of):
    """file-key → literal long map (bounded by the batch's file count —
    rewrite batches and scans both pass pruned sets)."""
    m = {file_key_of(snapshot.table_path, f): value_of(f) for f in files}
    return F.create_map(*[x for k, v in m.items()
                          for x in (F.lit(k), F.lit(v))])


def _base_row_id_expr(snapshot, files, fb_col: str, idx_col: str):
    """Fresh (default-generated) row id: baseRowId + position-in-file
    (RowId.scala)."""
    return (_file_lit_map(snapshot, files, lambda f: f.baseRowId or 0)
            [F.col(fb_col)] + F.col(idx_col))


def read_with_row_ids(spark: SparkSession, snapshot) -> DataFrame:
    """Rows + their stable `_row_id` and `_row_commit_version` (row
    tracking). Per PROTOCOL.md:1688/1720 the stable values are the
    MATERIALIZED columns when a file carries them (written by rewrites
    so ids survive OPTIMIZE and DML), else the default generated
    values: baseRowId + position-in-file, and the AddFile's
    defaultRowCommitVersion."""
    files = snapshot.all_files
    schema = snapshot.schema
    if not files:
        return spark.createDataFrame([], T.StructType(
            schema.fields + [T.StructField("_row_id", T.LongType()),
                             T.StructField("_row_commit_version",
                                           T.LongType())]))
    mat = materialized_row_id_col(snapshot)
    matv = materialized_row_commit_col(snapshot)
    df = read_files_with_index(spark, snapshot, files,
                               request_materialized_row_id=True)
    base = _base_row_id_expr(snapshot, files, "__file_base", "__row_idx")
    default_ver = _file_lit_map(
        snapshot, files,
        lambda f: f.defaultRowCommitVersion or 0)[F.col("__file_base")]
    stable = F.coalesce(df[mat], base) if mat is not None else base
    ver = F.coalesce(df[matv], default_ver) if matv is not None else default_ver
    drop = (["__file_base", "__row_idx"]
            + [c for c in (mat, matv) if c is not None])
    return (df.withColumn("_row_id", stable)
            .withColumn("_row_commit_version", ver)
            .drop(*drop))


def read_files_with_stable_ids(spark: SparkSession, snapshot,
                               files) -> DataFrame:
    """Rewrite input on a row-tracked table: visible rows of `files`
    with the MATERIALIZED row-id / row-commit-version columns populated
    (existing materialized value preferred, else the default generated
    value) — writers MUST preserve stable row IDs when rearranging or
    updating data (PROTOCOL.md Writer Requirements for Row Tracking;
    MaterializedRowTrackingColumn.scala). Callers that MODIFY a row
    null out its commit-version column so the row picks up the new
    commit's default."""
    mat = materialized_row_id_col(snapshot)
    if mat is None:
        return read_files_df(spark, snapshot, files)
    matv = materialized_row_commit_col(snapshot)
    if not files:
        out = read_files_df(spark, snapshot, files)  # empty, typed
        out = out.withColumn(mat, F.lit(None).cast("long"))
        if matv is not None:
            out = out.withColumn(matv, F.lit(None).cast("long"))
        return out
    df = read_files_with_index(spark, snapshot, files,
                               request_materialized_row_id=True)
    base = _base_row_id_expr(snapshot, files, "__file_base", "__row_idx")
    df = df.withColumn(mat, F.coalesce(df[mat], base))
    if matv is not None:
        default_ver = _file_lit_map(
            snapshot, files,
            lambda f: f.defaultRowCommitVersion or 0)[F.col("__file_base")]
        df = df.withColumn(matv, F.coalesce(df[matv], default_ver))
    return df.drop("__file_base", "__row_idx")

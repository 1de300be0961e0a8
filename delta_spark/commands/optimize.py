"""OPTIMIZE: bin-packing compaction + Z-ORDER multi-dimensional
clustering (reference commands/OptimizeTableCommand.scala:216-341,
groupFilesIntoBins :407; skipping/MultiDimClustering.scala,
MultiDimClusteringFunctions.scala:41 range_partition_id,
:58 interleave_bits; expressions/InterleaveBits.scala:40).

Compaction: per partition, greedily pack files smaller than
min_file_size into bins of ≤ max_file_size, rewrite each partition's
bins in ONE distributed job (`repartition(n_bins)`), commit
Add(dataChange=false) + Remove. Readers are unaffected (snapshot
isolation; conflict-free with appends since dataChange=false commits
take SnapshotIsolation).

Z-ORDER: one narrow driver-side sample (≤1M rows of the clustering
columns, collected through Arrow) yields both the per-column range
bounds and the z-key file bounds. Each row's range ids come from a
WHEN chain (≤16 bounds) or an Arrow-batched `searchsorted`, their bits
interleave into one long z-key with shift/or arithmetic, and
`repartitionById` on the z-key's file index + `sortWithinPartitions`
sends each row straight to its output file — one full-input execution,
no range-partitioner sampling job, no global window (a global ntile()
would serialize through one partition at 100 TB). Each file covers a
tight z-curve segment → tight min/max stats → effective data skipping
on all clustered dimensions.
"""

from __future__ import annotations

import json
import math
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from delta_spark.actions import AddFile
from delta_spark.log import DeltaLog
from delta_spark.reader import read_files_df
from delta_spark.transaction import OptimisticTransaction, dml_transaction
from delta_spark.writer import write_table_files

DEFAULT_MAX_FILE_SIZE = 256 * 1024 * 1024   # reference default 1 GiB; smaller
DEFAULT_MIN_FILE_SIZE = 128 * 1024 * 1024   # suits local bench scale
DEFAULT_ZORDER_NUM_RANGES = 256              # reference default 1000
# files produced by a clustering OPTIMIZE are stamped with the cube
# they belong to (zorder/ZCubeInfo.scala ZCUBE_ID tag); a later
# incremental OPTIMIZE only touches files outside any cube — at 100 TB
# this is the difference between clustering the day's ingest and
# rewriting the whole table every run
ZCUBE_ID_TAG = "ZCUBE_ID"


class OptimizeBuilder:
    def __init__(self, spark: SparkSession, log: DeltaLog,
                 partition_filter: Optional[str] = None):
        self.spark = spark
        self.log = log
        self.partition_filter = partition_filter

    def where(self, partitionFilter: str) -> "OptimizeBuilder":
        self.partition_filter = partitionFilter
        return self

    def executeCompaction(self, max_file_size: int = DEFAULT_MAX_FILE_SIZE,
                          min_file_size: Optional[int] = None,
                          full: bool = False) -> dict:
        # clustered tables: OPTIMIZE re-clusters on the clustering
        # columns (OptimizeTableStrategy clustering branch) —
        # incrementally (only files not yet in a ZCube) unless FULL
        cols = self._clustering_columns()
        if cols:
            return _zorder(self.spark, self.log, cols, self.partition_filter,
                           max_file_size, DEFAULT_ZORDER_NUM_RANGES,
                           clustering=True, full=full)
        return _compact(self.spark, self.log, self.partition_filter,
                        max_file_size, min_file_size or max_file_size // 2)

    def executeFull(self, max_file_size: int = DEFAULT_MAX_FILE_SIZE) -> dict:
        """OPTIMIZE ... FULL: re-cluster every file of a clustered table,
        including files already inside a ZCube."""
        return self.executeCompaction(max_file_size=max_file_size, full=True)

    def _clustering_columns(self) -> list[str]:
        import json as _json

        dm = self.log.update().domain_metadata.get("delta.clustering")
        if dm is None:
            return []
        try:
            return list(_json.loads(dm.configuration).get("clusteringColumns", []))
        except (ValueError, TypeError):
            return []

    def executeZOrderBy(self, *cols: str,
                        max_file_size: int = DEFAULT_MAX_FILE_SIZE,
                        num_ranges: int = DEFAULT_ZORDER_NUM_RANGES) -> dict:
        return _zorder(self.spark, self.log, list(cols), self.partition_filter,
                       max_file_size, num_ranges)


def _file_rows(f: AddFile) -> int:
    """numRecords from the file's stats blob (0 when stats are absent)."""
    if not f.stats:
        return 0
    try:
        return int(json.loads(f.stats).get("numRecords") or 0)
    except (ValueError, TypeError):
        return 0


def _rewrite_input(spark: SparkSession, snapshot, files) -> DataFrame:
    """Rows to rewrite in a dataChange=false operation. On a
    row-tracked table the materialized stable-row-id column rides along
    so OPTIMIZE/ZORDER preserve row ids through the rewrite
    (PROTOCOL.md Writer Requirements for Row Tracking)."""
    if str(snapshot.configuration.get(
            "delta.enableRowTracking", "false")).lower() == "true":
        from delta_spark.reader import read_files_with_stable_ids

        return read_files_with_stable_ids(spark, snapshot, files)
    return read_files_df(spark, snapshot, files)


def _select_partitions(txn: OptimisticTransaction, partition_filter: Optional[str]):
    """Group candidate files by partition tuple, honoring the optional
    partition predicate (OPTIMIZE ... WHERE only allows partition cols).
    On a distributed-planning transaction a filtered OPTIMIZE selects
    its candidates executor-side — only the matching partitions'
    AddFiles reach the driver."""
    from delta_spark import predicates as P

    snapshot = txn.snapshot
    part_cols = snapshot.partition_columns
    if partition_filter:
        ast = P.parse_predicate(partition_filter)
        refs = P.references(ast)
        if not refs <= set(part_cols):
            raise ValueError("OPTIMIZE WHERE supports partition columns only")
        # distributed pre-prune, then the EXACT three-valued partition
        # check (pruning keeps unknowns conservatively; OPTIMIZE WHERE
        # must only rewrite partitions that definitely match). Read
        # tracking is scoped to the FINAL set — recording conservative
        # candidates would turn a concurrent delete of a non-matching
        # file into a spurious ConcurrentDeleteReadException.
        if txn._spark is not None and snapshot.files_unloaded:
            from delta_spark.log import addfiles_from_state_rows

            cand = addfiles_from_state_rows(
                txn.log.files_for_scan_df(
                    txn._spark, partition_filter,
                    version=txn.read_version).collect())
        else:
            cand = snapshot.files_for_scan(partition_filter)
        files = [f for f in cand
                 if P.eval_partition(
                     ast, snapshot.typed_partition_values(f)) is True]
        txn.read_predicates.append(partition_filter)
        txn.read_files.update(f.path for f in files)
    else:
        files = snapshot.all_files
    groups: dict[tuple, list[AddFile]] = {}
    for f in files:
        key = tuple(sorted((k, v) for k, v in f.partitionValues.items()))
        groups.setdefault(key, []).append(f)
    return groups


def _dv_ratio(f: AddFile) -> float:
    """Deleted-rows fraction of a file, from its DV cardinality and
    numRecords stats (OptimizeTableCommand maxDeletedRowsRatio)."""
    dv = f.deletionVector
    if not dv or not dv.get("cardinality"):
        return 0.0
    try:
        n = json.loads(f.stats or "{}").get("numRecords")
    except (TypeError, ValueError):
        n = None
    if not n:
        return 1.0  # DV present but no stats: assume worth rewriting
    return float(dv["cardinality"]) / float(n)


def _compact(spark: SparkSession, log: DeltaLog, partition_filter: Optional[str],
             max_file_size: int, min_file_size: int) -> dict:
    txn = dml_transaction(spark, log)
    snapshot = txn.snapshot
    from delta_spark import catalog_managed as CM

    CM.check_maintenance_allowed(snapshot.configuration,
                                 snapshot.protocol, "OPTIMIZE")
    try:
        max_dv_ratio = float(snapshot.configuration.get(
            "delta.optimize.maxDeletedRowsRatio", "0.05"))
    except (TypeError, ValueError):
        max_dv_ratio = 0.05
    adds: list[AddFile] = []
    removes = []
    n_bins = 0
    n_dv_purged = 0
    for _key, files in _select_partitions(txn, partition_filter).items():
        # candidates: small files + files whose DV deletes exceed the
        # ratio (their rewrite also materializes the DV — rows drop out
        # in read_files_df, so the new files carry no DV)
        dv_heavy = [f for f in files if _dv_ratio(f) > max_dv_ratio]
        small = {f.path: f for f in files if f.size < min_file_size}
        for f in dv_heavy:
            small[f.path] = f
        chosen = list(small.values())
        if not dv_heavy:
            if len(chosen) < 2:
                continue
            total = sum(f.size for f in chosen)
            bins = max(1, math.ceil(total / max_file_size))
            if bins >= len(chosen):
                continue  # repacking wouldn't reduce file count
        else:
            if not chosen:
                continue
            total = sum(f.size for f in chosen)
            bins = max(1, math.ceil(total / max_file_size))
        df = _rewrite_input(spark, snapshot, chosen)
        new = write_table_files(df.repartition(bins), snapshot, data_change=False)
        adds.extend(new)
        removes.extend(f.remove(data_change=False) for f in chosen)
        txn.read_files.update(f.path for f in chosen)
        n_bins += bins
        n_dv_purged += sum(1 for f in chosen if f.deletionVector)
    metrics = {
        "numRemovedFiles": str(len(removes)),
        "numAddedFiles": str(len(adds)),
        "numBatches": str(n_bins),
        "numDeletionVectorsRemoved": str(n_dv_purged),
    }
    if not adds and not removes:
        return {"version": txn.read_version, **metrics}
    v = txn.commit(list(adds) + list(removes), "OPTIMIZE",
                   {"predicate": json.dumps([partition_filter] if partition_filter else [])},
                   metrics)
    return {"version": v, **metrics}


def _searchsorted_rid(value: Column, boundaries: list) -> Column:
    """Range-id via an Arrow-batched pandas UDF doing a vectorized
    binary search (np.searchsorted) — the PySpark analogue of the
    reference's RangePartitionId expression, whose partitioner also
    binary-searches sampled bounds (expressions/RangePartitionId.scala:36).
    A SQL fold over the boundary array is interpreted per element
    (~100× slower at 256 ranges); searchsorted is O(log n) in C."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bounds = np.array(boundaries, dtype="float64")

    def _rid(s):
        v = s.to_numpy(dtype="float64", na_value=np.nan)
        out = np.searchsorted(bounds, v, side="right")
        out[np.isnan(v)] = 0
        return pd.Series(out.astype("int32"))

    # lambda form: `from __future__ import annotations` stringifies type
    # hints, which pandas_udf cannot introspect
    rid = pandas_udf(_rid, "int")
    return rid(value.cast("double"))


def interleave_bits(range_ids: list[Column], bits_per_col: int) -> Column:
    """Interleave the low `bits_per_col` bits of each range id into one
    long (expressions/InterleaveBits.scala:40) with pure shift/or
    arithmetic — stays inside whole-stage codegen."""
    k = len(range_ids)
    terms = None
    for b in range(bits_per_col):
        for i, rid in enumerate(range_ids):
            bit = F.shiftright(rid.cast("long"), b).bitwiseAND(F.lit(1))
            placed = F.shiftleft(bit, b * k + (k - 1 - i))
            terms = placed if terms is None else terms.bitwiseOR(placed)
    return terms if terms is not None else F.lit(0)


_SAMPLE_CAP_ROWS = 1_000_000


def _np_zkeys(V, all_bounds, bits: int):
    """numpy replica of range_id_column_from + interleave_bits over a
    sample matrix V (N × k, NaN = null): rid = searchsorted(bounds,
    side='right') with NaN→0 — exactly the WHEN-chain / Arrow
    searchsorted semantics — and bit b of rid i lands at position
    b·k + (k-1-i). Must stay in lockstep with the SQL expressions: the
    file boundaries derived from these sample keys are quantiles of
    the SAME distribution the full pass computes."""
    import numpy as np

    k = V.shape[1]
    z = np.zeros(len(V), dtype=np.int64)
    for i in range(k):
        v = V[:, i]
        bounds = np.asarray(all_bounds[i], dtype=np.float64)
        rid = np.searchsorted(bounds, v, side="right")
        rid[np.isnan(v)] = 0
        rid = rid.astype(np.int64)
        for b in range(bits):
            z |= ((rid >> b) & 1) << (b * k + (k - 1 - i))
    return z


def _zorder_key(df: DataFrame, cols: list[str], num_ranges: int,
                n_out: int, rows: int):
    """Attach a __zkey column and derive the output-file bounds that
    route it, all from ONE driver-side sample of the clustering columns.

    The narrow numeric projections of a ≤1M-row uniform sample (the
    fraction follows from ``rows``) are collected through Arrow. Per
    column, ``num_ranges`` quantiles of that sample are the range
    bounds; the sample's own z-keys (``_np_zkeys``, the numpy replica of
    the row expressions) then give the ``n_out - 1`` z-key quantiles
    that split the table into equally sized output files. Quantile
    jitter at 1M samples moves a border by O(1/√1M), far below file
    granularity. Returns ``(frame, z-key column, file bounds)``; the
    bounds list is empty when ``n_out`` is 1 or the input is empty.

    ``num_ranges`` is capped at 16 ranges per output file (floor 64):
    clustering quality is FILE-granular (min/max skipping reads whole
    files), so finer ids only reorder rows inside a file, while the
    bound lists and the per-row id computation grow with them. Small
    jobs thereby stay on the codegen'd WHEN-chain id path.

    Range ids are materialized as real columns BEFORE bit interleaving:
    interleave_bits references each id `bits` times, and inlining the
    id expression there would blow up codegen by bits×."""
    import numpy as np

    num_ranges = min(num_ranges, max(64, 16 * n_out))
    bits = max(1, math.ceil(math.log2(num_ranges)))
    probs = [i / num_ranges for i in range(1, num_ranges)]

    def _numeric(c: str) -> Column:
        dt = df.schema[c].dataType.typeName()
        if dt in ("string", "binary"):
            # strings: range ids over a numeric surrogate (xxhash) keeps
            # the quantile pass numeric; clustering quality equals
            # hash-range clustering for strings
            return F.xxhash64(F.col(c)).cast("double")
        if dt in ("timestamp", "timestamp_ntz"):
            return F.unix_micros(F.col(c)).cast("double")
        if dt == "date":
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        return F.col(c).cast("double")

    nums = [_numeric(c) for c in cols]
    sample_src = df.select(*[n.alias(f"__v_{i}") for i, n in enumerate(nums)])
    if rows > _SAMPLE_CAP_ROWS:
        sample_src = sample_src.sample(False, _SAMPLE_CAP_ROWS / rows, seed=42)
    V = sample_src.toPandas().to_numpy(dtype="float64", na_value=float("nan"))
    all_bounds = []
    for i in range(len(cols)):
        col_v = V[:, i] if len(V) else np.array([], dtype="float64")
        valid = col_v[~np.isnan(col_v)]
        all_bounds.append(
            [float(x) for x in np.quantile(valid, probs)]
            if len(valid) and probs else [])
    file_bounds = []
    if n_out > 1 and len(V):
        zs = _np_zkeys(V, all_bounds, bits)
        file_bounds = [float(x) for x in np.quantile(
            zs, [i / n_out for i in range(1, n_out)])]
    out = df
    rid_cols = []
    for idx, (num, bounds) in enumerate(zip(nums, all_bounds)):
        name = f"__rid_{idx}"
        out = out.withColumn(name, range_id_column_from(num, bounds))
        rid_cols.append(name)
    key = interleave_bits([F.col(n) for n in rid_cols], bits)
    return out.withColumn("__zkey", key).drop(*rid_cols), "__zkey", file_bounds


def range_id_column_from(value: Column, boundaries: list) -> Column:
    if not boundaries:
        return F.lit(0)
    if len(boundaries) <= 16:
        # tiny boundary lists: stay fully codegen'd with a WHEN chain.
        # NOT larger ones: interleave_bits references the rid column
        # bits× and CollapseProject inlines the chain into every
        # reference — a 63-term chain became a 750-term zkey expression
        # (measured 3x slower than the Arrow searchsorted, whose UDF
        # result is evaluated once per batch and never inlined).
        expr = F.lit(0)
        for b in boundaries:
            expr = expr + F.when(value >= F.lit(b), 1).otherwise(0)
        return expr
    return _searchsorted_rid(value, boundaries)


def _zorder(spark: SparkSession, log: DeltaLog, cols: list[str],
            partition_filter: Optional[str], max_file_size: int,
            num_ranges: int, clustering: bool = False,
            full: bool = True) -> dict:
    import uuid as _uuid

    txn = dml_transaction(spark, log)
    snapshot = txn.snapshot
    from delta_spark import catalog_managed as CM

    CM.check_maintenance_allowed(snapshot.configuration,
                                 snapshot.protocol, "OPTIMIZE ZORDER/CLUSTER")
    if not cols:
        raise ValueError("ZORDER BY requires at least one column")
    part_cols = set(snapshot.partition_columns)
    for c in cols:
        if c in part_cols:
            raise ValueError(f"cannot Z-ORDER BY partition column {c}")
        if c not in [f.name for f in snapshot.schema.fields]:
            raise ValueError(f"unknown Z-ORDER column {c}")
    adds: list[AddFile] = []
    removes = []
    for _key, files in _select_partitions(txn, partition_filter).items():
        if clustering and not full:
            # incremental: only files not yet in a cube (new ingest,
            # DML rewrites); files with a ZCUBE_ID are already ordered
            files = [f for f in files if not (f.tags or {}).get(ZCUBE_ID_TAG)]
            if len(files) < 2:
                continue
        total = sum(f.size for f in files)
        n_out = max(1, math.ceil(total / max_file_size))
        df = _rewrite_input(spark, snapshot, files)
        counts = [_file_rows(f) for f in files]
        rows = sum(counts) if all(counts) else df.count()
        zdf, zcol, file_bounds = _zorder_key(df, cols, num_ranges, n_out, rows)
        # the file index of a row is the number of file bounds at or
        # below its z-key; repartitionById sends it straight to that
        # output partition (a REPARTITION_BY_NUM exchange, which AQE
        # never coalesces), so partition p is the p-th z-curve segment
        clustered = (zdf.repartitionById(
            n_out, range_id_column_from(F.col(zcol), file_bounds))
            .sortWithinPartitions(zcol).drop(zcol))
        new = write_table_files(clustered, snapshot, data_change=False)
        if clustering:
            cube = str(_uuid.uuid4())
            for a in new:
                a.tags = dict(a.tags or {})
                a.tags[ZCUBE_ID_TAG] = cube
        adds.extend(new)
        removes.extend(f.remove(data_change=False) for f in files)
        txn.read_files.update(f.path for f in files)
    metrics = {"numRemovedFiles": str(len(removes)), "numAddedFiles": str(len(adds))}
    if not adds:
        return {"version": txn.read_version, **metrics}
    v = txn.commit(list(adds) + list(removes), "OPTIMIZE",
                   {"zOrderBy": json.dumps(cols),
                    **({"clusterBy": json.dumps(cols)} if clustering else {}),
                    **({"isFull": "true"} if clustering and full else {})},
                   metrics)
    return {"version": v, **metrics}

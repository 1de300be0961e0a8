"""VACUUM, RESTORE, SHALLOW CLONE, CONVERT TO DELTA, TRUNCATE,
GENERATE symlink manifests.

Reference: commands/VacuumCommand.scala:137-205 (gc :147),
commands/RestoreTableCommand.scala, commands/CloneTableCommand.scala,
commands/ConvertToDeltaCommand.scala,
commands/TruncateDeltaTableCommand.scala,
hooks/GenerateSymlinkManifest.scala:50.
"""

from __future__ import annotations

import json
import os
import re
from typing import Optional

from pyspark.sql import SparkSession

from delta_spark.actions import AddFile, Metadata
from delta_spark.log import DeltaLog
from delta_spark.stats import collect_stats_parallel, file_mtime_ms
from delta_spark.transaction import OptimisticTransaction
from delta_spark.util import (
    HIVE_DEFAULT_PARTITION,
    current_time_millis,
    schema_to_json,
    unescape_partition_value,
)

# ------------------------------------------------------------- VACUUM ----

def _hidden_segment(name: str, partition_cols: list[str]) -> bool:
    """DeltaTableUtils.isHiddenDirectory (DeltaTable.scala:289):
    underscore/dot segments are invisible to VACUUM — except
    `_change_data` (stale CDC files MUST be reclaimable or they leak
    forever), `_delta_index`, and partition directories of a column
    whose own name starts with `_` or `.`."""
    if not name.startswith(("_", ".")):
        return False
    if name.startswith(("_change_data", "_delta_index")):
        return False
    return not any(name.startswith(c + "=") for c in partition_cols)


def vacuum_lite(spark: SparkSession, log: DeltaLog,
                retention_hours: Optional[float] = None,
                dry_run: bool = False) -> list[str]:
    """VACUUM LITE (DeltaSqlBase.g4:75): reclaim using the log's own
    tombstones instead of listing the table tree — O(tombstones), for
    object stores where recursive listing is the dominant cost."""
    from delta_spark.actions import check_write_protocol
    from delta_spark import catalog_managed as CM

    snapshot = log.update()
    if not dry_run:
        # destructive maintenance is a WRITE-side operation (the point
        # of vacuumProtocolCheck): never reclaim on a table whose
        # writer features we don't implement
        check_write_protocol(snapshot.protocol)
        CM.check_maintenance_allowed(snapshot.configuration,
                                     snapshot.protocol, "VACUUM LITE")
    retention_ms = (int(retention_hours * 3600 * 1000)
                    if retention_hours is not None else log.deleted_file_retention_ms())
    cutoff = current_time_millis() - retention_ms
    active = {os.path.normpath(_abs(log.table_path, f.path)) for f in snapshot.all_files}
    victims = []
    for r in snapshot.tombstones.values():
        if (r.deletionTimestamp or 0) >= cutoff:
            continue
        p = os.path.normpath(_abs(log.table_path, r.path))
        if p in active or not os.path.exists(p):
            continue
        victims.append(p)
    # CDC files of commits outside the retention window
    # (VacuumCommand.scala:860 unions `cdc` actions into the lite
    # candidate set — without this, _change_data grows forever).
    # Skipped entirely when the table can never have produced CDC
    # (no changeDataFeed feature, config off, legacy writer < 4).
    cfg = snapshot.configuration or {}
    proto = snapshot.protocol
    cdf_possible = (
        str(cfg.get("delta.enableChangeDataFeed", "false")).lower() == "true"
        or "changeDataFeed" in (proto.writerFeatures or [])
        or (proto.minWriterVersion or 1) >= 4
            and not proto.writerFeatures)
    ict = str(cfg.get("delta.enableInCommitTimestamps",
                      "false")).lower() == "true"
    for v in (log.list_commit_versions() if cdf_possible else []):
        try:
            # mtime pre-filter for non-ICT tables avoids parsing live
            # commits; ICT tables read the actions ONCE and take the
            # timestamp from CommitInfo
            if not ict and log._commit_timestamp(v, cfg={}) >= cutoff:
                continue
            acts = log.read_commit_actions(v)
        except Exception:
            continue
        if ict:
            ts = next((a.timestamp for kind, a in acts
                       if kind == "commitInfo" and a.timestamp), None)
            if ts is None or ts >= cutoff:
                continue
        for kind, a in acts:
            if kind == "cdc":
                p = os.path.normpath(_abs(log.table_path, a.path))
                if os.path.exists(p):
                    victims.append(p)
    if dry_run:
        return victims
    for p in victims:
        try:
            os.remove(p)
        except OSError:
            pass
    _remove_empty_dirs(log.table_path, snapshot.partition_columns or [])
    return victims


def vacuum(spark: SparkSession, log: DeltaLog, retention_hours: Optional[float] = None,
           dry_run: bool = False, inventory=None) -> list[str]:
    """Delete unreferenced data files older than the retention window
    (VacuumCommand.gc). Hidden dirs (`_delta_log`, staging) are
    protected by the underscore/dot rule; `_change_data` and
    underscore-named partition dirs are traversed like the reference
    (DeltaTable.scala:289 isHiddenDirectory), so stale CDC files are
    reclaimed once they age out of the retention window. Returns the
    deleted (or would-delete) absolute paths.

    ``inventory``: optional DataFrame (path, length, isDir,
    modificationTime) — the reference's VACUUM ... USING INVENTORY.
    At 100 TB the recursive table listing dominates VACUUM cost; an
    externally-maintained inventory (e.g. S3 Inventory) replaces it,
    and the unreferenced-file anti-join runs distributed. Without an
    inventory, tables with ≥ `delta_spark.vacuum.parallelListingThreshold`
    top-level dirs list in parallel as a Spark job instead of a
    driver-sequential walk."""
    snapshot = log.update()
    if not dry_run:
        # writer gate up front (vacuumProtocolCheck's purpose): the
        # VACUUM START commit would refuse anyway, but only after the
        # full listing ran
        from delta_spark import catalog_managed as CM
        from delta_spark.actions import check_write_protocol

        check_write_protocol(snapshot.protocol)
        CM.check_maintenance_allowed(snapshot.configuration,
                                     snapshot.protocol, "VACUUM")
    retention_ms = (int(retention_hours * 3600 * 1000)
                    if retention_hours is not None else log.deleted_file_retention_ms())
    if retention_hours is not None and retention_ms < 0:
        raise ValueError("retention must be >= 0")
    # VacuumCommand.checkRetentionPeriodSafety: a window below the
    # table's deletedFileRetentionDuration can break in-flight readers
    # and time travel; refuse unless the user explicitly opts out
    # (reference conf retentionDurationCheck.enabled)
    check_on = str(spark.conf.get(
        "delta_spark.retentionDurationCheck.enabled",
        "true")).lower() == "true"
    if (check_on and retention_hours is not None
            and retention_ms < log.deleted_file_retention_ms()):
        raise ValueError(
            f"vacuum retention of {retention_hours}h is below the table's "
            "delta.deletedFileRetentionDuration — concurrent readers and "
            "time travel inside that window would break. Set "
            "delta_spark.retentionDurationCheck.enabled=false to force")
    cutoff = current_time_millis() - retention_ms

    valid: set[str] = set()
    for f in snapshot.all_files:
        valid.add(os.path.normpath(_abs(log.table_path, f.path)))
        d = f.deletionVector
        if d and d["storageType"] in ("u", "p"):
            # live protocol-format DV blob files sit in the table root
            # (not underscore-protected) — never reclaim them
            from delta_spark.dv import absolute_dv_path

            valid.add(os.path.normpath(absolute_dv_path(log.table_path, d)))
    for r in snapshot.tombstones.values():
        # tombstones still inside the retention window are protected;
        # older ones are exactly what VACUUM reclaims
        if (r.deletionTimestamp or 0) >= cutoff:
            valid.add(os.path.normpath(_abs(log.table_path, r.path)))

    # AMT manifest tree (amt.py): <table>/metadata is table state,
    # not data — never a VACUUM candidate on adaptiveMetadata tables
    # (old manifests are metadata-retention territory, like old
    # checkpoints, not VACUUM's)
    amt_on = "adaptiveMetadata-preview" in (
        (snapshot.protocol.writerFeatures or [])
        if snapshot.protocol else [])

    candidates: list[str] = []
    if inventory is not None:
        candidates = _inventory_candidates(
            spark, log, inventory, valid, cutoff,
            snapshot.partition_columns or [])
    else:
        # partitioned tables with many top-level dirs list as a Spark
        # job (VacuumCommand.scala's parallel listing): each executor
        # walks one subtree; the unreferenced-file anti-join runs
        # distributed through the same inventory path
        pcols = snapshot.partition_columns or []
        seeds = [n for n in os.listdir(log.table_path)
                 if not _hidden_segment(n, pcols)]
        if amt_on:
            seeds = [n for n in seeds if n != "metadata"]
        try:
            par_threshold = int(spark.conf.get(
                "delta_spark.vacuum.parallelListingThreshold", "64"))
        except Exception:
            par_threshold = 64
        n_dirs = sum(1 for n in seeds
                     if os.path.isdir(os.path.join(log.table_path, n)))
        if n_dirs >= par_threshold:
            candidates = _inventory_candidates(
                spark, log, _distributed_listing(spark, log.table_path,
                                                 seeds, pcols),
                valid, cutoff, pcols)
        else:
            for root, dirs, files in os.walk(log.table_path):
                dirs[:] = [d for d in dirs if not _hidden_segment(d, pcols)
                           and not (amt_on and d == "metadata"
                                    and os.path.samefile(root, log.table_path))]
                for name in files:
                    if _hidden_segment(name, pcols):
                        continue
                    p = os.path.normpath(os.path.join(root, name))
                    if p in valid:
                        continue
                    try:
                        mtime = int(os.stat(p).st_mtime * 1000)
                    except OSError:
                        continue
                    if mtime < cutoff:
                        candidates.append(p)

    if amt_on:
        mdir = os.path.normpath(os.path.join(log.table_path, "metadata"))
        candidates = [c for c in candidates
                      if not os.path.normpath(c).startswith(mdir + os.sep)]

    # stale deletion-vector directories: reclaim DV dirs no active (or
    # retention-protected tombstoned) descriptor references
    live_dv_dirs = {f.deletionVector["pathOrInlineDv"]
                    for f in snapshot.all_files if f.deletionVector}
    dv_root = os.path.join(log.table_path, "_deletion_vectors")
    if os.path.isdir(dv_root):
        for name in os.listdir(dv_root):
            rel = f"_deletion_vectors/{name}"
            if rel in live_dv_dirs:
                continue
            d = os.path.join(dv_root, name)
            try:
                mtime = int(os.stat(d).st_mtime * 1000)
            except OSError:
                continue
            if mtime < cutoff:
                for sub_root, _sd, sub_files in os.walk(d):
                    for fn in sub_files:
                        candidates.append(os.path.normpath(os.path.join(sub_root, fn)))

    if dry_run:
        return candidates

    txn = OptimisticTransaction(log)
    txn.commit([], "VACUUM START",
               {"retentionCheckEnabled": "true",
                "specifiedRetentionMillis": str(retention_ms)},
               {"numFilesToDelete": str(len(candidates))})
    deleted = 0
    for p in candidates:
        try:
            os.remove(p)
            deleted += 1
        except OSError:
            pass
    _remove_empty_dirs(log.table_path, snapshot.partition_columns or [])
    txn2 = OptimisticTransaction(log)
    txn2.commit([], "VACUUM END", {"status": "COMPLETED"},
                {"numDeletedFiles": str(deleted)})
    return candidates


def _distributed_listing(spark: SparkSession, root: str, seeds: list[str],
                         partition_cols: Optional[list[str]] = None):
    """Recursive table listing as a Spark job: each top-level entry
    fans out to an executor that walks its subtree and emits inventory
    rows (path, length, isDir, modificationTime). Executors must see
    the table storage — true on a shared filesystem or object store
    (and in local mode). At 100 TB this replaces the driver-sequential
    walk of ~10⁵ partition dirs with one parallel stage."""
    abs_seeds = [os.path.join(root, n) for n in seeds]
    pcols = list(partition_cols or [])

    def walk(seed: str):
        import os as _os
        try:
            if _os.path.isfile(seed):
                st = _os.stat(seed)
                yield (seed, st.st_size, False, int(st.st_mtime * 1000))
                return
        except OSError:
            return
        for r, dirs, files in _os.walk(seed):
            dirs[:] = [d for d in dirs if not _hidden_segment(d, pcols)]
            for n in files:
                p = _os.path.join(r, n)
                try:
                    st = _os.stat(p)
                except OSError:
                    continue
                yield (p, st.st_size, False, int(st.st_mtime * 1000))

    from delta_spark.connect_compat import is_connect

    if is_connect(spark):
        # no SparkContext under Connect: the client walks the shared
        # filesystem itself (same rows, sequential). VACUUM candidate
        # selection still anti-joins distributed on the server.
        rows = [r for seed in abs_seeds for r in walk(seed)]
        return spark.createDataFrame(
            rows,
            "path string, length long, isDir boolean, modificationTime long")
    rdd = (spark.sparkContext
           .parallelize(abs_seeds, max(1, min(len(abs_seeds), 256)))
           .flatMap(walk))
    return spark.createDataFrame(
        rdd, "path string, length long, isDir boolean, modificationTime long")


def _inventory_candidates(spark: SparkSession, log: DeltaLog, inventory,
                          valid: set[str], cutoff: int,
                          partition_cols: Optional[list[str]] = None) -> list[str]:
    """Unreferenced-file selection from a user-supplied inventory
    (VacuumCommand USING INVENTORY): normalize paths, drop dirs and
    hidden (underscore/dot-segment) paths, anti-join the referenced set
    distributed, collect only the victims."""
    from pyspark.sql import functions as F

    need = {"path", "length", "isDir", "modificationTime"}
    if not need <= set(inventory.columns):
        raise ValueError(
            f"inventory needs columns {sorted(need)}, got {inventory.columns}")
    root = os.path.normpath(log.table_path)
    # absolutize relative paths against the table root, then require
    # membership under it (the inventory may span many tables)
    abs_path = F.when(
        F.col("path").startswith("/") | F.col("path").contains("://"),
        F.col("path")).otherwise(F.concat(F.lit(root + os.sep), F.col("path")))
    cand = (inventory
            .filter(~F.col("isDir"))
            .filter(F.col("modificationTime") < F.lit(cutoff))
            .select(abs_path.alias("p"))
            .filter(F.col("p").startswith(root + os.sep)))
    # hidden rule (isHiddenDirectory): no path segment under the root
    # starts with _ or . — except _change_data / _delta_index and
    # partition dirs of underscore-named partition columns (negative
    # lookahead keeps the filter one vectorized rlike)
    import re as _re

    allowed = ["_change_data", "_delta_index"] + [
        _re.escape(c) + "=" for c in (partition_cols or [])
        if c.startswith(("_", "."))]
    cand = cand.filter(
        ~F.substring(F.col("p"), len(root) + 2, 10**6)
        .rlike(r"(^|/)(?!" + "|".join(allowed) + r")[._]"))
    valid_df = spark.createDataFrame([(v,) for v in sorted(valid)] or [("",)],
                                     "p: string")
    victims = (cand.join(F.broadcast(valid_df) if len(valid) < 500_000
                         else valid_df, on="p", how="left_anti")
               .collect())
    return [os.path.normpath(r["p"]) for r in victims]


def _remove_empty_dirs(root: str, partition_cols: Optional[list[str]] = None) -> None:
    dv_root = os.path.join(root, "_deletion_vectors")
    for dirpath, dirs, files in os.walk(root, topdown=False):
        if dirpath == root:
            continue
        base = os.path.basename(dirpath)
        under_dv = dirpath.startswith(dv_root + os.sep)
        if _hidden_segment(base, partition_cols or []) and not under_dv:
            # (emptied _change_data and underscore-named partition dirs
            # are NOT hidden, so they are removable)
            continue
        try:
            os.rmdir(dirpath)  # only succeeds when empty
        except OSError:
            pass


def _abs(table_path: str, p: str) -> str:
    from delta_spark.util import resolve_log_path

    return resolve_log_path(table_path, p)


# ------------------------------------------------------------ RESTORE ----

def restore(spark: SparkSession, log: DeltaLog, version: Optional[int] = None,
            timestamp_ms: Optional[int] = None) -> dict:
    """Set-diff the target snapshot against the current one and commit
    the difference (RestoreTableCommand algorithm block)."""
    if version is None:
        if timestamp_ms is None:
            raise ValueError("restore needs a version or timestamp")
        version = log.version_at_timestamp(timestamp_ms)
    target = log.snapshot_at(version)
    txn = OptimisticTransaction(log)
    current = txn.snapshot
    txn.read_whole_table()

    def _dv_key(f):
        dv = f.deletionVector
        if not dv:
            return None
        return (dv.get("storageType"), dv.get("pathOrInlineDv"),
                dv.get("offset"))

    # the diff keys on (path, DV identity), not path alone: a DV DELETE
    # masks rows IN PLACE without changing the file path, so restoring
    # across it must re-add the file with its old (possibly absent) DV
    # (RestoreTableCommand diffs on the full file action identity)
    target_files = {(p, _dv_key(f)): f for p, f in target.active.items()}
    current_files = {(p, _dv_key(f)): f for p, f in current.active.items()}
    adds = []
    missing = []
    for key in set(target_files) - set(current_files):
        f = target_files[key]
        if not os.path.exists(_abs(log.table_path, f.path)):
            missing.append(f.path)
            continue
        adds.append(AddFile(path=f.path, partitionValues=f.partitionValues, size=f.size,
                            modificationTime=f.modificationTime, dataChange=True, stats=f.stats,
                            deletionVector=f.deletionVector))
    if missing and not spark.conf.get("spark.sql.files.ignoreMissingFiles", "false") == "true":
        raise FileNotFoundError(
            f"{len(missing)} files of version {version} were vacuumed "
            f"(e.g. {missing[0]}); set spark.sql.files.ignoreMissingFiles=true to restore anyway")
    # a path re-added with a different DV needs no tombstone: the add
    # supersedes it in the same commit (and replay forbids the same
    # logical file in both collections)
    readded_paths = {k[0] for k in set(target_files) - set(current_files)}
    removes = [current_files[key].remove()
               for key in set(current_files) - set(target_files)
               if key[0] not in readded_paths]
    actions: list = []
    restored_meta = target.metadata
    if restored_meta is not None and current.metadata is not None:
        # identity high-watermarks are monotonic ACROSS restore: merge
        # the LATEST snapshot's marks into the restored schema so new
        # allocations never collide with pre-restore rows
        # (RestoreTableCommand.scala:202 copySchemaWithMergedHighWaterMarks)
        from dataclasses import replace as _dc_replace

        from delta_spark.schema import identity_info, with_identity_watermark
        from delta_spark.util import schema_from_json, schema_to_json

        latest_marks = {c: i["highWaterMark"]
                        for c, i in identity_info(
                            schema_from_json(current.metadata.schemaString)).items()
                        if i["highWaterMark"] is not None}
        if latest_marks:
            rschema = schema_from_json(restored_meta.schemaString)
            rinfo = identity_info(rschema)
            for col, hwm in latest_marks.items():
                if col in rinfo:
                    old = rinfo[col]["highWaterMark"]
                    step = int(rinfo[col]["step"])
                    adv = (old is None
                           or (step > 0 and int(hwm) > int(old))
                           or (step < 0 and int(hwm) < int(old)))
                    if adv:
                        rschema = with_identity_watermark(rschema, col, int(hwm))
            restored_meta = _dc_replace(
                restored_meta, schemaString=schema_to_json(rschema))
    if restored_meta is not None and (current.metadata is None
                                      or restored_meta != current.metadata):
        actions.append(restored_meta)
    # clustering domain: RECREATED from the restored snapshot, not
    # copied blindly; stale current-domain entries without a restored
    # equivalent are tombstoned
    # (DomainMetadataUtils.handleDomainMetadataForRestoreTable)
    actions += _domain_diff(current, {
        k: v for k, v in target.domain_metadata.items()
        if k in _CLONEABLE_DOMAINS and not v.removed})
    actions += adds + removes
    metrics = {
        "tableSizeAfterRestore": str(target.size_in_bytes),
        "numRestoredFiles": str(len(adds)),
        "numRemovedFiles": str(len(removes)),
    }
    v = txn.commit(actions, "RESTORE", {"version": str(version)}, metrics)
    return {"version": v, **metrics}


# -------------------------------------------------------------- CLONE ----

_CLONEABLE_DOMAINS = {"delta.clustering"}


def _domain_diff(target_txn_snapshot, desired: dict) -> list:
    """DomainMetadata actions that make the target carry exactly the
    `desired` cloneable domains (DomainMetadataUtils
    handleDomainMetadataForReplaceTable role): stale cloneable domains
    on the target are tombstoned, desired ones (re)written."""
    from dataclasses import replace as _dc_replace

    out = []
    have = getattr(target_txn_snapshot, "domain_metadata", {}) or {}
    for name in _CLONEABLE_DOMAINS:
        want = desired.get(name)
        cur = have.get(name)
        if want is not None:
            if cur is None or cur.configuration != want.configuration:
                out.append(_dc_replace(want, removed=False))
        elif cur is not None and not cur.removed:
            out.append(_dc_replace(cur, removed=True))
    return out


def shallow_clone(spark: SparkSession, log: DeltaLog, target_path: str,
                  version: Optional[int] = None, replace: bool = False,
                  properties: Optional[dict] = None) -> dict:
    """New table whose AddFiles point (absolute paths) at the source's
    files (CloneTableCommand; SHALLOW CLONE grammar DeltaSqlBase.g4:103).
    ``replace=True`` replaces an existing target (its active files are
    tombstoned in the same commit); ``properties`` overlay the cloned
    table configuration (CloneTableCommand tablePropertyOverrides)."""
    src = log.snapshot_at(version) if version is not None else log.update()
    if src.metadata is None:
        raise ValueError("cannot clone: source table has no metadata")
    target_log = DeltaLog.for_table(target_path)
    txn = OptimisticTransaction(target_log)
    replaced: list = []
    if txn.read_version >= 0:
        if not replace:
            raise ValueError(f"clone target already exists: {target_path}")
        replaced = [f.remove() for f in txn.snapshot.all_files]
        txn.read_whole_table()
    cfg = dict(src.metadata.configuration)
    if properties:
        cfg.update(properties)
    meta = Metadata(
        name=src.metadata.name, description=src.metadata.description,
        format=src.metadata.format, schemaString=src.metadata.schemaString,
        partitionColumns=src.metadata.partitionColumns,
        configuration=cfg, createdTime=current_time_millis())
    def _clone_dv(f):
        if not f.deletionVector:
            return None
        # DV sets live in the SOURCE table: absolutize the reference.
        # 'u' (uuid-relative blob) becomes a 'p' absolute-path
        # descriptor, exactly how the reference clones DV tables
        # (DeletionVectorDescriptor.onDiskWithAbsolutePath); inline
        # 'i' needs no change.
        dv = dict(f.deletionVector)
        st = dv["storageType"]
        if st == "i":
            return dv
        if st == "u":
            from delta_spark.dv import absolute_dv_path

            dv["pathOrInlineDv"] = os.path.abspath(
                absolute_dv_path(log.table_path, dv))
            dv["storageType"] = "p"
            return dv
        dv["pathOrInlineDv"] = os.path.abspath(
            os.path.join(log.table_path, dv["pathOrInlineDv"]))
        return dv

    from delta_spark.util import encode_log_path

    adds = [AddFile(path=encode_log_path(
                        os.path.abspath(_abs(log.table_path, f.path))),
                    partitionValues=f.partitionValues, size=f.size,
                    modificationTime=f.modificationTime, dataChange=True, stats=f.stats,
                    deletionVector=_clone_dv(f))
            for f in src.all_files]
    metrics = {"sourceTableSize": str(src.size_in_bytes), "numCopiedFiles": "0",
               "sourceNumOfFiles": str(src.num_files)}
    # the clustering domain travels with the clone
    # (DomainMetadataUtils.handleDomainMetadataForCloneTable,
    # METADATA_DOMAIN_TO_COPY_FOR_CLONE_TABLE)
    domains = _domain_diff(txn.snapshot, {
        k: v for k, v in src.domain_metadata.items()
        if k in _CLONEABLE_DOMAINS and not v.removed})
    v = txn.commit([meta] + domains + adds + replaced, "CLONE",
                   {"source": log.table_path, "sourceVersion": str(src.version),
                    "isShallow": "true"}, metrics)
    return {"version": v, **metrics}


def deep_clone(spark: SparkSession, log: DeltaLog, target_path: str,
               version: Optional[int] = None, replace: bool = False,
               properties: Optional[dict] = None) -> dict:
    """Deep clone (reference CloneTableCommand with isShallow=false):
    the target owns its data. Deviation from the reference's byte-level
    file copy: the source snapshot is re-written through the normal
    distributed write path — DV masks materialize and stats are
    recollected, so the target is a self-contained equivalent table
    with no reference back to the source. Row-tracking ids are
    re-assigned (the clone is a new table). The source's schemaString
    is restored afterwards so generated/identity/default column
    metadata survives the round-trip."""
    from delta_spark.io import write_delta
    from delta_spark.reader import read_snapshot

    src = log.snapshot_at(version) if version is not None else log.update()
    if src.metadata is None:
        raise ValueError("cannot clone: source table has no metadata")
    cfg = dict(src.metadata.configuration)
    if properties:
        cfg.update(properties)
    df = read_snapshot(spark, src)
    write_delta(df, target_path,
                mode="overwrite" if replace else "error",
                overwrite_schema=replace,
                partition_by=list(src.partition_columns) or None,
                configuration=cfg, operation="CLONE")
    target_log = DeltaLog.for_table(target_path)
    txn = OptimisticTransaction(target_log)
    m = txn.metadata
    if m is not None and m.schemaString != src.metadata.schemaString:
        txn.commit([Metadata(
            id=m.id, name=m.name, description=m.description, format=m.format,
            schemaString=src.metadata.schemaString,
            partitionColumns=m.partitionColumns,
            configuration=m.configuration, createdTime=m.createdTime)],
            "UPDATE SCHEMA", {"reason": "clone schema metadata"}, {})
    snap = target_log.update()
    return {"version": snap.version,
            "numCopiedFiles": str(snap.num_files),
            "sourceNumOfFiles": str(src.num_files)}


# ------------------------------------------------------------ CONVERT ----

def convert_to_delta(spark: SparkSession, path: str,
                     partition_schema: Optional[str] = None,
                     collect_stats: bool = True) -> DeltaLog:
    """Parquet directory → delta table in place
    (ConvertToDeltaCommandBase): list files, infer schema (Spark does it
    distributed), collect footer stats, commit version 0. ``path`` is a
    directory or the qualified identifier ``parquet.`<directory>```."""
    m = re.fullmatch(r"(?is)\s*parquet\.`([^`]+)`\s*", path)
    if m:
        path = m.group(1)
    log = DeltaLog.for_table(path)
    if log.table_exists():
        return log  # idempotent, like the reference

    part_cols: list[str] = []
    if partition_schema:
        # "col1 string, col2 int" — names only matter for layout parsing
        part_cols = [c.strip().split()[0] for c in partition_schema.split(",") if c.strip()]

    df = spark.read.option("basePath", path).parquet(path) if part_cols else spark.read.parquet(path)
    schema = df.schema

    data_files: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                data_files.append(os.path.join(root, name))
    # NO STATISTICS (ConvertToDeltaCommand collectStats=false): skip
    # the footer pass entirely — scans fall back to partition pruning
    stats_map = collect_stats_parallel(data_files) if collect_stats else {}
    adds = []
    for p in data_files:
        rel = os.path.relpath(p, path).replace(os.sep, "/")
        pvals: dict[str, Optional[str]] = {}
        for comp in rel.split("/")[:-1]:
            if "=" in comp:
                k, v = comp.split("=", 1)
                pvals[unescape_partition_value(k)] = (
                    None if v == HIVE_DEFAULT_PARTITION else unescape_partition_value(v))
        from delta_spark.util import encode_log_path

        adds.append(AddFile(path=encode_log_path(rel),
                            partitionValues={c: pvals.get(c) for c in part_cols},
                            size=os.path.getsize(p), modificationTime=file_mtime_ms(p),
                            dataChange=True, stats=stats_map.get(p)))
    meta = Metadata(schemaString=schema_to_json(schema), partitionColumns=part_cols,
                    createdTime=current_time_millis())
    txn = OptimisticTransaction(log)
    txn.commit([meta] + adds, "CONVERT",
               {"numFiles": str(len(adds)), "partitionedBy": json.dumps(part_cols)},
               {"numConvertedFiles": str(len(adds))})
    return log


# ----------------------------------------------------------- TRUNCATE ----

def truncate(spark: SparkSession, log: DeltaLog) -> int:
    """Remove every active file (TruncateDeltaTableCommand)."""
    txn = OptimisticTransaction(log)
    txn.read_whole_table()
    removes = [f.remove() for f in txn.snapshot.all_files]
    return txn.commit(removes, "TRUNCATE", {}, {"numRemovedFiles": str(len(removes))})


# ----------------------------------------------------------- GENERATE ----

def generate_symlink_manifest(spark: SparkSession, log: DeltaLog) -> str:
    """GENERATE symlink_format_manifest (GenerateSymlinkManifest.scala:50):
    per partition dir a `manifest` text file listing the active files."""
    snapshot = log.update()
    base = os.path.join(log.table_path, "_symlink_format_manifest")
    by_dir: dict[str, list[str]] = {}
    for f in snapshot.all_files:
        abs_p = _abs(log.table_path, f.path)
        # manifest subdir = the DECODED partition dir when the file
        # lives under the table root; absolute/external files go flat
        rel = os.path.relpath(os.path.abspath(abs_p), log.table_path)
        rel_dir = "" if rel.startswith("..") else os.path.dirname(rel)
        by_dir.setdefault(rel_dir, []).append("file://" + os.path.abspath(abs_p))
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    for rel_dir, uris in by_dir.items():
        d = os.path.join(base, rel_dir) if rel_dir else base
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "manifest"), "w") as fh:
            fh.write("\n".join(sorted(uris)) + "\n")
    return base

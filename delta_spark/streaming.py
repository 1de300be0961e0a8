"""Structured Streaming over delta tables.

Source (reference sources/DeltaSource.scala:112,747; offsets
sources/DeltaSourceOffset.scala:55): implemented on Spark 4's Python
DataSource streaming API — `spark.readStream.format("delta_py")`.
Offsets are `(version, index, isInitialSnapshot)` exactly like the
reference: the initial snapshot's files stream first (indexed within
the start version), then each commit's AddFiles. Rate limiting via
`maxFilesPerTrigger`. Non-append commits fail the stream unless
`ignoreChanges` / `skipChangeCommits` is set (DeltaOptions.scala:340).
Partitions map one-per-file and executors read Parquet through
pyarrow, yielding Arrow record batches (vectorized, no per-row Python).

Sink (reference sources/DeltaSink.scala:51, addBatch :108): the
idiomatic exactly-once pattern — `foreachBatch` + a transactional
write carrying SetTransaction(queryId, batchId); replayed microbatches
are skipped by the txn-version check.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from uuid import uuid4
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from delta_spark.actions import AddFile
from delta_spark.io import write_delta
from delta_spark.log import DeltaLog
from delta_spark.util import deserialize_partition_value, schema_from_json


# ----------------------------------------------------------- the sink ----

def delta_sink(path: str, query_id: str, output_mode: str = "append",
               partition_by: Optional[list[str]] = None):
    """Returns an `(df, batch_id) -> None` function for
    `writeStream.foreachBatch(...)` with exactly-once semantics."""

    def add_batch(df: DataFrame, batch_id: int) -> None:
        mode = "append" if output_mode == "append" else "overwrite"
        write_delta(df, path, mode=mode, partition_by=partition_by,
                    txn_app_id=query_id, txn_version=batch_id,
                    operation="STREAMING UPDATE")

    return add_batch


def write_stream(df: DataFrame, path: str, checkpoint_location: str,
                 query_id: Optional[str] = None, output_mode: str = "append",
                 trigger_available_now: bool = True, partition_by: Optional[list[str]] = None):
    """Convenience: writeStream → delta table via foreachBatch."""
    qid = query_id or f"delta_sink_{os.path.basename(path)}"
    writer = (df.writeStream
              .foreachBatch(delta_sink(path, qid, output_mode, partition_by))
              .option("checkpointLocation", checkpoint_location)
              .outputMode(output_mode))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drain_available_now(df: DataFrame, path: str, checkpoint_location: str,
                        query_id: Optional[str] = None,
                        output_mode: str = "append",
                        partition_by: Optional[list[str]] = None):
    """Trigger.AvailableNow with rate limits, end to end: drain a
    source built with ``.option("availableNow", "true")`` (which pins
    the end version at query start and keeps maxFilesPerTrigger /
    maxBytesPerTrigger engaged per batch) into a delta sink, then stop.
    A capped availableNow source additionally requires
    ``.option("cappedDrain", "true")`` — the source fails construction
    otherwise, to keep Spark's native single-batch availableNow
    fallback from silently truncating the drain.

    Spark's own ``trigger(availableNow=True)`` falls back to a SINGLE
    batch for Python DataSources (no SupportsTriggerAvailableNow hook),
    which would truncate a capped drain after one batch — so the drain
    is driven as processingTime microbatches until the pinned end is
    reached (reference: DeltaSource prepareForTriggerAvailableNow +
    AvailableNowDataStreamWrapper)."""
    qid = query_id or f"delta_sink_{os.path.basename(path)}"
    q = (df.writeStream
         .foreachBatch(delta_sink(path, qid, output_mode, partition_by))
         .option("checkpointLocation", checkpoint_location)
         .outputMode(output_mode)
         .trigger(processingTime="0 seconds").start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    return q


# --------------------------------------------------------- the source ----

@dataclass
class _FilePartition(InputPartition):
    file_path: str
    partition_values: str      # JSON {col: raw-string}
    is_cdf: bool = False       # emit CDF columns
    change_type: str = ""      # '' → _change_type column is in the file
    version: int = -1
    ts_ms: int = 0
    dv_json: str = ""          # JSON DeletionVectorDescriptor, "" → none
    table_path: str = ""       # needed to resolve relative ('u') DVs


def _offset(version: int, index: int, snapshot: bool) -> dict:
    return {"version": version, "index": index, "isInitialSnapshot": snapshot}


def _fs_data_path(table: str, p: str) -> str:
    """URL-encoded log path → the filesystem path executors open."""
    from delta_spark.util import resolve_log_path

    return resolve_log_path(table, p)


def _parse_byte_size(s) -> int:
    """'10g' / '512m' / plain int → bytes (DeltaOptions byte-size opts)."""
    s = str(s).strip().lower()
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suf + "b"):
            s, mult = s[:-2], m
            break
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    if s.endswith("b"):
        s = s[:-1]
    return int(float(s) * mult)

class SchemaTrackingLog:
    """Per-stream schema log (reference
    sources/DeltaSourceMetadataTrackingLog.scala): versioned JSON
    entries under the stream's `schemaTrackingLocation`, each recording
    the read schema and the table version it applies from. The running
    query reads with the logged schema; when the table's schema changes
    mid-stream the source drains the pre-change backlog, appends the
    evolved schema as the next entry, and stops with a retryable error —
    a restart picks the new entry up and resumes from the checkpointed
    offset, now reading post-change commits with the post-change
    schema."""

    def __init__(self, location: str):
        self.dir = location

    def _entries(self) -> list[str]:
        try:
            return sorted(f for f in os.listdir(self.dir) if f.endswith(".json"))
        except OSError:
            return []

    def latest(self) -> Optional[dict]:
        names = self._entries()
        if not names:
            return None
        with open(os.path.join(self.dir, names[-1])) as f:
            return json.load(f)

    def append(self, entry: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        idx = len(self._entries())
        tmp = os.path.join(self.dir, f".tmp_{idx}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, os.path.join(self.dir, f"{idx:08d}.json"))


def _is_additive_change(old_json: str, new_json: str) -> bool:
    """True when new schema only ADDS fields — including fields added
    INSIDE nested structs (safe to auto-evolve); renames/drops/type
    changes at any depth are non-additive and need the
    allowSourceColumnRenameAndDrop opt-in (reference
    DeltaSourceMetadataEvolutionSupport)."""
    from pyspark.sql import types as T

    def additive(old_dt, new_dt) -> bool:
        if isinstance(old_dt, T.StructType) and isinstance(new_dt, T.StructType):
            newf = {f.name: f.dataType for f in new_dt.fields}
            return all(f.name in newf and additive(f.dataType, newf[f.name])
                       for f in old_dt.fields)
        # fields added inside array<struct<...>> / map values are still
        # additive (reference isReadCompatible recurses through array
        # element and map key/value types)
        if isinstance(old_dt, T.ArrayType) and isinstance(new_dt, T.ArrayType):
            return additive(old_dt.elementType, new_dt.elementType)
        if isinstance(old_dt, T.MapType) and isinstance(new_dt, T.MapType):
            return (additive(old_dt.keyType, new_dt.keyType)
                    and additive(old_dt.valueType, new_dt.valueType))
        return old_dt == new_dt

    return additive(schema_from_json(old_json), schema_from_json(new_json))



class _SnapshotFileIndex:
    """Index over the initial snapshot's path-ordered file list:
    `count`, per-index sizes (admission caps), and on-demand slice
    hydration — the only operations the streaming source needs, so a
    lazy backend never has to materialize every AddFile."""

    def __init__(self, count: int, size_at, files_slice):
        self.count = count
        self.size_at = size_at          # idx -> int
        self.files_slice = files_slice  # (lo, hi) -> list[AddFile]  [lo,hi)


def _build_lazy_snapshot_index(log, version: int) -> "_SnapshotFileIndex":
    """Column-pruned index build over the classic checkpoint parquet
    (+ the bounded commit tail): only (path, size, row-id) arrays are
    read — stats and the rest of the add struct stay on disk until a
    microbatch's slice takes exactly its own rows
    (pyarrow.dataset take). Raises on any layout it can't prune
    (caller falls back to the materialized list)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from delta_spark.actions import AddFile
    from delta_spark.util import canonical_log_path as _ckey

    ck, ck_paths, commit_paths = log._log_segment_paths(version)
    if ck is None:
        raise ValueError("no checkpoint to prune from")
    dset = pads.dataset(ck_paths, format="parquet")
    tbl = dset.to_table(columns={"path": pads.field("add", "path"),
                                 "size": pads.field("add", "size")})
    tbl = tbl.append_column(
        "rowid", pa.array(range(len(tbl)), pa.int64()))
    # checkpoint rows that are adds (others: removes/metadata → null)
    tbl = tbl.filter(pc.is_valid(tbl["path"]))

    # commit tail (bounded by the checkpoint cadence): python replay
    tail_adds: dict[str, AddFile] = {}
    removed: set = set()
    for v in range(ck + 1, version + 1):
        for kind, a in log.read_commit_actions(v):
            if kind == "remove":
                k = _ckey(a.path)
                tail_adds.pop(k, None)
                removed.add(k)
            elif kind == "add":
                k = _ckey(a.path)
                removed.discard(k)
                tail_adds[k] = a
    drop = removed | set(tail_adds)
    if drop:
        # paths in checkpoints may be URL-encoded; canonical comparison
        # needs python — but only when a tail actually touched files
        keep = pa.array([_ckey(p) not in drop
                         for p in tbl["path"].to_pylist()])
        tbl = tbl.filter(keep)

    # global path order (vectorized sort; tail adds merge in)
    if tail_adds:
        extra = pa.table({
            "path": pa.array([a.path for a in tail_adds.values()]),
            "size": pa.array(
                [a.size or 0 for a in tail_adds.values()], pa.int64()),
            "rowid": pa.array([-1 - i for i in range(len(tail_adds))],
                              pa.int64())})
        tail_list = list(tail_adds.values())
        tbl = pa.concat_tables(
            [tbl.set_column(1, "size", tbl["size"].cast(pa.int64())),
             extra])
    else:
        tail_list = []
    order = pc.sort_indices(tbl, sort_keys=[("path", "ascending")])
    sizes = tbl["size"].take(order)
    rowids = tbl["rowid"].take(order)
    count = len(tbl)

    def files_slice(lo: int, hi: int) -> list:
        lo, hi = max(lo, 0), min(hi, count)
        if lo >= hi:
            return []
        want = rowids.slice(lo, hi - lo).to_pylist()
        row_ids = sorted(r for r in want if r >= 0)
        hydrated: dict[int, AddFile] = {}
        if row_ids:
            taken = dset.take(row_ids, columns=["add"])
            for rid, d in zip(row_ids, taken["add"].to_pylist()):
                hydrated[rid] = AddFile.from_json(d)
        return [hydrated[r] if r >= 0 else tail_list[-1 - r]
                for r in want]

    def size_at(i: int) -> int:
        v = sizes[i].as_py()
        return int(v or 0)

    return _SnapshotFileIndex(count=count, size_at=size_at,
                              files_slice=files_slice)


def _arrow_view_names(col, tgt_type):
    """Zero-copy rename of NESTED field names so a by-name cast can
    follow. Column mapping gives nested struct fields physical
    col-<uuid> names on disk while the logical schema carries the user
    names; pyarrow casts match struct children BY NAME, so the rename
    must happen structurally first (`Array.view` — same buffers, new
    type). Works in both directions (read: physical→logical; write:
    logical→physical)."""
    import pyarrow as pa

    def renamed(src, tgt):
        if (pa.types.is_struct(src) and pa.types.is_struct(tgt)
                and src.num_fields == tgt.num_fields):
            return pa.struct([
                pa.field(tgt.field(i).name,
                         renamed(src.field(i).type, tgt.field(i).type),
                         src.field(i).nullable)
                for i in range(src.num_fields)])
        if pa.types.is_list(src) and pa.types.is_list(tgt):
            return pa.list_(renamed(src.value_type, tgt.value_type))
        if pa.types.is_large_list(src) and pa.types.is_large_list(tgt):
            return pa.large_list(renamed(src.value_type, tgt.value_type))
        if pa.types.is_map(src) and pa.types.is_map(tgt):
            return pa.map_(renamed(src.key_type, tgt.key_type),
                           renamed(src.item_type, tgt.item_type))
        return src

    t = renamed(col.type, tgt_type)
    if t == col.type:
        return col
    if isinstance(col, pa.ChunkedArray):
        return pa.chunked_array([c.view(t) for c in col.chunks], type=t)
    return col.view(t)


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_py source requires a path")
        # table redirects: a stream on a REDIRECT-READY source must
        # follow the destination — the reader feature obliges EVERY
        # read path to route, not just DeltaTable.forPath
        from delta_spark.redirect import resolve_table_path

        self.path = resolve_table_path(self.path)
        # Admission control (reference sources/limits.scala:25,
        # DeltaSource.scala:244). Deviation from the reference's
        # default maxFilesPerTrigger=1000: caps apply ONLY when the
        # user sets maxFilesPerTrigger / maxBytesPerTrigger. The
        # Python DataSource API has no SupportsAdmissionControl hook,
        # so the cap is re-derived per latestOffset() call relative to
        # the last planned offset; an implicit default cap would make
        # batch sizing depend on that bookkeeping surviving restarts,
        # so default-uncapped is the safe choice here.
        # .option("availableNow", "true") = Trigger.AvailableNow
        # semantics AT THE SOURCE (DeltaSource
        # prepareForTriggerAvailableNow): the end version is pinned at
        # the first latestOffset() call, caps still apply per batch,
        # and commits landing mid-drain are NOT consumed. Spark's own
        # availableNow trigger single-batches Python sources, so a
        # capped drain must be driven with drain_available_now().
        self.available_now = str(options.get("availablenow", "false")).lower() == "true"
        self._an_end = None  # pinned latest version for availableNow
        mf = options.get("maxfilespertrigger")
        self.max_files = None if mf is None else max(int(mf), 1)
        mb = options.get("maxbytespertrigger")
        self.max_bytes = None if mb is None else max(_parse_byte_size(mb), 1)
        # Fail loudly instead of truncating silently: Spark's native
        # trigger(availableNow=True) runs a Python DataSource as a
        # SINGLE microbatch, so a capped availableNow source would
        # consume one capped batch and terminate with the backlog
        # undrained. The source can't see which trigger drives it, so
        # combining availableNow with rate limits requires the caller
        # to acknowledge a multi-batch driver (drain_available_now)
        # via .option("cappedDrain", "true").
        if self.available_now and (self.max_files or self.max_bytes) and \
                str(options.get("cappeddrain", "false")).lower() != "true":
            raise ValueError(
                "availableNow=true with maxFilesPerTrigger/maxBytesPerTrigger "
                "would be silently truncated to one capped batch by Spark's "
                "native trigger(availableNow=True) (Python DataSources get a "
                "single-batch fallback). Either drop the rate limits, or "
                "drive the drain with delta_spark.streaming."
                "drain_available_now() and acknowledge with "
                ".option('cappedDrain', 'true').")
        self._pos = None  # last planned/committed end offset (admission base)
        import re as _re

        ex = options.get("excluderegex")
        self.exclude_re = _re.compile(ex) if ex else None
        try:
            self.lazy_snapshot_threshold = int(
                options.get("lazysnapshotthreshold", 100_000))
        except (TypeError, ValueError):
            self.lazy_snapshot_threshold = 100_000
        self.fail_on_data_loss = str(
            options.get("failondataloss", "true")).lower() != "false"
        self.ignore_changes = str(options.get("ignorechanges", "false")).lower() == "true"
        self.ignore_deletes = str(options.get("ignoredeletes", "false")).lower() == "true"
        if str(options.get("ignorefiledeletion", "false")).lower() == "true":
            # deprecated alias of ignoreDeletes (DeltaSource.scala:764)
            self.ignore_deletes = True
        self.skip_change_commits = str(options.get("skipchangecommits", "false")).lower() == "true"
        starting_version = options.get("startingversion")
        self.cdf = str(options.get("readchangefeed", "false")).lower() == "true"
        self._log = None
        self._meta_cache: dict[int, object] = {}
        # metadata-class only: a stream against a 10⁶-file table must
        # not materialize the file state just to learn the schema/id
        # (the file list is served lazily via _snapshot_index)
        snap = self.log._light_meta()
        self._table_id = snap.metadata.id if snap.metadata else None
        if starting_version is not None and options.get("startingtimestamp"):
            raise ValueError(
                "Please either provide 'startingVersion' or "
                "'startingTimestamp', not both (DeltaOptions)")
        if starting_version is None and options.get("startingtimestamp"):
            # DeltaOptions STARTING_TIMESTAMP_OPTION: earliest commit
            # at/after the timestamp starts the feed
            from delta_spark.table import _to_millis

            starting_version = self.log.version_at_timestamp(
                _to_millis(options["startingtimestamp"]), after=True)
        if starting_version is not None:
            # DeltaOptions STARTING_VERSION_OPTION: the literal
            # "latest" means ONLY changes committed after the stream
            # starts — seed past the current version
            if str(starting_version).strip().lower() == "latest":
                starting_version = snap.version + 1
            v = int(starting_version)
            # schema as of the FIRST version to be read, not the
            # current one — historical commits carry their own schema
            try:
                seed_snap = self.log.snapshot_at(min(max(v, 0), snap.version))
            except ValueError:
                # start version reclaimed by log cleanup: data loss.
                # failOnDataLoss=false seeds from the current schema
                if self.fail_on_data_loss:
                    raise
                seed_snap = snap
            self._initial = _offset(v - 1, 1 << 62, False)  # everything from v onward
        else:
            seed_snap = snap
            # initial snapshot at the current version, indexed from -1
            self._initial = _offset(snap.version, -1, True)
        self.schema_loc = options.get("schematrackinglocation")
        self.allow_nonadditive = str(
            options.get("allowsourcecolumnrenameanddrop", "false")).lower() == "true"
        if self.schema_loc:
            slog = SchemaTrackingLog(self.schema_loc)
            ent = slog.latest()
            if ent is None:
                ent = {"fromVersion": seed_snap.version,
                       "schemaString": seed_snap.metadata.schemaString,
                       "partitionColumns": list(seed_snap.partition_columns),
                       "nonAdditive": False}
                slog.append(ent)
            if ent.get("nonAdditive") and not self.allow_nonadditive:
                raise RuntimeError(
                    "The delta streaming source schema evolved with a rename, drop, "
                    "or type change. Set .option('allowSourceColumnRenameAndDrop', "
                    "'true') to resume reading with the evolved schema "
                    "(reference DeltaSourceMetadataTrackingLog non-additive gate).")
            self._schema_json = ent["schemaString"]
            self._part_cols = list(ent["partitionColumns"])
            self._schema_from_version = int(ent.get("fromVersion", seed_snap.version))
        else:
            self._schema_json = seed_snap.metadata.schemaString
            self._part_cols = seed_snap.partition_columns
            self._schema_from_version = seed_snap.version
        from delta_spark import geo as _geo
        from delta_spark.schema import logical_to_physical
        if _geo.schema_string_may_have_geo(self._schema_json):
            # the pyarrow batch path has no arrow mapping for the
            # Spark geo types; scoped out (delta_spark/geo.py docstring)
            raise _geo.GeoNotSupportedException(
                "streaming reads of tables with GEOMETRY/GEOGRAPHY "
                "columns are not supported by this engine")
        l2p = logical_to_physical(schema_from_json(self._schema_json))
        self._part_keys = {c: l2p.get(c, c) for c in self._part_cols}

    @property
    def log(self) -> DeltaLog:
        if self._log is None:
            self._log = DeltaLog.for_table(self.path)
        return self._log

    def __getstate__(self):
        # DeltaLog holds thread locks; executors re-resolve it lazily
        d = dict(self.__dict__)
        d["_log"] = None
        return d

    def _fs_path(self, p: str) -> str:
        return _fs_data_path(self.path, p)

    def initialOffset(self) -> dict:
        # only called for a brand-new query → a safe admission base
        self._pos = dict(self._initial)
        off = dict(self._initial)
        if self._table_id:
            off["reservoirId"] = self._table_id
        return off

    def _excluded(self, f: AddFile) -> bool:
        return bool(self.exclude_re and self.exclude_re.search(f.path))

    def _snapshot_files(self, version: int) -> list[AddFile]:
        # a version's file list is immutable — cache it so a rate-capped
        # initial-snapshot drain doesn't REBUILD the full snapshot on
        # every trigger (latestOffset + partitions each call this; at
        # 10⁵ files × many microbatches the replay would dominate)
        cached = getattr(self, "_snap_files_cache", None)
        if cached is not None and cached[0] == version:
            return cached[1]
        snap = self.log.snapshot_at(version)
        files = sorted((f for f in snap.all_files if not self._excluded(f)),
                       key=lambda f: f.path)
        self._snap_files_cache = (version, files)
        return files

    def _snapshot_index(self, version: int) -> "_SnapshotFileIndex":
        """Initial-snapshot file list as a LAZY index. Past the
        lazy-snapshot threshold (option lazySnapshotThreshold, default
        100k actions, estimated from the free `_last_checkpoint` size),
        the index is built COLUMN-PRUNED from the checkpoint parquet —
        only (path, size) arrays ever materialize in the source
        process; each microbatch's slice hydrates its own AddFiles via
        a row-index take. This keeps latestOffset/partitions sub-second
        on a 10⁶-file table where building 10⁶ AddFile objects in the
        driver python worker would dominate (the reference keeps the
        snapshot files in a Dataset for the same reason,
        DeltaSourceSnapshot). Falls back to the materialized list on
        any layout it can't prune (no checkpoint, V2 sidecar schema
        mix, AMT tree, path-filter option)."""
        cached = getattr(self, "_snap_index_cache", None)
        if cached is not None and cached[0] == version:
            return cached[1]
        idx = None
        if self.exclude_re is None:
            n = self.log.checkpointed_action_count()
            if n is not None and n >= self.lazy_snapshot_threshold:
                # the lazy index is a pure function of (log, version) —
                # a version's file list is immutable — so it is cached
                # on the DeltaLog instance like _light_meta: every
                # reader CONSTRUCTION on a 10⁶-file table otherwise
                # re-pays the ~0.7 s pyarrow path sort (stream restart,
                # second stream on the same table). The per-reader
                # cache above stays (it also covers the exclude_re /
                # materialized fallback paths, which depend on reader
                # options and must not be shared).
                log_cached = getattr(self.log, "_stream_snap_index_cache",
                                     None)
                if log_cached is not None and log_cached[0] == version:
                    idx = log_cached[1]
                else:
                    try:
                        idx = _build_lazy_snapshot_index(self.log, version)
                        self.log._stream_snap_index_cache = (version, idx)
                    except Exception:
                        idx = None
        if idx is None:
            files = self._snapshot_files(version)
            idx = _SnapshotFileIndex(
                count=len(files),
                size_at=lambda i, fs=files: fs[i].size or 0,
                files_slice=lambda lo, hi, fs=files: fs[lo:hi])
        self._snap_index_cache = (version, idx)
        return idx

    def _commit_adds(self, version: int) -> list[AddFile]:
        # commit JSONs are immutable per version: cache the parsed adds
        # (each trigger reads a version ~3× — latestOffset admission,
        # partitions planning, commit bookkeeping); bounded LRU keeps
        # memory O(window), not O(history)
        cache = getattr(self, "_adds_cache", None)
        if cache is None:
            from collections import OrderedDict

            cache = self._adds_cache = OrderedDict()
        if version in cache:
            cache.move_to_end(version)
            return cache[version]
        adds = self._commit_adds_uncached(version)
        cache[version] = adds
        while len(cache) > 64:
            cache.popitem(last=False)
        return adds

    def _commit_adds_uncached(self, version: int) -> list[AddFile]:
        try:
            actions = self.log.read_commit_actions(version)
        except (OSError, ValueError):
            if not self.fail_on_data_loss:
                # commit json reclaimed by log cleanup mid-stream:
                # failOnDataLoss=false skips the gap instead of dying
                # (DeltaOptions FAIL_ON_DATA_LOSS_OPTION)
                return []
            raise
        removes = [a for k, a in actions if k == "remove" and a.dataChange]
        adds = [a for k, a in actions if k == "add" and a.dataChange]
        # a DV-carrying add is a row-level change, not an append
        # (reference treats it under the same ignoreChanges contract)
        if any(a.deletionVector for a in adds):
            removes = removes or [True]
        if getattr(self, "cdf", False) and any(k == "cdc" for k, _ in actions):
            # CDF mode: change files carry the row-level changes; the
            # add/remove pair is not an append-contract violation
            return adds
        if removes:
            if self.skip_change_commits:
                return []
            if not adds and self.ignore_deletes:
                # delete-only commit (e.g. partition drop): ignoreDeletes
                # skips it without re-emitting anything
                # (DeltaOptions.scala IGNORE_DELETES_OPTION)
                return []
            if not self.ignore_changes:
                raise RuntimeError(
                    f"Detected a data update/delete in commit {version}. Streaming source "
                    f"requires append-only commits; set skipChangeCommits to skip them, "
                    f"ignoreDeletes for delete-only commits, or ignoreChanges to re-emit "
                    f"rewritten files.")
        return sorted((f for f in adds if not self._excluded(f)),
                      key=lambda f: f.path)

    def _commit_metadata(self, v: int):
        """Metadata action of commit v (None if none) — cached, the
        schema-boundary scan touches each commit once per stream."""
        if v not in self._meta_cache:
            meta = None
            try:
                for k, a in self.log.read_commit_actions(v):
                    if k == "metaData":
                        meta = a
            except Exception:
                meta = None
            self._meta_cache[v] = meta
        return self._meta_cache[v]

    def _schema_change_after(self, basev: int, latest: int):
        """First commit in (basev, latest] whose Metadata changes the
        tracked read schema (DeltaSourceMetadataTrackingLog boundary).
        Commits at or before the tracked entry's fromVersion are
        settled — rescanning them would flag the PREVIOUS schema as a
        change and walk the log backwards (e.g. the column-mapping
        upgrade commit right before a RENAME)."""
        basev = max(basev, self._schema_from_version)
        for v in range(max(basev + 1, 0), latest + 1):
            m = self._commit_metadata(v)
            if m is not None and (m.schemaString != self._schema_json
                                  or list(m.partitionColumns) != list(self._part_cols)):
                return v, m
        return None, None

    def _advance_schema_log(self, vc: int, meta) -> None:
        slog = SchemaTrackingLog(self.schema_loc)
        cur = slog.latest()
        if cur and cur.get("schemaString") == meta.schemaString and \
                list(cur.get("partitionColumns", [])) == list(meta.partitionColumns):
            return  # already recorded (idempotent under driver retries)
        slog.append({
            "fromVersion": vc,
            "schemaString": meta.schemaString,
            "partitionColumns": list(meta.partitionColumns),
            "nonAdditive": not _is_additive_change(self._schema_json, meta.schemaString),
        })

    def _pending_after(self, pos: dict, latest: int):
        """(version, index, size, is_snapshot) for every unplanned file
        after `pos`, in offset order."""
        v, i, snap = pos["version"], pos["index"], pos["isInitialSnapshot"]
        if snap:
            sf = self._snapshot_index(v)
            for idx in range(max(i + 1, 0), sf.count):
                yield (v, idx, sf.size_at(idx), True)
        elif i < (1 << 62):
            adds = self._commit_adds(v)
            for idx in range(i + 1, len(adds)):
                yield (v, idx, adds[idx].size or 0, False)
        for cv in range(v + 1, latest + 1):
            adds = self._commit_adds(cv)
            for idx in range(len(adds)):
                yield (cv, idx, adds[idx].size or 0, False)

    def latestOffset(self) -> dict:
        off = self._latest_offset()
        if self._table_id:
            # table identity rides in every offset so a restart against
            # a replaced table fails instead of serving garbage
            # (DeltaSourceOffset.reservoirId / "unmatched reservoir id")
            off["reservoirId"] = self._table_id
        return off

    def _latest_offset(self) -> dict:
        """Report the next microbatch's end offset, capped by
        maxFilesPerTrigger / maxBytesPerTrigger relative to the last
        planned offset (the reference's ReadLimit admission control,
        re-expressed per-call because the Python DataSource API has no
        SupportsAdmissionControl hook). With no limits, reports
        everything. An unset admission base means a brand-new query
        (Spark calls latestOffset BEFORE initialOffset on fresh
        queries; on restarts it re-plans the last offset-log batch via
        partitions() first, which re-seeds the base), so seeding from
        the initial offset is safe and lets the cap govern the very
        first microbatch too — the reference's backlog-drain shape."""
        latest = self.log.latest_version()
        if self.available_now:
            # AvailableNow contract: everything available AT QUERY
            # START is drained (in capped batches), nothing after
            if self._an_end is None:
                self._an_end = latest
            latest = min(latest, self._an_end)
        bound, pending_change = latest, None
        if self.schema_loc:
            basev = (self._pos or self._initial)["version"]
            vc, meta = self._schema_change_after(basev, latest)
            if vc is not None:
                # serve the pre-change backlog first; never plan a file
                # written under the evolved schema with the old one
                bound, pending_change = vc - 1, (vc, meta)
        v0 = self._initial["version"]
        full = (_offset(v0, 1 << 62, True)
                if self._initial["isInitialSnapshot"] and bound == v0
                else _offset(bound, 1 << 62, False))
        pos = self._pos
        if pending_change is not None and pos is not None and \
                next(self._pending_after(pos, bound), None) is None:
            # backlog drained to the schema boundary: persist the
            # evolved schema, stop the stream (restart resumes with it)
            vc, meta = pending_change
            self._advance_schema_log(vc, meta)
            hint = "" if self.allow_nonadditive or _is_additive_change(
                self._schema_json, meta.schemaString) else (
                " The change renames/drops/retypes columns — also set "
                ".option('allowSourceColumnRenameAndDrop', 'true').")
            raise RuntimeError(
                f"Schema of the delta streaming source changed at table version "
                f"{vc}. The evolved schema was recorded in the schema tracking "
                f"log; restart the stream to continue from the checkpoint with "
                f"the new schema." + hint)
        if self.max_files is None and self.max_bytes is None:
            return full
        if pos is None:
            # pos=None ⟺ brand-new query: Spark's observed call order
            # (traced against pyspark 4.1) is latestOffset →
            # initialOffset → partitions for a fresh stream, while on
            # EVERY restart the engine first replans the last
            # offset-log batch via partitions(start, end) — even when
            # that batch was committed — which re-seeds _pos before
            # any latestOffset. Seeding from the initial offset here
            # therefore never regresses a checkpointed stream.
            pos = self._pos = dict(self._initial)
        taken, nbytes, end, capped = 0, 0, None, False
        for (v, idx, sz, is_snap) in self._pending_after(pos, bound):
            if (self.max_files is not None and taken + 1 > self.max_files) or \
               (self.max_bytes is not None and taken >= 1
                    and nbytes + sz > self.max_bytes):
                capped = True
                break
            taken += 1
            nbytes += sz
            end = (v, idx, is_snap)
        if end is None:
            return full if pos["version"] >= bound else dict(pos)
        if not capped:
            # whole backlog admitted → report the full offset so empty
            # trailing commits (metadata-only) are covered too
            return full
        ev, eidx, esnap = end
        if self.cdf and not esnap:
            # Never split a commit in CDF mode: the CDF emission path
            # streams whole commits (AddCDCFiles carry the row-level
            # changes with no per-file offset order), so a mid-commit
            # cap would land the commit in two consecutive batches and
            # duplicate change rows. Round the end up to the commit
            # boundary (may overshoot the cap by part of one commit,
            # same as the reference's per-commit CDC batching).
            return _offset(ev, 1 << 62, False)
        return _offset(*end)

    def partitions(self, start: dict, end: dict):
        for off in (start, end):
            rid = off.get("reservoirId")
            if rid and self._table_id and rid != self._table_id:
                raise RuntimeError(
                    f"The checkpointed offsets belong to a different delta "
                    f"table (id {rid}) than the one now at {self.path} "
                    f"(id {self._table_id}) — the table was deleted and "
                    f"recreated. Restart the stream with a new checkpoint "
                    f"location.")
        # planned through `end` — the admission base for the next
        # latestOffset (also re-seeds it after a mid-stream restart,
        # where Spark replans from the checkpointed offsets)
        self._pos = dict(end)
        files: list[AddFile] = []
        files_versions: list[tuple[AddFile, int]] = []
        sv, si, ssnap = start["version"], start["index"], start["isInitialSnapshot"]
        ev, ei, esnap = end["version"], end["index"], end["isInitialSnapshot"]
        start_snapshot_v = sv if ssnap else -1
        if ssnap:
            # files of the initial snapshot at sv, from index si+1 —
            # hydrated as a SLICE off the index, so a rate-capped drain
            # over a huge snapshot only materializes its own microbatch
            sidx = self._snapshot_index(sv)
            hi = ei if (esnap and ev == sv) else (1 << 62)
            sl = sidx.files_slice(si + 1, min(hi, sidx.count - 1) + 1)
            files.extend(sl)
            files_versions.extend((f, sv) for f in sl)
        commit_versions: list[int] = []
        if not ssnap and si < (1 << 62):
            # unfinished tail of commit sv
            commit_versions.append(sv)
            adds = self._commit_adds(sv)
            hi = ei if ev == sv else (1 << 62)
            for idx, f in enumerate(adds):
                if si < idx <= hi:
                    files.append(f)
                    files_versions.append((f, sv))
        # whole commits strictly after sv up to ev (end offsets produced
        # by latestOffset always cover the full end commit)
        for v in range(sv + 1, ev + 1):
            commit_versions.append(v)
            adds = self._commit_adds(v)
            hi = ei if (v == ev and not esnap) else (1 << 62)
            for idx, f in enumerate(adds):
                if idx <= hi:
                    files.append(f)
                    files_versions.append((f, v))
        if not self.cdf:
            # DV-carrying adds reach here from the initial snapshot (and
            # from commit adds admitted under ignoreChanges): the masked
            # rows must not re-enter the stream
            return [
                _FilePartition(
                    file_path=self._fs_path(f.path),
                    partition_values=json.dumps({c: f.partitionValues.get(self._part_keys.get(c, c)) for c in self._part_cols}),
                    dv_json=json.dumps(f.deletionVector)
                    if f.deletionVector else "",
                    table_path=self.path,
                )
                for f in files
            ]
        # CDF mode (DeltaSourceCDCSupport): change rows instead of data
        # rows. Initial-snapshot files synthesize inserts; each commit
        # either streams its AddCDCFiles (covers delete-only commits
        # with zero adds) or synthesizes inserts from its AddFiles.
        out: list[_FilePartition] = []
        for f, v in files_versions:
            if v != start_snapshot_v:
                continue
            ts = self.log._commit_timestamp(max(v, 0))
            out.append(_FilePartition(
                file_path=self._fs_path(f.path),
                partition_values=json.dumps({c: f.partitionValues.get(self._part_keys.get(c, c)) for c in self._part_cols}),
                is_cdf=True, change_type="insert", version=max(v, 0), ts_ms=ts,
                dv_json=json.dumps(f.deletionVector)
                if f.deletionVector else "",
                table_path=self.path))
        for v in commit_versions:
            try:
                actions = self.log.read_commit_actions(v)
                ts = self.log._commit_timestamp(v)
            except (OSError, ValueError):
                if not self.fail_on_data_loss:
                    # commit reclaimed by cleanup mid-backlog: the CDF
                    # leg honors failOnDataLoss=false like _commit_adds
                    continue
                raise
            cdc_files = [a for k, a in actions if k == "cdc"]
            if cdc_files:
                for c in cdc_files:
                    out.append(_FilePartition(
                        file_path=self._fs_path(c.path),
                        partition_values="{}", is_cdf=True, change_type="",
                        version=v, ts_ms=ts))
                continue
            for f in self._commit_adds(v):
                out.append(_FilePartition(
                    file_path=self._fs_path(f.path),
                    partition_values=json.dumps({c: f.partitionValues.get(self._part_keys.get(c, c)) for c in self._part_cols}),
                    is_cdf=True, change_type="insert", version=v, ts_ms=ts))
        return out

    def read(self, partition: _FilePartition) -> Iterator:
        """Executor-side: vectorized pyarrow read + constant partition
        columns (+ CDF columns in readChangeFeed mode), emitted as
        Arrow batches."""
        import datetime as _dt

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        from delta_spark.schema import logical_to_physical

        schema = schema_from_json(self._schema_json)
        _phys_names = logical_to_physical(schema)
        is_cdf = getattr(partition, "is_cdf", False)
        if is_cdf:
            out_schema = T.StructType(schema.fields + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.TimestampType()),
            ])
        else:
            out_schema = schema
        target = to_arrow_schema(out_schema)
        pvals = json.loads(partition.partition_values)
        ptypes = {f.name: f.dataType for f in schema.fields if f.name in set(self._part_cols)}
        table = pq.read_table(partition.file_path)
        if getattr(partition, "dv_json", ""):
            # deletion vector: drop masked rows by position BEFORE any
            # projection (DeltaParquetFileFormat.scala:194 semantics)
            import numpy as np

            from delta_spark.dv import descriptor_row_indexes

            deleted = descriptor_row_indexes(
                partition.table_path, json.loads(partition.dv_json))
            mask = np.ones(table.num_rows, dtype=bool)
            mask[deleted[deleted < table.num_rows]] = False
            table = table.filter(pa.array(mask))
        n = table.num_rows
        ts = _dt.datetime.fromtimestamp(partition.ts_ms / 1000.0, tz=_dt.timezone.utc) \
            if is_cdf else None
        cols = []
        for field in target:
            if field.name == "_change_type":
                if partition.change_type:
                    cols.append(pa.array([partition.change_type] * n).cast(field.type))
                else:
                    cols.append(table.column("_change_type").cast(field.type))
            elif field.name == "_commit_version":
                cols.append(pa.array([partition.version] * n).cast(field.type))
            elif field.name == "_commit_timestamp":
                cols.append(pa.array([ts] * n).cast(field.type))
            elif field.name in pvals or field.name in ptypes:
                val = deserialize_partition_value(pvals.get(field.name), ptypes[field.name])
                cols.append(pa.array([val] * n).cast(field.type))
            else:
                # column mapping: files store PHYSICAL names; under
                # IdMapping, resolve by the parquet field_id instead
                from delta_spark.schema import field_id as _fid
                phys = _phys_names.get(field.name, field.name)
                if phys in table.column_names:
                    src_name = phys
                else:
                    pq_ids = {}
                    for af in table.schema:
                        v = (af.metadata or {}).get(b"PARQUET:field_id")
                        if v is not None:
                            pq_ids[int(v)] = af.name
                    want = _fid(schema[field.name]) if field.name in schema.names else None
                    src_name = pq_ids.get(want, field.name)
                col = _arrow_view_names(table.column(src_name), field.type)
                cols.append(col.cast(field.type))
        out = pa.Table.from_arrays(cols, schema=target)
        yield from out.to_batches(max_chunksize=65536)

    def commit(self, end: dict) -> None:
        if self._pos is None:
            self._pos = dict(end)


class DeltaBatchReader(DataSourceReader):
    """Batch half of the data source: a full-snapshot distributed read
    (mainly so format('delta_py') works for both read and readStream)."""

    def __init__(self, schema, options):
        from delta_spark.redirect import resolve_table_path

        self.path = resolve_table_path(options.get("path"))
        log = DeltaLog.for_table(self.path)
        snap = _pinned_snapshot(log, options)
        self._schema_json = snap.metadata.schemaString
        from delta_spark import geo as _geo
        if _geo.schema_string_may_have_geo(self._schema_json):
            # same scope-out as the stream reader: the pyarrow batch
            # path has no arrow mapping for the Spark geo types
            raise _geo.GeoNotSupportedException(
                "format('delta_py') reads of tables with GEOMETRY/"
                "GEOGRAPHY columns are not supported — use "
                "DeltaTable.forPath().toDF()")
        l2p = snap.physical_map()
        self._part_cols = snap.partition_columns
        self._part_keys = {c: l2p.get(c, c) for c in snap.partition_columns}
        self._files = [
            _FilePartition(
                file_path=self._fs_path(f.path),
                partition_values=json.dumps({c: f.partitionValues.get(self._part_keys.get(c, c)) for c in self._part_cols}),
                dv_json=json.dumps(f.deletionVector) if f.deletionVector else "",
                table_path=self.path,
            )
            for f in snap.all_files
        ]

    def _fs_path(self, p: str) -> str:
        return _fs_data_path(self.path, p)

    def partitions(self):
        return self._files

    read = DeltaStreamReader.read


@dataclass
class _WriteTaskResult(WriterCommitMessage):
    # per written file: {"rel": dir-relative path, "pvals": {phys: str},
    #                    "size": int, "mtime": ms, "stats": json}
    files: list


class DeltaArrowBatchWriter(DataSourceArrowWriter):
    """Batch write half of the python DataSource:
    `df.write.format("delta_py").mode(m).save(path)`. Executors stream
    Arrow RecordBatches straight into hive-partitioned parquet files
    (one ParquetWriter per partition per task) and collect per-file
    stats from the footers; the driver turns the task results into one
    transactional commit (Add[+Remove]File actions). Supports append,
    full overwrite, new-table creation (`partitionBy` option), column
    mapping, and NOT NULL enforcement. Tables with generated/identity/
    default columns or CHECK constraints need expression evaluation the
    DataSource writer cannot see — those route to
    delta_spark.io.write_delta, which is also the JVM-side fast path."""

    def __init__(self, schema, options, overwrite: bool):
        from delta_spark.schema import (
            default_values,
            generation_expressions,
            identity_info,
            logical_to_physical,
        )

        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_py writer requires a path")
        from delta_spark.redirect import resolve_table_path

        self.path = resolve_table_path(self.path)
        if not DeltaLog.for_table(self.path).table_exists():
            # same guard as delta_spark.io.write_delta: a literal
            # `p@vN` / `p@<17 digits>` path whose base IS a table is a
            # time-travel spec, never a create target
            import re as _re

            m = _re.fullmatch(r"(.*)@(?:[vV]\d+|\d{17})", self.path)
            if m and DeltaLog.for_table(m.group(1)).table_exists():
                raise ValueError(
                    f"cannot write to a time-travelled table "
                    f"({self.path!r}); writes must target the live "
                    f"table {m.group(1)!r}")
        # fail loudly on write options this path cannot honor — silently
        # dropping replaceWhere would turn a scoped overwrite into a
        # full-table wipe
        unsupported = [o for o in ("replacewhere", "mergeschema",
                                   "overwriteschema", "replaceon",
                                   "replaceusing")
                       if options.get(o)]
        if str(options.get("partitionoverwritemode", "")).lower() == "dynamic":
            unsupported.append("partitionOverwriteMode=dynamic")
        if unsupported:
            raise NotImplementedError(
                f"the delta_py writer does not support {unsupported}; "
                "use delta_spark.io.write_delta")
        self.overwrite = overwrite
        log = DeltaLog.for_table(self.path)
        self.exists = log.table_exists()
        if self.exists:
            snap = log.update()
            from delta_spark.actions import check_write_protocol

            check_write_protocol(snap.protocol)
            tschema = snap.schema
            blockers = (set(generation_expressions(tschema))
                        | set(identity_info(tschema))
                        | set(default_values(tschema)))
            from delta_spark.constraints import check_constraints as _cc

            if blockers or _cc(snap.configuration):
                raise NotImplementedError(
                    "the delta_py writer does not evaluate generated/"
                    "identity/default columns or CHECK constraints; use "
                    "delta_spark.io.write_delta for this table")
            got = {f.name for f in schema.fields}
            want = {f.name for f in tschema.fields}
            if got != want:
                raise ValueError(
                    f"schema mismatch: data columns {sorted(got)} != "
                    f"table columns {sorted(want)}")
            self.table_schema_json = snap.metadata.schemaString
            self.part_cols = snap.partition_columns
            self.cfg = dict(snap.configuration)
            req = [c.strip() for c in
                   (options.get("partitionby") or "").split(",") if c.strip()]
            if req and req != self.part_cols:
                raise ValueError(
                    f"partitioning {req} does not match table "
                    f"partitioning {self.part_cols}")
        else:
            self.table_schema_json = schema.json()
            self.part_cols = [c.strip() for c in
                              (options.get("partitionby") or "").split(",")
                              if c.strip()]
            self.cfg = {}
        tschema = schema_from_json(self.table_schema_json)
        self.l2p = logical_to_physical(tschema)
        self.not_null = [f.name for f in tschema.fields if not f.nullable]

    def write(self, it):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql import types as T

        from delta_spark.stats import (
            DEFAULT_NUM_INDEXED_COLS,
            collect_file_stats,
            file_mtime_ms,
            stats_columns,
        )
        from delta_spark.util import partition_path, serialize_partition_value

        tschema = schema_from_json(self.table_schema_json)
        types = {f.name: f.dataType for f in tschema.fields}
        part_phys = [self.l2p.get(c, c) for c in self.part_cols]
        # physical names at EVERY nesting level (nested struct fields
        # carry col-<uuid> physical names under creation-time mapping),
        # plus PARQUET:field_id metadata so pyarrow writes parquet
        # field ids — id-mode JVM readers resolve columns BY ID and see
        # nulls in files without them
        import pyarrow as pa
        from delta_spark.schema import physical_schema as _physchema

        phys_fields = _physchema(tschema, with_field_ids=True).fields
        data_fields = [
            pf for lf, pf in zip(tschema.fields, phys_fields)
            if lf.name not in set(self.part_cols)]

        def attach_ids(af: "pa.Field", sf: T.StructField) -> "pa.Field":
            dt, at = sf.dataType, af.type
            if isinstance(dt, T.StructType) and pa.types.is_struct(at):
                at = pa.struct([attach_ids(at.field(i), dt.fields[i])
                                for i in range(at.num_fields)])
            elif isinstance(dt, T.ArrayType) and pa.types.is_list(at):
                inner = attach_ids(
                    pa.field("element", at.value_type),
                    T.StructField("element", dt.elementType))
                at = pa.list_(inner.type)
            elif isinstance(dt, T.MapType) and pa.types.is_map(at):
                kt = attach_ids(pa.field("key", at.key_type),
                                T.StructField("key", dt.keyType)).type
                vt = attach_ids(pa.field("value", at.item_type),
                                T.StructField("value", dt.valueType)).type
                at = pa.map_(kt, vt)
            fid = (sf.metadata or {}).get("parquet.field.id")
            md = ({b"PARQUET:field_id": str(fid).encode()}
                  if fid is not None else None)
            return pa.field(af.name, at, af.nullable, md)

        plain = to_arrow_schema(T.StructType(data_fields))
        target = pa.schema([attach_ids(plain.field(i), data_fields[i])
                            for i in range(len(data_fields))])
        data_logical = [f.name for f in tschema.fields
                        if f.name not in set(self.part_cols)]

        writers: dict[tuple, tuple] = {}  # pvals-tuple -> (writer, abs, pvals)

        def sink_for(pvals: dict) -> tuple:
            key = tuple(sorted(pvals.items()))
            if key not in writers:
                rel_dir = partition_path(pvals, part_phys)
                final_dir = os.path.join(self.path, rel_dir) \
                    if rel_dir else self.path
                os.makedirs(final_dir, exist_ok=True)
                name = f"part-{uuid4().hex}.snappy.parquet"
                abs_path = os.path.join(final_dir, name)
                writers[key] = (pq.ParquetWriter(abs_path, target),
                                abs_path, dict(pvals))
            return writers[key]

        for batch in it:
            tbl = pa.Table.from_batches([batch])
            for c in self.not_null:
                if tbl.column(c).null_count:
                    raise ValueError(
                        f"NOT NULL constraint violated for column {c}")
            if self.part_cols:
                combos = (tbl.select(self.part_cols)
                          .group_by(self.part_cols).aggregate([])
                          .to_pylist())
            else:
                combos = [{}]
            for combo in combos:
                mask = None
                for c, v in combo.items():
                    cond = (pc.is_null(tbl.column(c)) if v is None
                            else pc.equal(tbl.column(c), pa.scalar(
                                v, type=tbl.schema.field(c).type)))
                    cond = pc.fill_null(cond, False)
                    mask = cond if mask is None else pc.and_(mask, cond)
                sub = tbl.filter(mask) if mask is not None else tbl
                pvals = {self.l2p.get(c, c): serialize_partition_value(
                    combo[c], types[c]) for c in combo}
                writer, _, _ = sink_for(pvals)
                out = sub.select(data_logical)
                out = out.rename_columns(
                    [self.l2p.get(c, c) for c in data_logical])
                arrays = [
                    _arrow_view_names(out.column(i),
                                      target.field(i).type)
                    .cast(target.field(i).type)
                    for i in range(out.num_columns)]
                writer.write_table(pa.Table.from_arrays(
                    arrays, schema=target))

        files = []
        idx_cols = stats_columns(self.cfg)
        if idx_cols is not None:
            idx_cols = [self.l2p.get(c, c) for c in idx_cols]
        try:
            n_idx = int(self.cfg.get("delta.dataSkippingNumIndexedCols",
                                     DEFAULT_NUM_INDEXED_COLS))
        except (TypeError, ValueError):
            n_idx = DEFAULT_NUM_INDEXED_COLS
        for writer, abs_path, pvals in writers.values():
            writer.close()
            files.append({
                "rel": os.path.relpath(abs_path, self.path).replace(os.sep, "/"),
                "pvals": pvals,
                "size": os.path.getsize(abs_path),
                "mtime": file_mtime_ms(abs_path),
                "stats": collect_file_stats(abs_path, idx_cols, n_idx),
            })
        return _WriteTaskResult(files=files)

    def commit(self, messages) -> None:
        self._commit_batch(messages)

    def _commit_batch(self, messages, op: str = "WRITE",
                      txn_app_id: Optional[str] = None,
                      txn_batch: Optional[int] = None) -> None:
        from delta_spark.actions import (
            AddFile,
            Metadata,
            RemoveFile,
            SetTransaction,
        )
        from delta_spark.transaction import OptimisticTransaction
        from delta_spark.util import current_time_millis, encode_log_path

        part_phys = [self.l2p.get(c, c) for c in self.part_cols]
        adds, rows, nbytes = [], 0, 0
        for msg in messages:
            for f in (msg.files if msg else []):
                adds.append(AddFile(
                    path=encode_log_path(f["rel"]),
                    partitionValues={c: f["pvals"].get(c) for c in part_phys},
                    size=f["size"], modificationTime=f["mtime"],
                    dataChange=True, stats=f["stats"]))
                nbytes += f["size"]
                try:
                    rows += json.loads(f["stats"] or "{}").get("numRecords", 0)
                except Exception:
                    pass
        log = DeltaLog.for_table(self.path)
        txn = OptimisticTransaction(log)
        # existence re-checked per commit: a streaming writer instance
        # outlives its first microbatch, which may have created the table
        exists = txn.snapshot.version >= 0
        actions: list = []
        if txn_app_id is not None and txn_batch is not None:
            # exactly-once inside the SAME transaction whose snapshot the
            # conflict checker validates (DeltaSink.addBatch /
            # io.write_delta's txnAppId check) — no TOCTOU window
            last = txn.txn_version(txn_app_id)
            if last is not None and txn_batch <= last:
                self._drop_orphans(messages)
                return
            actions.append(SetTransaction(
                appId=txn_app_id, version=txn_batch,
                lastUpdated=current_time_millis()))
        if not exists:
            actions.append(Metadata(
                schemaString=self.table_schema_json,
                partitionColumns=list(self.part_cols),
                configuration=dict(self.cfg),
                createdTime=current_time_millis()))
        removes: list = []
        if self.overwrite and exists:
            now = current_time_millis()
            removes = [RemoveFile(
                path=f.path, deletionTimestamp=now, dataChange=True,
                partitionValues=f.partitionValues, size=f.size)
                for f in txn.snapshot.all_files]
        metrics = {"numFiles": str(len(adds)),
                   "numOutputRows": str(rows),
                   "numOutputBytes": str(nbytes)}
        txn.commit(actions + adds + removes,
                   op,
                   {"mode": "Overwrite" if self.overwrite else "Append",
                    "partitionBy": json.dumps(self.part_cols)},
                   metrics)

    def abort(self, messages) -> None:
        self._drop_orphans(messages)

    def _drop_orphans(self, messages) -> None:
        for msg in messages:
            for f in (msg.files if msg else []):
                try:
                    os.remove(os.path.join(self.path, f["rel"]))
                except OSError:
                    pass


class DeltaStreamArrowWriter(DeltaArrowBatchWriter, DataSourceStreamArrowWriter):
    """Streaming sink half: `df.writeStream.format("delta_py")`.
    Per-microbatch transactional appends (Complete mode = per-batch
    overwrite) with the reference sink's exactly-once contract
    (DeltaSink.scala:108): each commit carries
    SetTransaction(appId, batchId) and a replayed batch is skipped —
    its already-written files are deleted as orphans. The appId comes
    from the `txnAppId` option, else the stream's checkpointLocation,
    else the sink path (two distinct streams into one sink should set
    txnAppId explicitly)."""

    def __init__(self, schema, options, overwrite: bool):
        DeltaArrowBatchWriter.__init__(self, schema, options, overwrite)
        self.app_id = (options.get("txnappid")
                       or options.get("checkpointlocation")
                       or f"delta_py_sink::{os.path.abspath(self.path)}")

    def commit(self, messages, batchId: int) -> None:
        self._commit_batch(messages, op="STREAMING UPDATE",
                           txn_app_id=self.app_id, txn_batch=batchId)

    def abort(self, messages, batchId: int) -> None:
        self._drop_orphans(messages)


def _pinned_snapshot(log, options):
    """Batch-read snapshot pinning: versionAsOf / timestampAsOf options
    (DeltaOptions.scala:355-356, DeltaTimeTravelSpec)."""
    v = options.get("versionasof")
    ts = options.get("timestampasof")
    if v is not None and ts is not None:
        raise ValueError("provide either versionAsOf or timestampAsOf, "
                         "not both (DeltaTimeTravelSpec)")
    if v is not None:
        return log.snapshot_at(int(v))
    if ts is not None:
        from delta_spark.util import to_millis

        # strict read-side resolution: a future timestamp errors
        # (DeltaHistoryManager canReturnLastCommit=false)
        return log.snapshot_at(log.version_for_time_travel(to_millis(ts)))
    return log.update()


class DeltaPyDataSource(DataSource):
    """`spark.readStream.format("delta_py").option("path", p)` — the
    Python-DataSource packaging of the streaming source."""

    @classmethod
    def name(cls) -> str:
        return "delta_py"

    def schema(self):
        from pyspark.sql import types as T

        from delta_spark.redirect import resolve_table_path

        log = DeltaLog.for_table(resolve_table_path(self.options["path"]))
        base = schema_from_json(
            _pinned_snapshot(log, self.options).metadata.schemaString)
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            return T.StructType(base.fields + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.TimestampType()),
            ])
        return base

    def streamReader(self, schema):
        return DeltaStreamReader(schema, self.options)

    def reader(self, schema):
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            raise NotImplementedError(
                "batch change-feed reads go through "
                "DeltaTable.table_changes() / the table_changes() TVF; "
                "the delta_py batch reader serves current-snapshot rows")
        return DeltaBatchReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        return DeltaArrowBatchWriter(schema, self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return DeltaStreamArrowWriter(schema, self.options, overwrite)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(DeltaPyDataSource)


def read_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    register(spark)
    reader = spark.readStream.format("delta_py").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()

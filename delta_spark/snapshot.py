"""Snapshot: materialized table state at a version, via action replay.

Replay rules follow the reference's InMemoryLogReplay
(actions/InMemoryLogReplay.scala:37-56): most recent AddFile per path
wins; RemoveFile cancels the matching AddFile and is retained as a
tombstone until retention expiry; most recent Metadata/Protocol win;
most recent SetTransaction per appId wins.

State is held as plain Python structures. Scale note (mirrors
Snapshot.scala:598's distributed stateReconstruction): a 100 TB table
has O(10^5-10^6) active files — tens to hundreds of MB of AddFile
structs — which comfortably fits the driver, exactly like the
reference's driver-cached DataFrame state; checkpoints keep replay
O(recent commits) instead of O(history).
"""

from __future__ import annotations

from typing import Any, Iterable, Optional

from pyspark.sql import types as T

from delta_spark import predicates as P
from delta_spark.actions import (
    AddCDCFile,
    AddFile,
    CommitInfo,
    DomainMetadata,
    Metadata,
    Protocol,
    RemoveFile,
    SetTransaction,
)
from delta_spark.stats import parse_stats_view
from delta_spark.util import deserialize_partition_value, schema_from_json


class Snapshot:
    def __init__(self, table_path: str, version: int = -1):
        self.table_path = table_path
        self.version = version
        self.protocol: Protocol = Protocol()
        # replay validation (Snapshot.validateState): a materialized
        # snapshot of an existing table must have seen BOTH a protocol
        # and a metadata action, else the log is unusable
        self._saw_protocol: bool = False
        self.metadata: Optional[Metadata] = None
        self._active: dict[str, AddFile] = {}
        self._tombstones: dict[str, RemoveFile] = {}
        self.set_transactions: dict[str, SetTransaction] = {}
        self.domain_metadata: dict[str, DomainMetadata] = {}
        self.timestamp: int = 0  # commit-file mtime of `version`
        # lazy file state (light_snapshot): when set, the first touch of
        # `active` hydrates AddFiles from the DISTRIBUTED log
        # reconstruction (DeltaLog.state_df) instead of driver replay —
        # the reference's Dataset-resident state (Snapshot.scala:598)
        self._files_loaded: bool = True
        self._hydrator = None  # () -> list[AddFile]

    # ------------------------------------------------ lazy file state ----

    @property
    def files_unloaded(self) -> bool:
        return not self._files_loaded

    @property
    def active(self) -> dict[str, AddFile]:
        if not self._files_loaded:
            self._files_loaded = True
            if self._hydrator is not None:
                from delta_spark.util import canonical_log_path

                for f in self._hydrator():
                    self._active[canonical_log_path(f.path)] = f
        return self._active

    @active.setter
    def active(self, value: dict[str, AddFile]) -> None:
        self._active = value
        self._files_loaded = True

    @property
    def tombstones(self) -> dict[str, RemoveFile]:
        # light snapshots carry no tombstones (state_df reconciles them
        # away); retention-window consumers (VACUUM, log cleanup) always
        # operate on fully replayed snapshots
        return self._tombstones

    @tombstones.setter
    def tombstones(self, value: dict[str, RemoveFile]) -> None:
        self._tombstones = value

    # ------------------------------------------------------- replay ----

    def apply_actions(self, actions: Iterable[tuple[str, Any]]) -> None:
        """Apply ONE commit's (kind, action) pairs.

        Removes are applied before adds: the protocol keys logical
        files by (path, dvId) and forbids the same logical file in both
        collections, so a commit holding remove+add of one path is
        always a DV/metadata update of that file — the add must win
        (PROTOCOL.md Action Reconciliation; the remove is only a
        tombstone of the file's previous incarnation). Callers must
        pass one commit at a time — reordering across commits would
        resurrect files deleted in a later commit."""
        from delta_spark.util import canonical_log_path

        actions = list(actions)
        ordered = ([x for x in actions if x[0] == "remove"]
                   + [x for x in actions if x[0] != "remove"])
        for kind, a in ordered:
            # reconciliation keys are CANONICALIZED (InMemoryLogReplay):
            # `add /x` must be cancelled by `remove file:/x`. Actions
            # keep their original path strings.
            if kind == "add":
                key = canonical_log_path(a.path)
                self.tombstones.pop(key, None)
                self.active[key] = a
            elif kind == "remove":
                key = canonical_log_path(a.path)
                self.active.pop(key, None)
                self.tombstones[key] = a
            elif kind == "metaData":
                self.metadata = a
            elif kind == "protocol":
                self.protocol = a
                self._saw_protocol = True
            elif kind == "txn":
                self.set_transactions[a.appId] = a
            elif kind == "domainMetadata":
                if a.removed:
                    self.domain_metadata.pop(a.domain, None)
                else:
                    self.domain_metadata[a.domain] = a
            # cdc / commitInfo don't affect table state

    # ------------------------------------------------------ accessors ----

    @property
    def schema(self) -> T.StructType:
        if self.metadata is None:
            return T.StructType([])
        return schema_from_json(self.metadata.schemaString)

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.partitionColumns) if self.metadata else []

    @property
    def data_schema(self) -> T.StructType:
        """Schema minus partition columns (what's physically in files)."""
        pc = set(self.partition_columns)
        return T.StructType([f for f in self.schema.fields if f.name not in pc])

    @property
    def all_files(self) -> list[AddFile]:
        return list(self.active.values())

    @property
    def num_files(self) -> int:
        return len(self.active)

    @property
    def size_in_bytes(self) -> int:
        return sum(f.size for f in self.active.values())

    @property
    def configuration(self) -> dict[str, str]:
        return dict(self.metadata.configuration) if self.metadata else {}

    def txn_version(self, app_id: str) -> Optional[int]:
        t = self.set_transactions.get(app_id)
        return t.version if t else None

    # ------------------------------------------- skipping / pruning ----

    @property
    def column_mapping_enabled(self) -> bool:
        return self.column_mapping_mode in ("name", "id")

    @property
    def column_mapping_mode(self) -> str:
        from delta_spark.schema import column_mapping_mode

        return column_mapping_mode(self.configuration)

    def physical_map(self) -> dict[str, str]:
        """logical → physical column names (identity when mapping off)."""
        from delta_spark.schema import logical_to_physical

        return logical_to_physical(self.schema)

    def _partition_types(self) -> dict[str, T.DataType]:
        sch = self.schema
        return {f.name: f.dataType for f in sch.fields if f.name in set(self.partition_columns)}

    def typed_partition_values(self, f: AddFile) -> dict[str, Any]:
        """Partition values keyed by LOGICAL column name (AddFile keys
        are physical under column mapping)."""
        ptypes = self._partition_types()
        l2p = self.physical_map()
        return {
            c: deserialize_partition_value(f.partitionValues.get(l2p.get(c, c)), dt)
            for c, dt in ptypes.items()
        }

    def files_for_scan(self, predicate: Optional[str] = None,
                       limit: Optional[int] = None) -> list[AddFile]:
        """The data-skipping entry point (DataSkippingReader.scala:656
        filesForScan): partition pruning + stats-based file skipping,
        with optional LIMIT pushdown at file granularity (:831).

        Sound fallback: any predicate outside the supported subset
        returns all files — Spark still applies the real filter.
        """
        files = self.all_files
        if predicate:
            try:
                ast = P.parse_predicate(predicate)
            except P.UnsupportedPredicate:
                ast = None
            if ast is not None:
                # derive partition predicates from generated partition
                # columns (GeneratedColumn.scala:512 partition-filter
                # derivation): g GENERATED AS f(x) + predicate on x
                gen_map = self._generated_partition_map()
                if gen_map:
                    for extra in P.derive_generated_conjuncts(ast, gen_map):
                        ast = P.And(ast, extra)
            if ast is not None:
                part_cols = set(self.partition_columns)
                refs = P.references(ast)
                schema = self.data_schema
                kept = []
                for f in files:
                    # partition pruning: exact three-valued eval when the
                    # predicate touches only partition columns
                    if refs and refs <= part_cols:
                        try:
                            r = P.eval_partition(ast, self.typed_partition_values(f))
                            if r is False:
                                continue
                            kept.append(f)
                            continue
                        except (P.UnsupportedPredicate, KeyError):
                            pass
                    st = self._logical_stats_view(f, schema)
                    # merge partition values into the stats view as
                    # point intervals so mixed predicates prune too
                    if part_cols:
                        tv = self.typed_partition_values(f)
                        for c, v in tv.items():
                            if v is None:
                                st.null_count[c] = st.num_records if st.num_records is not None else 1
                                if st.num_records is not None:
                                    pass
                            else:
                                st.min_values[c] = v
                                st.max_values[c] = v
                                st.null_count[c] = 0
                    try:
                        if P.might_contain(ast, st):
                            kept.append(f)
                    except P.UnsupportedPredicate:
                        kept.append(f)
                files = kept
        if limit is not None:
            picked, seen = [], 0
            for f in files:
                picked.append(f)
                n = f.num_records
                if n is not None and f.deletionVector:
                    # physical count − masked rows: counting the raw
                    # numRecords would stop too early and return fewer
                    # than `limit` rows even though more files exist
                    n = max(0, n - int(f.deletionVector.get("cardinality")
                                       or 0))
                seen += n if n is not None else 0
                if n is not None and seen >= limit:
                    break
            files = picked
        return files

    def _generated_partition_map(self) -> dict:
        """partition_col → (mapper, base_col) for recognizable
        generation expressions."""
        from delta_spark.schema import generation_expressions

        out = {}
        pcols = set(self.partition_columns)
        for col, expr in generation_expressions(self.schema).items():
            if col not in pcols:
                continue
            parsed = P.parse_generation_expr(expr)
            if parsed:
                out[col] = parsed
        return out

    def _logical_stats_view(self, f: AddFile, logical_schema: T.StructType):
        """Stats blobs key on PHYSICAL column names (they come from the
        Parquet footers); remap to logical for predicate evaluation."""
        from delta_spark.schema import physical_to_logical

        st = parse_stats_view(f.stats, self._physical_typed_schema(logical_schema))
        if self.column_mapping_enabled:
            p2l = physical_to_logical(self.schema)
            st.min_values = {p2l.get(k, k): v for k, v in st.min_values.items()}
            st.max_values = {p2l.get(k, k): v for k, v in st.max_values.items()}
            st.null_count = {p2l.get(k, k): v for k, v in st.null_count.items()}
        # collated columns: binary-order MIN/MAX bounds are wrong under
        # a non-default collation — never prune or answer MIN/MAX from
        # them (schema.collated_columns; memoized per schema object,
        # NOT recomputed per file — files_for_scan calls this in its
        # per-file loop)
        for c in self._collated_columns(logical_schema):
            st.min_values.pop(c, None)
            st.max_values.pop(c, None)
        return st

    def _collated_columns(self, logical_schema) -> set:
        cached = getattr(self, "_collated_memo", None)
        if cached is not None and cached[0] is logical_schema:
            return cached[1]
        from delta_spark.schema import collated_columns

        out = collated_columns(logical_schema)
        self._collated_memo = (logical_schema, out)
        return out

    def _physical_typed_schema(self, logical_schema: T.StructType) -> T.StructType:
        if not self.column_mapping_enabled:
            return logical_schema
        from delta_spark.schema import physical_schema

        return physical_schema(logical_schema)

    # ------------------------------------------- metadata-only aggs ----

    def metadata_aggregates(self, columns: Optional[list[str]] = None) -> Optional[dict]:
        """COUNT(*) / per-column MIN/MAX answered purely from log stats
        (perf/OptimizeMetadataOnlyDeltaQuery.scala:36). Returns None if
        any file lacks stats (preconditions :38-46)."""
        total = 0
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        min_seen: dict[str, int] = {}
        max_seen: dict[str, int] = {}
        n_files = 0
        schema = self.data_schema
        for f in self.active.values():
            if f.deletionVector:
                return None  # stats are not tight bounds under DVs
            st = self._logical_stats_view(f, schema)
            if st.num_records is None:
                return None
            n_files += 1
            total += st.num_records
            all_null = {c for c, n in (st.null_count or {}).items()
                        if n == st.num_records}
            for c, v in st.min_values.items():
                min_seen[c] = min_seen.get(c, 0) + 1
                if v is None:
                    continue
                if c not in mins or P.cmp_values(v, mins[c]) == -1:
                    mins[c] = v
            for c, v in st.max_values.items():
                max_seen[c] = max_seen.get(c, 0) + 1
                if v is None:
                    continue
                if c not in maxs or P.cmp_values(v, maxs[c]) == 1:
                    maxs[c] = v
            for c in all_null:
                # an all-null file legitimately contributes no extremum
                if c not in st.min_values:
                    min_seen[c] = min_seen.get(c, 0) + 1
                if c not in st.max_values:
                    max_seen[c] = max_seen.get(c, 0) + 1
        # a column's MIN/MAX is only answerable when EVERY file
        # contributed a value for it (a file with missing/degraded
        # stats could hold the true extremum); files that are all-null
        # for the column are the exception the reference also accepts
        mins = {c: v for c, v in mins.items() if min_seen.get(c) == n_files}
        maxs = {c: v for c, v in maxs.items() if max_seen.get(c) == n_files}
        out = {"numRecords": total, "minValues": mins, "maxValues": maxs}
        if columns:
            out["minValues"] = {c: mins.get(c) for c in columns}
            out["maxValues"] = {c: maxs.get(c) for c in columns}
        return out

    def clone_state(self) -> "Snapshot":
        s = Snapshot(self.table_path, self.version)
        s.protocol = self.protocol
        s._saw_protocol = self._saw_protocol
        s.metadata = self.metadata
        s.active = dict(self.active)
        s.tombstones = dict(self.tombstones)
        s.set_transactions = dict(self.set_transactions)
        s.domain_metadata = dict(self.domain_metadata)
        s.timestamp = self.timestamp
        return s

"""DeltaLog: the transaction log of one table.

Responsibilities (mirroring reference DeltaLog.scala +
SnapshotManagement.scala + Checkpoints.scala):
  * list `_delta_log/` → (checkpoints, json commits) → LogSegment
  * build/advance Snapshots by replay (SnapshotManagement.update :1073)
  * serve historical snapshots for time travel (getSnapshotAt :1531)
  * write/read Parquet checkpoints + `_last_checkpoint` pointer
    (Checkpoints.scala:267,670; PROTOCOL.md "Checkpoints")
  * atomic put-if-absent commit-file writes (storage/LogStore.java:100,
    :140 — local FS implementation via hard-link exclusivity)
  * commit history for DESCRIBE HISTORY / timestamp time travel
    (DeltaHistoryManager.scala:230 getActiveCommitAtTime)
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import threading
import uuid
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

# LogStore seam: put-if-absent contract, local-FS impl, in-memory
# conditional-write backend + contract checker (reference
# LogStore.java:83-140). Exceptions re-exported here because
# transaction.py and user code import them from this module.
from delta_spark.logstore import (  # noqa: F401
    ConcurrentModificationException,
    DeltaConcurrentException,
    LocalLogStore,
    LogStore,
)
from delta_spark.actions import (
    AddFile,
    CommitInfo,
    DomainMetadata,
    Format,
    Metadata,
    Protocol,
    RemoveFile,
    SetTransaction,
    parse_action_line,
)
from delta_spark.snapshot import Snapshot
from delta_spark.util import canonical_log_path, current_time_millis

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CRC_RE = re.compile(r"^(\d{20})\.crc$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
# classic multi-part checkpoints (Checkpoints.scala checkpointFileWithParts):
# <v>.checkpoint.<part>.<parts>.parquet, 1-based part numbering
_MULTIPART_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
# V2 checkpoints (PROTOCOL.md V2 spec): <v>.checkpoint.<uuid>.parquet
# referencing sidecar parquets under _delta_log/_sidecars/
_V2_RE = re.compile(r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.parquet$")
SIDECAR_DIR = "_sidecars"
# minor log compactions (DeltaLogMinorCompactionSuite /
# ContiguousVersionIterator): <start>.<end>.compacted.json aggregates
# the actions of commits [start, end]
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")

DEFAULT_CHECKPOINT_INTERVAL = 10
DEFAULT_DELETED_FILE_RETENTION_MS = 7 * 24 * 3600 * 1000  # delta.deletedFileRetentionDuration
DEFAULT_LOG_RETENTION_MS = 30 * 24 * 3600 * 1000
# auto multi-part: a checkpoint of more than twice this many actions
# with no delta.checkpoint.partSize is split into parts of about this
# many actions (at most 64) — a DEVIATION from the reference, which
# writes one file unless partSize is set. At 10⁶ actions a single-file
# checkpoint caps the replay read at its row-group count (~7 tasks for
# 28 MB), so planning parallelism dies where it matters most; setting
# partSize above the action count keeps one file (README "Scope and
# known deviations")
AUTO_PART_ACTIONS = 100_000


# -------------------------------------------------- checkpoint schema ----

def _checkpoint_arrow_schema() -> pa.Schema:
    """The SingleAction checkpoint row: the one definition of the
    action schema. Spark readers take it through
    ``checkpoint_spark_schema``."""
    smap = pa.map_(pa.string(), pa.string())
    dv = pa.struct([
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int64()),
        ("sizeInBytes", pa.int64()),
        ("cardinality", pa.int64()),
    ])
    add = pa.struct([
        ("path", pa.string()),
        ("partitionValues", smap),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
        ("deletionVector", dv),
        ("tags", smap),
        ("baseRowId", pa.int64()),
        ("defaultRowCommitVersion", pa.int64()),
        ("clusteringProvider", pa.string()),
    ])
    remove = pa.struct([
        ("path", pa.string()),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
        ("partitionValues", smap),
        ("size", pa.int64()),
    ])
    metadata = pa.struct([
        ("id", pa.string()),
        ("name", pa.string()),
        ("description", pa.string()),
        ("format", pa.struct([("provider", pa.string()), ("options", smap)])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", smap),
        ("createdTime", pa.int64()),
    ])
    protocol = pa.struct([("minReaderVersion", pa.int32()),
                          ("minWriterVersion", pa.int32()),
                          ("readerFeatures", pa.list_(pa.string())),
                          ("writerFeatures", pa.list_(pa.string()))])
    txn = pa.struct([("appId", pa.string()), ("version", pa.int64()), ("lastUpdated", pa.int64())])
    domain = pa.struct([("domain", pa.string()), ("configuration", pa.string()), ("removed", pa.bool_())])
    ckpt_meta = pa.struct([("version", pa.int64()), ("tags", smap)])
    sidecar = pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64()),
                         ("modificationTime", pa.int64()), ("tags", smap)])
    return pa.schema([
        ("add", add), ("remove", remove), ("metaData", metadata),
        ("protocol", protocol), ("txn", txn), ("domainMetadata", domain),
        ("checkpointMetadata", ckpt_meta), ("sidecar", sidecar),
    ])


def checkpoint_spark_schema():
    """``_checkpoint_arrow_schema`` as a Spark StructType."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(_checkpoint_arrow_schema())


def _tuples_to_dict(v):
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return dict(v)


# --------------------------------------------------- checkpoint rules ----
# shared by the driver writer (write_checkpoint) and the Spark-job writer
# (write_checkpoint_distributed)

def _interval_ms(cfg: dict, key: str, default):
    """Table property ``key`` as an interval in ms, else ``default``."""
    ms = parse_interval_ms(cfg.get(key) or "")
    return default if ms is None else ms


def _tombstone_cutoff(cfg: dict) -> int:
    """InMemoryLogReplay minFileRetentionTimestamp: tombstones deleted
    before this drop out of the checkpoint (DeltaRetentionSuite
    "RemoveFiles get deleted during checkpoint") — otherwise checkpoints
    of churny tables carry every remove ever made."""
    return current_time_millis() - _interval_ms(
        cfg, "delta.deletedFileRetentionDuration",
        DEFAULT_DELETED_FILE_RETENTION_MS)


def _metadata_rows(snap: Snapshot) -> list[dict]:
    """The metadata-class checkpoint rows (protocol, metaData, txn,
    domainMetadata) of a full or light snapshot."""
    p, m = snap.protocol, snap.metadata
    rows: list[dict] = [{"protocol": {
        "minReaderVersion": p.minReaderVersion,
        "minWriterVersion": p.minWriterVersion,
        "readerFeatures": p.readerFeatures,
        "writerFeatures": p.writerFeatures}}]
    if m is not None:
        rows.append({"metaData": {
            "id": m.id, "name": m.name, "description": m.description,
            "format": {"provider": m.format.provider,
                       "options": m.format.options or {}},
            "schemaString": m.schemaString,
            "partitionColumns": list(m.partitionColumns or []),
            "configuration": m.configuration or {},
            "createdTime": m.createdTime}})
    # delta.setTransactionRetentionDuration (DeltaConfigs
    # TRANSACTION_ID_RETENTION_DURATION / InMemoryLogReplay
    # minSetTransactionRetentionTimestamp): expire idempotent-write
    # markers at checkpoint time so long-lived tables don't carry every
    # app id forever
    ret = _interval_ms(snap.configuration,
                       "delta.setTransactionRetentionDuration", None)
    cutoff = None if ret is None else current_time_millis() - ret
    for t in snap.set_transactions.values():
        if (cutoff is not None and t.lastUpdated is not None
                and t.lastUpdated < cutoff):
            continue
        rows.append({"txn": {"appId": t.appId, "version": t.version,
                             "lastUpdated": t.lastUpdated}})
    for dm in snap.domain_metadata.values():
        rows.append({"domainMetadata": {
            "domain": dm.domain, "configuration": dm.configuration,
            "removed": dm.removed}})
    return rows


def checkpoint_part_count(cfg: dict, total: int) -> int:
    """Files to split ``total`` checkpoint actions into: one per
    ``delta.checkpoint.partSize`` actions when set, else the
    AUTO_PART_ACTIONS rule."""
    try:
        part_size = int(cfg.get("delta.checkpoint.partSize", "0"))
    except (TypeError, ValueError):
        part_size = 0
    if part_size > 0:
        return max(1, -(-total // part_size))
    if total > 2 * AUTO_PART_ACTIONS:
        return min(64, -(-total // AUTO_PART_ACTIONS))
    return 1


def _is_v2_policy(cfg: dict) -> bool:
    return str(cfg.get("delta.checkpointPolicy", "classic")).lower() == "v2"


def _write_action_rows(path: str, rows: list[dict]) -> None:
    """SingleAction parquet of ``rows``, renamed into place."""
    schema = _checkpoint_arrow_schema()
    cols = {n: [row.get(n) for row in rows] for n in schema.names}
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path + ".tmp")
    os.replace(path + ".tmp", path)


def _canonical_path_col(col):
    """The reconciliation key of a log path as a Column: decoded, with
    the file: scheme stripped, like the python replay (util.
    canonical_log_path); '+' is pre-escaped because url_decode
    form-decodes it to a space."""
    from pyspark.sql import functions as F

    return F.regexp_replace(
        F.url_decode(F.regexp_replace(col, r"\+", "%2B")), "^file:/*", "/")


def _commit_version_col():
    """Version of the commit JSON each row was read from."""
    from pyspark.sql import functions as F

    return F.regexp_extract(
        F.url_decode(F.input_file_name()), r"(\d{20})[^/]*\.json$", 1
    ).cast("long")


class DeltaLog:
    """One per table path; cached process-wide (DeltaLog.scala:850)."""

    _cache: dict[str, "DeltaLog"] = {}
    _cache_lock = threading.Lock()
    # injectable conditional-write backend (the seam an S3/DynamoDB
    # LogStore fills): set DeltaLog.store_factory = MyStore before
    # for_table()/clear_cache(); every log built afterwards uses it
    store_factory = LocalLogStore

    def __init__(self, table_path: str):
        self.table_path = os.path.abspath(table_path)
        self.log_path = os.path.join(self.table_path, "_delta_log")
        self.store = DeltaLog.store_factory()
        self._snapshot: Optional[Snapshot] = None
        self._lock = threading.Lock()
        self.checkpoint_interval = DEFAULT_CHECKPOINT_INTERVAL
        # version -> staged file path of coordinated commits that are
        # registered but not yet backfilled (coordinator.py)
        self._tail: dict[int, str] = {}

    # ------------------------------------------------------- factory ----

    @classmethod
    def for_table(cls, table_path: str) -> "DeltaLog":
        key = os.path.abspath(table_path)
        with cls._cache_lock:
            if key not in cls._cache:
                cls._cache[key] = cls(key)
            return cls._cache[key]

    @classmethod
    def clear_cache(cls) -> None:
        with cls._cache_lock:
            cls._cache.clear()

    def table_exists(self) -> bool:
        return (self.list_commit_versions() != []
                or self.list_checkpoint_versions() != [])

    # ------------------------------------------------------- listing ----

    def _candidate_coordinators(self) -> list:
        """Coordinators whose tail may hold this table's unbackfilled
        commits: the static registry (in-memory/filesystem — confless),
        every already-built external coordinator, and — once per
        DeltaLog — the config-driven external coordinator discovered
        from the table's own (backfilled-prefix) metadata, so a FRESH
        process can see a tail held by an external coordinator it has
        never been handed explicitly. The probe is recursion-guarded
        (the light snapshot it reads lists only filesystem-visible
        commits) and memoized for the DeltaLog's lifetime — a commit
        path that resolves the coordinator from live config fills
        _EXTERNAL_CACHE, which IS consulted every listing, so the memo
        staying stale only affects a pure reader in a process that
        never touches the table's config after the coordinator was
        enabled elsewhere (clear_cache() re-probes)."""
        from delta_spark import coordinator as C

        out = list(C.COORDINATORS.values())
        out.extend(C._EXTERNAL_CACHE.values())
        ext = getattr(self, "_ext_coord_probe", None)
        if ext is None and not getattr(self, "_in_coord_probe", False):
            self._in_coord_probe = True
            try:
                cfg = self._light_meta().configuration
                c = C.coordinator_for(cfg)
                self._ext_coord_probe = c if c is not None else False
            except Exception:
                self._ext_coord_probe = False
            finally:
                self._in_coord_probe = False
            ext = self._ext_coord_probe
        if ext:
            out.append(ext)
        uniq = []
        for c in out:
            if all(c is not s for s in uniq):
                uniq.append(c)
        return uniq

    def list_commit_versions(self) -> list[int]:
        """Backfilled commit files merged with the coordinated-commit
        tail: a registered-but-not-backfilled commit (crash window, or
        backfill still in flight) is already table state — the
        coordinator, not LIST, is authoritative for the tip.

        Catalog-managed tables (catalog_managed.py, PROTOCOL.md:1260)
        add two stronger rules: the catalog's latest ratified version is
        a CEILING (published files beyond it are ignored — e.g. a
        rejected writer published out-of-band), and for versions the
        catalog returns, the catalog's copy wins over a published file
        of the same version."""
        from delta_spark import catalog_managed as CM
        from delta_spark import coordinator as C

        fs = set()
        for name in self.store.list_dir(self.log_path):
            m = _COMMIT_RE.match(name)
            if m:
                fs.add(int(m.group(1)))
        tail: dict[int, str] = {}
        for coord in self._candidate_coordinators():
            for c in coord.get_commits(self.log_path):
                if c.version not in fs and os.path.exists(c.file_path):
                    tail[c.version] = c.file_path
        ceiling = None
        for cat in CM.CATALOGS.values():
            latest, ratified = cat.ratified(self.log_path)
            if latest < 0 and not ratified:
                continue  # this catalog doesn't manage the table
            ceiling = latest if ceiling is None else max(ceiling, latest)
            for v, rc in ratified.items():
                if rc.inline is not None:
                    tail[v] = self._spill_inline_commit(v, rc.inline)
                elif rc.file_path and os.path.exists(rc.file_path):
                    tail[v] = rc.file_path
        if ceiling is not None:
            fs = {v for v in fs if v <= ceiling}
            tail = {v: p for v, p in tail.items() if v <= ceiling}
        self._tail = tail
        return sorted(fs | set(tail))

    def _spill_inline_commit(self, version: int, content: str) -> str:
        """Materialize an inline catalog commit (content held by the
        catalog, no staged file) into a process-local spill file so
        every commit-reading path keeps operating on plain paths."""
        import hashlib
        import tempfile

        # per-user directory, created 0700: the spill dir must not be a
        # world-shared /tmp name another local user can pre-create and
        # then swap files under us (tmp-squatting)
        uid = os.getuid() if hasattr(os, "getuid") else 0
        d = os.path.join(tempfile.gettempdir(), f"delta_spark_inline_{uid}")
        os.makedirs(d, mode=0o700, exist_ok=True)
        try:
            st = os.stat(d)
            if hasattr(os, "getuid") and st.st_uid != uid:
                # squatted by another owner — fall back to a fresh
                # private dir for this process
                d = tempfile.mkdtemp(prefix="delta_spark_inline_")
        except OSError:
            pass
        # keyed by CONTENT too: a table dropped and recreated at the
        # same path must never be served a stale spill of the old
        # table's same-numbered inline commit
        key = hashlib.md5(
            f"{self.log_path}|{version}|".encode()
            + hashlib.md5(content.encode()).digest()).hexdigest()
        path = os.path.join(d, f"{key}.json")
        if os.path.exists(path):
            # verify before reuse — the name encodes the content hash,
            # so any mismatch means the file was tampered with/replaced
            try:
                with open(path) as f:
                    if f.read() == content:
                        return path
            except OSError:
                pass
        tmp = path + ".tmp.%d" % os.getpid()
        with open(tmp, "w") as f:
            f.write(content)
        os.replace(tmp, path)
        return path

    def list_checkpoint_versions(self) -> list[int]:
        out = []
        multipart: dict[int, tuple[set[int], int]] = {}
        for name in self.store.list_dir(self.log_path):
            m = _CHECKPOINT_RE.match(name)
            if m:
                out.append(int(m.group(1)))
                continue
            m = _V2_RE.match(name)
            if m:
                out.append(int(m.group(1)))
                continue
            m = _MULTIPART_RE.match(name)
            if m:
                v, part, parts = (int(m.group(1)), int(m.group(2)),
                                  int(m.group(3)))
                seen, _ = multipart.setdefault(v, (set(), parts))
                seen.add(part)
        for v, (seen, parts) in multipart.items():
            if len(seen) == parts:  # only complete sets are usable
                out.append(v)
        return sorted(set(out))

    def latest_version(self) -> int:
        versions = self.list_commit_versions()
        latest = versions[-1] if versions else -1
        # a checkpoint can be the only surviving record of its version
        # (aggressive log cleanup): the table is still readable from it
        ckpts = self.list_checkpoint_versions()
        if ckpts and ckpts[-1] > latest:
            return ckpts[-1]
        return latest

    def commit_file(self, version: int) -> str:
        return os.path.join(self.log_path, "%020d.json" % version)

    def checkpoint_file(self, version: int) -> str:
        return os.path.join(self.log_path, "%020d.checkpoint.parquet" % version)

    def checkpoint_part_file(self, version: int, part: int, parts: int) -> str:
        return os.path.join(
            self.log_path,
            "%020d.checkpoint.%010d.%010d.parquet" % (version, part, parts))

    def checkpoint_paths(self, version: int) -> list[str]:
        """Backing top-level parquet file(s) of a checkpoint: the single
        classic file, a V2 uuid file, or every part of a complete
        multi-part set (V2 sidecars are resolved at apply time)."""
        single = self.checkpoint_file(version)
        if os.path.exists(single):
            return [single]
        parts = []
        for name in self.store.list_dir(self.log_path):
            m = _V2_RE.match(name)
            if m and int(m.group(1)) == version:
                return [os.path.join(self.log_path, name)]
            m = _MULTIPART_RE.match(name)
            if m and int(m.group(1)) == version:
                parts.append((int(m.group(2)),
                              os.path.join(self.log_path, name)))
        return [p for _, p in sorted(parts)]

    def commit_source(self, version: int) -> str:
        """Backing file for a version: the backfilled ``<v>.json`` or,
        for an unbackfilled coordinated commit, its staged file. The
        tail is consulted FIRST: for catalog-managed tables the
        catalog-returned copy is authoritative even when a published
        file of the same version exists (PROTOCOL.md:1269)."""
        if version in self._tail:
            src = self._tail[version]
            if os.path.exists(src):
                return src
        path = self.commit_file(version)
        if os.path.exists(path):
            return path
        self.list_commit_versions()  # refresh the tail once
        return self._tail.get(version, path)

    def read_commit_actions(self, version: int):
        content = self.store.read(self.commit_source(version))
        return [parse_action_line(line) for line in content.splitlines() if line.strip()]

    # ------------------------------------------- minor log compaction ----

    def _replay_plan(self, start: int, end: int) -> list[tuple[int, int, Optional[str]]]:
        """Files to replay for commits [start, end]: per-version commit
        jsons, with a contiguous run substituted by a
        ``<x>.<y>.compacted.json`` when fully contained in the range
        (ContiguousVersionIterator role). Returns (from, to, path)
        where path is None for a plain commit."""
        compacted: dict[int, tuple[int, str]] = {}
        for name in self.store.list_dir(self.log_path):
            m = _COMPACTED_RE.match(name)
            if m:
                s, e = int(m.group(1)), int(m.group(2))
                if start <= s and e <= end and e >= compacted.get(s, (-1, ""))[0]:
                    compacted[s] = (e, os.path.join(self.log_path, name))
        plan: list[tuple[int, int, Optional[str]]] = []
        v = start
        while v <= end:
            if v in compacted:
                e, p = compacted[v]
                plan.append((v, e, p))
                v = e + 1
            else:
                plan.append((v, v, None))
                v += 1
        return plan

    def _apply_commit_range(self, snap: Snapshot, start: int, end: int) -> None:
        commits = None
        for s, e, path in self._replay_plan(start, end):
            if path is None:
                if commits is None:
                    commits = set(self.list_commit_versions())
                if s not in commits:
                    raise ValueError(
                        f"missing commit file version {s} in {self.log_path}")
                snap.apply_actions(self.read_commit_actions(s))
            else:
                content = self.store.read(path)
                snap.apply_actions([parse_action_line(line)
                                    for line in content.splitlines()
                                    if line.strip()])
            snap.version = e

    def compact_log(self, start: int, end: int) -> str:
        """Write ``<start>.<end>.compacted.json``: the partial replay of
        commits [start, end] — last file action per path wins, latest
        Metadata/Protocol, latest txn per appId, latest domainMetadata
        per domain; commitInfo is dropped (history still reads the
        per-version jsons). At scale this turns a LIST+read of N small
        jsons into one sequential read for cold snapshot construction
        between checkpoints."""
        if start > end:
            raise ValueError(f"invalid compaction range [{start}, {end}]")
        file_state: dict[str, dict] = {}   # path -> last {"add"|"remove": ...}
        meta = proto = None
        txns: dict[str, dict] = {}
        domains: dict[str, dict] = {}
        for v in range(start, end + 1):
            content = self.store.read(self.commit_source(v))
            for line in content.splitlines():
                if not line.strip():
                    continue
                raw = json.loads(line)
                if "add" in raw:
                    file_state[raw["add"]["path"]] = {"add": raw["add"],
                                                      "__v": v}
                elif "remove" in raw:
                    # same-version remove+add of one path is a DV/
                    # metadata update: the add is the live entry
                    # (PROTOCOL.md Action Reconciliation) — never let
                    # its tombstone shadow it in the compacted replay
                    prev = file_state.get(raw["remove"]["path"])
                    if prev is not None and "add" in prev and prev["__v"] == v:
                        continue
                    file_state[raw["remove"]["path"]] = {
                        "remove": raw["remove"], "__v": v}
                elif "metaData" in raw:
                    meta = raw
                elif "protocol" in raw:
                    proto = raw
                elif "txn" in raw:
                    txns[raw["txn"]["appId"]] = raw
                elif "domainMetadata" in raw:
                    domains[raw["domainMetadata"]["domain"]] = raw
        out = []
        if proto:
            out.append(proto)
        if meta:
            out.append(meta)
        out.extend(txns.values())
        out.extend(domains.values())
        out.extend({k: v for k, v in fs.items() if k != "__v"}
                   for fs in file_state.values())
        path = os.path.join(self.log_path,
                            "%020d.%020d.compacted.json" % (start, end))
        try:
            self.store.write_atomic(
                path,
                "\n".join(json.dumps(r, separators=(",", ":")) for r in out))
        except ConcurrentModificationException:
            pass  # deterministic content — an existing file is identical
        return path

    # ------------------------------------------------------ snapshots ----

    def update(self) -> Snapshot:
        """List new log files and advance the cached snapshot
        (SnapshotManagement.update). Fails closed on a protocol this
        client cannot read (actions.check_read_protocol)."""
        from delta_spark.actions import check_read_protocol

        with self._lock:
            latest = self.latest_version()
            if latest < 0:
                self._snapshot = Snapshot(self.table_path, -1)
                return self._snapshot
            if self._snapshot is not None and self._snapshot.version == latest:
                return self._snapshot
            if self._snapshot is not None and self._snapshot.version < latest:
                # incremental: apply only the new commits
                try:
                    snap = self._snapshot.clone_state()
                    self._apply_commit_range(snap, snap.version + 1, latest)
                    snap.timestamp = self._commit_timestamp(
                        latest, cfg=snap.configuration)
                    check_read_protocol(snap.protocol)
                    self._check_catalog_reachable(snap)
                    self._snapshot = snap
                    return snap
                except ValueError:
                    # a commit json in the gap was removed by log cleanup
                    # (only a checkpoint covers it) → full rebuild below
                    pass
            snap = self._build_snapshot(latest)
            check_read_protocol(snap.protocol)  # BEFORE caching
            self._check_catalog_reachable(snap)
            self._snapshot = snap
            return self._snapshot

    def _check_catalog_reachable(self, snap) -> None:
        """Catalog-managed fail-closed read gate (PROTOCOL.md:1411):
        the catalog, not the filesystem, is the source of truth for a
        ``catalogManaged`` table — reading one without consulting its
        managing catalog could miss ratified-but-unpublished commits or
        read beyond the authoritative latest version. If no registered
        catalog has state for this table, refuse the read."""
        p = snap.protocol
        if not p or "catalogManaged" not in (p.readerFeatures or []):
            return
        from delta_spark import catalog_managed as CM

        for cat in CM.CATALOGS.values():
            latest, ratified = cat.ratified(self.log_path)
            if latest >= 0 or ratified:
                return
        raise IOError(
            "this table is catalog-managed (catalogManaged table "
            "feature) but no registered managing catalog has state for "
            "it; reading through the filesystem alone could return a "
            "stale or wrong snapshot (PROTOCOL.md catalog-managed "
            "reader requirements)")

    @property
    def snapshot(self) -> Snapshot:
        return self.update()

    def check_version_exists(self, version: int) -> None:
        latest = self.latest_version()
        if version > latest or version < 0:
            raise ValueError(
                f"Cannot time travel to version {version}; latest is {latest}")

    def earliest_available_version(self) -> int:
        """Oldest version still reconstructible after log cleanup: 0
        while the commit chain is intact, else the oldest checkpoint
        (DeltaHistoryManager.getEarliestReproducibleCommit role)."""
        commits = self.list_commit_versions()
        if commits and commits[0] == 0:
            return 0
        ckpts = self.list_checkpoint_versions()
        cands = list(ckpts) + commits[:1]
        return min(cands) if cands else 0

    def snapshot_at(self, version: int) -> Snapshot:
        """Time travel (SnapshotManagement.getSnapshotAt). A version
        below the cleanup horizon raises the reference's
        VersionNotFoundException shape (DeltaErrors
        versionNotExistException: 'Cannot time travel...')."""
        from delta_spark.actions import check_read_protocol

        self.check_version_exists(version)
        earliest = self.earliest_available_version()
        if version < earliest:
            raise ValueError(
                f"Cannot time travel Delta table to version {version}. "
                f"Available versions: [{earliest}, "
                f"{self.latest_version()}].")
        snap = self._build_snapshot(version)
        check_read_protocol(snap.protocol)
        self._check_catalog_reachable(snap)
        return snap

    def checkpointed_action_count(self) -> Optional[int]:
        """Action count recorded in ``_last_checkpoint`` ("size",
        Checkpoints.scala LastCheckpointInfo) — a scan-scale estimate
        that costs one tiny JSON read, available BEFORE any replay."""
        try:
            d = json.loads(self.store.read(
                os.path.join(self.log_path, "_last_checkpoint")))
            return int(d["size"]) if d.get("size") is not None else None
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def light_snapshot(self, version: Optional[int] = None,
                       spark=None) -> Snapshot:
        """Snapshot with the metadata-class state (metadata, protocol,
        set-transactions, metadata domains, version, timestamp) but no
        eagerly loaded file state: the checkpoint is read column-pruned
        and post-checkpoint commits contribute only their metadata-class
        actions. This is the driver cost a scan plan should pay on a
        huge table — the reference keeps file state in a Dataset
        (Snapshot.scala:598) and eagerly extracts only protocol+metadata.

        With ``spark``, the file state hydrates LAZILY on first touch of
        ``active``/``all_files`` from the distributed reconstruction
        (``state_df`` collect — executors parse the log; the driver
        receives only the live AddFiles). Without it, file accessors
        see an empty set and planning must use ``files_for_scan_df``."""
        if version is None:
            version = self.latest_version()
        snap = Snapshot(self.table_path, version)
        start = 0
        ckpts = [c for c in self.list_checkpoint_versions() if c <= version]
        if ckpts:
            ck = ckpts[-1]
            self._apply_checkpoint(snap, ck, metadata_only=True)
            start = ck + 1
        # AMT tables carry the metadata-class state INLINE in the
        # checkpoint action, so a light snapshot needs neither the tree
        # nor the (possibly cleaned-up) pre-tree commits
        amt_boot = self._amt_checkpoint(version)
        if amt_boot is not None and amt_boot[0] + 1 > start:
            from delta_spark import amt as _amt

            proto, meta, domains, txns = _amt.load_meta(amt_boot[1])
            snap.protocol = proto
            snap._saw_protocol = True
            snap.metadata = meta
            snap.domain_metadata = {d.domain: d for d in domains}
            snap.set_transactions = {t.appId: t for t in txns}
            start = amt_boot[0] + 1
        meta_kinds = ("metaData", "protocol", "txn", "domainMetadata")
        markers = tuple(f'"{k}"' for k in meta_kinds)
        for s, e, path in self._replay_plan(start, version):
            if path is None:
                lines = self.store.read(self.commit_source(s)).splitlines()
            else:
                lines = self.store.read(path).splitlines()
            for line in lines:
                # cheap substring pre-filter: skip parsing the (add-
                # heavy) bulk of each commit
                if not any(m in line for m in markers):
                    continue
                kind, a = parse_action_line(line)
                if kind in meta_kinds:
                    snap.apply_actions([(kind, a)])
        snap.version = version
        # ICT detection from THIS snapshot's config — the cached full
        # snapshot may not exist in a light-planning-only process
        snap.timestamp = self._commit_timestamp(version,
                                                cfg=snap.configuration)
        if spark is not None:
            snap._files_loaded = False
            snap._hydrator = (lambda v=version: addfiles_from_state_rows(
                self.state_df(spark, v).collect()))
        from delta_spark.actions import check_read_protocol

        check_read_protocol(snap.protocol)
        return snap

    def _light_meta(self, version: Optional[int] = None) -> Snapshot:
        """Per-version-immutable cache over ``light_snapshot`` for
        planning: repeated scans of the same version pay the checkpoint
        metadata read once. Callers must treat the result as read-only
        (no hydrator is attached)."""
        if version is None:
            version = self.latest_version()
        cached = getattr(self, "_light_meta_cache", None)
        if cached is not None and cached[0] == version:
            return cached[1]
        snap = self.light_snapshot(version)
        self._light_meta_cache = (version, snap)
        return snap

    def _amt_checkpoint(self, version: int) -> Optional[tuple[int, dict]]:
        """(version, checkpoint dict) of the newest AMT inline manifest
        tree at/below `version`, or None. Gated on manifest-shaped
        files under <table>/metadata so non-AMT tables (including ones
        with a user data directory named `metadata`) pay zero extra
        log reads."""
        _mdir = os.path.join(self.table_path, "metadata")
        try:
            names = os.listdir(_mdir)
        except OSError:
            return None
        if not any(n.startswith("manifest-") and n.endswith(".parquet")
                   for n in names):
            return None
        from delta_spark import amt as _amt

        try:
            return _amt.find_latest_checkpoint(self, version)
        except Exception:
            return None

    def _build_snapshot(self, version: int) -> Snapshot:
        # checkpoint fallback (SnapshotManagement
        # createSnapshotFromGivenOrEquivalentLogSegment recovery rules):
        # a checkpoint that fails to READ (torn external write, corrupt
        # parquet) must not brick the table while an older checkpoint or
        # the commit chain can still reconstruct the same state — try
        # checkpoints newest-first, then pure commit replay. Recovery is
        # only impossible when the needed commits were cleaned up, which
        # surfaces as the named missing-commit/protocol error below.
        ckpts = [c for c in self.list_checkpoint_versions() if c <= version]
        # AMT bootstrap (adaptiveMetadata-preview, amt.py): when the
        # table carries an inline manifest-tree checkpoint, it is
        # preferred over any OLDER classic checkpoint — leaf-resident
        # AddFiles must carry their backReferences for the next
        # incremental tree, and the tree is the only state source once
        # commits below it are cleaned. The <table>/metadata dir probe
        # keeps non-AMT tables at zero extra reads.
        amt_boot = self._amt_checkpoint(version)
        candidates: list = list(reversed(ckpts))
        if amt_boot is not None:
            pos = 0
            while pos < len(candidates) and candidates[pos] > amt_boot[0]:
                pos += 1
            candidates.insert(pos, ("amt", *amt_boot))
        last_err: Optional[Exception] = None
        for ck in [*candidates, None]:
            snap = Snapshot(self.table_path, version)
            start = 0
            try:
                if isinstance(ck, tuple):
                    from delta_spark import amt as _amt
                    from delta_spark.util import canonical_log_path as _ckey

                    _, amt_v, ckd = ck
                    adds, proto, meta, domains, txns = _amt.load_state(
                        self, ckd)
                    snap.active = {_ckey(a.path): a for a in adds}
                    snap.protocol = proto
                    snap._saw_protocol = True
                    snap.metadata = meta
                    snap.domain_metadata = {d.domain: d for d in domains}
                    snap.set_transactions = {t.appId: t for t in txns}
                    start = amt_v + 1
                elif ck is not None:
                    self._apply_checkpoint(snap, ck)
                    start = ck + 1
                self._apply_commit_range(snap, start, version)
            except Exception as e:  # corrupt checkpoint / cleaned commit
                last_err = e
                continue
            break
        else:
            raise ValueError(
                f"cannot reconstruct version {version}: every checkpoint "
                f"at/below it failed to read and the commit chain is "
                f"incomplete (last error: {last_err})")
        if isinstance(ck, tuple):       # AMT bootstrap succeeded: memoize
            self._amt_last = (ck[1], ck[2])
        snap.version = version
        # decide ICT from the REPLAYED configuration, not the cached
        # snapshot — on the first load of an ICT table in a fresh
        # process the cache is empty and the timestamp would silently
        # degrade to the file mtime (wrong time travel boundaries)
        snap.timestamp = self._commit_timestamp(
            version, cfg=snap.configuration)
        # Snapshot.validateState (DeltaErrors.actionNotFoundException):
        # a snapshot of an existing table must have replayed BOTH a
        # protocol and a metadata action — defaulting either would let
        # this client misread a table (e.g. ignore a feature gate)
        if not snap._saw_protocol:
            raise ValueError(
                f"the protocol of your Delta table could not be "
                f"recovered while reconstructing version {version} "
                f"(actionNotFound: protocol)")
        if snap.metadata is None:
            raise ValueError(
                f"the metadata of your Delta table could not be "
                f"recovered while reconstructing version {version} "
                f"(actionNotFound: metadata)")
        return snap

    def _commit_timestamp(self, version: int,
                          cfg: Optional[dict] = None) -> int:
        ict = (str((cfg or {}).get("delta.enableInCommitTimestamps",
                                   "false")).lower() == "true"
               if cfg is not None else self._ict_enabled())
        if ict:
            # in-commit timestamps are authoritative and monotonic
            # (PROTOCOL.md:1979); the protocol stores the value in the
            # DEDICATED commitInfo.inCommitTimestamp field — fall back
            # to `timestamp` only for our own pre-field legacy commits
            try:
                for kind, a in self.read_commit_actions(version):
                    if kind != "commitInfo":
                        continue
                    if a.inCommitTimestamp:
                        return a.inCommitTimestamp
                    if a.timestamp:
                        return a.timestamp
            except OSError:
                pass
        try:
            return int(os.stat(self.commit_source(version)).st_mtime * 1000)
        except OSError:
            return 0

    def _ict_enabled(self) -> bool:
        snap = self._snapshot
        if snap is None or snap.metadata is None:
            return False
        return str(snap.configuration.get(
            "delta.enableInCommitTimestamps", "false")).lower() == "true"

    # ----------------------------------------------------- checkpoint ----

    def _log_segment_paths(self, version: int):
        """(checkpoint_version_or_None, checkpoint_paths, commit_paths)
        covering the table state at `version` — the latest checkpoint
        ≤ version with its V2 sidecars appended (the sidecar LIST is
        read driver-side from the small top file; the sidecar DATA is
        not touched), plus the commit JSONs after it. The shared source
        assembly behind state_df and the distributed checkpoint writer."""
        ckv, ck_paths = None, []
        ckpts = [c for c in self.list_checkpoint_versions() if c <= version]
        if ckpts:
            ckv = ckpts[-1]
            ck_paths = list(self.checkpoint_paths(ckv))
            if not ck_paths:
                # the checkpoint vanished between the two listings
                # (concurrent cleanup): failing loudly beats silently
                # reconstructing (and possibly re-checkpointing!) a
                # state missing every file at or before `ckv`
                raise FileNotFoundError(
                    f"checkpoint {ckv} disappeared during planning")
            # only a single-file checkpoint can be a V2 top file carrying
            # sidecar references; classic multi-part sets never do, so
            # skip the per-part footer sniff for them
            if len(ck_paths) == 1:
                p = ck_paths[0]
                if "sidecar" in pq.read_schema(p).names:
                    for r in pq.read_table(p, columns=["sidecar"]).to_pylist():
                        sc = r.get("sidecar")
                        if sc and sc.get("path"):
                            ck_paths.append(os.path.join(
                                self.log_path, SIDECAR_DIR, sc["path"]))
        start = ckv + 1 if ckv is not None else 0
        commits = [self.commit_source(v) for v in range(start, version + 1)]
        return ckv, ck_paths, commits

    def state_df(self, spark, version: Optional[int] = None,
                 stats_struct=None):
        """Distributed snapshot state reconstruction (reference
        Snapshot.scala:598 `stateReconstruction`,
        DataSkippingReader.scala:656 `withStats`): the LIVE AddFiles at
        `version` computed as a DataFrame. Checkpoint parquet parts
        (plus V2 sidecars) and commit JSONs are read by executors and
        reconciled per path with a latest-action window — the log never
        materializes on the driver, so this is the planning path for
        logs beyond the driver-replay comfort zone (~10⁶ files at
        ~1 KB/AddFile ≈ 1 GB of driver heap). Produces the same file
        set as the python replay (tests/test_distributed_replay.py).

        Columns: path, size, modificationTime, dataChange,
        partitionValues map<string,string>, stats (JSON string),
        deletionVector (JSON string), version.

        With ``stats_struct`` (a StructType), an extra ``__sp`` column
        carries the checkpoint's TYPED ``add.stats_parsed`` struct
        (written under `delta.checkpoint.writeStatsAsStruct`,
        Checkpoints.scala `stats_parsed`) coerced to the requested
        shape — null for rows whose source has no parsed stats (commit
        JSONs, pre-feature checkpoints), letting the scan filter skip
        the per-row JSON parse for the checkpointed bulk of the log.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if version is None:
            version = self.latest_version()
        if version < 0:
            empty = spark.createDataFrame(
                [], "path string, size long, modificationTime long, "
                    "dataChange boolean, partitionValues map<string,string>, "
                    "stats string, deletionVector string, tags "
                    "map<string,string>, baseRowId long, "
                    "defaultRowCommitVersion long, clusteringProvider "
                    "string, version long")
            if stats_struct is not None:
                empty = empty.withColumn(
                    "__sp", F.lit(None).cast(stats_struct))
            return empty

        def _norm(df, ver_col):
            def has_field(col, field):
                if col not in df.columns:
                    return False
                dt = df.schema[col].dataType
                return isinstance(dt, T.StructType) and field in dt.names

            def sub(col, field, typ):
                if has_field(col, field):
                    return F.col(f"{col}.{field}").cast(typ)
                return F.lit(None).cast(typ)

            def sub_json(col, field):
                if has_field(col, field):
                    dt = df.schema[col].dataType[field].dataType
                    c = F.col(f"{col}.{field}")
                    if isinstance(dt, T.MapType):
                        return c.cast("map<string,string>")
                    # JSON inference yields a struct — round-trip to map
                    return F.from_json(F.to_json(c), "map<string,string>")
                return F.lit(None).cast("map<string,string>")

            def sub_as_json(col, field):
                if has_field(col, field):
                    return F.to_json(F.col(f"{col}.{field}"))
                return F.lit(None).cast("string")

            def sub_stats_parsed():
                """`add.stats_parsed` coerced to the REQUESTED struct
                shape: stored subfields cast to the requested type
                (type widening after checkpoint), requested fields the
                stored struct lacks (columns added after checkpoint)
                null out — the skipping filter treats null as keep."""
                if not has_field("add", "stats_parsed"):
                    return F.lit(None).cast(stats_struct)
                src_t = df.schema["add"].dataType["stats_parsed"].dataType
                if not isinstance(src_t, T.StructType):
                    return F.lit(None).cast(stats_struct)

                def build(prefix, want_t, have_t):
                    parts = []
                    for fl in want_t.fields:
                        have = (fl.name in have_t.names
                                and have_t[fl.name].dataType) or None
                        if isinstance(fl.dataType, T.StructType):
                            if isinstance(have, T.StructType):
                                parts.append(build(f"{prefix}.`{fl.name}`",
                                                   fl.dataType, have)
                                             .alias(fl.name))
                            else:
                                parts.append(F.lit(None).cast(fl.dataType)
                                             .alias(fl.name))
                        elif have is not None:
                            parts.append(F.col(f"{prefix}.`{fl.name}`")
                                         .cast(fl.dataType).alias(fl.name))
                        else:
                            parts.append(F.lit(None).cast(fl.dataType)
                                         .alias(fl.name))
                    return F.struct(*parts)

                return F.when(
                    F.col("add.stats_parsed").isNotNull(),
                    build("add.stats_parsed", stats_struct, src_t))

            has = (lambda c: F.col(f"{c}.path").isNotNull()
                   if has_field(c, "path") else F.lit(False))
            extra = ([sub_stats_parsed().alias("__sp")]
                     if stats_struct is not None else [])
            return (df.select(
                F.coalesce(sub("add", "path", "string"),
                           sub("remove", "path", "string")).alias("path"),
                has("add").alias("is_add"),
                (has("add") | has("remove")).alias("is_file_action"),
                sub("add", "size", "long").alias("size"),
                sub("add", "modificationTime", "long").alias("modificationTime"),
                sub("add", "dataChange", "boolean").alias("dataChange"),
                sub_json("add", "partitionValues").alias("partitionValues"),
                sub("add", "stats", "string").alias("stats"),
                sub_as_json("add", "deletionVector").alias("deletionVector"),
                sub_json("add", "tags").alias("tags"),
                sub("add", "baseRowId", "long").alias("baseRowId"),
                sub("add", "defaultRowCommitVersion", "long")
                .alias("defaultRowCommitVersion"),
                sub("add", "clusteringProvider", "string")
                .alias("clusteringProvider"),
                ver_col.alias("version"),
                *extra)
                .filter(F.col("is_file_action")))

        ck_df = None
        # AMT tables: the manifest tree is the reconstruction base when
        # it is at least as new as any classic checkpoint — leaves are
        # read by executors (amt.tree_files_df) and the tree is the
        # ONLY base once pre-tree commits are cleaned up
        amt_boot = self._amt_checkpoint(version)
        try:
            ck, ck_paths, commit_paths = self._log_segment_paths(version)
        except FileNotFoundError:
            if amt_boot is None:
                raise
            ck, ck_paths, commit_paths = None, [], []
        if amt_boot is not None and (ck is None or amt_boot[0] >= ck):
            from delta_spark import amt as _amt

            ck = amt_boot[0]
            ck_df = _amt.tree_files_df(self, spark, amt_boot[1],
                                       stats_struct=stats_struct)
            commit_paths = [self.commit_source(v)
                            for v in range(ck + 1, version + 1)]
        elif ck_paths:
            top = spark.read.parquet(*ck_paths)
            ck_df = _norm(top, F.lit(ck).cast("long"))
        if commit_paths:
            # explicit action schema: ONE pass over the commit JSONs
            # (inference would read everything twice) and native
            # map-typed partitionValues
            full = checkpoint_spark_schema()
            cj = spark.read.schema(T.StructType([full["add"], full["remove"]])
                                   ).json(commit_paths)
            tail_df = _norm(cj, _commit_version_col())
        else:
            tail_df = None
        if ck_df is None and tail_df is None:
            return self.state_df(spark, -1, stats_struct)
        # reconcile on the CANONICAL path like the python replay /
        # InMemoryLogReplay
        canon = _canonical_path_col(F.col("path"))
        drop_cols = ("__canon", "is_add", "is_file_action")

        def reconcile(df):
            # latest action per path wins; within one commit the add
            # beats the remove (DV rewrite: remove(path,dv1)+add(path,dv2)
            # keeps the file live)
            w = Window.partitionBy("__canon").orderBy(
                F.desc("version"), F.desc("is_add"))
            return (df.withColumn("__rn", F.row_number().over(w))
                    .filter((F.col("__rn") == 1) & F.col("is_add"))
                    .drop("__rn", *drop_cols))

        if ck_df is None:
            return reconcile(tail_df.withColumn("__canon", canon))
        # A valid checkpoint is already reconciled: add actions have
        # unique path keys and a path never appears in both the add and
        # remove collections (PROTOCOL.md "Action Reconciliation").  So
        # the (large) checkpoint never needs the window shuffle — only
        # the commit tail does, and the checkpoint side is a map-only
        # broadcast anti-join against the tail's touched paths.  The
        # tail is bounded by delta.checkpointInterval commits, so its
        # path set broadcasts.
        ck_live = ck_df.withColumn("__canon", canon).filter("is_add")
        if tail_df is None:
            return ck_live.drop(*drop_cols)
        tail = tail_df.withColumn("__canon", canon)
        # a checkpoint is normally ≤ checkpointInterval commits behind,
        # but nothing enforces that (stalled checkpointing, one massive
        # post-checkpoint MERGE). Guard the broadcast by the tail's
        # on-disk JSON size — beyond the threshold, degrade to the
        # ordinary union+window shuffle, which handles any tail size.
        try:
            tail_bytes = sum(os.stat(p).st_size for p in commit_paths)
        except OSError:
            tail_bytes = 1 << 62
        max_tail = int(spark.conf.get(
            "delta_spark.scan.tailBroadcastMaxBytes", str(256 << 20)))
        if tail_bytes > max_tail:
            return reconcile(ck_live.unionByName(
                tail, allowMissingColumns=True))
        touched = tail.select("__canon").distinct()
        return (ck_live
                .join(F.broadcast(touched), "__canon", "left_anti")
                .drop(*drop_cols)
                .unionByName(reconcile(tail), allowMissingColumns=True))

    def files_for_scan_df(self, spark, predicate: Optional[str] = None,
                          version: Optional[int] = None,
                          limit: Optional[int] = None):
        """Distributed filesForScan (DataSkippingReader.scala:656 as a
        DataFrame): `state_df` filtered by the skipping predicate
        compiled to a Catalyst condition over the from_json-parsed
        stats (min/max/nullCount/numRecords) and partition values.
        Neither the file list nor the stats ever materialize on the
        driver — the scale path when even the pruned listing is large.
        Sound like the python loop: unsupported predicates and missing
        stats keep the file."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from delta_spark import predicates as P
        from delta_spark.schema import logical_to_physical

        def unpruned():
            return self._limit_files_df(self.state_df(spark, version), limit)

        if not predicate:
            return unpruned()
        # metadata-only snapshot: compiling the skipping predicate needs
        # the schema/partition columns, never the file state
        snap = self._light_meta(version)
        if snap.metadata is None:
            return unpruned()
        try:
            ast = P.parse_predicate(predicate)
        except P.UnsupportedPredicate:
            return unpruned()
        gen_map = snap._generated_partition_map()
        if gen_map:
            for extra in P.derive_generated_conjuncts(ast, gen_map):
                ast = P.And(ast, extra)
        schema = snap.schema
        part_cols = set(snap.partition_columns)
        l2p = logical_to_physical(schema)
        stat_fields, stats_schema = skipping_stats_schema(
            schema, part_cols, l2p)
        column_types = {f.name: f.dataType.simpleString() for f in schema.fields}

        # split top-level conjuncts: partition-only conditions compile
        # to a filter over the native partitionValues map and run
        # BEFORE the stats struct materializes, so from_json(stats) —
        # the allocation-heavy part of pruning at 10⁶ files — touches
        # only the partition survivors (conjunct-wise might_contain is
        # exactly how an AND prunes, so the split changes no results)
        def _conjuncts(n):
            if isinstance(n, P.And):
                yield from _conjuncts(n.left)
                yield from _conjuncts(n.right)
            else:
                yield n

        part_nodes, rest_nodes = [], []
        for c in _conjuncts(ast):
            refs = P.references(c)
            (part_nodes if refs and refs <= part_cols
             else rest_nodes).append(c)

        def _fold(nodes):
            out = nodes[0]
            for n in nodes[1:]:
                out = P.And(out, n)
            return out

        stat_names = {f.name for f in stat_fields}
        # typed checkpoint stats (stats_parsed) short-circuit the JSON
        # parse for the checkpointed bulk of the log; commit-JSON rows
        # (null __sp) fall back to from_json
        df = self.state_df(spark, version, stats_struct=stats_schema)
        if part_nodes:
            pcond = P.skipping_condition_sql(
                _fold(part_nodes), column_types, part_cols, l2p,
                stat_cols=stat_names)
            # the compiled condition's null-partition-value guards
            # reference __s; serve them the TYPED __sp only (no JSON
            # parse) — a null __s resolves to keep, which is sound
            df = (df.withColumn("__s", F.col("__sp"))
                  .filter(F.expr(pcond))
                  .drop("__s"))
        if rest_nodes:
            cond = P.skipping_condition_sql(
                _fold(rest_nodes), column_types, part_cols, l2p,
                stat_cols=stat_names)
            df = (df.withColumn(
                      "__s", F.coalesce(F.col("__sp"),
                                        F.from_json("stats", stats_schema)))
                  .filter(F.expr(cond))
                  .drop("__s"))
        out = df.drop("__sp")
        return self._limit_files_df(out, limit)

    @staticmethod
    def _limit_files_df(df, limit: Optional[int]):
        """LIMIT pushdown at file granularity (DataSkippingReader
        filesForScan(limit)): keep a deterministic prefix of files
        whose cumulative numRecords covers the limit (files with
        unknown counts contribute 0, like the python loop)."""
        if limit is None:
            return df
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = (Window.orderBy("version", "path")
             .rowsBetween(Window.unboundedPreceding, -1))
        nr = F.coalesce(
            F.get_json_object("stats", "$.numRecords").cast("long"), F.lit(0))
        return (df.withColumn("__prev", F.coalesce(F.sum(nr).over(w), F.lit(0)))
                .filter(F.col("__prev") < limit)
                .drop("__prev"))

    def write_checkpoint(self, snap: Optional[Snapshot] = None) -> None:
        """Checkpoint written on the driver from a replayed snapshot:
        Parquet of SingleAction rows + `_last_checkpoint` pointer
        (Checkpoints.scala:670). When ``checkpoint_part_count`` asks
        for more than one file the actions are split into
        `<v>.checkpoint.<part>.<parts>.parquet` (classic multi-part,
        Checkpoints.scala checkpointFileWithParts) — at 100 TB a table
        has millions of AddFiles and a single checkpoint parquet becomes
        both a write bottleneck and an un-parallelizable read; parts let
        executors scan the log state in parallel. Under
        ``delta.checkpointPolicy=v2`` the file actions go to sidecars
        instead (``_write_v2_top``)."""
        snap = snap or self.update()
        if snap.version < 0:
            return
        # with an external commit store nothing may have touched the
        # local _delta_log yet — checkpoints/bulk bytes always land on
        # the (object) store side of the seam
        os.makedirs(self.log_path, exist_ok=True)
        cfg, version = snap.configuration, snap.version
        file_rows = [{"add": {
            "path": f.path, "partitionValues": f.partitionValues or {},
            "size": f.size, "modificationTime": f.modificationTime,
            "dataChange": False if f.dataChange is None else bool(f.dataChange),
            "stats": f.stats,
            "deletionVector": f.deletionVector,
            "tags": f.tags,
            "baseRowId": f.baseRowId,
            "defaultRowCommitVersion": f.defaultRowCommitVersion,
            "clusteringProvider": f.clusteringProvider,
        }} for f in snap.active.values()]
        tomb_cutoff = _tombstone_cutoff(cfg)
        file_rows += [{"remove": {
            "path": r.path, "deletionTimestamp": r.deletionTimestamp,
            "dataChange": bool(r.dataChange),
            "partitionValues": r.partitionValues or {}, "size": r.size,
        }} for r in snap.tombstones.values()
            if (r.deletionTimestamp or 0) >= tomb_cutoff]
        meta_rows = _metadata_rows(snap)
        total = len(meta_rows) + len(file_rows)

        def split(rows, n):
            return [rows[i * len(rows) // n:(i + 1) * len(rows) // n]
                    for i in range(n)]

        parts = 1
        if _is_v2_policy(cfg):
            n = checkpoint_part_count(cfg, len(file_rows))
            sidecars = [self._new_sidecar_path() for _ in range(n)]
            for path, chunk in zip(sidecars, split(file_rows, n)):
                _write_action_rows(path, chunk)
            self._write_v2_top(version, meta_rows, sidecars)
        else:
            parts = checkpoint_part_count(cfg, total)
            for path, chunk in zip(self._checkpoint_targets(version, parts),
                                   split(meta_rows + file_rows, parts)):
                _write_action_rows(path, chunk)
        self._write_last_checkpoint(version, total, parts)

    def write_checkpoint_distributed(self, spark,
                                     version: Optional[int] = None) -> bool:
        """Checkpoint written WITHOUT materializing file state on the
        driver (Checkpoints.scala writes checkpoints as a Spark job for
        exactly this reason): executors read the previous checkpoint +
        commit JSONs, reconcile the newest action per path (adds stay
        live entries, removes stay tombstones — identical to the python
        replay, tests prove parity), and write the SingleAction parquet
        directly: classic single or multi-part files, or, under
        ``delta.checkpointPolicy=v2``, sidecars below a driver-written
        top file. Only the O(1) metadata-class rows pass through the
        driver. Returns False, writing nothing, when the table has no
        version or no log file to read."""
        from pyspark import StorageLevel
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if version is None:
            version = self.latest_version()
        if version < 0:
            return False
        os.makedirs(self.log_path, exist_ok=True)
        light = self.light_snapshot(version)
        cfg = light.configuration
        target = checkpoint_spark_schema()
        add_t = target["add"].dataType
        remove_t = target["remove"].dataType

        def norm(df, ver_col):
            def j(col, typ):
                if col in df.columns:
                    return F.from_json(F.to_json(F.col(col)), typ).alias(col)
                return F.lit(None).cast(typ).alias(col)

            return df.select(j("add", add_t), j("remove", remove_t),
                             ver_col.alias("__v"))

        sources = []
        ck, ck_paths, commit_paths = self._log_segment_paths(version)
        if ck_paths:
            sources.append(norm(spark.read.parquet(*ck_paths),
                                F.lit(ck).cast("long")))
        if commit_paths:
            sources.append(norm(spark.read.json(commit_paths, schema=target),
                                _commit_version_col()))
        if not sources:
            return False
        allacts = sources[0]
        for s in sources[1:]:
            allacts = allacts.unionByName(s)
        allacts = allacts.filter(F.col("add.path").isNotNull()
                                 | F.col("remove.path").isNotNull())
        w = Window.partitionBy(_canonical_path_col(
            F.coalesce(F.col("add.path"), F.col("remove.path")))
        ).orderBy(F.desc("__v"), F.desc(F.col("add.path").isNotNull()))
        fdf = (allacts.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == 1)
               .select("add", "remove"))
        fdf = fdf.filter(
            F.col("remove.path").isNull()
            | (F.coalesce(F.col("remove.deletionTimestamp"), F.lit(0))
               >= F.lit(_tombstone_cutoff(cfg))))
        for f in target.fields:
            if f.name not in ("add", "remove"):
                fdf = fdf.withColumn(f.name, F.lit(None).cast(f.dataType))
        fdf = fdf.select(*[f.name for f in target.fields])
        meta_rows = _metadata_rows(light)

        # the reconciliation job runs twice (count + write) without
        # this: persist the (narrow, SingleAction-shaped) result so the
        # expensive checkpoint+commit read and per-path window execute
        # once; spill-safe for arbitrarily large file states
        fdf = fdf.persist(StorageLevel.MEMORY_AND_DISK)
        n_files = fdf.count()
        total = n_files + len(meta_rows)
        tmpdir = os.path.join(self.log_path,
                              f".ckpt_tmp_{version}_{os.getpid()}")

        # delta.checkpoint.writeStatsAsStruct (Checkpoints.scala
        # `stats_parsed`): store TYPED stats alongside the JSON blob so
        # scans over the checkpointed bulk of the log filter on struct
        # columns (column-pruned parquet read) instead of re-parsing
        # JSON per file per query
        def _with_stats_parsed(df):
            if str(cfg.get("delta.checkpoint.writeStatsAsStruct",
                           "true")).lower() == "false" \
                    or light.metadata is None:
                return df
            from delta_spark.schema import logical_to_physical

            _, sschema = skipping_stats_schema(
                light.schema, set(light.partition_columns),
                logical_to_physical(light.schema))
            new_add = F.when(
                F.col("add").isNotNull(),
                F.struct(F.col("add.*"),
                         F.from_json(F.col("add.stats"), sschema)
                         .alias("stats_parsed")))
            return df.withColumn("add", new_add)

        def _spark_write(df, n_parts):
            (_with_stats_parsed(df).repartition(n_parts)
             .write.mode("overwrite").parquet(tmpdir))
            return sorted(
                os.path.join(r, n) for r, _d, ns in os.walk(tmpdir)
                for n in ns if n.endswith(".parquet"))

        parts = 1
        try:
            if _is_v2_policy(cfg):
                written = _spark_write(
                    fdf, checkpoint_part_count(cfg, n_files))
                sidecars = [self._new_sidecar_path() for _ in written]
                for src, dst in zip(written, sidecars):
                    os.replace(src, dst)
                self._write_v2_top(version, meta_rows, sidecars)
            else:
                top_df = spark.createDataFrame(
                    [{f.name: r.get(f.name) for f in target.fields}
                     for r in meta_rows], schema=target)
                written = _spark_write(top_df.unionByName(fdf),
                                       checkpoint_part_count(cfg, total))
                parts = len(written)
                for src, dst in zip(written,
                                    self._checkpoint_targets(version, parts)):
                    os.replace(src, dst)
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)
            fdf.unpersist()
        self._write_last_checkpoint(version, total, parts)
        return True

    def _checkpoint_targets(self, version: int, n: int) -> list[str]:
        """Classic checkpoint file names for ``n`` parts."""
        if n == 1:
            return [self.checkpoint_file(version)]
        return [self.checkpoint_part_file(version, i + 1, n)
                for i in range(n)]

    def _new_sidecar_path(self) -> str:
        side_dir = os.path.join(self.log_path, SIDECAR_DIR)
        os.makedirs(side_dir, exist_ok=True)
        return os.path.join(side_dir, f"{uuid.uuid4()}.parquet")

    def _write_v2_top(self, version: int, meta_rows: list[dict],
                      sidecars: list[str]) -> None:
        """V2 checkpoint (PROTOCOL.md V2 spec) top file: the uuid-named
        `<v>.checkpoint.<uuid>.parquet` holding the non-file actions,
        ``checkpointMetadata`` and one ``sidecar`` pointer per file-
        action parquet already written under ``_delta_log/_sidecars/``.
        Readers list one small top file and can fan sidecar scans out
        across executors — at millions of files this is what keeps
        snapshot construction parallel."""
        rows = meta_rows + [{"checkpointMetadata": {"version": version}}]
        for path in sidecars:
            st = os.stat(path)
            rows.append({"sidecar": {
                "path": os.path.basename(path), "sizeInBytes": st.st_size,
                "modificationTime": int(st.st_mtime * 1000)}})
        _write_action_rows(os.path.join(
            self.log_path,
            "%020d.checkpoint.%s.parquet" % (version, uuid.uuid4())), rows)

    def _write_last_checkpoint(self, version: int, size: int,
                               parts: int) -> None:
        """The `_last_checkpoint` pointer (Checkpoints.scala
        LastCheckpointInfo); ``parts`` only for a multi-part set."""
        last = {"version": version, "size": size}
        if parts > 1:
            last["parts"] = parts
        lc = os.path.join(self.log_path, "_last_checkpoint")
        with open(lc + ".tmp", "w") as f:
            f.write(json.dumps(last))
        os.replace(lc + ".tmp", lc)

    def _apply_checkpoint(self, snap: Snapshot, version: int,
                          metadata_only: bool = False) -> None:
        rows: list[dict] = []
        for path in self.checkpoint_paths(version):
            if metadata_only:
                # column-pruned read: the metadata-class action columns
                # only — a 10⁶-row checkpoint costs four tiny columns,
                # not the AddFiles
                names = pq.read_schema(path).names
                cols = [c for c in ("metaData", "protocol", "txn",
                                    "domainMetadata") if c in names]
                if not cols:
                    continue
                # vectorized null-row filter BEFORE to_pylist: a
                # 10⁶-row checkpoint has a handful of metadata-class
                # rows; building a python dict per AddFile row just to
                # discard it dominates planning time otherwise
                import pyarrow.compute as pc
                tbl = pq.read_table(path, columns=cols)
                mask = None
                for c in cols:
                    valid = pc.is_valid(tbl[c])
                    mask = valid if mask is None else pc.or_(mask, valid)
                rows.extend(tbl.filter(mask).to_pylist())
            else:
                rows.extend(pq.read_table(path).to_pylist())
        # V2: pull file actions in from the referenced sidecars (the
        # pruned metadata_only rows never carry a sidecar column —
        # sidecars hold file actions only, metaData/protocol always
        # live in the top file, so skipping them is exact)
        for row in list(rows):
            sc = row.get("sidecar")
            if sc and sc.get("path"):
                spath = os.path.join(self.log_path, SIDECAR_DIR, sc["path"])
                rows.extend(pq.read_table(spath).to_pylist())
        for row in rows:
            if row.get("protocol"):
                p = row["protocol"]
                snap._saw_protocol = True
                snap.protocol = Protocol(
                    minReaderVersion=p["minReaderVersion"] or 1,
                    minWriterVersion=p["minWriterVersion"] or 2,
                    readerFeatures=(list(p["readerFeatures"])
                                    if p.get("readerFeatures") is not None
                                    else None),
                    writerFeatures=(list(p["writerFeatures"])
                                    if p.get("writerFeatures") is not None
                                    else None))
            elif row.get("metaData"):
                m = row["metaData"]
                fmt = m.get("format") or {}
                snap.metadata = Metadata(
                    id=m.get("id") or "",
                    name=m.get("name"),
                    description=m.get("description"),
                    format=Format(provider=(fmt.get("provider") or "parquet"),
                                  options=_tuples_to_dict(fmt.get("options"))),
                    schemaString=m.get("schemaString") or "{}",
                    partitionColumns=list(m.get("partitionColumns") or []),
                    configuration=_tuples_to_dict(m.get("configuration")),
                    createdTime=m.get("createdTime"),
                )
            elif row.get("txn"):
                t = row["txn"]
                snap.set_transactions[t["appId"]] = SetTransaction(
                    appId=t["appId"], version=t["version"], lastUpdated=t.get("lastUpdated"))
            elif row.get("domainMetadata"):
                d = row["domainMetadata"]
                snap.domain_metadata[d["domain"]] = DomainMetadata(
                    domain=d["domain"], configuration=d.get("configuration") or "{}",
                    removed=bool(d.get("removed")))
            elif row.get("add"):
                a = row["add"]
                dv = a.get("deletionVector")
                if dv is not None and dv.get("pathOrInlineDv") is None:
                    dv = None  # all-null struct → absent
                f = AddFile(
                    path=a["path"], partitionValues=_tuples_to_dict(a.get("partitionValues")),
                    size=a.get("size") or 0, modificationTime=a.get("modificationTime") or 0,
                    dataChange=bool(a.get("dataChange")), stats=a.get("stats"),
                    deletionVector={k: v for k, v in dv.items() if v is not None} if dv else None,
                    tags=_tuples_to_dict(a.get("tags")) or None,
                    baseRowId=a.get("baseRowId"),
                    defaultRowCommitVersion=a.get("defaultRowCommitVersion"),
                    clusteringProvider=a.get("clusteringProvider"))
                snap.active[canonical_log_path(f.path)] = f
            elif row.get("remove"):
                r = row["remove"]
                snap.tombstones[canonical_log_path(r["path"])] = RemoveFile(
                    path=r["path"], deletionTimestamp=r.get("deletionTimestamp"),
                    dataChange=bool(r.get("dataChange")),
                    partitionValues=_tuples_to_dict(r.get("partitionValues")),
                    size=r.get("size"))
        snap.version = version

    # -------------------------------------------------------- history ----

    def history(self, limit: Optional[int] = None) -> list[dict]:
        """Commit history, newest first (DESCRIBE HISTORY)."""
        out = []
        # ICT detection from the table config (NOT the cached full
        # snapshot, which a cold DeltaLog doesn't have) so history on a
        # fresh process still reports the authoritative in-commit
        # timestamps when the feature is on
        try:
            cfg = self._light_meta().configuration
        except Exception:
            cfg = {}
        ict = str(cfg.get("delta.enableInCommitTimestamps",
                          "false")).lower() == "true"
        # DESCRIBE HISTORY monotonizes too (getHistoryImpl:140) so its
        # timestamps stay round-trippable through TIMESTAMP AS OF even
        # under clock skew
        mono = dict(self._monotonic_commit_timestamps())
        for v in reversed(self.list_commit_versions()):
            ci: Optional[CommitInfo] = None
            for kind, a in self.read_commit_actions(v):
                if kind == "commitInfo":
                    ci = a
                    break
            # the reference rewrites CommitInfo.timestamp with the commit
            # file's modificationTime (DeltaHistoryManager.getHistory)
            # unless in-commit timestamps govern, so history timestamps
            # round-trip through TIMESTAMP AS OF / cloneAtTimestamp
            if ict and ci is not None and (ci.inCommitTimestamp
                                           or ci.timestamp):
                ts = ci.inCommitTimestamp or ci.timestamp
            else:
                ts = mono.get(v, self._commit_timestamp(v, cfg={}))
            row = {
                "version": v,
                "timestamp": ts,
                "operation": ci.operation if ci else "UNKNOWN",
                "operationParameters": ci.operationParameters if ci else {},
                "operationMetrics": ci.operationMetrics if ci else {},
                "readVersion": ci.readVersion if ci else None,
                "isolationLevel": ci.isolationLevel if ci else None,
                "isBlindAppend": ci.isBlindAppend if ci else None,
                "engineInfo": ci.engineInfo if ci else None,
                "userMetadata": ci.userMetadata if ci else None,
            }
            out.append(row)
            if limit is not None and len(out) >= limit:
                break
        return out

    def version_for_time_travel(self, ts_millis: int) -> int:
        """Strict TIMESTAMP AS OF resolution for READS
        (DeltaHistoryManager.getActiveCommitAtTime with
        canReturnLastCommit=false): a timestamp after the last commit is
        an error (DeltaErrors.timestampGreaterThanLatestCommit), never a
        silent read of latest — the table may gain commits before that
        wall-clock time arrives, so the result would not be stable.
        RESTORE keeps the lenient version_at_timestamp resolution
        (canReturnLastCommit=true there)."""
        seq = self._monotonic_commit_timestamps()
        v = None
        for cv, cts in seq:
            if cts <= ts_millis:
                v = cv
            else:
                break
        if v is None:
            raise ValueError(
                f"No commit at or before timestamp {ts_millis}")
        latest = self.latest_version()
        if v == latest:
            last_ts = seq[-1][1] if seq else 0
            if ts_millis > last_ts:
                raise ValueError(
                    f"The provided timestamp ({ts_millis} ms) is after the "
                    f"latest version available to this table ({last_ts} ms). "
                    f"Please use a timestamp before or at {last_ts} ms.")
        return v

    def _monotonic_commit_timestamps(self) -> list[tuple[int, int]]:
        """(version, timestamp) for every commit, oldest first, with
        DeltaHistoryManager.monotonizeCommitTimestamps applied: clock
        skew can give commit N+1 an mtime before commit N's; history
        and time travel must agree on one monotonic sequence, so a
        non-increasing timestamp becomes predecessor + 1 ms. A no-op
        for in-commit-timestamp tables (ICT is monotonic by protocol)."""
        try:
            cfg = self._light_meta().configuration
        except Exception:
            cfg = {}
        out: list[tuple[int, int]] = []
        prev = None
        for v in self.list_commit_versions():
            ts = self._commit_timestamp(v, cfg=cfg)
            if prev is not None and ts <= prev:
                ts = prev + 1
            out.append((v, ts))
            prev = ts
        return out

    def version_at_timestamp(self, ts_millis: int, after: bool = False) -> int:
        """Latest commit with timestamp <= ts
        (DeltaHistoryManager.getActiveCommitAtTime). With ``after``,
        the EARLIEST commit with timestamp >= ts instead — streaming's
        startingTimestamp semantics ("changes committed at or after")."""
        seq = self._monotonic_commit_timestamps()
        if after:
            for v, ts in seq:
                if ts >= ts_millis:
                    return v
            raise ValueError(f"No commit at or after timestamp {ts_millis}")
        best = None
        for v, ts in seq:
            if ts <= ts_millis:
                best = v
            else:
                break
        if best is None:
            raise ValueError(f"No commit at or before timestamp {ts_millis}")
        return best

    # ------------------------------------------------------- retention ----

    def log_retention_ms(self) -> int:
        return _interval_ms(self.update().configuration,
                            "delta.logRetentionDuration",
                            DEFAULT_LOG_RETENTION_MS)

    def cleanup_expired_logs(self, now_ms: Optional[int] = None) -> int:
        """MetadataCleanup: delete commit json + checkpoint files older
        than the log retention window, provided a newer checkpoint can
        serve every remaining version. Returns #files deleted."""
        now = now_ms if now_ms is not None else current_time_millis()
        checkpoints = self.list_checkpoint_versions()
        # an AMT inline checkpoint (amt.py) serves as the reconstruction
        # source exactly like a classic checkpoint: the newest one is a
        # valid cleanup ceiling (the carrying commit itself survives)
        amt_ceiling = -1
        amt_table = False
        _mdir = os.path.join(self.table_path, "metadata")
        if os.path.isdir(_mdir) and any(
                n.startswith("manifest-") and n.endswith(".parquet")
                for n in os.listdir(_mdir)):
            from delta_spark import amt as _amt

            amt_table = True
            try:
                found = _amt.find_latest_checkpoint(
                    self, self.latest_version())
                if found is not None:
                    amt_ceiling = found[0]
            except Exception:
                pass
        if not checkpoints and amt_ceiling < 0:
            return 0
        ceiling = max(checkpoints[-1] if checkpoints else -1, amt_ceiling)
        # one snapshot serves retention config, the protection barrier,
        # and (if needed) the barrier checkpoint
        snap = self.update()
        cutoff = now - _interval_ms(snap.configuration,
                                    "delta.logRetentionDuration",
                                    DEFAULT_LOG_RETENTION_MS)
        # checkpointProtection (PROTOCOL.md): metadata below the barrier
        # may only go away if the surviving checkpoint sits at/after it —
        # write one at the latest version first, or skip cleanup
        try:
            barrier = int(snap.configuration.get(
                "delta.requireCheckpointProtectionBeforeVersion", "0"))
        except (ValueError, TypeError):
            barrier = 0
        if barrier > ceiling:
            if snap.version >= barrier:
                self.write_checkpoint(snap)
                checkpoints = self.list_checkpoint_versions()
                ceiling = checkpoints[-1]
            if ceiling < barrier:
                return 0
        deleted = 0
        for v in self.list_commit_versions():
            if v >= ceiling:
                break
            path = self.commit_file(v)
            try:
                if os.stat(path).st_mtime * 1000 < cutoff:
                    os.remove(path)
                    deleted += 1
            except OSError:
                pass
        # checksums below the ceiling go by filename, independent of
        # whether the paired commit JSON still exists — orphans from
        # interrupted or pre-feature cleanups must not survive forever
        # (DeltaRetentionSuite "the checkpoint and checksum for version
        # 0 should be cleaned")
        for name in self.store.list_dir(self.log_path):
            m = _CRC_RE.match(name)
            if not m or int(m.group(1)) >= ceiling:
                continue
            path = os.path.join(self.log_path, name)
            try:
                if os.stat(path).st_mtime * 1000 < cutoff:
                    os.remove(path)
                    deleted += 1
            except OSError:
                pass
        for name in self.store.list_dir(self.log_path):
            m = _COMPACTED_RE.match(name)
            if not m or int(m.group(2)) >= ceiling:
                continue
            path = os.path.join(self.log_path, name)
            try:
                if os.stat(path).st_mtime * 1000 < cutoff:
                    os.remove(path)
                    deleted += 1
            except OSError:
                pass
        for c in checkpoints[:-1]:
            for path in self.checkpoint_paths(c):
                try:
                    if os.stat(path).st_mtime * 1000 < cutoff:
                        # v2 checkpoints own their sidecars (we never
                        # share sidecars between checkpoints)
                        if _V2_RE.match(os.path.basename(path)):
                            for row in pq.read_table(
                                    path, columns=["sidecar"]).to_pylist():
                                sc = row.get("sidecar")
                                if sc and sc.get("path"):
                                    try:
                                        os.remove(os.path.join(
                                            self.log_path, SIDECAR_DIR,
                                            sc["path"]))
                                        deleted += 1
                                    except OSError:
                                        pass
                        os.remove(path)
                        deleted += 1
                except OSError:
                    pass
        # AMT manifest GC: manifests unreachable from any RETAINED
        # inline checkpoint (superseded full-rewrite generations,
        # orphans of failed distributed writes) go with the same
        # cutoff; runs after commit deletion so the reference set is
        # exactly what the surviving log can still bootstrap from
        if amt_table:
            from delta_spark import amt as _amt

            try:
                deleted += _amt.cleanup_unreferenced_manifests(
                    self, cutoff)
            except Exception:
                pass
        if deleted:
            self.invalidate()
        return deleted

    def deleted_file_retention_ms(self) -> int:
        return _interval_ms(self.update().configuration,
                            "delta.deletedFileRetentionDuration",
                            DEFAULT_DELETED_FILE_RETENTION_MS)

    def invalidate(self) -> None:
        with self._lock:
            self._snapshot = None


def parse_interval_ms(s: str) -> Optional[int]:
    """Parse 'interval 7 days' / 'interval 1 hours' style durations."""
    m = re.fullmatch(r"\s*(?:interval\s+)?(\d+)\s*(millisecond|second|minute|hour|day|week)s?\s*",
                     s, re.IGNORECASE)
    if not m:
        return None
    n = int(m.group(1))
    unit = m.group(2).lower()
    mult = {"millisecond": 1, "second": 1000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000, "week": 7 * 86_400_000}[unit]
    return n * mult


def skipping_stats_schema(schema, part_cols: set, l2p: dict):
    """(stat_fields, StructType) for the data-skipping stats of a table
    schema — numRecords + min/max/nullCount over the atomic non-
    partition columns, keyed by PHYSICAL name. Shared by the scan
    filter (from_json / stats_parsed coercion) and the checkpoint
    writer (`delta.checkpoint.writeStatsAsStruct`)."""
    from pyspark.sql import types as T

    from delta_spark.schema import collated_columns

    atomic = (T.NumericType, T.StringType, T.DateType,
              T.TimestampType, T.TimestampNTZType, T.BooleanType)
    collated = collated_columns(schema)
    stat_fields = [f for f in schema.fields
                   if f.name not in part_cols and f.name not in collated
                   and isinstance(f.dataType, atomic)]
    return stat_fields, T.StructType([
        T.StructField("numRecords", T.LongType()),
        T.StructField("minValues", T.StructType([
            T.StructField(l2p.get(f.name, f.name), f.dataType)
            for f in stat_fields])),
        T.StructField("maxValues", T.StructType([
            T.StructField(l2p.get(f.name, f.name), f.dataType)
            for f in stat_fields])),
        T.StructField("nullCount", T.StructType([
            T.StructField(l2p.get(f.name, f.name), T.LongType())
            for f in stat_fields])),
    ])


def addfiles_from_state_rows(rows) -> list[AddFile]:
    """AddFile dataclasses from ``state_df``/``files_for_scan_df`` rows
    (the executor-parsed form of the live file set). The DV descriptor
    travels as a JSON string; every other field maps 1:1. Rows sourced
    from an AMT manifest tree carry ``backref_manifest``/``backref_pos``
    — preserved as the AddFile's backReference so a later remove can
    MDV-mask the leaf position (amt.py)."""
    out: list[AddFile] = []
    for r in rows:
        mloc = getattr(r, "backref_manifest", None)
        out.append(AddFile(
            backReference=({"manifest": mloc, "pos": int(r.backref_pos)}
                           if mloc is not None else None),
            path=r.path,
            partitionValues=dict(r.partitionValues or {}),
            size=r.size or 0,
            modificationTime=r.modificationTime or 0,
            dataChange=r.dataChange if r.dataChange is not None else True,
            stats=r.stats,
            tags=dict(r.tags) if r.tags else None,
            deletionVector=(json.loads(r.deletionVector)
                            if r.deletionVector else None),
            baseRowId=r.baseRowId,
            defaultRowCommitVersion=r.defaultRowCommitVersion,
            clusteringProvider=r.clusteringProvider,
        ))
    return out


def should_plan_distributed(spark, log: DeltaLog) -> bool:
    """Shared routing predicate for scans AND DML planning:
    ``delta_spark.scan.distributedPlanning`` = always/never/auto, auto
    switching past ``delta_spark.scan.distributedPlanningThreshold``
    actions estimated from the free ``_last_checkpoint`` "size"."""
    try:
        mode = spark.conf.get("delta_spark.scan.distributedPlanning", "auto")
    except Exception:
        mode = "auto"
    if mode == "always":
        return True
    if mode != "auto":
        return False
    n = log.checkpointed_action_count()
    if n is None:
        return False
    try:
        threshold = int(spark.conf.get(
            "delta_spark.scan.distributedPlanningThreshold", "500000"))
    except Exception:
        threshold = 500_000
    return n >= threshold

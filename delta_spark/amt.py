"""AMT — Adaptive Metadata Tree (`adaptiveMetadata-preview`).

The table's checkpoint state lives in an Iceberg-V4-style manifest tree
under ``<table>/metadata/`` and is committed INLINE as a ``checkpoint``
action in the commit JSON (reference: spark/.../delta/amt/ — actions
AMTSingleAction/Tracking/DeletionVector/ManifestInfo (amt/actions.scala),
AMTWriteHelper.writeFullMaterialization, IncrementalAMTWriter
.writeIncremental, AMTCheckpointProvider, AMTWriterManager cadence;
feature definition TableFeature.scala:922 — requires catalogManaged,
rowTracking, domainMetadata, deletionVectors, columnMapping).

Layout:

- **Root manifest** (parquet): one row per entry — live ``DATA``
  entries held directly in the root, ``DATA_MANIFEST`` pointers to leaf
  manifests, and ``DATA`` tombstones (tracking.status=DELETED) kept for
  CDF parity.
- **Leaf manifests** (parquet): ``DATA`` entries only. Never rewritten:
  deletions are masked by the pointer's ``manifest_info.dv`` — an MDV
  (manifest deletion vector, portable 64-bit RoaringBitmapArray of dead
  row positions, same codec as data DVs — delta_spark/dv.py).
- **Checkpoint action** (actions.scala:1738): carried inline in the
  commit JSON with the ContentRoot pointer and the inline non-content
  state (protocol, metadata, domainMetadata, txns). The commit ALSO
  carries its file actions inline (includeActionsInCommitJson), so
  linear log replay never needs the tree — the tree is the bootstrap
  (read state without replaying history) and the log-cleanup ceiling.
- **Back references** (actions.scala:1143): an AddFile reconstructed
  from a LEAF carries ``backReference = {manifest, pos}``; a later
  RemoveFile of that file carries it too, so the next incremental tree
  masks the leaf position without reading the leaf.

Iceberg V4 field ids are stamped onto the manifest parquet schema
(amt/actions.scala field-spec table) so an Iceberg-V4-aware reader can
resolve columns by id.

Deviations (documented in DEVIATIONS.md): no deferred OPTIMIZE
CHECKPOINT maintenance commits — full rewrites happen inline on the
triggering commit (the tree still describes that commit's version);
`content_stats`, `key_metadata` and `split_offsets` are carried as
nulls (the AddFile's stats ride in the dedicated ``delta_stats``
column, everything else in ``delta_add_json``, so reconstruction is
lossless).

Distributed IO (round 7): ``tree_files_df`` reads leaves from
executors (MDV masking via ``_metadata.row_index``) and
``write_full_distributed`` flushes one leaf manifest per range
partition from executors (AMTWriteHelper.scala:153-165); the driver
paths below remain for small trees and single-process readers.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from delta_spark.actions import (
    AddFile,
    DomainMetadata,
    Metadata,
    Protocol,
    RemoveFile,
    SetTransaction,
)

FEATURE = "adaptiveMetadata-preview"
REQUIRED_FEATURES = ("catalogManaged", "rowTracking", "domainMetadata",
                     "deletionVectors", "columnMapping")
METADATA_DIR = "metadata"                       # FileNames.AMT_METADATA_DIR_NAME

# content_type codes (AMTSingleAction.ContentType, Iceberg V4)
DATA = 0
DATA_MANIFEST = 3
FORMAT_VERSION_V4 = 4

# tracking.status codes (Tracking.Status, Iceberg V4)
ST_EXISTING = 0
ST_ADDED = 1
ST_DELETED = 2

ENTRIES_PER_LEAF_PROP = "delta_spark.amt.entriesPerLeaf"
DEFAULT_ENTRIES_PER_LEAF = 100_000
FULL_REWRITE_MULTIPLIER = 4     # fullRewriteCheckpointIntervalMultiplier role
LARGE_COMMIT_ACTIONS = 10_000   # inline-AMT threshold for big commits


# ------------------------------------------------------------ schema ----

def _fid(i: int) -> dict:
    return {b"PARQUET:field_id": str(i).encode()}


def _manifest_schema() -> pa.Schema:
    """AMTSingleAction with the Iceberg V4 field ids stamped
    (amt/actions.scala topLevelFields / nested field-spec tables)."""
    tracking = pa.struct([
        pa.field("status", pa.int32(), nullable=False, metadata=_fid(0)),
        pa.field("snapshot_id", pa.int64(), metadata=_fid(1)),
        pa.field("sequence_number", pa.int64(), metadata=_fid(3)),
        pa.field("file_sequence_number", pa.int64(), metadata=_fid(4)),
        pa.field("dv_snapshot_id", pa.int64(), metadata=_fid(5)),
        pa.field("first_row_id", pa.int64(), metadata=_fid(142)),
        pa.field("deleted_positions", pa.binary(), metadata=_fid(6)),
        pa.field("replaced_positions", pa.binary(), metadata=_fid(7)),
    ])
    deletion_vector = pa.struct([
        pa.field("location", pa.string(), nullable=False, metadata=_fid(155)),
        pa.field("offset", pa.int64(), nullable=False, metadata=_fid(144)),
        pa.field("size_in_bytes", pa.int64(), nullable=False,
                 metadata=_fid(145)),
        pa.field("cardinality", pa.int64(), nullable=False,
                 metadata=_fid(156)),
    ])
    manifest_info = pa.struct([
        pa.field("added_files_count", pa.int64(), nullable=False,
                 metadata=_fid(504)),
        pa.field("existing_files_count", pa.int64(), nullable=False,
                 metadata=_fid(505)),
        pa.field("deleted_files_count", pa.int64(), nullable=False,
                 metadata=_fid(506)),
        pa.field("replaced_files_count", pa.int64(), nullable=False,
                 metadata=_fid(520)),
        pa.field("added_rows_count", pa.int64(), nullable=False,
                 metadata=_fid(512)),
        pa.field("existing_rows_count", pa.int64(), nullable=False,
                 metadata=_fid(513)),
        pa.field("deleted_rows_count", pa.int64(), nullable=False,
                 metadata=_fid(514)),
        pa.field("replaced_rows_count", pa.int64(), nullable=False,
                 metadata=_fid(521)),
        pa.field("min_sequence_number", pa.int64(), nullable=False,
                 metadata=_fid(516)),
        pa.field("dv", pa.binary(), metadata=_fid(522)),
        pa.field("dv_cardinality", pa.int64(), metadata=_fid(523)),
    ])
    partition = pa.struct([
        pa.field("values", pa.map_(pa.string(), pa.string())),
    ])
    return pa.schema([
        pa.field("content_type", pa.int32(), nullable=False,
                 metadata=_fid(134)),
        pa.field("format_version", pa.int32(), nullable=False,
                 metadata=_fid(157)),
        pa.field("location", pa.string(), nullable=False, metadata=_fid(100)),
        pa.field("file_format", pa.string(), nullable=False,
                 metadata=_fid(101)),
        pa.field("tracking", tracking, nullable=False, metadata=_fid(147)),
        pa.field("deletion_vector", deletion_vector, metadata=_fid(148)),
        pa.field("spec_id", pa.int32(), metadata=_fid(141)),
        pa.field("partition", partition, metadata=_fid(102)),
        pa.field("sort_order_id", pa.int32(), metadata=_fid(140)),
        pa.field("record_count", pa.int64(), nullable=False,
                 metadata=_fid(103)),
        pa.field("file_size_in_bytes", pa.int64(), nullable=False,
                 metadata=_fid(104)),
        # Delta-side carry: the AddFile's DV/rowid/etc fields, so the
        # reconstructed AddFile is lossless. Stamped with ids outside
        # the Iceberg reserved range. The stats blob is carried in its
        # OWN column (`delta_stats`) so distributed planning
        # (tree_files_df) can evaluate the skipping predicate against
        # native manifest columns and defer the delta_add_json parse to
        # the rows that survive pruning.
        pa.field("delta_add_json", pa.string(), metadata=_fid(100010)),
        pa.field("delta_stats", pa.string(), metadata=_fid(100011)),
        pa.field("manifest_info", manifest_info, metadata=_fid(150)),
        pa.field("key_metadata", pa.binary(), metadata=_fid(131)),
        pa.field("split_offsets", pa.list_(
            pa.field("element", pa.int64(), metadata=_fid(133))),
            metadata=_fid(132)),
    ])


_SCHEMA = _manifest_schema()


# ------------------------------------------------------------ helpers ----

def checkpoint_enabled(protocol) -> bool:
    return bool(protocol and FEATURE in (protocol.writerFeatures or []))


def check_enablement(protocol, configuration: dict) -> None:
    """Enablement gate (TableFeature.scala:925 requiredFeatures + the
    id-column-mapping check OptimisticTransaction enforces)."""
    feats = set(protocol.readerFeatures or []) | set(
        protocol.writerFeatures or [])
    missing = [f for f in REQUIRED_FEATURES if f not in feats]
    if missing:
        raise ValueError(
            f"{FEATURE} requires table features {missing} to be enabled "
            f"first (TableFeature.scala AdaptiveMetadataTableFeature."
            f"requiredFeatures)")
    if (configuration or {}).get("delta.columnMapping.mode") != "id":
        raise ValueError(
            f"{FEATURE} requires delta.columnMapping.mode = 'id' "
            f"(Iceberg V4 manifests reference columns by field id)")


def metadata_dir(table_path: str) -> str:
    return os.path.join(table_path, METADATA_DIR)


def _entry_from_add(add: AddFile, status: int,
                    backref_strip: bool = True) -> dict:
    """One DATA entry for an AddFile. The full AddFile JSON rides along
    in delta_add_json so reconstruction is lossless (DV descriptor,
    row-tracking fields); the stats blob is lifted out into the
    dedicated `delta_stats` column (planning filters on it without
    parsing the add JSON) and the backReference is stripped — it is a
    property of WHERE the entry lives, re-derived on read."""
    d = add.to_json()["add"]
    if backref_strip:
        d.pop("backReference", None)
    stats = d.pop("stats", None)
    return {
        "content_type": DATA,
        "format_version": FORMAT_VERSION_V4,
        "location": add.path,
        "file_format": "parquet",
        "tracking": {"status": status, "snapshot_id": None,
                     "sequence_number": None, "file_sequence_number": None,
                     "dv_snapshot_id": None, "first_row_id": add.baseRowId,
                     "deleted_positions": None, "replaced_positions": None},
        "deletion_vector": None,
        "spec_id": None,
        "partition": {"values": list((add.partitionValues or {}).items())},
        "sort_order_id": None,
        "record_count": add.num_records or 0,
        "file_size_in_bytes": add.size or 0,
        "delta_add_json": json.dumps(d, separators=(",", ":")),
        "delta_stats": stats,
        "manifest_info": None,
        "key_metadata": None,
        "split_offsets": None,
    }


def _pointer_entry(location: str, size: int, n_entries: int, n_rows: int,
                   mdv: Optional[bytes], mdv_card: int) -> dict:
    return {
        "content_type": DATA_MANIFEST,
        "format_version": FORMAT_VERSION_V4,
        "location": location,
        "file_format": "parquet",
        "tracking": {"status": ST_EXISTING, "snapshot_id": None,
                     "sequence_number": None, "file_sequence_number": None,
                     "dv_snapshot_id": None, "first_row_id": None,
                     "deleted_positions": None, "replaced_positions": None},
        "deletion_vector": None,
        "spec_id": None,
        "partition": {"values": []},
        "sort_order_id": None,
        "record_count": n_rows,
        "file_size_in_bytes": size,
        "delta_add_json": None,
        "delta_stats": None,
        "manifest_info": {
            "added_files_count": 0, "existing_files_count": n_entries,
            "deleted_files_count": 0, "replaced_files_count": 0,
            "added_rows_count": 0, "existing_rows_count": n_rows,
            "deleted_rows_count": 0, "replaced_rows_count": 0,
            "min_sequence_number": 0,
            "dv": mdv, "dv_cardinality": mdv_card,
        },
        "key_metadata": None,
        "split_offsets": None,
    }


def _write_manifest(table_path: str, rows: list[dict]) -> tuple[str, int]:
    """Write one manifest parquet under <table>/metadata/; returns
    (table-root-relative location, size). Locations are raw literal
    strings (NOT url-encoded), per the Iceberg V4 manifest path rules
    (AMTUtils.relativizeManifestPathToTableRoot)."""
    d = metadata_dir(table_path)
    os.makedirs(d, exist_ok=True)
    name = f"manifest-{uuid.uuid4()}.parquet"
    path = os.path.join(d, name)
    cols = {f.name: [r.get(f.name) for r in rows] for f in _SCHEMA}
    # bounded row groups: Spark's parquet reader splits at row-group
    # boundaries, so a single big leaf still fans out across executor
    # tasks in tree_files_df instead of pinning one task per leaf
    pq.write_table(pa.Table.from_pydict(cols, schema=_SCHEMA),
                   path + ".tmp", row_group_size=32_768)
    os.replace(path + ".tmp", path)
    return f"{METADATA_DIR}/{name}", os.path.getsize(path)


def _read_manifest(table_path: str, location: str) -> list[dict]:
    return pq.read_table(
        os.path.join(table_path, location)).to_pylist()


def _add_from_entry(entry: dict, manifest_loc: Optional[str],
                    pos: Optional[int]) -> AddFile:
    add = AddFile.from_json(json.loads(entry["delta_add_json"]))
    if add.stats is None and entry.get("delta_stats") is not None:
        add.stats = entry["delta_stats"]
    if manifest_loc is not None:
        add.backReference = {"manifest": manifest_loc, "pos": pos}
    return add


class AMTCheckpoint:
    """The inline `checkpoint` action (actions.scala:1738) as written
    into / parsed from the commit JSON."""

    def __init__(self, d: dict):
        self.d = d

    def to_json(self) -> dict:
        return {"checkpoint": self.d}

    @property
    def version(self) -> int:
        return int(self.d["version"])

    @property
    def content_root(self) -> dict:
        return self.d["contentRoot"]


# ------------------------------------------------------------ writer ----

def _entries_per_leaf(configuration: dict) -> int:
    try:
        return max(1, int((configuration or {}).get(
            ENTRIES_PER_LEAF_PROP, DEFAULT_ENTRIES_PER_LEAF)))
    except (TypeError, ValueError):
        return DEFAULT_ENTRIES_PER_LEAF


def _checkpoint_dict(version: int, root_loc: str, root_size: int,
                     incremental: bool, last_full: int,
                     protocol: Protocol, metadata: Metadata,
                     domains, txns) -> dict:
    return {
        "version": version,
        "contentRoot": {
            "path": root_loc, "sizeInBytes": root_size,
            "tags": {"isIncremental": str(incremental).lower(),
                     "lastManifestCommitWithFullRewrite": str(last_full)},
        },
        "protocol": protocol.to_json()["protocol"],
        "metaData": metadata.to_json()["metaData"],
        "domainMetadata": [d.to_json()["domainMetadata"] for d in domains],
        "txns": [t.to_json()["txn"] for t in txns],
        "sidecars": [],
    }


def write_full(log, state, version: int) -> dict:
    """Full materialization (AMTWriteHelper.writeFullMaterialization):
    cluster the live file set into leaves of entriesPerLeaf, write a
    root of pointers (a single-leaf tree promotes the leaf to the
    root), return the checkpoint-action dict. `state` is the POST-commit
    replayed state (Snapshot-like: active/tombstones/protocol/metadata/
    domain_metadata/set_transactions)."""
    per_leaf = _entries_per_leaf(state.metadata.configuration
                                 if state.metadata else {})
    adds = sorted(state.active.values(), key=lambda a: a.path)
    root_rows: list[dict] = []
    if len(adds) <= per_leaf:
        root_rows.extend(_entry_from_add(a, ST_ADDED) for a in adds)
    else:
        for i in range(0, len(adds), per_leaf):
            chunk = adds[i:i + per_leaf]
            rows = [_entry_from_add(a, ST_EXISTING) for a in chunk]
            loc, size = _write_manifest(log.table_path, rows)
            root_rows.append(_pointer_entry(
                loc, size, len(chunk),
                sum(a.num_records or 0 for a in chunk), None, 0))
    root_loc, root_size = _write_manifest(log.table_path, root_rows)
    return _checkpoint_dict(
        version, root_loc, root_size, incremental=False, last_full=version,
        protocol=state.protocol, metadata=state.metadata,
        domains=state.domain_metadata.values(),
        txns=state.set_transactions.values())


def write_incremental(log, prev: AMTCheckpoint, meta, version: int,
                      window_actions: list[tuple[int, str, Any]],
                      commit_actions: list[tuple[str, Any]]) -> dict:
    """Incremental rewrite (IncrementalAMTWriter.writeIncremental):
    carry the previous tree's leaf pointers forward patching their MDVs
    with every leaf position removed since the old tree (with-backref
    removes from the window + this commit, IncrementalAMTWriter step
    3.a), hold net-new live files in the root (spilling fresh leaves
    when over the cap), and keep root tombstones for THIS COMMIT's
    no-backref removes only (step 3.b — window removes already emitted
    their CDF in their own commits).

    The root's net-new set is reconstructed from the PREVIOUS TREE plus
    the commit window — never from a materialized snapshot state — so
    the cost is O(prev root + window), independent of table size (and
    independent of whether the caller's snapshot was tree-bootstrapped;
    a replay-built snapshot without backReferences would otherwise
    duplicate leaf-resident files into the root). ``meta`` carries only
    the metadata-class post-commit state."""
    from delta_spark.dv import deserialize_rbm_array, serialize_rbm_array
    from delta_spark.util import canonical_log_path as _ckey

    table_path = log.table_path
    prev_root = _read_manifest(table_path, prev.content_root["path"])
    per_leaf = _entries_per_leaf(meta.metadata.configuration
                                 if meta.metadata else {})

    commit_removes = [a for k, a in commit_actions if k == "remove"]
    # MDV masking: every with-backref remove since the old tree
    mdv_new: dict[str, set[int]] = {}
    for r in ([a for _, k, a in window_actions if k == "remove"]
              + commit_removes):
        br = r.backReference
        if br:
            mdv_new.setdefault(br["manifest"], set()).add(int(br["pos"]))

    pointers: list[dict] = []
    for row in prev_root:
        if row["content_type"] != DATA_MANIFEST:
            continue
        mi = dict(row["manifest_info"])
        dead = set()
        if mi.get("dv"):
            dead.update(int(x) for x in deserialize_rbm_array(mi["dv"]))
        dead |= mdv_new.get(row["location"], set())
        mi["dv"] = bytes(serialize_rbm_array(sorted(dead))) if dead else None
        mi["dv_cardinality"] = len(dead)
        new_row = dict(row)
        new_row["manifest_info"] = mi
        pointers.append(new_row)

    # net-new live adds: the prev root's live DATA entries overlaid
    # with the window's + this commit's file actions (removes before
    # adds per commit — the add wins a same-commit DV rewrite)
    net: dict[str, AddFile] = {}
    for row in prev_root:
        if (row["content_type"] == DATA
                and row["tracking"]["status"] != ST_DELETED):
            a = AddFile.from_json(json.loads(row["delta_add_json"]))
            net[_ckey(a.path)] = a
    by_version: dict[int, list[tuple[str, Any]]] = {}
    for v, kind, a in window_actions:
        by_version.setdefault(v, []).append((kind, a))
    by_version[version] = list(commit_actions)
    for v in sorted(by_version):
        acts = by_version[v]
        for kind, a in acts:
            if kind == "remove":
                net.pop(_ckey(a.path), None)
        for kind, a in acts:
            if kind == "add":
                net[_ckey(a.path)] = a
    root_adds = sorted(
        (a for a in net.values() if a.backReference is None),
        key=lambda a: a.path)

    # root tombstones (CDF parity): this commit's no-backref removes
    tombstones = [r for r in commit_removes if not r.backReference]

    root_rows: list[dict] = list(pointers)
    if len(root_adds) > per_leaf:
        for i in range(0, len(root_adds), per_leaf):
            chunk = root_adds[i:i + per_leaf]
            rows = [_entry_from_add(a, ST_EXISTING) for a in chunk]
            loc, size = _write_manifest(table_path, rows)
            root_rows.append(_pointer_entry(
                loc, size, len(chunk),
                sum(a.num_records or 0 for a in chunk), None, 0))
    else:
        root_rows.extend(_entry_from_add(a, ST_ADDED) for a in root_adds)
    for r in tombstones:
        stub = AddFile(path=r.path,
                       partitionValues=dict(r.partitionValues or {}),
                       size=r.size or 0)
        row = _entry_from_add(stub, ST_DELETED)
        root_rows.append(row)

    root_loc, root_size = _write_manifest(table_path, root_rows)
    last_full = int(prev.content_root.get("tags", {}).get(
        "lastManifestCommitWithFullRewrite", prev.version))
    return _checkpoint_dict(
        version, root_loc, root_size, incremental=True, last_full=last_full,
        protocol=meta.protocol, metadata=meta.metadata,
        domains=list(meta.domain_metadata.values()),
        txns=list(meta.set_transactions.values()))


# ------------------------------------------------------------ reader ----

def load_state(log, ckpt: dict):
    """AMTCheckpointProvider role: reconstruct the full action set the
    tree describes. Returns (adds, protocol, metadata, domains, txns);
    leaf-resident AddFiles carry their backReference."""
    from delta_spark.dv import deserialize_rbm_array

    table_path = log.table_path
    cp = AMTCheckpoint(ckpt)
    root = _read_manifest(table_path, cp.content_root["path"])
    adds: list[AddFile] = []
    for row in root:
        if row["content_type"] == DATA:
            if row["tracking"]["status"] == ST_DELETED:
                continue                      # tombstone (CDF parity only)
            adds.append(_add_from_entry(row, None, None))
        elif row["content_type"] == DATA_MANIFEST:
            mi = row["manifest_info"] or {}
            dead = set()
            if mi.get("dv"):
                dead.update(int(x) for x in deserialize_rbm_array(mi["dv"]))
            for pos, entry in enumerate(_read_manifest(table_path,
                                                       row["location"])):
                if pos in dead or entry["content_type"] != DATA:
                    continue
                if entry["tracking"]["status"] == ST_DELETED:
                    continue
                adds.append(_add_from_entry(entry, row["location"], pos))
        else:
            raise ValueError(
                f"unsupported AMT content_type {row['content_type']}")
    protocol, metadata, domains, txns = load_meta(ckpt)
    return adds, protocol, metadata, domains, txns


def load_meta(ckpt: dict):
    """Metadata-class state carried INLINE by the checkpoint action
    (protocol, metadata, domainMetadata, txns) — readable without
    touching the tree. This is what a light/planning snapshot needs
    from an AMT table whose pre-tree commits were cleaned up."""
    protocol = Protocol(
        minReaderVersion=ckpt["protocol"].get("minReaderVersion", 3),
        minWriterVersion=ckpt["protocol"].get("minWriterVersion", 7),
        readerFeatures=ckpt["protocol"].get("readerFeatures"),
        writerFeatures=ckpt["protocol"].get("writerFeatures"))
    metadata = Metadata.from_json(ckpt["metaData"])
    domains = [DomainMetadata.from_json(d)
               for d in ckpt.get("domainMetadata") or []]
    txns = [SetTransaction.from_json(t) for t in ckpt.get("txns") or []]
    return protocol, metadata, domains, txns


def find_latest_checkpoint(log, upto: int) -> Optional[tuple[int, dict]]:
    """Newest commit ≤ `upto` carrying an inline checkpoint action.

    Scans backward — bounded by the checkpoint cadence on AMT tables —
    with two cost guards for 100-TB-shaped logs: a memo on the DeltaLog
    (`_amt_last`, maintained by the bootstrap and the commit hook)
    truncates the scan at the last known tree, and each candidate
    commit is substring-probed for the action key before paying a full
    JSON parse (a large commit json holds 10⁵+ add lines; parsing them
    all just to learn there is no checkpoint action would dominate the
    commit path)."""
    memo = getattr(log, "_amt_last", None)
    if memo is not None and memo[0] > upto:
        memo = None
    floor = memo[0] if memo is not None else -1
    versions = [v for v in log.list_commit_versions()
                if floor < v <= upto]
    for v in reversed(versions):
        try:
            content = log.store.read(log.commit_source(v))
        except OSError:
            return None
        if '"checkpoint"' not in content:
            continue
        for kind, a in log.read_commit_actions(v):
            if kind == "checkpoint":
                log._amt_last = (v, a)
                return v, a
    if memo is not None:
        return memo
    return None


def window_file_actions(log, start: int,
                        end: int) -> list[tuple[int, str, Any]]:
    """(version, kind, action) for the add/remove actions in commits
    [start, end] — the incremental writer's reconstruction window
    (bounded by the checkpoint cadence)."""
    out: list[tuple[int, str, Any]] = []
    for v in range(start, end + 1):
        try:
            for kind, a in log.read_commit_actions(v):
                if kind in ("add", "remove"):
                    out.append((v, kind, a))
        except OSError:
            continue
    return out


# ------------------------------------------------- distributed IO ----
#
# The reference writes leaf manifests FROM EXECUTORS, one per Spark
# partition (amt/AMTWriteHelper.scala:153-165), and serves reads
# through a checkpoint provider backed by a distributed Dataset. The
# twins below do the same on the existing distributed legs
# (DeltaLog.state_df / write_checkpoint_distributed plumbing): past the
# distributed-planning threshold, neither the tree write nor the tree
# read materializes per-file state on the driver — only O(#leaves)
# pointer rows and the metadata-class actions pass through it.

def tree_files_df(log, spark, ckpt: dict, stats_struct=None):
    """Distributed tree read — the executor-side twin of ``load_state``:
    the live DATA entries of the manifest tree as a DataFrame shaped
    like ``DeltaLog.state_df`` rows, plus ``backref_manifest``/
    ``backref_pos`` columns carrying each leaf entry's residency.

    Only the ROOT manifest (bounded by entriesPerLeaf + #leaves) is
    read on the driver; leaves are scanned by executors with their MDV
    dead positions masked via the parquet ``_metadata.row_index``
    (an anti-join against the executor-deserialized MDV positions —
    broadcast while the total dead count is small)."""
    import pandas as pd  # noqa: F401  (worker-side import sanity)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from delta_spark.log import checkpoint_spark_schema

    cp = AMTCheckpoint(ckpt)
    table_path = os.path.abspath(log.table_path)
    root = _read_manifest(log.table_path, cp.content_root["path"])
    version = cp.version

    root_rows: list[tuple] = []
    pointers: list[tuple[str, Optional[bytes], int]] = []
    for row in root:
        if row["content_type"] == DATA:
            if row["tracking"]["status"] == ST_DELETED:
                continue
            root_rows.append((
                row["delta_add_json"], row.get("delta_stats"),
                row["location"],
                dict((row.get("partition") or {}).get("values") or []),
                row["file_size_in_bytes"], None, None))
        elif row["content_type"] == DATA_MANIFEST:
            mi = row["manifest_info"] or {}
            pointers.append((row["location"], mi.get("dv"),
                             int(mi.get("dv_cardinality") or 0)))
        else:
            raise ValueError(
                f"unsupported AMT content_type {row['content_type']}")

    # intermediate shape: the planning-relevant columns come from
    # NATIVE manifest columns (location/partition/size/delta_stats),
    # so the skipping filter never touches delta_add_json — Catalyst
    # pushes the filter below the projection and the JSON parse runs
    # only on rows that survive pruning
    base_schema = ("delta_add_json string, delta_stats string, "
                   "location string, partitionValues map<string,string>, "
                   "size long, backref_manifest string, backref_pos long")
    parts = []
    if root_rows:
        parts.append(spark.createDataFrame(root_rows, base_schema))
    if pointers:
        abs_to_loc = {os.path.abspath(os.path.join(table_path, loc)): loc
                      for loc, _, _ in pointers}
        # explicit schema: leaves written before the delta_stats column
        # existed (carried-forward pointers) read it as null and keep
        # their stats inside delta_add_json — the coalesce below stays
        # lossless for both layouts
        leaf_schema = T.StructType([
            T.StructField("content_type", T.IntegerType()),
            T.StructField("tracking", T.StructType([
                T.StructField("status", T.IntegerType())])),
            T.StructField("location", T.StringType()),
            T.StructField("partition", T.StructType([
                T.StructField("values",
                              T.MapType(T.StringType(), T.StringType()))])),
            T.StructField("file_size_in_bytes", T.LongType()),
            T.StructField("delta_add_json", T.StringType()),
            T.StructField("delta_stats", T.StringType()),
        ])
        # canonicalize _metadata.file_path exactly like state_df keys
        # ('+' pre-escaped so url_decode's form decoding keeps it)
        canon_mf = F.regexp_replace(
            F.url_decode(F.regexp_replace(
                F.col("_metadata.file_path"), r"\+", "%2B")),
            "^file:/*", "/")
        leaves = (spark.read.schema(leaf_schema).parquet(*sorted(abs_to_loc))
                  .select("delta_add_json", "delta_stats",
                          F.col("location"),
                          F.col("partition.values").alias("partitionValues"),
                          F.col("file_size_in_bytes").alias("size"),
                          F.col("content_type").alias("__ct"),
                          F.col("tracking.status").alias("__st"),
                          canon_mf.alias("__mf"),
                          F.col("_metadata.row_index").alias("backref_pos"))
                  .filter((F.col("__ct") == F.lit(DATA))
                          & (F.col("__st") != F.lit(ST_DELETED))))
        locdf = spark.createDataFrame(
            [(p, loc) for p, loc in abs_to_loc.items()],
            "__mf string, backref_manifest string")
        leaves = (leaves.join(F.broadcast(locdf), "__mf")
                  .drop("__mf", "__ct", "__st"))
        mdv_rows = [(loc, bytes(dv)) for loc, dv, _ in pointers if dv]
        if mdv_rows:
            mdvdf = spark.createDataFrame(
                mdv_rows, "backref_manifest string, __dv binary")
            dead = mdvdf.mapInPandas(
                _expand_mdv, "backref_manifest string, backref_pos long")
            total_dead = sum(c for _, _, c in pointers)
            if total_dead <= 1_000_000:
                dead = F.broadcast(dead)
            leaves = leaves.join(
                dead, ["backref_manifest", "backref_pos"], "left_anti")
        parts.append(leaves.select(
            "delta_add_json", "delta_stats", "location", "partitionValues",
            "size", "backref_manifest", "backref_pos"))

    if not parts:
        src = spark.createDataFrame([], base_schema)
    else:
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p)

    # AddFile is lossless through the checkpoint schema's add struct
    a = F.from_json("delta_add_json",
                    checkpoint_spark_schema()["add"].dataType)
    df = src.select(
        F.col("location").alias("path"),
        F.lit(True).alias("is_add"),
        F.lit(True).alias("is_file_action"),
        F.col("size"),
        a.getField("modificationTime").alias("modificationTime"),
        a.getField("dataChange").alias("dataChange"),
        F.col("partitionValues"),
        F.coalesce(F.col("delta_stats"),
                   a.getField("stats")).alias("stats"),
        F.to_json(a.getField("deletionVector")).alias("deletionVector"),
        a.getField("tags").alias("tags"),
        a.getField("baseRowId").alias("baseRowId"),
        a.getField("defaultRowCommitVersion")
        .alias("defaultRowCommitVersion"),
        a.getField("clusteringProvider").alias("clusteringProvider"),
        F.lit(version).cast("long").alias("version"),
        "backref_manifest", "backref_pos")
    if stats_struct is not None:
        # tree entries carry stats as the JSON blob only — planning
        # falls back to from_json like commit-JSON rows
        df = df.withColumn("__sp", F.lit(None).cast(stats_struct))
    return df


def _expand_mdv(batches):
    """mapInPandas kernel: (manifest location, MDV bytes) -> one row
    per dead leaf position, deserialized executor-side."""
    import pandas as pd

    from delta_spark.dv import deserialize_rbm_array

    for pdf in batches:
        locs: list[str] = []
        poss: list[int] = []
        for loc, dv in zip(pdf["backref_manifest"], pdf["__dv"]):
            for pos in deserialize_rbm_array(bytes(dv)):
                locs.append(loc)
                poss.append(int(pos))
        yield pd.DataFrame({"backref_manifest": locs, "backref_pos": poss})


def _na(v):
    """pandas NaN -> None (Arrow->pandas turns nullable ints/bools into
    float NaN); everything else passes through."""
    try:
        import pandas as pd
        if v is None or (not isinstance(v, (list, dict, str, bytes))
                         and pd.isna(v)):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _leaf_writer(table_path: str):
    """mapInPandas kernel factory: each executor partition of live-add
    rows (state_df column shape) flushes ONE leaf manifest under
    <table>/metadata/ and yields its pointer facts — the reference's
    one-manifest-per-partition flush (AMTWriteHelper.scala:153-165)."""

    def write(batches):
        import pandas as pd

        entries: list[dict] = []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                dv = _na(r.deletionVector)
                a = AddFile(
                    path=r.path,
                    partitionValues=dict(r.partitionValues or {}),
                    size=int(_na(r.size) or 0),
                    modificationTime=int(_na(r.modificationTime) or 0),
                    dataChange=(True if _na(r.dataChange) is None
                                else bool(r.dataChange)),
                    stats=_na(r.stats),
                    tags=dict(r.tags) if _na(r.tags) else None,
                    deletionVector=json.loads(dv) if dv else None,
                    baseRowId=(None if _na(r.baseRowId) is None
                               else int(r.baseRowId)),
                    defaultRowCommitVersion=(
                        None if _na(r.defaultRowCommitVersion) is None
                        else int(r.defaultRowCommitVersion)),
                    clusteringProvider=_na(r.clusteringProvider),
                )
                entries.append(_entry_from_add(a, ST_EXISTING))
        if not entries:
            return
        entries.sort(key=lambda e: e["location"])
        loc, size = _write_manifest(table_path, entries)
        yield pd.DataFrame([{
            "loc": loc, "size": size, "n": len(entries),
            "nrows": sum(e["record_count"] or 0 for e in entries)}])

    return write


def write_full_distributed(log, spark, meta, version: int,
                           commit_actions: list) -> dict:
    """Full materialization as a Spark job: the base live set comes
    from ``state_df(version - 1)`` (itself tree- or checkpoint-sourced,
    parsed on executors), this commit's delta is applied as a broadcast
    anti-join (paths this commit removes or re-adds) plus a union of
    its adds, and each range partition flushes one leaf manifest from
    the executor (`_leaf_writer`). Only the O(#leaves) pointer rows and
    the metadata-class state pass through the driver. `meta` is a
    metadata-class view of the post-commit state (protocol/metadata/
    domain_metadata/set_transactions)."""
    from pyspark.sql import functions as F

    from delta_spark.util import canonical_log_path as _ckey

    per_leaf = _entries_per_leaf(meta.metadata.configuration
                                 if meta.metadata else {})
    cols = ["path", "partitionValues", "size", "modificationTime",
            "dataChange", "stats", "deletionVector", "tags", "baseRowId",
            "defaultRowCommitVersion", "clusteringProvider"]
    base = log.state_df(spark, version - 1).select(*cols)

    adds = [a for a in commit_actions if isinstance(a, AddFile)]
    removes = [a for a in commit_actions if isinstance(a, RemoveFile)]
    touched = sorted({_ckey(r.path) for r in removes}
                     | {_ckey(a.path) for a in adds})
    if touched:
        canon = F.regexp_replace(
            F.url_decode(F.regexp_replace(F.col("path"), r"\+", "%2B")),
            "^file:/*", "/")
        tdf = spark.createDataFrame([(p,) for p in touched], "__t string")
        base = (base.withColumn("__c", canon)
                .join(F.broadcast(tdf), F.col("__c") == F.col("__t"),
                      "left_anti")
                .drop("__c"))
    if adds:
        schema = base.schema
        add_rows = [(a.path, dict(a.partitionValues or {}), a.size or 0,
                     a.modificationTime or 0,
                     True if a.dataChange is None else bool(a.dataChange),
                     a.stats,
                     json.dumps(a.deletionVector)
                     if a.deletionVector else None,
                     dict(a.tags) if a.tags else None, a.baseRowId,
                     a.defaultRowCommitVersion, a.clusteringProvider)
                    for a in adds]
        base = base.unionByName(spark.createDataFrame(add_rows, schema))

    n = base.count()
    if n <= per_leaf:
        # small live set: hold the entries directly in the root (same
        # single-leaf promotion as the driver writer)
        rows = base.collect()
        from delta_spark.log import addfiles_from_state_rows
        live = sorted(addfiles_from_state_rows(rows), key=lambda a: a.path)
        root_rows = [_entry_from_add(a, ST_ADDED) for a in live]
    else:
        n_leaves = -(-n // per_leaf)
        ptrs = (base.repartitionByRange(n_leaves, "path")
                .sortWithinPartitions("path")
                .mapInPandas(_leaf_writer(log.table_path),
                             "loc string, size long, n long, nrows long")
                .collect())
        root_rows = [_pointer_entry(p.loc, p.size, p.n, p.nrows, None, 0)
                     for p in sorted(ptrs, key=lambda p: p.loc)]
    root_loc, root_size = _write_manifest(log.table_path, root_rows)
    return _checkpoint_dict(
        version, root_loc, root_size, incremental=False, last_full=version,
        protocol=meta.protocol, metadata=meta.metadata,
        domains=list(meta.domain_metadata.values()),
        txns=list(meta.set_transactions.values()))


# -------------------------------------------------- manifest GC ----

def referenced_manifests(log) -> set:
    """Table-root-relative locations of every manifest reachable from
    any inline checkpoint action still present in the log: the roots
    named by retained `checkpoint` actions plus the leaves their
    pointers reference. Bounded by the retention window (runs AFTER
    commit cleanup)."""
    refs: set = set()
    for v in log.list_commit_versions():
        try:
            content = log.store.read(log.commit_source(v))
        except OSError:
            continue
        if '"checkpoint"' not in content:
            continue
        for kind, a in log.read_commit_actions(v):
            if kind != "checkpoint":
                continue
            root = a["contentRoot"]["path"]
            refs.add(root)
            try:
                for row in _read_manifest(log.table_path, root):
                    if row["content_type"] == DATA_MANIFEST:
                        refs.add(row["location"])
            except OSError:
                continue
    return refs


def cleanup_unreferenced_manifests(log, cutoff_ms: int) -> int:
    """GC manifests no longer reachable from any retained tree — old
    full-rewrite generations and orphans of failed distributed writes.
    The mtime cutoff (the log-retention cutoff) protects manifests an
    in-flight commit wrote before its commit JSON landed. Returns the
    number deleted. (Reference analogue: the amt/ module's maintenance
    cleanup of superseded manifests.)"""
    mdir = metadata_dir(log.table_path)
    try:
        names = os.listdir(mdir)
    except FileNotFoundError:
        return 0
    victims = [n for n in names
               if n.startswith("manifest-") and n.endswith(".parquet")]
    if not victims:
        return 0
    refs = {os.path.basename(r) for r in referenced_manifests(log)}
    deleted = 0
    for n in victims:
        if n in refs:
            continue
        p = os.path.join(mdir, n)
        try:
            if os.stat(p).st_mtime * 1000 < cutoff_ms:
                os.remove(p)
                deleted += 1
        except OSError:
            pass
    return deleted

"""Shared helpers: partition-value serialization, Hive-style partition
paths, schema JSON round-trips.

Partition values are stored as *strings* in AddFile.partitionValues and
parsed back to typed literals on read (reference actions.scala:119
normalizePartitionValues; PROTOCOL.md "Partition Value Serialization").
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import urllib.parse
from typing import Any, Optional

from pyspark.sql import types as T

HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# characters Hive escapes in partition directory names
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def escape_partition_value(v: str) -> str:
    out = []
    for ch in v:
        if ch in _ESCAPE_CHARS:
            out.append("%{:02X}".format(ord(ch)))
        else:
            out.append(ch)
    return "".join(out)


def unescape_partition_value(v: str) -> str:
    return urllib.parse.unquote(v)


def serialize_partition_value(value: Any, dtype: T.DataType) -> Optional[str]:
    """Typed literal → protocol string form (PROTOCOL.md Partition Value
    Serialization). None → None (JSON null in the log)."""
    if value is None:
        return None
    if isinstance(dtype, T.BooleanType):
        return "true" if value else "false"
    if isinstance(dtype, T.DateType):
        if isinstance(value, _dt.date):
            return value.isoformat()
        return str(value)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(value, _dt.datetime):
            s = value.strftime("%Y-%m-%d %H:%M:%S")
            if value.microsecond:
                s += ".%06d" % value.microsecond
            return s
        return str(value)
    if isinstance(dtype, T.BinaryType):
        return bytes(value).decode("latin-1")
    if isinstance(dtype, T.DoubleType) or isinstance(dtype, T.FloatType):
        if isinstance(value, float) and math.isnan(value):
            return "NaN"
        return repr(float(value))
    return str(value)


def deserialize_partition_value(s: Optional[str], dtype: T.DataType) -> Any:
    """Protocol string → typed Python literal."""
    if s is None or s == HIVE_DEFAULT_PARTITION:
        return None
    if isinstance(dtype, T.StringType):
        return s
    if isinstance(dtype, T.BooleanType):
        return s.lower() == "true"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(s)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(s)
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(s)
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(s)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        try:
            return _dt.datetime.fromisoformat(s)
        except ValueError:
            return _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")
    if isinstance(dtype, T.BinaryType):
        return s.encode("latin-1")
    return s


def to_millis(ts) -> int:
    """Timestamp (str | datetime | epoch-ms int) → epoch millis. Naive
    inputs are interpreted as UTC — the session timezone this engine
    pins and the zone history()/DESCRIBE HISTORY render in, so a
    history timestamp round-trips exactly on any machine."""
    if isinstance(ts, int):
        return ts
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return int(ts.timestamp() * 1000)


def partition_path(partition_values: dict[str, Optional[str]], partition_columns: list[str]) -> str:
    """Hive-style relative directory prefix: ``col=val/col2=val2/``."""
    parts = []
    for c in partition_columns:
        v = partition_values.get(c)
        sv = HIVE_DEFAULT_PARTITION if v is None else escape_partition_value(v)
        parts.append(f"{escape_partition_value(c)}={sv}")
    return "/".join(parts)


def schema_to_json(schema: T.StructType) -> str:
    return schema.json()


def schema_from_json(s: str) -> T.StructType:
    import json

    # a Metadata action may legally omit schemaString (log-only tables,
    # e.g. the reference's deltalog-commit-info golden fixture): the
    # schema is only required to READ DATA — log replay, history and
    # snapshot state must still work (Spark's DeltaLog behaves the
    # same; reads then fail with schemaNotSetException)
    d = json.loads(s) if s else {}
    if not d.get("fields"):
        return T.StructType([])
    return T.StructType.fromJson(d)


def current_time_millis() -> int:
    import time

    return int(time.time() * 1000)


# ------------------------------------------------------- log paths ----
# PROTOCOL.md: a file action's `path` is a RELATIVE path encoded per
# RFC 2396 (or an absolute URI). The safe set below matches what
# Hadoop's Path.toUri leaves unescaped in a path, so our logs encode
# byte-identically to the reference's for the common cases
# (space → %20, '%' → %25).
_URI_PATH_SAFE = "/-_.!~*'():@&=+$,"


def encode_log_path(rel: str) -> str:
    """Relative filesystem path → the URL-encoded form stored in file
    actions."""
    from urllib.parse import quote

    return quote(rel, safe=_URI_PATH_SAFE)


def decode_log_path(p: str) -> str:
    """URL-encoded log path (relative, or an absolute URI) → the path
    to hand the filesystem / Spark. file: URIs decode to a local path;
    other schemes (s3a://, hdfs://, ...) pass through untouched — the
    reader stack consumes them as URIs."""
    from urllib.parse import unquote, urlparse

    if p.startswith("file:"):
        return unquote(urlparse(p).path)
    if "://" in p:
        return p
    return unquote(p)


def resolve_log_path(table_path: str, p: str) -> str:
    """THE path-resolution seam: a file action's `path` → the absolute
    location to open. Every consumer (reader, DML matching, streaming
    executors, VACUUM, manifests, UniForm) must route through here so
    encoding fixes land once."""
    import os as _os

    d = decode_log_path(p)
    if d.startswith("/") or "://" in d:
        return d
    return _os.path.join(table_path, d)


def canonical_log_path(p: str) -> str:
    """Canonical replay key for a file action's path (the reference
    canonicalizes before reconciliation — InMemoryLogReplay — so an
    `add /x` is cancelled by a `remove file:/x`): decode, strip a
    file: scheme, normalize. Non-file URI schemes key as themselves."""
    import os as _os

    d = decode_log_path(p)
    if "://" in d:
        return d
    return _os.path.normpath(d)


def split_column_path(name: str) -> list[str]:
    """Split a dotted column path into parts, honoring Spark SQL
    backtick quoting: dots INSIDE backticks are part of the name
    (``a.b`` -> ['a','b'] but ``\x60a.b\x60`` -> ['a.b'];
    ``s.\x60a.b\x60`` -> ['s','a.b']); ``\x60\x60`` inside a quoted
    segment is an escaped literal backtick. Mirrors Spark's
    UnresolvedAttribute.parseAttributeName so a column literally named
    'a.b' is addressable everywhere a nested path is accepted."""
    parts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(name)
    while i < n:
        c = name[i]
        if c == "`":
            i += 1
            while i < n:
                if name[i] == "`":
                    if i + 1 < n and name[i + 1] == "`":  # escaped `
                        buf.append("`")
                        i += 2
                        continue
                    i += 1
                    break
                buf.append(name[i])
                i += 1
        elif c == ".":
            parts.append("".join(buf))
            buf = []
            i += 1
        else:
            buf.append(c)
            i += 1
    parts.append("".join(buf))
    return parts


# --------------------------------------------------------------------------
# field-id parquet read confs (column mapping `id` mode)
# --------------------------------------------------------------------------
# Resolution by parquet field id is a READER requirement of the protocol
# in id mode (PROTOCOL.md:1021), and Spark's parquet source only honors
# it through session confs that are consumed at EXECUTION time: a
# DataFrame built under a scoped set/restore silently null-fills every
# column once the conf is restored before the user's first action, and
# per-read DataFrameReader options are ignored for these keys (both
# behaviors pinned by tests/test_column_names.py). The engine therefore
# sets the confs session-wide on the first id-mode read — the narrowest
# mechanism PySpark offers — remembers the user's prior values, warns
# once if it overrides an explicitly-set value, and exposes
# restore_field_id_read_confs() to undo the mutation once no id-mode
# DataFrames remain in use.
FIELD_ID_READ_CONFS = ("spark.sql.parquet.fieldId.read.enabled",
                       "spark.sql.parquet.fieldId.read.ignoreMissing")
# WeakKeyDictionary on the SparkSession itself (r9 ADVICE): an id()
# key can be REUSED by a new session after the old one is collected,
# which would restore the dead session's saved values — and leaks one
# entry per session besides. Weak keying drops the entry with the
# session.
import weakref as _weakref

_saved_field_id_confs: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def ensure_field_id_read_confs(spark) -> None:
    """Turn on Spark's field-id parquet resolution for this session
    (required while any column-mapping id-mode DataFrame from this
    engine is alive), saving the user's prior values for
    restore_field_id_read_confs()."""
    saved = _saved_field_id_confs.get(spark)
    if saved is None:
        saved = {k: spark.conf.get(k, None) for k in FIELD_ID_READ_CONFS}
        _saved_field_id_confs[spark] = saved
        explicit = {k: v for k, v in saved.items()
                    if v is not None and str(v).lower() != "true"}
        if explicit:
            import warnings

            warnings.warn(
                "reading a column-mapping id-mode Delta table requires "
                "spark.sql.parquet.fieldId.read.{enabled,ignoreMissing}"
                "=true for the whole session (the parquet source reads "
                f"them at execution time); overriding {explicit}. "
                "delta_spark.util.restore_field_id_read_confs(spark) "
                "undoes this once id-mode DataFrames are no longer in "
                "use.")
    for k in FIELD_ID_READ_CONFS:
        if spark.conf.get(k, None) != "true":
            spark.conf.set(k, "true")


def restore_field_id_read_confs(spark) -> None:
    """Restore the session's field-id read confs to their values before
    the first id-mode read. Only call once DataFrames produced from
    id-mode tables are no longer in use — they null-fill without the
    confs."""
    saved = _saved_field_id_confs.pop(spark, None)
    if saved is None:
        return
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


# ---- DML shuffle width (guide §2.2: size shuffle partitions to the
# bytes the job moves, not the core count) ---------------------------

# Target COMPRESSED-INPUT bytes per shuffle partition for DML
# rewrites. This is a FLOOR-breaker for tiny commands, not a
# steady-state shuffle sizer (AQE's advisoryPartitionSizeInBytes still
# governs coalescing above it): the scoped width never exceeds the
# session width, so it only narrows commands whose whole input is
# smaller than target × session-width. 2 MB/task was measured, not
# guessed — interleaved A/B on this machine: a ~64 MB sf3 merge ran
# 4.4 s at 32-wide (~2 MB/task) vs 6.2-7.3 s narrowed to 1-2 wide by a
# 64 MB target, while a ~2 MB sf0.1 merge ran best at width 2 (1.15 s
# min) vs full 32-wide fan-out (1.27 s) — both land on ~2 MB of
# compressed input per task for the CPU-bound join+rewrite.
_DML_TARGET_PARTITION_BYTES = 2 * 1024 * 1024


import contextlib as _contextlib


@_contextlib.contextmanager
def scoped_dml_shuffle_width(spark, input_bytes: Optional[int]):
    """Scope ``spark.sql.shuffle.partitions`` for one DML command to
    the width its INPUT SIZE justifies: ceil(bytes / target), with the
    session's configured value as the CAP — large inputs keep the
    deployment's width, only small commands stop fanning tiny rows
    across every core (measured: a 32-core merge touching 5% of a
    32-file table ran FASTER on 8 cores before this; the fan-out was
    pure scheduling overhead). ``input_bytes=None`` (size unknown, e.g.
    a source whose plan has no size estimate) is a no-op — adaptation
    only ever narrows a provably small job, never guesses. The conf is
    restored on exit even on error; commands are driver-sequential per
    session, matching every other session-scoped conf in this engine."""
    n = None
    saved = None
    if input_bytes is not None:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        want = max(1, math.ceil(int(input_bytes) / _DML_TARGET_PARTITION_BYTES))
        if want < cur:
            n, saved = want, cur
    if n is None:
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        try:
            spark.conf.set("spark.sql.shuffle.partitions", str(saved))
        except Exception:
            pass

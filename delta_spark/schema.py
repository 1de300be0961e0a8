"""Schema merging / evolution + column-metadata-driven features.

Reference: schema/SchemaMergingUtils.scala + SchemaUtils.scala
(mergeSchema/overwriteSchema options DeltaOptions.scala:317-319),
TypeWidening.scala for the safe-widening matrix, GeneratedColumn.scala
and IdentityColumn.scala for the column metadata keys (which we keep
byte-compatible: `delta.generationExpression`, `delta.identity.start`,
`delta.identity.step`, `delta.identity.highWaterMark`,
`delta.identity.allowExplicitInsert`).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import types as T

GENERATION_EXPRESSION_KEY = "delta.generationExpression"
DEFAULT_VALUE_KEY = "CURRENT_DEFAULT"  # Spark ResolveDefaultColumns key
COLUMN_MAPPING_MODE_KEY = "delta.columnMapping.mode"
COLUMN_MAPPING_PHYSICAL_KEY = "delta.columnMapping.physicalName"
COLUMN_MAPPING_ID_KEY = "delta.columnMapping.id"
COLUMN_MAPPING_MAX_ID_KEY = "delta.columnMapping.maxColumnId"
IDENTITY_START_KEY = "delta.identity.start"
IDENTITY_STEP_KEY = "delta.identity.step"
IDENTITY_HIGH_WATERMARK_KEY = "delta.identity.highWaterMark"
IDENTITY_ALLOW_EXPLICIT_KEY = "delta.identity.allowExplicitInsert"

# safe widenings (TypeWidening.scala): byte→short→int→long; float→double;
# int types → double is lossy-ish but Spark allows for decimals — keep strict
_WIDEN = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("date", "timestamp"),
}


TYPE_CHANGES_KEY = "delta.typeChanges"
TYPE_WIDENING_PROP = "delta.enableTypeWidening"

# integral types as decimals, for integral→decimal widening checks
_INT_AS_DECIMAL = {"byte": (3, 0), "short": (5, 0),
                   "integer": (10, 0), "long": (20, 0)}


class SchemaEvolutionError(Exception):
    pass


def can_widen(frm: T.DataType, to: T.DataType) -> bool:
    return (frm.typeName(), to.typeName()) in _WIDEN


def _decimal_wider_than(to: T.DecimalType, p: int, s: int) -> bool:
    return to.precision - to.scale >= p - s and to.scale >= s


def is_widening_supported(frm: T.DataType, to: T.DataType) -> bool:
    """ALTER TABLE type-change matrix (TypeWidening.scala:82-98): every
    change a wider Parquet read can serve without rewriting files."""
    f, t = frm.typeName(), to.typeName()
    if f == t and not isinstance(frm, T.DecimalType):
        return False  # no-op is not a change
    ints = ("byte", "short", "integer", "long")
    if f in ints and t in ints:
        return ints.index(f) < ints.index(t)
    if (f, t) == ("float", "double"):
        return True
    if (f, t) == ("date", "timestamp_ntz"):
        return True
    if f in ("byte", "short", "integer") and t == "double":
        return True
    if isinstance(to, T.DecimalType):
        if isinstance(frm, T.DecimalType):
            return ((to.precision, to.scale) != (frm.precision, frm.scale)
                    and _decimal_wider_than(to, frm.precision, frm.scale))
        if f in _INT_AS_DECIMAL:
            return _decimal_wider_than(to, *_INT_AS_DECIMAL[f])
    return False


def record_type_change(field: T.StructField,
                       new_type: T.DataType) -> T.StructField:
    """Field widened to ``new_type`` with a ``delta.typeChanges`` entry
    appended (TypeWideningMetadata.scala:39-64)."""
    md = dict(field.metadata or {})
    changes = list(md.get(TYPE_CHANGES_KEY, []))
    changes.append({"fromType": field.dataType.simpleString(),
                    "toType": new_type.simpleString()})
    md[TYPE_CHANGES_KEY] = changes
    return T.StructField(field.name, new_type, field.nullable, md)


def merge_schemas(current: T.StructType, incoming: T.StructType,
                  allow_widening: bool = True) -> T.StructType:
    """Merge incoming into current: new columns append; same-name columns
    must be equal or safely widenable; nested structs merge recursively."""
    cur_by_name = {f.name.lower(): f for f in current.fields}
    out = []
    for f in current.fields:
        inc = _find(incoming, f.name)
        if inc is None:
            out.append(f)
            continue
        out.append(T.StructField(f.name, _merge_types(f.dataType, inc.dataType, allow_widening, f.name),
                                 f.nullable or inc.nullable, f.metadata))
    for f in incoming.fields:
        if f.name.lower() not in cur_by_name:
            # evolved columns must be nullable (old files lack them);
            # the TABLE owns column-mapping identity — a source field
            # aliased from a mapped table column (SELECT x AS new_col)
            # carries x's physicalName/id through Spark's alias
            # metadata propagation, and trusting it would assign TWO
            # logical columns the same physical name
            out.append(T.StructField(f.name, _strip_mapping(f.dataType),
                                     True, _strip_mapping_meta(f.metadata)))
    return T.StructType(out)


def _strip_mapping_meta(md: Optional[dict]) -> Optional[dict]:
    if not md:
        return md
    return {k: v for k, v in md.items()
            if not k.startswith("delta.columnMapping.")
            and k != "parquet.field.id"}


def _strip_mapping(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _strip_mapping(f.dataType), f.nullable,
                          _strip_mapping_meta(f.metadata))
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_mapping(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_strip_mapping(dt.keyType),
                         _strip_mapping(dt.valueType), dt.valueContainsNull)
    return dt


def _find(schema: T.StructType, name: str) -> Optional[T.StructField]:
    for f in schema.fields:
        if f.name.lower() == name.lower():
            return f
    return None


def _merge_types(cur: T.DataType, inc: T.DataType, allow_widening: bool, path: str) -> T.DataType:
    if cur == inc:
        return cur
    if isinstance(cur, T.StructType) and isinstance(inc, T.StructType):
        return merge_schemas(cur, inc, allow_widening)
    if isinstance(cur, T.ArrayType) and isinstance(inc, T.ArrayType):
        return T.ArrayType(_merge_types(cur.elementType, inc.elementType, allow_widening, path + ".element"),
                           cur.containsNull or inc.containsNull)
    if isinstance(cur, T.MapType) and isinstance(inc, T.MapType):
        return T.MapType(
            _merge_types(cur.keyType, inc.keyType, allow_widening, path + ".key"),
            _merge_types(cur.valueType, inc.valueType, allow_widening, path + ".value"),
            cur.valueContainsNull or inc.valueContainsNull)
    if allow_widening and can_widen(inc, cur):
        return cur  # incoming narrower than table — table type wins
    if allow_widening and can_widen(cur, inc):
        return inc  # widen the table column
    raise SchemaEvolutionError(
        f"cannot merge column {path!r}: {cur.simpleString()} vs {inc.simpleString()}")


def is_same_schema(a: T.StructType, b: T.StructType) -> bool:
    """Name/type/nullability equality ignoring metadata."""
    if len(a.fields) != len(b.fields):
        return False
    for fa, fb in zip(a.fields, b.fields):
        if fa.name != fb.name or fa.nullable != fb.nullable:
            return False
        ta, tb = fa.dataType, fb.dataType
        if isinstance(ta, T.StructType) and isinstance(tb, T.StructType):
            if not is_same_schema(ta, tb):
                return False
        elif ta != tb:
            return False
    return True


def expressions_referencing(schema: T.StructType, configuration: dict,
                            col: str) -> list[str]:
    """Human-readable descriptions of CHECK constraints and generation
    expressions that reference `col` (SchemaUtils
    findDependentConstraints / findDependentGeneratedColumns role) —
    DROP/RENAME COLUMN must refuse while these exist, since the
    expressions are stored as raw SQL text."""
    import re as _re

    from delta_spark.predicates import mask_string_literals

    pat = _re.compile(
        r"(?<![\w`])`?" + _re.escape(col) + r"`?(?![\w`])", _re.IGNORECASE)
    # mask string literals so "status IN ('b')" doesn't count as a
    # reference to a column named b
    out = []
    for name, expr in (configuration or {}).items():
        if name.lower().startswith("delta.constraints.") and \
                pat.search(mask_string_literals(expr)):
            out.append(f"CHECK constraint {name.split('.', 2)[2]} ({expr})")
    for gcol, expr in generation_expressions(schema).items():
        if gcol.lower() != col.lower() and \
                pat.search(mask_string_literals(expr)):
            out.append(f"generation expression of column {gcol} ({expr})")
    return out


def relax_nullability(dt: T.DataType) -> T.DataType:
    """Deep-nullable copy of a type: DML value expressions (CASE
    branches, update_fields over NOT NULL struct fields) produce
    nullable values that cannot cast to a NOT NULL struct type.
    Nullability is enforced at the write seam, not per-expression."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, relax_nullability(f.dataType), True, f.metadata)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(relax_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, relax_nullability(dt.valueType), True)
    return dt


# -- SQL text for DML row expressions ---------------------------------
# MERGE, UPDATE and the write-path invariant guards build their row
# expressions as ONE composed SQL text (one parse instead of ~10 py4j
# round trips per Column node). Every identifier, type, string literal
# and user fragment they emit goes through the helpers below.

def quote_ident(name: str) -> str:
    """Backquoted SQL identifier (`a b`, `x``y`)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """Single-quoted Spark SQL string literal (the default parser
    processes backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_fragment(text: str) -> str:
    """Parenthesized user SQL for embedding in composed text. The
    newline ends a trailing `-- comment` before the closing paren, so
    the comment cannot swallow the text that follows."""
    return f"({text}\n)"


def sql_type(dt: T.DataType) -> str:
    """Type text the SQL parser reads back: simpleString(), except that
    struct field names are backquoted (struct<`x y`:int>)."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{quote_ident(f.name)}:{sql_type(f.dataType)}"
            for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{sql_type(dt.keyType)},{sql_type(dt.valueType)}>"
    return dt.simpleString()


def resolve_field_path(schema: T.StructType, parts: list[str],
                       key: str) -> tuple[str, ...]:
    """SET target parts → declared field names from the top-level
    column down. Parts resolve case-insensitively, like Spark
    identifiers; ``key`` is the user's SET target, for errors."""
    path: list[str] = []
    dt: T.DataType = schema
    for p in parts:
        if not isinstance(dt, T.StructType):
            raise ValueError(f"SET target {key!r}: "
                             f"{'.'.join(path)} is not a struct")
        f = {x.name.lower(): x for x in dt.fields}.get(p.lower())
        if f is None:
            raise ValueError(f"SET targets not in table schema: [{key!r}]")
        path.append(f.name)
        dt = f.dataType
    return tuple(path)


def update_struct_sql(base: str, dt: T.StructType,
                      assigns: list[tuple[tuple[str, ...], str]]) -> str:
    """SQL text of struct ``base`` (of type ``dt``) with the fields at
    each resolved path replaced by a value SQL text, siblings kept:
    ``IF(base IS NULL, NULL, named_struct(...))``, one level per path
    part, the same result as Spark's UpdateFields expression, so a
    NULL struct stays NULL. Values are cast to the field's relaxed
    type."""
    fields = []
    for f in dt.fields:
        ref = f"{base}.{quote_ident(f.name)}"
        here = [(p[1:], v) for p, v in assigns if p[0] == f.name]
        if not here:
            val = ref
        elif not here[0][0]:
            val = (f"CAST({sql_fragment(here[0][1])} AS "
                   f"{sql_type(relax_nullability(f.dataType))})")
        else:
            val = update_struct_sql(ref, f.dataType, here)
        fields.append(f"{sql_string(f.name)}, {val}")
    return f"IF({base} IS NULL, NULL, named_struct({', '.join(fields)}))"


def _has_collations_key(node) -> bool:
    """True when the parsed field JSON carries the protocol's
    `__COLLATIONS` metadata KEY anywhere (a dict key, not a substring —
    a user comment merely mentioning __COLLATIONS must not trip the
    feature)."""
    if isinstance(node, dict):
        if "__COLLATIONS" in node:
            return True
        return any(_has_collations_key(v) for v in node.values())
    if isinstance(node, list):
        return any(_has_collations_key(v) for v in node)
    return False


def collated_columns(schema: T.StructType) -> set[str]:
    """Top-level columns carrying (possibly nested) non-default string
    collations (the `collations` table feature, serialized as
    `__COLLATIONS` field metadata — identically by Spark's StructType
    JSON and Delta's protocol). Stats-based file skipping must not use
    these columns: parquet footer MIN/MAX are BINARY-collation bounds,
    and pruning a `c = 'AA'` predicate on a UTF8_LCASE column with
    binary bounds over 'aa' would silently drop matching files
    (StatisticsCollection skips collated columns for the same reason)."""
    return {f.name for f in schema.fields
            if _has_collations_key(f.jsonValue())}


def nested_field_names(schema: T.StructType) -> list[str]:
    """Dotted logical paths of every struct field, nested levels
    included (SchemaMergingUtils.explodeNestedFieldNames)."""
    out: list[str] = []

    def walk(st: T.StructType, prefix: str) -> None:
        for f in st.fields:
            path = prefix + f.name
            out.append(path)
            dt = f.dataType
            if isinstance(dt, T.StructType):
                walk(dt, path + ".")
            elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
                walk(dt.elementType, path + ".element.")
            elif isinstance(dt, T.MapType):
                if isinstance(dt.keyType, T.StructType):
                    walk(dt.keyType, path + ".key.")
                if isinstance(dt.valueType, T.StructType):
                    walk(dt.valueType, path + ".value.")

    walk(schema, "")
    return out


def generation_expressions(schema: T.StructType) -> dict[str, str]:
    """column → SQL generation expression (GENERATED ALWAYS AS)."""
    out = {}
    for f in schema.fields:
        if f.metadata and GENERATION_EXPRESSION_KEY in f.metadata:
            out[f.name] = f.metadata[GENERATION_EXPRESSION_KEY]
    return out


def identity_info(schema: T.StructType) -> dict[str, dict]:
    """column → {start, step, highWaterMark, allowExplicitInsert}."""
    out = {}
    for f in schema.fields:
        md = f.metadata or {}
        if IDENTITY_START_KEY in md or IDENTITY_STEP_KEY in md:
            out[f.name] = {
                "start": int(md.get(IDENTITY_START_KEY, 1)),
                "step": int(md.get(IDENTITY_STEP_KEY, 1)),
                "highWaterMark": md.get(IDENTITY_HIGH_WATERMARK_KEY),
                "allowExplicitInsert": bool(md.get(IDENTITY_ALLOW_EXPLICIT_KEY, False)),
            }
    return out


# ------------------------------------------------------ column mapping ----
# NameMapping mode (DeltaColumnMapping.scala:107; PROTOCOL.md "Column
# Mapping"): logical names decouple from the physical Parquet column
# names via per-field schema metadata. Upgrading an existing table
# assigns physicalName = current name (no file rewrite); RENAME then
# only changes the logical name, DROP only removes the field.

def column_mapping_mode(configuration: dict) -> str:
    return (configuration or {}).get(COLUMN_MAPPING_MODE_KEY, "none")


def physical_name(field: T.StructField) -> str:
    md = field.metadata or {}
    return md.get(COLUMN_MAPPING_PHYSICAL_KEY, field.name)


def logical_to_physical(schema: T.StructType) -> dict[str, str]:
    return {f.name: physical_name(f) for f in schema.fields}


def physical_to_logical(schema: T.StructType) -> dict[str, str]:
    return {physical_name(f): f.name for f in schema.fields}


def field_id(field: T.StructField):
    """delta.columnMapping.id of a field (None when unassigned)."""
    md = field.metadata or {}
    v = md.get(COLUMN_MAPPING_ID_KEY)
    return int(v) if v is not None else None


def max_field_id(schema: T.StructType) -> int:
    """Largest delta.columnMapping.id anywhere in the schema tree —
    nested struct fields carry ids too, so seeding a new-column id
    counter from top-level ids alone could collide."""
    best = 0

    def walk(dt: T.DataType):
        nonlocal best
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                fid = field_id(f)
                if fid is not None:
                    best = max(best, fid)
                walk(f.dataType)
        elif isinstance(dt, T.ArrayType):
            walk(dt.elementType)
        elif isinstance(dt, T.MapType):
            walk(dt.keyType)
            walk(dt.valueType)

    walk(schema)
    return best


def physical_projection(df, schema):
    """Select df's columns under their PHYSICAL names — at every
    nesting level — carrying parquet.field.id metadata so files are
    written with parquet field_ids (required by IdMapping readers,
    harmless in name mode). Nested struct fields rename via a
    positional CAST to the physical shape; nested field ids are then
    re-applied with DataFrame.to() (alias metadata only reaches the
    top level). Extra (non-schema) df columns pass through untouched —
    hidden physical-only columns like materialized row ids ride
    along."""
    from pyspark.sql import functions as F

    l2p = logical_to_physical(schema)
    fids = {f.name: field_id(f) for f in schema.fields}
    phys = physical_schema(schema, with_field_ids=True)
    phys_by_name = {f.name: f for f in phys.fields}
    by_logical = {f.name: f for f in schema.fields}

    cols = []
    has_nested = False
    for c in df.columns:
        if c not in by_logical:
            cols.append(F.col(c))     # hidden physical-only passthrough
            continue
        pname = l2p.get(c, c)
        expr = F.col(c)
        if isinstance(by_logical[c].dataType,
                      (T.StructType, T.ArrayType, T.MapType)):
            has_nested = True
            expr = expr.cast(
                strip_nested_metadata_type(phys_by_name[pname].dataType))
        if fids.get(c) is not None:
            cols.append(expr.alias(pname,
                                   metadata={"parquet.field.id": fids[c]}))
        else:
            cols.append(expr.alias(pname))
    out = df.select(*cols)
    if has_nested and any(fids.get(c) is not None for c in df.columns):
        # nested parquet.field.id metadata: reconcile against the full
        # physical schema (plus any hidden passthrough columns so .to()
        # doesn't drop them). Nullability is relaxed — the rename cast
        # above made fields nullable and .to() would reject the
        # narrowing; NOT NULL enforcement is the invariant checker's
        # job, not this projection's.
        def relax(f: T.StructField) -> T.StructField:
            dt = f.dataType
            if isinstance(dt, T.StructType):
                dt = T.StructType([relax(x) for x in dt.fields])
            elif isinstance(dt, T.ArrayType):
                dt = T.ArrayType(
                    relax(T.StructField("e", dt.elementType)).dataType, True)
            elif isinstance(dt, T.MapType):
                dt = T.MapType(
                    relax(T.StructField("k", dt.keyType)).dataType,
                    relax(T.StructField("v", dt.valueType)).dataType, True)
            return T.StructField(f.name, dt, True, f.metadata)

        extra = [f for f in out.schema.fields if f.name not in phys_by_name]
        out = out.to(T.StructType([relax(f) for f in phys.fields] + extra))
    return out


def _physical_type(dt: T.DataType, with_field_ids: bool) -> T.DataType:
    """Recursive physical rename for NESTED struct fields — the
    reference assigns mapping metadata to every nested field
    (DeltaColumnMapping.assignColumnIdAndPhysicalName recurses via
    SchemaMergingUtils.transformColumns), so reference-written files
    store col-<uuid> names at every nesting level, not just the top."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            md = dict(f.metadata or {})
            fid = field_id(f)
            if with_field_ids and fid is not None:
                md["parquet.field.id"] = fid
            fields.append(T.StructField(
                physical_name(f), _physical_type(f.dataType, with_field_ids),
                f.nullable, md))
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType, with_field_ids),
                           dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_physical_type(dt.keyType, with_field_ids),
                         _physical_type(dt.valueType, with_field_ids),
                         dt.valueContainsNull)
    return dt


def physical_schema(schema: T.StructType, with_field_ids: bool = False) -> T.StructType:
    """Schema with physical field names (what Parquet files contain),
    at EVERY nesting level — struct fields inside structs, arrays and
    maps are renamed too. With `with_field_ids`, each field also
    carries `parquet.field.id` (= delta.columnMapping.id) so Spark's
    parquet reader/writer resolves columns BY ID — the IdMapping read
    contract (DeltaColumnMapping.scala:107; PROTOCOL.md column mapping:
    id-mode readers must match parquet field_ids, not names)."""
    fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        fid = field_id(f)
        if with_field_ids and fid is not None:
            md["parquet.field.id"] = fid
        fields.append(T.StructField(
            physical_name(f), _physical_type(f.dataType, with_field_ids),
            f.nullable, md))
    return T.StructType(fields)


def strip_nested_metadata_type(dt: T.DataType) -> T.DataType:
    """The same shape with no field metadata anywhere and every field
    nullable — a clean CAST target for positional physical↔logical
    renames (Spark rejects casts INTO non-nullable struct fields, and
    a rename cast can't change actual nullability anyway)."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, strip_nested_metadata_type(f.dataType),
                          True) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(strip_nested_metadata_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(strip_nested_metadata_type(dt.keyType),
                         strip_nested_metadata_type(dt.valueType), True)
    return dt


def assign_physical_names(schema: T.StructType, start_id: int = 0,
                          reuse_logical: bool = True) -> tuple[T.StructType, int]:
    """Give every field an id + physicalName (DeltaColumnMapping
    assignPhysicalNames:300). With ``reuse_logical`` (the UPGRADE path)
    existing fields keep their current name as the physical name so no
    data rewrite is needed; creation-time mapping passes False and gets
    engine-generated ``col-<uuid>`` names (generatePhysicalName:333) —
    which is what makes parquet-hostile logical names ( ,;{}()=…)
    writable under mapping."""
    import uuid as _uuid

    next_id = start_id

    def assign_type(dt: T.DataType) -> T.DataType:
        nonlocal next_id
        if isinstance(dt, T.StructType):
            out = []
            for f in dt.fields:
                md = dict(f.metadata or {})
                if COLUMN_MAPPING_PHYSICAL_KEY not in md:
                    md[COLUMN_MAPPING_PHYSICAL_KEY] = (
                        f.name if reuse_logical else f"col-{_uuid.uuid4()}")
                if COLUMN_MAPPING_ID_KEY not in md:
                    next_id += 1
                    md[COLUMN_MAPPING_ID_KEY] = next_id
                out.append(T.StructField(
                    f.name, assign_type(f.dataType), f.nullable, md))
            return T.StructType(out)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(assign_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(assign_type(dt.keyType),
                             assign_type(dt.valueType), dt.valueContainsNull)
        return dt

    # every NESTED struct field gets an id + physicalName too —
    # reference-written column-mapped tables carry mapping metadata at
    # every nesting level and their readers expect the same of ours
    return assign_type(schema), next_id


def drop_column_mapping_metadata(schema: T.StructType) -> T.StructType:
    """Strip per-field mapping metadata (physicalName / id) at every
    nesting level — DeltaColumnMapping.dropColumnMappingMetadata, used
    by RemoveColumnMappingCommand."""
    def strip_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([
                T.StructField(
                    f.name, strip_type(f.dataType), f.nullable,
                    {k: v for k, v in (f.metadata or {}).items()
                     if k not in (COLUMN_MAPPING_PHYSICAL_KEY,
                                  COLUMN_MAPPING_ID_KEY)} or None)
                for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(strip_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(strip_type(dt.keyType), strip_type(dt.valueType),
                             dt.valueContainsNull)
        return dt

    return strip_type(schema)


def with_identity_watermark(schema: T.StructType, column: str, watermark: int) -> T.StructType:
    fields = []
    for f in schema.fields:
        if f.name == column:
            md = dict(f.metadata or {})
            md[IDENTITY_HIGH_WATERMARK_KEY] = watermark
            fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
        else:
            fields.append(f)
    return T.StructType(fields)


def default_values(schema: T.StructType) -> dict[str, str]:
    """column → SQL default expression (DEFAULT columns,
    PROTOCOL.md "Default Columns")."""
    out = {}
    for f in schema.fields:
        if f.metadata and DEFAULT_VALUE_KEY in f.metadata:
            out[f.name] = f.metadata[DEFAULT_VALUE_KEY]
    return out

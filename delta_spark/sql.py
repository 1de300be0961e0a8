"""Delta SQL statement dispatcher.

The reference extends Spark's parser via ANTLR
(spark/src/main/antlr4/io/delta/sql/parser/DeltaSqlBase.g4:74-107);
from Python we cannot inject a parser, so the Delta-specific verbs are
matched with anchored regexes against `delta.`<path>`` table refs and
routed to the command implementations; anything else falls through to
``spark.sql`` untouched. DML on delta tables (DELETE/UPDATE) is also
handled here since Spark's analyzer can't resolve our tables.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import SparkSession

from delta_spark.table import DeltaTable

_PATH = r"delta\.`(?P<path>[^`]+)`|'(?P<qpath>[^']+)'|\"(?P<dpath>[^\"]+)\""
# Dotted column path honoring backtick quoting: dots inside backticks
# are part of a single name (`a.b` is ONE column; nested paths are
# written `a`.`b` or unquoted a.b — Spark SQL identifier semantics).
# Quotes are KEPT in the capture; util.split_column_path resolves them.
_COLPATH = r"(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))*"


def _path_of(m: re.Match) -> str:
    return m.group("path") or m.group("qpath") or m.group("dpath")


def _sql_with_delta_views(spark: SparkSession, q: str):
    """Run a user query that may reference delta.`path` relations:
    register one temp view PER DISTINCT path (a self-join of two
    different tables must not collapse into one) and rewrite the
    references — lets INSERT ... SELECT, CTAS bodies, and MERGE USING
    subqueries read delta tables by path. String literals are left
    untouched (a quoted 'delta.`x`' is data, not a relation)."""
    from delta_spark.predicates import _STRING_LIT_RE

    # split into literal / non-literal segments; only rewrite outside
    segs, last = [], 0
    for m in _STRING_LIT_RE.finditer(q):
        segs.append((False, q[last:m.start()]))
        segs.append((True, m.group(0)))
        last = m.end()
    segs.append((False, q[last:]))
    pat = re.compile(r"(?is)delta\.`([^`]+)`")
    paths = list(dict.fromkeys(
        p for lit, seg in segs if not lit for p in pat.findall(seg)))
    if not paths:
        return spark.sql(q)
    views = {}
    for i, p in enumerate(paths):
        name = f"__delta_q{i}"
        DeltaTable.forPath(spark, p).toDF().createOrReplaceTempView(name)
        views[p] = name
    rewritten = "".join(
        seg if lit else pat.sub(lambda mm: views[mm.group(1)], seg)
        for lit, seg in segs)
    return spark.sql(rewritten)


def delta_sql(spark: SparkSession, statement: str) -> Any:
    """Execute one statement; Delta verbs handled natively, everything
    else → spark.sql. Registered table names (catalog.py) are rewritten
    to their delta.`path` form first, so every verb — and plain SELECT —
    works against named tables; unregistered names fall through to
    spark.sql untouched."""
    from delta_spark import catalog as C

    s = statement.strip().rstrip(";")

    # DROP TABLE on a registered name (DeltaCatalog.dropTable): managed
    # tables lose their data, external ones keep it
    m = re.fullmatch(r"(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?"
                     r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)?)\s*", s)
    if m and C.resolve(spark, m.group("name")) is not None:
        dropped = C.drop_table(spark, m.group("name"))
        return spark.createDataFrame([(dropped,)], "dropped: boolean")

    # ALTER TABLE <name> SET LOCATION: re-point the catalog entry
    m = re.fullmatch(r"(?is)\s*ALTER\s+TABLE\s+"
                     r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)?)\s+"
                     r"SET\s+LOCATION\s+'(?P<loc>[^']+)'\s*", s)
    if m and C.resolve(spark, m.group("name")) is not None:
        C.register_table(spark, m.group("name"), m.group("loc"))
        return spark.createDataFrame([(m.group("loc"),)], "location: string")

    # SHOW TABLES [IN db] over the delta catalog — only when the delta
    # catalog has matching entries; otherwise fall through to Spark's
    # own catalog so temp views / hive tables keep showing up
    m = re.fullmatch(r"(?is)\s*SHOW\s+TABLES(?:\s+IN\s+(?P<db>[A-Za-z_][\w]*))?\s*", s)
    if m:
        rows = [(n.split(".", 1)[0], n.split(".", 1)[1], p)
                for n, p in sorted(C.catalog_map(spark).items())]
        if m.group("db"):
            rows = [r for r in rows if r[0] == m.group("db").lower()]
        if rows:
            return spark.createDataFrame(
                rows, "database: string, tableName: string, location: string")
        return spark.sql(s)

    # CREATE TABLE <name> AS SELECT on an UNregistered name: create a
    # managed delta table in the warehouse and register it
    m = re.fullmatch(r"(?is)\s*CREATE\s+(?P<repl>OR\s+REPLACE\s+)?TABLE\s+"
                     r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)?)"
                     r"(?:\s+USING\s+delta)?\s+AS\s+(?P<q>(?:SELECT|WITH)\s.+)", s)
    if m and C.resolve(spark, m.group("name")) is None:
        df = _sql_with_delta_views(spark, m.group("q"))
        v = C.save_as_table(df, m.group("name"),
                            mode="overwrite" if m.group("repl") else "error")
        return spark.createDataFrame([(v if v is not None else -1,)], "version: long")

    s = C.substitute_names(spark, s)

    m = re.fullmatch(rf"(?is)\s*VACUUM\s+(?:{_PATH})(?P<lite>\s+LITE|\s+FULL)?"
                     rf"(?:\s+USING\s+INVENTORY\s+delta\.`(?P<inv>[^`]+)`)?"
                     rf"(?:\s+RETAIN\s+(?P<hours>[\d.]+)\s+HOURS)?"
                     rf"(?P<dry>\s+DRY\s+RUN)?\s*", s)
    if m:
        dt = DeltaTable.forPath(spark, _path_of(m))
        hours = float(m.group("hours")) if m.group("hours") else None
        lite = (m.group("lite") or "").strip().upper() == "LITE"
        if lite and m.group("inv"):
            raise ValueError(
                "VACUUM LITE reclaims from log tombstones and cannot be "
                "scoped by USING INVENTORY (VacuumCommand: the modifiers "
                "are mutually exclusive)")
        if lite:
            from delta_spark.commands.maintenance import vacuum_lite
            from delta_spark.log import DeltaLog as _DL

            paths = vacuum_lite(spark, _DL.for_table(_path_of(m)),
                                retention_hours=hours,
                                dry_run=bool(m.group("dry")))
        else:
            inv = (DeltaTable.forPath(spark, m.group("inv")).toDF()
                   if m.group("inv") else None)
            paths = dt.vacuum(hours, dry_run=bool(m.group("dry")),
                              inventory=inv)
        return spark.createDataFrame([(p,) for p in paths] or [], "path: string")

    m = re.fullmatch(rf"(?is)\s*OPTIMIZE\s+(?:{_PATH})(?P<full>\s+FULL)?"
                     rf"(?:\s+WHERE\s+(?P<where>.+?))?"
                     rf"(?:\s+ZORDER\s+BY\s+\((?P<zcols>[^)]+)\))?\s*", s)
    if m:
        dt = DeltaTable.forPath(spark, _path_of(m))
        b = dt.optimize()
        if m.group("where"):
            b = b.where(m.group("where").strip())
        if m.group("zcols"):
            cols = [c.strip().strip("`") for c in m.group("zcols").split(",")]
            res = b.executeZOrderBy(*cols)
        elif m.group("full"):
            res = b.executeFull()
        else:
            res = b.executeCompaction()
        return spark.createDataFrame([(str(res),)], "metrics: string")

    m = re.fullmatch(rf"(?is)\s*DESCRIBE\s+HISTORY\s+(?:{_PATH})(?:\s+LIMIT\s+(?P<limit>\d+))?\s*", s)
    if m:
        dt = DeltaTable.forPath(spark, _path_of(m))
        return dt.history(int(m.group("limit")) if m.group("limit") else None)

    m = re.fullmatch(rf"(?is)\s*DESCRIBE\s+DETAIL\s+(?:{_PATH})\s*", s)
    if m:
        return DeltaTable.forPath(spark, _path_of(m)).detail()

    m = re.fullmatch(rf"(?is)\s*RESTORE\s+(?:TABLE\s+)?(?:{_PATH})\s+TO\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)\s*", s)
    if m:
        res = DeltaTable.forPath(spark, _path_of(m)).restoreToVersion(int(m.group("v")))
        return spark.createDataFrame([(str(res),)], "metrics: string")

    m = re.fullmatch(rf"(?is)\s*RESTORE\s+(?:TABLE\s+)?(?:{_PATH})\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'\s*", s)
    if m:
        res = DeltaTable.forPath(spark, _path_of(m)).restoreToTimestamp(m.group("ts"))
        return spark.createDataFrame([(str(res),)], "metrics: string")

    m = re.fullmatch(rf"(?is)\s*REORG\s+TABLE\s+(?:{_PATH})\s+APPLY\s*\(\s*PURGE\s*\)\s*", s)
    if m:
        res = DeltaTable.forPath(spark, _path_of(m)).reorgPurge()
        return spark.createDataFrame([(str(res),)], "metrics: string")

    m = re.fullmatch(rf"(?is)\s*REORG\s+TABLE\s+(?:{_PATH})\s+APPLY\s*\(\s*UPGRADE\s+"
                     rf"UNIFORM\s*\(\s*ICEBERG_COMPAT_VERSION\s*=\s*(?P<v>\d+)\s*\)\s*\)\s*", s)
    if m:
        res = DeltaTable.forPath(spark, _path_of(m)) \
            .upgradeUniform(int(m.group("v")))
        return spark.createDataFrame([(str(res),)], "metrics: string")

    m = re.fullmatch(rf"(?is)\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?|REPLACE\s+)TABLE\s+"
                     rf"delta\.`(?P<dst>[^`]+)`\s+SHALLOW\s+CLONE\s+"
                     rf"(?:{_PATH})(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)"
                     rf"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')?"
                     rf"(?:\s+TBLPROPERTIES\s*\((?P<props>[^)]*)\))?\s*", s)
    if m:
        src = DeltaTable.forPath(spark, _path_of(m))
        version = int(m.group("v")) if m.group("v") else None
        if m.group("ts"):
            from delta_spark.util import to_millis

            version = src.log.version_for_time_travel(to_millis(m.group("ts")))
        props = None
        if m.group("props"):
            props = {}
            for part in _split_top_level(m.group("props")):
                k, v = part.split("=", 1)
                props[k.strip().strip("'\"` ")] = v.strip().strip("'\"` ")
        replace = bool(re.match(r"(?is)\s*(CREATE\s+OR\s+REPLACE|REPLACE)\b", s))
        src.clone(m.group("dst"), isShallow=True, version=version,
                  replace=replace, properties=props)
        return spark.createDataFrame([(m.group("dst"),)], "path: string")

    # ------------------------------------------------ ALTER TABLE verbs ----
    m = re.fullmatch(rf"(?is)\s*ALTER\s+TABLE\s+(?:{_PATH})\s+(?P<rest>.+?)\s*", s)
    if m:
        dt = DeltaTable.forPath(spark, _path_of(m))
        rest = m.group("rest").strip()

        am = re.fullmatch(r"(?is)ADD\s+COLUMNS?\s*\((?P<cols>.+)\)", rest)
        if am:
            from pyspark.sql import types as T

            fields, positions = [], []
            for part in _split_top_level(am.group("cols"), angles=True):
                cm = re.match(
                    rf"(?is)^\s*(?P<n>{_COLPATH})\s+(?P<t>.+?)"
                    r"(?:\s+(?P<nn>NOT\s+NULL))?"
                    r"(?:\s+COMMENT\s+'(?P<cmt>(?:[^']|'')*)')?"
                    rf"(?:\s+(?P<first>FIRST)|\s+AFTER\s+(?P<after>{_COLPATH}))?\s*$",
                    part)
                if cm is None:
                    raise ValueError(f"cannot parse column spec: {part.strip()!r}")
                md = ({"comment": cm.group("cmt").replace("''", "'")}
                      if cm.group("cmt") else None)
                fields.append(T.StructField(
                    cm.group("n"), T._parse_datatype_string(cm.group("t")),
                    nullable=not cm.group("nn"), metadata=md))
                positions.append(
                    "first" if cm.group("first")
                    else ("after", cm.group("after")) if cm.group("after")
                    else None)
            return dt.addColumns(fields, positions)

        am = re.fullmatch(r"(?is)REPLACE\s+COLUMNS?\s*\((?P<cols>.+)\)", rest)
        if am:
            from pyspark.sql import types as T

            fields = []
            for part in _split_top_level(am.group("cols"), angles=True):
                cm = re.match(
                    r"(?is)^\s*`?(?P<n>\w+)`?\s+(?P<t>.+?)"
                    r"(?:\s+(?P<nn>NOT\s+NULL))?"
                    r"(?:\s+COMMENT\s+'(?P<cm>[^']*)')?\s*$", part)
                if cm is None:
                    raise ValueError(f"cannot parse column spec: {part.strip()!r}")
                md = {"comment": cm.group("cm")} if cm.group("cm") else {}
                fields.append(T.StructField(
                    cm.group("n"), T._parse_datatype_string(cm.group("t")),
                    nullable=not cm.group("nn"), metadata=md))
            return dt.replaceColumns(fields)

        am = re.fullmatch(rf"(?is)RENAME\s+COLUMN\s+(?P<a>{_COLPATH})\s+TO\s+(?P<b>{_COLPATH})", rest)
        if am:
            return dt.renameColumn(am.group("a"), am.group("b"))

        am = re.fullmatch(rf"(?is)DROP\s+COLUMN\s+(?P<c>{_COLPATH})", rest)
        if am:
            return dt.dropColumn(am.group("c"))

        am = re.fullmatch(r"(?is)(?:ALTER|CHANGE)\s+COLUMN\s+`?(?P<c>\w+)`?\s+TYPE\s+(?P<t>.+)", rest)
        if am:
            return dt.changeColumnType(am.group("c"), am.group("t").strip())

        am = re.fullmatch(r"(?is)(?:ALTER|CHANGE)\s+COLUMN\s+`?(?P<c>\w+)`?\s+"
                          r"(?P<drop>DROP)?\s*(?:SET\s+)?NOT\s+NULL", rest)
        if am:
            return dt.setColumnNullability(am.group("c"), bool(am.group("drop")))

        am = re.fullmatch(r"(?is)(?:ALTER|CHANGE)\s+COLUMN\s+`?(?P<c>\w+)`?\s+"
                          r"SET\s+DEFAULT\s+(?P<e>.+)", rest)
        if am:
            return dt.setColumnDefault(am.group("c"), am.group("e").strip())

        am = re.fullmatch(r"(?is)(?:ALTER|CHANGE)\s+COLUMN\s+`?(?P<c>\w+)`?\s+"
                          r"DROP\s+DEFAULT", rest)
        if am:
            return dt.dropColumnDefault(am.group("c"))

        am = re.fullmatch(r"(?is)(?:ALTER|CHANGE)\s+COLUMN\s+`?(?P<c>\w+)`?\s+"
                          r"COMMENT\s+'(?P<t>[^']*)'", rest)
        if am:
            return dt.setColumnComment(am.group("c"), am.group("t"))

        am = re.fullmatch(r"(?is)(?:ALTER|CHANGE)\s+COLUMN\s+`?(?P<c>\w+)`?\s+"
                          r"(?:(?P<first>FIRST)|AFTER\s+`?(?P<after>\w+)`?)", rest)
        if am:
            return dt.moveColumn(am.group("c"),
                                 "first" if am.group("first")
                                 else ("after", am.group("after")))

        am = re.fullmatch(r"(?is)SET\s+TBLPROPERTIES\s*\((?P<kv>.+)\)", rest)
        if am:
            props = {}
            for part in _split_top_level(am.group("kv")):
                k, v = part.split("=", 1)
                props[k.strip().strip("'\"` ")] = v.strip().strip("'\"` ")
            return dt.setProperties(props)

        am = re.fullmatch(r"(?is)UNSET\s+TBLPROPERTIES\s*\((?P<ks>.+)\)", rest)
        if am:
            return dt.unsetProperties(
                [k.strip().strip("'\"` ") for k in
                 _split_top_level(am.group("ks"))])

        am = re.fullmatch(r"(?is)ADD\s+CONSTRAINT\s+`?(?P<n>\w+)`?\s+CHECK\s*\((?P<e>.+)\)", rest)
        if am:
            return dt.addCheckConstraint(am.group("n"), am.group("e"))

        am = re.fullmatch(r"(?is)DROP\s+CONSTRAINT\s+`?(?P<n>\w+)`?", rest)
        if am:
            return dt.dropCheckConstraint(am.group("n"))

        am = re.fullmatch(r"(?is)SYNC\s+IDENTITY", rest)
        if am:
            return dt.syncIdentity()
        am = re.fullmatch(r"(?is)CLUSTER\s+BY\s+NONE", rest)
        if am:
            return dt.alterClusterBy(None)
        am = re.fullmatch(r"(?is)CLUSTER\s+BY\s*\((?P<cols>[^)]+)\)", rest)
        if am:
            cols = [c.strip().strip("`") for c in am.group("cols").split(",")]
            return dt.alterClusterBy(cols)
        am = re.fullmatch(r"(?is)DROP\s+FEATURE\s+`?(?P<f>\w+)`?(?P<tr>\s+TRUNCATE\s+HISTORY)?", rest)
        if am:
            return dt.dropFeature(am.group("f"),
                                  truncate_history=bool(am.group("tr")))

        raise ValueError(f"unsupported ALTER TABLE clause: {rest!r}")

    m = re.fullmatch(rf"(?is)\s*DELETE\s+FROM\s+(?:{_PATH})(?:\s+WHERE\s+(?P<where>.+?))?\s*", s)
    if m:
        v = DeltaTable.forPath(spark, _path_of(m)).delete(m.group("where"))
        return spark.createDataFrame([(v,)], "version: long")

    m = re.fullmatch(rf"(?is)\s*UPDATE\s+(?:{_PATH})\s+SET\s+(?P<sets>.+?)(?:\s+WHERE\s+(?P<where>.+?))?\s*", s)
    if m:
        # keep backticks intact: update.resolve_set_exprs parses
        # quoted/dotted identifiers itself (stripping here mangles
        # `a`.`b` into one bogus identifier)
        sets = _parse_set_list(m.group("sets"))
        ver = DeltaTable.forPath(spark, _path_of(m)).update(sets, m.group("where"))
        return spark.createDataFrame([(ver,)], "version: long")

    m = re.match(rf"(?is)\s*MERGE\s+INTO\s+(?:{_PATH})(?:\s+AS)?\s+(?P<talias>\w+)\s+"
                 rf"USING\s+(?P<src>\((?:[^()]|\([^()]*\))*\)|delta\.`[^`]+`|[\w.]+)(?:\s+AS)?\s+(?P<salias>\w+)\s+"
                 rf"ON\s+(?P<on>.+?)\s+(?P<clauses>WHEN\s.+)$", s)
    if m:
        dt = DeltaTable.forPath(spark, _path_of(m))
        src_sql = m.group("src")
        if src_sql.startswith("("):
            # subquery source — may itself read delta.`path` relations
            source = _sql_with_delta_views(spark, src_sql[1:-1])
        elif src_sql.lower().startswith("delta.`"):
            source = DeltaTable.forPath(
                spark, src_sql[len("delta.`"):-1]).toDF()
        else:
            source = spark.table(src_sql)
        b = dt.merge(source, m.group("on"),
                     source_alias=m.group("salias"), target_alias=m.group("talias"))
        _apply_merge_clauses(b, m.group("clauses"))
        v = b.execute()
        return spark.createDataFrame([(v,)], "version: long")

    m = re.fullmatch(rf"(?is)\s*TRUNCATE\s+TABLE\s+(?:{_PATH})\s*", s)
    if m:
        v = DeltaTable.forPath(spark, _path_of(m)).truncate()
        return spark.createDataFrame([(v,)], "version: long")

    m = re.fullmatch(rf"(?is)\s*COMMENT\s+ON\s+TABLE\s+(?:{_PATH})\s+IS\s+"
                     r"(?:'(?P<c>(?:[^']|'')*)'|(?P<null>NULL))\s*", s)
    if m:
        v = DeltaTable.forPath(spark, _path_of(m)).setTableComment(
            None if m.group("null") else m.group("c").replace("''", "'"))
        return spark.createDataFrame([(v,)], "version: long")

    m = re.fullmatch(rf"(?is)\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+(?:{_PATH})\s*", s)
    if m:
        p = DeltaTable.forPath(spark, _path_of(m)).generate()
        return spark.createDataFrame([(p,)], "path: string")

    m = re.fullmatch(rf"(?is)\s*CONVERT\s+TO\s+DELTA\s+iceberg\.`(?P<ice>[^`]+)`\s*", s)
    if m:
        from delta_spark.uniform import convert_iceberg_to_delta

        convert_iceberg_to_delta(spark, m.group("ice"))
        return spark.createDataFrame([(True,)], "converted: boolean")

    m = re.fullmatch(rf"(?is)\s*CONVERT\s+TO\s+DELTA\s+"
                     rf"(?:(?P<ppath>parquet\.`[^`]+`)|(?:{_PATH}))"
                     rf"(?P<nostats>\s+NO\s+STATISTICS)?"
                     rf"(?:\s+PARTITIONED\s+BY\s+\((?P<pcols>[^)]+)\))?\s*", s)
    if m:
        src = m.group("ppath") or _path_of(m)
        DeltaTable.convertToDelta(spark, src, m.group("pcols"),
                                  collect_stats=not m.group("nostats"))
        return spark.createDataFrame([(True,)], "converted: boolean")

    m = re.fullmatch(rf"(?is)\s*SHOW\s+PARTITIONS\s+(?:{_PATH})\s*", s)
    if m:
        return DeltaTable.forPath(spark, _path_of(m)).show_partitions()

    m = re.fullmatch(rf"(?is)\s*SHOW\s+COLUMNS\s+(?:IN|FROM)\s+(?:{_PATH})\s*", s)
    if m:
        snap = DeltaTable.forPath(spark, _path_of(m)).log.update()
        return spark.createDataFrame(
            [(f.name,) for f in snap.schema.fields], "col_name: string")

    m = re.fullmatch(rf"(?is)\s*SHOW\s+TBLPROPERTIES\s+(?:{_PATH})"
                     rf"(?:\s*\(\s*'?(?P<key>[^')]+?)'?\s*\))?\s*", s)
    if m:
        cfg = DeltaTable.forPath(spark, _path_of(m)).log.update().configuration
        if m.group("key"):
            k = m.group("key")
            rows = [(k, cfg[k])] if k in cfg else []
        else:
            rows = sorted(cfg.items())
        return spark.createDataFrame(rows or [("", "")],
                                     "key: string, value: string") \
            .filter("key <> '' OR value <> ''")

    m = re.fullmatch(rf"(?is)\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?:{_PATH})\s*"
                     rf"(?:\(\s*(?P<cols>[^)]+?)\s*\)\s*)?"
                     rf"(?:PARTITION\s*\((?P<pspec>[^)]*)\)\s+)?"
                     rf"(?:REPLACE\s+WHERE\s+(?P<rw>.+?)\s+"
                     rf"(?=SELECT\s|VALUES\s|WITH\s))?"
                     rf"(?P<q>(?:SELECT|VALUES|WITH)\s.+)", s)
    if m:
        from pyspark.sql import functions as F

        from delta_spark.io import write_delta
        from delta_spark.util import schema_from_json

        df = _sql_with_delta_views(spark, m.group("q"))
        tgt_schema = schema_from_json(
            DeltaTable.forPath(spark, _path_of(m)).log.update()
            .metadata.schemaString)
        if m.group("cols"):
            # INSERT INTO t (c1, c2): rename positionally to the listed
            # columns, then NULL-fill the remaining plain columns
            # (generated/identity/default ones stay absent so the write
            # path computes them)
            names = [c.strip().strip("`") for c in m.group("cols").split(",")]
            if len(names) != len(df.columns):
                raise ValueError(
                    f"INSERT column list has {len(names)} columns but the "
                    f"query produces {len(df.columns)}")
            df = df.toDF(*names)
            from delta_spark.schema import (
                default_values,
                generation_expressions,
                identity_info,
            )

            special = (set(default_values(tgt_schema))
                       | set(generation_expressions(tgt_schema))
                       | set(identity_info(tgt_schema)))
            for fl in tgt_schema.fields:
                if fl.name not in df.columns and fl.name not in special:
                    df = df.withColumn(fl.name,
                                       F.lit(None).cast(fl.dataType))
        elif len(df.columns) == len(tgt_schema.fields):
            # bare INSERT resolves BY POSITION, always — the ANSI rule
            # the reference follows (DeltaAnalysis INSERT resolution):
            # INSERT INTO t SELECT b, a FROM s writes b→col1, a→col2
            # even when the names also exist in the target
            df = df.toDF(*[f.name for f in tgt_schema.fields])
        overwrite = m.group("mode").upper() == "OVERWRITE"
        replace_where = None
        if m.group("rw"):
            # INSERT INTO t REPLACE WHERE cond SELECT ... — an
            # overwrite scoped to the predicate (DeltaSuite
            # "replaceWhere SQL", DeltaSqlParser REPLACE WHERE)
            overwrite = True
            replace_where = m.group("rw").strip()
        if m.group("pspec"):
            # static PARTITION (c=v, ...) spec: attach the partition
            # literals; an OVERWRITE scoped to the spec becomes a
            # replaceWhere on those values (WriteIntoDelta semantics)
            conds = []
            for part in m.group("pspec").split(","):
                if "=" not in part:
                    continue  # dynamic partition column: value in SELECT
                c, v = part.split("=", 1)
                c, v = c.strip().strip("`"), v.strip()
                df = df.withColumn(c, F.expr(v))
                conds.append(f"{c} = {v}")
            if overwrite and conds:
                replace_where = " AND ".join(conds)
        v = write_delta(df, _path_of(m),
                        mode="overwrite" if overwrite else "append",
                        replace_where=replace_where)
        return spark.createDataFrame([(v,)], "version: long")

    # CREATE TABLE with explicit column definitions (DDL, no AS SELECT):
    # route through the builder (CreateDeltaTableCommand equivalent)
    m = re.fullmatch(rf"(?is)\s*CREATE\s+(?P<repl>OR\s+REPLACE\s+)?TABLE\s+"
                     rf"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?:{_PATH})\s*"
                     rf"\(\s*(?P<cols>.+?)\s*\)\s*(?:USING\s+delta\s*)?"
                     rf"(?:PARTITIONED\s+BY\s*\(\s*(?P<pcols>[^)]+)\s*\)\s*)?"
                     rf"(?:TBLPROPERTIES\s*\((?P<props>[^)]*)\)\s*)?", s)
    if m:
        if m.group("repl"):
            b = DeltaTable.createOrReplace(spark)
        elif m.group("ine"):
            b = DeltaTable.createIfNotExists(spark)
        else:
            b = DeltaTable.create(spark)
        b = b.location(_path_of(m))
        for part in _split_top_level(m.group("cols"), angles=True):
            cm = re.fullmatch(
                r"(?is)\s*`?(?P<n>\w+)`?\s+(?P<t>.+?)"
                r"(?P<nn>\s+NOT\s+NULL)?"
                r"(?:\s+GENERATED\s+(?P<gkind>ALWAYS|BY\s+DEFAULT)\s+AS\s+"
                r"(?:(?P<ident>IDENTITY)"
                r"(?:\s*\(\s*(?:START\s+WITH\s+(?P<start>-?\d+)\s*)?"
                r"(?:,?\s*INCREMENT\s+BY\s+(?P<step>-?\d+)\s*)?\))?"
                r"|\(\s*(?P<gexpr>.+?)\s*\)))?"
                r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?"
                r"(?:\s+COMMENT\s+'(?P<cmt>(?:[^']|'')*)')?"
                r"\s*", part)
            if not cm:
                raise ValueError(f"cannot parse column definition {part!r}")
            gen_always, gen_default = None, None
            if cm.group("ident"):
                from delta_spark.table import IdentityGenerator

                ig = IdentityGenerator(
                    start=int(cm.group("start") or 1),
                    step=int(cm.group("step") or 1))
                if cm.group("gkind").upper() == "ALWAYS":
                    gen_always = ig
                else:
                    gen_default = ig
            elif cm.group("gexpr"):
                if cm.group("gkind").upper() != "ALWAYS":
                    # the grammar only permits BY DEFAULT for IDENTITY
                    raise ValueError(
                        f"GENERATED BY DEFAULT is only supported for "
                        f"IDENTITY columns (column {cm.group('n')})")
                gen_always = cm.group("gexpr")
            b = b.addColumn(
                cm.group("n"), cm.group("t").strip(),
                nullable=not cm.group("nn"),
                generatedAlwaysAs=gen_always,
                generatedByDefaultAs=gen_default,
                default=cm.group("dflt"),
                comment=(cm.group("cmt").replace("''", "'")
                         if cm.group("cmt") else None))
        if m.group("pcols"):
            b = b.partitionedBy(*[c.strip().strip("`")
                                  for c in m.group("pcols").split(",")])
        if m.group("props"):
            for part in _split_top_level(m.group("props")):
                k, v = part.split("=", 1)
                b = b.property(k.strip().strip("'\"` "),
                               v.strip().strip("'\"` "))
        b.execute()
        return spark.createDataFrame([(_path_of(m),)], "path: string")

    m = re.fullmatch(rf"(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+(?:{_PATH})"
                     rf"(?:\s+USING\s+delta)?\s+AS\s+(?P<q>(?:SELECT|WITH)\s.+)", s)
    if m:
        from delta_spark.io import write_delta

        df = _sql_with_delta_views(spark, m.group("q"))
        replace = "REPLACE" in s.upper().split("TABLE")[0]
        # RTAS replaces the SCHEMA too (CreateDeltaTableCommand
        # ReplaceTableAsSelect), not just the data
        v = write_delta(df, _path_of(m), mode="overwrite" if replace else "error",
                        overwrite_schema=replace)
        return spark.createDataFrame([(v if v is not None else -1,)], "version: long")

    m = re.fullmatch(rf"(?is)\s*SELECT\s+.+?\s+FROM\s+delta\.`(?P<path>[^`]+)`"
                     rf"\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
                     rf"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')\s*(?P<rest>.*)", s)
    if m:
        dt = DeltaTable.forPath(spark, m.group("path"))
        df = (dt.asOfVersion(int(m.group("v"))) if m.group("v") is not None
              else dt.asOfTimestamp(m.group("ts")))
        df.createOrReplaceTempView("__delta_tt")
        rewritten = re.sub(
            r"delta\.`[^`]+`\s+(?:VERSION\s+AS\s+OF\s+\d+"
            r"|TIMESTAMP\s+AS\s+OF\s+'[^']*')",
            "__delta_tt", s, flags=re.IGNORECASE)
        return spark.sql(rewritten)

    # table_changes TVF (DeltaTableValueFunctions.scala:47):
    # SELECT ... FROM table_changes_by_path('path', start [, end])
    m = re.search(r"(?is)table_changes(?:_by_path)?\s*\(\s*'(?P<path>[^']+)'\s*,\s*"
                  r"(?P<start>\d+)(?:\s*,\s*(?P<end>\d+))?\s*\)", s)
    if m:
        # table_changes('name', ...) resolves registered names too
        # (the reference's table_changes takes a table NAME; the
        # _by_path spelling takes a path)
        ref = m.group("path")
        resolved = C.resolve(spark, ref) if "/" not in ref else None
        dt = DeltaTable.forPath(spark, resolved or ref)
        ch = dt.table_changes(
            starting_version=int(m.group("start")),
            ending_version=int(m.group("end")) if m.group("end") else None)
        ch.createOrReplaceTempView("__delta_changes")
        rewritten = re.sub(r"(?is)table_changes(?:_by_path)?\s*\([^)]*\)",
                           "__delta_changes", s)
        return spark.sql(rewritten)

    # plain SELECT over delta paths: one temp view PER DISTINCT path
    # (a self-join of two different tables must not collapse into one)
    paths = list(dict.fromkeys(re.findall(r"(?is)delta\.`([^`]+)`", s)))
    if paths:
        views = {}
        for i, p in enumerate(paths):
            name = f"__delta_t{i}" if len(paths) > 1 else "__delta_t"
            DeltaTable.forPath(spark, p).toDF().createOrReplaceTempView(name)
            views[p] = name
        return spark.sql(re.sub(
            r"(?is)delta\.`([^`]+)`", lambda mm: views[mm.group(1)], s))

    return spark.sql(s)


def _apply_merge_clauses(builder, clauses_sql: str) -> None:
    """Parse the WHEN ... THEN ... clause list of an ANSI MERGE
    (grammar mirror of deltaMerge.scala's clause surface)."""
    parts = re.split(r"(?i)\bWHEN\b", clauses_sql)
    for part in parts:
        part = part.strip().rstrip(";").strip()
        if not part:
            continue
        m = re.match(r"(?is)^(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED(?:\s+BY\s+TARGET)?|MATCHED)"
                     r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+(?P<act>.+)$", part)
        if not m:
            raise ValueError(f"cannot parse MERGE clause: WHEN {part[:80]}")
        kind = re.sub(r"\s+", " ", m.group(1).upper())
        cond = m.group("cond")
        act = m.group("act").strip()
        au = act.upper()
        if kind == "MATCHED":
            if au.startswith("DELETE"):
                builder.whenMatchedDelete(cond)
            elif re.match(r"UPDATE\s+SET\s+\*", au):
                builder.whenMatchedUpdateAll(cond)
            elif au.startswith("UPDATE"):
                sets = _parse_set_list(re.sub(r"(?is)^UPDATE\s+SET\s+", "", act))
                builder.whenMatchedUpdate(sets, cond)
            else:
                raise ValueError(f"unsupported MATCHED action: {act[:50]}")
        elif kind in ("NOT MATCHED", "NOT MATCHED BY TARGET"):
            if re.match(r"INSERT\s+\*", au):
                builder.whenNotMatchedInsertAll(cond)
            else:
                mi = re.match(r"(?is)^INSERT\s*\((?P<cols>[^)]+)\)\s*VALUES\s*\((?P<vals>.+)\)\s*$", act)
                if not mi:
                    raise ValueError(f"unsupported NOT MATCHED action: {act[:50]}")
                cols = [c.strip().strip("`") for c in mi.group("cols").split(",")]
                vals = _split_top_level(mi.group("vals"))
                builder.whenNotMatchedInsert(dict(zip(cols, [v.strip() for v in vals])), cond)
        else:  # NOT MATCHED BY SOURCE
            if au.startswith("DELETE"):
                builder.whenNotMatchedBySourceDelete(cond)
            elif au.startswith("UPDATE"):
                sets = _parse_set_list(re.sub(r"(?is)^UPDATE\s+SET\s+", "", act))
                builder.whenNotMatchedBySourceUpdate(sets, cond)
            else:
                raise ValueError(f"unsupported NOT MATCHED BY SOURCE action: {act[:50]}")


def _parse_set_list(s: str) -> dict[str, str]:
    out = {}
    for part in _split_top_level(s):
        k, v = part.split("=", 1)
        # keep backticks: the DML resolvers parse quoted/dotted
        # identifiers themselves (update.resolve_set_exprs)
        out[k.strip()] = v.strip()
    return out


def _split_top_level(s: str, angles: bool = False) -> list[str]:
    """Split on commas not inside parens/quotes (SET a=1, b=f(x,y)).
    With ``angles``, also skip commas inside <...> — needed for column
    DEFINITION lists where STRUCT<a: INT, b: STRING> types appear (off
    by default: '<' is a comparison operator everywhere else)."""
    out, depth, adepth, cur, q = [], 0, 0, [], None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif angles and ch == "<":
            adepth += 1
            cur.append(ch)
        elif angles and ch == ">":
            adepth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0 and adepth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out

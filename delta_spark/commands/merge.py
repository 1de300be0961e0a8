"""MERGE INTO (reference: catalyst plan nodes deltaMerge.scala:123-311,
two-phase execution ClassicMergeExecutor.scala:37-63, insert-only fast
path InsertOnlyMergeExecutor.scala:59, duplicate-match detection
MergeIntoCommandBase.scala, source materialization
MergeIntoMaterializeSource.scala).

Full ANSI clause surface:
  WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
  WHEN NOT MATCHED [AND cond] THEN INSERT ...
  WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE
Clauses of a category evaluate in declaration order, first match wins
(deltaMerge semantics).

Execution (Spark-first):
  0. source is materialized via localCheckpoint() ONLY when its plan
     could re-execute differently (nondeterministic expressions, RDD
     backing, unordered limits...), so the two phases see identical
     rows (MergeIntoMaterializeSource.scala:267 shouldMaterializeSource
     contract); deterministic file-based sources are read as-is.
  1. insert-only merges: LEFT ANTI join source→target, append
     (no target files rewritten).
  2. otherwise phase 1: INNER join target(+input_file_name)⇄source on
     the merge condition → distinct touched files + per-target-row
     match counts (duplicate-match error) in ONE distributed job.
     phase 2: FULL OUTER (or LEFT OUTER when no insert clause) join of
     ONLY the touched files' rows against the source, with a
     first-matching-clause CASE projection per output column; rows
     from untouched files are never read or written.
Row metrics: a copy-on-write merge collects them with df.observe() —
zero extra passes; a DV merge aggregates its cached changed rows.
"""

from __future__ import annotations

import json
import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from delta_spark.commands.delete import cdf_enabled, match_files_by_name
from delta_spark.commands.update import resolve_set_exprs, set_target_parts
from delta_spark.log import DeltaLog
from delta_spark.reader import read_files_df
from delta_spark.schema import (default_values, quote_ident,
                                relax_nullability, sql_fragment, sql_type)
from delta_spark.stats import DEFAULT_NUM_INDEXED_COLS
from delta_spark.transaction import OptimisticTransaction, dml_transaction
from delta_spark.writer import write_cdc_files, write_table_files


class MergeError(Exception):
    pass


def _sqlify(x):
    """Column → SQL text (reference API accepts Column or str)."""
    if x is None or isinstance(x, str):
        return x
    try:
        spark = SparkSession.getActiveSession()
        return str(spark._jsparkSession.expression(x._jc).sql())
    except Exception as e:
        raise MergeError("pass expressions as SQL strings or Columns") from e


def _set_and_cond(a, b):
    """Accept BOTH argument orders: ours is (set, condition); the
    reference Python API (tables.py whenMatchedUpdate, ...) is
    (condition, set). The dict is unambiguous, so dispatch on it."""
    if isinstance(a, dict):
        d, c = a, b
    elif isinstance(b, dict):
        d, c = b, a
    else:
        raise MergeError("a {column: expression} dict is required")
    return {k: _sqlify(v) for k, v in d.items()}, _sqlify(c)


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# words that may appear unqualified in a condition without being column
# references (predicate grammar subset of predicates.py + common SQL)
_SQL_WORDS = {
    "and", "or", "not", "in", "is", "null", "like", "between", "true",
    "false", "case", "when", "then", "else", "end", "cast", "as",
    "distinct", "interval", "date", "timestamp", "escape",
}


def _split_top_and(expr: str) -> list[str]:
    """Split a SQL boolean expression into its top-level AND conjuncts
    (paren- and string-literal-aware). The AND that pairs with a
    pending BETWEEN, or that lives inside CASE..END, is an operand,
    not a conjunction — splitting there would produce junk conjuncts
    like '(x BETWEEN 5) AND (10)'."""
    parts: list[str] = []
    depth = 0            # ( ) nesting
    case_depth = 0       # CASE .. END nesting (at paren depth 0)
    pending_between = 0  # BETWEENs awaiting their pairing AND
    i, n, start = 0, len(expr), 0
    while i < n:
        ch = expr[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if expr[j] == "'":
                    if j + 1 < n and expr[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        m = _IDENT_RE.match(expr, i)
        prev = expr[i - 1] if i > 0 else " "
        if m and not (prev.isalnum() or prev in "_.$"):
            word = m.group(0).upper()
            if depth == 0:
                if word == "CASE":
                    case_depth += 1
                elif word == "END" and case_depth:
                    case_depth -= 1
                elif word == "BETWEEN" and case_depth == 0:
                    pending_between += 1
                elif word == "AND" and case_depth == 0:
                    if pending_between:
                        pending_between -= 1
                    else:
                        parts.append(expr[start:i])
                        start = m.end()
            i = m.end()
            continue
        i += 1
    parts.append(expr[start:])
    return [p.strip() for p in parts if p.strip()]


_NONDET_JSON_MARKERS = (
    "expressions.Rand",              # rand()/randn()
    "expressions.Uuid",
    "expressions.Shuffle",
    "MonotonicallyIncreasingID",
    "SparkPartitionID",
    "InputFileName",
    "expressions.CurrentTimestamp",  # evaluated per-execution → the two
    "expressions.CurrentDate",       #   merge passes could disagree
    "expressions.Now",
    "\"udfDeterministic\":false",    # nondeterministic UDF
    "LogicalRDD",                    # RDD-backed: re-execution not pinned
    "ExternalRDD",
    "StreamingRelation",
    "logical.Sample",
    "GlobalLimit",                   # limit w/o order: partition-order dependent
)


def _should_materialize_source(source: DataFrame) -> bool:
    """Mirror of MergeIntoMaterializeSource.scala:267
    `shouldMaterializeSource`: the merge source is scanned twice
    (phase-1 findTouchedFiles, phase-2 write), so it must be pinned
    unless re-execution provably yields identical rows — a plan of
    deterministic operators over file/local relations. Detected on the
    analyzed-plan JSON; anything unrecognized materializes (fail-safe).
    At scale this is the difference between zero extra work and
    checkpointing a full copy of the source to executor disks."""
    from delta_spark.connect_compat import is_connect

    if is_connect(source):
        # no analyzed-plan introspection over Connect — fail-safe:
        # always pin the source (correct, costs one localCheckpoint)
        return True
    try:
        js = source._jdf.queryExecution().analyzed().toJSON()
    except Exception:
        return True
    return any(m in js for m in _NONDET_JSON_MARKERS)


def _row_metrics(m: dict) -> dict[str, str]:
    """operationMetrics row counts from the phase-2 `_metric_cols`
    aggregates."""
    return {
        "numTargetRowsUpdated": str(m.get("updated") or 0),
        "numTargetRowsDeleted": str(m.get("deleted") or 0),
        "numTargetRowsInserted": str(m.get("inserted") or 0),
        "numTargetRowsCopied": str(m.get("copied") or 0),
    }


def _chain_secondary(primary: BaseException, secondary: BaseException) -> None:
    """Keep `secondary` reachable from `primary`, which stays the raised
    error: append it to the end of primary's `__context__` chain, so
    tracebacks print both."""
    chain = [primary]
    while (chain[-1].__context__ is not None
           and chain[-1].__context__ not in chain):
        chain.append(chain[-1].__context__)
    if secondary not in chain:
        chain[-1].__context__ = secondary


class _Clause:
    __slots__ = ("kind", "condition", "values")

    def __init__(self, kind: str, condition: Optional[str], values: Optional[dict[str, str]]):
        self.kind = kind          # update | delete | insert
        self.condition = condition
        self.values = values or {}


class MergeBuilder:
    """Python mirror of io.delta.tables.DeltaMergeBuilder
    (python/delta/tables.py:39-1695 API contract)."""

    def __init__(self, spark: SparkSession, log: DeltaLog, source: DataFrame,
                 condition: str, source_alias: str = "source", target_alias: str = "target"):
        self.spark = spark
        self.log = log
        self.source = source
        self.condition = condition
        self.src = source_alias
        self.tgt = target_alias
        self.matched: list[_Clause] = []
        self.not_matched: list[_Clause] = []
        self.not_matched_by_source: list[_Clause] = []
        self._evolve_schema = False

    # -- builder surface --------------------------------------------------

    def whenMatchedUpdate(self, condition=None, set=None) -> "MergeBuilder":
        set, condition = _set_and_cond(set, condition)
        self.matched.append(_Clause("update", condition, set))
        return self

    def whenMatchedUpdateAll(self, condition=None) -> "MergeBuilder":
        self.matched.append(_Clause("update", _sqlify(condition), {"*": "*"}))
        return self

    def whenMatchedDelete(self, condition=None) -> "MergeBuilder":
        self.matched.append(_Clause("delete", _sqlify(condition), None))
        return self

    def whenNotMatchedInsert(self, condition=None, values=None) -> "MergeBuilder":
        values, condition = _set_and_cond(values, condition)
        self.not_matched.append(_Clause("insert", condition, values))
        return self

    def whenNotMatchedInsertAll(self, condition=None) -> "MergeBuilder":
        self.not_matched.append(_Clause("insert", _sqlify(condition), {"*": "*"}))
        return self

    def whenNotMatchedBySourceUpdate(self, condition=None, set=None) -> "MergeBuilder":
        set, condition = _set_and_cond(set, condition)
        self.not_matched_by_source.append(_Clause("update", condition, set))
        return self

    def whenNotMatchedBySourceDelete(self, condition=None) -> "MergeBuilder":
        self.not_matched_by_source.append(_Clause("delete", _sqlify(condition), None))
        return self

    def withSchemaEvolution(self) -> "MergeBuilder":
        """Evolve the target schema with the source's extra columns
        (ResolveDeltaMergeInto schema-evolution path; also enabled by
        the table property delta.schema.autoMerge.enabled)."""
        self._evolve_schema = True
        return self

    # -- execution --------------------------------------------------------

    def _out_snapshot(self, snapshot):
        """Snapshot view carrying the EVOLVED metadata for OUTPUT paths
        (data writes, CDC writes): an evolving MERGE's files must be
        written under the post-commit schema — under column mapping the
        evolved columns' engine-generated physical names, not their
        logical names. Read paths keep the original snapshot."""
        if self._evolution_meta is None:
            return snapshot
        s = snapshot.clone_state()
        s.metadata = self._evolution_meta
        return s

    def _expand_star(self, clause: _Clause, cols: list[str]) -> dict[str, str]:
        if clause.values.get("*") == "*":
            src = quote_ident(self.src)
            out = {quote_ident(c): f"{src}.{quote_ident(c)}" for c in cols}
            if clause.kind == "update":
                # UPDATE SET * never touches IDENTITY columns — they
                # keep the matched row's value (the explicit-key
                # spelling raises; star must not silently overwrite)
                from delta_spark.schema import identity_info

                for c in identity_info(getattr(self, "_schema", None)
                                       or T.StructType([])):
                    out.pop(quote_ident(c), None)
            return out
        return clause.values

    def _insert_values_map(self, vals: dict[str, str]) -> dict[str, str]:
        """INSERT values keyed by case-folded top-level column; nested
        paths are not insertable (matching the reference)."""
        out = {}
        for k, sql in vals.items():
            parts = set_target_parts(k, self.tgt)
            if len(parts) > 1:
                raise MergeError(
                    f"INSERT target must be a top-level column: {k!r}")
            out[parts[0].lower()] = sql
        return out

    def _pin_clause_timestamps(self) -> None:
        """Replace now()/current_timestamp()/current_date() in the merge
        condition and every clause condition/value with literals pinned
        at one instant. String literals are respected via masking.
        (The source DataFrame's own plan is not rewritten — a deviation
        from PreprocessTableMerge, which pins the full plan.)"""
        import datetime as _dt
        import re as _re

        from delta_spark.predicates import mask_string_literals

        now = _dt.datetime.now(_dt.timezone.utc)
        ts_lit = "TIMESTAMP '" + now.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
        d_lit = "DATE '" + now.strftime("%Y-%m-%d") + "'"
        pat = _re.compile(
            r"(?i)\b(current_timestamp|now|current_date)\s*\(\s*\)"
            r"|\bcurrent_timestamp\b(?!\s*\()|\bcurrent_date\b(?!\s*\()")

        def pin(s):
            if not s or not pat.search(mask_string_literals(s)):
                return s
            masked = mask_string_literals(s)
            out, last = [], 0
            for m in pat.finditer(masked):
                out.append(s[last:m.start()])
                word = m.group(0).lower()
                out.append(d_lit if "date" in word else ts_lit)
                last = m.end()
            out.append(s[last:])
            return "".join(out)

        self.condition = pin(self.condition)
        for cl in self.matched + self.not_matched + self.not_matched_by_source:
            cl.condition = pin(cl.condition)
            cl.values = {k: pin(v) for k, v in cl.values.items()}

    def execute(self) -> int:
        from delta_spark.predicates import reject_subquery

        reject_subquery(self.condition, "MERGE (search condition)")
        for cl in self.matched + self.not_matched + self.not_matched_by_source:
            reject_subquery(cl.condition,
                            f"MERGE ({cl.kind.upper()} condition)")
        # pin current_timestamp()/now()/current_date() to ONE instant
        # across every merge phase (PreprocessTableMerge.scala:261
        # transformTimestamps): find-touched-files and the output
        # projection run as separate Spark queries here, so an unpinned
        # now() could match a row in phase 1 and miss it in phase 2
        self._pin_clause_timestamps()
        from delta_spark.transaction import resolve_idempotent_txn

        app, ver = resolve_idempotent_txn(self.spark)
        txn = dml_transaction(self.spark, self.log)
        if app is not None:
            last = txn.txn_version(app)
            if last is not None and last >= ver:
                return None  # replayed idempotent MERGE
            from delta_spark.actions import SetTransaction
            from delta_spark.util import current_time_millis

            txn._pending_set_transaction = SetTransaction(
                app, ver, current_time_millis())
        snapshot = txn.snapshot
        if snapshot.metadata is None:
            raise MergeError("target delta table does not exist")
        cfg = snapshot.configuration
        num_indexed = int(cfg.get("delta.dataSkippingNumIndexedCols", DEFAULT_NUM_INDEXED_COLS))
        source = (self.source.localCheckpoint(eager=True)
                  if _should_materialize_source(self.source) else self.source)

        # schema evolution: UpdateAll/InsertAll pull the source's extra
        # columns into the target schema (new columns nullable)
        self._schema = snapshot.schema
        self._target_cols = {f.name for f in snapshot.schema.fields}
        self._evolution_meta = None
        auto = self._evolve_schema or str(
            cfg.get("delta.schema.autoMerge.enabled", "false")).lower() == "true"
        has_star = any(c.values.get("*") == "*" for c in self.matched + self.not_matched)
        if auto and has_star:
            from delta_spark.actions import Metadata as _Metadata
            from delta_spark.schema import is_same_schema, merge_schemas
            from delta_spark.util import schema_to_json

            merged = merge_schemas(snapshot.schema, source.schema)
            if not is_same_schema(merged, snapshot.schema):
                m = snapshot.metadata
                new_cfg = m.configuration
                from delta_spark.schema import column_mapping_mode
                if column_mapping_mode(cfg) in ("name", "id"):
                    # evolved columns need physical identities BEFORE
                    # the metadata commits (DeltaColumnMapping
                    # assignColumnIdAndPhysicalName — a mapped field
                    # without an id/physicalName is protocol-invalid);
                    # engine-generated names, never the logical name
                    # (resurrection hazard, same policy as write_delta)
                    from delta_spark.schema import (assign_physical_names,
                                                    max_field_id)
                    start = max(
                        int(cfg.get("delta.columnMapping.maxColumnId", 0)),
                        max_field_id(snapshot.schema))
                    merged, max_id = assign_physical_names(
                        merged, start_id=start, reuse_logical=False)
                    new_cfg = {**m.configuration,
                               "delta.columnMapping.maxColumnId":
                                   str(max_id)}
                self._schema = merged
                self._evolution_meta = _Metadata(
                    id=m.id, name=m.name, description=m.description, format=m.format,
                    schemaString=schema_to_json(merged),
                    partitionColumns=m.partitionColumns,
                    configuration=new_cfg, createdTime=m.createdTime)
        cols = [f.name for f in self._schema.fields]
        # fail fast on SET/INSERT targets that resolve to no output
        # column — a typo'd or mis-aliased key must not silently no-op
        fold = {c.lower() for c in cols}
        from delta_spark.schema import identity_info as _idinfo

        idents = {c.lower() for c in _idinfo(self._schema or snapshot.schema)}
        for cl in self.matched + self.not_matched + self.not_matched_by_source:
            if cl.kind == "delete" or cl.values.get("*") == "*":
                continue
            for k in cl.values:
                top = set_target_parts(k, self.tgt)[0].lower()
                if top not in fold:
                    raise MergeError(
                        f"{cl.kind.upper()} target {k!r} is not a column of "
                        f"the target table (columns: {cols})")
                if cl.kind == "update" and top in idents:
                    # DeltaErrors.identityColumnUpdateNotSupported
                    raise MergeError(
                        f"UPDATE on IDENTITY column {k!r} is not supported")

        for cl in self.not_matched_by_source:
            if cl.condition:
                cl.condition = self._qualify_target(cl.condition, snapshot)
            if cl.values:
                cl.values = {k: self._qualify_target(v, snapshot)
                             for k, v in cl.values.items()}

        if not self.matched and not self.not_matched_by_source and self.not_matched:
            return self._insert_only(txn, source, cols, num_indexed, cfg)

        # ---- phase 1: find touched files + duplicate detection ----
        # (file keys captured pre-join via read_files_with_index: DV
        # tables anti-join their masks, after which input_file_name()
        # would be ambiguous)
        # Candidates are pruned with the condition's target-only
        # conjuncts (findTouchedFiles data-skipping): a merge keyed on
        # a partition/date column scans only the matching files, not
        # the whole table.
        from delta_spark.reader import read_files_with_index

        prune_pred = self._target_pruning_predicate(snapshot)
        if self.not_matched_by_source:
            # every target row is examined → whole-table read
            txn.read_whole_table()
            candidates = (snapshot.files_for_scan(prune_pred) if prune_pred
                          else snapshot.all_files)
        elif prune_pred is not None:
            candidates = txn.files_for_scan(prune_pred)
        else:
            txn.read_whole_table()
            candidates = snapshot.all_files
        target_all = read_files_with_index(
            self.spark, snapshot, candidates).selectExpr(
                *[f"`{f.name}`" for f in snapshot.schema.fields],
                "`__file_base` AS `__delta_file`",
                "monotonically_increasing_id() AS `__t_rowid`")
        joined1 = (target_all.alias(self.tgt)
                   .join(source.alias(self.src), F.expr(self.condition), "inner"))
        summary_df = joined1.selectExpr(
            "count(1) AS n_matches",
            "count(DISTINCT __t_rowid) AS n_rows",
            "collect_set(__delta_file) AS files")
        # shuffle width ∝ bytes this command actually moves (guide
        # §2.2), session width as the cap — a small merge stops paying
        # core-count fan-out; None (no source size estimate) = no-op
        from delta_spark.connect_compat import plan_size_estimate
        from delta_spark.util import scoped_dml_shuffle_width

        src_bytes = plan_size_estimate(source)
        cand_bytes = (sum(f.size or 0 for f in candidates) + src_bytes
                      if src_bytes is not None else None)
        with scoped_dml_shuffle_width(self.spark, cand_bytes):
            summary = summary_df.collect()[0]
        touched_names = list(summary["files"] or [])
        # a target row matched by >1 source rows ⟺ more matches than
        # distinct matched rows — one global aggregate instead of the
        # former per-row groupBy + second aggregate (one less Exchange)
        if (summary["n_matches"] or 0) > (summary["n_rows"] or 0) \
                and self.matched:
            raise MergeError(
                "MERGE cannot update/delete a target row matched by multiple source rows "
                "(non-deterministic); deduplicate the source first")
        touched = match_files_by_name(candidates, touched_names, snapshot.table_path)
        txn.read_files.update(f.path for f in touched)

        need_target_only = bool(self.not_matched_by_source)
        if need_target_only:
            # not-matched-by-source clauses touch every file
            touched_paths = {f.path for f in touched}
            touched = touched + [f for f in snapshot.all_files if f.path not in touched_paths]

        if not touched and not self.not_matched:
            return txn.commit([], "MERGE", self._op_params(), {"numTargetRowsUpdated": "0"})

        # ---- phase 2: joint rewrite ----
        join_type = "full_outer" if self.not_matched else "left_outer"
        row_tracked = str(cfg.get("delta.enableRowTracking",
                                  "false")).lower() == "true"
        touched_bytes = (sum(f.size or 0 for f in touched) + src_bytes
                         if src_bytes is not None else None)
        if str(cfg.get("delta.enableDeletionVectors",
                       "false")).lower() == "true":
            return self._execute_phase2_dv(txn, source, touched, cols,
                                           join_type, row_tracked, cfg,
                                           input_bytes=touched_bytes)
        if row_tracked:
            from delta_spark.reader import read_files_with_stable_ids

            touched_df = (read_files_with_stable_ids(
                self.spark, snapshot, touched)
                .withColumn("__t_exists", F.lit(True)))
        else:
            touched_df = (read_files_df(self.spark, snapshot, touched)
                          .withColumn("__t_exists", F.lit(True)))
        src_df = source.withColumn("__s_exists", F.lit(True))
        joined = (touched_df.alias(self.tgt)
                  .join(src_df.alias(self.src), F.expr(self.condition), join_type))

        obs = Observation("merge_metrics")
        joined = (joined.withColumn("__action", F.expr(self._action_sql()))
                  .observe(obs, *self._metric_cols()))

        kept = joined.filter(self._KEEP_SQL)
        extra = []
        if row_tracked:
            # copied + updated target rows keep their stable row id;
            # updated rows take the new commit version (null → default);
            # inserted rows are brand new (null both → defaults)
            from delta_spark.reader import (
                materialized_row_commit_col,
                materialized_row_id_col,
            )

            tgt = quote_ident(self.tgt)
            mat = materialized_row_id_col(snapshot)
            matv = materialized_row_commit_col(snapshot)
            if mat is not None:
                extra.append(
                    f"CASE WHEN __action LIKE 'i%' THEN CAST(NULL AS BIGINT) "
                    f"ELSE {tgt}.{quote_ident(mat)} END AS {quote_ident(mat)}")
            if matv is not None:
                extra.append(
                    f"CASE WHEN __action = 'copy' THEN {tgt}.{quote_ident(matv)} "
                    f"ELSE CAST(NULL AS BIGINT) END AS {quote_ident(matv)}")
        projected = self._project_outputs(kept, cols, extra)
        resultw = self._finalize_inserts(self._apply_generated_merge(
            projected, snapshot, keep_action=True), snapshot)
        from delta_spark.util import scoped_dml_shuffle_width as _scoped_w

        with _scoped_w(self.spark, touched_bytes):
            with_cdf = cdf_enabled(cfg)
            cdc_actions = []
            if with_cdf:
                # insert images come from the FINALIZED frame so
                # allocated identity values in the feed match the
                # written rows
                cdc_actions = self._write_cdf(
                    joined, cols, self._out_snapshot(snapshot),
                    insert_df=resultw)

            adds = write_table_files(resultw.drop("__action"),
                                     self._out_snapshot(snapshot))
        removes = [f.remove() for f in touched]
        metrics = _row_metrics(obs.get)
        metrics["numTargetFilesRemoved"] = str(len(removes))
        metrics["numTargetFilesAdded"] = str(len(adds))
        evo = [self._evolution_meta] if self._evolution_meta is not None else []
        return txn.commit(evo + list(adds) + list(removes) + list(cdc_actions),
                          "MERGE", self._op_params(), metrics)

    def _execute_phase2_dv(self, txn, source: DataFrame, touched, cols,
                           join_type: str, row_tracked: bool, cfg,
                           input_bytes: Optional[int] = None) -> int:
        """Phase 2 with deletion vectors (reference
        MergeIntoCommand.scala:136 shouldWriteDeletionVectors +
        DMLWithDeletionVectorsHelper): matched update/delete rows are
        masked IN-PLACE via DVs and only the update outputs and inserts
        are written as new files — copied rows never move. A merge
        touching 1% of the rows in a file no longer rewrites the other
        99%, the dominant MERGE cost at scale. The changed-row subset
        (small side) is persisted so the DV job, the new-file write,
        and the CDF write share one pass over the big join."""
        from delta_spark.commands.delete import mask_rows_with_dvs
        from delta_spark.reader import (
            _base_row_id_expr,
            materialized_row_commit_col,
            materialized_row_id_col,
            read_files_with_index,
        )

        snapshot = txn.snapshot
        touched_df = (read_files_with_index(
            self.spark, snapshot, touched,
            request_materialized_row_id=row_tracked)
            .withColumn("__t_exists", F.lit(True)))
        src_df = source.withColumn("__s_exists", F.lit(True))
        joined = (touched_df.alias(self.tgt)
                  .join(src_df.alias(self.src), F.expr(self.condition), join_type))
        changed = (joined
                   .withColumn("__action", F.expr(self._action_sql()))
                   .filter("__action <> 'copy' AND __action <> 'skip'")
                   .persist())
        from contextlib import ExitStack

        from delta_spark.util import scoped_dml_shuffle_width as _scoped_w

        _stack = ExitStack()
        _stack.enter_context(_scoped_w(self.spark, input_bytes))
        dv_thread = None
        dv_result: dict = {}
        try:
            positions = (changed
                         .filter("__t_exists IS NOT NULL")
                         .selectExpr("__file_base AS file_base",
                                     "__row_idx AS row_index"))
            # The DV bitmap job and the new-file write are independent
            # once `changed` is persisted (concurrent first computation
            # of a cached partition is deduped by the block manager), so
            # run the DV job on a driver thread and let the write's
            # tasks back-fill its tail instead of waiting for it.
            from pyspark import InheritableThread

            def _dv_job():
                try:
                    dv_result["val"] = mask_rows_with_dvs(
                        self.spark, txn, touched, positions)
                except BaseException as e:  # re-raised on join
                    dv_result["err"] = e

            dv_thread = InheritableThread(target=_dv_job)
            dv_thread.start()

            written = changed.filter(
                "__action LIKE 'u%' OR __action LIKE 'i%'")
            extra = []
            if row_tracked:
                # updated rows keep their stable id (materialized value,
                # else default baseRowId+position); inserts are brand new;
                # every output row takes the new commit's version
                mat = materialized_row_id_col(snapshot)
                matv = materialized_row_commit_col(snapshot)
                if mat is not None:
                    written = written.withColumn(
                        "__base_row_id", _base_row_id_expr(
                            snapshot, touched, "__file_base", "__row_idx"))
                    extra.append(
                        "CASE WHEN __action LIKE 'i%' THEN CAST(NULL AS BIGINT) "
                        f"ELSE coalesce({quote_ident(self.tgt)}."
                        f"{quote_ident(mat)}, __base_row_id) END "
                        f"AS {quote_ident(mat)}")
                if matv is not None:
                    extra.append(f"CAST(NULL AS BIGINT) AS {quote_ident(matv)}")
            projected = self._project_outputs(written, cols, extra)
            resultw = self._finalize_inserts(self._apply_generated_merge(
                projected, snapshot, keep_action=True), snapshot)

            cdc_actions = []
            if cdf_enabled(cfg):
                cdc_actions = self._write_cdf(
                    changed, cols, self._out_snapshot(snapshot),
                    insert_df=resultw)
            adds = write_table_files(resultw.drop("__action"),
                                     self._out_snapshot(snapshot))
            # row counts come from the cached `changed` in one job of
            # their own: an observe() under the persist would be filled
            # by whichever of the two concurrent jobs ended first, each
            # having computed only some of the partitions. Copies are
            # not in `changed`: under a DV no row moves.
            counts = changed.agg(*self._metric_cols()).first().asDict()
        except BaseException as primary:
            # the DV thread's own error would otherwise be lost
            if dv_thread is not None:
                dv_thread.join()
            if "err" in dv_result:
                _chain_secondary(primary, dv_result["err"])
            raise
        finally:
            if dv_thread is not None:
                dv_thread.join()
            _stack.close()
            changed.unpersist()
        if "err" in dv_result:
            raise dv_result["err"]
        dv_adds, removes, _ = dv_result["val"]
        metrics = _row_metrics(counts)
        metrics["numTargetFilesRemoved"] = str(len(removes))
        metrics["numTargetFilesAdded"] = str(len(adds))
        metrics["numDeletionVectorsAdded"] = str(len(dv_adds))
        evo = [self._evolution_meta] if self._evolution_meta is not None else []
        return txn.commit(
            evo + list(dv_adds) + list(adds) + list(removes) + list(cdc_actions),
            "MERGE", self._op_params(), metrics)

    # -- helpers ----------------------------------------------------------

    def _target_only_conjunct(self, conjunct: str, target_cols: set,
                              source_cols: set) -> Optional[str]:
        """If the conjunct references only TARGET columns, return it
        rewritten with the target alias stripped (usable against the
        bare table schema for file skipping); else None."""
        out = []
        i, n = 0, len(conjunct)
        while i < n:
            ch = conjunct[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if conjunct[j] == "'":
                        if j + 1 < n and conjunct[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(conjunct[i:j + 1])
                i = j + 1
                continue
            m = _IDENT_RE.match(conjunct, i)
            if m:
                word = m.group(0)
                j = m.end()
                if j < n and conjunct[j] == ".":
                    m2 = _IDENT_RE.match(conjunct, j + 1)
                    if m2:
                        if word == self.tgt:
                            out.append(m2.group(0))
                            i = m2.end()
                            continue
                        return None  # source- (or unknown-alias-) qualified
                nxt = conjunct[j:j + 1]
                if nxt == "(" or word.lower() in _SQL_WORDS:
                    out.append(word)  # function call / keyword
                elif word in source_cols or word not in target_cols:
                    # unqualified source ref, ambiguous ref, or an
                    # identifier that is no column of the target at
                    # all (outer-scope reference / typo) — not a
                    # sound pruning conjunct
                    return None
                else:
                    out.append(word)
                i = j
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    def _target_pruning_predicate(self, snapshot) -> Optional[str]:
        """Target-only conjuncts of the merge condition, for phase-1
        file skipping (ClassicMergeExecutor.scala:72-185
        findTouchedFiles data-skips on the merge condition first).
        Sound: a file no row of which can satisfy these conjuncts
        cannot contain a matched row."""
        from delta_spark import predicates as P
        target_cols = {f.name for f in snapshot.schema.fields}
        source_cols = set(self.source.columns)
        kept = []
        for c in _split_top_and(self.condition):
            r = self._target_only_conjunct(c, target_cols, source_cols)
            if r is None or not r.strip():
                continue
            try:
                # a kept conjunct becomes the transaction's recorded
                # read predicate; an unparseable one would defeat both
                # file skipping and concurrent-append verification
                P.parse_predicate(r)
            except Exception:
                continue
            kept.append(f"({r.strip()})")
        return " AND ".join(kept) if kept else None

    def _insert_only(self, txn, source: DataFrame, cols: list[str],
                     num_indexed: int, cfg: dict) -> int:
        """LEFT ANTI fast path (InsertOnlyMergeExecutor.scala:59):
        no target file is rewritten; Catalyst broadcast-joins when the
        target key projection is small."""
        snapshot = txn.snapshot
        prune_pred = self._target_pruning_predicate(snapshot)
        if prune_pred is not None:
            # anti-join only needs files that could contain a match
            candidates = txn.files_for_scan(prune_pred)
            target = read_files_df(self.spark, snapshot, candidates)
        else:
            txn.read_whole_table()
            candidates = snapshot.all_files
            target = read_files_df(self.spark, snapshot)
        new_rows = (source.alias(self.src)
                    .join(target.alias(self.tgt), F.expr(self.condition), "left_anti"))
        parts = []
        remaining = new_rows
        from delta_spark.schema import generation_expressions

        for cl in self.not_matched:
            vals = self._insert_values_map(self._expand_star(cl, cols))
            subset = remaining.filter(cl.condition) if cl.condition else remaining
            schema = getattr(self, "_schema", None) or snapshot.schema
            part = subset.select(*[
                (F.expr(vals[c.lower()]) if c.lower() in vals
                 else F.lit(None)).cast(schema[c].dataType).alias(c)
                for c in cols])
            # omitted DEFAULT columns take their declared expression
            from delta_spark.schema import default_values as _dv

            dflts = {c: e for c, e in _dv(schema).items()
                     if c.lower() not in vals}
            if dflts:
                part = part.select(*[
                    F.expr(dflts[c]).cast(schema[c].dataType).alias(c)
                    if c in dflts else F.col(c) for c in cols])
            # generated columns this INSERT clause didn't assign are
            # computed from the inserted row (UpdateExpressionsSupport)
            regen = {g: e for g, e in generation_expressions(schema).items()
                     if g.lower() not in vals}
            if regen:
                part = part.select(*[
                    F.expr(regen[c]).cast(schema[c].dataType).alias(c)
                    if c in regen else F.col(c) for c in cols])
            parts.append(part)
            if cl.condition:
                remaining = remaining.filter(~F.coalesce(F.expr(cl.condition), F.lit(False)))
            else:
                remaining = remaining.limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = self._finalize_inserts(out, snapshot)
        from delta_spark.connect_compat import plan_size_estimate
        from delta_spark.util import scoped_dml_shuffle_width

        src_bytes = plan_size_estimate(source)
        in_bytes = (sum(f.size or 0 for f in candidates) + src_bytes
                    if src_bytes is not None else None)
        with scoped_dml_shuffle_width(self.spark, in_bytes):
            cdc_actions = []
            if cdf_enabled(cfg):
                cdc_actions = write_cdc_files(
                    out.withColumn("_change_type", F.lit("insert")),
                    snapshot.table_path, self._out_snapshot(snapshot))
            adds = write_table_files(out, self._out_snapshot(snapshot))
        metrics = {"numTargetRowsInserted": str(sum(a.num_records or 0 for a in adds)),
                   "numTargetFilesAdded": str(len(adds))}
        evo = [getattr(self, "_evolution_meta", None)]
        evo = [e for e in evo if e is not None]
        return txn.commit(evo + list(adds) + list(cdc_actions), "MERGE", self._op_params(), metrics)

    def _qualify_target(self, expr: str, snapshot) -> str:
        """NOT MATCHED BY SOURCE clauses resolve unqualified names
        against the TARGET only (source columns are out of scope, per
        deltaMerge's resolution rules) — qualify bare target-column
        identifiers so the joined frame isn't ambiguous."""
        cols = {f.name for f in snapshot.schema.fields}
        out = []
        i, n = 0, len(expr)
        while i < n:
            ch = expr[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if expr[j] == "'" and not (j + 1 < n and expr[j + 1] == "'"):
                        break
                    j += 2 if expr[j] == "'" else 1
                out.append(expr[i:j + 1])
                i = j + 1
                continue
            m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", expr[i:])
            if m:
                word = m.group(0)
                prev = expr[i - 1] if i > 0 else ""
                nxt_i = i + len(word)
                nxt = expr[nxt_i:nxt_i + 1]
                if word in cols and prev != "." and nxt != "(":
                    out.append(f"{self.tgt}.{word}")
                else:
                    out.append(word)
                i = nxt_i
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    # rows to keep in phase-2 output: neither source-only rows with no
    # applicable insert clause ('skip') nor deleted rows ('d...' tags)
    _KEEP_SQL = "__action <> 'skip' AND NOT (__action LIKE 'd%')"

    def _action_sql(self) -> str:
        """__action as ONE SQL CASE text: the first matching clause of
        the row's category stamps its tag (an F.when cascade would cost
        ~10 py4j round trips per clause). A NULL clause condition falls
        through to the next WHEN."""
        def cascade(clauses: list[_Clause], prefix: str, default: str) -> str:
            whens = []
            for i, cl in enumerate(clauses):
                tag = f"{cl.kind[0]}{prefix}{i}"
                cond = sql_fragment(cl.condition) if cl.condition else "true"
                whens.append(f"WHEN {cond} THEN '{tag}'")
            if not whens:
                return f"'{default}'"
            return f"(CASE {' '.join(whens)} ELSE '{default}' END)"

        m = cascade(self.matched, "m", "copy")
        i = cascade(self.not_matched, "i", "skip")
        s = cascade(self.not_matched_by_source, "s", "copy")
        return ("CASE WHEN (__t_exists IS NOT NULL "
                "AND __s_exists IS NOT NULL) "
                f"THEN {m} WHEN (__t_exists IS NULL) THEN {i} "
                f"ELSE {s} END")

    def _metric_cols(self):
        """The 4 observe() aggregates as parsed SQL (was 4 × ~50 py4j
        round trips of F.sum(F.when(...)) construction). LIKE 'x%' ==
        startswith for these wildcard-free tags; the no-op tags 'copy'
        and 'skip' match none of the u/d/i prefixes."""
        return [
            F.expr("sum(CASE WHEN __action LIKE 'u%' THEN 1 ELSE 0 END)"
                   ).alias("updated"),
            F.expr("sum(CASE WHEN __action LIKE 'd%' THEN 1 ELSE 0 END)"
                   ).alias("deleted"),
            F.expr("sum(CASE WHEN __action LIKE 'i%' THEN 1 ELSE 0 END)"
                   ).alias("inserted"),
            F.expr("sum(CASE WHEN __action = 'copy' THEN 1 ELSE 0 END)"
                   ).alias("copied"),
        ]

    def _finalize_inserts(self, df, snapshot):
        """Identity allocation for merge-inserted rows (IdentityColumn
        role): insert clauses that omit an identity column leave NULL
        slots — fill them from the high-watermark and advance the
        watermark in this commit's Metadata (merged into the pending
        schema-evolution metadata when present)."""
        from delta_spark.constraints import fill_identity_nulls
        from delta_spark.schema import identity_info, with_identity_watermark
        from delta_spark.util import schema_from_json, schema_to_json

        schema = getattr(self, "_schema", None) or snapshot.schema
        if not identity_info(schema) or not self.not_matched:
            return df
        explicit = set()
        for cl in self.not_matched:
            if cl.values.get("*") == "*":
                explicit |= {c.lower() for c in self.source.columns}
            else:
                explicit |= {set_target_parts(k, self.tgt)[0].lower()
                             for k in cl.values}
        # only insert-action rows need allocation + pinning; copied and
        # updated rows keep their existing identity values untouched
        has_action = "__action" in df.columns
        if has_action:
            ins = df.filter(F.col("__action").startswith("i"))
            rest = df.filter(~F.col("__action").startswith("i"))
        else:  # insert-only fast path: every row is an insert
            ins, rest = df, None
        ins, filled = fill_identity_nulls(ins, schema, explicit)
        if not filled:
            return df
        # the watermark must bound the values actually written — pin
        # them (mono-id is not stable across re-evaluation), then agg
        ins = ins.localCheckpoint(eager=True)
        from delta_spark.actions import Metadata as _Metadata

        base = self._evolution_meta if self._evolution_meta is not None \
            else snapshot.metadata
        new_schema = schema_from_json(base.schemaString)
        infos = identity_info(schema)
        base_marks = {c: i["highWaterMark"]
                      for c, i in identity_info(new_schema).items()}
        changed = False
        for col in filled:
            step = int(infos[col]["step"])
            # watermark is directional: the most-advanced value is the
            # max for positive step, the MIN for negative step
            agg = F.max if step > 0 else F.min
            mx = ins.agg(agg(F.col(col))).collect()[0][0]
            old = base_marks.get(col)
            if mx is not None and (
                    old is None
                    or (step > 0 and int(mx) > int(old))
                    or (step < 0 and int(mx) < int(old))):
                new_schema = with_identity_watermark(new_schema, col, int(mx))
                changed = True
        if changed:
            self._evolution_meta = _Metadata(
                id=base.id, name=base.name, description=base.description,
                format=base.format, schemaString=schema_to_json(new_schema),
                partitionColumns=base.partitionColumns,
                configuration=base.configuration, createdTime=base.createdTime)
        return rest.unionByName(ins) if rest is not None else ins

    def _clause_tags(self):
        """(action tag, clause) pairs — the tags _action_sql stamps
        rows with."""
        return ([(f"{c.kind[0]}m{i}", c) for i, c in enumerate(self.matched)]
                + [(f"{c.kind[0]}i{i}", c) for i, c in enumerate(self.not_matched)]
                + [(f"{c.kind[0]}s{i}", c) for i, c in enumerate(self.not_matched_by_source)])

    def _explicitly_assigns(self, cl, col: str) -> bool:
        if cl.values.get("*") == "*":
            return True
        return any(set_target_parts(k, self.tgt)[0].lower() == col.lower()
                   for k in cl.values)

    def _apply_generated_merge(self, df, snapshot, keep_action: bool = False):
        """Recompute GENERATED ALWAYS AS columns for rows whose
        producing clause did not assign them (UpdateExpressionsSupport
        :478 — no user expression ⇒ regenerate from the post-update
        row). Rides the __action tag (dropped on return unless
        ``keep_action``); copied rows keep their stored values."""
        from delta_spark.schema import generation_expressions

        schema = getattr(self, "_schema", None) or snapshot.schema
        gens = generation_expressions(schema)
        if not gens or "__action" not in df.columns:
            return df if keep_action and "__action" in df.columns \
                else df.drop("__action")
        out_cols = []
        for c in df.columns:
            if c == "__action":
                if keep_action:
                    out_cols.append(F.col(c))
                continue
            e = gens.get(c)
            if e is None:
                out_cols.append(F.col(c))
                continue
            tags = [t for t, cl in self._clause_tags()
                    if cl.kind != "delete"
                    and not self._explicitly_assigns(cl, c)]
            if not tags:
                out_cols.append(F.col(c))
                continue
            out_cols.append(
                F.when(F.col("__action").isin(tags),
                       F.expr(e).cast(df.schema[c].dataType))
                .otherwise(F.col(c)).alias(c))
        return df.select(*out_cols)

    def _project_outputs(self, df: DataFrame, cols: list[str],
                         extra: Sequence[str] = ()) -> DataFrame:
        """Output columns (then ``extra`` texts and __action) in ONE
        selectExpr parse: one py4j round trip instead of one F.expr and
        alias pair per column. Each output column is a CASE over
        __action; every THEN branch is cast to the relaxed column type
        and the whole CASE is cast once more."""
        schema = self._schema
        schema_cols = [f.name for f in schema.fields]
        dflts = default_values(schema)
        branches = []  # (tag, {output column: value SQL})
        for tag, cl in self._clause_tags():
            if cl.kind == "delete":
                continue
            vals = self._expand_star(cl, schema_cols)
            if cl.kind == "insert":
                # an omitted column takes its DEFAULT expression
                # (DeltaColumnDefaults), else NULL
                ins = self._insert_values_map(vals)
                branches.append((tag, {c: ins.get(c.lower(), dflts.get(c, "NULL"))
                                       for c in cols}))
            else:
                branches.append((tag, resolve_set_exprs(vals, schema,
                                                        alias=self.tgt)))
        tgt = quote_ident(self.tgt)
        texts = []
        for c in cols:
            dts = sql_type(relax_nullability(schema[c].dataType))
            # copy default; a schema-evolved column has no target value
            base = (f"{tgt}.{quote_ident(c)}" if c in self._target_cols
                    else f"CAST(NULL AS {dts})")
            whens = " ".join(
                f"WHEN __action = '{tag}' THEN "
                f"CAST({sql_fragment(by_col.get(c, base))} AS {dts})"
                for tag, by_col in branches)
            case = f"CASE {whens} ELSE {base} END" if whens else base
            texts.append(f"CAST(({case}) AS {dts}) AS {quote_ident(c)}")
        return df.selectExpr(*texts, *extra, "`__action`")

    def _write_cdf(self, joined, cols: list[str], snapshot, insert_df):
        """Emit CDF rows: update_preimage/update_postimage, delete,
        insert (MergeOutputGeneration CDF projection). Insert images
        are taken verbatim from ``insert_df`` (the finalized output
        frame, __action kept), so identity values allocated by
        _finalize_inserts land identically in the feed."""
        tgt = quote_ident(self.tgt)
        # schema-evolved columns don't exist on the TARGET side of the
        # join: preimage/delete rows show them as NULL (reference
        # MergeOutputGeneration — the pre-merge rows never had a value)
        tgt_vals = [
            f"{tgt}.{quote_ident(c)}" if c in self._target_cols
            else f"CAST(NULL AS {sql_type(self._schema[c].dataType)}) "
                 f"AS {quote_ident(c)}"
            for c in cols]
        updated = joined.filter("__action LIKE 'u%'")
        pre = (updated.selectExpr(*tgt_vals)
               .withColumn("_change_type", F.lit("update_preimage")))
        post = (self._apply_generated_merge(
                    self._project_outputs(updated, cols), snapshot)
                .withColumn("_change_type", F.lit("update_postimage")))
        dels = (joined.filter("__action LIKE 'd%'")
                .selectExpr(*tgt_vals)
                .withColumn("_change_type", F.lit("delete")))
        ins = (insert_df.filter("__action LIKE 'i%'")
               .select(*cols)
               .withColumn("_change_type", F.lit("insert")))
        cdf_df = pre.unionByName(post).unionByName(dels).unionByName(ins)
        return write_cdc_files(cdf_df, snapshot.table_path, snapshot)

    def _op_params(self) -> dict:
        return {
            "predicate": self.condition,
            "matchedPredicates": json.dumps(
                [{"actionType": c.kind, **({"predicate": c.condition} if c.condition else {})}
                 for c in self.matched]),
            "notMatchedPredicates": json.dumps(
                [{"actionType": c.kind, **({"predicate": c.condition} if c.condition else {})}
                 for c in self.not_matched]),
            "notMatchedBySourcePredicates": json.dumps(
                [{"actionType": c.kind, **({"predicate": c.condition} if c.condition else {})}
                 for c in self.not_matched_by_source]),
        }

"""UPDATE t SET c = expr, ... WHERE p (reference
commands/UpdateCommand.scala:59,114,346).

Plan: stats/partition pruning → one job finding touched files → one job
rewriting ONLY those files with a per-column conditional projection
`CASE WHEN p THEN new_expr ELSE old END`. Rows not matching p are
copied verbatim; untouched files are untouched.

When `delta.enableDeletionVectors=true` the rewrite is replaced by the
DV path (UpdateCommand.scala:139 shouldWriteDeletionVectors): the
matched row positions are masked with deletion vectors in-place and
ONLY the post-update rows are written as new files — a 1-row update in
a 1 GB file costs KBs of DV plus one tiny file instead of a full
rewrite (the dominant UPDATE cost at scale).

CDF emits update_preimage/update_postimage row pairs for matched rows
(UpdateCommand CDF path).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from delta_spark.commands.delete import cdf_enabled, find_touched_files
from delta_spark.log import DeltaLog
from delta_spark.reader import read_files_df
from delta_spark.schema import (quote_ident, relax_nullability,
                                resolve_field_path, sql_fragment, sql_type,
                                update_struct_sql)
from delta_spark.stats import DEFAULT_NUM_INDEXED_COLS
from delta_spark.transaction import OptimisticTransaction, dml_transaction
from delta_spark.writer import write_cdc_files, write_table_files


def _split_ident(k: str) -> list[str]:
    """Split a SET target on dots OUTSIDE backticks; unquote parts
    (`a b`.`c` → ['a b', 'c'])."""
    parts, cur, i, inq = [], "", 0, False
    while i < len(k):
        ch = k[i]
        if ch == "`":
            if inq and i + 1 < len(k) and k[i + 1] == "`":
                cur += "`"
                i += 2
                continue
            inq = not inq
            i += 1
            continue
        if ch == "." and not inq:
            parts.append(cur)
            cur = ""
            i += 1
            continue
        cur += ch
        i += 1
    parts.append(cur)
    return [p.strip() for p in parts]


def set_target_parts(k: str, alias: Optional[str] = None) -> list[str]:
    """SET/INSERT target → identifier parts, with a leading MERGE
    target-alias part stripped (DeltaMergeActionResolver)."""
    parts = _split_ident(k)
    if alias and len(parts) > 1 and parts[0].lower() == alias.lower():
        parts = parts[1:]
    return parts


def apply_generated_after_update(df: DataFrame, schema: T.StructType,
                                 upd: dict) -> DataFrame:
    """Post-update generated-column pass (UpdateExpressionsSupport:478:
    a generated column with no user expression is RECOMPUTED from the
    generation expression over the post-update row; recomputation on
    unchanged rows is an identity, so it applies uniformly). Explicitly
    assigned generated columns are validated against the expression,
    like the batch-write seam (constraints.apply_generated_columns)."""
    from delta_spark.schema import generation_expressions

    gens = generation_expressions(schema)
    if not gens:
        return df
    regen = {g: e for g, e in gens.items() if g not in upd}
    if regen:
        df = df.select(*[
            F.expr(regen[c]).cast(df.schema[c].dataType).alias(c)
            if c in regen else F.col(c)
            for c in df.columns])
    for g, e in gens.items():
        if g in upd:
            df = df.filter(
                F.when(~F.col(g).eqNullSafe(F.expr(e)),
                       F.raise_error(F.lit(
                           f"Updated value for generated column {g} does "
                           f"not match generation expression {e}"))
                       .cast("boolean"))
                .otherwise(F.lit(True)))
    return df


def resolve_set_exprs(set_exprs: dict[str, str], schema: T.StructType,
                      alias: Optional[str] = None) -> dict[str, str]:
    """{SET target: SQL expr} → {top-level column: new-value SQL text},
    the one expression text every DML projection embeds. Targets
    resolve like Spark identifiers — optionally backquoted,
    case-insensitive — and dotted paths update ONE struct field in
    place, preserving its siblings (UpdateExpressionsSupport
    generateUpdateExpressions; schema.update_struct_sql). Values are
    cast to the target field's relaxed declared type. With MERGE's
    target ``alias``, a leading alias part is stripped from targets
    and column references are qualified with it; UPDATE reads the bare
    columns."""
    qualifier = quote_ident(alias) + "." if alias else ""
    assigns: dict[str, list] = {}
    for k, v in set_exprs.items():
        path = resolve_field_path(schema, set_target_parts(k, alias), k)
        assigns.setdefault(path[0], []).append((path[1:], v))
    out = {}
    for col, lst in assigns.items():
        # overlapping targets (equal, or one a prefix of another: s and
        # s.x, s.a and s.a.b) are order-dependent last-wins — reject
        for i, (p, _) in enumerate(lst):
            for q, _ in lst[:i]:
                n = min(len(p), len(q))
                if p[:n] == q[:n]:
                    raise ValueError(
                        f"conflicting SET assignments to column {col!r} "
                        f"fields {'.'.join((col,) + q)} and "
                        f"{'.'.join((col,) + p)}")
        dt = schema[col].dataType
        if not lst[0][0]:
            out[col] = (f"CAST({sql_fragment(lst[0][1])} AS "
                        f"{sql_type(relax_nullability(dt))})")
        else:
            out[col] = update_struct_sql(qualifier + quote_ident(col), dt,
                                         lst)
    return out


def execute_update(spark: SparkSession, log: DeltaLog, set_exprs: dict[str, str],
                   condition: Optional[str] = None) -> int:
    """set_exprs: {column: SQL expression} (UpdateExpressionsSupport —
    expressions may reference any table column)."""
    from delta_spark.predicates import reject_subquery

    reject_subquery(condition, "UPDATE")
    from delta_spark.transaction import resolve_idempotent_txn

    app, ver = resolve_idempotent_txn(spark)
    txn = dml_transaction(spark, log)
    if app is not None:
        last = txn.txn_version(app)
        if last is not None and last >= ver:
            return None  # replayed idempotent DML
        from delta_spark.actions import SetTransaction
        from delta_spark.util import current_time_millis

        txn._pending_set_transaction = SetTransaction(
            app, ver, current_time_millis())
    snapshot = txn.snapshot
    cfg = snapshot.configuration
    num_indexed = int(cfg.get("delta.dataSkippingNumIndexedCols", DEFAULT_NUM_INDEXED_COLS))
    cond = condition if condition and condition.strip() else "true"

    schema_cols = [f.name for f in snapshot.schema.fields]
    upd = resolve_set_exprs(set_exprs, snapshot.schema)
    from delta_spark.schema import identity_info

    for c in set(upd) & set(identity_info(snapshot.schema)):
        # DeltaErrors.identityColumnUpdateNotSupported (:3069)
        raise ValueError(f"UPDATE on IDENTITY column {c!r} is not supported")
    part_cols = set(snapshot.partition_columns)
    if part_cols & set(upd):
        # reference also forbids updating partition columns via rewrite
        # shortcuts; support it by full-row rewrite (the projection below
        # handles it naturally since we re-partition on write)
        pass

    candidates = txn.files_for_scan(None if cond == "true" else cond)
    cond_sql = f"COALESCE({sql_fragment(cond)}, FALSE)"
    if str(cfg.get("delta.enableDeletionVectors", "false")).lower() == "true":
        return _dv_update(spark, txn, upd, cond, cond_sql, cfg, schema_cols,
                          candidates)
    touched = find_touched_files(spark, snapshot, candidates, cond)
    txn.read_files.update(f.path for f in touched)
    if not touched:
        return txn.commit([], "UPDATE", {"predicate": cond}, {"numUpdatedRows": "0"})

    row_tracked = str(cfg.get("delta.enableRowTracking",
                              "false")).lower() == "true"
    if row_tracked:
        from delta_spark.reader import (
            materialized_row_commit_col,
            materialized_row_id_col,
            read_files_with_stable_ids,
        )

        touched_df = read_files_with_stable_ids(spark, snapshot, touched)
    else:
        touched_df = read_files_df(spark, snapshot, touched)
    # the whole rewrite projection is ONE selectExpr parse (~5 py4j
    # round trips per column fewer than a Column chain — matters on
    # wide tables)
    texts = [
        (f"CASE WHEN {cond_sql} THEN {upd[c]} "
         f"ELSE {quote_ident(c)} END AS {quote_ident(c)}")
        if c in upd else quote_ident(c)
        for c in schema_cols
    ]
    if row_tracked:
        # updated rows KEEP their stable row id but take the commit's
        # new row-commit-version (materialized column nulled → default)
        mat = materialized_row_id_col(snapshot)
        matv = materialized_row_commit_col(snapshot)
        if mat is not None:
            texts.append(quote_ident(mat))
        if matv is not None:
            texts.append(f"CASE WHEN {cond_sql} THEN CAST(NULL AS BIGINT) "
                         f"ELSE {quote_ident(matv)} END AS {quote_ident(matv)}")
    projected = apply_generated_after_update(
        touched_df.selectExpr(*texts), snapshot.schema, upd)
    adds = write_table_files(projected, snapshot)
    removes = [f.remove() for f in touched]

    cdc = []
    if cdf_enabled(cfg):
        matched = touched_df.filter(cond_sql)
        cdc = _write_update_cdf(matched, upd, schema_cols, snapshot)

    metrics = {
        "numRemovedFiles": str(len(removes)),
        "numAddedFiles": str(len(adds)),
    }
    params = {"predicate": cond}
    return txn.commit(list(adds) + list(removes) + list(cdc), "UPDATE", params, metrics)


def _post_update_texts(upd: dict[str, str], schema_cols: list[str]) -> list[str]:
    """selectExpr texts of the post-update row (matched rows only)."""
    return [f"{upd[c]} AS {quote_ident(c)}" if c in upd else quote_ident(c)
            for c in schema_cols]


def _write_update_cdf(matched: DataFrame, upd: dict[str, str],
                      schema_cols: list[str], snapshot) -> list:
    """update_preimage/update_postimage row pairs for the matched rows."""
    pre = (matched.select(*schema_cols)
           .withColumn("_change_type", F.lit("update_preimage")))
    post = (apply_generated_after_update(
                matched.selectExpr(*_post_update_texts(upd, schema_cols)),
                snapshot.schema, upd)
            .withColumn("_change_type", F.lit("update_postimage")))
    return write_cdc_files(pre.unionByName(post), snapshot.table_path, snapshot)


def _dv_update(spark: SparkSession, log_txn, upd: dict[str, str],
               cond: str, cond_sql: str, cfg: dict, schema_cols: list[str],
               candidates) -> int:
    """Deletion-vector UPDATE (UpdateCommand.scala:139): mask the
    matched row positions with DVs and write ONLY the updated rows as
    new files. Touched files keep their bytes; fully-updated files
    become plain removes (their rows all land in the new files). The
    matched-row scan is persisted so the DV job, the new-file write,
    and the CDF write share one pass over the candidates."""
    from delta_spark.commands.delete import mask_rows_with_dvs
    from delta_spark.reader import (
        _base_row_id_expr,
        materialized_row_commit_col,
        materialized_row_id_col,
        read_files_with_index,
    )

    txn = log_txn
    snapshot = txn.snapshot
    if not candidates:
        return txn.commit([], "UPDATE", {"predicate": cond},
                          {"numUpdatedRows": "0"})
    row_tracked = str(cfg.get("delta.enableRowTracking",
                              "false")).lower() == "true"
    visible = read_files_with_index(spark, snapshot, candidates,
                                    request_materialized_row_id=row_tracked)
    matched = visible.filter(cond_sql).persist()
    try:
        positions = matched.selectExpr("__file_base AS file_base",
                                       "__row_idx AS row_index")
        dv_adds, removes, updated_rows = mask_rows_with_dvs(
            spark, txn, candidates, positions)
        if updated_rows == 0 and not removes:
            return txn.commit([], "UPDATE", {"predicate": cond},
                              {"numUpdatedRows": "0"})

        texts = _post_update_texts(upd, schema_cols)
        out = matched
        if row_tracked:
            # updated rows KEEP their stable id (materialized value,
            # else default baseRowId+position) and take the new
            # commit's row-commit-version (null → default)
            mat = materialized_row_id_col(snapshot)
            matv = materialized_row_commit_col(snapshot)
            if mat is not None:
                out = out.withColumn("__base_row_id", _base_row_id_expr(
                    snapshot, candidates, "__file_base", "__row_idx"))
                texts.append(f"coalesce({quote_ident(mat)}, __base_row_id) "
                             f"AS {quote_ident(mat)}")
            if matv is not None:
                texts.append(f"CAST(NULL AS BIGINT) AS {quote_ident(matv)}")
        new_adds = write_table_files(
            apply_generated_after_update(out.selectExpr(*texts),
                                         snapshot.schema, upd), snapshot)

        cdc = []
        if cdf_enabled(cfg):
            cdc = _write_update_cdf(matched, upd, schema_cols, snapshot)
    finally:
        matched.unpersist()

    metrics = {
        "numRemovedFiles": str(len(removes)),
        "numDeletionVectorsAdded": str(len(dv_adds)),
        "numAddedFiles": str(len(new_adds)),
        "numUpdatedRows": str(updated_rows),
    }
    return txn.commit(list(dv_adds) + list(new_adds) + list(removes) + list(cdc),
                      "UPDATE", {"predicate": cond}, metrics)

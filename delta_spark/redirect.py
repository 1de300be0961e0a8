"""Table redirects (reference redirect/TableRedirect.scala, preview
features ``redirectReaderWriter-preview`` / ``redirectWriterOnly-preview``).

A redirect moves a table: the SOURCE keeps a tombstone log whose
metadata carries a redirect configuration, and clients route queries
to the DESTINATION. The configuration is a JSON table property::

    delta.redirectReaderWriter-preview = {
      "type": "PathBasedRedirect",
      "state": "REDIRECT-READY",
      "spec": {"sourcePath": "/.../src", "destPath": "/.../dest"},
      "noRedirectRules": [{"allowedOperations": ["VACUUM"]}]
    }

State machine (TableRedirect.scala:55):

    NO-REDIRECT -> ENABLE-REDIRECT-IN-PROGRESS -> REDIRECT-READY
                -> DROP-REDIRECT-IN-PROGRESS -> NO-REDIRECT
    (ENABLE-REDIRECT-IN-PROGRESS -> NO-REDIRECT aborts an enable)

Semantics implemented:

- ENABLE-REDIRECT-IN-PROGRESS: reads on the source are fine; every
  write/metadata commit is aborted except the state transition itself.
- REDIRECT-READY: ``DeltaTable.forPath`` on the source resolves to the
  destination (reads AND writes route); direct commits against the
  source log are refused unless a ``noRedirectRules`` entry allows the
  operation (optionally per application name).
- DROP-REDIRECT-IN-PROGRESS: routing stops (new queries read the
  source), writes are aborted until the drop completes.

``redirectWriterOnly-preview`` is intentionally NOT in this engine's
supported writer features: a client that does not implement writer
redirection must fail closed on writes and stay open for reads —
exactly what the protocol's writer-feature gating provides.
"""

from __future__ import annotations

import json
from typing import Optional

REDIRECT_RW_PROP = "delta.redirectReaderWriter-preview"
REDIRECT_WO_PROP = "delta.redirectWriterOnly-preview"
RW_FEATURE = "redirectReaderWriter-preview"

NO_REDIRECT = "NO-REDIRECT"
ENABLE_IN_PROGRESS = "ENABLE-REDIRECT-IN-PROGRESS"
READY = "REDIRECT-READY"
DROP_IN_PROGRESS = "DROP-REDIRECT-IN-PROGRESS"

_TRANSITIONS = {
    (NO_REDIRECT, ENABLE_IN_PROGRESS),
    (ENABLE_IN_PROGRESS, READY),
    (ENABLE_IN_PROGRESS, NO_REDIRECT),
    (READY, DROP_IN_PROGRESS),
    (DROP_IN_PROGRESS, NO_REDIRECT),
}


class RedirectStateError(Exception):
    """A commit violated the redirect state machine."""


def redirect_config(configuration: Optional[dict]) -> Optional[dict]:
    """Parsed redirect configuration of the readerWriter flavor, or
    None. {'state', 'spec': {'sourcePath','destPath'}, 'rules': [...]}"""
    raw = (configuration or {}).get(REDIRECT_RW_PROP)
    if not raw:
        return None
    try:
        d = json.loads(raw) if isinstance(raw, str) else dict(raw)
    except (ValueError, TypeError):
        raise RedirectStateError(
            f"invalid {REDIRECT_RW_PROP} value: not JSON")
    if d.get("type") != "PathBasedRedirect":
        raise RedirectStateError(
            f"unsupported redirect type {d.get('type')!r} "
            f"(only PathBasedRedirect)")
    spec = d.get("spec") or {}
    if isinstance(spec, str):
        spec = json.loads(spec)
    return {"state": d.get("state", NO_REDIRECT), "spec": spec,
            "rules": d.get("noRedirectRules") or []}


def resolve_read_path(table_path: str,
                      configuration: Optional[dict]) -> Optional[str]:
    """Destination path when the table routes queries away (READY)."""
    rc = redirect_config(configuration)
    if rc and rc["state"] == READY:
        dest = rc["spec"].get("destPath")
        if dest and dest != table_path:
            return dest
    return None


def resolve_table_path(path: str) -> str:
    """Apply the single redirect hop for any table-resolution seam
    (DeltaTable.forPath, the delta_py DataSource read legs):
    returns the destination path when `path` is a REDIRECT-READY
    source, else `path` unchanged. Chains are rejected."""
    from delta_spark.log import DeltaLog

    log = DeltaLog.for_table(path)
    if not log.table_exists():
        return path
    # metadata-class only: resolving a redirect must not materialize
    # the table's file state (a 10⁶-file table pays seconds of driver
    # replay for a config lookup otherwise)
    dest = resolve_read_path(log.table_path,
                             log._light_meta().configuration)
    if dest is None:
        return path
    dest_log = DeltaLog.for_table(dest)
    if not dest_log.table_exists():
        raise RedirectStateError(
            f"redirect destination {dest} is not a delta table")
    if resolve_read_path(dest_log.table_path,
                         dest_log._light_meta().configuration):
        raise RedirectStateError(
            f"redirect chains are not allowed: {dest} redirects again")
    return dest_log.table_path


def _rule_allows(rules: list, operation: str, app_name: Optional[str]) -> bool:
    for rule in rules:
        rule_app = rule.get("appName")
        if rule_app and rule_app != app_name:
            continue
        if operation in (rule.get("allowedOperations") or []):
            return True
    return False


def check_commit(old_cfg: Optional[dict], new_cfg: Optional[dict],
                 operation: str, app_name: Optional[str] = None) -> None:
    """Commit gate (TableRedirect state rules): called with the table's
    pre-commit configuration and the configuration the commit would
    leave behind. State transitions themselves are the only metadata
    commits allowed out of a non-quiescent state."""
    old = redirect_config(old_cfg)
    new = redirect_config(new_cfg)
    old_state = old["state"] if old else NO_REDIRECT
    new_state = new["state"] if new else NO_REDIRECT
    if old_state != new_state:
        if (old_state, new_state) not in _TRANSITIONS:
            raise RedirectStateError(
                f"invalid redirect state transition "
                f"{old_state} -> {new_state}")
        return  # a legal transition commit is always allowed
    if old_state == NO_REDIRECT:
        return
    if old_state == READY:
        if _rule_allows(old["rules"], operation, app_name):
            return
        raise RedirectStateError(
            f"table is redirected (REDIRECT-READY): {operation} must run "
            f"against the destination {old['spec'].get('destPath')!r}; "
            f"direct commits on the source are refused unless a "
            f"noRedirectRules entry allows them")
    raise RedirectStateError(
        f"table redirection is {old_state}: only read-only queries are "
        f"allowed until the transition completes")


def _set_state(log, state: Optional[str], spec: dict,
               rules: Optional[list] = None) -> int:
    from dataclasses import replace

    from delta_spark.transaction import OptimisticTransaction

    txn = OptimisticTransaction(log)
    m = txn.metadata
    if m is None:
        raise ValueError("table does not exist")
    cfg = dict(m.configuration or {})
    if state is None:
        cfg.pop(REDIRECT_RW_PROP, None)
    else:
        cfg[REDIRECT_RW_PROP] = json.dumps({
            "type": "PathBasedRedirect", "state": state, "spec": spec,
            **({"noRedirectRules": rules} if rules else {})})
    return txn.commit([replace(m, configuration=cfg)],
                      "SET TBLPROPERTIES",
                      {"redirectState": state or NO_REDIRECT})


def enable_redirect(src_path: str, dest_path: str,
                    rules: Optional[list] = None) -> int:
    """NO-REDIRECT → ENABLE-REDIRECT-IN-PROGRESS on the source table."""
    from delta_spark.log import DeltaLog

    log = DeltaLog.for_table(src_path)
    spec = {"sourcePath": log.table_path, "destPath": dest_path}
    return _set_state(log, ENABLE_IN_PROGRESS, spec, rules)


def complete_redirect(src_path: str) -> int:
    """ENABLE-REDIRECT-IN-PROGRESS → REDIRECT-READY."""
    from delta_spark.log import DeltaLog

    log = DeltaLog.for_table(src_path)
    rc = redirect_config(log.update().configuration)
    if not rc or rc["state"] != ENABLE_IN_PROGRESS:
        raise RedirectStateError(
            "completeRedirect requires ENABLE-REDIRECT-IN-PROGRESS")
    return _set_state(log, READY, rc["spec"], rc["rules"])


def start_drop_redirect(src_path: str) -> int:
    """REDIRECT-READY → DROP-REDIRECT-IN-PROGRESS."""
    from delta_spark.log import DeltaLog

    log = DeltaLog.for_table(src_path)
    rc = redirect_config(log.update().configuration)
    if not rc or rc["state"] != READY:
        raise RedirectStateError("dropRedirect requires REDIRECT-READY")
    return _set_state(log, DROP_IN_PROGRESS, rc["spec"], rc["rules"])


def finish_drop_redirect(src_path: str) -> int:
    """DROP-REDIRECT-IN-PROGRESS → NO-REDIRECT (property removed)."""
    from delta_spark.log import DeltaLog

    log = DeltaLog.for_table(src_path)
    rc = redirect_config(log.update().configuration)
    if not rc or rc["state"] != DROP_IN_PROGRESS:
        raise RedirectStateError(
            "finishDropRedirect requires DROP-REDIRECT-IN-PROGRESS")
    return _set_state(log, None, rc["spec"])

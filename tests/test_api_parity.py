"""Python API signature parity vs the reference python/delta/tables.py
(VERDICT r8 task 5).

The reference's public Python surface is extracted by AST-parsing the
reference file (never executed — it is a py4j bridge), and every public
class/method/parameter is asserted to exist here with a compatible
signature: every parameter a reference caller can pass must be accepted
by our method (same name, or **kwargs), and any EXTRA parameter we add
must carry a default so reference call sites keep working unchanged.
Documented deviations are whitelisted explicitly below so the diff is
reviewable rather than silent.
"""

from __future__ import annotations

import ast
import inspect
import os

import pytest

REF_TABLES = "/root/reference/python/delta/tables.py"
REF_CONNECT_TABLES = "/root/reference/python/delta/connect/tables.py"

# The reference surfaces are read from a reference checkout. Without
# one, the tests that compare against it skip (they are not passed);
# a reference file that is present but unparsable still fails loudly.
needs_ref = pytest.mark.skipif(
    not os.path.isfile(REF_TABLES),
    reason=f"reference source {REF_TABLES} absent")
needs_ref_connect = pytest.mark.skipif(
    not os.path.isfile(REF_CONNECT_TABLES),
    reason=f"reference source {REF_CONNECT_TABLES} absent")

# classes the reference exports from delta.tables
REF_CLASSES = ["DeltaTable", "DeltaMergeBuilder", "DeltaTableBuilder",
               "DeltaOptimizeBuilder", "IdentityGenerator"]

# ---------------------------------------------------------------------------
# documented deviations (each entry is a conscious, reviewed gap)
# ---------------------------------------------------------------------------
# method-level: reference methods we deliberately do not expose
METHOD_DEVIATIONS = {
    # none — the full method surface is implemented
}
# parameter-level: (Class.method) -> set of reference params we accept
# only through a different spelling or not at all
PARAM_DEVIATIONS = {
    # hadoopConf passes per-table Hadoop credentials through py4j into
    # the JVM FileSystem — our engine has no JVM seam; per-table fs
    # options are session-level Spark confs instead (DEVIATIONS.md)
    "DeltaTable.forPath": {"hadoopConf"},
}
# default-value-level: (Class.method, param) -> why our default differs
# from the reference's. Empty = every shared default matches; a new
# divergence fails test_api_default_value_parity until reviewed here.
DEFAULT_DEVIATIONS = {
    # none — r9 ADVICE: clone/cloneAtVersion/cloneAtTimestamp isShallow
    # now defaults False (deep) exactly like the reference
}


def _ref_methods(path=None):
    """{Class.method: [param names after self/cls]} from a reference
    file, taking the IMPLEMENTATION def (not @overload stubs)."""
    tree = ast.parse(open(path or REF_TABLES).read())
    out = {}
    for node in tree.body:
        if not (isinstance(node, ast.ClassDef) and node.name in REF_CLASSES):
            continue
        for fn in node.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            if fn.name.startswith("_"):
                continue
            decos = {d.id if isinstance(d, ast.Name)
                     else getattr(d, "attr", None) for d in fn.decorator_list}
            if "overload" in decos:
                continue
            args = fn.args
            names = [a.arg for a in args.posonlyargs + args.args
                     + args.kwonlyargs]
            if names and names[0] in ("self", "cls"):
                names = names[1:]
            n_defaults = len(args.defaults) + sum(
                1 for d in args.kw_defaults if d is not None)
            required = names[:max(0, len(names) - n_defaults)] \
                if not args.kw_defaults else None
            # literal default VALUES (r9 ADVICE: parameter-name parity
            # alone let clone's isShallow default silently diverge).
            # Non-literal defaults (calls, attributes) are skipped —
            # they can't be compared without executing reference code.
            defaults = {}
            pos = args.posonlyargs + args.args
            for a, d in zip(pos[len(pos) - len(args.defaults):],
                            args.defaults):
                try:
                    defaults[a.arg] = ast.literal_eval(d)
                except (ValueError, SyntaxError):
                    pass
            for a, d in zip(args.kwonlyargs, args.kw_defaults):
                if d is None:
                    continue
                try:
                    defaults[a.arg] = ast.literal_eval(d)
                except (ValueError, SyntaxError):
                    pass
            out[f"{node.name}.{fn.name}"] = {
                "params": names,
                "has_varkw": args.kwarg is not None,
                "required": required,
                "defaults": defaults,
            }
    return out


def _our_class(name):
    import delta_spark.table as tbl

    mod_candidates = [tbl]
    import delta_spark as pkg

    mod_candidates.append(pkg)
    for m in mod_candidates:
        if hasattr(m, name):
            return getattr(m, name)
    return None


REF = _ref_methods() if os.path.isfile(REF_TABLES) else {}


@needs_ref
def test_reference_surface_nonempty():
    # guards the parser itself: the reference file has a known-size API
    assert len(REF) >= 47, sorted(REF)


@needs_ref
@pytest.mark.parametrize("key", sorted(REF))
def test_api_signature_parity(key):
    cls_name, meth_name = key.split(".")
    if key in METHOD_DEVIATIONS:
        pytest.skip(f"documented deviation: {METHOD_DEVIATIONS[key]}")
    cls = _our_class(cls_name)
    assert cls is not None, f"class {cls_name} missing from delta_spark"
    meth = inspect.getattr_static(cls, meth_name, None)
    assert meth is not None, f"{key} missing"
    if isinstance(meth, (classmethod, staticmethod)):
        meth = meth.__func__
    sig = inspect.signature(meth)
    ours = [p for p in sig.parameters.values()]
    our_names = [p.name for p in ours if p.name not in ("self", "cls")]
    has_varkw = any(p.kind is inspect.Parameter.VAR_KEYWORD for p in ours)
    has_varpos = any(p.kind is inspect.Parameter.VAR_POSITIONAL
                     for p in ours)
    allowed_missing = PARAM_DEVIATIONS.get(key, set())
    # every reference parameter must be passable here
    for ref_p in REF[key]["params"]:
        if ref_p in allowed_missing:
            continue
        assert (ref_p in our_names or has_varkw or has_varpos), \
            (f"{key}: reference parameter {ref_p!r} not accepted "
             f"(ours: {our_names})")
    # every EXTRA parameter of ours must be optional, so reference
    # call sites (positional or keyword) keep working unchanged
    ref_set = set(REF[key]["params"])
    for p in ours:
        if p.name in ("self", "cls") or p.name in ref_set:
            continue
        if p.kind in (inspect.Parameter.VAR_KEYWORD,
                      inspect.Parameter.VAR_POSITIONAL):
            continue
        assert p.default is not inspect.Parameter.empty, \
            f"{key}: extra required parameter {p.name!r} breaks ref callers"
    # POSITIONAL compatibility: the reference's parameters must appear
    # here in the same relative order as a PREFIX of our positional
    # parameters — an extra param slotted between reference params
    # would silently re-bind positional call sites (e.g. clone(target,
    # False) binding False to a new param instead of isShallow)
    positional = [p.name for p in ours
                  if p.kind in (inspect.Parameter.POSITIONAL_ONLY,
                                inspect.Parameter.POSITIONAL_OR_KEYWORD)
                  and p.name not in ("self", "cls")]
    ref_positional = [p for p in REF[key]["params"]
                      if p not in allowed_missing and p in positional]
    assert positional[:len(ref_positional)] == ref_positional, \
        (f"{key}: positional order diverges — ref {ref_positional} vs "
         f"ours {positional}")


@needs_ref
@pytest.mark.parametrize("key", sorted(REF))
def test_api_default_value_parity(key):
    """Shared parameters must carry the SAME default value as the
    reference (r9 ADVICE: clone's isShallow defaulted True here vs
    False in the reference and the name-only parity gate passed it)."""
    cls_name, meth_name = key.split(".")
    if key in METHOD_DEVIATIONS:
        pytest.skip(f"documented deviation: {METHOD_DEVIATIONS[key]}")
    cls = _our_class(cls_name)
    meth = inspect.getattr_static(cls, meth_name, None)
    if meth is None:
        pytest.skip("covered by test_api_signature_parity")
    if isinstance(meth, (classmethod, staticmethod)):
        meth = meth.__func__
    ours = inspect.signature(meth).parameters
    for name, ref_default in REF[key]["defaults"].items():
        if (key, name) in DEFAULT_DEVIATIONS:
            continue
        p = ours.get(name)
        if p is None or p.default is inspect.Parameter.empty:
            continue  # name-level parity handles presence/optionality
        same = (p.default is None if ref_default is None
                else p.default == ref_default
                and type(p.default) is type(ref_default))
        assert same, (f"{key}: default for {name!r} diverges — ref "
                      f"{ref_default!r} vs ours {p.default!r}")


def test_delta_package_shim_end_to_end(spark, tmp_path):
    """The `delta` compat package: a reference user's imports work
    verbatim — `from delta.tables import DeltaTable`,
    `configure_spark_with_delta_pip`, `delta.exceptions` — backed by
    delta_spark, and drive a real table end-to-end."""
    import delta
    from delta.exceptions import (
        ConcurrentAppendException,
        ConcurrentWriteException,
        DeltaConcurrentModificationException,
    )
    from delta.pip_utils import configure_spark_with_delta_pip
    from delta.tables import DeltaMergeBuilder, DeltaTable

    assert delta.__version__
    assert delta.DeltaTable is DeltaTable
    # reference exception hierarchy: every specific conflict is
    # catchable via the reference base name
    assert issubclass(ConcurrentAppendException,
                      DeltaConcurrentModificationException)
    assert issubclass(ConcurrentWriteException,
                      DeltaConcurrentModificationException)
    # configure_spark_with_delta_pip returns a usable builder
    from pyspark.sql import SparkSession

    b = configure_spark_with_delta_pip(SparkSession.builder,
                                       extra_packages=["org.example:x:1.0"])
    assert b is not None

    p = str(tmp_path / "shimtbl")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.format("parquet") \
        .save(p + "_src")
    src = spark.read.parquet(p + "_src")
    from delta_spark.io import write_delta

    write_delta(src, p)
    dt = DeltaTable.forPath(spark, p)
    mb = dt.merge(src.selectExpr("id", "v + 1 AS v"),
                  "target.id = source.id")
    assert isinstance(mb, DeltaMergeBuilder)
    mb.whenMatchedUpdateAll().execute()
    assert dt.toDF().filter("v = id * 2 + 1").count() == 5


# ---------------------------------------------------------------------------
# Spark Connect reference surface (python/delta/connect/tables.py):
# the reference ships a SECOND DeltaTable client for Connect sessions;
# this engine serves both kinds with one class, so the connect file's
# API must be signature-compatible with ours too (VERDICT r9 #6).
# ---------------------------------------------------------------------------
REF_CONNECT = (_ref_methods(REF_CONNECT_TABLES)
               if os.path.isfile(REF_CONNECT_TABLES) else {})

# connect-file parameters we accept under a different contract
CONNECT_PARAM_DEVIATIONS = {
    # same py4j credential seam as the classic file
    "DeltaTable.forPath": {"hadoopConf"},
}


@needs_ref_connect
def test_connect_reference_surface_nonempty():
    assert len(REF_CONNECT) >= 35, sorted(REF_CONNECT)


@needs_ref_connect
@pytest.mark.parametrize("key", sorted(REF_CONNECT))
def test_connect_api_signature_parity(key):
    """Every public method of the reference's CONNECT client exists
    here with every reference parameter accepted — the connect import
    shim (delta/connect/tables.py) re-exports these same classes."""
    cls_name, meth_name = key.split(".")
    import delta.connect.tables as shim

    cls = getattr(shim, cls_name, None)
    assert cls is not None, f"{cls_name} missing from delta.connect.tables"
    meth = inspect.getattr_static(cls, meth_name, None)
    assert meth is not None, f"{key} (connect reference API) missing"
    if isinstance(meth, (classmethod, staticmethod)):
        meth = meth.__func__
    sig = inspect.signature(meth)
    our_names = [p.name for p in sig.parameters.values()
                 if p.name not in ("self", "cls")]
    has_var = any(p.kind in (inspect.Parameter.VAR_KEYWORD,
                             inspect.Parameter.VAR_POSITIONAL)
                  for p in sig.parameters.values())
    allowed = CONNECT_PARAM_DEVIATIONS.get(key, set())
    for ref_p in REF_CONNECT[key]["params"]:
        if ref_p in allowed:
            continue
        assert ref_p in our_names or has_var, \
            f"{key}: connect-reference parameter {ref_p!r} not accepted"
    # shared defaults must match the connect reference too
    ours = sig.parameters
    for name, ref_default in REF_CONNECT[key]["defaults"].items():
        if (key, name) in DEFAULT_DEVIATIONS or name in allowed:
            continue
        p = ours.get(name)
        if p is None or p.default is inspect.Parameter.empty:
            continue
        same = (p.default is None if ref_default is None
                else p.default == ref_default)
        assert same, (f"{key}: connect default for {name!r} diverges — "
                      f"ref {ref_default!r} vs ours {p.default!r}")

"""Spark Connect tier (VERDICT r9 #1/#6).

Three layers, weakest-to-strongest evidence:

1. STATIC AUDIT (always runs): every classic-only Spark API use in
   delta_spark (`sparkContext`, `_jdf`, RDDs) is pinned to an exact
   allowlist — each entry is either routed through
   delta_spark.connect_compat (degrade/fail-loud) or is itself the
   compat seam. A new classic-only call site fails this test until it
   is consciously routed.

2. SIMULATED CONNECT (always runs): connect_compat's behaviors are
   exercised against a stand-in whose type lives in the
   pyspark.sql.connect module namespace — the same duck-typing the
   production code uses — so the fallbacks (shuffle-width sizing,
   client-side VACUUM listing, alias from the client plan, fail-closed
   errors) are verified without a grpc stack.

3. LIVE CONNECT (`-m connect`): the real suite against
   `SparkSession.builder.remote(...)`. Requires grpcio (and Spark's
   Connect server jars) which this sandbox does not ship —
   pytest.importorskip makes the whole layer SKIP, not pass, so the
   evidence gap stays visible. DEVIATIONS.md #13 records the matrix.
"""

from __future__ import annotations

import os
import re

import pytest

import delta_spark.connect_compat as cc

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_CONNECT_TABLES = "/root/reference/python/delta/connect/tables.py"


# ---------------------------------------------------------------------------
# 1. static audit
# ---------------------------------------------------------------------------

# file -> exact set of classic-only call markers allowed there, with
# the reason each survives under Connect
CLASSIC_ONLY_ALLOWLIST = {
    "delta_spark/connect_compat.py": {
        "sparkContext.defaultParallelism",  # the compat seam itself
        "_jdf.queryExecution",              # docstring naming the seam
    },
    "delta_spark/session.py": {
        "sparkContext.setLogLevel",         # guarded by is_connect()
    },
    "delta_spark/commands/maintenance.py": {
        "sparkContext\n           .parallelize",  # connect branch walks client-side
    },
    "delta_spark/commands/merge.py": {
        "_jdf.queryExecution",              # connect branch: materialize (fail-safe)
    },
    "delta_spark/table.py": {
        "_jdf.queryExecution",              # connect branch: client-plan alias
    },
    "delta_spark/ops/util.py": {
        ".rdd",                             # guarded by is_connect(): input
                                            # partition-count probe for the
                                            # spread-to-width no-op-at-scale
                                            # guard (r10 optimization)
    },
}

_PATTERNS = [
    re.compile(r"\.sparkContext\b[\s\S]{0,30}"),
    re.compile(r"\b_jdf\b"),
    re.compile(r"\b_jvm\b"),
    re.compile(r"\b_jsc\b"),
    re.compile(r"\.rdd\b"),
]


def test_classic_only_api_sites_are_pinned():
    found: dict[str, set[str]] = {}
    for root, _, files in os.walk(os.path.join(REPO, "delta_spark")):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, REPO)
            src = open(path).read()
            hits = set()
            for pat in _PATTERNS:
                for m in pat.finditer(src):
                    frag = m.group(0)
                    if "_jdf" in frag:
                        hits.add("_jdf.queryExecution")
                    elif "applicationId" in frag:
                        hits.add("sparkContext.applicationId")
                    elif "setLogLevel" in frag:
                        hits.add("sparkContext.setLogLevel")
                    elif "defaultParallelism" in frag:
                        hits.add("sparkContext.defaultParallelism")
                    elif "parallelize" in frag:
                        hits.add("sparkContext\n           .parallelize")
                    else:
                        hits.add(frag.strip())
            if hits:
                found[rel] = hits
    assert found == CLASSIC_ONLY_ALLOWLIST, (
        "classic-only Spark API use changed — route new sites through "
        f"delta_spark.connect_compat and update the allowlist.\n{found}")


# ---------------------------------------------------------------------------
# 2. simulated connect
# ---------------------------------------------------------------------------

class _FakeConf:
    def __init__(self, vals):
        self._v = vals

    def get(self, k, default=None):
        if k in self._v:
            return self._v[k]
        if default is None:
            raise KeyError(k)
        return default


def _fake_connect_session(confs=None):
    """An object whose TYPE lives in the pyspark.sql.connect namespace —
    exactly what is_connect() dispatches on."""
    cls = type("SparkSession", (), {"__module__": "pyspark.sql.connect.session"})
    s = cls()
    s.conf = _FakeConf(confs or {})
    return s


def test_is_connect_dispatch(spark):
    assert not cc.is_connect(spark)
    assert not cc.is_connect(spark.range(1))
    assert cc.is_connect(_fake_connect_session())


def test_default_parallelism_both_kinds(spark):
    assert cc.default_parallelism(spark) == \
        spark.sparkContext.defaultParallelism
    s = _fake_connect_session({"spark.sql.shuffle.partitions": "37"})
    assert cc.default_parallelism(s) == 37
    assert cc.default_parallelism(_fake_connect_session()) == 200  # unset


def test_require_classic_fails_loudly(spark):
    cc.require_classic(spark, "X", "y")  # classic: no-op
    with pytest.raises(cc.DeltaConnectUnsupportedError,
                       match="distributed listing.*classic"):
        cc.require_classic(_fake_connect_session(), "distributed listing",
                           "classic only")


def test_connect_df_alias_from_client_plan(spark):
    # classic frames route through the py4j reader, not this helper
    assert cc.connect_df_alias(spark.range(1)) is None

    class SubqueryAlias:  # same shape as pyspark/sql/connect/plan.py
        _alias = "s"

    class DF:
        _plan = SubqueryAlias()

    assert cc.connect_df_alias(DF()) == "s"

    class DFPlain:
        _plan = object()

    assert cc.connect_df_alias(DFPlain()) is None


def test_vacuum_listing_connect_branch(spark, tmp_path, monkeypatch):
    """Under Connect the VACUUM inventory walk has no SparkContext —
    the client-side branch must produce the SAME rows the RDD branch
    does (only sequentially)."""
    from delta_spark.commands import maintenance as mnt

    root = tmp_path / "t"
    (root / "a=1").mkdir(parents=True)
    (root / "a=1" / "f1.parquet").write_bytes(b"x" * 7)
    (root / "f0.parquet").write_bytes(b"y" * 3)
    seeds = sorted(os.listdir(root))

    classic = {tuple(r) for r in mnt._distributed_listing(
        spark, str(root), seeds, ["a"]).collect()}
    monkeypatch.setattr(cc, "is_connect", lambda obj: True)
    connecty = {tuple(r) for r in mnt._distributed_listing(
        spark, str(root), seeds, ["a"]).collect()}
    assert connecty == classic and len(classic) == 2


def test_merge_materializes_under_connect(spark, monkeypatch):
    from delta_spark.commands.merge import _should_materialize_source

    df = spark.range(3)  # deterministic plan: classic says no
    assert not _should_materialize_source(df)
    monkeypatch.setattr(cc, "is_connect", lambda obj: True)
    assert _should_materialize_source(df)  # connect: fail-safe pin


def test_delta_connect_import_surface():
    """Reference import shapes (python/delta/connect/__init__.py):
    `from delta.connect import DeltaTable` and the exceptions module
    registration import must both resolve."""
    import delta.connect
    import delta.connect.exceptions as exc
    import delta.connect.tables as tbls
    from delta.tables import DeltaTable as Classic

    assert delta.connect.DeltaTable is Classic  # one implementation
    assert delta.connect.__all__ == ["DeltaTable"]
    assert tbls.DeltaTable is Classic
    assert "ConcurrentAppendException" in exc.__all__
    assert "DeltaConnectUnsupportedError" in exc.__all__


@pytest.mark.skipif(not os.path.isfile(REF_CONNECT_TABLES),
                    reason=f"reference source {REF_CONNECT_TABLES} absent")
def test_reference_connect_api_is_subset_of_classic():
    """The reference's connect DeltaTable API (minus private/proto
    helpers) must be covered by our single DeltaTable class — AST-pinned
    against python/delta/connect/tables.py (VERDICT r9 #6)."""
    import ast

    from delta.connect.tables import (
        DeltaMergeBuilder, DeltaOptimizeBuilder, DeltaTable,
        DeltaTableBuilder,
    )

    ours = {"DeltaTable": DeltaTable, "DeltaMergeBuilder": DeltaMergeBuilder,
            "DeltaTableBuilder": DeltaTableBuilder,
            "DeltaOptimizeBuilder": DeltaOptimizeBuilder}
    tree = ast.parse(open(REF_CONNECT_TABLES).read())
    checked = 0
    for node in tree.body:
        if not (isinstance(node, ast.ClassDef) and node.name in ours):
            continue
        for fn in node.body:
            if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_"):
                assert hasattr(ours[node.name], fn.name), \
                    f"{node.name}.{fn.name} (reference connect API) missing"
                checked += 1
    assert checked >= 40, checked  # parser sanity: the surface is real


# ---------------------------------------------------------------------------
# 3. live connect (skips without a grpc stack — see module docstring)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def connect_spark():
    pytest.importorskip("grpc", reason="Spark Connect client needs grpcio")
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.remote("local[4]")
         .appName("delta_spark_connect_tests").getOrCreate())
    yield s
    s.stop()


@pytest.mark.connect
def test_connect_batch_write_read_dml(connect_spark, tmp_path):
    from delta.connect import DeltaTable
    from delta_spark.io import write_delta

    p = str(tmp_path / "t")
    write_delta(connect_spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"), p)
    dt = DeltaTable.forPath(connect_spark, p)
    assert dt.toDF().count() == 3
    dt.update({"s": "upper(s)"}, "id = 1")
    dt.delete("id = 3")
    assert {tuple(r) for r in dt.toDF().collect()} == {(1, "A"), (2, "b")}
    assert dt.asOfVersion(0).count() == 3          # time travel
    assert dt.history().count() == 3


@pytest.mark.connect
def test_connect_merge_and_optimize(connect_spark, tmp_path):
    from delta.connect import DeltaTable
    from delta_spark.io import write_delta

    p = str(tmp_path / "t")
    write_delta(connect_spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"), p)
    dt = DeltaTable.forPath(connect_spark, p)
    src = connect_spark.createDataFrame([(2, 99), (5, 50)], "k long, v long")
    (dt.alias("t").merge(src.alias("s"), "t.k = s.k")
       .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
    assert {tuple(r) for r in dt.toDF().collect()} == \
        {(1, 10), (2, 99), (5, 50)}
    dt.optimize().executeCompaction()
    dt.vacuum(0, dry_run=True)

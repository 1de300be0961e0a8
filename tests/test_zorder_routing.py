"""Z-order routing: every clustered rewrite sends each row to its output
file with `repartitionById` on the z-key's file index.

The file bounds are z-key quantiles of a driver sample, so a correct
rewrite writes exactly `n_out` files of about `rows / n_out` rows each.
Rows routed any other way (hashed ids, a coalesced exchange) leave
files empty, doubled or unbalanced, and fail the ±10% check below.
"""

import json
import math

import pytest
from pyspark.sql import DataFrame

from delta_spark.io import write_delta
from delta_spark.log import DeltaLog
from delta_spark.table import DeltaTable

N_OUT = 4
PROBE = "l_orderkey <= 1000 AND l_partkey <= 50"


@pytest.fixture()
def no_range_partitioning(spark, monkeypatch):
    """ZORDER must neither range-partition nor run a distributed
    quantile pass: both would mean a second sampling path. Patched on
    the session's concrete DataFrame class, which overrides the base."""
    def _forbidden(*_a, **_k):
        raise AssertionError("ZORDER must not use range partitioning")

    cls = type(spark.range(0))
    monkeypatch.setattr(cls, "repartitionByRange", _forbidden)
    monkeypatch.setattr(cls, "approxQuantile", _forbidden)


def _lineitem(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select("l_orderkey", "l_partkey", "l_quantity"))


def _size_for(path: str, n_out: int) -> int:
    """max_file_size that makes OPTIMIZE plan exactly n_out files."""
    total = sum(f.size for f in DeltaLog.for_table(path).update().all_files)
    size = -(-total // n_out)
    assert math.ceil(total / size) == n_out
    return size


def _assert_balanced_layout(spark, path: str, expected: DataFrame,
                            n_out: int) -> None:
    DeltaLog.clear_cache()
    snap = DeltaLog.for_table(path).update()
    rows = [json.loads(f.stats)["numRecords"] for f in snap.all_files]
    total = expected.count()
    assert len(rows) == n_out and sum(rows) == total
    per_file = total / n_out
    assert all(abs(r - per_file) <= 0.1 * per_file for r in rows), rows
    got = DeltaTable.forPath(spark, path).toDF().select(*expected.columns)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    assert len(snap.files_for_scan(PROBE)) < n_out


@pytest.mark.parametrize("mode", ["zorder", "cluster"])
def test_clustered_rewrite_writes_balanced_files(spark, tmp_table, sf_dir,
                                                 no_range_partitioning, mode):
    """ZORDER BY and clustering OPTIMIZE each write exactly n_out
    z-curve segments of equal size, keep the content, and let the
    probe predicate skip files."""
    df = _lineitem(spark, sf_dir)
    if mode == "cluster":
        (DeltaTable.create(spark).location(tmp_table)
         .addColumn("l_orderkey", "long").addColumn("l_partkey", "long")
         .addColumn("l_quantity", "double")
         .clusterBy("l_orderkey", "l_partkey").execute())
    write_delta(df.repartition(N_OUT), tmp_table, mode="append")
    size = _size_for(tmp_table, N_OUT)
    builder = DeltaTable.forPath(spark, tmp_table).optimize()
    if mode == "cluster":
        builder.executeCompaction(max_file_size=size)
    else:
        builder.executeZOrderBy("l_orderkey", "l_partkey", max_file_size=size)
    _assert_balanced_layout(spark, tmp_table, df, N_OUT)


def test_zorder_without_file_stats(spark, tmp_path, sf_dir,
                                   no_range_partitioning):
    """A table converted without statistics has no numRecords: the
    row count comes from the data and the same sample-routed path
    still writes n_out balanced files."""
    path = str(tmp_path / "nostats")
    df = _lineitem(spark, sf_dir)
    df.repartition(N_OUT).write.parquet(path)
    DeltaLog.clear_cache()
    DeltaTable.convertToDelta(spark, path, collect_stats=False)
    assert not any(f.stats for f in DeltaLog.for_table(path).update().all_files)
    size = _size_for(path, N_OUT)
    (DeltaTable.forPath(spark, path).optimize()
     .executeZOrderBy("l_orderkey", "l_partkey", max_file_size=size))
    _assert_balanced_layout(spark, path, df, N_OUT)

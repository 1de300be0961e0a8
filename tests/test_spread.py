"""Size-gated expansion spread (round 11): width math and semantic
invariance of the dedup operators under it."""

import pytest
from pyspark.sql import functions as F

from delta_spark.ops.util import spread_to_width


def _docs(spark, n=200, nparts=1):
    rows = [(i, f"tok{i % 37} tok{(i * 7) % 23} common words here "
                f"plus body {i % 11} tail tok{i % 5}") for i in range(n)]
    return (spark.createDataFrame(rows, "doc_id long, text string")
            .repartition(nparts))


def test_spread_width_is_size_gated(spark, tmp_path):
    # parquet-backed frame → Catalyst has a real size estimate
    p = str(tmp_path / "docs.parquet")
    _docs(spark, nparts=1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1
    # huge slot: width clamps to 1 → no repartition
    assert spread_to_width(df, 1 << 60).rdd.getNumPartitions() == 1
    # tiny slot: width rises toward cluster width but never above it
    wide = spread_to_width(df, 1)
    width = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == width
    # already-wide input is left alone even with a tiny slot
    df_wide = _docs(spark, nparts=width)
    assert spread_to_width(df_wide, 1) is df_wide
    # UNKNOWN plan size (LogicalRDD from createDataFrame): falls back
    # to full cluster width — at worst the ungated old behavior
    unknown = _docs(spark, nparts=1)
    assert spread_to_width(unknown, 1 << 60).rdd.getNumPartitions() == width


@pytest.mark.parametrize("op", ["spans", "minhash", "jaccard"])
def test_dedup_ops_invariant_under_partitioning(spark, op):
    """One-split and many-split corpora produce identical results —
    the spread (and any width it picks) cannot change answers."""
    from delta_spark.ops.dedup import (duplicate_spans, jaccard_pairs,
                                       minhash_lsh_pairs)

    def run(df):
        if op == "spans":
            out = duplicate_spans(df, k=3)
            key = ["id", "span_start", "span_end", "n_windows"]
        elif op == "minhash":
            out = minhash_lsh_pairs(df, threshold=0.3)
            key = ["id_a", "id_b", "jaccard"]
        else:
            out = jaccard_pairs(df, threshold=0.3)
            key = ["id_a", "id_b", "jaccard"]
        return sorted(tuple(r) for r in out.select(*key).collect())

    narrow = run(_docs(spark, nparts=1))
    wide = run(_docs(spark, nparts=8))
    assert narrow == wide and len(narrow) > 0

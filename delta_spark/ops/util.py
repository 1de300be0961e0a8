"""Shared helpers for the pipeline operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to_width(df: DataFrame,
                    bytes_per_slot: int | None = None) -> DataFrame:
    """Repartition an UNDER-partitioned frame to cluster width before a
    per-row-expensive expansion (banding/probe UDFs, n-gram explodes).
    A corpus read from one small file is one scan split, so the
    expansion ran as a single serial task (measured: 2x 1.6 s 1-task
    stages on the sf0.1 banding while 31 cores idled — guide §2.6
    stragglers). The shuffle this adds is input-sized, so it only
    fires when the input has fewer splits than the target width — at
    real scale the scan has thousands of splits and this is a no-op.
    Under Connect (no RDD introspection) the input is left as-is.

    ``bytes_per_slot`` makes the width INPUT-SIZED (guide §2.2): width
    = clamp(ceil(input_bytes / bytes_per_slot), 1, cluster width), so a
    tiny corpus is not fanned across every core — measured at sf0.1: a
    5k-doc corpus spread to 32 slots cost +0.5 s of downstream per-task
    scheduling on every read, while 2-4 slots keep the cold
    parallelism win without the tax. Unknown plan size (no estimate)
    falls back to full cluster width — at worst the old behavior."""
    from delta_spark.connect_compat import default_parallelism, is_connect

    if is_connect(df):
        return df
    try:
        nparts = df.rdd.getNumPartitions()
        width = default_parallelism(df.sparkSession)
    except Exception:
        return df
    if bytes_per_slot:
        from delta_spark.connect_compat import plan_size_estimate

        est = plan_size_estimate(df)
        if est is not None:
            width = min(width, max(1, -(-est // int(bytes_per_slot))))
    return df.repartition(width) if nparts < width else df

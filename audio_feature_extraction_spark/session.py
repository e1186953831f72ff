"""SparkSession factory with scale-oriented defaults.

All engine code and tests obtain sessions here so the same conventions hold
everywhere:

- AQE on (runtime coalescing + skew-join splitting) — the 100 TB story depends
  on it; at local scale it also keeps tiny shuffles from fragmenting.
- Arrow on for every pandas-UDF boundary (the engine bans row-at-a-time Python).
- Session timezone pinned to UTC so event-time arithmetic is reproducible
  across engines (parity with the DuckDB oracle, which reads naive timestamps).
- ``spark.sql.shuffle.partitions`` sized to the core count (driver overridable);
  at cluster scale this is expected to be set per-job (AQE coalesces down).
- Python workers start from ``worker_daemon``, which takes Spark's archives
  (``pyspark.zip``, the py4j zip, the spark-core jar) off their ``sys.path``.
  pyspark 4.1's worker invalidates the import caches before every task, and
  on Python 3.11 each cached ``zipimporter`` then re-reads its archive's
  central directory (~27k entries per task). A trivial ``mapInPandas`` task
  (32 partitions, ``local[4]``, 4-core host) cost 0.29-0.30 s of
  Python-worker CPU with the archives and 0.05 s without. The zips leave
  only when directory installs of pyspark and py4j with the same versions
  are importable; jars always leave. The package's parent directory goes on
  the workers' ``PYTHONPATH`` so they can import the daemon whatever the
  JVM's working directory (sessions are ``local[...]`` only).
- pyspark's DataFrame-debugging call-site capture off. With it on (the 4.1
  default), every ``F.*`` call asks the JVM for the active session and a
  conf, sets and clears the Python origin and tries ``import IPython``:
  the flagship pipeline's build made 2,214 py4j round trips with it and 880
  without (4-core host). Errors still raise; they lose only the Python
  file:line of the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package, for the Python workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def get_spark(
    app_name: str = "afe-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """NOTE: ``getOrCreate`` returns any pre-existing in-process session and
    SILENTLY ignores every parameter here (master/cores/memory/extra are
    JVM-start-time settings). Callers that need a specific configuration
    must be the first session in the process — the benchmarks fork a
    subprocess per configuration for exactly this reason."""
    cores = cores or default_cpus()
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing + skew-join mitigation
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere a pandas UDF boundary exists
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # tokens arrays are fat rows: cap scan partition bytes BELOW the
        # 128 MB default so a partition of wide array rows still fits
        # executor memory at high SF (the default would make this a no-op)
        .config("spark.sql.files.maxPartitionBytes", "67108864")
        # ANSI on — the Spark 4 default and what the driver's session runs;
        # engine expressions must be ANSI-safe (try_element_at for possibly-
        # empty arrays, guarded divisions), so the local gate can't mask
        # environment-sensitive crashes (round-1 asof_broadcast lesson)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "audio_feature_extraction_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

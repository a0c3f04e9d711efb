"""SparkSession builder with scale-appropriate defaults.

Single place for the engine's configuration posture (SURVEY.md §4: all novel
logic is kernels + app-level orchestration + *configuration*):

- AQE on (runtime coalesce, skew-join splitting) — the 100 TB plan must adapt
  to real partition sizes, not guessed ones;
- Arrow on, with a bounded batch size so wide ``html BINARY`` rows cannot blow
  executor memory inside ``mapInPandas`` (the reference bounded memory by
  materializing page-by-page with gc.collect(), pdor/pdor_unit.py:145-157;
  our equivalent bound is the Arrow batch);
- 128 MiB file-split target so a 100 TB scan yields ~800k well-sized tasks;
- shuffle partitions default to cores on local mode (overridden by AQE
  coalescing anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app: str = "pdor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    master = _resolve_master(master)
    cores = master.count("*") and os.cpu_count() or _local_n(master)
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Catalyst hands filters to the Python DataSource planner
        # (sources/spark_datasource.py pushFilters → manifest pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # metastore artifacts (bucketed saveAsTable) stay out of the repo tree
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/pdor_spark_warehouse"))
        .config("spark.driver.extraJavaOptions",
                "-Dderby.system.home=/tmp/pdor_spark_metastore")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _resolve_master(master: str | None) -> str:
    """Explicit *master*, else ``SPARK_GRAFT_MASTER``, else ``local[N]`` with N
    from ``SPARK_GRAFT_CPUS`` or the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the host's memory within 1g-8g."""
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(max(half_gib, 1), 8)}g"


def _local_n(master: str) -> int:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner.isdigit():
            return int(inner)
    return os.cpu_count() or 8

"""SparkSession factory with scale-tuned defaults.

Defaults are chosen for the 100 TB posture (SURVEY.md §4 "Physical profile"):
AQE on (runtime shuffle re-planning, skew-join handling), partial aggregation
and broadcast joins left to Catalyst, Arrow for the Python boundary, UTC
session timezone so timestamp semantics are stable across engines.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on); on a real cluster the same code runs unchanged —
only ``master`` and memory sizing move to spark-submit / cluster conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the size of this process's CPU
    affinity mask (the cores it can actually use, not the host's)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "data-wrangling-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    At cluster scale, ``spark.sql.shuffle.partitions`` should be ~2-3x total
    cores and is superseded at runtime by AQE partition coalescing, which we
    enable; at 100 TB the initial number only bounds the *maximum* shuffle
    fan-out, so a generous default is safe.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- adaptive execution: runtime re-planning, coalescing, skew join
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size coalesced partitions for task efficiency, not max parallelism:
        # at small inputs this collapses 32 near-empty shuffle tasks into a
        # few right-sized ones; at large inputs the advisory partition size
        # governs either way
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # advisory target 16m, not Spark's 64m default: with
        # parallelismFirst=false, 64m coalesces a ~300 MB window/join
        # shuffle down to 4-5 tasks and strands the other cores — the
        # round-5 multi-scale bench measured the as-of join 3.2x slower
        # and TPC-H Q3 2.8x slower at 20x sf0.1 under 64m, with 16m also
        # FASTER at sf0.1 itself (the near-empty-task collapse still
        # happens; only the over-merge stops). Since coalescing can only
        # merge below the initial spark.sql.shuffle.partitions (sized to
        # cores), a small advisory here means "merge near-empty
        # partitions, never below core count's worth of work" — the
        # cluster-safe reading of the same setting.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # --- scan granularity: 128 MB splits keep partitions memory-friendly
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- Python boundary is Arrow-batched everywhere
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic timestamp semantics for the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # --- quiet the local UI
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # local-mode heap sizing (no-op once the JVM exists): Spark's 1g
    # default driver heap is the first scale cliff a single-JVM local
    # run hits — 32 concurrent hash-agg tasks get ~18 MB of execution
    # memory each and large-SF aggregates die with UNABLE_TO_ACQUIRE_
    # MEMORY (found at the 100x scale point, see 104d720:SCALING.md).
    # On a real cluster this is spark-submit's --executor-memory, not
    # code.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

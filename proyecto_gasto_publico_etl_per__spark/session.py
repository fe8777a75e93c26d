"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the 100 TB design point (and harmless locally):

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — replaces every hand-tuned batch-size constant the
  reference carries (chunk=300k rows, batch=250k, subbatch=50k; see
  ``ETL Gasto publico Perú/etl/transformar_mensual.py:110`` and
  ``etl/cargar_postgres.py:29-30``).
- UTC session timezone so date/timestamp semantics match the DuckDB oracle.
- Arrow enabled for any pandas interchange (extensions only; the core
  engine needs zero Python UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # pinned, not inherited: junk-to-number coercion is explicit try_cast
    # everywhere, and an overflowing sum must raise rather than wrap
    "spark.sql.ansi.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # dims in this engine are broadcast-sized by construction (SURVEY.md §1.4);
    # raise the threshold so Catalyst never degrades a dim join to SMJ.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # the default 4 MiB open-cost floor caps scan parallelism on small-to-
    # medium files (a 10 MB file → 3 splits on 32 cores); 512 KiB is a
    # truer per-file open cost on modern storage.  At 100 TB the 128 MiB
    # maxPartitionBytes above governs instead, so this only affects the
    # small-file end.
    "spark.sql.files.openCostInBytes": str(512 * 1024),
    # spark.sql.shuffle.partitions is scale-dependent and therefore
    # PARAMETERISED via SPARK_GRAFT_SHUFFLE_PARTITIONS — resolved
    # INSIDE get_spark (round-16 advice: an import-time read silently
    # ignored later env changes and a junk value only failed deep in
    # session build), validated there as a positive int.  32 is the
    # local default (matches the dev box's cores; AQE coalescing
    # handles anything smaller); a cluster deploy sets the env so
    # post-shuffle partitions land in the 100 MB-1 GB band the
    # optimization guide §2.2 prescribes (e.g. ~100k for a 100 TB
    # shuffle at 1 GB targets) instead of inheriting a local constant.
    # local[N] runs the driver AND all N executor threads in ONE JVM whose
    # heap defaults to 1g — 32 threads sharing 1g explains GC-locker
    # stalls and an OOM observed on a 10×-sf0.1 corpus (round 5).  8g is
    # still conservative on the 128 GiB dev box; a cluster deploy sets
    # its own driver/executor memory via spark-submit and this only
    # applies when the session is built by this factory (i.e. local).
    # NOTE: driver memory is JVM-launch-time config — it has no effect if
    # a JVM already exists in the process (getOrCreate reuse).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _positive_int_env(name: str, default: int) -> int:
    """Resolve an integer tuning env var at session-build time with a
    clear error — a junk value must fail HERE, naming the variable, not
    as an opaque Spark conf parse error later."""
    raw = os.environ.get(name)
    if raw is None or not raw.strip():
        return default
    try:
        val = int(raw)
    except ValueError:
        raise ValueError(
            f"{name}={raw!r} is not an integer"
        ) from None
    if val <= 0:
        raise ValueError(f"{name}={raw!r} must be a positive integer")
    return val


def get_spark(
    app_name: str = "gasto_engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster manager is configured — on a real cluster, leave it to
    spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        _positive_int_env("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32)
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

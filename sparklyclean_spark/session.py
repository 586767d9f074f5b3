"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the config below is chosen so the
same logical plans survive a 1000-executor / 100 TB deployment:
AQE on (runtime coalesce + skew-join splitting), adaptive broadcast,
Arrow for every pandas interchange, and shuffle-partition counts that
AQE re-sizes from runtime statistics rather than a hardcoded guess.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for the local[32] test harness; on a real cluster the
# site config (executor memory, dynamic allocation, shuffle service)
# overrides these — nothing here pins local mode.
_DEFAULTS = {
    # AQE: runtime partition coalescing, skew-join splitting, and
    # join-strategy re-planning from actual sizes. Core to surviving
    # skew at 100 TB without hand-tuning.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for every pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Starting shuffle width; AQE coalesces down from this.
    "spark.sql.shuffle.partitions": "32",
    # Bound per-task input so a 100 TB scan yields sane task counts.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Broadcast dimension tables aggressively (region/nation/etc.).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Deterministic timestamp semantics across JVMs.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}

# Local mode runs driver+executor in ONE JVM: an undersized heap turns
# heavy operators into GC storms, an oversized one outgrows the host (a
# fixed 48g heap was once OOM-killed mid-suite on a 16 GB host). So the
# heap is half of physical memory, at most 48g, and -Xms (early heap
# growth kept off the first heavy query's critical path) a quarter of
# the heap, at most 8g. On a real cluster spark-submit overrides both.
_MAX_HEAP_MIB, _MAX_XMS_MIB = 48 * 1024, 8 * 1024


def session_conf(
    extra_conf: dict[str, str] | None = None, phys_mib: int | None = None
) -> dict[str, str]:
    """The session's config: ``_DEFAULTS``, a driver heap sized from
    ``phys_mib`` (default: this host's physical memory), then
    ``extra_conf``. A caller that sets ``spark.driver.memory`` gets no
    ``-Xms`` from here (the JVM's own initial size never exceeds the
    heap), so lowering only the heap still gives a JVM that starts. The
    larger code cache keeps a session of many distinct codegen'd plans
    from filling the JIT's default 240 MB and running hot loops
    interpreted."""
    if phys_mib is None:
        phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    extra = extra_conf or {}
    heap = min(phys_mib // 2, _MAX_HEAP_MIB)
    jvm = "-XX:ReservedCodeCacheSize=1g"
    if "spark.driver.memory" not in extra:
        jvm += f" -Xms{min(heap // 4, _MAX_XMS_MIB)}m"
    conf = {**_DEFAULTS, "spark.driver.memory": f"{heap}m", "spark.driver.extraJavaOptions": jvm}
    return {**conf, **extra}


def get_spark(
    app_name: str = "sparklyclean_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster leave it unset and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in session_conf(extra_conf).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

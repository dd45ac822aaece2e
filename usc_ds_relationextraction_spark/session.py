"""SparkSession factory tuned for the KG-construction workload.

Defaults assume the sandbox (single JVM, ``local[N]``) but every knob is
what we would ship to a 1000-executor cluster: AQE on (runtime coalesce +
skew-join splitting), Arrow transport for the pandas-UDF surface, and a
shuffle-partition count sized from parallelism rather than the 200 default.

Case mapping (``lower``/``upper``) runs on the JVM's own tables, not ICU
(``spark.sql.icu.caseMappings.enabled=false``).  With ICU, the first case
mapping in each JVM loads ICU's data first: a first ``upper()`` over 8
rows took 1.72 s with ICU and 0.18-0.21 s without (``local[4]``, two
fresh JVMs each, 4-vCPU host).  In the
KG pipeline that first call is ``kg_components``' alias blocking, so the
stall held every task slot while ``kg_entities`` and ``kg_edges`` waited.
The two agree on every alias in the KB fixtures (ASCII; tested), and
differ only on a few special-cased non-ASCII strings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 16g, in megabytes."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 16 << 30) >> 20}m"


def get_spark(
    app_name: str = "usc-ds-re-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    host's CPU count).  ``shuffle_partitions`` defaults to the core count —
    at cluster scale you would set 2-3x total cores; AQE coalesces small
    partitions either way.  The driver heap is ``$SPARK_DRIVER_MEM``
    (default: half the host's physical memory, at most 16g).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, join demotion
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the only sanctioned Python<->JVM data path (no per-row UDFs)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: keep splits reasonable for the sandbox; on a real
        # cluster this stays default (128m) — files there are much larger
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # broadcast threshold: the KB alias dict / type dims are small
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()))
        .config("spark.sql.session.timeZone", "UTC")
        # JVM case mapping: no ICU start-up stall on a JVM's first lower()
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

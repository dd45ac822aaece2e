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

The local file system (``file:``) is ``jvm/InProcessLocalFileSystem``,
compiled on first use: without the native Hadoop library, Hadoop's own
spawns a ``chmod`` process for every directory and most files a write
makes (about 290 per ``kg_batch`` build), and each spawn briefly clones
the Spark JVM.  It applies only to a JVM this function launches, and
only where ``javac`` can build the class; elsewhere Hadoop's stays.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_LOCAL_FS = "usc_ds_relationextraction_spark.jvm.InProcessLocalFileSystem"
_LOCAL_FS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "jvm", "InProcessLocalFileSystem.java")


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 16g, in megabytes."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 16 << 30) >> 20}m"


def _local_fs_classes() -> str | None:
    """Class directory of the in-process local file system, built next to
    its source once per source version; None where it cannot be built
    (no ``javac``, no Spark jars, a read-only or zipped package)."""
    try:
        with open(_LOCAL_FS_SRC, "rb") as fh:
            digest = hashlib.sha1(fh.read()).hexdigest()[:12]
    except OSError:
        return None
    out = os.path.join(os.path.dirname(_LOCAL_FS_SRC), "build-" + digest)
    if os.path.isdir(out):
        return out
    javac = shutil.which("javac")
    jars = glob.glob(os.path.join(_find_spark_home(), "jars",
                                  "hadoop-client-api-*.jar"))
    if javac is None or not jars:
        return None
    try:
        tmp = tempfile.mkdtemp(prefix=".build-",
                               dir=os.path.dirname(_LOCAL_FS_SRC))
    except OSError:
        return None
    try:
        # class format 61: loads on any JVM Spark 4 runs on (17+)
        subprocess.run([javac, "--release", "17", "-nowarn", "-cp", jars[0],
                        "-d", tmp, _LOCAL_FS_SRC],
                       check=True, capture_output=True)
        os.rename(tmp, out)  # a concurrent build that finished first wins
    except (OSError, subprocess.CalledProcessError):
        pass
    shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


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
    extra_conf = dict(extra_conf or {})
    # a running JVM (this process's, or spark-submit's) keeps its classpath
    launches_jvm = SparkContext._gateway is None \
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    fs_classes = _local_fs_classes() if launches_jvm else None
    if fs_classes is not None:
        key = "spark.driver.extraClassPath"
        extra_conf[key] = os.pathsep.join(
            p for p in (extra_conf.get(key), fs_classes) if p)
        builder = builder.config("spark.hadoop.fs.file.impl", _LOCAL_FS)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

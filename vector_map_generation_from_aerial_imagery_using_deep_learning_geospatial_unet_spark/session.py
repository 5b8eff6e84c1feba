"""SparkSession factory with the engine's physical-execution policy baked in.

Scale posture (SURVEY.md §4): AQE on (runtime coalesce + skew-join splitting),
Arrow on (every kernel crosses JVM<->Python as Arrow batches, never per-row),
shuffle partitions sized for the sandbox but overridable for a real cluster.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

MIB = 1 << 20


def default_driver_memory() -> str:
    """Half of physical memory, capped at 16g: the driver heap of a local
    session shares the host with its Python workers, and a heap larger
    than RAM is only found out when the host starts swapping."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(phys // 2, 16 << 30) // MIB}m"


# ``local`` / ``local[N]`` / ``local[N,F]``, not ``local-cluster[...]``,
# whose executors are separate JVMs.
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _daemon_can_import() -> bool:
    """Whether a Python worker can import the engine when its daemon starts.

    Spark starts the daemon before any task, so before ``--py-files`` or
    ``addPyFile`` reach ``sys.path``.  A local worker runs in the driver's
    working directory with the driver's ``PYTHONPATH``, so it can import
    the engine only when the package was loaded from a plain directory
    that is one of those."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, __package__)):  # inside a zip
        return False
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == os.path.realpath(root) for p in paths)


def get_spark(
    app_name: str = "geospatial-unet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Master precedence: explicit arg > SPARK_GRAFT_MASTER env > whatever
    # spark-submit / spark-defaults configured > local[*] fallback.  Never
    # unconditionally call .master(): that would override spark-submit's
    # --master and silently run cluster submissions single-node local.
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    submitted = None
    if master is None:
        from pyspark import SparkConf

        submitted = SparkConf().get("spark.master", None)
        if submitted is None:
            master = "local[*]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    b = (
        b
        # Adaptive execution: runtime shuffle coalescing + skew-join splitting
        # (engine policy for densely built-up cells, SURVEY.md §4.2).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the only JVM<->Python channel we use.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pixel payloads cross the pipe compressed (png-1, ~100x for masks),
        # so 256-row input batches stay well under executor memory while
        # keeping per-batch Python overhead amortized for small-row joins;
        # maxBytesPerBatch caps the Python->JVM direction by bytes
        # regardless of row width.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "134217728")
        # Pixel payloads are wide; keep scan splits moderate.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if _LOCAL_MASTER.fullmatch(master or submitted) and _daemon_can_import():
        # Python workers fork from the engine's daemon, which stops every
        # task from re-reading pyspark.zip's directory (see workerd.py).
        b = b.config("spark.python.daemon.module", f"{__package__}.workerd")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

"""SparkSession factory.

The reference caches a single MongoDB client per process
(``app.py:18-23`` @st.cache_resource); the Spark analogue is one tuned
SparkSession per process. Configuration is chosen for the 100 TB design
target while remaining correct on local[N]:

- AQE on: runtime coalescing of shuffle partitions, broadcast-join
  conversion, and skew-join splitting replace any hand-tuning.
- ``spark.sql.shuffle.partitions`` seeds the pre-AQE plan; AQE coalesces
  down on small inputs and a real cluster would raise it (rule of thumb:
  ~2-3x total cores, partitions sized 100-200 MB post-compression).
- Arrow enabled for ``toPandas`` / pandas ``createDataFrame`` in
  callers and tests. The package's own Python kernels (``mapInArrow``,
  ``applyInArrow``, ``arrow_udf``) cross the JVM<->Python boundary as
  columnar Arrow batches by construction, never as pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_SHUFFLE_PARTITIONS = "32"


def claim_driver_heap(cap_gib: int) -> None:
    """Default ``SPARK_GRAFT_DRIVER_MEM`` for a long-lived tool process:
    half of physical memory, capped at ``cap_gib``. A tool that
    pre-touches its heap must not claim more than the host has; an
    explicit setting wins. Call before :func:`get_spark`."""
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    gib = max(1, min(cap_gib, phys_gib // 2))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{gib}g")


def get_spark(app_name: str = "crawlingbigdatavisionaid-spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract);
    defaults to all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "") not in ("", "0"):
        # Preallocate + pre-touch the whole heap at JVM start: measured
        # 10x-replica joins spent 30-50s of KERNEL time (page-zeroing
        # during heap growth) on their first executions with a growable
        # heap — -Xms=-Xmx + AlwaysPreTouch moves that one-time fault
        # cost to startup (~2.5 s/GiB on this host) so query timings
        # measure the query, not the allocator. Opt-in because the
        # startup tax is wrong for short-lived test/tool sessions;
        # bench.py and tools/scale_smoke.py set it. Like every config
        # here, this is a no-op when getOrCreate() reuses an
        # already-started JVM — bench/tools always build the session
        # first in a fresh process.
        pretouch = (
            "-Xms"
            + os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
            + " -XX:+AlwaysPreTouch"
        )
        builder = builder.config("spark.driver.extraJavaOptions", pretouch)
    return builder.getOrCreate()

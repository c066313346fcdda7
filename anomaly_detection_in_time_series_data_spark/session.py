"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings
(AQE, Arrow, UTC, shuffle-partition sizing) are what we would ship on a real
multi-executor cluster — only ``master`` and memory sizing change there.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    UDF closures reference module globals (geohash encode, email parse), so
    cloudpickle needs the package importable on the worker side — true only
    by accident when the driver's cwd is the repo root. Zipping the package
    and distributing it makes every session (including the driver's own,
    created outside ``get_spark``) work from any cwd.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "adts-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy switch — the knobs that keep a fixed plan healthy at 100 TB.
    - Arrow on: every pandas_udf / toPandas boundary is vectorized.
    - UTC session timezone: deterministic timestamp semantics vs the
      DuckDB oracle.
    - DataFrame debugging off (``spark.python.sql.dataFrameDebugging
      .enabled=false``): PySpark otherwise records the Python call site of
      every ``F.*``/Column call for error messages, ~5 py4j round trips per
      call on every query build. The trade: an analysis or runtime error
      no longer carries the ``== DataFrame ==`` call-site context; the JVM
      message and the Python traceback remain. PySpark reads the setting
      once per process, at the first API call made with an active session.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("ADTS_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_pyfiles(spark)
    return spark

"""SparkSession construction + engine session (adapter registry).

The reference wires repositories into a DTSS host via a plain dict
keyed by URL scheme (reference: weather/service/dtss_host.py:122-130).
Here the same role is played by :class:`EngineSession`, which owns a
SparkSession and a scheme->SourceAdapter registry.

Scale notes: these configs are tuned for local[N] testing but the
defaults are cluster-safe — AQE handles runtime coalescing and skew
joins, shuffle partitions are set explicitly per environment, and
Arrow is enabled for the few pandas-UDF code paths.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import SparkSession

if TYPE_CHECKING:
    from my_weather_spark.sources.base import SourceAdapter


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` when set, else
    half of the machine's physical memory in MiB. A fixed default
    either starves a large machine or lets the heap outgrow a small
    one until the kernel kills the driver; half leaves room for the
    JVM's off-heap memory and the Python workers."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys_bytes // 2 >> 20}m"


def get_spark(
    app_name: str = "my_weather_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults follow the public Spark tuning guidance: AQE on (runtime
    partition coalescing + skew-join splitting), UTC session timezone
    (the reference's time domain is UTC epoch seconds —
    repository.py:136-140), Arrow enabled for pandas interchange.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when coalescing instead of
        # keeping defaultParallelism partitions: small shuffles collapse
        # to a handful of tasks (less scheduling overhead), large ones
        # still split by size. This is the documented production setting
        # for size-based coalescing (Spark SQL performance tuning guide).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark rejects by default; read as long (ns) and convert
        # in the table loader (my_weather_spark.tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only JVM: driver memory is THE memory knob
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class EngineSession:
    """Engine session: SparkSession + URL-scheme -> source-adapter registry.

    Mirrors the reference's DtssHost construction, where each
    DataCollectionRepository is registered under its ``name`` (URL
    scheme) and lookups route by scheme (dtss_host.py:122-130,
    211-216). The registry is driver-side control-plane state; the
    data plane is pure DataFrames.
    """

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark()
        self._adapters: dict[str, "SourceAdapter"] = {}

    # -- adapter registry (reference: dtss_host.py:122-130) ------------
    def register_adapter(self, adapter: "SourceAdapter") -> None:
        if adapter.scheme in self._adapters:
            raise ValueError(f"adapter for scheme {adapter.scheme!r} already registered")
        self._adapters[adapter.scheme] = adapter

    def adapter(self, scheme: str) -> "SourceAdapter":
        try:
            return self._adapters[scheme]
        except KeyError:
            # Unknown scheme is a hard error, like the reference's
            # RuntimeError on unknown ts_id scheme (dtss_host.py:238-245).
            raise KeyError(
                f"no source adapter registered for scheme {scheme!r}; "
                f"known: {sorted(self._adapters)}"
            ) from None

    @property
    def schemes(self) -> list[str]:
        return sorted(self._adapters)

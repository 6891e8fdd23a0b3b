"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the configuration below is written so the
same code lands on a multi-executor cluster unchanged: AQE handles runtime
partition coalescing and skew joins, shuffle partitions default to the core
count locally (override via ``spark.sql.shuffle.partitions`` on a cluster),
and Arrow is enabled for every pandas-UDF exchange.

The module also holds the session artifact registry (``memo``, ``drop``,
``tempdir``, ``release``): every build-once artifact a session reuses —
persisted indexes, trained codebooks, rendered input files, probe results —
is stored there instead of in per-module dicts.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Hashable

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hybrid_recommendation_system_using_vector_db_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, drop the ``master`` call and submit with your
    cluster manager; every other setting is still appropriate.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # one shuffle partition per core locally; on a cluster AQE coalesces
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class _Registry:
    """Build-once artifacts of the live Spark sessions.

    An entry's stored key is ``(applicationId, *key)``, so a new
    SparkContext never sees an artifact built by an earlier one. Values are
    whatever the build returns: a DataFrame (usually persisted), a tuple or
    list of them, driver-side arrays, scalars or file paths.

    Release order matters twice:

    - ``release`` unpersists every DataFrame first, then removes every
      registered dir: a cached DataFrame read from a registered dir keeps
      its files until Spark has dropped its blocks.
    - ``drop`` must run *before* a caller persists a replacement:
      ``unpersist`` matches cached entries by logical plan, so dropping an
      identical-lineage entry after the new persist evicts the new cache.
    """

    def __init__(self) -> None:
        self.entries: dict[tuple, object] = {}
        self.dirs: list[str] = []
        atexit.register(self._remove_dirs)

    def memo(self, spark: SparkSession, key: tuple[Hashable, ...],
             build: Callable[[], object]):
        """Return the entry for ``key``, building it on first use. A build
        that raises stores nothing."""
        k = (spark.sparkContext.applicationId, *key)
        if k not in self.entries:
            self.entries[k] = build()
        return self.entries[k]

    def drop(self, spark: SparkSession, key: tuple[Hashable, ...]) -> None:
        """Unpersist one entry's DataFrames and forget the entry."""
        _unpersist(self.entries.pop(
            (spark.sparkContext.applicationId, *key), None))

    def tempdir(self, spark: SparkSession, prefix: str) -> str:
        """A registered ``mkdtemp`` for ``spark``'s artifacts: removed by
        ``release`` and at interpreter exit."""
        path = tempfile.mkdtemp(prefix=prefix)
        self.dirs.append(path)
        return path

    def release(self) -> None:
        """Unpersist every entry's DataFrames, remove every registered dir,
        then forget all entries."""
        for value in self.entries.values():
            _unpersist(value)
        self._remove_dirs()
        self.entries.clear()

    def _remove_dirs(self) -> None:
        for path in self.dirs:
            shutil.rmtree(path, ignore_errors=True)
        self.dirs.clear()


def _unpersist(value) -> None:
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)
    elif hasattr(value, "unpersist"):
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped: nothing left to release


_registry = _Registry()
memo = _registry.memo
drop = _registry.drop
tempdir = _registry.tempdir
release = _registry.release

"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and safe at local[32]:
- AQE on (runtime coalescing + skew-join splitting): crawl waves vary
  10x+ in size, so static shuffle-partition counts are always wrong for
  some wave.
- Arrow enabled for every pandas UDF boundary.
- Shuffle partitions sized by cores at local scale; on a real cluster
  this is overridden by --conf (AQE coalesces down anyway).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# open cache scopes, innermost last; each holds the frames it persisted.
# Process-wide, as the session's cache manager is: operators register
# their caches without a scope being passed down to them.
_scopes: list[list[DataFrame]] = []


def cached(df: DataFrame) -> DataFrame:
    """Persist ``df`` at Spark's default level and return it — the one
    persist site of the package. Inside a ``cache_scope`` the innermost
    scope releases it on exit; a plan that was already cached keeps
    its owner, so a scope never drops another caller's cache. Outside
    any scope it stays cached until evicted or unpersisted."""
    fresh = df.storageLevel == StorageLevel.NONE
    df = df.persist()
    if fresh and _scopes:
        _scopes[-1].append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist, on exit (error or not), every frame ``cached`` in
    this scope. Run a lazy frame's actions inside the scope that built
    it. Release is newest first: a cache built on another goes before
    it, so no release re-plans a dependent cache."""
    frames: list[DataFrame] = []
    _scopes.append(frames)
    try:
        yield
    finally:
        _scopes.pop()
        for df in reversed(frames):
            df.unpersist()


def build_package_zip(out: str | Path) -> Path:
    """Zip the package for --py-files (one implementation shared by
    ship_package and the CLI's `package` subcommand)."""
    pkg_dir = Path(__file__).resolve().parent
    out = Path(out)
    with zipfile.ZipFile(out, "w") as z:
        for py in sorted(pkg_dir.glob("*.py")):
            z.write(py, f"crawlspark/{py.name}")
    return out


def ship_package(spark: SparkSession) -> None:
    """Ship crawlspark to executors (programmatic spark-submit --py-files).

    Executor Python workers do not inherit the driver's sys.path; any
    pandas-UDF closure that references crawlspark functions unpickles by
    module reference and needs the package importable worker-side. On a
    real cluster this is `spark-submit --py-files crawlspark.zip`; this
    helper is the same mechanism via SparkContext.addPyFile.
    """
    zpath = Path(tempfile.gettempdir()) / f"crawlspark-{os.getpid()}.zip"
    if not zpath.exists():
        build_package_zip(zpath)
    spark.sparkContext.addPyFile(str(zpath))


def get_spark(
    app_name: str = "crawlspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # master precedence: an explicit arg / CRAWLSPARK_MASTER wins;
    # otherwise DEFER to an externally provided spark.master (the
    # spark-submit --master flag surfaces through SparkConf) — calling
    # builder.master() unconditionally would clobber the cluster flag
    # and silently run local[*] on the driver host. Only when no
    # master exists anywhere do we default to local[*].
    from pyspark import SparkConf

    master = master or os.environ.get("CRAWLSPARK_MASTER")
    if master is None and not SparkConf().contains("spark.master"):
        master = "local[*]"
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory per batch; HTML rows
        # are fat (~8-100 KB). Measured on this box (BENCH.md): 512-row
        # batches (~4 MB) pipeline JVM->python best AND scale 2->8 cores
        # at ~0.85 efficiency, where 2048-row batches plateau at ~0.6 —
        # large Arrow allocations serialize in the memory subsystem.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("CRAWLSPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("CRAWLSPARK_DRIVER_MEM", "8g"))
        # Parquet scans: 128 MB splits keep ~800 tasks/TB — right for
        # wide clusters; local runs read small files so it is moot.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark

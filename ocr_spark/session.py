"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "ocr_spark",
    *,
    master: str,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build the session on ``master`` (e.g. ``local[4]``).

    Defaults: AQE on (runtime re-plan / skew-join safety net on top of our
    explicit salting), Arrow transfer on with bounded batches (fat text
    payloads — cap records per batch so executor Python workers never hold
    more than ~a few MB of payload at once), UTC session timezone
    (timestamp parity with the oracle regardless of host zone).
    """
    return (
        SparkSession.builder.appName(app)
        .master(master)
        # local mode: executors live in the driver JVM; the 1g default
        # throttles 32 concurrent parquet writers (effective at JVM launch
        # only — a no-op if a JVM already exists).
        .config("spark.driver.memory", os.environ.get("OCR_SPARK_DRIVER_MEM") or driver_memory())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~8k rows × ~0.5 KB payload ≈ 4 MB per Arrow batch: big enough to
        # amortize the per-batch pandas/IPC overhead, small enough that a
        # Python worker never holds more than a few batches of fat text.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", _local_dir())
        .getOrCreate()
    )


def driver_memory(total_bytes: int | None = None) -> str:
    """Default driver heap: a quarter of physical memory, between 1g and
    16g (the host runs more than this JVM, and in local mode the driver
    JVM also hosts the executors)."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, total_bytes // 4 // 2**30))}g"


def _local_dir() -> str:
    """Shuffle/spill dir. A node-local fast device is standard practice on
    real clusters (NVMe); in the sandbox /dev/shm plays that role — the
    default /tmp disk serializes shuffle I/O across 32 executor threads."""
    if os.environ.get("OCR_SPARK_LOCAL_DIR"):
        return os.environ["OCR_SPARK_LOCAL_DIR"]
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/ocr-spark-local"
        os.makedirs(d, exist_ok=True)
        return d
    return "/tmp"

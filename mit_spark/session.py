"""SparkSession factory with the engine's tuned defaults.

Performance-relevant settings (all measured in this container, see
BENCH/BASELINE.md):
  * MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_: numpy image buffers at
    detect_size=2048 exceed glibc's 128 KiB mmap threshold; without these,
    every large allocation mmaps + munmaps and pays first-touch page faults
    (~10-20x slowdown in sandboxed kernels). Raising the thresholds keeps
    buffers in the arena for reuse. Exported to python workers via env.
  * OMP/BLAS threads = 1: 32 python workers x N BLAS threads oversubscribes
    (the reference pins ORT intra=4/inter=2 for ONE process,
    base-util/src/onnx.rs:59-60; for a worker-per-core model 1 is correct).
  * Arrow batch size bounded: a media span costs ~13 ms in the UDF at
    detect_size=512, ~46 ms at 1024 and ~0.2 s at 2048 (single process,
    synthetic forward, the benchmark corpus's page sizes, 4-vCPU VM);
    small batches keep tasks responsive. Worker memory is bounded by the
    media UDF itself, which streams each batch one shape group at a time
    (operators/batched_detect.py).
"""

from __future__ import annotations

import os

WORKER_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}


def apply_worker_env() -> None:
    for k, v in WORKER_ENV.items():
        os.environ.setdefault(k, v)


def make_session(
    master: str | None = None,
    app_name: str = "mit-spark",
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
):
    from pyspark.sql import SparkSession

    apply_worker_env()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")  # NTZ<->TZ casts relabel
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    n_shuffle = shuffle_partitions or int(master[master.find("[") + 1 : -1].replace("*", "0") or 0) or 32
    builder = builder.config("spark.sql.shuffle.partitions", str(max(n_shuffle, 16)))
    for k, v in WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

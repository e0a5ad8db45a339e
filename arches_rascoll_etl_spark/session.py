"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for the 100 TB target (AQE on, skew-join on, Arrow on for
pandas-UDF paths); tests/bench override parallelism via ``cores``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_GIB = 16


def mem_total_kib(meminfo: str = "/proc/meminfo") -> int | None:
    """The host's MemTotal in KiB, or None when it cannot be read."""
    try:
        with open(meminfo) as f:
            return next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return None


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap sized to the host: half of MemTotal, rounded to whole
    GiB and capped at 16g, so a local-mode driver leaves the other half to
    the off-heap, Python-worker and page-cache memory it also uses. Falls
    back to the cap when MemTotal is unreadable."""
    kib = mem_total_kib(meminfo)
    if kib is None:
        return f"{_MAX_DRIVER_GIB}g"
    gib = round(kib / 2 / (1 << 20))
    return f"{max(1, min(gib, _MAX_DRIVER_GIB))}g"


def get_spark(
    app_name: str = "arches_rascoll_etl_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession configured for this engine.

    ``cores`` is an int (local[N]) or "*" (local[*]); on a real cluster the
    master is taken from the environment (spark-submit) and ``cores`` is
    ignored — we only set master when none is configured.
    """
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    # Ship this package to executor python workers. Pandas-UDF closures
    # defined INSIDE the package (lake/bloom.py, operators/multimodal.py,
    # ...) are cloudpickled by module reference, so the worker must be able
    # to `import arches_rascoll_etl_spark` — true under pytest/bench (cwd =
    # repo root) and under spark-submit --py-files (tools/submit_replay.sh),
    # but NOT for a user script that only did sys.path.insert(repo): local-
    # mode workers inherit PYTHONPATH, not the driver's sys.path. Prepend
    # the repo root to PYTHONPATH before the JVM launches (driver side) and
    # mirror it into executorEnv for cluster masters sharing a filesystem;
    # real clusters without one use --py-files as before.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env_pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in env_pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + env_pp if env_pp else "")
        )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # deterministic parquet output (no summary files, stable committer)
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    from pyspark import SparkConf

    # Under spark-submit the driver's gateway JVM is pre-launched with the
    # submitted conf (PYSPARK_GATEWAY_PORT set) — but Spark 4's
    # SparkConf() no longer surfaces spark.master from it, so the old
    # conf-only check read None and OVERRODE a submitted cluster master
    # with local[k] (the app then silently ran local while a standalone
    # cluster sat idle). Only set a local master when neither signal says
    # a master was already provided.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if not submitted and SparkConf().get("spark.master", None) is None:
        builder = builder.master(f"local[{cores}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()

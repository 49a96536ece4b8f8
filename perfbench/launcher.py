"""Spark launcher with every setting the measurements depend on pinned.

``get_spark`` defaults to ``local[32]`` and a 16 GB driver; the benchmark
sets the master, shuffle partitions and driver memory from the machine
it runs on, keeps every temporary file inside its work directory, and
refuses to run more cores than the machine has.
"""

from __future__ import annotations

import os
import sys
import time


def machine_cores() -> int:
    return len(os.sched_getaffinity(0))


def machine_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pinned_conf(cores: int, work: str) -> dict:
    """The settings the benchmark pins, recorded in its output."""
    if cores > machine_cores():
        raise ValueError(f"{cores} cores requested but this machine has "
                         f"{machine_cores()}")
    mem_mb = max(1024, min(2048, machine_mem_mb() // 4))
    return {
        "master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: peak RSS then does not depend on when the
        # collector chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{mem_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def prepare_env(work: str) -> None:
    """Process environment the driver JVM and Python workers inherit:
    all temporary space inside ``work``, workers on this interpreter."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(conf: dict, app: str = "perfbench"):
    """Start (or restart, after ``stop``) the engine's session with the
    pinned settings; returns (session, seconds taken)."""
    from data_timeseries_java_spark import get_spark

    t0 = time.perf_counter()
    extra = {k: v for k, v in conf.items() if k not in
             ("master", "spark.sql.shuffle.partitions")}
    spark = get_spark(app, master=conf["master"],
                      shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0

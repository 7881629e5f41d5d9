"""Spark session sized to the machine the benchmark runs on.

All settings live here, not in the package: ``local[nproc]``, driver
memory from physical RAM, a fixed shuffle partition count, and every
scratch directory (Spark local dir, JVM and Python temp dirs) under the
benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import tempfile
import time

from procmon import alive, descendants, ram_bytes

SHUFFLE_PARTITIONS = 4  # fixed; 8 cost a cold hybrid crawl 5-8% more CPU on 4 cores
# The JVM runs with its default (tiered) JIT, as get_spark users get it.
# -XX:-UsePerfData keeps it from writing hsperfdata outside the checkout.
JVM_OPTIONS = ["-XX:-UsePerfData"]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of physical RAM, between 1 and 4 GiB: the machine is
    shared, and the crawl's working set is far smaller than that. The
    heap is fixed at this size from the start (-Xms), so that its growth
    policy does not move the peak RSS from run to run."""
    return max(1024, min(4096, ram_bytes() // 8 // (1 << 20)))


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_mb": ram_bytes() >> 20,
        "driver_memory_mb": driver_memory_mb(),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def use_scratch(work: str) -> str:
    """Point every temp-file user at ``work``/tmp before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None  # recomputed from TMPDIR on next use
    return tmp


def start(work: str):
    """Create the session, ship the package and spawn the first Python
    worker. Returns (spark, seconds)."""
    from cola_spark.session import get_spark

    tmp = use_scratch(work)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": " ".join(
                JVM_OPTIONS + [f"-Xms{driver_memory_mb()}m", f"-Djava.io.tmpdir={tmp}"]
            ),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every layer's stages back from the
            # status store; keep them all for the length of a run
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        },
    )
    spark.sparkContext.parallelize([0], 1).map(lambda x: x).collect()
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    tree = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(alive(p) for p in tree):  # workers leave once the JVM is gone
        if time.monotonic() > deadline:
            raise RuntimeError("Spark Python workers outlived the JVM")
        time.sleep(0.05)

"""Spark session sized from the host, memory readings and shutdown.

The engine's ``get_spark`` defaults assume a 32-core, 64 GB machine.
The benchmark derives every size from the host it runs on instead and
keeps all scratch files (shuffle, spill, JVM temp) inside its own work
directory, so a run touches nothing outside the checkout.
"""

from __future__ import annotations

import os
import time


def host_settings() -> dict:
    """Cores = the CPUs this process may run on (what ``nproc`` reports
    without an OMP override); driver heap = a quarter of host RAM,
    clamped to [1, 8] GiB, because the machine is shared."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    driver_mb = min(8192, max(1024, mem_kb // 1024 // 4))
    return {"cores": cores, "shuffle_partitions": cores,
            "host_mem_mb": mem_kb // 1024, "driver_mem_mb": driver_mb}


def start_session(work: str, settings: dict):
    """Start ``local[cores]`` through the engine's own factory, with the
    heap, scratch dirs and temp dirs set from ``settings``/``work``.
    Returns the session after one Python worker per core has started,
    so worker start-up is paid here and not by the first measured op."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = f"{settings['driver_mem_mb']}m"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions={java_opts}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import blacklab_spark.shipping as shipping
    from blacklab_spark.session import get_spark

    def ship_from_work(spark):
        # same as shipping.ship, but the zip goes to the work dir, not /tmp
        spark.sparkContext.addPyFile(
            shipping.make_pkg_zip(os.path.join(work, "blacklab_spark.zip")))

    shipping.ship = ship_from_work
    spark = get_spark("perfbench", cores=settings["cores"],
                      shuffle_partitions=settings["shuffle_partitions"])
    n = settings["cores"]

    def touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        for b in batches:
            yield b

    spark.range(0, n * 4, 1, n).mapInPandas(touch, "id long").count()
    return spark


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    return _vmhwm_mb(os.getpid()) + _vmhwm_mb(jvm_pid(spark))


def stop_session(spark) -> None:
    """Stop Spark, close the py4j gateway and wait for the JVM to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    pid = jvm_pid(spark)
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
        time.sleep(0.1)

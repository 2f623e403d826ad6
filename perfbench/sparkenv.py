"""The environment the benchmark gives Spark and its Python workers.

Everything is written under the run's work directory inside the
checkout: Python's and the JVM's temp files, Spark's local dirs and
its warehouse.
"""

from __future__ import annotations

import os
import subprocess



def prepare(root: str, work: str) -> dict:
    """Export the environment for this process and every child; returns
    the sizing it chose."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    # The session default (48g) is above small hosts' RAM; take a
    # quarter of it, between 1 and 2 GB.
    heap = f"{max(1, min(2, int(mem_gb // 4)))}g"
    pythonpath = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        # The Python workers import the package (the splitter's
        # mapInPandas closure); they inherit this from the JVM.
        "PYTHONPATH": pythonpath,
    })
    return {"host_cpus": cpus, "mem_gb": round(mem_gb, 1),
            "SPARK_GRAFT_DRIVER_MEM": heap, "PYTHONPATH": pythonpath}


def confs() -> dict[str, str]:
    tmp = os.environ["TMPDIR"]
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")}


def stop(spark, timeout_s: float = 30.0) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    # The gateway JVM exits when its stdin closes.
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()

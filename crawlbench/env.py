"""Run-environment pinning for the crawl benchmark.

Everything here must run BEFORE pyspark (or anything that imports it)
is imported: the Spark driver JVM and its Python workers inherit the
environment that exists when the session starts.

What is pinned, and why:

* ``SPARK_GRAFT_CPUS`` = the cores this process may run on, so
  ``local[n]`` never has more task slots than cores (``get_spark``
  otherwise defaults to 32).
* ``SPARK_DRIVER_MEM`` sized to the host (``get_spark`` otherwise asks
  for 48g).
* ``PYTHONPATH`` carries the checkout root: Python workers started by
  the JVM do not inherit ``sys.path`` and fail with
  ``ModuleNotFoundError: netrunner_spark`` when launched outside it.
* no bytecode caches, so importing the program writes nothing into the
  checkout.
* Spark local dirs, the JVM temp dir, the SQL warehouse and ``TMPDIR``
  all point into one scratch directory that the caller removes.
* the knobs ``get_spark`` reads from the environment
  (``SPARK_SHUFFLE_PARTITIONS``, ``SPARK_PARQUET_CODEC``,
  ``SPARK_MAX_PARTITION_BYTES``) are cleared so the program's own
  defaults are what gets measured.
"""

from __future__ import annotations

import os
import sys

_PROGRAM_KNOBS = (
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_PARQUET_CODEC",
    "SPARK_MAX_PARTITION_BYTES",
)


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def host_mem_mb() -> int:
    try:
        with open("/proc/meminfo", encoding="ascii") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 4096


def driver_mem_mb() -> int:
    """A fifth of the host, clamped to [1, 3] GiB: the benchmark's
    inputs are tens of MB, and the host may be shared."""
    return max(1024, min(3072, host_mem_mb() // 5))


def pin(root: str, scratch: str) -> dict[str, str]:
    """Pin the process environment; returns the extra Spark configs
    ``get_spark`` must be given."""
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    for k in _PROGRAM_KNOBS:
        os.environ.pop(k, None)
    cores = host_cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    paths = [root] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    local = os.path.join(scratch, "spark-local")
    jtmp = os.path.join(scratch, "tmp")
    warehouse = os.path.join(scratch, "warehouse")
    for d in (local, jtmp, warehouse):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = jtmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": warehouse,
        # prepended to the program's own extraJavaOptions (GC settings),
        # which stay untouched
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
        ),
    }

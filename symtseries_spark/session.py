"""SparkSession factory tuned for the engine.

All knobs here are scale-oriented defaults: AQE on (runtime coalescing +
skew-join splitting), Arrow batching for pandas UDFs, and a shuffle
partition count that AQE can shrink. On a real cluster these come from
spark-submit conf; locally they make local[N] behave like a miniature
cluster.

Python workers start from ``pyspark_symtseries_worker``, a module beside the
package that ``spark.python.worker.module`` names. For every task, also on a
reused worker, PySpark 4.1's ``setup_spark_files`` calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py:144``), and on
Python 3.11 that re-reads the whole directory of ``pyspark.zip``, the py4j
zip and the Spark core jar: about 0.25 CPU s per task on a 4-vCPU host,
against ~1 ms of engine work for a small query. The worker module skips
re-reading the archives already on ``sys.path`` and invalidates every other
cache as before. Its name starts with ``pyspark`` because ``pyspark.daemon``
ignores any other worker module (``pyspark/daemon.py:34``). The engine root
goes first on ``spark.executorEnv.PYTHONPATH``, so workers import the engine
and the worker module from any working directory. Both assume that the
workers see the driver's files, as in local mode.

Do not turn ``spark.python.worker.reuse`` off instead: an exited worker's CPU
is never reaped into the JVM's process tree (the daemon ignores ``SIGCHLD``),
so the cost only moves out of sight, and each task pays a fresh fork.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: FAIR pool weights ∝ measured consumer work. The cascades consumer
#: (``checkpoint.write_coarse_tiers``: derive and write 1h, then derive
#: and write 1d from the cached 1h rows, one after the other) is the
#: longest dependent chain of the pipeline's consumer phase. An earlier
#: layout of it straggled alone under a 1:2:3 split (3.6 s vs 2.7 s peers
#: at local[32]); cascades-heavy weights brought the consumers' finishes
#: within ~0.3 s of each other and cut the warm pipeline wall ~1.6×.
POOL_WEIGHTS = {"cascades": 3, "index": 2, "chunks": 2}

#: The directory holding the ``symtseries_spark`` package and the worker module.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _allocation_file() -> str:
    pools = "\n".join(
        f'  <pool name="{name}">\n'
        f"    <schedulingMode>FIFO</schedulingMode>\n"
        f"    <weight>{w}</weight>\n"
        f"    <minShare>0</minShare>\n"
        f"  </pool>"
        for name, w in POOL_WEIGHTS.items()
    )
    xml = f'<?xml version="1.0"?>\n<allocations>\n{pools}\n</allocations>\n'
    path = os.path.join(
        tempfile.gettempdir(),
        f"symtseries_fair_allocation_{'_'.join(map(str, POOL_WEIGHTS.values()))}.xml",
    )
    with open(path, "w") as f:
        f.write(xml)
    return path


def get_spark(
    app_name: str = "symtseries-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = dict(extra_conf or {})
    pythonpath = [ENGINE_ROOT, conf.pop("spark.executorEnv.PYTHONPATH", None)]
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches: the vectorized UDF kernels (symbolize, encode,
        # signatures) amortize their per-batch numpy setup over 64k rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # FAIR scheduling lets concurrently-submitted jobs (the pipeline's
        # cascade/index/chunks consumers) interleave tasks, filling the
        # stage-transition bubbles that FIFO leaves idle at high core counts
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", _allocation_file())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.module", "pyspark_symtseries_worker")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, pythonpath)))
    )
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()

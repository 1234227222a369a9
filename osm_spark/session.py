"""SparkSession builder with scale-oriented defaults.

Defaults chosen for the 100 TB design target (see SURVEY.md §4):
- AQE on (runtime coalesce + skew-join splitting backs up our explicit
  salting of hot spatial cells),
- Arrow on (all geometry UDFs are pandas/Arrow-batched),
- shuffle partitions sized to the local core count for tests; on a real
  cluster this is overridden via spark-submit conf.

Local masters only, because there the Python workers share the driver's
environment: the worker daemon is ``osm_spark.worker_daemon``, which forks
workers with numpy/pandas/pyarrow and the engine modules already imported
and their heap gc-frozen, and stops each task from re-reading pyspark.zip
(a fixed ~0.3 CPU-s per Python task with the stock daemon on Python 3.11).
The directory holding ``osm_spark`` is set as
``spark.executorEnv.PYTHONPATH``, so the daemon and every engine UDF import
from any working directory. Spark adds the driver's own ``$PYTHONPATH`` to
the workers' after it; a ``spark.executorEnv.PYTHONPATH`` from
spark-defaults.conf or ``PYSPARK_SUBMIT_ARGS`` is replaced, not merged
(``extra_conf`` can still set it). The driver JVM also keeps a fixed set
of JIT compiler threads (``spark.driver.extraJavaOptions``, likewise
replacing a value from spark-defaults.conf): HotSpot's default starts
extra C2 threads under load and retires them when idle, and once a thread
has exited its compile time can no longer be told apart from the rest of
the JVM's CPU, so accounting that leaves JIT work out (perfbench's
``tree_cpu``) counted it as work in whichever iteration the thread exited.
Cluster masters, and any master given to spark-submit, keep the stock
daemon and JVM options: py-files reach executors per task, after the
daemon has started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_JIT_THREADS = "-XX:-UseDynamicNumberOfCompilerThreads"


def get_spark(
    app_name: str = "osm_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``cores`` — int for ``local[n]``, ``"*"`` for all, None to respect
    ``$SPARK_GRAFT_CPUS`` (default ``*``).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 4)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = SparkSession.builder.appName(app_name)
    # only pin local[] / loopback when no cluster master was supplied:
    # programmatic master/driver.host would OVERRIDE spark-submit
    # --master yarn/k8s, blocking cluster deployment
    from pyspark import SparkConf, SparkContext

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # started by spark-submit: SparkConf() is an empty dict until the
        # driver attaches to that JVM, whose properties hold --master
        SparkContext._ensure_initialized()
    if not SparkConf().contains("spark.master"):
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.driver.host", "127.0.0.1")
            .config("spark.python.daemon.module", "osm_spark.worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _ROOT)
            .config("spark.driver.extraJavaOptions", _JIT_THREADS)
        )
    builder = (
        builder
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[default_cores()]``; on a real
cluster the same settings apply minus the master override (spark-submit
provides it).  AQE is on so skewed cell joins re-plan at runtime.
"""

from __future__ import annotations

import functools
import os
import socket

from pyspark.sql import SparkSession


def default_cores() -> int:
    """The core count a session gets unless its caller names one:
    ``$SPARK_GRAFT_CPUS``, else every core this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(os.sched_getaffinity(0))


def get_spark(app: str = "geotile", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = SparkSession.builder
    # Master resolution order: explicit SPARK_GRAFT_MASTER env > a master
    # already provided by the launcher (spark-submit --master sets the
    # spark.master JVM system property, visible through SparkConf) >
    # local[cores] fallback.  Calling .master() unconditionally would
    # override spark-submit and trap the engine in local mode.
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        builder = builder.master(master)
    else:
        try:
            from pyspark import SparkConf

            master = SparkConf().get("spark.master", None)
        except Exception:
            master = None
        if master is None:
            master = f"local[{cores}]"
            builder = builder.master(master)
    for key, value in _daemon_conf(master).items():
        builder = builder.config(key, value)
    builder = (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # small enough that bench-scale tables still split across all
        # cores (at cluster scale the platform config overrides this)
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # scale JVM GC threads with the executor-thread count: by default
        # the JVM sizes GC for every host core, which would hand a
        # local[1] run 32 hidden GC threads and skew N-vs-4N scaling
        # comparisons (a real 1-core executor has 1-2 GC threads)
        .config("spark.driver.extraJavaOptions",
                f"-XX:ParallelGCThreads={max(2, cores)} -XX:ConcGCThreads={max(1, cores // 4)}")
    )
    # Shuffle/spill scratch space.  On a real cluster every executor has
    # its own local disks; in this sandbox all threads share one device,
    # so scaling runs point this at tmpfs to measure the engine, not the
    # single shared disk.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prompt_stop(spark.sparkContext)
    return spark


def _daemon_conf(master: str) -> dict:
    """Start the Python workers through ``geotile._daemon`` (pyspark from
    site-packages, not Spark's zips) where the worker can import it before
    its first task: a ``local`` master and geotile imported from a
    directory, whose parent the workers get on ``PYTHONPATH``.  Anywhere
    else (a cluster, or ``--py-files geotile.zip``, which ships geotile
    only per task) PySpark's own daemon runs."""
    here = os.path.abspath(__file__)
    if not (master == "local" or master.startswith("local[")) or not os.path.isfile(here):
        return {}
    conf = {"spark.python.daemon.module": "geotile._daemon"}
    root = os.path.dirname(os.path.dirname(here))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in {os.path.abspath(p) for p in paths if p}:
        conf["spark.executorEnv.PYTHONPATH"] = root
    return conf


class _PromptStop:
    """Mixed into PySpark's accumulator server so that ``shutdown`` ends
    the JVM connection's handler at once.

    The server serves that one connection on its own thread, polling it
    with a 1 s ``select`` until shutdown, and ``shutdown`` waits for the
    poll to end: every ``spark.stop()`` after a Python task blocked for a
    uniform 0-1 s.  ``SparkContext.stop`` stops the JVM first, so no
    update is in flight; closing the connection wakes the poll, whose
    read then fails on end of file, an error expected at shutdown."""

    _conn = None

    def finish_request(self, request, client_address):
        self._conn = request
        super().finish_request(request, client_address)

    def handle_error(self, request, client_address):
        if not self.server_shutdown:
            super().handle_error(request, client_address)

    def shutdown(self):
        self.server_shutdown = True
        # socketserver's own stop flag, set before the handler wakes:
        # else the serving loop may start another 0.5 s accept poll
        self._BaseServer__shutdown_request = True
        if self._conn is not None:
            try:
                self._conn.shutdown(socket.SHUT_RDWR)
            except OSError:  # the handler has closed it already
                pass
        super().shutdown()


@functools.cache
def _prompt_class(cls: type) -> type:
    return type(f"Prompt{cls.__name__}", (_PromptStop, cls), {})


def _prompt_stop(sc) -> None:
    """Give ``sc``'s accumulator server the prompt ``shutdown`` of
    _PromptStop.  Before any Python task the JVM has not connected yet,
    so the connection it opens is the one ``shutdown`` closes."""
    server = getattr(sc, "_accumulatorServer", None)
    if server is not None and not isinstance(server, _PromptStop):
        server.__class__ = _prompt_class(type(server))

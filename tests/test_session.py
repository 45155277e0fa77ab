"""Session factory: master resolution (spark-submit compatibility).

The round-1 advice found that an unconditional .master() call made the
documented cluster launch impossible — spark-submit --master was always
overridden by local mode.  These tests pin the new resolution order in
fresh subprocesses (master is fixed at JVM launch, so the running test
session can't be reused).
"""

import subprocess
import sys


def _probe(env_extra: dict, code: str) -> str:
    import os

    env = {**os.environ, **env_extra}
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=180, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_master_env_override():
    """SPARK_GRAFT_MASTER wins over the local[cores] fallback."""
    out = _probe(
        {"SPARK_GRAFT_MASTER": "local[3]"},
        "from geotile.session import get_spark;"
        "s = get_spark('t', cores=2);"
        "print('MASTER=' + s.conf.get('spark.master'));"
        "s.stop()")
    assert "MASTER=local[3]" in out


def test_master_fallback_local():
    """Without a launcher-provided master, local[cores] applies."""
    out = _probe(
        {},
        "from geotile.session import get_spark;"
        "s = get_spark('t', cores=2);"
        "print('MASTER=' + s.conf.get('spark.master'));"
        "s.stop()")
    assert "MASTER=local[2]" in out


def test_default_cores(monkeypatch):
    """SPARK_GRAFT_CPUS wins; unset or empty, every core the process may
    run on."""
    import os

    from geotile.session import default_cores

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == len(os.sched_getaffinity(0))


def test_accumulator_server_stops_at_once():
    """``shutdown`` of the accumulator server returns at once while the
    JVM's connection is open: PySpark's own waits out its handler's 1 s
    poll (here about 0.9 s), and a stop flag set too late costs another
    0.5 s accept poll.  Its return means the serving loop has ended."""
    import socket
    import struct
    import time

    from pyspark import accumulators

    from geotile.session import _prompt_class

    took = []
    for _ in range(10):
        server = accumulators._start_update_server("token", False)
        server.__class__ = _prompt_class(type(server))
        with socket.create_connection(server.server_address) as conn:
            # authenticate and send an empty update, as the JVM does
            conn.sendall(b"token" + struct.pack("!i", 0))
            assert conn.recv(1) == b"\x01"
            time.sleep(0.1)  # the handler is back in its poll
            t0 = time.perf_counter()
            server.shutdown()
            took.append(time.perf_counter() - t0)
            assert conn.recv(1) == b""  # the server closed the connection
    assert max(took) < 0.25, took


def test_stop_after_python_task_is_prompt():
    """A session's accumulator server records the JVM's connection,
    which its first Python task opens, and closes it at ``spark.stop()``
    without printing the handler's end-of-file error."""
    code = (
        "from geotile.session import get_spark, _PromptStop\n"
        "s = get_spark('t', cores=2)\n"
        "server = s.sparkContext._accumulatorServer\n"
        "assert isinstance(server, _PromptStop)\n"
        "assert s.range(0, 4, 1, 2).mapInPandas(lambda it: it, 'id bigint').count() == 4\n"
        "assert server._conn is not None\n"
        "s.stop()\n")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Exception occurred during processing of request" not in out.stderr

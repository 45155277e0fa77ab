"""Session factory: master resolution (spark-submit compatibility).

The round-1 advice found that an unconditional .master() call made the
documented cluster launch impossible — spark-submit --master was always
overridden by local mode.  These tests pin the new resolution order in
fresh subprocesses (master is fixed at JVM launch, so the running test
session can't be reused).
"""

import os
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


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# prints the daemon module of a local[2] session, the pyspark file a
# Python task of it imported and the task's sys.path entries under
# SPARK_HOME
_TASK_PYSPARK = (
    "import sys\n"
    "sys.path.insert(0, sys.argv[1])\n"
    "from geotile.session import get_spark\n"
    "s = get_spark('t', cores=2)\n"
    "def f(it):\n"
    "    import os, pyspark\n"
    "    home = os.path.realpath(os.environ['SPARK_HOME']) + os.sep\n"
    "    left = ';'.join(p for p in sys.path if os.path.realpath(p).startswith(home))\n"
    "    for b in it:\n"
    "        yield b.assign(f=pyspark.__file__, left=left)\n"
    "r = s.range(0, 2, 1, 2).mapInPandas(f, 'id bigint, f string, left string').collect()\n"
    "print('DAEMON=' + str(s.conf.get('spark.python.daemon.module', None)))\n"
    "print('PYSPARK=' + ','.join(sorted({x.f for x in r})))\n"
    "print('LEFT=' + ';'.join(sorted({x.left for x in r} - {''})))\n"
    "s.stop()\n")


def _task_pyspark(root: str, cwd: str, env: dict) -> tuple[str, str]:
    out = subprocess.run([sys.executable, "-c", _TASK_PYSPARK, root], capture_output=True,
                         text=True, timeout=180, cwd=cwd, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(ln.split("=", 1) for ln in out.stdout.splitlines() if "=" in ln)
    if lines["DAEMON"] == "geotile._daemon":
        # Spark's own zips and jar are gone, or every task's
        # invalidate_caches() re-reads them
        assert lines["LEFT"] == "", lines["LEFT"]
    return lines["DAEMON"], lines["PYSPARK"]


def test_workers_import_pyspark_from_site_packages():
    """When site-packages holds the zip's pyspark, the workers of a local
    session import it from there: their ``importlib.invalidate_caches()``
    then re-reads no archive."""
    import pyspark

    daemon, worker = _task_pyspark(REPO, REPO, dict(os.environ))
    assert daemon == "geotile._daemon"
    assert worker == pyspark.__file__ and ".zip" not in worker


def test_workers_find_geotile_from_driver_path_only(tmp_path):
    """A driver that put geotile on its own ``sys.path`` only (as
    conftest.py does), run from outside the repo with no ``PYTHONPATH``,
    still starts its workers through ``geotile._daemon``."""
    import pyspark

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    daemon, worker = _task_pyspark(REPO, str(tmp_path), env)
    assert daemon == "geotile._daemon" and worker == pyspark.__file__


def test_zipped_geotile_keeps_pyspark_daemon(tmp_path):
    """A geotile imported from a zip (``--py-files``) cannot start the
    daemon before its first task: PySpark's own daemon runs, with
    pyspark from Spark's zip."""
    import zipfile

    with zipfile.ZipFile(tmp_path / "geotile.zip", "w") as z:
        for name in os.listdir(os.path.join(REPO, "geotile")):
            if name.endswith(".py"):
                z.write(os.path.join(REPO, "geotile", name), "geotile/" + name)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    daemon, worker = _task_pyspark(str(tmp_path / "geotile.zip"), str(tmp_path), env)
    assert daemon == "None"
    assert "pyspark.zip" in worker


def test_daemon_only_on_local_masters():
    from geotile.session import _daemon_conf

    assert _daemon_conf("local[2]")["spark.python.daemon.module"] == "geotile._daemon"
    assert _daemon_conf("local")["spark.python.daemon.module"] == "geotile._daemon"
    for master in ("yarn", "spark://host:7077", "k8s://host:443", "local-cluster[2,1,1024]"):
        assert _daemon_conf(master) == {}, master


def test_daemon_keeps_zip_of_another_pyspark(tmp_path):
    """``drop_spark_archives`` takes Spark's archives off the path only
    when the zip's ``pyspark/version.py`` is site-packages'; with
    another version the path and the zip's pyspark stay.  A user's jar
    outside ``SPARK_HOME`` stays either way."""
    import zipfile

    import pyspark

    ours = open(os.path.join(os.path.dirname(pyspark.__file__), "version.py")).read()
    jar = tmp_path / "user.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from geotile._daemon import drop_spark_archives\n"
        "before = list(sys.path)\n"
        "dropped = drop_spark_archives(sys.path)\n"
        "import pyspark\n"
        f"print(dropped, sys.path == before, pyspark.__file__, {str(jar)!r} in sys.path)\n")
    out = {}
    for name, version in (("same", ours), ("other", '__version__ = "0.0.1"\n')):
        zpath = tmp_path / name / "pyspark.zip"
        zpath.parent.mkdir()
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("pyspark/__init__.py", "")
            z.writestr("pyspark/version.py", version)
        out[name] = _probe({"PYTHONPATH": os.pathsep.join([str(zpath), str(jar)])},
                           code).split()
    assert out["same"] == ["True", "False", pyspark.__file__, "True"]
    assert out["other"] == ["False", "True", str(zpath / "pyspark" / "__init__.py"), "True"]

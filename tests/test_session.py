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

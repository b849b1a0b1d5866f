"""The session factory hands the package's root to Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

import bigdata_usaspending_spark
from bigdata_usaspending_spark import session


def test_session_ships_the_package_root(spark):
    paths = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert paths[0] == session.PACKAGE_ROOT
    assert os.path.isdir(os.path.join(session.PACKAGE_ROOT, "bigdata_usaspending_spark"))


def test_package_root_is_merged_ahead_of_configured_paths():
    class Context:
        environment = {"PYTHONPATH": os.pathsep.join(["/srv/a", "/srv/b"])}

    class Session:
        sparkContext = Context()

    spark = Session()
    for _ in range(2):  # idempotent
        session._ship_package_root(spark)
        assert Context.environment["PYTHONPATH"].split(os.pathsep) == [
            session.PACKAGE_ROOT, "/srv/a", "/srv/b"]


@pytest.mark.slow
def test_workers_import_the_package_from_a_driver_outside_the_repo(tmp_path):
    """A driver that finds the package only through ``sys.path``, started
    outside the repo with no PYTHONPATH, runs a Python UDF that reaches a
    package function by module reference."""
    root = os.path.dirname(os.path.dirname(bigdata_usaspending_spark.__file__))
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from bigdata_usaspending_spark.operators.aggregates import heavy_hitters
        from bigdata_usaspending_spark.session import get_spark
        spark = get_spark("worker-path")
        toks = spark.createDataFrame([(t,) for t in "a b a c a b".split()], "token string")
        # frequent items: count * k > 6 rows
        print(sorted(r[0] for r in heavy_hitters(toks, "token", k=5).collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    done = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "ModuleNotFoundError" not in done.stderr
    assert done.stdout.strip().splitlines()[-1] == "['a', 'b']"

"""``get_spark`` fails loudly when a running session would ignore its conf."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)


def test_get_spark_refuses_ignored_extra_conf(spark):
    """A second ``get_spark`` in the process gets the running session back.
    An ``extra_conf`` value it already runs with is fine; one it would
    silently drop (a core conf fixed at context start) raises."""
    from incubator_paimon_trino_spark import get_spark

    same = get_spark(
        "tests", shuffle_partitions=8, extra_conf={"spark.default.parallelism": "2"}
    )
    assert same is spark
    with pytest.raises(RuntimeError, match="spark.default.parallelism"):
        get_spark(
            "tests", shuffle_partitions=8, extra_conf={"spark.default.parallelism": "3"}
        )
    assert spark.sparkContext.defaultParallelism == 2


def test_get_spark_fresh_session_takes_extra_conf():
    """A fresh session starts with every ``extra_conf`` value, so nothing
    is refused — including a value Spark rewrites on start (it prepends its
    own JVM flags to ``spark.driver.extraJavaOptions``)."""
    code = (
        "from incubator_paimon_trino_spark import get_spark\n"
        "s = get_spark('fresh', extra_conf={\n"
        "    'spark.driver.extraJavaOptions': '-Dget_spark.test=1',\n"
        "    'spark.default.parallelism': '3'})\n"
        "print('parallelism', s.sparkContext.defaultParallelism)\n"
        "s.stop()\n"
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": REPO,
    }
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "parallelism 3" in out.stdout

"""Every package module imports without a live SparkSession: a module
that builds a Column (or runs any Spark call) at import time breaks
every caller that imports it before creating its session."""

import os
import subprocess
import sys

_IMPORT_ALL = """
import importlib
import pkgutil

import dbqt_spark
from pyspark.sql import SparkSession

for mod in pkgutil.walk_packages(dbqt_spark.__path__, "dbqt_spark."):
    if mod.name.rsplit(".", 1)[1] != "__main__":  # __main__ runs the CLI
        importlib.import_module(mod.name)
assert SparkSession.getActiveSession() is None
"""


def test_every_module_imports_without_a_session():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

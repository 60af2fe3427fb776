"""Test setup for the benchmark's own tests (``python3 -m pytest perfbench``):
puts the checkout and this directory on the path, and gives the session its
own staging root and Spark local dirs under ``.perfbench/test``."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
TEST_ROOT = os.path.join(CHECKOUT, ".perfbench", "test")

sys.path[:0] = [CHECKOUT, HERE]
os.environ["CL_TAGGER_STAGING_DIR"] = os.path.join(TEST_ROOT, "staging")
os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TEST_ROOT, "spark-local")
os.environ["PYTHONPATH"] = os.pathsep.join(
    [CHECKOUT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)


@pytest.fixture(scope="session")
def spark():
    import sparkctl

    s = sparkctl.start(2)
    yield s
    sparkctl.shutdown(s)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    import datagen

    path = os.path.join(TEST_ROOT, "sf0.01")
    datagen.write_tables(path, 0.01)
    return path

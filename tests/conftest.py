from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="agraph_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def forced_path():
    """Force every adaptive cutover (agraph_spark/operators/adaptive.py)
    onto one path inside a with-block::

        with forced_path("distributed"):
            ...

    "driver" lifts every budget, "distributed" sets every budget below
    any probe count, and "default" keeps the shipped budgets. The budgets
    are adaptive's upper-case int constants."""
    from agraph_spark.operators import adaptive

    budgets = [name for name, value in vars(adaptive).items()
               if name.isupper() and type(value) is int]

    @contextlib.contextmanager
    def force(path: str):
        value = {"driver": 10**9, "distributed": -1, "default": None}[path]
        with pytest.MonkeyPatch.context() as mp:
            if value is not None:
                for name in budgets:
                    mp.setattr(adaptive, name, value)
            yield

    return force

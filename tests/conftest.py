import time

import pytest

from sensordatapipelines_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sensordatapipelines-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _filled_without_action(obs, seconds: float = 30.0) -> bool:
    """True once ``obs`` holds its metrics, with no further action run.
    ``Observation.get`` blocks forever on a frame that never runs, so
    this polls the future Spark's listener completes, and gives up."""
    fut = obs._jo.future()
    deadline = time.monotonic() + seconds
    while not fut.isCompleted():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


@pytest.fixture
def filled_without_action():
    """``filled_without_action(obs)``: see ``_filled_without_action``."""
    return _filled_without_action

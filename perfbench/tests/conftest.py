from __future__ import annotations

import pytest

from perfbench import run


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from hephaestus_spark.session import get_session

    run.configure_env(tmp_path_factory.mktemp("perfbench"), trace=False)
    s = get_session("perfbench-tests", cpus=2)
    yield s
    s.stop()

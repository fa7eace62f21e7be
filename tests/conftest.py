from __future__ import annotations

import contextlib
import gc

import pytest

from hospital_data_engineering_pipeline_end_to_end_project_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=8, master="local[8]")
    yield s
    s.stop()


@contextlib.contextmanager
def py4j_round_trips():
    """Count the Py4J commands this Python process sends to the JVM in the block:
    ``with py4j_round_trips() as n: build(); assert n[0] <= 10``.

    The cyclic garbage collector is held off in the block, so proxies
    freed by earlier code do not add their release commands."""
    from py4j.java_gateway import GatewayClient

    count = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        count[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()
    gc.disable()
    GatewayClient.send_command = counting
    try:
        yield count
    finally:
        GatewayClient.send_command = send
        gc.enable()

import contextlib
import os
import sys
import threading

import pytest
from py4j.clientserver import ClientServerConnection

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from loongcollector_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lc-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med():
    return SF_DIR_MED


@contextlib.contextmanager
def py4j_round_trips():
    """Count the Python→JVM round-trips the calling thread makes inside
    the block: its ``ClientServerConnection.send_command`` calls. Yields
    a one-item list whose entry grows as calls are made. Commands from
    other threads (py4j frees JVM objects from its own thread) are not
    counted, so the count does not depend on when they run."""
    n = [0]
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        ClientServerConnection.send_command = send

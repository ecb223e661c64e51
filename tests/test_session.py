"""get_spark's host-derived defaults, checked without starting a JVM:
the session builder is replaced by one that records its confs."""

import os
from types import SimpleNamespace

from osmzen_spark import session

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch, **env):
    for key in ("SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(key, raising=False)
    for key, value in env.items():
        monkeypatch.setenv(key, value)
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder()))
    return session.get_spark()


def test_default_session_fits_the_host(monkeypatch):
    """The default driver heap is no larger than the host's physical
    memory and the default master uses the host's CPUs; the two env
    vars still override both."""
    conf = _conf(monkeypatch)
    heap = conf["spark.driver.memory"].lower()
    heap_bytes = int(heap[:-1]) * _UNITS[heap[-1]]
    phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap_bytes <= phys_bytes, (heap, phys_bytes)
    assert conf["master"] == f"local[{os.cpu_count()}]"

    conf = _conf(monkeypatch, SPARK_DRIVER_MEMORY="3g", SPARK_GRAFT_CPUS="2")
    assert (conf["spark.driver.memory"], conf["master"]) == ("3g", "local[2]")

"""``get_spark`` defaults: without ``SPARK_GRAFT_CPUS`` the local master
and the shuffle partitions follow the cores this process may run on.
Checked on a stub builder, so no second JVM starts."""

from __future__ import annotations

import os

from airbnb_listings_data_pipelines_spark import session


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}

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


class _Session:
    builder = None


def _conf(monkeypatch, **kw):
    stub = _Session()
    stub.builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", stub)
    return session.get_spark(**kw)


def test_default_cores_follow_the_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = len(os.sched_getaffinity(0))
    conf = _conf(monkeypatch)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)


def test_env_and_arguments_override_the_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    conf = _conf(monkeypatch, master="local[2]", shuffle_partitions=7)
    assert conf["master"] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "7"

from __future__ import annotations

import threading

import pytest

from berkeley_entity_spark.config import SynthConfig
from berkeley_entity_spark.session import get_spark
from berkeley_entity_spark.synth import generate_webpages, gold_with_ids

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bes-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """1k synthetic pages + gold mentions (cached)."""
    cfg = SynthConfig(n_pages=1000, n_entities=60)
    pages, gold = generate_webpages(spark, cfg)
    pages = pages.cache()
    gold = gold_with_ids(gold).cache()
    pages.count(), gold.count()
    return cfg, pages, gold


class _Py4jCounter:
    """py4j commands the Python side sent to the JVM.  Calls come from the
    test's thread, the stream's callback thread and py4j's object-release
    thread, hence the lock."""

    def __init__(self):
        self.n = 0
        self._lock = threading.Lock()

    def add(self):
        with self._lock:
            self.n += 1


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """Counts every command sent over the session's gateway connection
    while the test runs (its send_command is wrapped, and restored after)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counter = _Py4jCounter()

    def counted(*args, **kwargs):
        counter.add()
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    return counter

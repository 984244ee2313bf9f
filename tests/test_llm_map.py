"""The LLM map's concurrent fan-out and the thread-safety of the client
decorators it shares between threads.

``_generate_all`` is tested without Spark; one Spark test pins the
output schema of ``llm_map`` (input columns passed through, plus
``result``).
"""

from __future__ import annotations

import pickle
import sys
import threading
import time

import pytest

from mapreduce_llm_spark.operators.llm_map import (
    DEFAULT_CONCURRENCY,
    FakeChatClient,
    RateLimitedClient,
    _generate_all,
    llm_map,
)


class InflightClient:
    """Echoes ``user`` after ``delay(user)`` seconds and records the peak
    number of calls running at once."""

    def __init__(self, delay=lambda user: 0.01):
        self.delay = delay
        self.lock = threading.Lock()
        self.inflight = 0
        self.peak = 0
        self.started: list[str] = []

    def generate(self, system: str, user: str) -> str:
        with self.lock:
            self.inflight += 1
            self.peak = max(self.peak, self.inflight)
            self.started.append(user)
        try:
            time.sleep(self.delay(user))
            return f"{system}:{user}"
        finally:
            with self.lock:
                self.inflight -= 1


def test_results_keep_input_order_when_later_calls_finish_first():
    texts = [str(i) for i in range(16)]
    # latency falls with the index, so later calls complete first
    client = InflightClient(delay=lambda user: 0.002 * (16 - int(user)))
    assert _generate_all(client, "s", texts, 4) == [f"s:{t}" for t in texts]


@pytest.mark.parametrize("concurrency", [2, DEFAULT_CONCURRENCY])
def test_peak_inflight_is_bounded_by_concurrency(concurrency):
    client = InflightClient(delay=lambda user: 0.02)
    out = _generate_all(client, "s", [str(i) for i in range(4 * concurrency)], concurrency)
    assert len(out) == 4 * concurrency
    assert 1 < client.peak <= concurrency


def test_empty_input_makes_no_calls():
    client = InflightClient()
    assert _generate_all(client, "s", [], 4) == []
    assert client.started == []


def test_first_failure_propagates_and_unstarted_calls_never_start():
    class FailsOnFirst(InflightClient):
        def generate(self, system, user):
            if user == "0":
                with self.lock:
                    self.started.append(user)
                raise RuntimeError("provider said no")
            return super().generate(system, user)

    client = FailsOnFirst(delay=lambda user: 0.2)
    with pytest.raises(RuntimeError, match="provider said no"):
        _generate_all(client, "s", [str(i) for i in range(100)], 4)
    # the failing call, the three running beside it, and at most one the
    # freed worker picked up before the cancel landed; the other 95
    # queued calls never start
    assert "0" in client.started
    assert len(client.started) <= 5
    # and no call is still running once the error has surfaced
    assert client.inflight == 0


def test_rate_limited_client_gives_threads_distinct_even_slots():
    """8 threads x 4 calls on one instance: every call waits for its own
    slot, the slots are 1/rate apart, and none is handed out twice."""
    clock_lock = threading.Lock()
    slots: list[float] = []

    def sleep(seconds):
        # record the slot each caller was given (the clock stays at 0),
        # and yield so that an unguarded slot update would interleave
        with clock_lock:
            slots.append(seconds)
        time.sleep(0)

    client = RateLimitedClient(
        FakeChatClient(), max_per_second=10.0, clock=lambda: 0.0, sleep=sleep
    )
    barrier = threading.Barrier(8)

    def worker():
        barrier.wait(timeout=10)
        for _ in range(4):
            client.generate("s", "line")

    threads = [threading.Thread(target=worker) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    # the first call is free (slot 0 needs no sleep); the other 31 slept
    # until distinct slots 0.1 s apart
    assert sorted(round(s, 9) for s in slots) == [round(0.1 * k, 9) for k in range(1, 32)]


def test_rate_limited_client_pickles_without_its_lock():
    client = RateLimitedClient(FakeChatClient(), max_per_second=2.0)
    client.generate("s", "line")
    copy = pickle.loads(pickle.dumps(client))
    assert copy.max_per_second == 2.0
    # a fresh schedule: the copy's first call does not wait on the original's
    waited = []
    copy.sleep = waited.append
    copy.generate("s", "line")
    assert waited == []


def test_llm_map_passes_input_columns_through(spark):
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.operators.cache import cache_key_col

    chunks = spark.createDataFrame(
        [(0, 0, "a kitchen knife\nbrake pads"), (0, 1, "kitchen apron"), (1, 0, "lamp")],
        "doc_id long, chunk_id long, chunk_text string",
    ).withColumn("cache_key", cache_key_col("chunk_text", "p", "m"))
    before = chunks.schema.simpleString()

    out = llm_map(chunks, "p", FakeChatClient("kitchen"))

    assert chunks.schema.simpleString() == before  # input schema untouched
    assert out.columns == chunks.columns + ["result"]
    assert out.schema.fields[:-1] == chunks.schema.fields
    got = out.orderBy("doc_id", "chunk_id").collect()
    want = chunks.orderBy("doc_id", "chunk_id").collect()
    assert [r[:-1] for r in got] == [tuple(r) for r in want]
    assert [r["result"] for r in got] == ["a kitchen knife", "kitchen apron", ""]
    # the carried key still matches a key computed from the mapped text
    assert out.filter(
        F.col("cache_key") != cache_key_col("chunk_text", "p", "m")
    ).count() == 0


def test_cache_misses_map_and_rejoin_their_keys(spark):
    """Misses come back without ``cache_key``, so mapping them and joining
    the key back by (doc_id, chunk_id) leaves exactly one key column."""
    from mapreduce_llm_spark.operators.cache import cache_key_col, split_cached

    keyed = spark.createDataFrame(
        [(0, 0, "kitchen knife"), (0, 1, "lamp"), (1, 0, "kitchen apron")],
        "doc_id long, chunk_id long, chunk_text string",
    ).withColumn("cache_key", cache_key_col("chunk_text", "p", "m"))
    cached_key = keyed.filter("chunk_id = 1").first()["cache_key"]
    cache = spark.createDataFrame([(cached_key, "lamp")], "cache_key string, result string")

    hits, misses = split_cached(keyed, cache)

    assert "cache_key" not in misses.columns
    fresh = llm_map(misses, "p", FakeChatClient("kitchen")).join(
        keyed.select("doc_id", "chunk_id", "cache_key"), ["doc_id", "chunk_id"]
    )
    got = sorted(tuple(r) for r in fresh.select("cache_key", "result").collect())
    want = sorted(
        (r["cache_key"], r["chunk_text"]) for r in keyed.filter("chunk_id = 0").collect()
    )
    assert got == want
    assert [r["result"] for r in hits.collect()] == ["lamp"]

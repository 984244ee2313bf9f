"""Pipeline tests porting the reference suite 1:1
(reference internal/cli/mapreduce_test.go):

- success + combined content (:56-107)
- multi-chunk splitting (:109-173)
- cache hit: second run makes zero client calls (:175-232)
- API error propagation (:234-260)
- empty input tolerance (:280-301)
- cache cleanup (:303-355)
"""

from __future__ import annotations

import os

import pytest

from mapreduce_llm_spark.operators.cache import clean_cache, read_cache
from mapreduce_llm_spark.operators.llm_map import FailingChatClient, FakeChatClient
from mapreduce_llm_spark.operators.pipeline import (
    CostEstimate,
    map_reduce_llm,
    process_text,
    semantic_classify,
    semantic_extract,
    semantic_filter,
    write_text_sink,
)

KITCHEN_REVIEWS = "\n".join(
    [
        "the kitchen knife is sharp",
        "this lamp is too dim",
        "a sturdy kitchen table",
        "the car wax works great",
        "lovely kitchen apron",
        "decent phone case",
    ]
)


def test_process_success_single_chunk(spark):
    out = process_text(spark, KITCHEN_REVIEWS, "keep kitchen lines", FakeChatClient("kitchen"))
    assert out.split("\n") == [
        "the kitchen knife is sharp",
        "a sturdy kitchen table",
        "lovely kitchen apron",
    ]


def test_process_multi_chunk_order_preserved(spark):
    """Echo client + tiny budget: order of chunks must be preserved in
    the separator-free combined output (reference :109-173)."""
    doc = "\n".join(f"line{i:03d}" for i in range(60))
    out = process_text(
        spark, doc, "echo", FakeChatClient(""), max_tokens_per_chunk=20
    )
    # echo returns each chunk verbatim; separator-free concat re-joins
    # them missing only the inter-chunk newlines
    assert out.replace("\n", "") == doc.replace("\n", "")
    assert "line000" in out and out.index("line000") < out.index("line059")


def test_dry_run_cost_estimate(spark):
    est = process_text(spark, KITCHEN_REVIEWS, "p", FakeChatClient(), dry_run=True)
    assert isinstance(est, CostEstimate)
    assert est.n_chunks == 1 and est.n_tokens > 0
    # the reference's 4-model cost table, estimation.go:39-44
    assert set(est.cost_usd_by_model) == {"gpt-5-nano", "gpt-5-mini", "gpt-5", "gpt-5.1"}
    assert est.cost_usd_by_model["gpt-5"] == pytest.approx(
        est.cost_usd_by_model["gpt-5-nano"] * 25
    )


def test_cache_hit_second_run_zero_calls(spark, tmp_path):
    """Second run is served from cache: a client that always fails must
    not be invoked at all (stronger than the reference's call-count
    assertion, :175-232)."""
    cache_dir = str(tmp_path / "cache")
    out1 = process_text(
        spark, KITCHEN_REVIEWS, "keep kitchen", FakeChatClient("kitchen"), cache_dir=cache_dir
    )
    out2 = process_text(
        spark, KITCHEN_REVIEWS, "keep kitchen", FailingChatClient(), cache_dir=cache_dir
    )
    assert out1 == out2


def test_resume_with_duplicate_cache_keys_does_not_multiply_rows(spark, tmp_path):
    """Two identical chunks both miss on the cold run, so the cache
    holds their key twice; the resumed run must still emit each chunk
    once, not once per matching cache row."""
    docs = spark.createDataFrame(
        [(0, "same line here\nsame line here\nother")], "doc_id long, text string"
    )
    cache_dir = str(tmp_path / "cache")
    kw = dict(max_tokens_per_chunk=3, sep="|", cache_dir=cache_dir)
    cold = map_reduce_llm(docs, "echo", FakeChatClient(""), **kw).collect()
    assert cold[0]["result"] == "same line here|same line here|other"
    assert read_cache(spark, cache_dir).count() == 3  # the duplicate key is stored
    resumed = map_reduce_llm(docs, "echo", FailingChatClient(), **kw).collect()
    assert [r["result"] for r in resumed] == [cold[0]["result"]]


def test_cache_is_content_addressed_not_positional(spark, tmp_path):
    """Changing the prompt misses the cache — the deliberate divergence
    from the reference's stale positional keying (mapreduce.go:79)."""
    cache_dir = str(tmp_path / "cache")
    process_text(spark, KITCHEN_REVIEWS, "keep kitchen", FakeChatClient("kitchen"), cache_dir=cache_dir)
    out = process_text(
        spark, KITCHEN_REVIEWS, "keep lamps", FakeChatClient("lamp"), cache_dir=cache_dir
    )
    assert out == "this lamp is too dim"


def test_error_propagation(spark):
    """Client errors fail the job (reference :234-260)."""
    with pytest.raises(Exception, match="simulated API error"):
        process_text(spark, KITCHEN_REVIEWS, "p", FailingChatClient())


def test_empty_input(spark):
    assert process_text(spark, "", "p", FakeChatClient()) == ""


def test_clean_cache(spark, tmp_path):
    cache_dir = str(tmp_path / "cache")
    process_text(spark, KITCHEN_REVIEWS, "p", FakeChatClient("kitchen"), cache_dir=cache_dir)
    assert read_cache(spark, cache_dir).count() > 0
    clean_cache(cache_dir)
    assert not os.path.isdir(cache_dir)
    clean_cache(cache_dir)  # no-op when absent (reference :265-281)


def test_text_sink(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "alpha\nkitchen pan"), (2, "kitchen pot\nbeta")], "doc_id long, text string"
    )
    res = semantic_filter(docs, "kitchen", FakeChatClient("kitchen"))
    out_dir = str(tmp_path / "out")
    write_text_sink(res, out_dir)
    files = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    assert len(files) == 1
    content = open(os.path.join(out_dir, files[0])).read().strip().split("\n")
    assert content == ["kitchen pan", "kitchen pot"]


def test_semantic_classify_and_extract(spark):
    docs = spark.createDataFrame(
        [(1, "good kitchen pan"), (2, "bad phone case")], "doc_id long, text string"
    )
    labels = {
        r["doc_id"]: r["label"]
        for r in semantic_classify(docs, "label", FakeChatClient("kitchen")).collect()
    }
    assert labels == {1: "good kitchen pan", 2: ""}

    extracted = semantic_extract(docs, "extract", FakeChatClient("kitchen")).collect()
    assert [(r["doc_id"], r["extracted"]) for r in extracted] == [(1, "good kitchen pan")]


def test_map_reduce_llm_multi_doc_parallel(spark):
    """Corpus-level pipeline: each doc reduced independently, in order."""
    docs = spark.createDataFrame(
        [(i, f"kitchen item {i}\nother {i}") for i in range(10)],
        "doc_id long, text string",
    )
    out = map_reduce_llm(docs, "f", FakeChatClient("kitchen"), sep="\n")
    got = {r["doc_id"]: r["result"] for r in out.collect()}
    assert got == {i: f"kitchen item {i}" for i in range(10)}


def test_retrying_client_absorbs_transients():
    from mapreduce_llm_spark.operators.llm_map import RetryingClient

    calls = {"n": 0}

    class Flaky:
        def generate(self, system, user):
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("transient 429")
            return "ok:" + user

    slept = []
    c = RetryingClient(Flaky(), max_attempts=3, backoff_s=1.0, sleep=slept.append)
    assert c.generate("s", "u") == "ok:u"
    assert calls["n"] == 3
    assert slept == [1.0, 2.0]  # exponential backoff


def test_retrying_client_gives_up():
    import pytest as _pytest

    from mapreduce_llm_spark.operators.llm_map import FailingChatClient, RetryingClient

    c = RetryingClient(FailingChatClient(), max_attempts=2, sleep=lambda s: None)
    with _pytest.raises(RuntimeError, match="failed after 2 attempts"):
        c.generate("s", "u")


def test_rate_limited_client_spaces_calls():
    from mapreduce_llm_spark.operators.llm_map import FakeChatClient, RateLimitedClient

    t = {"now": 0.0}
    slept = []

    def sleep(s):
        slept.append(s)
        t["now"] += s

    c = RateLimitedClient(
        FakeChatClient(), max_per_second=2.0, clock=lambda: t["now"], sleep=sleep
    )
    for _ in range(3):
        c.generate("s", "line")
    # first call free, then 0.5s spacing each
    assert slept == [0.5, 0.5]


def test_cost_cap_blocks_before_any_call(spark):
    import pytest as _pytest

    from mapreduce_llm_spark.operators.llm_map import FailingChatClient
    from mapreduce_llm_spark.operators.pipeline import CostCapExceeded, map_reduce_llm

    docs = spark.createDataFrame(
        [(0, "some words " * 200)], "doc_id long, text string"
    )
    # FailingChatClient proves the gate fires BEFORE any LLM call
    with _pytest.raises(CostCapExceeded, match="exceeds cap"):
        map_reduce_llm(
            docs, "p", FailingChatClient(), max_cost_usd=1e-9
        ).collect()

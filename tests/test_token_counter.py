"""A custom token counter reaches the executors.

``set_token_counter`` changes a module global of the driver process;
Spark's Python workers are other processes. These tests run the
token-counting operators on executors under a counter that disagrees
with every default and check each against the same counter applied
on the driver. The counter is the builtin ``len`` (one token per
character): like any module-level function it pickles by reference,
and unlike a function defined here its module is importable on the
workers.
"""

from __future__ import annotations

import pytest

from mapreduce_llm_spark.functions.tokens import set_token_counter
from mapreduce_llm_spark.operators.chunker import chunk_documents, chunk_text
from mapreduce_llm_spark.operators.packing import pack_sequences
from mapreduce_llm_spark.operators.pipeline import estimate_cost

TEXT = "\n".join(f"line {i} of a review about item {i * 7}" for i in range(10))
BUDGET = 80


@pytest.fixture
def char_counter():
    set_token_counter(len)
    yield len
    set_token_counter(None)


@pytest.fixture
def docs(spark):
    return spark.createDataFrame([(0, TEXT)], "doc_id long, text string")


def test_chunk_documents_uses_the_installed_counter(docs, char_counter):
    expected = chunk_text(TEXT, BUDGET)
    assert len(expected) > 1
    rows = chunk_documents(docs, max_tokens=BUDGET).orderBy("chunk_id").collect()
    assert [r["chunk_text"] for r in rows] == expected
    assert [r["n_tokens"] for r in rows] == [char_counter(c) for c in expected]


def test_estimate_cost_uses_the_installed_counter(docs, char_counter):
    est = estimate_cost(chunk_documents(docs, max_tokens=BUDGET))
    assert est.n_tokens == sum(char_counter(c) for c in chunk_text(TEXT, BUDGET))


def test_pack_sequences_uses_the_installed_counter(spark, char_counter):
    texts = {i: "x" * (i + 1) + " word" * i for i in range(20)}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    rows = pack_sequences(df, budget=64, n_shards=4).collect()
    assert {r["doc_id"]: r["n_tokens"] for r in rows} == {
        i: char_counter(t) for i, t in texts.items()
    }

"""The generators are pure functions of their seed."""

from __future__ import annotations

import filecmp
import os

from mapreduce_llm_spark.functions.tokens import count_tokens_str
from perfbench import gen
from perfbench.service import keeps


def test_review_inputs_repeat_per_seed():
    assert gen.review_file(7, 500) == gen.review_file(7, 500)
    assert gen.review_file(7, 500) != gen.review_file(8, 500)
    assert gen.review_corpus(7, 50, 20) == gen.review_corpus(7, 50, 20)
    lines = gen.review_file(7, 2000).split("\n")
    assert 0.2 < sum(map(keeps, lines)) / len(lines) < 0.4


def test_edits_repeat_and_keep_token_counts():
    docs = gen.review_corpus(3, 200, 20)
    edited, ids = gen.edit_documents(3, docs, 20)
    assert (edited, ids) == gen.edit_documents(3, docs, 20)
    changed = [i for (i, a), (_, b) in zip(docs, edited) if a != b]
    assert changed == ids and len(ids) == 20
    for (_, a), (_, b) in zip(docs, edited):
        diff = [(x, y) for x, y in zip(a.split("\n"), b.split("\n")) if x != y]
        assert len(diff) <= 1
        assert all(count_tokens_str(x + "\n") == count_tokens_str(y + "\n") for x, y in diff)


def test_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen.write_tables(a, 42, 0.001)
    gen.write_tables(b, 42, 0.001)
    gen.write_tables(c, 43, 0.001)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    assert filecmp.cmpfiles(a, b, names, shallow=False)[0] == names
    assert filecmp.cmpfiles(a, c, names, shallow=False)[0] == ["nation.parquet", "region.parquet"]

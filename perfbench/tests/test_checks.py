"""The output checks accept correct output and reject known failures."""

from __future__ import annotations

from perfbench import checks, gen


def _results(docs):
    return {doc_id: "\n".join(checks.kept_lines(text)) or "\n" for doc_id, text in docs}


def test_file_check_accepts_lines_glued_across_chunks():
    text = "1 stars | great pan | ok\n2 stars | old tent | ok\n3 stars | red kettle | ok"
    glued = "1 stars | great pan | ok3 stars | red kettle | ok"
    assert checks.check_file_output(glued, text, llm_calls=2, n_chunks=2) == []
    assert checks.check_file_output("1 stars | great pan | ok", text, 2, 2)
    assert checks.check_file_output(glued, text, llm_calls=3, n_chunks=2)


def test_corpus_check_accepts_correct_output():
    docs = gen.review_corpus(5, 40, 10)
    assert checks.check_corpus_output(_results(docs), docs, llm_calls=4, misses=4) == []


def test_corpus_check_rejects_stale_frame_reuse():
    """A later map_reduce_llm call that silently reuses the previous
    call's persisted frame makes no calls and drops the documents whose
    chunks missed the cache."""
    docs = gen.review_corpus(5, 40, 10)
    edited, ids = gen.edit_documents(5, docs, 4)
    stale = {k: v for k, v in _results(edited).items() if k not in ids}
    errors = checks.check_corpus_output(stale, edited, llm_calls=0, misses=4)
    assert "4 documents missing from the output" in errors
    assert "llm_calls 0 != cache misses 4" in errors


def test_corpus_check_rejects_wrong_lines():
    docs = gen.review_corpus(5, 40, 10)
    results = _results(docs)
    results[0] = "not a kept line"
    assert checks.check_corpus_output(results, docs, 0, 0) == ["1 documents hold the wrong lines"]


def test_frame_digest_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [0.5, 1.5]})
    b = pd.DataFrame({"y": [1.5, 0.5], "x": [2, 1]})
    assert checks.frame_digest(a) == checks.frame_digest(b)
    assert checks.frame_digest(a) != checks.frame_digest(a.assign(y=[0.5, 1.25]))

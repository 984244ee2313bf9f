"""Output checks. Each returns a list of failure messages; an empty
list means the output is correct."""

from __future__ import annotations

import hashlib
import numbers

from perfbench.service import keeps


def kept_lines(text: str) -> list[str]:
    return [line for line in text.split("\n") if keeps(line)]


def check_file_output(output: str, input_text: str, llm_calls: int, n_chunks: int) -> list[str]:
    """One-file workload. The reduce joins chunk results with no
    separator, so a chunk's last kept line and the next chunk's first
    one are glued together; the check therefore compares with all
    newlines removed."""
    errors = []
    if output.replace("\n", "") != "".join(kept_lines(input_text)):
        errors.append("output differs from the kept input lines")
    if llm_calls != n_chunks:
        errors.append(f"llm_calls {llm_calls} != dry-run n_chunks {n_chunks}")
    return errors


def check_corpus_output(
    results: dict[int, str], docs: list[tuple[int, str]], llm_calls: int, misses: int
) -> list[str]:
    """Corpus workload: one row per document holding exactly that
    document's kept lines in order, and one LLM call per cache miss."""
    errors = []
    expected_ids = {doc_id for doc_id, _ in docs}
    missing = expected_ids - results.keys()
    extra = results.keys() - expected_ids
    if missing:
        errors.append(f"{len(missing)} documents missing from the output")
    if extra:
        errors.append(f"{len(extra)} unexpected documents in the output")
    wrong = sum(
        1
        for doc_id, text in docs
        if doc_id in results
        and [line for line in results[doc_id].split("\n") if line] != kept_lines(text)
    )
    if wrong:
        errors.append(f"{wrong} documents hold the wrong lines")
    if llm_calls != misses:
        errors.append(f"llm_calls {llm_calls} != cache misses {misses}")
    return errors


def _cell(v) -> str:
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        return repr(float(v))
    return str(v)


def frame_digest(pdf) -> dict:
    """Row count and an order-insensitive sha256 of a result frame:
    columns sorted by name, cells rendered as plain Python values, rows
    sorted."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\t".join(map(_cell, row)) + "\n" for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update(row.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}

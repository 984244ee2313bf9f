"""Token-bounded greedy chunking — the reference's partitioner.

Behavioral parity with ``splitIntoTokenChunks`` (reference
internal/cli/mapreduce.go:199-263):

- lines are packed greedily in order: a line joins the current chunk
  unless that would push the chunk over the token budget, in which case
  the chunk is flushed and a new one starts (:212-227);
- a single line whose own token count exceeds the budget falls back to
  word-level greedy packing of that line (:228-254); all word-chunks
  but the LAST are emitted — the last one becomes the new open
  accumulator so following short lines pack onto it (:249-253);
- each emitted chunk has its trailing newline trimmed (:219, :259);
- chunk ids are consecutive integers in input order (1-based file names
  in the reference, 0-based ids here — an id scheme, not a semantic).

Exact byte-identical boundaries with the Go implementation are NOT a
goal (tokenizers differ; SURVEY §7 phase 2); the invariants the
reference itself tests (mapreduce_test.go:402-436) are: recombination
preserves the word sequence, and every chunk stays ≤ 2× budget.

Spark shape: the pure function ``chunk_text`` runs per document inside
``mapInPandas`` — documents are independent, so chunking 100 TB of
docs is embarrassingly parallel with zero shuffle; only the within-doc
packing is sequential, exactly like the reference's per-file loop.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from mapreduce_llm_spark.functions.tokens import get_token_counter, set_token_counter

DEFAULT_MAX_TOKENS_PER_CHUNK = 2000  # reference internal/cli/mapreduce.go:46


def _pack_words(line: str, max_tokens: int, count: Callable[[str], int]) -> list[str]:
    """Word-level greedy packing for a single overlong line
    (reference internal/cli/mapreduce.go:228-254)."""
    chunks: list[str] = []
    current: list[str] = []
    current_tokens = 0
    for word in line.split(" "):
        t = count(word + " ")
        if current and current_tokens + t > max_tokens:
            chunks.append(" ".join(current))
            current = []
            current_tokens = 0
        current.append(word)
        current_tokens += t
    if current:
        chunks.append(" ".join(current))
    return chunks


def chunk_text(text: str, max_tokens: int = DEFAULT_MAX_TOKENS_PER_CHUNK) -> list[str]:
    """Split one document into token-bounded chunks on line boundaries."""
    if not text:
        return []
    count = get_token_counter()
    chunks: list[str] = []
    current: list[str] = []
    current_tokens = 0

    def flush() -> None:
        nonlocal current, current_tokens
        if current:
            # join then trim the trailing newline, as the reference does
            chunks.append("\n".join(current))
            current = []
            current_tokens = 0

    for line in text.split("\n"):
        line_tokens = count(line + "\n")
        if line_tokens > max_tokens:
            # overlong single line: flush accumulator, word-pack the
            # line; the last word-chunk stays open as the new
            # accumulator (reference mapreduce.go:249-253)
            flush()
            wchunks = _pack_words(line, max_tokens, count)
            chunks.extend(wchunks[:-1])
            if wchunks:
                current = [wchunks[-1]]
                current_tokens = count(wchunks[-1] + "\n")
            continue
        if current and current_tokens + line_tokens > max_tokens:
            flush()
        current.append(line)
        current_tokens += line_tokens
    flush()
    return chunks


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = DEFAULT_MAX_TOKENS_PER_CHUNK,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Chunk a corpus: (id, text) → (id, chunk_id, chunk_text,
    n_tokens), chunk_id consecutive per document in order. The id
    column keeps its input name; ``carry_cols`` are replicated onto
    every chunk row (cheap per-row scalars ride through the UDF instead
    of forcing a post-chunk join back to the document table).

    mapInPandas (not applyInPandas): no grouping shuffle is needed
    because each input row is one whole document — every Arrow batch is
    chunked independently wherever it already lives.
    """
    carry = carry_cols or []
    counter = get_token_counter()

    def chunk_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # chunk_text counts through the module global, which a worker
        # process never inherits from the driver: install the captured one
        set_token_counter(counter)
        for pdf in batches:
            out: dict[str, list] = {
                id_col: [], "chunk_id": [], "chunk_text": [], "n_tokens": [],
                **{c: [] for c in carry},
            }
            for row in pdf.itertuples(index=False):
                rowd = dict(zip(pdf.columns, row))
                for i, chunk in enumerate(chunk_text(rowd[text_col] or "", max_tokens)):
                    out[id_col].append(rowd[id_col])
                    out["chunk_id"].append(i)
                    out["chunk_text"].append(chunk)
                    out["n_tokens"].append(counter(chunk))
                    for c in carry:
                        out[c].append(rowd[c])
            yield pd.DataFrame(out)

    carry_schema = "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in carry
    )
    schema = (
        f"{id_col} {docs.schema[id_col].dataType.simpleString()}, "
        f"chunk_id long, chunk_text string, n_tokens long{carry_schema}"
    )
    return docs.select(id_col, text_col, *carry).mapInPandas(chunk_batch, schema=schema)

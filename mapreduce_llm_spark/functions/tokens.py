"""Token counting and the model cost table.

Mirrors the reference's estimation surface (reference
internal/cli/estimation.go:13-36 — cl100k_base token count; :39-44 —
the 4-model input-cost table, kept verbatim below).

One module-global ``str -> int`` counter serves every consumer:
count_tokens_str, the pandas UDF, chunk boundaries, sequence packing
and the cost pre-flight. ``set_token_counter`` replaces it (``None``
restores the default). The default is resolved once, lazily, on first
use: tiktoken's cl100k_base if importable, else the pure-Python cl100k
BPE in functions/bpe.py over the vocabulary file named by
SPARK_GRAFT_CL100K_PATH (the vocab data itself can't be vendored
offline), else the deterministic heuristic below. Each default is a
module-level function, so it pickles by reference.

Executors are separate Python processes whose module globals the
driver never sets, so the Spark operators that count tokens
(chunk_documents, pack_sequences, make_count_tokens_udf) read the
driver's counter when they build the plan and carry it to the workers
in their closures. An installed counter must therefore be picklable.

With none of the exact encoders available, ``count_tokens`` uses a
deterministic BPE-ish approximation: each
whitespace-delimited word contributes max(1, ceil(len/4)) tokens
(≈4 chars per BPE token, the published cl100k rule of thumb);
punctuation is counted as part of the word it touches, not separately
— this word-only rule is what token_count_col and the _DUCK_TOKENS
oracle implement, so all three stay in lockstep. The implementation is
vectorized (operates on whole pandas Series) so the Spark pandas-UDF
path ships Arrow batches, never single rows.
"""

from __future__ import annotations

import functools
import math
import os
import re
from collections.abc import Callable

import pandas as pd

# chars-per-token heuristic used when no exact encoder is available
_CHARS_PER_TOKEN = 4
_WORD_RE = re.compile(r"\S+")


def _heuristic_count(text: str) -> int:
    if not text:
        return 0
    n = 0
    for w in _WORD_RE.findall(text):
        n += max(1, math.ceil(len(w) / _CHARS_PER_TOKEN))
    return n


@functools.cache
def _tiktoken_encoding():
    import tiktoken

    return tiktoken.get_encoding("cl100k_base")


def _tiktoken_count(text: str) -> int:
    return len(_tiktoken_encoding().encode(text))


@functools.cache
def _cl100k_file_encoder():
    from mapreduce_llm_spark.functions.bpe import (
        BytePairEncoder,
        load_tiktoken_ranks,
    )

    return BytePairEncoder(load_tiktoken_ranks(os.environ["SPARK_GRAFT_CL100K_PATH"]))


def _cl100k_file_count(text: str) -> int:
    return _cl100k_file_encoder().count(text)


def _default_counter() -> Callable[[str], int]:
    try:  # pragma: no cover - tiktoken is optional
        _tiktoken_encoding()
        return _tiktoken_count
    except Exception:  # ImportError or download failure
        pass
    path = os.environ.get("SPARK_GRAFT_CL100K_PATH")
    if path and os.path.exists(path):
        return _cl100k_file_count
    return _heuristic_count


_counter: Callable[[str], int] | None = None  # None: default, resolved on first use


def get_token_counter() -> Callable[[str], int]:
    """The active ``str -> int`` counter (resolving the default on
    first use). Spark operators capture this on the driver."""
    global _counter
    if _counter is None:
        _counter = _default_counter()
    return _counter


def set_token_counter(counter: Callable[[str], int] | None) -> None:
    """Install a custom ``str -> int`` token counter, or with ``None``
    restore the default. It replaces the counter for every consumer:
    count_tokens_str, the pandas UDF, chunking, packing and cost
    estimation, on the driver and (through the operators' closures) on
    every executor — so it must be picklable."""
    global _counter
    _counter = counter


def install_cl100k_from_file(path: str) -> None:
    """Make exact cl100k BPE over a ``.tiktoken``-format vocabulary
    file the active counter."""
    from mapreduce_llm_spark.functions.bpe import (
        BytePairEncoder,
        load_tiktoken_ranks,
    )

    set_token_counter(BytePairEncoder(load_tiktoken_ranks(path)).count)


def count_tokens_str(text: str) -> int:
    """Token count of one string under the active counter."""
    return (_counter or get_token_counter())(text)


def count_tokens_series(texts: pd.Series) -> pd.Series:
    """Vectorized token count for a pandas Series of strings."""
    return texts.fillna("").map(get_token_counter()).astype("int64")


def make_count_tokens_udf():
    """Build the Arrow-vectorized pandas UDF (session must exist). It
    counts with the driver's counter as of this call."""
    from pyspark.sql import functions as F

    counter = get_token_counter()

    @F.pandas_udf("long")
    def count_tokens(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(counter).astype("int64")

    return count_tokens


# Input cost per 1M tokens — the reference's table verbatim
# (reference internal/cli/estimation.go:39-44).
MODEL_COSTS_PER_1M_INPUT_TOKENS: dict[str, float] = {
    "gpt-5-nano": 0.05,
    "gpt-5-mini": 0.25,
    "gpt-5": 1.25,
    "gpt-5.1": 1.25,
}

DEFAULT_MODEL = "gpt-5-nano"  # reference cmd/cli/root.go:22


def estimate_cost_usd(n_tokens: int, model: str) -> float:
    """tokens × $/1M for one model (reference internal/cli/estimation.go:27-31)."""
    return n_tokens * MODEL_COSTS_PER_1M_INPUT_TOKENS[model] / 1_000_000.0

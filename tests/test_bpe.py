"""Pure-Python byte-level BPE: algorithm correctness without the
cl100k vocabulary data (which is environment-blocked — no network, no
tiktoken wheel). The algorithm itself is fully testable: rank-ordered
merging on hand-built vocabularies, the published cl100k
pre-tokenization regex, the .tiktoken file format, and pickling for
Spark UDF closures. Exact-parity tests against tiktoken auto-skip
where tiktoken is absent and run the moment it (or a vocab file) is
provided."""

from __future__ import annotations

import base64
import pickle
from pathlib import Path

import pytest

from mapreduce_llm_spark.functions.bpe import (
    CL100K_PATTERN,
    BytePairEncoder,
    load_tiktoken_ranks,
)

# Toy byte vocab: single bytes + a few merges, enough to discriminate
# BPE's lowest-rank-first order from greedy longest-prefix matching.
TOY = {b"a": 0, b"b": 1, b"c": 2, b"d": 3, b"bc": 4, b"ab": 5, b"cd": 6, b"abcd": 7}


def enc(ranks=None, pattern=r"\S+|\s+"):
    return BytePairEncoder(ranks or dict(TOY), pattern=pattern)


def test_merge_order_is_by_rank_not_longest_prefix():
    # "abc": pair ranks ab=5, bc=4 → bc merges FIRST (lower rank),
    # leaving [a, bc] = [0, 4]. Greedy longest-prefix would emit
    # [ab, c] = [5, 2] — the wrong answer BPE exists to avoid.
    assert enc().encode("abc") == [0, 4]


def test_cascading_merges_reach_whole_piece_token():
    # ab(5) and cd(6) merge, then abcd(7): one token.
    assert enc().encode("abcd") == [7]


def test_unmergeable_bytes_fall_back_to_singletons():
    assert enc().encode("dcba") == [3, 2, 1, 0]


def test_missing_single_byte_raises_loudly():
    # A truncated vocabulary must not produce silently wrong counts.
    with pytest.raises(KeyError):
        enc().encode("axe")


def test_count_and_decode_round_trip():
    e = enc({**TOY, b" ": 8})
    ids = e.encode("abcd dcba")
    assert e.count("abcd dcba") == len(ids)
    assert e.decode(ids) == "abcd dcba"


def test_encoder_pickles_for_udf_closures():
    e = enc()
    e.pieces("warm up the lazy regex")  # compiled state must not break pickle
    clone = pickle.loads(pickle.dumps(e))
    assert clone.encode("abc") == e.encode("abc")


def test_cl100k_pretokenizer_splits_like_the_published_pattern():
    e = BytePairEncoder({}, pattern=CL100K_PATTERN)
    assert e.pieces("Hello world123 it's\n\n done") == [
        "Hello", " world", "123", " it", "'s", "\n\n", " done",
    ]
    # digits chunk in groups of ≤3; punctuation binds its leading space
    assert e.pieces("year 2024!") == ["year", " ", "202", "4", "!"]


def test_tiktoken_file_format_loader(tmp_path):
    p = tmp_path / "toy.tiktoken"
    lines = [
        base64.b64encode(tok).decode() + " " + str(rank)
        for tok, rank in TOY.items()
    ]
    p.write_text("\n".join(lines) + "\n")
    assert load_tiktoken_ranks(str(p)) == TOY


def test_vocab_file_installs_into_token_seam(tmp_path):
    from mapreduce_llm_spark.functions import tokens as T

    p = tmp_path / "toy.tiktoken"
    vocab = {**TOY, b" ": 8}
    p.write_text(
        "\n".join(
            base64.b64encode(t).decode() + " " + str(r) for t, r in vocab.items()
        )
    )
    baseline = T.count_tokens_str("abcd abc")
    T.install_cl100k_from_file(str(p))
    try:
        # cl100k pattern: "abcd" + " abc" → [abcd] + [space-merge-less
        # pieces]: " abc" has no space-letter merges in the toy vocab,
        # so it splits to " ", then a,bc → 4 tokens total... compute:
        # "abcd" → [7]; " abc" piece → bytes " abc": no pair with the
        # space merges, bc(4) merges → [" ", "a", "bc"] → 3 ids.
        assert T.count_tokens_str("abcd abc") == 4
        assert T.count_tokens_str("abcd abc") != baseline or baseline == 4
    finally:
        T.set_token_counter(None)  # restore the default for other tests


def test_exact_parity_with_tiktoken_when_available():
    """Bit-for-bit ID parity with tiktoken's cl100k_base — the real
    point of the module. Auto-skips in this container (no tiktoken, no
    vocab); runs unchanged wherever either exists."""
    tiktoken = pytest.importorskip("tiktoken")
    real = tiktoken.get_encoding("cl100k_base")
    ranks = real._mergeable_ranks
    mine = BytePairEncoder(ranks)
    for text in (
        "Hello world, it's 2024 — naïve tokenizers beware!\n\n",
        "    indented code():\n        return 'x'\n",
        "emoji 🙂 and CJK 你好 mix",
    ):
        assert mine.encode(text) == real.encode_ordinary(text)


# ---- property tests (hypothesis) ------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _full_byte_vocab_with_merges() -> dict[bytes, int]:
    """All 256 single bytes (ranks 0-255) plus a deterministic set of
    multi-byte merges over common ASCII pairs — enough structure for
    merging to actually happen on random ASCII input."""
    ranks: dict[bytes, int] = {bytes([b]): b for b in range(256)}
    rank = 256
    for pair in (b"th", b"he", b"in", b"er", b"an", b"the", b"ing", b"  "):
        ranks[pair] = rank
        rank += 1
    return ranks


_PROP_ENC = BytePairEncoder(_full_byte_vocab_with_merges(), pattern=r"[\s\S]+")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120))
def test_bpe_round_trip_is_lossless(text):
    """decode(encode(x)) == x for arbitrary unicode input: merging can
    never lose or reorder bytes, and every byte is reachable (the
    256-byte base vocab guarantees no KeyError)."""
    assert _PROP_ENC.decode(_PROP_ENC.encode(text)) == text


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120))
def test_bpe_tokens_never_exceed_bytes(text):
    """Token count is bounded above by the UTF-8 byte length (merges
    only shrink) and below by 1 for non-empty input."""
    n = _PROP_ENC.count(text)
    assert n <= len(text.encode("utf-8"))
    if text:
        assert n >= 1


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="the ring", max_size=60))
def test_bpe_every_emitted_id_is_a_vocab_token_covering_input(text):
    """Concatenating the byte strings of the emitted ids reconstructs
    the exact UTF-8 input — the structural invariant of byte-level BPE
    (tokens tile the input, no gaps, no overlaps)."""
    ranks = _PROP_ENC.ranks
    inv = {v: k for k, v in ranks.items()}
    ids = _PROP_ENC.encode(text)
    assert b"".join(inv[i] for i in ids) == text.encode("utf-8")


def test_installed_vocab_reaches_executors(tmp_path):
    """The round-4 advice bug: install_cl100k_from_file used to set a
    driver-global only, so executor-side pandas UDFs silently kept the
    heuristic. The count UDF now carries the driver's counter to the
    workers in its closure, so an install — and a second, different
    install — changes what the executors count. Runs in an ISOLATED
    Spark application via subprocess so the fresh worker processes
    start from the default counter."""
    import base64
    import subprocess
    import sys

    def write_vocab(path, vocab):
        path.write_text(
            "\n".join(
                base64.b64encode(t).decode() + " " + str(r) for t, r in vocab.items()
            )
        )

    p = tmp_path / "toy.tiktoken"
    write_vocab(p, {**TOY, b" ": 8})
    # a second vocab without the abcd merge: bc merges first, so
    # "abcd" becomes [a, bc, d] and the text counts 6
    p2 = tmp_path / "toy2.tiktoken"
    write_vocab(p2, {**{t: r for t, r in TOY.items() if t != b"abcd"}, b" ": 8})
    script = f"""
from pyspark.sql import SparkSession, functions as F
from mapreduce_llm_spark.functions import tokens as T
spark = (SparkSession.builder.master("local[4]")
         .appName("vocab-ship-test")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
df = spark.createDataFrame([("abcd abc",)] * 64, "text string").repartition(8)
def executor_counts():
    return {{r[0] for r in df.select(T.make_count_tokens_udf()(F.col("text"))).collect()}}
T.install_cl100k_from_file({str(p)!r})
# 4 = exact toy-BPE count; the heuristic would give 2
assert executor_counts() == {{4}}, executor_counts()
print("EXECUTOR_VOCAB_OK")
# a second, different vocab switches the count on the same workers
T.install_cl100k_from_file({str(p2)!r})
assert executor_counts() == {{6}}, executor_counts()
T.set_token_counter(None)
assert executor_counts() == {{2}}, executor_counts()
print("REINSTALL_SWITCH_OK")
"""
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=str(Path(__file__).resolve().parents[1]),
    )
    assert "EXECUTOR_VOCAB_OK" in r.stdout, r.stdout + r.stderr
    assert "REINSTALL_SWITCH_OK" in r.stdout, r.stdout + r.stderr


def test_count_memo_matches_encode_len():
    """count() memoizes per-piece token counts (round-15); the memo
    must be invisible: count == len(encode) on repeated calls, mixed
    texts, and across the memo warm/cold boundary."""
    from mapreduce_llm_spark.functions.bpe import BytePairEncoder

    from mapreduce_llm_spark.queries.textprep import _toy_bpe_ranks

    enc = BytePairEncoder(_toy_bpe_ranks())
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the the the ingestion of nothing",
        "",
        "ünïcödé bytes — mixed 123 !!",
        "the quick brown fox jumps over the lazy dog",  # repeat: warm memo
    ]
    for t in texts:
        assert enc.count(t) == len(enc.encode(t)), t
    # a fresh encoder (cold memo) agrees with the warmed one
    cold = BytePairEncoder(_toy_bpe_ranks())
    for t in texts:
        assert cold.count(t) == enc.count(t), t

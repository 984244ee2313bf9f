"""End-to-end text pipeline: chunk → (cache probe) → LLM map → ordered
reduce — the reference's whole program (reference
internal/cli/mapreduce.go:28-149) as composable DataFrame operators,
plus the semantic operators its README names (SURVEY §2B).

Key re-expressions:
- the interactive confirm gate (mapreduce.go:53-65) becomes a
  non-interactive ``dry_run=True`` path returning a CostEstimate
  (Spark jobs aren't TTY-bound);
- the ordered, separator-free concat reduce (mapreduce.go:131-137) is
  a JVM-side sort_array-over-structs fold per document — no driver
  loop, so reducing a billion chunks is still distributed;
- resume is the content-addressed cache (cache.py), not positional
  result files.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_llm_spark.functions.tokens import MODEL_COSTS_PER_1M_INPUT_TOKENS
from mapreduce_llm_spark.operators.cache import (
    append_cache,
    cache_key_col,
    read_cache,
    split_cached,
)
from mapreduce_llm_spark.operators.chunker import (
    DEFAULT_MAX_TOKENS_PER_CHUNK,
    chunk_documents,
)
from mapreduce_llm_spark.operators.llm_map import (
    DEFAULT_CONCURRENCY,
    ChatClient,
    llm_map,
)


@dataclass(frozen=True)
class CostEstimate:
    """The dry-run answer: what the reference prints before its confirm
    gate (reference internal/cli/mapreduce.go:39-65)."""

    n_tokens: int
    n_chunks: int
    cost_usd_by_model: dict[str, float] = field(default_factory=dict)


def estimate_cost(chunks: DataFrame) -> CostEstimate:
    row = chunks.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("c")
    ).first()
    n_tokens = int(row["t"] or 0)
    return CostEstimate(
        n_tokens=n_tokens,
        n_chunks=int(row["c"]),
        cost_usd_by_model={
            m: n_tokens * c / 1_000_000.0
            for m, c in MODEL_COSTS_PER_1M_INPUT_TOKENS.items()
        },
    )


def reduce_ordered(results: DataFrame, sep: str = "") -> DataFrame:
    """Per-document ordered concat of chunk results, **no separators**
    (reference internal/cli/mapreduce.go:131-137): (doc_id, result).

    sort_array over (chunk_id, result) structs keeps the fold entirely
    JVM-side; one hash shuffle on doc_id, no global sort."""
    return (
        results.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", F.col("result")))
                    ),
                    lambda s: s["result"],
                ),
                sep,
            ).alias("result")
        )
    )


class CostCapExceeded(RuntimeError):
    """Raised before any LLM call when the pre-flight estimate exceeds
    the caller's budget — the non-interactive version of the
    reference's yes/no confirm gate (internal/cli/mapreduce.go:53-65)."""


def map_reduce_llm(
    docs: DataFrame,
    prompt: str,
    client: ChatClient,
    *,
    model: str = "gpt-5-nano",
    max_tokens_per_chunk: int = DEFAULT_MAX_TOKENS_PER_CHUNK,
    cache_dir: str | None = None,
    concurrency: int = DEFAULT_CONCURRENCY,
    sep: str = "",
    max_cost_usd: float | None = None,
) -> DataFrame:
    """The full pipeline over a (doc_id, text) corpus → (doc_id, result).

    With ``cache_dir``, completed chunks are served from the
    content-addressed cache and only misses hit the client (the
    reference's resume semantics, strengthened per cache.py).
    ``concurrency`` is the most LLM calls in flight at once per Spark
    task (see ``llm_map``); nothing is repartitioned for it.
    With ``max_cost_usd``, the pre-flight token estimate gates
    execution: if the corpus would cost more than the budget for
    ``model``, raise CostCapExceeded before a single call is made."""
    spark = docs.sparkSession
    chunks = chunk_documents(docs, max_tokens=max_tokens_per_chunk)
    if max_cost_usd is not None:
        est = estimate_cost(chunks)
        would_cost = est.cost_usd_by_model[model]
        if would_cost > max_cost_usd:
            raise CostCapExceeded(
                f"estimated ${would_cost:.4f} for {est.n_tokens} tokens on "
                f"{model} exceeds cap ${max_cost_usd:.4f}"
            )

    if cache_dir is None:
        results = llm_map(chunks, prompt, client, concurrency=concurrency)
        return reduce_ordered(results, sep=sep)

    keyed = chunks.withColumn("cache_key", cache_key_col("chunk_text", prompt, model))
    cache = read_cache(spark, cache_dir)
    hits, misses = split_cached(keyed, cache)

    fresh = llm_map(
        misses.select("doc_id", "chunk_id", "chunk_text"),
        prompt,
        client,
        concurrency=concurrency,
    ).withColumn("cache_key", cache_key_col("chunk_text", prompt, model))
    # persist before both uses (cache append + reduce) so the LLM runs once
    fresh = fresh.persist()
    if fresh.take(1):
        append_cache(fresh, cache_dir)

    all_results = hits.select("doc_id", "chunk_id", "result").unionByName(
        fresh.select("doc_id", "chunk_id", "result")
    )
    out = reduce_ordered(all_results, sep=sep)
    return out


def process_text(
    spark: SparkSession,
    text: str,
    prompt: str,
    client: ChatClient,
    *,
    model: str = "gpt-5-nano",
    max_tokens_per_chunk: int = DEFAULT_MAX_TOKENS_PER_CHUNK,
    cache_dir: str | None = None,
    dry_run: bool = False,
):
    """Single-document convenience mirroring the reference CLI
    (``ProcessWithClient``, reference internal/cli/mapreduce.go:28-149):
    returns the combined result string, or a CostEstimate when
    ``dry_run`` (the reference's estimate+confirm path)."""
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    if dry_run:
        return estimate_cost(chunk_documents(docs, max_tokens=max_tokens_per_chunk))
    out = map_reduce_llm(
        docs,
        prompt,
        client,
        model=model,
        max_tokens_per_chunk=max_tokens_per_chunk,
        cache_dir=cache_dir,
    )
    rows = out.collect()
    return rows[0]["result"] if rows else ""


def write_text_sink(result: DataFrame, path: str) -> None:
    """Ordered text sink (reference internal/cli/mapreduce.go:139-146):
    one output file, rows in doc order."""
    (
        result.orderBy("doc_id")
        .select(F.col("result").alias("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


# ---------------------------------------------------------------------------
# Semantic operators (SURVEY §2B) — typed wrappers over the same core.
# ---------------------------------------------------------------------------


def semantic_filter(docs: DataFrame, predicate_prompt: str, client: ChatClient, **kw) -> DataFrame:
    """Keep the lines the LLM selects (the reference's shipped example:
    'select the lines with reviews about kitchen objects',
    reference examples/product-ratings/prompt.txt:1). → (doc_id, result)
    with kept lines newline-joined."""
    return map_reduce_llm(docs, predicate_prompt, client, sep="\n", **kw)


def semantic_classify(docs: DataFrame, labels_prompt: str, client: ChatClient, **kw) -> DataFrame:
    """Label each document → (doc_id, label)."""
    out = map_reduce_llm(docs, labels_prompt, client, **kw)
    return out.select("doc_id", F.trim(F.col("result")).alias("label"))


def semantic_extract(docs: DataFrame, extraction_prompt: str, client: ChatClient, **kw) -> DataFrame:
    """FlatMap shape: one doc → 0..n extracted lines
    (reference README.md:76 'Extract all fruit names, one per line')."""
    out = map_reduce_llm(docs, extraction_prompt, client, sep="\n", **kw)
    return (
        out.select("doc_id", F.explode(F.split("result", "\n")).alias("extracted"))
        .filter(F.col("extracted") != "")
    )


def semantic_transform(docs: DataFrame, rewrite_prompt: str, client: ChatClient, **kw) -> DataFrame:
    """1:1 rewrite → (doc_id, rewritten)."""
    out = map_reduce_llm(docs, rewrite_prompt, client, sep="\n", **kw)
    return out.select("doc_id", F.col("result").alias("rewritten"))

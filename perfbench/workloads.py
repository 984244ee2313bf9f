"""The three workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``generate()`` writes the seeded inputs (no Spark needed);
- ``lines()`` gives the text the tokenizer sees, for ``tokens.count_s``;
- ``warm(spark)`` fills caches and runs the untimed warm-up;
- ``job()`` runs one timed operation and checks its output;
- ``traced(tracer)`` forces each layer on its own, in sequence, with a
  span around each public call, and returns the per-layer metrics and
  the traced job.

Every job starts from the same state: ``spark.catalog.clearCache()``
runs first, because ``map_reduce_llm`` leaves its fresh-results frame
persisted and a later call with a matching plan would silently reuse it
(a user's cache only grows, so only a benchmark that restores the cache
between runs meets this).
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field

from bench import PINNED_V1
from perfbench import checks, gen, trace
from perfbench.service import LLMService

PROMPT = "Select the lines with reviews about objects from the kitchen."

# Sizes are set so that 70 runs fit in under an hour on 4 cores; see
# README.md for the measured run times.
FILE_LINES = 13_000  # ~1 MB, ~130 chunks at the default 2,000-token budget
CORPUS_DOCS = 700  # ~1.6 MB, ~750 chunks
CORPUS_MEDIAN_LINES = 20
CORPUS_EDITS = 70  # 10 % of the documents, one changed chunk each
TABLES_SEED = 42  # the analytics tables do not depend on --seed
TABLES_SF = 0.01  # 60,000 lineitems

# Pinned queries over documents and embeddings (dedup, similarity and
# text operators); the rest of the pinned list is relational.
CORPUS_QUERIES = frozenset({
    "q_dedup_exact", "q_sim_search", "q_udtf_flatmap", "q_text_stats",
    "q_dedup_fuzzy", "q_dedup_ngram", "q_sim_rerank", "q_text_ngrams",
    "q_pack_sequences", "q_embed_assign", "q_dedup_embed", "q_text_collocations",
})


@dataclass
class Job:
    """One timed operation: its wall time, its check result and what
    the LLM service saw while it ran."""

    seconds: float
    errors: list[str]
    llm_calls: int = 0
    request_bytes: int = 0
    max_inflight: int = 0
    service_spans: list = field(default_factory=list)
    start: float = 0.0  # monotonic clock
    end: float = 0.0
    ops: int = 1  # operations attempted in this job
    failed_ops: int = 0


def _write_docs(docs: list[tuple[int, str]], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*docs)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}), path
    )


def _load_oracle_harness():
    """The repository's DuckDB comparison, ``tests/oracle_harness.py``,
    loaded by path: ``run.py``'s own directory comes first on
    ``sys.path`` and holds a ``tests`` package of its own."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _dir_stats(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return sum(f.endswith(".parquet") for f in files), sum(os.path.getsize(f) for f in files)


def llm_layer_metrics(job: Job, misses: int) -> dict[str, float]:
    """``llm_map.*`` from the service's view of one untraced job; none
    when the job made no calls (unreported metrics read 0)."""
    spans = job.service_spans
    if not spans:
        return {}
    first = min(s for s, _ in spans)
    last = max(e for _, e in spans)
    busy = sum(e - s for s, e in spans)
    return {
        "llm_map.max_inflight": job.max_inflight,
        "llm_map.mean_inflight": busy / (last - first) if last > first else 1.0,
        "llm_map.busy_s": busy,
        "llm_map.span_s": last - first,
        "llm_map.lead_s": first - job.start,
        "llm_map.tail_s": job.end - last,
        "llm_map.calls_per_miss": job.llm_calls / misses if misses else 0.0,
    }


class LLMWorkload:
    """Shared parts of the two LLM-pipeline workloads. A subclass says
    how to reset the cache directory before a job (``_reset_cache``),
    what one job is (``_run``), how to check its output (``_check``),
    and, for the traced run, which documents the pipeline reads
    (``_docs``) and how its result is collected (``_sink``)."""

    sep = ""

    def __init__(self, work: str, seed: int, service: LLMService):
        self.work, self.seed, self.service = work, seed, service
        self.cache_dir = os.path.join(work, "cache")
        self.spark = None

    def _timed(self, run, check) -> Job:
        """Time ``run()`` from a clean Spark cache state, record what the
        service saw, then, outside the timer, ``check(output, calls)``."""
        self.spark.catalog.clearCache()
        self.service.reset()
        start = time.monotonic()
        try:
            output, errors = run(), []
        except Exception as ex:  # noqa: BLE001 — a failing job is a counted failure
            output, errors = None, [f"{type(ex).__name__}: {ex}"]
        end = time.monotonic()
        snap = self.service.snapshot()
        if not errors:
            errors = check(output, snap["requests"])
        return Job(
            seconds=end - start, errors=errors, llm_calls=snap["requests"],
            request_bytes=snap["request_bytes"], max_inflight=snap["max_inflight"],
            service_spans=snap["spans"], start=start, end=end,
            failed_ops=1 if errors else 0,
        )

    def job(self) -> Job:
        self._reset_cache()
        return self._timed(self._run, self._check)

    def traced(self, tracer: trace.Tracer) -> tuple[dict, Job]:
        self._reset_cache()
        docs = self._docs()
        holder = {}

        def run():
            holder["metrics"], output = self.staged(tracer, docs, self._sink)
            return output

        job = self._timed(run, self._check)
        return holder.get("metrics", {}), job

    def _client(self):
        from mapreduce_llm_spark.operators.llm_map import OpenAICompatClient

        return OpenAICompatClient(base_url=self.service.base_url, api_key="perfbench")

    def staged(self, tracer: trace.Tracer, docs, sink) -> tuple[dict, object]:
        """The steps of ``map_reduce_llm`` called one at a time, each
        output persisted and counted so that its cost lands in its own
        span. Returns (per-layer metrics, sink result)."""
        from pyspark.sql import functions as F

        from mapreduce_llm_spark.functions.tokens import DEFAULT_MODEL
        from mapreduce_llm_spark.operators.cache import (
            append_cache, cache_key_col, read_cache, split_cached,
        )
        from mapreduce_llm_spark.operators.chunker import (
            DEFAULT_MAX_TOKENS_PER_CHUNK, chunk_documents,
        )
        from mapreduce_llm_spark.operators.llm_map import llm_map
        from mapreduce_llm_spark.operators.pipeline import estimate_cost, reduce_ordered

        held = []

        def materialize(df):
            df = df.persist()
            df.count()
            held.append(df)
            return df

        client = self._client()
        with tracer.span("pipeline"):
            with tracer.span("pipeline.estimate_cost"):
                estimate_cost(chunk_documents(docs))
            with tracer.span("chunker.chunk_documents"):
                chunks = materialize(chunk_documents(docs))
            stats = chunks.agg(F.count("*").alias("n"), F.avg("n_tokens").alias("t")).first()
            with tracer.span("cache.split_cached"):
                keyed = chunks.withColumn(
                    "cache_key", cache_key_col("chunk_text", PROMPT, DEFAULT_MODEL)
                )
                hits, misses = split_cached(keyed, read_cache(self.spark, self.cache_dir))
                hits, misses = materialize(hits), materialize(misses)
            n_hits, n_misses = hits.count(), misses.count()
            with tracer.span("llm_map"):
                fresh = materialize(
                    llm_map(misses, PROMPT, client).join(
                        keyed.select("doc_id", "chunk_id", "cache_key"), ["doc_id", "chunk_id"]
                    )
                )
            with tracer.span("cache.append_cache"):
                if n_misses:
                    append_cache(fresh, self.cache_dir)
            with tracer.span("pipeline.reduce_ordered"):
                out = materialize(
                    reduce_ordered(
                        hits.select("doc_id", "chunk_id", "result").unionByName(
                            fresh.select("doc_id", "chunk_id", "result")
                        ),
                        sep=self.sep,
                    )
                )
            with tracer.span("sink"):
                result = sink(out)
        for df in held:
            df.unpersist()
        files, nbytes = _dir_stats(self.cache_dir)
        metrics = {
            "pipeline.estimate_cost_s": tracer.seconds("pipeline.estimate_cost"),
            "chunker.chunk_s": tracer.seconds("chunker.chunk_documents"),
            "chunker.tasks": chunks.rdd.getNumPartitions(),
            "chunker.chunks": stats["n"],
            "chunker.fill_ratio": (stats["t"] or 0.0) / DEFAULT_MAX_TOKENS_PER_CHUNK,
            "cache.split_s": tracer.seconds("cache.split_cached"),
            "cache.hits": n_hits,
            "cache.misses": n_misses,
            "cache.hit_ratio": n_hits / (n_hits + n_misses) if n_hits + n_misses else 0.0,
            "cache.append_s": tracer.seconds("cache.append_cache"),
            "cache.files_after": files,
            "cache.bytes_after": nbytes,
            "pipeline.reduce_s": tracer.seconds("pipeline.reduce_ordered"),
        }
        return metrics, result

    def persisted_frames(self) -> int:
        """Persisted RDDs in the session right now."""
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


class FileCold(LLMWorkload):
    """``llm_file_cold``: one line-oriented file through the CLI with an
    empty cache, the reference program's own use case."""

    def generate(self) -> None:
        self.text = gen.review_file(self.seed, FILE_LINES)
        self.input_path = os.path.join(self.work, "reviews.txt")
        with open(self.input_path, "w", encoding="utf-8") as fh:
            fh.write(self.text)
        self.input_bytes = len(self.text.encode())
        self.output_path = os.path.join(self.work, "combined.txt")

    def lines(self) -> list[str]:
        return self.text.split("\n")

    def _cli(self, *args: str) -> str:
        """``cli.main`` with these arguments; returns what it printed."""
        from mapreduce_llm_spark import cli

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = cli.main([PROMPT, self.input_path, *args])
        if rc != 0:
            raise RuntimeError(f"cli {' '.join(args)} exited {rc}")
        return out.getvalue()

    def warm(self, spark) -> list[Job]:
        self.spark = spark
        self.n_chunks = int(self._cli("--dry-run").split("Chunks:")[1].split()[0])
        return [self.job()]

    def _reset_cache(self) -> None:
        shutil.rmtree(self.cache_dir, ignore_errors=True)

    def _run(self) -> str:
        if os.path.exists(self.output_path):
            os.remove(self.output_path)
        self._cli("--cache-dir", self.cache_dir, "-o", self.output_path)
        with open(self.output_path, encoding="utf-8") as fh:
            return fh.read()

    def _check(self, output: str, calls: int) -> list[str]:
        return checks.check_file_output(output, self.text, calls, self.n_chunks)

    def _docs(self):
        """The one-row frame ``process_text`` builds."""
        return self.spark.createDataFrame([(0, self.text)], "doc_id long, text string")

    def _sink(self, out) -> str:
        rows = out.collect()
        result = rows[0]["result"] if rows else ""
        with open(self.output_path, "w", encoding="utf-8") as fh:
            fh.write(result)
        return result


class CorpusResume(LLMWorkload):
    """``llm_corpus_resume``: a corpus of documents through
    ``map_reduce_llm`` against a warm cache, after 10 % of the documents
    were edited."""

    sep = "\n"

    def generate(self) -> None:
        docs = gen.review_corpus(self.seed, CORPUS_DOCS, CORPUS_MEDIAN_LINES)
        self.edited, _ = gen.edit_documents(self.seed, docs, CORPUS_EDITS)
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        self.edited_path = os.path.join(self.work, "edited.parquet")
        _write_docs(docs, self.corpus_path)
        _write_docs(self.edited, self.edited_path)
        self.docs = docs
        self.input_bytes = sum(len(t.encode()) for _, t in self.edited)

    def lines(self) -> list[str]:
        return [line for _, text in self.edited for line in text.split("\n")]

    def _pipeline(self, path: str) -> dict[int, str]:
        from mapreduce_llm_spark.operators.pipeline import map_reduce_llm

        out = map_reduce_llm(
            self.spark.read.parquet(path), PROMPT, self._client(),
            cache_dir=self.cache_dir, sep=self.sep,
        )
        return self._sink(out)

    def warm(self, spark) -> list[Job]:
        """Fill the cache from the unedited corpus with the service's
        latency at 0 and keep a copy. The fill runs every step a resume
        runs, so it is also the warm-up."""
        self.spark = spark
        self.warm_cache = os.path.join(self.work, "cache-warm")
        self.service.base_latency_s, base = 0.0, self.service.base_latency_s
        try:
            fill = self._timed(
                lambda: self._pipeline(self.corpus_path),
                lambda out, calls: checks.check_corpus_output(out, self.docs, calls, calls),
            )
        finally:
            self.service.base_latency_s = base
        shutil.copytree(self.cache_dir, self.warm_cache)
        return [fill]

    def _reset_cache(self) -> None:
        shutil.rmtree(self.cache_dir, ignore_errors=True)
        shutil.copytree(self.warm_cache, self.cache_dir)

    def _run(self) -> dict[int, str]:
        return self._pipeline(self.edited_path)

    def _check(self, output: dict[int, str], calls: int) -> list[str]:
        return checks.check_corpus_output(output, self.edited, calls, CORPUS_EDITS)

    def _docs(self):
        return self.spark.read.parquet(self.edited_path)

    def _sink(self, out) -> dict[int, str]:
        return {r["doc_id"]: r["result"] for r in out.collect()}


class AnalyticsPinned:
    """``analytics_pinned``: the frozen PINNED_V1 query list over the
    generated tables. One pass runs every query once in the fresh
    session and collects its result; the results are then compared,
    outside the timer, with the DuckDB oracles and the stored digests."""

    def __init__(self, work: str, seed: int, service=None):
        self.work = work
        self.tables = os.path.join(work, "tables")
        self.spark = None

    def generate(self) -> None:
        self.input_bytes = gen.write_tables(self.tables, TABLES_SEED, TABLES_SF)

    def lines(self) -> list[str]:
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.tables, "documents.parquet"))["text"].to_pylist()

    def warm(self, spark) -> list[Job]:
        from mapreduce_llm_spark import registry

        self.spark = spark
        registry.load_all()
        return []

    def run_pass(self, tracer: trace.Tracer | None = None) -> tuple[dict, list[str]]:
        """Every pinned query once, each result collected; returns
        (results by query name, failures)."""
        from mapreduce_llm_spark import registry

        results, errors = {}, []
        for name in PINNED_V1:
            try:
                with tracer.span(f"query.{name}") if tracer else contextlib.nullcontext():
                    results[name] = registry.QUERIES[name](self.spark, self.tables).toPandas()
            except Exception as ex:  # noqa: BLE001 — a failing query is a counted failure
                errors.append(f"{name}: {type(ex).__name__}: {ex}")
        return results, errors

    def _check(self, results: dict) -> list[str]:
        import json

        from mapreduce_llm_spark import registry

        harness = _load_oracle_harness()

        class Collected:  # what compare() needs from a Spark frame
            def __init__(self, pdf):
                self.pdf = pdf

            def toPandas(self):  # noqa: N802 — Spark's name
                return self.pdf

        with open(os.path.join(os.path.dirname(__file__), "golden.json")) as fh:
            golden = json.load(fh)
        con = harness.duckdb_conn(self.tables)
        errors = []
        try:
            for name, pdf in results.items():
                if name in registry.ORACLE:
                    ok, msg = harness.compare(Collected(pdf), con, registry.ORACLE[name], name)
                    if not ok:
                        errors.append(msg)
                elif checks.frame_digest(pdf) != golden.get(name):
                    errors.append(f"{name}: digest {checks.frame_digest(pdf)} != {golden.get(name)}")
        finally:
            con.close()
        return errors

    def _job(self, start: float, results: dict, errors: list[str]) -> Job:
        """Close a pass: check its results and count failed queries."""
        end = time.monotonic()
        errors = errors + self._check(results)
        return Job(
            seconds=end - start, errors=errors, start=start, end=end,
            ops=len(PINNED_V1), failed_ops=len({e.split(":", 1)[0] for e in errors}),
        )

    def job(self) -> Job:
        self.spark.catalog.clearCache()
        start = time.monotonic()
        return self._job(start, *self.run_pass())

    def traced(self, tracer: trace.Tracer) -> tuple[dict, Job]:
        from mapreduce_llm_spark.io import TABLES, load_table

        self.spark.catalog.clearCache()
        start = time.monotonic()
        with tracer.span("analytics"):
            with tracer.span("io.load_table"):
                for t in TABLES:
                    load_table(self.spark, self.tables, t)
            results, errors = self.run_pass(tracer)
        job = self._job(start, results, errors)
        metrics = {"io.load_table_s": tracer.seconds("io.load_table")}
        metrics.update({f"query.{n}_s": tracer.seconds(f"query.{n}") for n in PINNED_V1})
        metrics["queries.corpus_s"] = sum(
            tracer.seconds(f"query.{n}") for n in PINNED_V1 if n in CORPUS_QUERIES
        )
        metrics["queries.relational_s"] = sum(
            tracer.seconds(f"query.{n}") for n in PINNED_V1 if n not in CORPUS_QUERIES
        )
        return metrics, job


WORKLOADS = {
    "llm_file_cold": FileCold,
    "llm_corpus_resume": CorpusResume,
    "analytics_pinned": AnalyticsPinned,
}

"""The LLM map — the "map" of the reference's MapReduce.

Reference behavior being re-expressed (not ported):
- prompt augmentation: the user prompt is suffixed with the hardwired
  reduce contract "\\nReturn the lines that you want to keep."
  (reference internal/cli/mapreduce.go:91);
- per-chunk chat call: system = augmented prompt, user = chunk text,
  first choice's content is the result; an empty response is an error
  (reference internal/cli/mapreduce.go:169-196);
- the client is injectable so tests run a deterministic fake
  (reference internal/openai/chat.go:13-16, mapreduce_test.go:17-54).

Spark shape: ``mapInPandas`` over the chunk table. Each task sends the
chunks of every Arrow batch through a thread pool, so at most
``concurrency`` calls per task are in flight at once (default
``DEFAULT_CONCURRENCY``); tasks run in parallel on top of that. The
bound is a deliberate improvement over the reference's unbounded
goroutine-per-chunk fan-out (reference internal/cli/mapreduce.go:93-122):
a provider sees at most ``concurrency`` × running tasks connections.
Nothing is repartitioned, so a one-document input still runs in one
task. Clients must be small and picklable: each task unpickles one
copy, and its threads share it, so ``generate`` must be thread-safe.
"""

from __future__ import annotations

import re
import threading
from collections.abc import Iterator
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

RETURN_LINES_SUFFIX = "\nReturn the lines that you want to keep."

# Calls in flight per task. Modest on purpose: a provider (or a local
# server with a small listen backlog) resets connections when one
# executor opens dozens at once, and a reset call cannot be retried
# safely because the provider may already have billed it.
DEFAULT_CONCURRENCY = 8


class ChatClient(Protocol):
    """Minimal chat interface (the reference's ChatGenerator seam)."""

    def generate(self, system: str, user: str) -> str: ...


@dataclass(frozen=True)
class FakeChatClient:
    """Deterministic test client: keeps lines matching a regex.

    Mimics the reference's shipped example — a semantic filter prompt
    ("select the lines with reviews that are about objects from the
    kitchen", reference examples/product-ratings/prompt.txt:1) — with a
    keyword filter so tests are reproducible without a network.
    """

    keep_pattern: str = ""

    def generate(self, system: str, user: str) -> str:
        if not self.keep_pattern:
            return user  # echo
        rx = re.compile(self.keep_pattern)
        return "\n".join(line for line in user.split("\n") if rx.search(line))


@dataclass(frozen=True)
class FailingChatClient:
    """Raises on every call — for error-propagation and cache tests
    (the reference's mock error injection, mapreduce_test.go:234-260)."""

    message: str = "simulated API error"

    def generate(self, system: str, user: str) -> str:
        raise RuntimeError(self.message)


@dataclass(frozen=True)
class OpenAICompatClient:
    """OpenAI-compatible HTTP client (chat completions).

    Built on stdlib urllib against the public /v1/chat/completions
    shape; requires an explicit base_url + api_key. Not exercised in
    tests (no network in this environment) — the seam exists so a real
    deployment can drop it in where tests use FakeChatClient.
    """

    base_url: str
    api_key: str
    model: str = "gpt-5-nano"
    timeout_s: float = 300.0  # reference internal/openai/client.go:30 (5 min)

    def generate(self, system: str, user: str) -> str:
        import json
        import urllib.request

        req = urllib.request.Request(
            f"{self.base_url.rstrip('/')}/v1/chat/completions",
            data=json.dumps(
                {
                    "model": self.model,
                    "messages": [
                        {"role": "system", "content": system},
                        {"role": "user", "content": user},
                    ],
                }
            ).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
        )
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            payload = json.loads(resp.read())
        content = payload["choices"][0]["message"]["content"]
        if not content:
            # reference internal/cli/mapreduce.go:196: empty response is an error
            raise RuntimeError("empty response from chat API")
        return content


def _generate_all(
    client: ChatClient, system: str, texts: list[str], concurrency: int
) -> list[str]:
    """``client.generate(system, text)`` for every text, at most
    ``concurrency`` at once; results in input order.

    The first failure propagates, and calls that have not started are
    cancelled so a failing job stops making billed calls (calls already
    running finish first)."""
    if not texts:
        return []
    with ThreadPoolExecutor(max_workers=min(concurrency, len(texts))) as pool:
        futures = [pool.submit(client.generate, system, text) for text in texts]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        if pending:  # a call failed before the rest finished
            pool.shutdown(cancel_futures=True)
            first = next(f for f in futures if f in done and f.exception() is not None)
            raise first.exception()
        return [f.result() for f in futures]


def llm_map(
    chunks: DataFrame,
    prompt: str,
    client: ChatClient,
    concurrency: int = DEFAULT_CONCURRENCY,
) -> DataFrame:
    """Map each chunk's ``chunk_text`` through the LLM: every input
    column, plus a ``result`` column.

    ``concurrency`` is the most calls in flight at once per Spark task
    (a thread pool per Arrow batch); the input is not repartitioned.
    At cluster scale this bounds what each task sends to the provider,
    which the reference does not.
    """
    if concurrency < 1:
        raise ValueError(f"concurrency must be at least 1, got {concurrency}")
    system_prompt = prompt + RETURN_LINES_SUFFIX

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf["chunk_text"].tolist()
            yield pdf.assign(
                result=_generate_all(client, system_prompt, texts, concurrency)
            )

    # a new StructType: ``schema.add`` would mutate the input's cached schema
    schema = StructType([*chunks.schema.fields, StructField("result", StringType())])
    return chunks.mapInPandas(run, schema=schema)


@dataclass
class RetryingClient:
    """Bounded-retry decorator over any ChatClient (exponential
    backoff). The reference fails the whole job on the first chunk
    error (internal/cli/mapreduce.go:124-127); at cluster scale a
    transient 429/5xx on one chunk must not kill a million-chunk job —
    retries absorb transients, and only a persistent failure
    propagates (Spark then retries the task, then fails the job).

    ``sleep`` is injectable so tests run without wall-clock waits.
    """

    inner: ChatClient
    max_attempts: int = 3
    backoff_s: float = 1.0
    backoff_multiplier: float = 2.0
    sleep: "object" = None  # Callable[[float], None]; None → time.sleep

    def generate(self, system: str, user: str) -> str:
        import time as _time

        do_sleep = self.sleep or _time.sleep
        delay = self.backoff_s
        last: Exception | None = None
        for attempt in range(1, self.max_attempts + 1):
            try:
                return self.inner.generate(system, user)
            except Exception as ex:  # noqa: BLE001 — transport errors vary by client
                last = ex
                if attempt == self.max_attempts:
                    break
                do_sleep(delay)
                delay *= self.backoff_multiplier
        raise RuntimeError(
            f"chat call failed after {self.max_attempts} attempts: {last}"
        ) from last


@dataclass
class RateLimitedClient:
    """Rate limit decorator: at most ``max_per_second`` calls per second
    per client instance. Each Spark task unpickles its own instance and
    its threads share it, so the cluster-wide rate is about
    ``max_per_second`` × running tasks; divide a provider quota by the
    task count to hit it exactly. ``clock``/``sleep`` are injectable for
    tests."""

    inner: ChatClient
    max_per_second: float = 1.0
    clock: "object" = None  # Callable[[], float]; None → time.monotonic
    sleep: "object" = None

    def __post_init__(self) -> None:
        self._lock = threading.Lock()
        self._next_allowed = 0.0

    def __getstate__(self) -> dict:
        # locks do not pickle, and a clock reading means nothing in
        # another process: an unpickled copy starts a fresh schedule
        state = self.__dict__.copy()
        del state["_lock"], state["_next_allowed"]
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self.__post_init__()

    def generate(self, system: str, user: str) -> str:
        import time as _time

        now_fn = self.clock or _time.monotonic
        do_sleep = self.sleep or _time.sleep
        # reserve the next slot under the lock, wait for it outside
        with self._lock:
            now = now_fn()
            slot = max(now, self._next_allowed)
            self._next_allowed = slot + 1.0 / self.max_per_second
        if slot > now:
            do_sleep(slot - now)
        return self.inner.generate(system, user)

"""The simulated LLM service answers and delays deterministically."""

from __future__ import annotations

import json
import time
import urllib.request

from perfbench import service
from perfbench.service import LLMService, answer, latency_s

CHUNK = "5 stars | great kettle | easy to clean\n2 stars | noisy drill | does the job"


def _post(base_url: str, user: str) -> tuple[str, float]:
    body = json.dumps(
        {"model": "m", "messages": [{"role": "system", "content": "s"}, {"role": "user", "content": user}]}
    ).encode()
    req = urllib.request.Request(f"{base_url}/v1/chat/completions", data=body)
    t0 = time.monotonic()
    with urllib.request.urlopen(req, timeout=10) as resp:
        content = json.loads(resp.read())["choices"][0]["message"]["content"]
    return content, time.monotonic() - t0


def test_answer_keeps_kitchen_lines_and_is_never_empty():
    assert answer(CHUNK) == "5 stars | great kettle | easy to clean"
    assert answer("1 stars | cheap tent | arrived on time") == "\n"


def test_latency_repeats_and_slows_two_percent_of_bodies():
    bodies = [f"request {i}".encode() for i in range(5000)]
    first = [latency_s(b, 0.02) for b in bodies]
    assert first == [latency_s(b, 0.02) for b in bodies]
    assert set(first) == {0.02, 0.02 * service.SLOW_FACTOR}
    slow = sum(t > 0.02 for t in first) / len(bodies)
    assert 0.01 < slow < 0.03


def test_same_request_same_answer_and_counters():
    svc = LLMService(base_latency_s=0.005).start()
    try:
        a, t_a = _post(svc.base_url, CHUNK)
        b, t_b = _post(svc.base_url, CHUNK)
        snap = svc.snapshot()
    finally:
        svc.close()
    assert a == b == answer(CHUNK)
    assert min(t_a, t_b) >= 0.005
    assert snap["requests"] == 2
    assert snap["max_inflight"] == 1
    assert len(snap["spans"]) == 2 and all(e >= s for s, e in snap["spans"])
    assert snap["request_bytes"] > 2 * len(CHUNK)

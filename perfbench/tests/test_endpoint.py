import json
import urllib.error
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.endpoint import DETERMINISTIC, Endpoint, load_client_module
from unfccc_documents_database_sandbox_spark.llm.openai_client import OpenAIChatModel

PROMPTS = [f"Summarize the following UNFCCC document.\ndoc {i} " + "word " * i
           for i in range(60)]
RETRY_SUFFIX = "\nReply as JSON.\n"


def _drive(ep: Endpoint, prompts: list[str], workers: int) -> None:
    """Send every prompt until it gets a JSON reply, re-prompting once
    after a malformed one, like the engine's structured stage."""
    model = OpenAIChatModel(ep.chat_url)

    def one(p: str) -> None:
        for _ in range(3):
            try:
                r = model._complete_one(p)
            except urllib.error.HTTPError as exc:
                assert exc.code == 503
                continue
            try:
                json.loads(r["response_json"])
                return
            except ValueError:
                p = p + RETRY_SUFFIX
        raise AssertionError(f"no valid reply for {p[:40]!r}")

    with ThreadPoolExecutor(workers) as pool:
        list(pool.map(one, prompts))


def _counters(seed: int, prompts: list[str], workers: int) -> dict:
    ep = Endpoint(seed, latency_ms=1, p503=0.2, p_malformed=0.2).start()
    try:
        ep.set_epoch(1)
        _drive(ep, prompts, workers)
        return ep.stats()["epochs"]["1"]
    finally:
        ep.close()


def test_same_seed_gives_identical_counters_in_any_order():
    a = _counters(7, PROMPTS, workers=1)
    b = _counters(7, PROMPTS[::-1], workers=8)
    assert {k: a[k] for k in DETERMINISTIC} == pytest.approx({k: b[k] for k in DETERMINISTIC})
    assert a["status_503"] > 0 and a["malformed"] > 0
    assert a["requests"] == len(PROMPTS) + a["status_503"] + a["malformed"]
    assert a["connections"] == a["requests"]


def test_other_seed_draws_other_faults():
    a = _counters(7, PROMPTS, workers=4)
    b = _counters(8, PROMPTS, workers=4)
    assert (a["status_503"], a["malformed"]) != (b["status_503"], b["malformed"])


def test_billing_matches_the_wire_usage():
    client = load_client_module()
    ep = Endpoint(1, latency_ms=1, p503=0.0, p_malformed=0.0).start()
    try:
        model = OpenAIChatModel(ep.chat_url)
        cost = sum(model._complete_one(p)["cost"] for p in PROMPTS[:5])
        totals = ep.stats()["totals"]
    finally:
        ep.close()
    usage = [client.stub_wire_response("stub-model", p)["usage"] for p in PROMPTS[:5]]
    assert totals["prompt_tokens"] == sum(u["prompt_tokens"] for u in usage)
    assert totals["completion_tokens"] == sum(u["completion_tokens"] for u in usage)
    assert totals["usd"] == pytest.approx(cost, rel=1e-12)


def test_close_stops_the_process():
    ep = Endpoint(1, latency_ms=1, p503=0.0, p_malformed=0.0).start()
    proc = ep.proc
    ep.close()
    assert proc.poll() is not None

"""OpenAI-compatible chat-completions adapter (VERDICT r15 #3) — the
engine's one HTTP transport.

The reference binds ``ChatOpenAI`` over the REAL chat-completions wire
format (generate_decisions_summaries.py:95, requirements.txt:29-34):
``{"model", "messages": [{role, content}]}`` requests and
``choices[0].message.content`` + ``usage.prompt_tokens /
completion_tokens`` responses — what an actual OpenAI-compatible
endpoint (vLLM, llama.cpp server, an API gateway) serves:

- ``chat_payload`` / ``parse_chat_completion`` are PURE functions of the
  request/response bodies, shared by the live client and the
  deterministic stub so the parse + usage→cost arithmetic is exercised
  (and DuckDB-oracle-checked) without a network.
- ``OpenAIChatModel.complete_one`` sends one POST per prompt, each on
  its own connection (the protocol is one conversation per request; the
  stage fans prompts out through its thread pool, as LangChain's
  ``.batch`` does client-side).
  Transport failures propagate; the per-prompt retry in
  ``llm.batch.summarize_isolated`` owns recovery (ONE retry policy), and
  a 429's ``Retry-After`` header is surfaced as ``exc.retry_after``.
- ``StubOpenAIEndpoint`` builds the FULL wire-format response body
  deterministically (content = the stub summary JSON, usage = the
  chars/4 token heuristic) and feeds it through the SAME
  ``parse_chat_completion`` — so the registered query's hash-green
  oracle covers the adapter's parsing and cost mapping end-to-end.

Stdlib-only imports: the benchmark's mock endpoint (perfbench/endpoint.py)
loads this file by path for ``stub_wire_response``.

Instances are created inside the Python worker (``model_factory``
closure), so each executor opens its own connections; the stage's
``max_concurrency`` budget, not one driver-side client, caps how many
are in flight at once.
"""

from __future__ import annotations

import hashlib
import json
import math
import urllib.error
import urllib.request

# Default per-token prices (USD). Chosen so the micro-USD cost of the
# deterministic stub is integral: cost_micros = prompt_tokens +
# 3 * completion_tokens (the registry's exact-arithmetic rule).
USD_PER_PROMPT_TOKEN = 1e-6
USD_PER_COMPLETION_TOKEN = 3e-6


def chat_payload(model: str, prompt: str) -> dict:
    """One chat-completions request body: the engine's fully-rendered
    prompt (system text already concatenated by ``prompt_column``)
    travels as the single user message."""
    return {
        "model": model,
        "messages": [{"role": "user", "content": prompt}],
        "temperature": 0.0,
    }


def parse_chat_completion(
    body: dict,
    usd_per_prompt_token: float = USD_PER_PROMPT_TOKEN,
    usd_per_completion_token: float = USD_PER_COMPLETION_TOKEN,
) -> dict:
    """chat-completions response → the engine's per-prompt result row:
    ``choices[0].message.content`` becomes ``response_json`` and the
    ``usage`` token counts price into ``cost`` (the reference's
    get_openai_callback accounting, generate_decisions_summaries.py:
    104-108). Fails LOUDLY on a schema the adapter doesn't understand —
    a silently-empty content with HTTP 200 would misalign doc→summary
    pairing deep inside the mapInPandas stage."""
    try:
        content = body["choices"][0]["message"]["content"]
        usage = body["usage"]
        pt = int(usage["prompt_tokens"])
        ct = int(usage["completion_tokens"])
    except (KeyError, IndexError, TypeError) as exc:
        raise ValueError(
            f"response is not chat-completions shaped: {exc!r} "
            f"(keys: {sorted(body) if isinstance(body, dict) else type(body)})"
        ) from None
    return {
        "response_json": content,
        "cost": pt * usd_per_prompt_token + ct * usd_per_completion_token,
        "prompt_tokens": pt,
        "completion_tokens": ct,
    }


def _attach_retry_after(exc: urllib.error.HTTPError) -> None:
    """Surface a 429's Retry-After window to the stage-level retry loop
    as ``exc.retry_after`` (VERDICT r10 #7 — the server knows its own
    window better than any client backoff curve)."""
    hint = exc.headers.get("Retry-After") if exc.headers else None
    if exc.code == 429 and hint is not None:
        try:
            exc.retry_after = float(hint)
        except ValueError:
            pass  # HTTP-date form: fall back to the backoff curve


class OpenAIChatModel:
    """``complete_one`` against a real OpenAI-compatible endpoint
    (``.../v1/chat/completions``): one POST per prompt, wire-format
    request/response, usage-priced cost. Deliberately retry-free — the
    per-prompt retry in ``llm.batch.summarize_isolated`` owns recovery."""

    def __init__(self, endpoint: str, model: str = "stub-model",
                 timeout: float = 10.0, api_key: str | None = None,
                 usd_per_prompt_token: float = USD_PER_PROMPT_TOKEN,
                 usd_per_completion_token: float = USD_PER_COMPLETION_TOKEN):
        self.endpoint = endpoint
        self.model = model
        self.timeout = timeout
        self.api_key = api_key
        self.usd_per_prompt_token = usd_per_prompt_token
        self.usd_per_completion_token = usd_per_completion_token

    def complete_one(self, prompt: str) -> dict:
        headers = {"Content-Type": "application/json"}
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        req = urllib.request.Request(
            self.endpoint,
            data=json.dumps(chat_payload(self.model, prompt)).encode("utf-8"),
            headers=headers,
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                body = json.load(resp)
        except urllib.error.HTTPError as exc:
            _attach_retry_after(exc)
            raise
        return parse_chat_completion(
            body, self.usd_per_prompt_token, self.usd_per_completion_token)

    # perfbench/tests/test_endpoint.py calls the old private name, and the
    # benchmark's files change only with the benchmark itself
    _complete_one = complete_one


def stub_wire_response(model: str, prompt: str) -> dict:
    """The deterministic FULL chat-completions response body the local
    test server and the in-process stub both speak: content is the stub
    summary JSON (same as ``StubChatModel``), usage is the ceil(chars/4)
    token heuristic — every field a pure function of the prompt, so the
    adapter's parse + cost path is exactly value-checkable."""
    digest = hashlib.sha256(prompt.encode("utf-8")).hexdigest()
    content = json.dumps({"summary": f"STUB:{digest}"})
    pt = math.ceil(len(prompt) / 4)
    ct = math.ceil(len(content) / 4)
    return {
        "id": f"chatcmpl-{digest[:12]}",
        "object": "chat.completion",
        "model": model,
        "choices": [
            {
                "index": 0,
                "message": {"role": "assistant", "content": content},
                "finish_reason": "stop",
            }
        ],
        "usage": {
            "prompt_tokens": pt,
            "completion_tokens": ct,
            "total_tokens": pt + ct,
        },
    }


class StubOpenAIEndpoint:
    """In-process deterministic model that round-trips every prompt
    through the REAL wire format: build the full response body
    (``stub_wire_response``), then parse it with the SAME
    ``parse_chat_completion`` the live client uses. The registered
    ``udf_llm_openai_adapter`` query runs on this, so its DuckDB oracle
    hash-checks the adapter's response parsing and usage→cost pricing;
    the HTTP transport itself is fault-injected in tests/test_llm.py
    against a local server speaking this exact schema."""

    def __init__(self, model: str = "stub-model"):
        self.model = model

    def complete_one(self, prompt: str) -> dict:
        return parse_chat_completion(stub_wire_response(self.model, prompt))

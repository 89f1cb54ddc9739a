"""Deterministic stub chat model — the test seam for the LLM stage.

The reference binds ChatOpenAI(model="gpt-5-mini", temperature=0.0)
(generate_decisions_summaries.py:95) and validates responses against a
pydantic structured-output schema (:92-95). Live API calls are
non-deterministic and need secrets, so the engine's default model is this
stub (SURVEY.md §5.4): the summary is a content hash of the prompt and the
cost is a pure function of prompt length — every downstream operator
(structured-output parse, cost aggregation) stays exactly value-checkable.

A live model implements the same ``complete_one(prompt) -> dict``
contract (``OpenAIChatModel``); swap via the ``model_factory`` argument
of the ``llm.batch`` stages.
"""

from __future__ import annotations

import hashlib
import json

COST_PER_CHAR = 1e-6  # mirrors the reference's per-call cost accounting (U4)


class StubChatModel:
    """Deterministic structured-output JSON response per prompt."""

    def complete_one(self, prompt: str) -> dict:
        digest = hashlib.sha256(prompt.encode("utf-8")).hexdigest()
        return {
            # structured output: JSON matching the reference's
            # DecisionSummaryAgentResponse {summary: str} schema
            "response_json": json.dumps({"summary": f"STUB:{digest}"}),
            "cost": COST_PER_CHAR * len(prompt),
        }


class PoisonStubModel(StubChatModel):
    """Deterministic per-prompt failure model (VERDICT r12 #5): prompts
    whose length is divisible by ``poison_mod`` PERMANENTLY fail with a
    constant typed error; everything else answers like StubChatModel.
    Length-mod is a pure function of the prompt, so the dead-letter
    column of ``summarize_isolated`` stays DuckDB-oracle-checkable."""

    def __init__(self, poison_mod: int = 17):
        self.poison_mod = poison_mod

    def complete_one(self, prompt: str) -> dict:
        if len(prompt) % self.poison_mod == 0:
            raise ValueError("poison prompt")
        return super().complete_one(prompt)


class IsolationFaultModel(StubChatModel):
    """Fault-injection seam for the per-prompt isolation tests: records
    every attempt in a spool directory (O_EXCL marker files keyed by
    prompt hash — works across worker processes on one host and makes
    the schedule deterministic per prompt regardless of which worker
    runs which attempt), permanently fails prompts containing
    ``poison_marker``, transiently fails prompts containing
    ``transient_marker`` for their first ``transient_failures``
    attempts, and answers everything else first try.
    ``transient_marker="Summarize"`` fails EVERY ``prompt_column``
    prompt N times (each starts with ``SYSTEM_PROMPT``). Lives in
    library code because test-module classes can't unpickle inside
    Spark workers (r11 lesson)."""

    def __init__(self, spool_dir: str, poison_marker: str = "POISON",
                 transient_marker: str = "FLAKY",
                 transient_failures: int = 2):
        self.spool_dir = spool_dir
        self.poison_marker = poison_marker
        self.transient_marker = transient_marker
        self.transient_failures = transient_failures

    def complete_one(self, prompt: str) -> dict:
        import os

        key = hashlib.sha256(prompt.encode()).hexdigest()[:32]
        attempt = 0
        while True:
            try:
                os.close(os.open(
                    os.path.join(self.spool_dir, f"{key}.{attempt}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                attempt += 1
        if self.poison_marker in prompt:
            raise ValueError("poison prompt")
        if self.transient_marker in prompt and attempt < self.transient_failures:
            raise RuntimeError(f"transient failure #{attempt + 1}")
        return super().complete_one(prompt)


class MalformedStubModel(StubChatModel):
    """Deterministic INVALID-OUTPUT model (r15, VERDICT r14 #9): the
    fault injector for the structured-output retry. Transport succeeds
    for every prompt — what varies is whether the RESPONSE validates:

    - ``len(prompt) % always_mod == 0`` → invalid JSON on every call
      (the persistent offender the retry must dead-letter);
    - else ``len(prompt) % once_mod == 0`` and the prompt does NOT carry
      the retry suffix → invalid JSON (the transient offender); the
      re-prompted call — recognizable because ``summarize_structured``
      appended its format-reminder suffix — answers validly;
    - everything else answers like StubChatModel first try.

    Stateless and a pure function of the prompt, so the whole
    validate → re-prompt → dead-letter pipeline stays
    DuckDB-oracle-checkable (the oracle restates the two mod classes)."""

    def __init__(self, once_mod: int = 11, always_mod: int = 23,
                 retry_marker: str | None = None):
        from unfccc_documents_database_sandbox_spark.llm.batch import (
            RETRY_SUFFIX,
        )

        self.once_mod = once_mod
        self.always_mod = always_mod
        self.retry_marker = RETRY_SUFFIX if retry_marker is None else retry_marker

    def complete_one(self, prompt: str) -> dict:
        is_retry = prompt.endswith(self.retry_marker)
        base = prompt[: -len(self.retry_marker)] if is_retry else prompt
        n = len(base)
        if n % self.always_mod == 0 or (n % self.once_mod == 0 and not is_retry):
            return {
                "response_json": "sorry, here is your summary: ...",
                "cost": COST_PER_CHAR * len(prompt),
            }
        return super().complete_one(prompt)

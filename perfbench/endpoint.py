"""Mock OpenAI-compatible chat-completions endpoint for the benchmark.

One process, one asyncio thread, standard library only; it exits on
SIGTERM or when the process that started it is gone. Response bodies
come from the engine's ``openai_client.stub_wire_response``, loaded from
its file so that the engine package (and PySpark) is never imported here.
Every chat request waits a fixed latency before its reply.

Faults are seeded and hit only the first attempt of a prompt within an
epoch: a share of first attempts gets HTTP 503 (not billed), another
share gets a 200 whose content is not JSON (billed). A re-prompt that
extends a prompt answered with malformed content is always answered
correctly, so a client that retries once never dead-letters. The same
seed and the same set of prompts give the same fault decisions,
whatever the arrival order.

Counters (requests, connections, status counts, billed tokens and USD,
in-flight integral and maximum) are kept per epoch and in total and are
served as JSON on ``GET /stats``. ``POST /epoch?n=<k>`` starts epoch
``k``: later first attempts draw faults again.

Run: ``python3 perfbench/endpoint.py --seed 1 --latency-ms 100``; the
first stdout line is ``PORT <n>``.
"""

from __future__ import annotations

import argparse
import asyncio
import hashlib
import importlib.util
import json
import math
import os
import signal
import subprocess
import sys
import time
import urllib.request
from urllib.parse import parse_qs, urlsplit

_CLIENT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "unfccc_documents_database_sandbox_spark", "llm", "openai_client.py",
)
CHAT_PATH = "/v1/chat/completions"
MALFORMED_CONTENT = "Here is a summary, but not as JSON."

# Counters that depend only on the seed and the prompts sent, never on
# timing. The in-flight counters depend on client concurrency.
DETERMINISTIC = (
    "requests", "connections", "ok", "status_503", "malformed",
    "prompt_tokens", "completion_tokens", "usd",
)


def load_client_module():
    """The engine's openai_client module, imported from its file."""
    spec = importlib.util.spec_from_file_location("_bench_openai_client", _CLIENT_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _unit_draw(seed: int, prompt: str) -> float:
    h = hashlib.sha256(f"{seed}:{prompt}".encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") / 2.0**64


class Counters:
    def __init__(self) -> None:
        self.requests = 0
        self.connections = 0
        self.ok = 0
        self.status_503 = 0
        self.malformed = 0
        self.prompt_tokens = 0
        self.completion_tokens = 0
        self.usd = 0.0
        self.inflight = 0
        self.inflight_max = 0
        self.inflight_integral_s = 0.0

    def as_dict(self) -> dict:
        return dict(vars(self))


class MockServer:
    def __init__(self, seed: int, latency_s: float, p503: float, p_malformed: float):
        self.client = load_client_module()
        self.seed = seed
        self.latency_s = latency_s
        self.p503 = p503
        self.p_malformed = p_malformed
        self.epoch = 0
        self.epochs: dict[int, Counters] = {0: Counters()}
        self.totals = Counters()
        self._seen: set[str] = set()
        self._malformed_prompts: list[str] = []

    def _counters(self) -> tuple[Counters, Counters]:
        return self.totals, self.epochs[self.epoch]

    def _fault(self, prompt: str) -> str | None:
        """'503', 'malformed' or None for one chat request."""
        if prompt in self._seen:
            return None
        self._seen.add(prompt)
        if any(prompt.startswith(m) for m in self._malformed_prompts):
            return None
        u = _unit_draw(self.seed, prompt)
        if u < self.p503:
            return "503"
        if u < self.p503 + self.p_malformed:
            self._malformed_prompts.append(prompt)
            return "malformed"
        return None

    def set_epoch(self, n: int) -> None:
        self.epoch = n
        self.epochs.setdefault(n, Counters())
        self._seen.clear()
        self._malformed_prompts.clear()

    def stats(self) -> dict:
        return {
            "totals": self.totals.as_dict(),
            "epochs": {str(k): c.as_dict() for k, c in sorted(self.epochs.items())},
        }

    async def chat(self, body: bytes) -> tuple[int, dict]:
        req = json.loads(body)
        prompt = req["messages"][-1]["content"]
        fault = self._fault(prompt)
        counters = self._counters()
        for c in counters:
            c.requests += 1
            c.inflight += 1
            c.inflight_max = max(c.inflight_max, c.inflight)
        t0 = time.perf_counter()
        try:
            await asyncio.sleep(self.latency_s)
        finally:
            dt = time.perf_counter() - t0
            for c in counters:
                c.inflight -= 1
                c.inflight_integral_s += dt
        if fault == "503":
            for c in counters:
                c.status_503 += 1
            return 503, {"error": {"message": "overloaded", "type": "server_error"}}
        resp = self.client.stub_wire_response(req.get("model", "stub-model"), prompt)
        if fault == "malformed":
            resp["choices"][0]["message"]["content"] = MALFORMED_CONTENT
            ct = math.ceil(len(MALFORMED_CONTENT) / 4)
            resp["usage"]["completion_tokens"] = ct
            resp["usage"]["total_tokens"] = resp["usage"]["prompt_tokens"] + ct
        usage = resp["usage"]
        usd = (usage["prompt_tokens"] * self.client.USD_PER_PROMPT_TOKEN
               + usage["completion_tokens"] * self.client.USD_PER_COMPLETION_TOKEN)
        for c in counters:
            c.ok += 1
            c.malformed += fault == "malformed"
            c.prompt_tokens += usage["prompt_tokens"]
            c.completion_tokens += usage["completion_tokens"]
            c.usd += usd
        return 200, resp

    async def route(self, method: str, target: str, body: bytes) -> tuple[int, dict]:
        url = urlsplit(target)
        if method == "POST" and url.path == CHAT_PATH:
            return await self.chat(body)
        if method == "GET" and url.path == "/stats":
            return 200, self.stats()
        if method == "POST" and url.path == "/epoch":
            self.set_epoch(int(parse_qs(url.query)["n"][0]))
            return 200, {"epoch": self.epoch}
        return 404, {"error": {"message": f"no route {method} {url.path}"}}

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        counted = False
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                method, target, version = line.decode("latin-1").split()
                headers = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, _, v = h.decode("latin-1").partition(":")
                    headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", "0")))
                if target.startswith(CHAT_PATH) and not counted:
                    counted = True
                    for c in self._counters():
                        c.connections += 1
                status, payload = await self.route(method, target, body)
                data = json.dumps(payload).encode("utf-8")
                keep = (version == "HTTP/1.1"
                        and headers.get("connection", "").lower() != "close")
                reason = {200: "OK", 404: "Not Found", 503: "Service Unavailable"}[status]
                writer.write(
                    f"HTTP/1.1 {status} {reason}\r\n"
                    "Content-Type: application/json\r\n"
                    f"Content-Length: {len(data)}\r\n"
                    f"Connection: {'keep-alive' if keep else 'close'}\r\n\r\n".encode("latin-1")
                    + data
                )
                await writer.drain()
                if not keep:
                    break
        except (ConnectionError, asyncio.IncompleteReadError):
            pass
        finally:
            writer.close()


async def _orphan_watch(stop: asyncio.Event) -> None:
    """Stop when the process that started this one has gone."""
    parent = os.getppid()
    while not stop.is_set():
        if os.getppid() != parent:
            stop.set()
        await asyncio.sleep(0.5)


async def _serve(server: MockServer, port: int) -> None:
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    for sig in (signal.SIGTERM, signal.SIGINT):
        loop.add_signal_handler(sig, stop.set)
    srv = await asyncio.start_server(server.handle, "127.0.0.1", port, backlog=512)
    print(f"PORT {srv.sockets[0].getsockname()[1]}", flush=True)
    watch = asyncio.create_task(_orphan_watch(stop))
    async with srv:
        await stop.wait()
    await watch


class Endpoint:
    """Runs the mock server in its own process and talks to it."""

    def __init__(self, seed: int, latency_ms: float, p503: float, p_malformed: float):
        self.args = [
            "--seed", str(seed), "--latency-ms", str(latency_ms),
            "--p503", str(p503), "--p-malformed", str(p_malformed),
        ]
        self.proc: subprocess.Popen | None = None
        self.port = 0

    def start(self) -> Endpoint:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *self.args],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"mock endpoint failed to start: {line!r}")
        self.port = int(line.split()[1])
        return self

    @property
    def base(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    @property
    def chat_url(self) -> str:
        return self.base + CHAT_PATH

    def _call(self, method: str, path: str) -> dict:
        req = urllib.request.Request(self.base + path, method=method,
                                     data=b"" if method == "POST" else None)
        with urllib.request.urlopen(req, timeout=10) as resp:
            return json.load(resp)

    def set_epoch(self, n: int) -> None:
        self._call("POST", f"/epoch?n={n}")

    def stats(self) -> dict:
        return self._call("GET", "/stats")

    def close(self) -> None:
        if self.proc is None:
            return
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        self.proc.stdout.close()
        self.proc = None


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--latency-ms", type=float, default=100.0)
    ap.add_argument("--p503", type=float, default=0.05)
    ap.add_argument("--p-malformed", type=float, default=0.05)
    ap.add_argument("--port", type=int, default=0)
    a = ap.parse_args(argv)
    server = MockServer(a.seed, a.latency_ms / 1000.0, a.p503, a.p_malformed)
    asyncio.run(_serve(server, a.port))


if __name__ == "__main__":
    main()

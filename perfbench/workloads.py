"""The three workloads, driven through the engine's public functions.

Each workload has the same shape: ``prepare`` reads what the benchmark
itself needs from the inputs (samples, request streams; not timed),
``setup`` loads the inputs into the engine (setup time), ``op`` runs one
operation and returns the items it completed, ``check``
verifies every recorded output after the timed window, and ``layers``
reports the per-layer metrics of a traced window.

- summaries_remote_llm: one op is one pass of the reference pipeline over
  a seeded sample; the model is the mock endpoint. Items are documents.
- corpus_curation: one op is one pass over four curation keys, each
  written as parquet. Items are input documents.
- analyst_queries: one op is one round of four requests, one per type in
  a seeded order, sent by one client; each request waits for the previous
  result to reach the driver. Items are requests.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.endpoint import Endpoint
from perfbench.keys import resolve
from perfbench.metrics import CURATION_KEYS, REQUEST_TYPES
from unfccc_documents_database_sandbox_spark import catalog, registry
from unfccc_documents_database_sandbox_spark.llm import batch
from unfccc_documents_database_sandbox_spark.llm.openai_client import OpenAIChatModel
from unfccc_documents_database_sandbox_spark.operators import assembly, similarity

# documents per workload's corpus: None is all of sf0.1 (5000 documents,
# 2000 vectors); a number is a seeded sample of that many documents
CORPUS = {
    "summaries_remote_llm": None,
    "corpus_curation": 400,
    "analyst_queries": None,
}
SUMMARY_SAMPLE = 200
LLM_LATENCY_MS = 100.0
LLM_P503 = 0.05
LLM_P_MALFORMED = 0.05
REPEAT_FRAC = 0.2
IVF_CELLS, IVF_NPROBE, TOPK = 16, 4, 5
QUERY_ID_BASE = 1_000_000_000
SQL_JOIN = """
SELECT d.lang, e.label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.source = :src AND d.n_chars >= :min_chars
GROUP BY d.lang, e.label
"""


def _read_texts(data_dir: str) -> dict[int, str]:
    t = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _read_vectors(data_dir: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
    return ids, vecs


def _observed(tr, df, name: str):
    """``df`` with a row-count observation when traced."""
    if not tr.enabled:
        return df, None
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _obs_rows(obs) -> int:
    return int(obs.get["rows"]) if obs is not None else 0


def _storage(spark) -> tuple[int, float]:
    """(persisted RDDs, MB held in block storage) of the session."""
    jsc = spark.sparkContext._jsc
    mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
    return len(jsc.getPersistentRDDs()), mb


class Workload:
    name = ""
    # warm-up budget, in multiples of the window
    warmup_x = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.problems: list[str] = []
        self.op_log: list[tuple[int, dict]] = []  # (op number, wall interval)
        self.warming = False
        self.op_name = self.name

    def prepare(self) -> None: ...

    def setup(self) -> None: ...

    def op(self, k: int) -> int: ...

    def run_op(self) -> int:
        k = len(self.op_log)
        t0 = time.time()
        items = self.op(k)
        self.op_log.append((k, {"name": self.op_name, "start": t0, "end": time.time()}))
        return items

    def check(self) -> tuple[int, int]:
        """(operations attempted, operations failed) over every recorded op."""
        ...

    def layers(self, window: dict) -> dict[str, float]:
        return {}

    def probe(self) -> dict[str, float]:
        """Layer measurements taken after the traced window."""
        return {}

    def exclude_pids(self) -> tuple[int, ...]:
        return ()

    def close(self) -> None: ...


class Summaries(Workload):
    name = "summaries_remote_llm"
    # Passes were still 10-20 % faster on the third warm pass than on the
    # second, so two passes left some runs' windows in the warm-up.
    warmup_x = 3

    def prepare(self):
        texts = _read_texts(self.ctx.data_dir)
        rng = np.random.default_rng(self.ctx.seed + 1)
        ids = sorted(int(i) for i in rng.choice(sorted(texts), SUMMARY_SAMPLE, replace=False))
        self.texts = {i: texts[i] for i in ids}

    def setup(self):
        c = self.ctx
        self.ep = Endpoint(c.seed, LLM_LATENCY_MS, LLM_P503, LLM_P_MALFORMED).start()
        docs = catalog.load_table(c.spark, c.data_dir, "documents")
        self.docs = docs.filter(F.col("doc_id").isin(list(self.texts)))
        self.factory = functools.partial(OpenAIChatModel, self.ep.chat_url)
        self.outputs: list[tuple[int, object]] = []
        self.pass_stats: list[dict] = []

    def exclude_pids(self):
        return (self.ep.proc.pid,)

    def op(self, k):
        c, tr = self.ctx, self.ctx.tracer
        self.ep.set_epoch(k)
        with tr.span("summaries.pass", request=f"pass{k}"):
            with tr.group("pipeline", "build"):
                with tr.span("operators.assembly.blocks_from_documents"):
                    blocks = assembly.blocks_from_documents(self.docs)
                blocks, ob = _observed(tr, blocks, f"blocks{k}")
                with tr.span("operators.assembly.assemble_doc_text"):
                    text = assembly.assemble_doc_text(blocks)
                with tr.span("llm.batch.prompt_column"):
                    prompts = text.select("doc_id", batch.prompt_column("doc_text").alias("prompt"))
                prompts, op_ = _observed(tr, prompts, f"prompts{k}")
                with tr.span("llm.batch.summarize_structured"):
                    out = batch.summarize_structured(prompts, model_factory=self.factory)
                out, os_ = _observed(tr, out, f"summaries{k}")
            t0 = time.perf_counter()
            with tr.group("pipeline", "exec"):
                pdf = out.toPandas()
            t1 = time.perf_counter()
            with tr.span("sink.csv"):
                pdf.to_csv(os.path.join(c.out_dir, f"summaries-{k}.csv"), index=False)
            t2 = time.perf_counter()
        self.outputs.append((k, pdf))
        self.pass_stats.append({
            "stage_s": t1 - t0, "csv_s": t2 - t1,
            "workers": c.tree.count("pyspark.daemon") - 1 if tr.enabled else 0,
            "rows": (_obs_rows(ob), _obs_rows(op_), _obs_rows(os_)),
        })
        return len(self.texts)

    def check(self):
        epochs = self.ep.stats()["epochs"]
        failed = 0
        for k, pdf in self.outputs:
            p = checks.check_summaries(pdf, self.texts, batch.SYSTEM_PROMPT,
                                       batch.RETRY_SUFFIX, epochs[str(k)])
            self.problems += p
            failed += bool(p)
        return len(self.outputs), failed

    def layers(self, window):
        ks = window["ops"]
        stats = self.ep.stats()["epochs"]
        ep = [stats[str(k)] for k in ks]
        docs = len(self.texts) * len(ks)
        req = sum(e["requests"] for e in ep)
        ps = [self.pass_stats[k] for k in ks]
        stage = sum(p["stage_s"] for p in ps)
        useful = docs  # one accepted reply per document
        return {
            "llm.stage_s": stage / len(ks),
            "llm.requests_per_doc": req / docs,
            "llm.retries_per_doc": (req - docs) / docs,
            "llm.useful_request_frac": useful / req,
            "llm.connections_per_request": sum(e["connections"] for e in ep) / req,
            "llm.inflight_mean": sum(e["inflight_integral_s"] for e in ep) / stage,
            "llm.inflight_max": max(e["inflight_max"] for e in ep),
            "llm.python_workers": max(p["workers"] for p in ps),
            "llm.usd_per_kdoc": 1000.0 * sum(e["usd"] for e in ep) / docs,
            "observe.blocks_rows": statistics.median(p["rows"][0] for p in ps),
            "observe.prompts_rows": statistics.median(p["rows"][1] for p in ps),
            "observe.summaries_rows": statistics.median(p["rows"][2] for p in ps),
            "sink.csv_s": statistics.median(p["csv_s"] for p in ps),
        }

    def probe(self) -> dict[str, float]:
        """Assembly alone over the sample, materialized once (traced runs)."""
        t0 = time.perf_counter()
        assembly.assemble_doc_text(assembly.blocks_from_documents(self.docs)) \
            .write.format("noop").mode("overwrite").save()
        return {"operators.assembly.s": time.perf_counter() - t0}

    def close(self):
        if hasattr(self, "ep"):  # setup may have failed before starting it
            self.ep.close()


class Curation(Workload):
    name = "corpus_curation"

    def setup(self):
        c = self.ctx
        registry.load_all_plans()
        self.keys = {b: resolve(b, registry.REGISTRY) for b in CURATION_KEYS}
        t0 = time.perf_counter()
        for t in ("documents", "embeddings"):
            catalog.load_table(c.spark, c.data_dir, t)
        c.setup_layers["catalog.load_table_ms"] = 1000 * (time.perf_counter() - t0)
        self.n_docs = CORPUS[self.name]
        self.runs: list[dict] = []  # one per (op, key)

    def op(self, k):
        c, tr = self.ctx, self.ctx.tracer
        with tr.span("curation.pass", request=f"pass{k}"):
            for base, key in self.keys.items():
                spec = registry.REGISTRY[key]
                path = os.path.join(c.out_dir, f"{base}-{k}")
                t0 = time.perf_counter()
                with tr.group(base, "build"):
                    df = spec.build(c.spark, c.data_dir)
                df, obs = _observed(tr, df, f"{base}{k}")
                t1 = time.perf_counter()
                with tr.group(base, "exec"):
                    df.write.mode("overwrite").parquet(path)
                t2 = time.perf_counter()
                self.runs.append({"op": k, "key": base, "path": path, "build_s": t1 - t0,
                                  "exec_s": t2 - t1, "rows": _obs_rows(obs)})
            if tr.enabled:
                self.runs[-1]["after_pass"] = _storage(c.spark)
        return self.n_docs

    def check(self):
        c = self.ctx
        duck = checks.Duck(c.data_dir)
        texts = _read_texts(c.data_dir)
        want = {b: checks.canon_hash(duck.query(registry.REGISTRY[key].oracle))
                for b, key in self.keys.items() if registry.REGISTRY[key].oracle}
        minhash: set[str] = set()
        bad_ops: set[int] = set()
        for r in self.runs:
            got = duck.parquet_dir(r["path"])
            h = checks.canon_hash(got)
            if r["key"] in want:
                p = [] if h == want[r["key"]] else [f"{r['key']} pass {r['op']}: hash differs from oracle"]
            else:
                minhash.add(h)
                p = checks.check_minhash_pairs(got, texts, 0.8)
                recorded = c.recorded.get(f"{r['key']}:{c.seed}")
                if recorded is not None and h != recorded:
                    p.append(f"{r['key']}: hash {h} differs from recorded {recorded}")
            if p:
                bad_ops.add(r["op"])
                self.problems += p
        if len(minhash) > 1:
            self.problems.append("dedup_fuzzy_minhash: output differs between passes")
            bad_ops.update(r["op"] for r in self.runs)
        if len(minhash) == 1 and f"dedup_fuzzy_minhash:{c.seed}" not in c.recorded:
            self.unrecorded = {f"dedup_fuzzy_minhash:{c.seed}": minhash.pop()}
        ops = {r["op"] for r in self.runs}
        return len(ops), len(bad_ops)

    def layers(self, window):
        ops = set(window["ops"])
        runs = [r for r in self.runs if r["op"] in ops]
        out = {}
        for base in CURATION_KEYS:
            rs = [r for r in runs if r["key"] == base]
            out[f"plans.{base}.build_s"] = statistics.median(r["build_s"] for r in rs)
            out[f"plans.{base}.exec_s"] = statistics.median(r["exec_s"] for r in rs)
            out[f"plans.{base}.rows"] = statistics.median(r["rows"] for r in rs)
        after = [r["after_pass"] for r in runs if "after_pass" in r]
        out["catalog.persisted_rdds_after_pass"] = max(a[0] for a in after)
        out["catalog.storage_mb_after_pass"] = max(a[1] for a in after)
        return out

    def probe(self) -> dict[str, float]:
        """The parquet sink alone: rewrite the last pass's outputs, read
        back from parquet, once (traced runs)."""
        c = self.ctx
        t0 = time.perf_counter()
        for r in self.runs[-len(self.keys):]:
            c.spark.read.parquet(r["path"]).write.mode("overwrite").parquet(r["path"] + "-sink")
        return {"sink.parquet_s": time.perf_counter() - t0}


class Analyst(Workload):
    name = "analyst_queries"
    # A round's time still fell from one round to the next after two warm
    # rounds, and A/A spread across runs was near the bound; the longer
    # warm-up lets the JIT settle before the window.
    warmup_x = 4

    def prepare(self):
        c = self.ctx
        self.texts = _read_texts(c.data_dir)
        self.vec_ids, self.vecs = _read_vectors(c.data_dir)
        self.rounds = self._rounds(np.random.default_rng(c.seed + 2), 400)
        self.warm_rounds = self._rounds(np.random.default_rng(c.seed + 3), 50)

    def setup(self):
        c = self.ctx
        t0 = time.perf_counter()
        self.docs = catalog.load_table(c.spark, c.data_dir, "documents")
        self.embs = catalog.load_table(c.spark, c.data_dir, "embeddings")
        catalog.register_views(c.spark, c.data_dir)
        c.setup_layers["catalog.load_table_ms"] = 1000 * (time.perf_counter() - t0)
        self.centroids = similarity.train_ivf_centroids(self.embs, n_cells=IVF_CELLS)
        self.n_sent = {True: 0, False: 0}  # rounds sent, by warming
        self.records: list[dict] = []

    def _request(self, rng, kind: str, qid0: int) -> dict:
        if kind == "doc_lookup":
            return {"kind": kind, "ids": [int(x) for x in rng.choice(sorted(self.texts), 3, replace=False)]}
        if kind == "sql_join":
            return {"kind": kind, "src": f"src{int(rng.integers(0, 20))}",
                    "min_chars": int(rng.integers(50, 400))}
        base = self.vecs[rng.choice(len(self.vecs), 2, replace=False)]
        qv = base + rng.normal(0.0, 0.05, size=base.shape)
        return {"kind": kind, "queries": [(qid0 + j, [float(np.float32(v)) for v in q])
                                          for j, q in enumerate(qv)]}

    def _rounds(self, rng, n: int) -> list[list[dict]]:
        """``n`` rounds of one request per type in a seeded order, so every
        window of whole rounds has the same mix. A seeded share of requests
        repeats an earlier request of its type exactly."""
        seen: dict[str, list[dict]] = {t: [] for t in REQUEST_TYPES}
        out = []
        for i in range(n):
            rnd = []
            for kind in (REQUEST_TYPES[j] for j in rng.permutation(len(REQUEST_TYPES))):
                if seen[kind] and rng.random() < REPEAT_FRAC:
                    req = seen[kind][int(rng.integers(0, len(seen[kind])))]
                else:
                    req = self._request(rng, kind, QUERY_ID_BASE + 10 * (i * len(REQUEST_TYPES) + len(rnd)))
                    seen[kind].append(req)
                rnd.append(req)
            out.append(rnd)
        return out

    def run_request(self, req: dict, rid: str) -> tuple[object, float]:
        """Run one request to a pandas result; returns (result, plan_s)."""
        c, tr = self.ctx, self.ctx.tracer
        kind = req["kind"]
        t0 = time.perf_counter()
        with tr.group(rid, "build"):
            if kind == "doc_lookup":
                with tr.span("operators.assembly.assemble_doc_text"):
                    df = assembly.assemble_doc_text(assembly.blocks_from_documents(
                        self.docs.filter(F.col("doc_id").isin(req["ids"]))))
            elif kind == "sql_join":
                with tr.span("plans.sql_queries.spark_sql"):
                    df = c.spark.sql(SQL_JOIN, args={"src": req["src"],
                                                     "min_chars": req["min_chars"]})
            else:
                q = c.spark.createDataFrame(req["queries"], "vec_id bigint, embedding array<float>")
                with tr.span(f"operators.similarity.{kind}"):
                    if kind == "ivf_search":
                        df = similarity.ivf_topk(self.embs, q, k=TOPK, n_cells=IVF_CELLS,
                                                 nprobe=IVF_NPROBE, centroids=self.centroids)
                    else:
                        df = similarity.brute_force_topk(self.embs, q, k=TOPK)
        t1 = time.perf_counter()
        with tr.group(rid, "exec"):
            pdf = df.toPandas()
        return pdf, t1 - t0

    def op(self, k):
        """One round: each request is sent after the previous result
        reached the driver."""
        stream = self.warm_rounds if self.warming else self.rounds
        rnd = stream[self.n_sent[self.warming] % len(stream)]
        self.n_sent[self.warming] += 1
        with self.ctx.tracer.span("analyst.round", request=f"round{k}"):
            for j, req in enumerate(rnd):
                rid = f"req{k}.{j}"
                with self.ctx.tracer.span(f"analyst.{req['kind']}", request=rid):
                    t0 = time.perf_counter()
                    pdf, plan_s = self.run_request(req, rid)
                    lat = time.perf_counter() - t0
                if not self.warming:
                    self.records.append({"op": k, "rid": rid, "req": req, "out": pdf,
                                         "lat": lat, "plan": plan_s})
        return len(rnd)

    def _expected(self, req: dict):
        kind = req["kind"]
        if kind == "doc_lookup":
            return {i: checks.assembled_text(self.texts[i]) for i in req["ids"]}
        if kind == "sql_join":
            return checks.canon_hash(self.duck.query(
                SQL_JOIN, {"src": req["src"], "min_chars": req["min_chars"]}))
        want = {}
        cents = np.array(self.centroids)
        for qid, v in req["queries"]:
            q = np.array(v, dtype=np.float64)
            ids, vecs = self.vec_ids, self.vecs
            if kind == "ivf_search":
                cell = checks.probed_cells(cents, vecs, 1)[:, 0]
                probe = checks.probed_cells(cents, q[None, :], IVF_NPROBE)[0]
                keep = np.isin(cell, probe)
                ids, vecs = ids[keep], vecs[keep]
            want[qid] = checks.topk_exact(ids, vecs, qid, q, TOPK)
        return want

    def check(self):
        self.duck = checks.Duck(self.ctx.data_dir)
        failed = 0
        for r in self.records:
            req, got = r["req"], r["out"]
            want = self._expected(req)
            if req["kind"] == "doc_lookup":
                have = dict(zip(got["doc_id"], got["doc_text"]))
                p = [] if have == want else [f"doc_lookup {req['ids']}: wrong text"]
            elif req["kind"] == "sql_join":
                p = [] if checks.canon_hash(got) == want else [f"sql_join {req}: hash differs"]
            else:
                p = checks.compare_topk(got, want)
            self.problems += p
            failed += bool(p)
        return len(self.records), failed

    def layers(self, window):
        ops = set(window["ops"])
        recs = [r for r in self.records if r["op"] in ops]
        out = {}
        for t in REQUEST_TYPES:
            rs = [r for r in recs if r["req"]["kind"] == t] or [{"lat": 0.0, "plan": 0.0}]
            out[f"analyst.{t}.p50_ms"] = 1000 * statistics.median(r["lat"] for r in rs)
            out[f"analyst.{t}.plan_ms"] = 1000 * statistics.median(r["plan"] for r in rs)
        lat = sorted(r["lat"] for r in recs)
        out["analyst.requests"] = len(lat)
        out["analyst.query_p50_ms"] = 1000 * statistics.median(lat)
        out["analyst.query_p90_ms"] = 1000 * statistics.quantiles(lat, n=10)[-1]
        out["analyst.core_s_per_query"] = window["core_s"] / len(lat)
        return out


WORKLOADS = {w.name: w for w in (Summaries, Curation, Analyst)}


def load_recorded(path: str) -> dict[str, str]:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)

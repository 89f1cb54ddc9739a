"""Output checks, all run outside the timed window.

Each check returns the number of wrong outputs it found, so the caller
can count them toward ``failed``. References are computed independently
of the engine: document assembly and stub digests in plain Python, SQL
through DuckDB over the same parquet files, vector search in NumPy.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd

DUCK_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def fragment(seq: int, word: str) -> str:
    """One block's text under the assembly operator's derived block types."""
    if seq % 11 == 0:
        return ""
    if seq % 7 == 0:
        return f"[T] {word}\n"
    if seq % 3 == 0:
        return f"{seq}.\t{word}\n"
    return f"{word}\n"


def assembled_text(text: str) -> str:
    """The reference's ordered per-document assembly of ``text``'s words."""
    return "".join(fragment(i, w) for i, w in enumerate(text.split(" "), start=1))


def stub_summary(prompt: str) -> str:
    return "STUB:" + hashlib.sha256(prompt.encode("utf-8")).hexdigest()


def check_summaries(out: pd.DataFrame, texts: dict[int, str], system: str,
                    retry_suffix: str, billed: dict) -> list[str]:
    """Problems in one summaries pass: every sampled doc appears once
    without error, its summary is the stub digest of its prompt (or of
    the re-prompt after a malformed reply), re-prompts match the
    endpoint's malformed count, and the summed cost equals what the
    endpoint billed."""
    problems = []
    if sorted(out["doc_id"]) != sorted(texts):
        problems.append("summaries: output doc ids differ from the sample")
    if out["error"].notna().any():
        problems.append(f"summaries: {int(out['error'].notna().sum())} rows carry an error")
    n_retry = 0
    for doc_id, summary in zip(out["doc_id"], out["summary"]):
        prompt = system + assembled_text(texts.get(int(doc_id), ""))
        if summary == stub_summary(prompt):
            continue
        if summary == stub_summary(prompt + retry_suffix):
            n_retry += 1
            continue
        problems.append(f"summaries: doc {doc_id} has a wrong summary")
    if n_retry != billed["malformed"]:
        problems.append(f"summaries: {n_retry} re-prompted rows, endpoint "
                        f"sent {billed['malformed']} malformed replies")
    cost = float(out["cost"].sum())
    if not np.isclose(cost, billed["usd"], rtol=1e-9, atol=1e-12):
        problems.append(f"summaries: cost column sums to {cost!r}, endpoint billed {billed['usd']!r}")
    return problems


def canon_hash(df: pd.DataFrame) -> str:
    """Order-insensitive content hash: columns by name, rows sorted."""
    cols = sorted(df.columns)
    d = df[cols].sort_values(cols).reset_index(drop=True)
    return hashlib.sha256(d.to_csv(index=False).encode("utf-8")).hexdigest()


class Duck:
    """DuckDB over the generated parquet tables."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in DUCK_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def query(self, sql: str, params: dict | None = None) -> pd.DataFrame:
        if params:
            sql = re.sub(r":(\w+)", r"$\1", sql)
        return self.con.execute(sql, params or None).df()

    def parquet_dir(self, path: str) -> pd.DataFrame:
        return self.con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(path, '*.parquet')}')").df()


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t: str) -> set[str]:
        w = t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def check_minhash_pairs(pairs: pd.DataFrame, texts: dict[int, str],
                        threshold: float) -> list[str]:
    """Every reported near-duplicate pair is ordered, reaches the
    threshold, and carries its exact word-shingle Jaccard (which the
    operator rounds to six decimals)."""
    problems = []
    for a, b, j in zip(pairs["id_a"], pairs["id_b"], pairs["jaccard"]):
        exact = shingle_jaccard(texts[int(a)], texts[int(b)])
        if not (a < b and exact >= threshold and abs(exact - j) <= 5.000001e-7):
            problems.append(f"dedup_fuzzy_minhash: pair ({a}, {b}) jaccard {j} vs exact {exact}")
    return problems


def unit_rows(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def topk_exact(corpus_ids: np.ndarray, corpus: np.ndarray, qid: int,
               q: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Cosine top-k of ``q`` over ``corpus`` (ties by id), scores rounded
    as the engine rounds them."""
    keep = corpus_ids != qid
    ids, vecs = corpus_ids[keep], corpus[keep]
    cos = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:k]
    return [(int(ids[i]), round(float(cos[i]), 4)) for i in order]


def probed_cells(centroids: np.ndarray, vecs: np.ndarray, nprobe: int) -> np.ndarray:
    d = (centroids * centroids).sum(axis=1)[None, :] - 2.0 * (unit_rows(vecs) @ centroids.T)
    return np.argsort(d, axis=1)[:, :nprobe]


def compare_topk(got: pd.DataFrame, want: dict[int, list[tuple[int, float]]]) -> list[str]:
    """``got`` rows (query_id, neighbor_id, rank, score) against the
    expected ranked lists; scores may differ by one rounding step."""
    problems = []
    for qid, rows in want.items():
        g = got[got["query_id"] == qid].sort_values("rank")
        ids = [int(x) for x in g["neighbor_id"]]
        if ids != [r[0] for r in rows] or list(g["rank"]) != list(range(1, len(rows) + 1)):
            problems.append(f"top-k for query {qid}: got {ids}, want {[r[0] for r in rows]}")
        elif any(abs(s - r[1]) > 1.5e-4 for s, r in zip(g["score"], rows)):
            problems.append(f"top-k scores for query {qid} differ")
    return problems


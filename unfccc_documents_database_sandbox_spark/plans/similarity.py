"""Similarity-search queries (north star L3) over the embeddings table.

The ANN keys call the operators in ``operators/similarity.py``. Their
oracle-exact twins (``*_portable``, ``sim_index_*``, ``dedup_semantic``)
restate the same pipelines as Column fold arithmetic over pinned literal
indexes, so a DuckDB query replays them bit for bit. The twins share one
unit frame (``_units``), one first-min argmin (``_argmin``), one squared
distance (``_sqdist``), one literal-codebook PQ encode (``_pq_dists``), one
ADC sum (``_adc_sum``) and the operators' top-k tail (``S._topk``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from unfccc_documents_database_sandbox_spark.catalog import load_table, pin, spread
from unfccc_documents_database_sandbox_spark.functions.vectors import (
    dot as vec_dot,
)
from unfccc_documents_database_sandbox_spark.functions.vectors import (
    to_double as vec_to_double,
)
from unfccc_documents_database_sandbox_spark.operators import similarity as S
from unfccc_documents_database_sandbox_spark.plans.ivf_centroids import (
    IVF_CELLS, cell, cell_sq,
)
from unfccc_documents_database_sandbox_spark.plans.ivfpq_codebook import (
    IVFPQ_C, IVFPQ_CB, IVFPQ_CENT, IVFPQ_D, IVFPQ_K, IVFPQ_M,
    IVFPQ_NPROBE, IVFPQ_REFINE, IVFPQ_SUB,
)
from unfccc_documents_database_sandbox_spark.plans.pq_codebook import (
    PQ_CB, PQ_K, PQ_M, PQ_SUB,
)
from unfccc_documents_database_sandbox_spark.registry import register

_COSINE_CTE = """
v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
    FROM embeddings
),
vn AS (
    SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v
)
"""


@register(
    "sim_topk",
    oracle=f"""
    WITH {_COSINE_CTE},
    q AS (SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm FROM vn WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, vn.vec_id AS neighbor_id,
               list_dot_product(q.qvec, vn.vec) / (q.qnorm * vn.norm) AS cos
        FROM q JOIN vn ON vn.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, ROUND(cos, 4) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def sim_topk(spark, sf_dir):
    """L3 exact brute-force cosine top-k (queries = vec_id < 5, broadcast):
    the ANN baseline. Corpus never shuffles; dot products are zip_with/
    aggregate folds inside codegen — no Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(emb, queries, k=5)


@register("sim_topk_lsh", oracle=None, tags=("rows-only",))
def sim_topk_lsh(spark, sf_dir):
    """L3 scale path: random-hyperplane LSH buckets → per-bucket exact rank.
    Approximate recall by construction → rows-only check."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.lsh_bucket_topk(emb, queries, k=5)


# One trained index per (application id, sf_dir, kind): the fit is the
# expensive bounded-sample collect, so repeated builds of the ANN keys
# (registry sweeps, bench loops, the parity suite) reuse it like a real
# ANN system reuses its index. The key holds the application id, not the
# session, so a stopped session is not kept alive by the memo.
_INDEX: dict[tuple[str, str, str], object] = {}


def _trained(spark, sf_dir: str, kind: str, train):
    """The memoized ``train()`` result for this application and sf_dir."""
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _INDEX:
        _INDEX[key] = train()
    return _INDEX[key]


def _lsh_portable_oracle(n_planes: int = 8, dim: int = 64, k: int = 5) -> str:
    """DuckDB twin of the FULL hyperplane-LSH pipeline: the plane matrix
    is the same deterministic integer-valued set the production operator
    builds (operators/similarity._hyperplane, inlined as literals —
    the pq_codebook split), the sign-bit bucket is exact arithmetic
    (integer-valued doubles: every product and the fold order are
    identical across engines), and the per-bucket cosine rank reuses the
    sim_topk-proven list_dot_product ≡ left-fold equivalence."""
    def lit(p):
        return "[" + ", ".join(repr(v) for v in p) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(vec, {lit(S._hyperplane(j, dim))}) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm,
               {bucket} AS bucket
        FROM v
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, bucket
          FROM b WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.qvec, c.vec) / (q.qnorm * c.nrm) AS cos
        FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(cos, 4) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {k}
    """


@register("sim_topk_lsh_portable", oracle=_lsh_portable_oracle())
def sim_topk_lsh_portable(spark, sf_dir):
    """The ORACLE-EXACT twin of sim_topk_lsh: the
    production operator runs UNCHANGED — its hyperplane matrix was
    always deterministic integer-valued doubles, its bucket a sign-bit
    sum, its in-bucket rank an exact cosine — so unlike the PQ/IVFPQ
    twins nothing is re-parameterized; the twin's whole contribution is
    the DuckDB replay proving bucket assignment AND ranking
    bit-identical (approximate RECALL is the operator's semantics, not
    nondeterminism). This leaves only genuinely-approx sketches and
    arrival-order streaming keys rows-only.

    Scale: one equi-join shuffle on bucket id — the 100 TB ANN path
    where broadcasting the corpus is impossible; bucket fan-out is
    bounded by 2^n_planes."""
    return sim_topk_lsh(spark, sf_dir)


@register("sim_topk_ivf", oracle=None, tags=("rows-only",))
def sim_topk_ivf(spark, sf_dir):
    """L3 IVF scale path: KMeans coarse quantizer (one-time fit on a bounded
    sample) → corpus partitioned by nearest-centroid cell → queries probe
    their nprobe nearest cells → exact rank inside the probed slice.
    Approximate recall by construction → rows-only check; exactness when
    nprobe = n_cells is asserted in tests/test_parity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _trained(
        spark, sf_dir, "ivf", lambda: S.train_ivf_centroids(emb, n_cells=16))
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(
        emb, queries, k=5, n_cells=16, nprobe=4, centroids=centroids
    )


@register("sim_topk_pq", oracle=None, tags=("rows-only",))
def sim_topk_pq(spark, sf_dir):
    """L3 product-quantization scale path (Jégou et al., TPAMI 2011):
    corpus encoded to m=8 one-byte codes (32x smaller than the float32
    vectors — the ANN variant whose win is MEMORY, not fewer comparisons),
    queries score via per-query ADC lookup tables summed row-locally over
    the code array. Approximate by construction → rows-only check;
    recall-vs-exact and reconstruction-error bounds are property-tested
    in tests/test_functions.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = _trained(
        spark, sf_dir, "pq", lambda: S.train_pq_codebooks(emb, m=8, k=16))
    queries = emb.filter(F.col("vec_id") < 5)
    return S.pq_topk(emb, queries, topk=5, m=8, k=16, codebooks=books)


@register("sim_topk_ivfpq", oracle=None, tags=("rows-only",))
def sim_topk_ivfpq(spark, sf_dir):
    """L3 composed IVF+PQ ANN — the shape a production
    100 TB vector search actually runs (FAISS IndexIVFPQ / IVFADC): IVF
    cell probing prunes WHICH candidates a query scores (nprobe/n_cells of
    the corpus), PQ/ADC over residual byte codes prunes WHAT the scan ships
    (cell int + m bytes per vector instead of D×4 float bytes). One corpus
    encode pass (Arrow-batched pandas UDF), one equi-join on cell id, a
    row-local JVM ADC fold, one top-k rank — no all-pairs, no full-vector
    shuffle anywhere. Approximate by construction → rows-only check; the
    ADC decomposition exactness, probed-cell containment, and recall floor
    vs plain IVF at equal nprobe are property-tested in
    tests/test_functions.py::test_ivfpq_composes_cell_pruning_with_adc."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = _trained(
        spark, sf_dir, "ivfpq",
        lambda: S.train_ivfpq_index(emb, n_cells=16, m=8, k=16))
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivfpq_topk(
        emb, queries, topk=5, n_cells=16, nprobe=4, m=8, k=16, index=index,
    )


# --- Column kernels of the oracle-exact twins: each is the fold
# arithmetic its DuckDB oracle replays term for term. ---

def _units(emb):
    """(vec_id, embedding) → (vec_id, u): the unit-normalized double vector
    u = vec / sqrt(dot(vec, vec)) that every oracle-exact stage consumes."""
    v = emb.select(
        "vec_id", vec_to_double(F.col("embedding")).alias("vec")
    ).withColumn("nrm", F.sqrt(vec_dot(F.col("vec"), F.col("vec"))))
    return v.select(
        "vec_id",
        F.transform("vec", lambda x: x / F.col("nrm")).alias("u"),
    )


def _argmin(dl) -> F.Column:
    """0-based index of the FIRST minimum of an array column: the same
    tie-break as DuckDB's list_position(dl, list_min(dl)) - 1."""
    return F.array_position(dl, F.array_min(dl)) - 1


def _sqdist(x, c) -> F.Column:
    """c·c − 2·(x·c): squared L2 up to the row-constant x·x, dropped."""
    return vec_dot(c, c) - F.lit(2.0) * vec_dot(x, c)


def _pq_dists(x: str, cb_v, m: int, k: int, sub: int) -> list[F.Column]:
    """Per subspace j, the array of ``_sqdist`` from the j-th slice of
    ``x`` to each of the k centroids of the flat literal codebook ``cb_v``
    (centroid (j, c) is cb_v[(j*k + c)*sub :][:sub])."""

    def cent(j: int, c: int) -> F.Column:
        s = (j * k + c) * sub
        return F.lit(cb_v[s : s + sub])

    return [
        F.array(*[_sqdist(F.slice(x, j * sub + 1, sub), cent(j, c)) for c in range(k)])
        for j in range(m)
    ]


def _adc_sum(cb_v, m: int, k: int, sub: int, *head) -> F.Column:
    """head + Σ_j qu_j · centroid(j, codes_j) as one explicit
    left-associated sum (no unordered SUM), so DuckDB adds in the same
    order."""

    def term(j: int) -> F.Column:
        start = (F.lit(j * k) + F.element_at("codes", j + 1)) * sub + 1
        return vec_dot(
            F.slice("qu", j * sub + 1, sub), F.slice(F.lit(cb_v), start, sub)
        )

    return reduce(lambda a, b: a + b, [*head, *(term(j) for j in range(m))])


def _pq_portable_oracle() -> str:
    """DuckDB twin of sim_topk_pq_portable — same fixed codebook literals,
    same fold orders (list_dot_product ≡ the Spark zip_with/aggregate left
    fold, the sim_topk-proven pattern), same first-index argmin idiom
    (list_position(dl, list_min(dl)) ≡ array_position(dl, array_min(dl)))."""
    fc_lit = "[" + ", ".join(repr(v) for v in PQ_CB) + "]"

    def dl(j: int) -> str:
        # per-candidate distance c·c - 2·(x_j·c); x·x dropped (row-constant)
        cent = (
            f"fc[(({j}*{PQ_K}) + c)*{PQ_SUB} + 1 : "
            f"(({j}*{PQ_K}) + c)*{PQ_SUB} + {PQ_SUB}]"
        )
        xs = f"u[{j * PQ_SUB} + 1 : {j * PQ_SUB} + {PQ_SUB}]"
        return (
            f"list_transform(range(0, {PQ_K}), c -> "
            f"list_dot_product({cent}, {cent})"
            f" - 2.0 * list_dot_product({xs}, {cent}))"
        )

    codes = ", ".join(
        f"list_position({dl(j)}, list_min({dl(j)})) - 1" for j in range(PQ_M)
    )

    def adc_term(j: int) -> str:
        start = f"({j}*{PQ_K} + e.codes[{j + 1}])*{PQ_SUB}"
        return (
            f"list_dot_product("
            f"q.qu[{j * PQ_SUB} + 1 : {j * PQ_SUB} + {PQ_SUB}], "
            f"fc[{start} + 1 : {start} + {PQ_SUB}])"
        )

    score = " + ".join(f"({adc_term(j)})" for j in range(PQ_M))

    return f"""
    WITH cb AS (SELECT {fc_lit} AS fc),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    vn AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
    ),
    uu AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS u FROM vn),
    enc AS (
        SELECT vec_id, [{codes}] AS codes FROM uu CROSS JOIN cb
    ),
    q AS (SELECT vec_id AS query_id, u AS qu FROM uu WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {score} AS score_raw
        FROM q JOIN enc e ON e.vec_id <> q.query_id CROSS JOIN cb
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(score_raw, 4) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_raw DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """


@register("sim_topk_pq_portable", oracle=_pq_portable_oracle())
def sim_topk_pq_portable(spark, sf_dir):
    """The ORACLE-EXACT twin of sim_topk_pq: the same
    encode-to-codes + ADC-lookup-sum pipeline, but with the codebook pinned
    as shared decimal literals (plans/pq_codebook.py — trained once,
    inlined; the dedup_minhash_portable fixed-parameter split) and every
    stage restated as JVM fold arithmetic both engines execute in the same
    order, so the result hash-matches DuckDB exactly:

    - unit-normalize: x / sqrt(dot(x, x)), dot = sequential left fold
      (functions/vectors.py) ≡ DuckDB list_dot_product (sim_topk-proven).
    - encode: per subspace j, distance to each centroid c is
      c·c − 2·(x_j·c) (x·x row-constant, dropped); code = FIRST index of
      the minimum via array_position(dl, array_min(dl)) ≡
      list_position(dl, list_min(dl)) — identical tie-break by
      construction, no float argmin ambiguity.
    - ADC: score = Σ_j qu_j · centroid(j, code_j), generated as an explicit
      left-associated 8-term sum on BOTH sides (no unordered SUM).

    Production default stays sim_topk_pq (numpy-trained codebooks, Arrow
    pandas-UDF encode); this twin runs everything row-local in codegen —
    the corpus never shuffles until the final per-query top-k rank, and the
    code array (m bytes/vector) is still the only per-row state the scan
    carries. k=8 (vs production 16) keeps the inline codebook compact; the
    pipeline shape is parameter-identical."""
    un = _units(load_table(spark, sf_dir, "embeddings"))
    dls = _pq_dists("u", PQ_CB, PQ_M, PQ_K, PQ_SUB)
    with_dl = un.select(
        "vec_id", "u", *[d.alias(f"dl{j}") for j, d in enumerate(dls)]
    )
    enc = with_dl.select(
        "vec_id",
        F.array(*[_argmin(f"dl{j}") for j in range(PQ_M)]).alias("codes"),
    )

    q = F.broadcast(
        un.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
        )
    )
    joined = enc.select(F.col("vec_id").alias("neighbor_id"), "codes").join(
        q, F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.withColumn(
        "score_raw", _adc_sum(PQ_CB, PQ_M, PQ_K, PQ_SUB)
    )
    return S._topk(scored, "score_raw", 5)


# Planted near-dups (VERDICT r13 #7): the corpus embeddings are uniform
# random with no true near-dups (max within-label cosine ≈ 0.47 at
# sf0.01), so until r13 these keys ran at a corpus-driven 0.4 threshold.
# Planting makes the PRODUCTION threshold (0.9) testable: every 50th
# vector gets a twin at vec_id+1e6 scaled by 0.5 — colinear (cosine
# exactly 1 up to one shared-fold ulp; 0.5 is a power of two, so the
# scale is float-exact and IDENTICAL in Spark and DuckDB), same label
# (so the block join finds it), different magnitude (so a cosine
# implementation that forgets to normalize fails loudly). The planting
# is part of the QUERY (a derived union), not the fixture — the
# driver's read-only testdata stays untouched and the oracle mirrors
# the derivation exactly.
_PLANT_CTE = """
vp AS (
    SELECT vec_id, label, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, label,
           list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT))
    FROM embeddings WHERE vec_id % 50 = 0
),
v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
    FROM vp
),
vn AS (
    SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v
)
"""


def _plant_near_dups(emb):
    """The Spark side of _PLANT_CTE's derived union."""
    planted = emb.filter("vec_id % 50 = 0").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x * F.lit(0.5).cast("float")).cast("float"),
        ).alias("embedding"),
        F.col("label"),
    )
    return emb.select("vec_id", "embedding", "label").unionByName(planted)


@register(
    "sim_near_dup_pairs",
    oracle=f"""
    WITH {_PLANT_CTE}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 4) AS score
    FROM vn a JOIN vn b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.vec, b.vec) / (a.norm * b.norm) >= 0.9
    """,
)
def sim_near_dup_pairs(spark, sf_dir):
    """L2/L3 embedding-cosine near-dup pairs at the PRODUCTION threshold
    (0.9 — r13 #7), blocked on the label column (stand-in for an LSH
    bucket): equi-join shuffle, quadratic only within blocks. The
    planted twins (see _PLANT_CTE) are exactly the rows the threshold
    must keep; every honest corpus pair sits below 0.5 and must be
    dropped — a threshold or normalization bug flips the result from
    'one pair per planted twin' to empty or quadratic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_near_dup_pairs(
        _plant_near_dups(emb), block_col="label", threshold=0.9)


@register(
    "dedup_embedding",
    oracle=f"""
    WITH RECURSIVE {_PLANT_CTE},
    p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM vn a JOIN vn b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.vec, b.vec) / (a.norm * b.norm) >= 0.9
    ),
    edges AS (
        SELECT id_a AS s, id_b AS d FROM p
        UNION ALL SELECT id_b, id_a FROM p
    ),
    reach AS (
        SELECT vec_id AS id, vec_id AS r FROM vp
        UNION
        SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
    )
    SELECT id AS vec_id, CAST(MIN(r) AS BIGINT) AS canonical_id,
           CAST(CASE WHEN MIN(r) = id THEN 0 ELSE 1 END AS BIGINT) AS is_dup
    FROM reach GROUP BY id
    """,
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup DEDUP end-to-end (the decision layer on
    top of sim_near_dup_pairs' pair stream) at the PRODUCTION 0.9
    threshold over the planted corpus (r13 #7): cosine >= 0.9 pairs
    inside label blocks (LSH-bucket stand-in) -> connected components
    (min-label propagation, operators/dedup.py) -> canonical = min
    vec_id per cluster, everything else flagged is_dup — the keep/drop
    verdict a training pipeline actually consumes; exactly the planted
    twins come back is_dup=1 with their original as canonical. Scale:
    identical join shape to sim_near_dup_pairs (quadratic only within
    blocks), then the Pregel-style component loop whose per-round cost
    is one edge join + one grouped min; cluster diameters for near-dup
    graphs are tiny, so rounds stay single-digit. Oracle: recursive
    transitive-closure CTE, the dedup_components precedent."""
    from unfccc_documents_database_sandbox_spark.operators import dedup as D

    emb = _plant_near_dups(load_table(spark, sf_dir, "embeddings"))
    pairs = S.cosine_near_dup_pairs(emb, block_col="label", threshold=0.9)
    labels = D.connected_components(
        emb.select("vec_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="vec_id",
    )
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("label").cast("long").alias("canonical_id"),
        F.when(F.col("label") == F.col("id"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("is_dup"),
    )


def _ivfpq_portable_oracle(where: str = "TRUE") -> str:
    """DuckDB twin of sim_topk_ivfpq_portable — same fixed centroid +
    residual-codebook literals (plans/ivfpq_codebook.py), same fold orders
    (list_dot_product ≡ the Spark zip_with/aggregate left fold), same
    first-index argmin idiom for cell assignment and residual encode, same
    explicit left-associated bias + ADC sum, same ROW_NUMBER tie-breaks.
    ``where`` restricts the corpus (the sim_index_persisted per-version
    twin runs it once per snapshot)."""
    ce_lit = "[" + ", ".join(repr(v) for v in IVFPQ_CENT) + "]"
    fc_lit = "[" + ", ".join(repr(v) for v in IVFPQ_CB) + "]"

    def ce_slice(cell: str) -> str:
        return f"ce[({cell})*{IVFPQ_D} + 1 : ({cell})*{IVFPQ_D} + {IVFPQ_D}]"

    # per-vector cell distances: c·c − 2·(u·c) (u·u row-constant, dropped)
    cdl = (
        f"list_transform(range(0, {IVFPQ_C}), c -> "
        f"list_dot_product({ce_slice('c')}, {ce_slice('c')})"
        f" - 2.0 * list_dot_product(u, {ce_slice('c')}))"
    )

    def dl(j: int) -> str:
        cent = (
            f"fc[(({j}*{IVFPQ_K}) + c)*{IVFPQ_SUB} + 1 : "
            f"(({j}*{IVFPQ_K}) + c)*{IVFPQ_SUB} + {IVFPQ_SUB}]"
        )
        xs = f"r[{j * IVFPQ_SUB} + 1 : {j * IVFPQ_SUB} + {IVFPQ_SUB}]"
        return (
            f"list_transform(range(0, {IVFPQ_K}), c -> "
            f"list_dot_product({cent}, {cent})"
            f" - 2.0 * list_dot_product({xs}, {cent}))"
        )

    codes = ", ".join(
        f"list_position({dl(j)}, list_min({dl(j)})) - 1" for j in range(IVFPQ_M)
    )

    def adc_term(j: int) -> str:
        start = f"({j}*{IVFPQ_K} + e.codes[{j + 1}])*{IVFPQ_SUB}"
        return (
            f"list_dot_product("
            f"p.qu[{j * IVFPQ_SUB} + 1 : {j * IVFPQ_SUB} + {IVFPQ_SUB}], "
            f"fc[{start} + 1 : {start} + {IVFPQ_SUB}])"
        )

    adc = " + ".join(["p.bias"] + [f"({adc_term(j)})" for j in range(IVFPQ_M)])

    return f"""
    WITH consts AS (SELECT {ce_lit} AS ce, {fc_lit} AS fc),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings WHERE {where}
    ),
    vn AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
    ),
    uu AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS u FROM vn),
    assigned AS (
        SELECT vec_id, u,
               list_position({cdl}, list_min({cdl})) - 1 AS cell
        FROM uu CROSS JOIN consts
    ),
    resid AS (
        SELECT vec_id, cell,
               list_transform(range(1, {IVFPQ_D} + 1),
                              i -> u[i] - ce[cell*{IVFPQ_D} + i]) AS r
        FROM assigned CROSS JOIN consts
    ),
    enc AS (
        SELECT vec_id, cell, [{codes}] AS codes FROM resid CROSS JOIN consts
    ),
    q AS (SELECT vec_id AS query_id, u AS qu FROM uu WHERE vec_id < 5),
    probe AS (
        SELECT * FROM (
            SELECT q.query_id, q.qu, t.c AS cell,
                   list_dot_product(q.qu, {ce_slice('t.c')}) AS bias,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product({ce_slice('t.c')}, {ce_slice('t.c')})
                                - 2.0 * list_dot_product(q.qu, {ce_slice('t.c')}),
                                t.c
                   ) AS cell_rank
            FROM q CROSS JOIN consts CROSS JOIN range(0, {IVFPQ_C}) t(c)
        ) WHERE cell_rank <= {IVFPQ_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, p.qu, e.vec_id AS neighbor_id, {adc} AS adc_score
        FROM probe p
        JOIN enc e ON e.cell = p.cell AND e.vec_id <> p.query_id
        CROSS JOIN consts
    ),
    shortlist AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_score DESC, neighbor_id) AS srn
            FROM scored
        ) WHERE srn <= {IVFPQ_REFINE * 5}
    ),
    refined AS (
        SELECT s.query_id, s.neighbor_id,
               list_dot_product(s.qu, uu.u) AS score_raw
        FROM shortlist s JOIN uu ON uu.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(score_raw, 4) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_raw DESC, neighbor_id) AS rn
        FROM refined
    ) WHERE rn <= 5
    """


@register("sim_topk_ivfpq_portable", oracle=_ivfpq_portable_oracle())
def sim_topk_ivfpq_portable(spark, sf_dir):
    """The ORACLE-EXACT twin of sim_topk_ivfpq: the full
    IVFADC composition — coarse cell assignment, residual PQ encode, cell
    probing, bias + ADC scoring, exact refine — with the index pinned as
    shared decimal literals (plans/ivfpq_codebook.py, trained once on
    residuals and inlined; the sim_topk_pq_portable precedent), every
    stage restated as fold arithmetic both engines execute in the same
    order so the result hash-matches DuckDB end-to-end:

    - cell assignment / probe ranking: dist = c·c − 2·(u·c) with the
      row-constant u·u dropped; assignment = FIRST-index min
      (array_position(cdl, array_min(cdl))), probing = ROW_NUMBER over
      (dist, cell) — deterministic tie-breaks on both sides.
    - residual encode: r = u − centroid(cell) element-wise, then the
      pq_portable argmin idiom per subspace over the residual codebook.
    - scoring: q·x ≈ q·centroid(cell) + q·r̂ — the IVFADC bias + ADC
      decomposition — generated as one explicit left-associated
      1 + m term sum on BOTH sides (no unordered SUM).
    - refine: the FAISS-style exact re-rank of the REFINE×topk ADC
      shortlist re-reads only survivors' unit vectors; final score is the
      exact sequential-fold dot product (= cosine on unit vectors).

    Production default stays sim_topk_ivfpq (numpy-trained index, Arrow
    pandas-UDF encode, bounded ADC collects); this twin runs everything
    row-local in codegen — the only corpus shuffle is the cell equi-join,
    queries/probes broadcast, and the shortlist join touches
    O(|Q|·refine·topk) rows. C=4/k=8 (vs production 16/16) keeps the
    inline literals compact; the pipeline shape is parameter-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _ivfpq_portable_plan(spark, emb)


def _centroid(cent_v, c: int) -> F.Column:
    """Coarse centroid c of a flat IVFADC centroid list, as a literal."""
    return F.lit(cent_v[c * IVFPQ_D : (c + 1) * IVFPQ_D])


def _ivfpq_encode_plan(un, cent_v, cb_v):
    """The portable IVFADC ENCODE stage alone: (vec_id, u) → (vec_id,
    cell, codes) under the passed quantizer — cell = first-index argmin
    coarse distance, codes = per-subspace residual argmin (the exact
    arithmetic the DuckDB twin replays). Split out so the incremental
    index refresh can run it over ONLY the change feed's inserted rows."""
    cdl = F.array(
        *[_sqdist(F.col("u"), _centroid(cent_v, c)) for c in range(IVFPQ_C)]
    )
    assigned = un.select("vec_id", "u", _argmin(cdl).alias("cell"))
    # r = u − centroid(cell), the centroid sliced out of one literal
    cent = F.slice(F.lit(cent_v), F.col("cell") * IVFPQ_D + 1, IVFPQ_D)
    resid = assigned.select(
        "vec_id", "cell", F.zip_with("u", cent, lambda a, b: a - b).alias("r"),
    )
    dls = _pq_dists("r", cb_v, IVFPQ_M, IVFPQ_K, IVFPQ_SUB)
    return resid.select(
        "vec_id", "cell", F.array(*[_argmin(d) for d in dls]).alias("codes"),
    )


def _ivfpq_portable_plan(spark, emb, cent_v=None, cb_v=None, enc_df=None):
    """The portable IVFADC pipeline over an arbitrary (vec_id, embedding)
    corpus, with the index passable as data (``cent_v``/``cb_v`` default
    to the pinned module literals) — shared by sim_topk_ivfpq_portable
    (module-literal index), sim_index_persisted (index retrieved from
    snapshot-table metadata), and sim_index_refresh (``enc_df``:
    PRE-ENCODED (vec_id, cell, codes) rows from the persisted artifact
    replace the inline encode stage — the serve path of an incrementally
    maintained index)."""
    cent_v = IVFPQ_CENT if cent_v is None else cent_v
    cb_v = IVFPQ_CB if cb_v is None else cb_v
    un = _units(emb)
    enc = (enc_df if enc_df is not None
           else _ivfpq_encode_plan(un, cent_v, cb_v))

    q = un.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    probes = q.select(
        "query_id", "qu",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("long").alias("cell"),
                        _sqdist(F.col("qu"), _centroid(cent_v, c)).alias("cdist"),
                        vec_dot(F.col("qu"), _centroid(cent_v, c)).alias("bias"),
                    )
                    for c in range(IVFPQ_C)
                ]
            )
        ).alias("p"),
    ).select("query_id", "qu", "p.cell", "p.cdist", "p.bias")
    wcell = W.partitionBy("query_id").orderBy("cdist", "cell")
    probe = (
        probes.withColumn("cell_rank", F.row_number().over(wcell))
        .filter(F.col("cell_rank") <= IVFPQ_NPROBE)
        .drop("cdist", "cell_rank")
    )

    joined = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("ecell"),
        "codes",
    ).join(
        F.broadcast(probe.withColumnRenamed("cell", "pcell")),
        (F.col("ecell") == F.col("pcell"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).drop("ecell", "pcell")
    scored = joined.withColumn(
        "adc_score",
        _adc_sum(cb_v, IVFPQ_M, IVFPQ_K, IVFPQ_SUB, F.col("bias")),
    )
    shortlist = (
        scored.withColumn("srn", S._rank("adc_score"))
        .filter(F.col("srn") <= IVFPQ_REFINE * 5)
        .select("query_id", "qu", "neighbor_id")
    )
    refined = shortlist.join(
        un.select(F.col("vec_id").alias("neighbor_id"), "u"), "neighbor_id"
    ).withColumn("score_raw", vec_dot(F.col("qu"), F.col("u")))
    return S._topk(refined, "score_raw", 5)


def build_ivfpq_index(spark, root, name, cent_v, cb_v):
    """Build + persist a SERVABLE IVFADC index: the JSON artifact holds
    ONLY the quantizer parameters (centroids + codebooks — O(1), driver
    OK); the full corpus encodings (vec_id, cell, codes) are written as
    a PARQUET SIDE TABLE next to it by a distributed ``df.write``
    (no encoding row ever passes through the driver),
    both published under one index commit so they time-travel, VACUUM,
    and refresh together. Queries never re-encode the corpus (the serve
    path joins ``spark.read.parquet(side)``), and refreshes touch only
    changed rows — the FAISS build/serve split on a versioned table."""
    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    emb = snap.read(spark, root).select("vec_id", "embedding")
    enc = _ivfpq_encode_plan(_units(emb), cent_v, cb_v)
    return snap.put_index(root, name,
                          {"cent": list(cent_v), "cb": list(cb_v)},
                          side_tables={"enc": enc})


def refresh_ivfpq_index(spark, root, name):
    """INCREMENTAL ANN index refresh over the change feed (the consumer
    X147's staleness measure was waiting for): read
    `changes(since trained_at)`, re-encode ONLY the inserted rows under
    the artifact's pinned quantizer, drop deleted ids, merge into the
    persisted encodings, and publish the result as a new index commit
    (trained_at advances to the refreshed head). An updated row arrives
    as its delete+insert pair and lands re-encoded; rows carried through
    COW rewrites cancel in the feed and are never touched.

    The merge is a pure DATAFRAME plan: old encodings
    = `spark.read.parquet(side table)`, kept = LEFT ANTI join against
    the netted feed's ids, merged = kept ∪ re-encoded slice, written
    back as the new commit's parquet side table by a distributed write.
    The driver sees only three 1-row count aggregates (the returned
    audit numbers) — never an encoding row, so refresh cost is
    O(changed rows) compute + O(|encodings|) executor-parallel copy,
    with O(1) driver memory at any corpus size. Never a corpus scan or
    retrain — the FAISS build/serve split maintained incrementally,
    which is how a 100 TB pipeline keeps an index warm between full
    retrains. Refreshing an up-to-date index is a no-op (no commit
    published).

    Returns {"version": new index commit or None, "reencoded": n,
    "dropped": n, "kept": n}."""
    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    got = snap.get_index(root, name)
    art = got["index"]
    since = got["trained_at"]
    head = snap.latest_version(root)
    enc = spark.read.parquet(got["side"]["enc"])
    # up-to-date = no commit since trained_at touched data files (index/
    # analyze/optimize-metadata commits don't stale encodings); version
    # equality would never hold — the refresh's own index commit
    # advances head past its trained_at stamp
    def _data_commit(v: int) -> bool:
        c = snap._load_commit(root, v)
        return bool((c.get("add") or c.get("remove"))
                    and c.get("data_change", True))

    changed_files = any(_data_commit(v) for v in range(since + 1, head + 1))
    if not changed_files:
        return {"version": None, "reencoded": 0, "dropped": 0,
                "kept": enc.count()}
    feed = snap.changes(spark, root, since, head)
    # NET the feed per vec_id before touching the index:
    # the window can hold MULTIPLE commits for one row — updated twice
    # emits two insert events (encoding both would keep a stale entry),
    # inserted-then-deleted emits an insert AND a later delete (merging
    # the insert would resurrect the row). Only the row's FINAL commit
    # decides: an insert there is the state to encode; a delete-only
    # final commit drops the id. Within one commit an update's
    # delete+insert pair nets to the insert, as before.
    wv = W.partitionBy("vec_id")
    # update commits classify as update_pre/postimage in the feed — the
    # postimage IS the row's new state, the preimage its removal
    is_ins = F.col("_change_type").isin("insert", "update_postimage")
    last = feed.withColumn(
        "vmax", F.max("_commit_version").over(wv)
    ).filter(F.col("_commit_version") == F.col("vmax"))
    # the netted feed is consumed by four branches (encode, anti-join,
    # and the two audit counts) — pin it once, it is O(changed rows)
    last = last.transform(pin)
    ins = last.filter(is_ins).select("vec_id", "embedding")
    # O(changed rows): the encode plan's input is the feed slice, which
    # by the CDF contract reads only commit-touched files
    new_enc = _ivfpq_encode_plan(_units(ins), art["cent"], art["cb"])
    # every id with ANY final-commit event leaves the old encodings:
    # inserts re-enter freshly encoded, delete-only ids just leave
    changed_ids = last.select("vec_id").distinct()
    del_ids = (
        last.groupBy("vec_id")
        .agg(F.max(is_ins.cast("int")).alias("has_ins"))
        .filter("has_ins = 0")
        .select("vec_id")
    )
    kept = enc.join(changed_ids, "vec_id", "left_anti")
    # audit scalars — 1-row aggregates, the only rows the driver reads
    n_new = ins.count()
    n_dropped = enc.join(del_ids, "vec_id", "left_semi").count()
    n_kept = kept.count()
    v = snap.put_index(
        root, name, {"cent": art["cent"], "cb": art["cb"]},
        side_tables={"enc": kept.unionByName(new_enc)})
    return {"version": v, "reencoded": n_new,
            "dropped": n_dropped, "kept": n_kept}


@register(
    "sim_index_refresh",
    oracle=f"""
    SELECT query_id, neighbor_id, rank, score
    FROM ({{}})
    """.format(_ivfpq_portable_oracle(where="vec_id % 10 <> 6")),
)
def sim_index_refresh(spark, sf_dir):
    """INCREMENTAL index refresh end-to-end: build the
    table from the EVEN embeddings and persist a full IVFADC index
    (encodings included), APPEND the odd half, DELETE vec_id % 10 = 6,
    then `refresh_ivfpq_index` — which re-encodes ONLY the change feed's
    rows under the pinned quantizer and merges them into the artifact.
    Queries are then answered FROM THE REFRESHED ARTIFACT's encodings
    (the inline encode stage is bypassed entirely — enc_df). The oracle
    re-derives the answer from the raw head corpus with a full encode
    under the same literals, so hash-green IS the
    refreshed-index ≡ full-retrain equivalence; the O(changed-rows)
    property and the no-change no-op are pinned in
    tests/test_functions.py."""
    import os

    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    root = os.path.join(repo_root, ".csv_tmp", f"snapannref_{tag}")

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    snap.create(spark, root, emb.filter(F.col("vec_id") % 2 == 0),
                overwrite=True)
    build_ivfpq_index(spark, root, "ivfpq_inc",
                      list(IVFPQ_CENT), list(IVFPQ_CB))
    snap.append(spark, root, emb.filter(F.col("vec_id") % 2 == 1))
    snap.delete_where(spark, root, "vec_id % 10 = 6")
    refresh_ivfpq_index(spark, root, "ivfpq_inc")

    got = snap.get_index(root, "ivfpq_inc")
    corpus = snap.read(spark, root)
    return _ivfpq_portable_plan(
        spark, corpus,
        cent_v=got["index"]["cent"], cb_v=got["index"]["cb"],
        enc_df=spark.read.parquet(got["side"]["enc"]),
    )


_KM_K = 8          # clusters, seeded from vec_id < _KM_K
_KM_ITERS = 2      # Lloyd updates; assignment runs once more at the end
_KM_Q = 1000000    # fixed-point scale: x = round(1e6 * coord)


def _km_iter_sql(i: int) -> str:
    """One Lloyd round as CTE text: distances against c{i}, argmin
    assignment (ties to the lowest cid), integer-exact centroid update
    into c{i+1}. The update divides SUM(x) by COUNT(*) after subtracting
    the positive remainder — an exact floor division in pure integer
    arithmetic, so neither engine's float division semantics can leak in
    (the numerator is an exact multiple of the count)."""
    return f"""
    a{i} AS (
        SELECT p.vec_id, c.cid,
               CAST(SUM((p.x - c.x) * (p.x - c.x)) AS BIGINT) AS dist
        FROM pts p JOIN c{i} c ON p.d = c.d
        GROUP BY p.vec_id, c.cid
    ),
    asg{i} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM a{i}
        ) WHERE rn = 1
    ),
    c{i + 1} AS (
        SELECT a.cid, p.d,
               CAST((SUM(p.x) - ((SUM(p.x) % COUNT(*)) + COUNT(*)) % COUNT(*))
                    / COUNT(*) AS BIGINT) AS x
        FROM pts p JOIN asg{i} a ON p.vec_id = a.vec_id
        GROUP BY a.cid, p.d
    )"""


@register(
    "cluster_kmeans",
    oracle=f"""
    WITH pts AS (
        SELECT vec_id,
               CAST(UNNEST(range(len(embedding))) AS BIGINT) AS d,
               CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * {_KM_Q})
                    AS BIGINT) AS x
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, d, x FROM pts WHERE vec_id < {_KM_K}),
    {",".join(_km_iter_sql(i) for i in range(_KM_ITERS))},
    a{_KM_ITERS} AS (
        SELECT p.vec_id, c.cid,
               CAST(SUM((p.x - c.x) * (p.x - c.x)) AS BIGINT) AS dist
        FROM pts p JOIN c{_KM_ITERS} c ON p.d = c.d
        GROUP BY p.vec_id, c.cid
    ),
    asgf AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM a{_KM_ITERS}
        ) WHERE rn = 1
    ),
    cn AS (
        SELECT cid, CAST(SUM(x * x) AS BIGINT) AS c_l2sq
        FROM c{_KM_ITERS} GROUP BY cid
    )
    SELECT f.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(f.vec_id) AS BIGINT) AS sum_vec_id,
           ANY_VALUE(cn.c_l2sq) AS c_l2sq
    FROM asgf f JOIN cn ON cn.cid = f.cid
    GROUP BY f.cid
    """,
)
def cluster_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means, INTEGER-EXACT end to end (the iterative-
    algorithm representative; the float sibling is what IVF training runs
    on a bounded sample in operators/similarity._lloyd): coordinates are
    quantized to 1e-6 fixed point, distances are exact bigint sums of
    squares in LONG format (vec_id, dim, x), the argmin tie-breaks to the
    lowest cid, and the centroid update is an exact integer floor
    division — no double ever decides an assignment or moves a centroid,
    so Spark and DuckDB run the identical trajectory and the final
    clustering hashes exactly (same discipline as events_anomaly's
    squared-inequality flags). K={_KM_K} seeded from vec_id<{_KM_K};
    {_KM_ITERS} fixed updates + a final assignment (graph_pagerank's
    unrolled-lineage pattern — no driver loop state, no collect ever:
    centroids stay a k*d DataFrame that Catalyst broadcasts).

    Scale, per iteration: the k*d centroid table (512 rows) broadcasts to
    the point scan; distance partial-aggregate shuffles N*k rows keyed
    (vec_id, cid) with map-side combine over dims; the update shuffles
    the assigned points keyed (cid, d) down to k*d rows. At 100 TB
    that is two bounded-key shuffles per round and nothing resident on
    the driver; the fixed-point quantization bounds every sum far below
    int64 (|x| <= ~8e6 -> dist <= d * (2*8e6)^2 ~ 2e16) and the exact
    floor division stays in the double-exact range while cluster sums
    hold below 2^53 (DECIMAL(38,0) is the documented widening past
    ~1e9-point clusters, the agg_corr_exact lesson)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("dp", "xf")
    )
    # r17: pts appears ~5x in the unrolled trajectory (each iteration's
    # assign + update, plus the final assign) and each appearance was a
    # fresh scan+posexplode branch — pin it once
    pts = emb.select(
        "vec_id",
        F.col("dp").cast("long").alias("d"),
        F.round(F.col("xf").cast("double") * _KM_Q).cast("long").alias("x"),
    ).transform(pin)

    def assign(cent):
        dist = (
            pts.join(
                F.broadcast(cent.withColumnRenamed("x", "cx")), "d"
            )
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
                ).cast("long").alias("dist")
            )
        )
        w = W.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )

    cent = pts.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), "d", "x"
    )
    for _ in range(_KM_ITERS):
        cent = (
            pts.join(assign(cent), "vec_id")
            .groupBy("cid", "d")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
            .select(
                "cid",
                "d",
                F.expr(
                    "CAST((sx - ((sx % n) + n) % n) / n AS BIGINT)"
                ).alias("x"),
            )
        )
    final = assign(cent)
    cn = cent.groupBy("cid").agg(
        F.sum(F.col("x") * F.col("x")).cast("long").alias("c_l2sq")
    )
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
        )
        .join(cn, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_points", "sum_vec_id", "c_l2sq",
        )
    )


@register(
    "sim_index_persisted",
    oracle=f"""
    SELECT CAST(0 AS BIGINT) AS version, query_id, neighbor_id, rank, score
    FROM ({_ivfpq_portable_oracle(where="vec_id % 2 = 0")})
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS version, query_id, neighbor_id, rank, score
    FROM ({_ivfpq_portable_oracle()})
    """,
)
def sim_index_persisted(spark, sf_dir):
    """ANN INDEX PERSISTED IN THE TABLE FORMAT: the
    trained IVFADC index (coarse centroids + residual PQ codebooks) is
    stored as snapshot-table metadata via `snapshots.put_index` — a JSON
    artifact under data/ plus one data_change=False commit recording
    {name, artifact, trained_at} — so similarity search composes with
    commits and time travel: build the table from the EVEN embeddings
    (v0), persist the index (trained_at pins v0), APPEND the odd half
    (v1), then answer top-k at BOTH versions with the ONE retrieved
    index (`get_index` + `_ivfpq_portable_plan`, the pinned-literal
    portable pipeline now fed the index AS DATA). The build
    also persists the corpus ENCODINGS as the commit's parquet side
    table (build_ivfpq_index), and the trained-version
    leg serves FROM that table — no re-encode, no driver round-trip;
    the post-append leg's rows are not in the v0-trained side table
    (that is index STALENESS, refresh_ivfpq_index's job), so that leg
    encodes inline under the same retrieved quantizer. The oracle
    re-derives each version's result from the raw embeddings with the
    same shared literals — hash-green means the roundtripped
    (JSON-serialized, commit-logged, version-resolved) index and its
    parquet encodings drive the exact same encode/probe/ADC/refine
    arithmetic, and that querying post-append data with the v0-trained
    index is pure composition (no retrain). Index staleness is
    measurable as the change feed since trained_at; retention/drop/
    conflict behavior is pinned in tests/test_snapshots.

    Scale: a 100 TB corpus cannot retrain a quantizer per run (the
    per-run trainers collect bounded samples but still cost a scan +
    driver fit); a persisted index makes query cost independent of
    training, survives VACUUM via artifact retention, and re-indexes
    incrementally: re-encoding only the CDF's changed rows is
    O(changed), the FAISS build/serve split on a versioned table."""
    import os

    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    root = os.path.join(repo_root, ".csv_tmp", f"snapann_{tag}")

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    snap.create(spark, root, emb.filter(F.col("vec_id") % 2 == 0),
                overwrite=True)
    build_ivfpq_index(spark, root, "ivfpq",
                      list(IVFPQ_CENT), list(IVFPQ_CB))
    snap.append(spark, root, emb.filter(F.col("vec_id") % 2 == 1))

    got = snap.get_index(root, "ivfpq")
    cent_v, cb_v = got["index"]["cent"], got["index"]["cb"]

    def at(version: int | None, label: int, enc_df=None):
        corpus = snap.read(spark, root, version)
        return _ivfpq_portable_plan(
            spark, corpus, cent_v=cent_v, cb_v=cb_v, enc_df=enc_df
        ).select(
            F.lit(label).cast("long").alias("version"),
            "query_id", "neighbor_id", "rank", "score",
        )

    return at(got["trained_at"], 0,
              enc_df=spark.read.parquet(got["side"]["enc"])).unionByName(
        at(None, 1)
    )


# --- oracle-exact IVF twin: pinned centroids close the last
# trained-state gap in the ANN family — PQ, IVFADC, LSH and plain IVF
# all replay in SQL. ---

def _ivf_dists() -> F.Column:
    """Per pinned IVF cell c, cc − 2·(u·c), with c·c folded at pin time
    (ivf_centroids.cell_sq). Per-cell 64-element literals keep the plan
    small: slicing one 512-element literal inside every term inlined the
    full array 24x (17 s at sf0.1 on plan size alone)."""
    return F.array(
        *[
            F.lit(cell_sq(c)) - 2.0 * vec_dot(F.col("u"), F.lit(cell(c)))
            for c in range(IVF_CELLS)
        ]
    )


def _ivf_portable_oracle() -> str:
    def cent(c: int) -> str:
        return "[" + ", ".join(repr(v) for v in cell(c)) + "]"

    # c·c folded at pin time (same left-fold order both engines apply —
    # ivf_centroids.cell_sq); per-cell distance = cc − 2·(u·c)
    dl = (
        "["
        + ", ".join(
            f"{cell_sq(c)!r} - 2.0 * list_dot_product(u, {cent(c)})"
            for c in range(IVF_CELLS)
        )
        + "]"
    )

    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    vn AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
    ),
    uu AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS u FROM vn),
    dlist AS (SELECT vec_id, u, {dl} AS dl FROM uu),
    assigned AS (
        SELECT vec_id, u, dl,
               list_position(dl, list_min(dl)) - 1 AS cell
        FROM dlist
    ),
    qprobe AS (
        SELECT vec_id AS query_id, u AS qu, cell AS cell1,
               list_transform(range(0, {IVF_CELLS}), c ->
                   CASE WHEN c = cell THEN 1e30 ELSE dl[c + 1] END) AS dl2
        FROM assigned WHERE vec_id < 5
    ),
    q AS (
        SELECT query_id, qu,
               unnest([cell1,
                       list_position(dl2, list_min(dl2)) - 1]) AS cell
        FROM qprobe
    ),
    scored AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
               list_dot_product(q.qu, a.u) AS score_raw
        FROM q JOIN assigned a
          ON a.cell = q.cell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(score_raw, 4) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_raw DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """


@register("sim_topk_ivf_portable", oracle=_ivf_portable_oracle())
def sim_topk_ivf_portable(spark, sf_dir):
    """The ORACLE-EXACT twin of sim_topk_ivf: the same assign → probe →
    in-cell exact-rank pipeline, with
    the centroids pinned as shared decimal literals
    (plans/ivf_centroids.py — the pq_codebook discipline) and every
    stage restated as fold arithmetic both engines execute identically:

    - cell assignment: per cell c, distance c·c − 2·(u·c) (u·u is
      row-constant, dropped); cell = FIRST index of the minimum via
      array_position(dl, array_min(dl)) — no float argmin ambiguity.
    - probing: nprobe=2 — the query's own cell plus the runner-up,
      found by masking the winner to 1e30 and re-running the same
      first-min idiom (identical CASE on both sides).
    - in-cell ranking: exact unit-cosine (left-fold dot), ties broken
      by neighbor_id.

    Approximate recall vs the exact scan is the OPERATOR's semantics
    (both engines agree on exactly which neighbors each probe set can
    see); nothing about the pipeline is nondeterministic once the
    centroids are pinned. Production stays sim_topk_ivf (per-corpus
    training, Arrow matmul assignment — the 10× measured win over
    expression-tree argmin, which this twin's interpreted folds
    re-confirm); the twin's assignment is row-local, the only exchanges
    are the spread and the tiny probed equi-join, and the
    thrice-consumed assignment is localCheckpoint-pinned so the fold
    work runs once (the graph_bfs precedent)."""
    # spread before the fold-heavy projection: the bench corpus is one
    # parquet row group, so without it 8 cells x 64-term interpreted
    # folds for every vector run on ONE core (13 s at sf0.1; ~0.6 s
    # spread across the session's parallelism). At production scale the
    # scan is already row-group-parallel and the exchange is redundant —
    # but it is a narrow shuffle of the compact input either way.
    un = _units(spread(load_table(spark, sf_dir, "embeddings")))
    # localCheckpoint (the graph_bfs precedent): the assignment subtree
    # feeds THREE consumers — the streamed corpus side, the probe
    # derivation, and the broadcast build — and Spark has no cross-branch
    # subplan reuse, so without pinning it the interpreted fold work ran
    # three times (~12 s at sf0.1; ~3 s pinned)
    assigned = un.withColumn("dl", _ivf_dists()).withColumn(
        "cell", _argmin(F.col("dl")).cast("int")
    ).transform(pin)

    qprobe = (
        assigned.filter(F.col("vec_id") < 5)
        .withColumn(
            "dl2",
            F.transform(
                F.sequence(F.lit(0), F.lit(IVF_CELLS - 1)),
                lambda c: F.when(c == F.col("cell"), F.lit(1e30)).otherwise(
                    F.element_at(F.col("dl"), (c + 1).cast("int"))
                ),
            ),
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("u").alias("qu"),
            F.explode(
                F.array(F.col("cell"), _argmin(F.col("dl2")).cast("int"))
            ).alias("cell"),
        )
    )

    # broadcast the ~10-row probe side: Catalyst's size estimate would
    # otherwise broadcast the CORPUS side, evaluating every interpreted
    # assignment fold single-threaded inside the broadcast build
    scored = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "u", "cell"
    ).join(F.broadcast(qprobe), on="cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        vec_dot(F.col("qu"), F.col("u")).alias("score_raw"),
    )
    return S._topk(scored, "score_raw", 5)


# --- hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
# and the dense cosine leg (r15). ---

_RRF_K = 60            # the standard RRF damping constant (Cormack 2009)
_RRF_DEPTH = 20        # per-leg candidate depth fed into the fusion
_RRF_QMAP = [("q_join", 1), ("q_pipeline", 2), ("q_scan", 3)]


def _rrf_oracle() -> str:
    from unfccc_documents_database_sandbox_spark.plans.textstats import (
        _BM25_QUERIES,
        _BM25_TERM_MILLI,
    )

    qvals = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    qmap = ", ".join(f"('{q}', {v})" for q, v in _RRF_QMAP)
    term = _BM25_TERM_MILLI.replace("DIV", "//")
    return f"""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
        WHERE t.term <> ''
    ),
    tf  AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, term),
    dl  AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM tok GROUP BY doc_id),
    dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS l_tokens FROM tok),
    nd  AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    q(qid, term) AS (VALUES {qvals}),
    lscore AS (
        SELECT q.qid, tf.doc_id,
               CAST(SUM({term}) AS BIGINT) AS score_milli
        FROM tf
        JOIN q   USING (term)
        JOIN dfx USING (term)
        JOIN dl  USING (doc_id), tot, nd
        GROUP BY q.qid, tf.doc_id
    ),
    lrank AS (
        SELECT qid, doc_id, rn AS rank_lex
        FROM (SELECT qid, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY score_milli DESC, doc_id)
                         AS rn
              FROM lscore)
        WHERE rn <= {_RRF_DEPTH}
    ),
    qmap(qid, qvid) AS (VALUES {qmap}),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    vn AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
    ),
    qv AS (
        SELECT qid, qvid, vec AS qvec, nrm AS qnrm
        FROM qmap JOIN vn ON vn.vec_id = qmap.qvid
    ),
    dscore AS (
        SELECT qv.qid, vn.vec_id AS doc_id,
               list_dot_product(qv.qvec, vn.vec) / (qv.qnrm * vn.nrm) AS cos
        FROM qv JOIN vn ON vn.vec_id <> qv.qvid
    ),
    drank AS (
        SELECT qid, doc_id, rn AS rank_dense
        FROM (SELECT qid, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, doc_id) AS rn
              FROM dscore)
        WHERE rn <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(l.qid, d.qid) AS qid,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               COALESCE(l.rank_lex, 0) AS rank_lex,
               COALESCE(d.rank_dense, 0) AS rank_dense,
               COALESCE(1000000 // ({_RRF_K} + l.rank_lex), 0)
             + COALESCE(1000000 // ({_RRF_K} + d.rank_dense), 0) AS rrf_micro
        FROM lrank l FULL OUTER JOIN drank d
          ON l.qid = d.qid AND l.doc_id = d.doc_id
    )
    SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id,
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(rank_lex AS BIGINT) AS rank_lex,
           CAST(rank_dense AS BIGINT) AS rank_dense
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY rrf_micro DESC, doc_id) AS rn
          FROM fused)
    WHERE rn <= 10
    """


@register("search_hybrid_rrf", oracle=_rrf_oracle())
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    SIGIR 2009 — the fusion BM25+dense RAG stacks run in production):
    the lexical leg is text_bm25's integer-exact scorer at depth 20
    (the shared bm25_ranked helper), the dense leg is the exact cosine
    brute_force_topk at depth 20 with pinned query vectors (qid →
    vec_id via _RRF_QMAP — the stand-in for an encoder embedding the
    query text), and the fusion is rank-only: rrf = Σ 1e6 DIV (60 +
    rank) over the legs that returned the doc. Rank-only fusion is the
    point of RRF — no score normalization across incomparable scales
    (integer BM25 milli vs unit cosine), and integer division on the
    positive domain keeps the fused score hash-exact across engines.

    Scale shape: each leg is its own proven plan (BM25: broadcast
    query/df dims, one doc-keyed shuffle; dense: broadcast 3-row query
    set, zero corpus shuffle); the fusion joins two k×|queries|-row
    rank lists — Spark's FULL OUTER has no broadcast-hash path, so this
    is a sort-merge join, but over inputs bounded by leg depth (20) ×
    query count, never corpus size, at any SF. FULL OUTER because a doc on
    one leg only still fuses (rank 0 = absent, contributing nothing) —
    an inner join would silently demand consensus, which RRF explicitly
    does not."""
    from unfccc_documents_database_sandbox_spark.plans.textstats import (
        bm25_ranked,
    )

    lex = bm25_ranked(spark, sf_dir, _RRF_DEPTH).select(
        "qid", "doc_id", F.col("rnk").alias("rank_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qvids = [v for _, v in _RRF_QMAP]
    dense_raw = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id").isin(qvids)), k=_RRF_DEPTH
    )
    qmap = spark.createDataFrame(_RRF_QMAP, "qid string, qvid bigint")
    dense = dense_raw.join(
        F.broadcast(qmap), dense_raw["query_id"] == qmap["qvid"]
    ).select(
        "qid",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rank_dense"),
    )
    # r18 (guide §2.4/§3): the FULL OUTER join of the two rank lists is a
    # sort-merge join (Spark has no broadcast path for full outer) — two
    # exchanges plus two sorts just to zero-fill absent legs. The same
    # fusion is one map-side-combinable grouped aggregation over the
    # UNION of per-leg contribution rows: each (qid, doc_id) is unique
    # within a leg, so SUM of the leg contributions ≡ coalesce(lex,0)+
    # coalesce(dense,0) and MAX of the 0-filled ranks ≡ coalesce(rank,0)
    # — bit-identical output, one exchange, no sorts. Absent-on-leg stays
    # data, not missingness (rank 0 = absent, contributing nothing).
    zero = F.lit(0).cast("long")
    contrib = lex.select(
        "qid",
        "doc_id",
        F.expr(f"1000000 DIV ({_RRF_K} + rank_lex)").alias("c"),
        F.col("rank_lex").alias("rl"),
        zero.alias("rd"),
    ).unionByName(
        dense.select(
            "qid",
            "doc_id",
            F.expr(f"1000000 DIV ({_RRF_K} + rank_dense)").alias("c"),
            zero.alias("rl"),
            F.col("rank_dense").alias("rd"),
        )
    )
    fused = contrib.groupBy("qid", "doc_id").agg(
        F.sum("c").cast("long").alias("rrf_micro"),
        F.max("rl").alias("rank_lex"),
        F.max("rd").alias("rank_dense"),
    )
    w = W.partitionBy("qid").orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("qid", "rank", "doc_id", "rrf_micro", "rank_lex", "rank_dense")
    )


# --- SemDeDup: semantic dedup via learned-cluster blocking. ---

_SEMDEDUP_TAU = 0.9


def ivf_assign_units(emb):
    """Unit-normalize ``(vec_id, embedding)`` rows and assign each to its
    nearest pinned IVF centroid (first-min argmin over c·c − 2·(u·c) —
    the sim_topk_ivf_portable idiom). Returns (vec_id, u, cell),
    localCheckpoint-pinned: every consumer feeds the assignment into at
    least two plan branches (pair-join sides, final projection) and
    Spark has no cross-branch subplan reuse."""
    # NEGATIVE result: spread(emb) before the argmin was A/B-measured
    # SLOWER for both consumers (dedup_semantic 1.87 s -> 3.31 s,
    # corpus_curation_v2 4.53 s -> 14.4 s median of 7) — the 8-cell
    # argmin is cheap per row and the wider checkpoint partitioning
    # taxed every downstream cell join. Left unspread on evidence.
    return (
        _units(emb)
        .withColumn("dl", _ivf_dists())
        .select("vec_id", "u", _argmin(F.col("dl")).cast("int").alias("cell"))
        .transform(pin)
    )


def _semdedup_oracle() -> str:
    def cent(c: int) -> str:
        return "[" + ", ".join(repr(v) for v in cell(c)) + "]"

    dl = (
        "["
        + ", ".join(
            f"{cell_sq(c)!r} - 2.0 * list_dot_product(u, {cent(c)})"
            for c in range(IVF_CELLS)
        )
        + "]"
    )
    return f"""
    WITH vp AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT))
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM vp
    ),
    vn AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
    ),
    uu AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS u FROM vn),
    dlist AS (SELECT vec_id, u, {dl} AS dl FROM uu),
    assigned AS (
        SELECT vec_id, u, list_position(dl, list_min(dl)) - 1 AS cell
        FROM dlist
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.u, b.u) >= {_SEMDEDUP_TAU}
    )
    SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell,
           CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS is_dup
    FROM assigned s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    """


@register("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) — semantic dedup with LEARNED-cluster
    blocking: k-means cells bound the quadratic pair work, then
    unit-cosine >= 0.9 within a cell marks duplicates, keeping the
    minimum vec_id per near-dup pair (a deterministic representative
    rule; the paper keeps the vector farthest from the centroid — same
    asymptotics, and min-id makes the decision reproducible without a
    second float comparison). This is dedup_embedding with the label
    blocks replaced by the centroid assignment — the actual SemDeDup
    contribution, since at 100 TB no trusted block column exists and the
    clustering IS what makes within-block O(c^2) tractable.

    Centroids are the pinned IVF set (plans/ivf_centroids.py), so the
    whole pipeline — normalize, first-min cell assignment, in-cell
    cosine, the keep decision — replays exactly in SQL. The planted
    colinear twins (the sim_near_dup_pairs derivation) normalize to
    IDENTICAL unit vectors: same cell by construction, cosine exactly
    1, so exactly the planted twins drop and every honest pair (< 0.5
    cosine) survives — a threshold, normalization, or blocking bug
    flips planted rows or drops honest ones loudly.

    Scale shape: assignment is row-local fold arithmetic (spread +
    localCheckpoint — the sim_topk_ivf_portable tuning); the pair join
    shuffles once on cell; pair volume is sum of per-cell c^2, governed
    by cluster granularity (the paper's 50k clusters at LAION scale),
    never corpus^2. The drop set stays distributed (semi-join back)."""
    emb = spread(_plant_near_dups(load_table(spark, sf_dir, "embeddings")))
    assigned = ivf_assign_units(emb)
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("u").alias("ua"), "cell"
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("u").alias("ub"), "cell"
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(vec_dot(F.col("ua"), F.col("ub")) >= F.lit(_SEMDEDUP_TAU))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("is_dup", F.lit(1).cast("long")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.coalesce("is_dup", F.lit(0).cast("long")).alias("is_dup"),
        )
    )


# --- MMR diversity re-rank (r15 third wave): the greedy
# maximal-marginal-relevance pass RAG stacks run after retrieval. ---

_MMR_POOL = 8      # retrieval depth feeding the re-rank
_MMR_K = 5         # picks emitted per query
_MMR_QIDS = (1, 2, 3)


def _mmr_oracle() -> str:
    qlist = ", ".join(str(q) for q in _MMR_QIDS)
    # one selection CTE per pick: cand_i = pool minus picks, scored
    # 0.5*rel - 0.5*max(sim to any pick); first-row argmax via
    # ROW_NUMBER with doc_id tie-break. sel1 is pure relevance.
    steps = ["""
    sel1 AS (
        SELECT query_id, doc_id, 1 AS pick, rel AS score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rel DESC, doc_id) AS rn
              FROM pool)
        WHERE rn = 1
    ),
    picked1 AS (SELECT query_id, doc_id, pick, score FROM sel1)"""]
    for i in range(2, _MMR_K + 1):
        steps.append(f"""
    cand{i} AS (
        SELECT p.query_id, p.doc_id, p.rel,
               MAX(pr.sim) AS maxsim
        FROM pool p
        JOIN picked{i-1} s
          ON s.query_id = p.query_id
        JOIN pairs pr
          ON pr.query_id = p.query_id
         AND pr.id_a = p.doc_id AND pr.id_b = s.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM picked{i-1} x
                          WHERE x.query_id = p.query_id
                            AND x.doc_id = p.doc_id)
        GROUP BY p.query_id, p.doc_id, p.rel
    ),
    sel{i} AS (
        SELECT query_id, doc_id, {i} AS pick,
               0.5 * rel - 0.5 * maxsim AS score
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY 0.5 * rel - 0.5 * maxsim DESC, doc_id) AS rn
              FROM cand{i})
        WHERE rn = 1
    ),
    picked{i} AS (
        SELECT * FROM picked{i-1}
        UNION ALL SELECT query_id, doc_id, pick, score FROM sel{i}
    )""")
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    vn AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm
          FROM vn WHERE vec_id IN ({qlist})),
    pool AS (
        SELECT query_id, doc_id, rel, vec, nrm
        FROM (SELECT q.query_id, c.vec_id AS doc_id,
                     ROUND(list_dot_product(q.qvec, c.vec)
                           / (q.qnrm * c.nrm), 4) AS rel,
                     c.vec, c.nrm,
                     ROW_NUMBER() OVER (
                         PARTITION BY q.query_id
                         ORDER BY list_dot_product(q.qvec, c.vec)
                                  / (q.qnrm * c.nrm) DESC, c.vec_id) AS rn
              FROM q JOIN vn c ON c.vec_id <> q.query_id)
        WHERE rn <= {_MMR_POOL}
    ),
    pairs AS (
        SELECT a.query_id, a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 4)
                   AS sim
        FROM pool a JOIN pool b
          ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
    ),
    {",".join(steps)}
    SELECT query_id, CAST(pick AS BIGINT) AS pick, doc_id,
           ROUND(score, 5) AS score
    FROM picked{_MMR_K}
    """


@register("search_mmr_rerank", oracle=_mmr_oracle())
def search_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
    1998) — the diversity pass between retrieval and a RAG prompt:
    greedily pick k=5 of an 8-candidate pool per query, each pick
    maximizing 0.5*relevance − 0.5*max-similarity-to-already-picked
    (lambda = 0.5, a power of two so the scaling is float-exact). The
    greedy loop is UNROLLED into five selection stages — plan-time
    iteration over driver-side loop variables, never a driver collect —
    and every number both engines compare is either a shared-fold
    cosine rounded to 4 places (the sim_topk discipline) or an exact
    *0.5 of one, so the argmax (ties broken by doc_id) is
    hash-deterministic.

    Scale shape: the expensive stage is pool construction — the proven
    broadcast-query exact scan (or any ANN key in the family; the
    re-rank is agnostic). Everything after operates on pool×pool pairs
    per query (8×7 rows here, depth² always) — candidate-depth-bounded,
    independent of corpus size, and embarrassingly parallel across
    queries at any SF. Five exchanges of ≤ q·depth rows is the honest
    cost of sequential greedy picks; a single-pass approximation
    (cluster-spread picks) trades quality, which is MMR's whole point.

    Plan-pin honesty: each selection round localCheckpoints `picked`
    (it feeds TWO joins per later round — unpinned, the greedy prefix
    would re-derive ~2^k times), so the PLANS.md pin shows only the
    final checkpoint scan; the real staged work is the five windowed
    selections materialized during the build, each over ≤ q·depth
    rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r17 NEGATIVE result (guide §1 measure-first): spreading emb before
    # the pool scan (the brute_force_topk fix) was A/B-measured SLOWER
    # here (median of 7: 2.75 s -> 3.52 s) — the pool build is one
    # eager-checkpointed job whose per-row work is small, so the extra
    # exchange + wider checkpoint partitioning cost more than the 4-way
    # scan limit. Left unspread on evidence.
    un = S.with_norm(S.as_double_vec(emb)).select(
        "vec_id", "vec", F.col("norm").alias("nrm")
    )
    q = un.filter(F.col("vec_id").isin(list(_MMR_QIDS))).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    raw = un.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).withColumn(
        "cos",
        vec_dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm")),
    )
    wpool = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    # the pool feeds pairs (twice) and every selection round — pin it
    pool = (
        raw.withColumn("rn", F.row_number().over(wpool))
        .filter(F.col("rn") <= _MMR_POOL)
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round("cos", 4).alias("rel"),
            "vec",
            "nrm",
        )
        .transform(pin)
    )
    a = pool.select("query_id", F.col("doc_id").alias("id_a"),
                    F.col("vec").alias("va"), F.col("nrm").alias("na"))
    b = pool.select("query_id", F.col("doc_id").alias("id_b"),
                    F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "id_b",
            F.round(
                vec_dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("sim"),
        )
        .transform(pin)
    )
    slim = pool.select("query_id", "doc_id", "rel")

    wsel = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    picked = (
        slim.withColumn("score", F.col("rel"))
        .withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == 1)
        .select("query_id", "doc_id", F.lit(1).cast("long").alias("pick"),
                "score")
    )
    for i in range(2, _MMR_K + 1):
        cand = (
            slim.join(picked.select("query_id", "doc_id"),
                      ["query_id", "doc_id"], "left_anti")
            .join(
                pairs.withColumnRenamed("id_a", "doc_id"),
                ["query_id", "doc_id"],
            )
            .join(
                picked.select(
                    "query_id", F.col("doc_id").alias("id_b")
                ),
                ["query_id", "id_b"],
            )
            .groupBy("query_id", "doc_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
        )
        sel = (
            cand.withColumn(
                "score", 0.5 * F.col("rel") - 0.5 * F.col("maxsim")
            )
            .withColumn("rn", F.row_number().over(wsel))
            .filter(F.col("rn") == 1)
            .select("query_id", "doc_id",
                    F.lit(i).cast("long").alias("pick"), "score")
        )
        picked = picked.unionByName(sel).transform(pin)
    # r17 correctness fix: the displayed score is 0.5*(rel − maxsim)
    # where rel/maxsim carry 4 decimals, so the exact value has FIVE
    # decimal digits — rounding it at 4 lands exactly on a half-boundary
    # whenever rel−maxsim's 4th decimal is odd, and Spark's and DuckDB's
    # rounding then resolve by the double's binary-error direction
    # (observed divergence: sf0.001 q1/pick5 0.0370 vs 0.0369, latent
    # since r15). Rounding at 5, where the value is decimal-exact, no
    # engine ever faces a boundary; oracle changed identically. The
    # greedy SELECTION was never affected (it compares the unrounded
    # doubles, identical on both engines).
    return picked.select(
        "query_id", "pick", "doc_id", F.round("score", 5).alias("score")
    )

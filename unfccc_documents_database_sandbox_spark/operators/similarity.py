"""Similarity search over embedding columns (north star L3).

Five top-k operators, each returning (query_id, neighbor_id, rank, score):
- ``brute_force_topk``: exact cosine. Queries are broadcast (they're few);
  the corpus streams through map-side with no corpus shuffle, and the dot
  products are JVM zip_with/aggregate folds (no Python).
- ``lsh_bucket_topk``: random-hyperplane LSH. Each vector gets a sign-bit
  bucket id from fixed integer hyperplanes; only same-bucket pairs are
  compared (one equi-join shuffle on bucket).
- ``ivf_topk``: inverted file. A k-means coarse quantizer assigns every
  vector to a cell; a query probes its ``nprobe`` nearest cells (an
  equi-join on cell). nprobe = n_cells gives the exact answer.
- ``pq_topk``: product quantization with asymmetric distance (ADC). The
  corpus is encoded to m codes; each query scores by summing m lookups
  into its own m×k table.
- ``ivfpq_topk``: IVF cell pruning composed with PQ codes of the residual,
  then an exact re-rank of the ADC shortlist.

They share one kernel per building block:
- ``_unit_sample``: the training sample;
- ``_lloyd``: the k-means fit, and ``_pq_fit`` one Lloyd fit per subspace;
- ``_nearest``: cell assignment, the argmin of ``_sqdist``;
- ``_pq_encode``, ``_adc_table`` and ``_adc_fold``: PQ encode and ADC;
- ``_side``: the double-vector query or corpus side of a cosine join;
- ``_topk``: the per-query rank tail.

Invariants:
- the training sample is the ``max_train`` LOWEST ids (a top-k heap, no
  full sort), so a fixed seed gives the same centroids on any partition
  layout; the rng draws once per fit, subspaces in order;
- ``_unit`` leaves zero vectors zero instead of dividing by 0, and zero
  vectors are dropped from training samples (they carry no direction);
- ties in every ranking go to the lowest ``neighbor_id``; a numpy argmin
  takes the first minimum, and so does the Column-side argmin of the
  oracle-exact twins in ``plans/similarity.py``
  (``array_position(dl, array_min(dl)) - 1``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unfccc_documents_database_sandbox_spark.functions.vectors import dot, to_double


def as_double_vec(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Cast array<float> → array<double> once, up front — keeps all later
    arithmetic in double and identical across engines."""
    return df.withColumn("vec", to_double(F.col(col)))


def with_norm(df: DataFrame, vec_col: str = "vec") -> DataFrame:
    return df.withColumn("norm", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))


def _side(df: DataFrame, id_col: str, id_name: str, p: str, *extra) -> DataFrame:
    """(id_name, {p}vec, {p}norm, *extra): one side of a cosine join; ``p``
    is "q" for queries and "c" for the corpus. ``extra`` columns may read
    the side's "vec"."""
    return with_norm(as_double_vec(df)).select(
        F.col(id_col).alias(id_name),
        F.col("vec").alias(f"{p}vec"),
        F.col("norm").alias(f"{p}norm"),
        *extra,
    )


def _cos() -> F.Column:
    return dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))


def _rank(score: str) -> F.Column:
    """Per-query row_number by ``score`` descending, ties to the lowest
    neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id"))
    return F.row_number().over(w)


def _topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    return (
        scored.withColumn("rank", _rank(score).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round(score, 4).alias("score"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus; rank per query. Returns (query_id, neighbor_id, rank, score)."""
    # the corpus side feeds a BroadcastNestedLoopJoin (non-equi !=
    # condition) and inherits the parquet scan's few row-group splits —
    # spread() it so the per-pair dot products use the whole core count
    # (adaptive no-op when already wide).
    from unfccc_documents_database_sandbox_spark.catalog import spread

    c = _side(spread(corpus), id_col, "neighbor_id", "c")
    q = _side(queries, id_col, "query_id", "q")
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    return _topk(scored.withColumn("cos", _cos()), "cos", k)


# deterministic integer hyperplanes for sign-bit LSH (values in [-8, 8])
def _hyperplane(j: int, dim: int) -> list[float]:
    return [float(((j * 131 + d * 31 + (j * d) % 7) % 17) - 8) for d in range(dim)]


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH buckets, then exact
    rank within each (query, bucket). One equi-join shuffle on bucket id —
    the 100 TB path where broadcast-everything is impossible."""
    planes = [F.array(*[F.lit(v) for v in _hyperplane(j, dim)]) for j in range(n_planes)]

    def bucket() -> F.Column:
        out = F.lit(0)
        for j in range(n_planes):
            out = out + F.when(dot(F.col("vec"), planes[j]) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        return out.cast("long").alias("bucket")

    c = _side(corpus, id_col, "neighbor_id", "c", bucket())
    q = _side(queries, id_col, "query_id", "q", bucket())
    scored = c.join(q, "bucket").filter(F.col("neighbor_id") != F.col("query_id"))
    return _topk(scored.withColumn("cos", _cos()), "cos", k)


def _unit(x) -> np.ndarray:
    """Row-wise L2 normalize; zero vectors stay zero instead of NaN-ing
    the batch."""
    x = np.array(x, dtype="float64")
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def _sqdist(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Squared L2 from each row of x to each centroid, up to the row
    constant |x|²: |c|² − 2·x·cᵀ."""
    return (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)


def _nearest(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid (first minimum on ties)."""
    return _sqdist(x, cents).argmin(axis=1)


def _unit_sample(corpus: DataFrame, max_train: int, id_col: str) -> np.ndarray:
    """The ``max_train`` lowest-id embeddings, L2-normalized, zero vectors
    dropped. One job: a TakeOrdered heap, no full sort. A bare limit() on
    an unordered DataFrame picks whatever partitions answer first, so the
    fit would vary across runs and partition layouts."""
    sample = (
        corpus.select(F.col(id_col).alias("i"), F.col("embedding").alias("e"))
        .orderBy("i")
        .limit(max_train)
    )
    x = np.array([r.e for r in sample.collect()], dtype="float64")
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x[norms[:, 0] > 0]
    x /= norms[norms[:, 0] > 0].reshape(-1, 1)
    return x


def _lloyd(x: np.ndarray, k: int, rng: np.random.RandomState, iters: int) -> np.ndarray:
    """Lloyd's k-means seeded by ``k`` distinct rng-chosen rows; a cell
    that loses all members keeps its centroid."""
    cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        assign = _nearest(x, cents)
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def _pq_fit(x: np.ndarray, m: int, k: int, seed: int, iters: int) -> list[list[list[float]]]:
    """One Lloyd fit per D/m-dim subspace, subspaces in order on one rng:
    m × k × (D/m) nested lists."""
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} must divide evenly into {m} subspaces")
    sub = d // m
    rng = np.random.RandomState(seed)
    return [_lloyd(x[:, j * sub : (j + 1) * sub], k, rng, iters).tolist() for j in range(m)]


def _pq_encode(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per subspace j, the index of the nearest codebook centroid."""
    n_sub, _, sub = books.shape
    codes = np.empty((len(x), n_sub), dtype="int32")
    for j in range(n_sub):
        codes[:, j] = _nearest(x[:, j * sub : (j + 1) * sub], books[j])
    return codes


def _adc_table(u: np.ndarray, books: np.ndarray) -> list[float]:
    """A query's flat ADC table: t[j*k + c] = u_j · books[j][c]."""
    sub = books.shape[2]
    return [
        float(v)
        for v in np.concatenate([u[j * sub : (j + 1) * sub] @ books[j].T for j in range(len(books))])
    ]


def _adc_fold(n_sub: int, n_cent: int) -> F.Column:
    """Σ_j adc[j*k + codes_j] as a row-local JVM left fold."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at("adc", (j * n_cent + F.element_at("codes", j + 1) + 1).cast("int")),
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    max_train: int = 100_000,
    iters: int = 10,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Fit the IVF coarse quantizer: Lloyd's k-means on the bounded
    ``_unit_sample``, driver-side in numpy.

    A coarse quantizer needs only a sketch of the distribution, so the
    standard practice (FAISS does the same) is to train on a sample that
    fits one machine: ≤ max_train vectors (≈50 MB at 100k×64), iterated in
    vectorized numpy with no per-iteration cluster jobs. Index build cost
    is O(max_train·n_cells·iters) regardless of corpus size. Normalized
    vectors make euclidean cells align with cosine ranking."""
    x = _unit_sample(corpus, max_train, id_col)
    return _lloyd(x, n_cells, np.random.RandomState(seed), iters).tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: assign corpus vectors to their nearest
    centroid cell, explode each query to its ``nprobe`` nearest cells, then
    equi-join on cell id and rank exactly within the probed slice.

    Scale shape: the only shuffle is the equi-join on cell id; per-query
    compute is nprobe/n_cells of the corpus instead of all of it. Cell
    assignment is a vectorized pandas UDF — one (batch × dim)·(dim × cells)
    matmul per Arrow batch. (Spark's higher-order array functions are
    interpreted, not codegen'd: an expression-tree argmin over 16 centroids
    measured ~10× slower than the matmul UDF.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells=n_cells)
    cents = np.array(centroids, dtype="float64")
    n_probe = min(nprobe, len(centroids))

    @pandas_udf("int")
    def cell_of(vecs):
        return pd.Series(_nearest(_unit(vecs.tolist()), cents).astype("int32"))

    @pandas_udf("array<int>")
    def probe_cells(vecs):
        d = _sqdist(_unit(vecs.tolist()), cents)
        return pd.Series(list(np.argsort(d, axis=1)[:, :n_probe].astype("int32")))

    c = _side(corpus, id_col, "neighbor_id", "c", cell_of(F.col("vec")).alias("cell"))
    q = _side(queries, id_col, "query_id", "q", F.explode(probe_cells(F.col("vec"))).alias("cell"))
    scored = c.join(q, "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    return _topk(scored.withColumn("cos", _cos()), "cos", k)


# ADC-style query sets are collected driver-side (each query precomputes a
# lookup table, so queries must be few by construction). Bound the collect so
# an oversized query DataFrame fails loudly instead of OOMing the driver —
# the same explicit-bound contract as the trainers' max_train.
_MAX_ADC_QUERIES = 10_000


def _bounded_query_rows(queries: DataFrame, id_col: str) -> list:
    """Collect the query set for driver-side ADC table construction, capped
    at _MAX_ADC_QUERIES (limit+1 probe — no extra count() job): past that
    size the broadcast-table design is wrong and the caller should batch or
    use the corpus-side variants instead."""
    rows = queries.select(id_col, "embedding").limit(_MAX_ADC_QUERIES + 1).collect()
    if len(rows) > _MAX_ADC_QUERIES:
        raise ValueError(
            f"ADC query set exceeds {_MAX_ADC_QUERIES} rows; per-query lookup "
            "tables are a broadcast-side structure — batch the queries or use "
            "lsh_bucket_topk/ivf_topk for corpus-vs-corpus workloads"
        )
    return rows


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_train: int = 100_000,
    iters: int = 10,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Fit product-quantization codebooks: split the D-dim space into ``m``
    subspaces of D/m dims and run Lloyd's k-means (``k`` centroids) in each,
    driver-side in numpy on the same bounded ``_unit_sample`` as
    train_ivf_centroids. Unit vectors make ADC dot products rank like
    cosine. Returns m × k × (D/m) nested lists."""
    return _pq_fit(_unit_sample(corpus, max_train, id_col), m, k, seed, iters)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization approximate cosine top-k via asymmetric
    distance computation (ADC — Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011).

    Corpus vectors are ENCODED once to m uint8 codes (m bytes instead of
    D×4 — 32× smaller at D=64/m=8/float32): per subspace, the index of the
    nearest codebook centroid, computed as one matmul per Arrow batch in a
    vectorized pandas UDF. Queries stay EXACT: each query precomputes a
    flat m×k table of its subvector·centroid dot products (numpy,
    driver-side — queries are few), and the approximate score of a corpus
    vector is the sum of m table lookups by its codes — a row-local
    F.aggregate over the code array after the broadcast query join; no
    Python in the corpus-scan hot path, no shuffle except the final
    per-query top-k rank.

    At 100 TB this is the memory story the other ANN variants lack: the
    scan ships bytes, not vectors (the exact re-rank slice, if wanted,
    re-reads only the top candidates). Approximate by construction →
    rows-only key; recall-vs-exact and reconstruction-error bounds are
    property-tested in tests/test_functions.py."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, m=m, k=k, id_col=id_col)
    books = np.array(codebooks, dtype="float64")  # m × k × sub
    n_sub, n_cent, _ = books.shape

    @pandas_udf("array<int>")
    def encode(vecs):
        return pd.Series(list(_pq_encode(_unit(vecs.tolist()), books)))

    q_rows = _bounded_query_rows(queries, id_col)
    qx = _unit([r.embedding for r in q_rows])
    tables = [(r[0], _adc_table(u, books)) for r, u in zip(q_rows, qx)]
    q = F.broadcast(
        corpus.sparkSession.createDataFrame(tables, "query_id long, adc array<double>")
    )

    enc = corpus.select(F.col(id_col).alias("neighbor_id"), encode("embedding").alias("codes"))
    scored = enc.join(q, F.col("neighbor_id") != F.col("query_id"))
    return _topk(scored.withColumn("score_raw", _adc_fold(n_sub, n_cent)), "score_raw", topk)


def train_ivfpq_index(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_train: int = 100_000,
    iters: int = 10,
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Fit the composed IVF+PQ index (Jégou et al., TPAMI 2011 §V: IVFADC):
    the IVF coarse quantizer first, then PQ codebooks trained on the
    RESIDUALS (unit vector − assigned centroid) — residuals are what the
    codes must reconstruct once the coarse cell has absorbed the vector's
    rough position, and quantizing them is what lets an m-byte code stay
    accurate at 100 TB corpus scale. Both fits read one ``_unit_sample``
    (one job) and each seeds its own rng with ``seed``, so the centroids
    equal train_ivf_centroids' and the codebooks equal train_pq_codebooks'
    on the residuals. Returns (centroids n_cells × D, codebooks m × k × D/m)."""
    x = _unit_sample(corpus, max_train, id_col)
    cents = _lloyd(x, n_cells, np.random.RandomState(seed), iters)
    resid = x - cents[_nearest(x, cents)]
    return cents.tolist(), _pq_fit(resid, m, k, seed, iters)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k: int = 16,
    refine: int = 4,
    index: tuple[list[list[float]], list[list[list[float]]]] | None = None,
) -> DataFrame:
    """Composed IVF+PQ approximate cosine top-k — the production 100 TB ANN
    shape (FAISS IndexIVFPQ): IVF cell pruning decides WHICH vectors a
    query even looks at, PQ/ADC decides how cheaply each candidate is
    scored. Neither half alone survives 100 TB: plain IVF still ships
    full float vectors through the probe join; plain PQ still scans every
    code. Composed, the scan ships (cell int + m bytes) per vector and each
    query touches ~nprobe/n_cells of them.

    Pipeline:
    - ENCODE (one Arrow-batched pandas UDF pass over the corpus): unit-
      normalize, assign the nearest IVF centroid, PQ-encode the RESIDUAL
      (u − centroid) — one matmul per subspace per batch, no per-row Python.
    - QUERY (driver-side, bounded by _MAX_ADC_QUERIES): for each query and
      each of its nprobe nearest cells, one row (query_id, cell, bias, adc)
      where bias = u_q · centroid_cell (the coarse term of the decomposed
      inner product u_q · (centroid + residual_recon)) and adc[j*k + c] =
      u_q_sub_j · codebook[j][c] (the residual term's lookup table — cell-
      independent under inner product, shipped per probe row for a
      single-equi-join plan).
    - SCORE: equi-join on cell (the ONLY corpus shuffle — and on a real
      cluster a cell-partitioned layout makes it a pruned scan instead),
      score = bias + Σ_j adc[j*k + codes_j] as a row-local JVM fold, then
      an ADC shortlist of refine×topk per query.
    - REFINE (FAISS IndexRefineFlat; refine=0 skips it): re-score only the
      shortlist with exact cosine by joining the refine×topk×|Q| survivor
      ids back to the full vectors — the standard fix for PQ quantization
      loss that re-reads O(|Q|·refine·topk) vectors, not the corpus. The
      returned score is then the exact cosine of the survivors, so recall
      matches plain IVF whenever the true neighbors survive the shortlist.

    Approximate by construction → rows-only key; the ADC decomposition
    exactness, cell-pruning containment, and recall-vs-IVF floor are
    property-tested in tests/test_functions.py."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if index is None:
        index = train_ivfpq_index(corpus, n_cells=n_cells, m=m, k=k, id_col=id_col)
    centroids, codebooks = index
    cents = np.array(centroids, dtype="float64")
    books = np.array(codebooks, dtype="float64")  # m × k × sub
    n_sub, n_cent, _ = books.shape
    n_probe = min(nprobe, len(centroids))

    @pandas_udf("struct<cell: int, codes: array<int>>")
    def encode(vecs):
        x = _unit(vecs.tolist())
        cell = _nearest(x, cents)
        codes = _pq_encode(x - cents[cell], books)
        return pd.DataFrame({"cell": cell.astype("int32"), "codes": list(codes)})

    # query side: nprobe rows per query — (query_id, cell, bias, adc)
    q_rows = _bounded_query_rows(queries, id_col)
    qx = _unit([r.embedding for r in q_rows])
    probe = np.argsort(_sqdist(qx, cents), axis=1)[:, :n_probe]
    probe_rows = []
    for r, u, cells in zip(q_rows, qx, probe):
        adc = _adc_table(u, books)
        probe_rows += [(r[0], int(c), float(u @ cents[c]), adc) for c in cells]
    q = F.broadcast(
        corpus.sparkSession.createDataFrame(
            probe_rows, "query_id long, cell int, bias double, adc array<double>"
        )
    )

    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"), encode("embedding").alias("e")
    ).select("neighbor_id", F.col("e.cell").alias("cell"), F.col("e.codes").alias("codes"))
    scored = (
        enc.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score_raw", F.col("bias") + _adc_fold(n_sub, n_cent))
    )
    if not refine:
        return _topk(scored, "score_raw", topk)

    shortlist = (
        scored.withColumn("adc_rank", _rank("score_raw"))
        .filter(F.col("adc_rank") <= refine * topk)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: full vectors only for the shortlist survivors
    c = _side(corpus, id_col, "neighbor_id", "c")
    q = F.broadcast(_side(queries, id_col, "query_id", "q"))
    refined = shortlist.join(c, "neighbor_id").join(q, "query_id")
    return _topk(refined.withColumn("cos", _cos()), "cos", topk)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    block_col: str = "label",
    threshold: float = 0.9,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by ``block_col`` (an
    LSH-bucket stand-in): equi-join on the block, compare within."""
    v = with_norm(as_double_vec(corpus)).select(
        id_col, block_col, F.col("vec"), F.col("norm")
    )
    # the probe side of the broadcast self-join inherits the parquet
    # scan's split count (a handful of row groups), so the CPU-bound
    # within-block dot products ran ~4-wide on 32 cores — AQE can't help
    # because the stage is tiny in BYTES. spread() the probe side only
    # (the build side broadcasts either way); row-local compute +
    # equi-join, so the pair set is unchanged.
    from unfccc_documents_database_sandbox_spark.catalog import spread

    a, b = spread(v).alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn(
            "cos",
            dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.norm") * F.col("b.norm")),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round("cos", 4).alias("score"),
        )
    )

"""Unit tests for the functions/ expression helpers (vectors, text)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from unfccc_documents_database_sandbox_spark.functions.text import (
    rolling_hash,
    shingles,
    stopword_ratio,
)
from unfccc_documents_database_sandbox_spark.functions.vectors import (
    cosine,
    dot,
    l2_distance,
    normalize,
)


def test_vector_algebra(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 0.0, 1.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
        l2_distance(F.col("a"), F.col("b")).alias("l2"),
        normalize(F.col("a")).alias("na"),
    ).collect()[0]
    assert r["d"] == 4.0
    assert math.isclose(r["c"], 4.0 / (3.0 * math.sqrt(5.0)))
    assert math.isclose(r["l2"], math.sqrt(1 + 4 + 1))
    assert math.isclose(sum(x * x for x in r["na"]), 1.0)


def test_shingles_order_and_edges(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    rows = df.select(shingles("text", 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == []  # shorter than the shingle width


def test_rolling_hash_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [("a b c",), ("c b a",), ("a b c",)], "text string"
    )
    h = [r[0] for r in df.select(rolling_hash("text")).collect()]
    assert h[0] == h[2]          # deterministic
    assert h[0] != h[1]          # permutation changes the hash
    assert all(0 <= x < (1 << 31) for x in h)


def test_stopword_ratio(spark):
    df = spark.createDataFrame([("the cat in the hat",)], "text string")
    r = df.select(stopword_ratio("text").alias("r")).collect()[0]["r"]
    assert math.isclose(r, 3 / 5)  # the, in, the


def test_numbering_ordinal_styles(spark):
    from unfccc_documents_database_sandbox_spark.functions.text import numbering_ordinal

    cases = [
        ("1.", 1), ("12)", 12), ("(3)", 3),
        ("(a)", 1), ("b.", 2), ("(z)", 26),
        ("iv.", 4), ("(ix)", 9), ("xiv)", 14), ("mcmxciv.", 1994),
        ("i.", 1),          # roman beats letter for ambiguous chars
        ("??", None), ("", None), ("1a.", None),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "label string")
    got = {r.label: r.ordinal for r in df.select("label", numbering_ordinal("label").alias("ordinal")).collect()}
    for label, expect in cases:
        assert got[label] == expect, f"{label!r}: {got[label]} != {expect}"


def test_hll_union_consistent_with_exact(spark):
    """The per-language HLL sketches must union to a global estimate within
    HLL error bounds of the exact distinct count (lgK=12 → ~1.6% rse; 5% is
    the loud-failure line), proving the sketches are genuinely mergeable —
    the property the pre-aggregated-rollup pattern depends on."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.catalog import load_table
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    d = load_table(spark, SF_CORRECT, "documents")
    exact = d.select("text").distinct().count()
    rows = lookup("agg_hll_partitioned").build(spark, SF_CORRECT).collect()
    globals_seen = {r.global_distinct for r in rows}
    assert len(globals_seen) == 1  # every row carries the same union estimate
    est = globals_seen.pop()
    assert abs(est - exact) / exact < 0.05, (est, exact)
    # per-language estimates must sum close to the global (languages rarely
    # share identical texts in this corpus)
    assert sum(r.lang_distinct for r in rows) >= est * 0.95


def test_pq_adc_equals_dot_with_reconstruction(spark):
    """PQ/ADC exact invariant (Jégou et al., TPAMI 2011): the ADC score of
    (query q, corpus vector v) is EXACTLY unit(q) · reconstruction(v),
    where reconstruction(v) concatenates each subspace's centroid for v's
    code — ADC approximates the dot by quantizing only the corpus side.
    Also pins: codes are argmin assignments (the quantizer spec), and
    recall@5 vs exact top-k stays above a loose floor (uniform-random
    embeddings are ANN's worst case, so the floor is intentionally low)."""
    import numpy as np

    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.catalog import load_table
    from unfccc_documents_database_sandbox_spark.operators import similarity as S
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    emb = load_table(spark, SF_CORRECT, "embeddings")
    books = np.array(S.train_pq_codebooks(emb, m=8, k=16), dtype="float64")
    m, k, sub = books.shape

    rows = emb.orderBy("vec_id").collect()
    x = np.array([r.embedding for r in rows], dtype="float64")
    x /= np.linalg.norm(x, axis=1, keepdims=True)

    # spec: code[j] = argmin_c |x_sub - centroid_c|^2
    codes = np.empty((len(x), m), dtype=int)
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        d = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d.argmin(axis=1)
    recon = np.concatenate(
        [books[j][codes[:, j]] for j in range(m)], axis=1
    )

    out = S.pq_topk(emb, emb.filter("vec_id < 5"), topk=5, m=8, k=16,
                    codebooks=[[list(c) for c in b] for b in books]).toPandas()
    ids = {r.vec_id: i for i, r in enumerate(rows)}
    for r in out.itertuples():
        expect = float(x[ids[r.query_id]] @ recon[ids[r.neighbor_id]])
        assert abs(r.score - expect) < 1e-3, (r, expect)

    exact = lookup("sim_topk").build(spark, SF_CORRECT).toPandas()
    recalls = []
    for q in sorted(exact.query_id.unique()):
        e = set(exact[exact.query_id == q].neighbor_id)
        p = set(out[out.query_id == q].neighbor_id)
        recalls.append(len(e & p) / 5)
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_ivfpq_composes_cell_pruning_with_adc(spark):
    """The composed IVF+PQ invariants (VERDICT r06 #4; Jégou et al. §V):

    1. DECOMPOSITION EXACTNESS — the returned score is EXACTLY
       unit(q) · (centroid[cell(v)] + residual_reconstruction(v)): the bias
       term covers the coarse cell, the ADC fold covers the residual codes.
    2. CELL PRUNING CONTAINMENT — every returned neighbor's IVF cell is one
       of its query's nprobe probed cells (the candidate set really is the
       IVF slice, not a silent full scan).
    3. RECALL FLOOR VS PLAIN IVF — at equal nprobe, the refined variant
       (exact re-rank of the ADC shortlist, the FAISS IndexRefineFlat
       step) must match plain IVF's mean recall@5 to within 0.1: both
       probe the same slice, and the shortlist only loses a true neighbor
       if ADC misranks it below refine×topk. The unrefined ADC ranking
       keeps the looser absolute 0.2 floor pinned for plain PQ
       (uniform-random embeddings are ANN's worst case).
    """
    import numpy as np

    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.catalog import load_table
    from unfccc_documents_database_sandbox_spark.operators import similarity as S
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    emb = load_table(spark, SF_CORRECT, "embeddings")
    n_cells, nprobe, m, k = 16, 4, 8, 16
    centroids, codebooks = S.train_ivfpq_index(emb, n_cells=n_cells, m=m, k=k)
    cents = np.array(centroids, dtype="float64")
    books = np.array(codebooks, dtype="float64")
    sub = books.shape[2]

    rows = emb.orderBy("vec_id").collect()
    x = np.array([r.embedding for r in rows], dtype="float64")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
    cell = d.argmin(axis=1)
    resid = x - cents[cell]
    codes = np.empty((len(x), m), dtype=int)
    for j in range(m):
        xs = resid[:, j * sub : (j + 1) * sub]
        dd = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = dd.argmin(axis=1)
    recon = cents[cell] + np.concatenate(
        [books[j][codes[:, j]] for j in range(m)], axis=1
    )

    queries = emb.filter("vec_id < 5")
    out = S.ivfpq_topk(
        emb, queries, topk=5, n_cells=n_cells, nprobe=nprobe, m=m, k=k,
        refine=0, index=(centroids, codebooks),
    ).toPandas()
    ids = {r.vec_id: i for i, r in enumerate(rows)}

    # 1. decomposition exactness
    for r in out.itertuples():
        expect = float(x[ids[r.query_id]] @ recon[ids[r.neighbor_id]])
        assert abs(r.score - expect) < 1e-3, (r, expect)

    # 2. probed-cell containment
    probed = {
        rows[i].vec_id: set(np.argsort(d[i])[:nprobe])
        for i in range(len(rows)) if rows[i].vec_id < 5
    }
    for r in out.itertuples():
        assert cell[ids[r.neighbor_id]] in probed[r.query_id], r

    # 3. recall floor vs plain IVF at equal nprobe
    exact = lookup("sim_topk").build(spark, SF_CORRECT).toPandas()
    ivf = S.ivf_topk(
        emb, queries, k=5, n_cells=n_cells, nprobe=nprobe, centroids=centroids
    ).toPandas()
    refined = S.ivfpq_topk(
        emb, queries, topk=5, n_cells=n_cells, nprobe=nprobe, m=m, k=k,
        refine=4, index=(centroids, codebooks),
    ).toPandas()

    def mean_recall(approx):
        rs = []
        for q in sorted(exact.query_id.unique()):
            e = set(exact[exact.query_id == q].neighbor_id)
            p = set(approx[approx.query_id == q].neighbor_id)
            rs.append(len(e & p) / 5)
        return sum(rs) / len(rs)

    r_refined, r_ivf, r_raw = mean_recall(refined), mean_recall(ivf), mean_recall(out)
    assert r_refined >= r_ivf - 0.1, (r_refined, r_ivf)
    assert r_raw >= 0.2, r_raw
    # refined scores are exact cosines, so survivors common to IVF and
    # IVFPQ carry identical scores
    merged = refined.merge(ivf, on=["query_id", "neighbor_id"], suffixes=("_pq", "_ivf"))
    assert (abs(merged.score_pq - merged.score_ivf) < 1e-9).all()


def test_adc_query_collect_is_bounded(spark):
    """The driver-side ADC table build must refuse an oversized query set
    loudly (VERDICT r06 #8) — _bounded_query_rows raises past
    _MAX_ADC_QUERIES instead of collecting an unbounded DataFrame."""
    import pytest as _pytest

    from unfccc_documents_database_sandbox_spark.operators import similarity as S

    big = spark.range(S._MAX_ADC_QUERIES + 1).selectExpr(
        "id AS vec_id", "array(1.0f, 0.0f) AS embedding"
    )
    with _pytest.raises(ValueError, match="ADC query set exceeds"):
        S._bounded_query_rows(big, "vec_id")
    small = spark.range(3).selectExpr(
        "id AS vec_id", "array(1.0f, 0.0f) AS embedding"
    )
    assert len(S._bounded_query_rows(small, "vec_id")) == 3


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the number
    of Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_trainers_reproduce_the_pinned_literals(spark):
    """The oracle-exact twins' pinned literals are the trainers' sf0.01
    fits, rounded as pinned — so "regenerate by re-running the trainer"
    holds, and any change to the training sample, its order or the rng
    draw order shows here."""
    import numpy as np

    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.catalog import load_table
    from unfccc_documents_database_sandbox_spark.operators import similarity as S
    from unfccc_documents_database_sandbox_spark.plans.ivf_centroids import IVF_C
    from unfccc_documents_database_sandbox_spark.plans.ivfpq_codebook import (
        IVFPQ_CB,
        IVFPQ_CENT,
    )
    from unfccc_documents_database_sandbox_spark.plans.pq_codebook import PQ_CB

    emb = load_table(spark, SF_CORRECT, "embeddings")

    def flat(fit, dp):
        return [round(float(v), dp) for v in np.ravel(fit)]

    assert flat(S.train_pq_codebooks(emb, m=8, k=8, seed=42), 6) == PQ_CB
    assert flat(S.train_ivf_centroids(emb, n_cells=8, iters=8), 4) == IVF_C
    cents, books = S.train_ivfpq_index(emb, n_cells=4, m=8, k=8)
    assert flat(cents, 6) == IVFPQ_CENT
    assert flat(books, 6) == IVFPQ_CB


def test_ivfpq_fit_collects_one_sample(spark):
    """train_ivfpq_index fits the coarse quantizer and the residual
    codebooks from one collected sample, so it runs as many jobs as
    train_ivf_centroids alone."""
    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.catalog import load_table
    from unfccc_documents_database_sandbox_spark.operators import similarity as S

    emb = load_table(spark, SF_CORRECT, "embeddings")
    _, ivf_jobs = _jobs_in_group(spark, lambda: S.train_ivf_centroids(emb, n_cells=4))
    _, ivfpq_jobs = _jobs_in_group(
        spark, lambda: S.train_ivfpq_index(emb, n_cells=4, m=8, k=8)
    )
    assert ivf_jobs >= 1
    assert ivfpq_jobs == ivf_jobs


def test_ann_index_memo_reuses_the_fit_without_holding_sessions(spark):
    """The ANN keys memoize their trained index per (application id,
    sf_dir, kind): a second sim_topk_ivf build runs no Spark job (no
    training collect), and no memo key holds a SparkSession, so a stopped
    session is not kept alive."""
    from pyspark.sql import SparkSession

    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.plans import similarity as PS
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup

    load_all_plans()
    build = lookup("sim_topk_ivf").build
    first = build(spark, SF_CORRECT)
    second, jobs = _jobs_in_group(spark, lambda: build(spark, SF_CORRECT))
    assert jobs == 0
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))
    assert (spark.sparkContext.applicationId, SF_CORRECT, "ivf") in PS._INDEX
    assert not any(isinstance(part, SparkSession) for key in PS._INDEX for part in key)


def test_observation_metrics_ride_the_action(spark):
    """Operational-metrics surface (df.observe + Observation): audit
    counters computed DURING the action — zero extra scans, exactly what
    a 100 TB pipeline uses instead of a second count() pass. The observed
    row count and exact cent sum over documents must equal the separately
    computed aggregates."""
    from pyspark.sql import Observation

    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.catalog import load_table

    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "n_chars")
    obs = Observation("audit")
    audited = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    audited.write.format("noop").mode("overwrite").save()
    expect = d.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").cast("long").alias("s")
    ).collect()[0]
    assert obs.get == {"n_docs": expect.n, "total_chars": expect.s}


def test_arrow_native_map_and_grouped_apply_match_jvm(spark):
    """Arrow-native API surface (mapInArrow / applyInArrow — zero-copy
    RecordBatch in, no pandas materialization): both must reproduce the
    JVM built-ins' exact answers on real data. The pandas variants are
    covered by the registered UDF keys; this pins the third (pure-Arrow)
    flavor a scale user reaches for when pandas conversion is the
    bottleneck."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from tests.conftest import SF_CORRECT
    from unfccc_documents_database_sandbox_spark.catalog import load_table

    d = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", "lang", "n_chars"
    )

    def add_half(it):
        for batch in it:
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pc.divide(batch.column(2), 2)],
                names=["doc_id", "half_chars"],
            )

    got = (
        d.mapInArrow(add_half, "doc_id long, half_chars long")
        .agg(F.sum("half_chars").cast("long").alias("s"))
        .collect()[0].s
    )
    expect = d.select(
        F.expr("CAST(n_chars / 2 AS LONG)").alias("h")
    ).agg(F.sum("h").cast("long").alias("s")).collect()[0].s
    assert got == expect

    def per_lang(key, tbl):
        return pa.Table.from_pydict(
            {
                "lang": pa.array([key[0]], type=pa.string()),
                "total": pa.array(
                    [pc.sum(tbl["n_chars"]).as_py()], type=pa.int64()
                ),
            }
        )

    got2 = {
        r.lang: r.total
        for r in d.groupBy("lang")
        .applyInArrow(per_lang, "lang string, total long")
        .collect()
    }
    expect2 = {
        r.lang: r.total
        for r in d.groupBy("lang")
        .agg(F.sum("n_chars").cast("long").alias("total"))
        .collect()
    }
    assert got2 == expect2


def test_udtf_segments_drops_null_text_docs(spark):
    """r08 ADVICE #2: the segment UDTF yields NOTHING for NULL text, so the
    LATERAL (inner) join drops the doc — the same zero-row semantics the
    DuckDB oracle's UNNEST(string_split(NULL, '.')) produces. A doc with
    empty-string text still contributes one empty segment."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="seq int, seg string")
    class SplitSegs:
        def eval(self, text: str):
            if text is None:
                return
            for i, seg in enumerate(text.split(".")):
                yield (i, seg)

    spark.udtf.register("udtf_split_segs_nulltest", SplitSegs)
    spark.createDataFrame(
        [(1, "a.b"), (2, None), (3, "")], "doc_id long, text string"
    ).createOrReplaceTempView("udtf_null_in")
    rows = spark.sql(
        """
        SELECT d.doc_id, COUNT(*) AS n
        FROM udtf_null_in d, LATERAL udtf_split_segs_nulltest(d.text) s
        GROUP BY d.doc_id ORDER BY d.doc_id
        """
    ).collect()
    assert [(r.doc_id, r.n) for r in rows] == [(1, 2), (3, 1)]


def test_polymorphic_udtf_derives_schema_from_table_arg(spark):
    """VERDICT r10 #6: the UDTF's output schema is computed by analyze()
    from the TABLE argument — string columns pass through as keys,
    integral columns become sum_<c> BIGINT; all-NULL sums stay NULL (SQL
    SUM); the same UDTF serves a DIFFERENT table shape unchanged."""
    from unfccc_documents_database_sandbox_spark.functions.udtfs import (
        make_sum_numeric_cols_udtf,
    )

    spark.udtf.register("sum_numeric_cols_t", make_sum_numeric_cols_udtf())
    spark.createDataFrame(
        [("a", 1, None), ("a", 2, None), ("b", 3, None)],
        "g string, x long, y long",
    ).createOrReplaceTempView("poly_in1")
    out = spark.sql(
        "SELECT * FROM sum_numeric_cols_t("
        "TABLE(SELECT * FROM poly_in1) PARTITION BY g) ORDER BY g"
    )
    assert out.schema.simpleString() == \
        "struct<g:string,sum_x:bigint,sum_y:bigint>"
    assert [tuple(r) for r in out.collect()] == \
        [("a", 3, None), ("b", 3, None)]
    # a different shape: more numerics, int (not long) widens to bigint
    spark.createDataFrame(
        [("k", 1, 10, 100)], "k string, a int, b long, c long",
    ).createOrReplaceTempView("poly_in2")
    out2 = spark.sql(
        "SELECT * FROM sum_numeric_cols_t("
        "TABLE(SELECT * FROM poly_in2) PARTITION BY k)"
    )
    assert out2.schema.simpleString() == \
        "struct<k:string,sum_a:bigint,sum_b:bigint,sum_c:bigint>"
    assert [tuple(r) for r in out2.collect()] == [("k", 1, 10, 100)]
    # no integral column -> analyze() itself refuses, at plan time
    spark.createDataFrame([("s", 1.5)], "s string, f double") \
        .createOrReplaceTempView("poly_in3")
    with pytest.raises(Exception, match="no.*integral"):
        spark.sql(
            "SELECT * FROM sum_numeric_cols_t("
            "TABLE(SELECT * FROM poly_in3) PARTITION BY s)").collect()


def test_polymorphic_udtf_constant_arity_with_lateral(spark):
    """Constant-argument polymorphism + LATERAL correlation: the output
    ARITY (f1..fn) comes from the literal n; short rows NULL-fill,
    long rows truncate, NULL text yields nothing (inner lateral drops
    the row); a non-literal n is rejected by analyze()."""
    from unfccc_documents_database_sandbox_spark.functions.udtfs import (
        make_split_fields_udtf,
    )

    spark.udtf.register("split_fields_t", make_split_fields_udtf())
    spark.createDataFrame(
        [(1, "a,b,c"), (2, "x"), (3, "p,q,r,s"), (4, None)],
        "id long, csv string",
    ).createOrReplaceTempView("lat_in")
    out = spark.sql(
        """
        SELECT d.id, s.f1, s.f2, s.f3
        FROM lat_in d, LATERAL split_fields_t(d.csv, 3) s
        ORDER BY d.id
        """
    )
    assert out.columns == ["id", "f1", "f2", "f3"]
    assert [tuple(r) for r in out.collect()] == [
        (1, "a", "b", "c"), (2, "x", None, None), (3, "p", "q", "r")]
    with pytest.raises(Exception, match="positive integer LITERAL"):
        spark.sql(
            "SELECT * FROM lat_in d, "
            "LATERAL split_fields_t(d.csv, CAST(d.id AS INT)) s").collect()


def test_polymorphic_udtf_arrow_and_pickle_paths_agree(spark):
    """VERDICT r11 #6: the registered key runs the Arrow-optimized UDTF
    (useArrow=True, the production serializer); the legacy pickle path
    of the IDENTICAL class must produce bit-equal results and the same
    derived schema — serializer choice can never change semantics."""
    from unfccc_documents_database_sandbox_spark.functions.udtfs import (
        make_sum_numeric_cols_udtf,
    )

    spark.udtf.register("snc_arrow", make_sum_numeric_cols_udtf(True))
    spark.udtf.register("snc_pickle", make_sum_numeric_cols_udtf(False))
    spark.createDataFrame(
        [("a", 1, None), ("a", 2, 5), ("b", 3, None), (None, 4, 7)],
        "g string, x long, y long",
    ).createOrReplaceTempView("poly_arrow_in")
    q = ("SELECT * FROM {fn}(TABLE(SELECT * FROM poly_arrow_in) "
         "PARTITION BY g)")
    a = spark.sql(q.format(fn="snc_arrow"))
    p = spark.sql(q.format(fn="snc_pickle"))
    assert a.schema == p.schema
    assert sorted(map(tuple, a.collect()), key=repr) == \
        sorted(map(tuple, p.collect()), key=repr)


def _enc_rows(spark, root, name):
    """Canonicalized encodings from an index's parquet SIDE TABLE (the
    r16 home of the O(corpus) index state — VERDICT r15 #2)."""
    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    got = snap.get_index(root, name)
    return sorted(
        (int(r["vec_id"]), int(r["cell"]), tuple(int(c) for c in r["codes"]))
        for r in spark.read.parquet(got["side"]["enc"]).collect()
    )


def test_index_refresh_touches_only_changed_rows(spark, tmp_path):
    """VERDICT r14 #5: refresh_ivfpq_index re-encodes exactly the change
    feed's inserted rows and drops exactly the deleted ids; the merged
    artifact equals a from-scratch full encode of the head corpus; an
    up-to-date index refreshes as a no-op (no commit)."""
    from pyspark.sql import functions as F

    from unfccc_documents_database_sandbox_spark.plans.ivfpq_codebook import (
        IVFPQ_CB, IVFPQ_CENT,
    )
    from unfccc_documents_database_sandbox_spark.plans.similarity import (
        build_ivfpq_index,
        refresh_ivfpq_index,
    )
    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    root = str(tmp_path / "annref")
    snap.create(spark, root, emb.filter(F.col("vec_id") % 2 == 0))
    build_ivfpq_index(spark, root, "ix", list(IVFPQ_CENT), list(IVFPQ_CB))
    n_even = emb.filter(F.col("vec_id") % 2 == 0).count()
    n_odd = emb.filter(F.col("vec_id") % 2 == 1).count()
    n_del = emb.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") % 10 == 6)).count()
    assert n_odd > 0 and n_del > 0
    snap.append(spark, root, emb.filter(F.col("vec_id") % 2 == 1))
    snap.delete_where(spark, root, "vec_id % 10 = 6")
    r = refresh_ivfpq_index(spark, root, "ix")
    # O(changed): exactly the inserts re-encoded, exactly the deletes dropped
    assert r["reencoded"] == n_odd
    assert r["dropped"] == n_del
    assert r["kept"] == n_even - n_del
    # the JSON artifact is quantizer-sized — encodings NEVER ride it
    # (they would be O(corpus) driver memory at 100 TB); they live in
    # the commit's parquet side table, written by a distributed write
    art = snap.get_index(root, "ix")
    assert "enc" not in art["index"]
    assert set(art["side"]) == {"enc"}
    # refreshed artifact ≡ full retrain (from-scratch encode of head)
    merged = _enc_rows(spark, root, "ix")
    full_root = str(tmp_path / "annfull")
    snap.create(spark, full_root, snap.read(spark, root))
    build_ivfpq_index(spark, full_root, "ix",
                      list(IVFPQ_CENT), list(IVFPQ_CB))
    full = _enc_rows(spark, full_root, "ix")
    assert merged == full
    # no-change refresh: no commit, nothing re-encoded
    head = snap.latest_version(root)
    r2 = refresh_ivfpq_index(spark, root, "ix")
    assert r2 == {"version": None, "reencoded": 0, "dropped": 0,
                  "kept": len(merged)}
    assert snap.latest_version(root) == head
    # staleness stamp advanced to the refreshed head
    assert snap.get_index(root, "ix")["trained_at"] == head - 1


def test_index_refresh_nets_multi_commit_histories(spark, tmp_path):
    """r15 review: the change feed is netted PER ROW before merging —
    a row updated in two separate commits lands once (final state, not
    a stale+fresh pair), and a row inserted then deleted inside the
    window never resurrects into the index. The refreshed artifact must
    equal a from-scratch encode of the head corpus in both cases."""
    from pyspark.sql import functions as F

    from unfccc_documents_database_sandbox_spark.plans.ivfpq_codebook import (
        IVFPQ_CB, IVFPQ_CENT,
    )
    from unfccc_documents_database_sandbox_spark.plans.similarity import (
        build_ivfpq_index,
        refresh_ivfpq_index,
    )
    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 40)
    root = str(tmp_path / "annnet")
    snap.create(spark, root, emb.filter(F.col("vec_id") < 30))
    build_ivfpq_index(spark, root, "ix", list(IVFPQ_CENT), list(IVFPQ_CB))

    # row 3: updated TWICE in two separate commits (delete+insert pairs
    # in each) — only the final embedding may be encoded
    snap.update_where(spark, root, "vec_id = 3",
                      {"embedding": "transform(embedding, x -> x * 2.0f)"})
    snap.update_where(spark, root, "vec_id = 3",
                      {"embedding": "transform(embedding, x -> x * 4.0f)"})
    # rows 30..39: inserted then fully deleted inside the window — must
    # NOT resurrect
    snap.append(spark, root, emb.filter(F.col("vec_id") >= 30))
    snap.delete_where(spark, root, "vec_id >= 30")

    r = refresh_ivfpq_index(spark, root, "ix")
    merged = _enc_rows(spark, root, "ix")
    ids = [e[0] for e in merged]
    assert len(ids) == len(set(ids)), "duplicate encodings after refresh"
    assert not any(i >= 30 for i in ids), "deleted rows resurrected"
    assert r["dropped"] == 0  # rows 30+ were never IN the old artifact

    # ground truth: from-scratch encode of the head corpus
    full_root = str(tmp_path / "annnetfull")
    snap.create(spark, full_root, snap.read(spark, root))
    build_ivfpq_index(spark, full_root, "ix",
                      list(IVFPQ_CENT), list(IVFPQ_CB))
    assert merged == _enc_rows(spark, full_root, "ix")


def test_index_side_table_retention_and_reclaim(spark, tmp_path):
    """The parquet side table follows the JSON artifact's VACUUM
    contract exactly: retained while any retained version references
    the index commit (a retained index must stay SERVABLE, not just
    parameterized), swept once the index is dropped and its commits
    fall out of retention — after which get_index refuses loudly."""
    import pytest
    from pyspark.sql import functions as F

    from unfccc_documents_database_sandbox_spark.plans.ivfpq_codebook import (
        IVFPQ_CB, IVFPQ_CENT,
    )
    from unfccc_documents_database_sandbox_spark.plans.similarity import (
        build_ivfpq_index,
    )
    from unfccc_documents_database_sandbox_spark.sources import snapshots as snap

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 30)
    root = str(tmp_path / "annvac")
    snap.create(spark, root, emb)
    build_ivfpq_index(spark, root, "ix", list(IVFPQ_CENT), list(IVFPQ_CB))
    n = emb.count()
    # churn some commits, then vacuum to the head only: the index is
    # still live at head, so artifact AND side table must survive
    snap.delete_where(spark, root, "vec_id >= 20")
    snap.vacuum(root, retain_versions=1)
    got = snap.get_index(root, "ix")
    assert spark.read.parquet(got["side"]["enc"]).count() == n
    # drop the index, age its commits out, vacuum: the side table's
    # parquet is reclaimed with the artifact and a time-traveling
    # get_index (back to when the index WAS live) refuses loudly
    v_live = snap.latest_version(root)
    snap.drop_index(root, "ix")
    snap.delete_where(spark, root, "vec_id >= 10")
    swept = snap.vacuum(root, retain_versions=1)
    assert any("index-ix-enc" in p for p in swept), swept
    with pytest.raises(ValueError, match="reclaimed"):
        snap.get_index(root, "ix", version=v_live)

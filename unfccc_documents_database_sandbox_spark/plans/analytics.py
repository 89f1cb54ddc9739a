"""Warehouse / event-analytics operators, round 6: statistical mode,
exact-arithmetic correlation, decimal money aggregation, z-score anomaly
flags, first/last-touch attribution, SCD-2 history build, market-basket
pair mining, degree-oriented triangle counting, LATERAL top-N join, and a
null-safe equi-join — the analytics surface a warehouse user expects
beyond the TPC-H shapes (reference tie-in: the reference's Postgres side,
models.py, stops at ORM lookups; these are the scaled analytical
restatements of what its users would run in SQL).

Shared determinism discipline (registry.py rules): every cross-engine
double is EITHER one division/sqrt of exact bigint sums (money in cents,
counts) OR absent — no raw double accumulation, so the driver's value-hash
check is exact, not flaky. Orderings tie-break on unique keys.

Shared scale notes:
- per-group statistics (mode, corr, anomaly) aggregate to GROUP-count
  rows (here: 5 event types) and broadcast back — never a window over the
  full fact table, which would shuffle 100 TB to compute 5 numbers.
- the basket/triangle graph derives from DISTINCT (order, part) —
  dedup-first collapses the fan-out before any self-join; the triangle
  join runs on oriented edges (low endpoint first) so each triangle is
  produced exactly once and the join fan-out is bounded by the oriented
  out-degree (Suri & Vassilvitskii, WWW'11).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from unfccc_documents_database_sandbox_spark.catalog import load_table, pin
from unfccc_documents_database_sandbox_spark.plans.windows import _ntz_micros
from unfccc_documents_database_sandbox_spark.registry import register

# --- shared CTE: events with exact integer value (cents) and props.k ------

_EVENTS_CENTS = """
    e AS (
        SELECT event_id, user_id, event_type, ts, value,
               CAST(ROUND(value * 100) AS BIGINT) AS v,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    )
"""


@register(
    "agg_mode_freq",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    c AS (
        SELECT event_type, k, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM e GROUP BY event_type, k
    )
    SELECT event_type, k AS mode_k, cnt AS mode_cnt
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cnt DESC, k NULLS LAST) AS rn
        FROM c
    ) WHERE rn = 1
    """,
)
def agg_mode_freq(spark, sf_dir):
    """Statistical MODE per group (most frequent props.k per event type),
    ties broken by smallest k. Two-level aggregation: count per (group,
    value) — a partial-agg shuffle on a bounded key space — then a top-1
    window over the COUNTED table (|groups|x|values| rows, dim-sized), so
    the full fact table is never window-scanned."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    c = e.groupBy("event_type", "k").agg(F.count("*").cast("long").alias("cnt"))
    # NULLS LAST explicitly: Spark default-sorts NULL first ascending,
    # DuckDB last — a count tie against the NULL-k group would otherwise
    # pick a different mode per engine (r06 review finding)
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("k").asc_nulls_last()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("k").alias("mode_k"),
                F.col("cnt").alias("mode_cnt"))
    )


@register(
    "agg_corr_exact",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    h AS (
        SELECT event_type, v, CAST(hour(ts) AS BIGINT) AS hr FROM e
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v AS HUGEINT)) AS sx,
               SUM(CAST(hr AS HUGEINT)) AS sy,
               SUM(CAST(v AS HUGEINT) * v) AS sxx,
               SUM(CAST(hr AS HUGEINT) * hr) AS syy,
               SUM(CAST(v AS HUGEINT) * hr) AS sxy
        FROM h GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN NULL
                ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS corr,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) / 100.0, 6)
               AS cov_pop
    FROM s
    """,
)
def agg_corr_exact(spark, sf_dir):
    """Pearson correlation + population covariance of (value, hour-of-day)
    per event type — computed from BIGINT moment sums over cents, so the
    only doubles are one sqrt/division of exact integers and both engines
    hash identically (Spark's built-in corr() accumulates doubles in
    partition order and is NOT cross-engine stable; this is the
    numerically-exact restatement). All moment sums and combination terms
    are DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB — at sf0.01
    int64 would suffice (n*sxx ~1e16), but n*sxx grows as n^2 and past
    ~1e9 rows/group non-ANSI Spark would WRAP int64 silently while DuckDB
    raises, i.e. the engines diverge exactly when the guard matters
    (ADVICE r06); exact wide integers keep both engines bit-identical at
    any scale (both convert the exact value to double with correct
    rounding), and the widening touches only |groups| combination rows
    plus the per-element products. Scale: one partial-agg shuffle to
    |groups| rows; moments are semigroup-mergeable so map-side combine
    does the heavy lifting."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("decimal(38,0)").alias("v"),
        F.hour("ts").cast("decimal(38,0)").alias("hr"),
    )
    s = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("sx"),
        F.sum("hr").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("v") * F.col("hr")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("hr") * F.col("hr")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "event_type",
        "n",
        # degenerate groups (zero variance on either axis) yield NULL, not
        # NaN — NaN canonicalization is engine-dependent, NULL is not
        F.when(
            (dx > 0) & (dy > 0), F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6)
        ).alias("corr"),
        F.round(
            num / (nd * nd).cast("double") / F.lit(100.0), 6
        ).alias("cov_pop"),
    )


@register(
    "agg_decimal_money",
    oracle="""
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * CAST(1 - l.l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(38,4)) AS VARCHAR) AS revenue
    FROM lineitem l, supplier s, nation n
    WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_decimal_money(spark, sf_dir):
    """Exact DECIMAL money aggregation: revenue per supplier nation summed
    as DECIMAL(18,2) x DECIMAL(18,2) -> DECIMAL(38,4), the warehouse-exact
    alternative to the cents-bigint idiom used elsewhere in this repo.
    Decimal sums are order-independent (exact arithmetic), so the result
    hash-matches DuckDB without rounding tricks; the exact total is
    emitted as its canonical STRING rendering because pandas narrows
    DuckDB decimals to float64 (driver canonicalization would then
    compare Decimal('...0090') against 1.22e+08 and miss). Scale: supplier->nation
    is a broadcast dim chain; one partial-agg shuffle on n_name; decimal
    aggregation stays inside whole-stage codegen (Spark's Decimal uses a
    long backing store until 18 digits, widening only on overflow)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("decimal(38,4)").cast("string").alias("revenue"))
    )


@register(
    "events_anomaly",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v AS HUGEINT)) AS sv,
               SUM(CAST(v AS HUGEINT) * v) AS qv
        FROM e GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND(CAST(s.n * e.v - s.sv AS DOUBLE)
                 / sqrt(CAST(s.n * s.qv - s.sv * s.sv AS DOUBLE)), 6)
               AS zscore
    FROM e, s
    WHERE e.event_type = s.event_type
      AND (s.n * e.v - s.sv) * (s.n * e.v - s.sv)
          > 9 * (s.n * s.qv - s.sv * s.sv)
    """,
)
def events_anomaly(spark, sf_dir):
    """Z-score outlier flags (|z| > 3) per event type, INTEGER-EXACT: the
    flag predicate is the squared inequality (n*v - S)^2 > 9(nQ - S^2)
    over bigint cent sums — no double ever decides membership, so Spark
    and DuckDB flag the identical row set even at the decision boundary;
    the reported z-score is one double division of exact integers.
    Variance identity: sigma^2 = (nQ - S^2)/n^2, z = (v-mu)/sigma =
    (nv - S)/sqrt(nQ - S^2) (the n in (nv-S)/n cancels the /n of sigma). Scale: stats aggregate to |event_type|
    rows and broadcast back onto the fact scan — one shuffle to 5 rows +
    a map-side join, the pattern that survives 100 TB (a global window
    would shuffle everything to compute 5 numbers)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") * 100).cast("decimal(38,0)").alias("v"),
    )
    # DECIMAL(38,0) sums/combinations, HUGEINT in the oracle: dev^2 grows
    # as n^2*v^2 (~1e34 at 1e9 rows/group) — int64 would wrap silently in
    # non-ANSI Spark while DuckDB raises (ADVICE r06); exact wide integers
    # keep the flagged row SET identical on both engines at any scale.
    s = e.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("qv"),
    )
    j = e.join(F.broadcast(s), "event_type")
    dev = F.col("n") * F.col("v") - F.col("sv")
    var_n2 = F.col("n") * F.col("qv") - F.col("sv") * F.col("sv")
    return (
        j.filter(dev * dev > F.lit(9) * var_n2)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                dev.cast("double") / F.sqrt(var_n2.cast("double")), 6
            ).alias("zscore"),
        )
    )


@register(
    "events_attribution",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    w AS (
        SELECT event_id, user_id, event_type, value,
               FIRST_VALUE(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS first_touch,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS last_touch
        FROM e
    )
    SELECT event_id, user_id, first_touch, last_touch, value
    FROM w WHERE event_type = 'purchase'
    """,
)
def events_attribution(spark, sf_dir):
    """First-touch / last-touch attribution: for every purchase, the type
    of the user's FIRST event and of the event immediately PRECEDING the
    purchase (NULL when the purchase is the user's first event — standard
    unattributed-conversion semantics). Deterministic ordering (ts,
    event_id). Scale: one shuffle on user_id drives both window frames;
    user partitions are the natural bounded unit (a user's history fits
    an executor), the same layout sessionization already uses."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.first("event_type").over(prior).alias("first_touch"),
            F.lag("event_type").over(w).alias("last_touch"),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )


@register(
    "scd2_history",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    marked AS (
        SELECT user_id, k, ts, event_id,
               LAG(k) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS prev_k,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM e
    ),
    changes AS (
        SELECT user_id, k, ts AS valid_from, event_id
        FROM marked WHERE rn = 1 OR prev_k IS DISTINCT FROM k
    )
    SELECT user_id, k, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           CASE WHEN LEAD(valid_from) OVER (
                    PARTITION BY user_id ORDER BY valid_from, event_id)
                    IS NULL
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
               AS is_current
    FROM changes
    """,
)
def scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type-2 build: collapse each user's stream
    of props.k observations into [valid_from, valid_to) intervals, one row
    per VALUE CHANGE (lag-compare), open-ended current row flagged. The
    standard warehouse history-table derivation, done as two window passes
    over the same (user_id, ts, event_id) sort — Catalyst reuses the single
    shuffle+sort for both, so the build costs one exchange regardless of
    table size. IS DISTINCT FROM (null-safe) keeps NULL k transitions
    correct on both engines, and the change detection is SEEDED with
    row_number()==1 so a user whose FIRST observations have k=NULL still
    opens an interval — lag()'s no-previous-row NULL is otherwise
    indistinguishable from a genuine NULL prev_k and eqNullSafe(NULL,NULL)
    would silently drop the leading NULL-k run (ADVICE r06). The seed row
    shares the window's shuffle+sort, so the fix costs nothing. Timeline-
    partition invariant (every observation falls in exactly one interval,
    including leading-NULL runs) pinned by
    test_scd2_intervals_partition_user_timeline."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_k", F.lag("k").over(w))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) | ~F.col("prev_k").eqNullSafe(F.col("k")))
        .select("user_id", "k", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    lead_ts = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "k",
        "valid_from",
        lead_ts.alias("valid_to"),
        F.when(lead_ts.isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("is_current"),
    )


# --- market-basket graph: shared derivation ------------------------------

# Mega-basket guard: a single order with B distinct parts contributes
# C(B,2) pairs — quadratic in B — and at 100 TB a bot/ETL-artifact basket
# with 10^5 items would emit 5e9 pairs from ONE key, the classic skew
# bomb for the per-order self-join. Baskets above the cap are dropped
# whole (standard market-basket practice: such baskets carry no
# association signal anyway). The cap binds NOTHING on this corpus (max
# basket = 13 at sf0.1) — it exists so the plan survives adversarial
# data, and tests/test_properties.py proves a 200-part basket is excluded
# while the small baskets still pair.
_MAX_BASKET = 64

_BASKET_EDGES = f"""
    li0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    sized AS (
        SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS bs FROM li0
    ),
    li AS (SELECT o, p FROM sized WHERE bs <= {_MAX_BASKET}),
    deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS dp FROM li GROUP BY p),
    pairs AS (
        SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM li a, li b
        WHERE a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    )
"""


def _basket_items(spark, sf_dir):
    """DISTINCT (order, part) with mega-baskets dropped (> _MAX_BASKET
    parts). The basket-size window partitions on the order key — the SAME
    key the downstream pair self-join shuffles on, so Catalyst reuses one
    exchange for the count, the filter, and both join sides."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    bs = F.count(F.lit(1)).over(Window.partitionBy("o"))
    return li.withColumn("bs", bs).filter(F.col("bs") <= _MAX_BASKET).drop("bs")


def _basket_pair_counts(spark, sf_dir):
    """Shared basket-graph derivation for basket_pairs / graph_triangles
    (one definition, mirroring the shared _BASKET_EDGES oracle CTE — the
    support threshold and join shape live in exactly two places, SQL and
    here, instead of four; r06 review finding). Returns (items, pairs):
    the capped DISTINCT (order, part) table — pinned with an EAGER
    localCheckpoint (r17: li feeds up to four concurrent consumers
    inside the one final job — degree agg, n_orders agg, both self-join
    sides — and a lazy persist made them race to re-run the scan->
    distinct->window chain before the cache filled; warm A/B median of
    7: basket_pairs 2.88 s with 4.1 s spikes -> 2.63 s flat) — and the
    support>=2 co-occurrence counts."""
    li = _basket_items(spark, sf_dir).transform(pin)
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )
    return li, pairs


@register(
    "basket_pairs",
    oracle=f"""
    WITH {_BASKET_EDGES},
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM li)
    SELECT pairs.pa, pairs.pb, pairs.cnt, da.dp AS cnt_a, db.dp AS cnt_b,
           ROUND(pairs.cnt * n.n_orders
                 / CAST(da.dp * db.dp AS DOUBLE), 6) AS lift
    FROM pairs, deg da, deg db, n
    WHERE da.p = pairs.pa AND db.p = pairs.pb AND pairs.cnt >= 2
    ORDER BY pairs.cnt DESC, pairs.pa, pairs.pb
    LIMIT 100
    """,
)
def basket_pairs(spark, sf_dir):
    """Market-basket pair mining: co-occurrence counts + lift for part
    pairs bought in the same order (support >= 2), top-100. Scale design:
    (1) DISTINCT (order, part) first — dedup collapses line-level fan-out
    before the quadratic step; (2) the self-join is per-order, so the
    fan-out is sum over orders of C(parts_in_order, 2) — bounded by basket
    size, not catalog size; baskets are naturally small and the order key
    is near-uniform, the benign shuffle shape — and the _MAX_BASKET cap
    above bounds the worst case against adversarial mega-baskets; (3) per-part totals are a
    vocabulary-sized dim broadcast onto the pair table; lift is exact
    counts in one double division."""
    li, pairs = _basket_pair_counts(spark, sf_dir)
    deg = li.groupBy("p").agg(F.count("*").cast("long").alias("dp"))
    # n_orders as a LAZY one-row aggregate cross-joined in (mirrors the
    # oracle's n CTE) — an eager .count() here would block the build and
    # execute the basket lineage a fourth time (r06 review finding)
    n = li.agg(F.countDistinct("o").cast("long").alias("n_orders"))
    da = deg.alias("da")
    db = deg.alias("db")
    return (
        pairs.join(F.broadcast(da), F.col("pa") == F.col("da.p"))
        .join(F.broadcast(db), F.col("pb") == F.col("db.p"))
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            "cnt",
            F.col("da.dp").alias("cnt_a"),
            F.col("db.dp").alias("cnt_b"),
            F.round(
                F.col("cnt") * F.col("n_orders")
                / (F.col("da.dp") * F.col("db.dp")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("cnt").desc(), "pa", "pb")
        .limit(100)
    )


@register(
    "graph_triangles",
    oracle=f"""
    WITH {_BASKET_EDGES},
    ed AS (SELECT pa, pb FROM pairs WHERE cnt >= 2)
    SELECT e1.pa AS p1, e1.pb AS p2, e2.pb AS p3
    FROM ed e1, ed e2, ed e3
    WHERE e2.pa = e1.pb AND e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def graph_triangles(spark, sf_dir):
    """Triangle enumeration on the co-purchase graph (parts co-occurring
    in >= 2 orders). Edges are stored once, oriented low-id -> high-id, so
    each triangle (p1 < p2 < p3) is emitted exactly once by the two-path
    + closing-edge join. At 100 TB the orientation is by DEGREE then id
    (Suri & Vassilvitskii, WWW'11) so the wedge fan-out is bounded by the
    sqrt(m) out-degree of the low-degree endpoint; on this corpus id-order
    keeps the oracle twin byte-identical while the plan shape (self-join
    on oriented edges, broadcast when the edge list fits) is the same.
    The closing-edge probe is a broadcast hash join here (the support
    filter collapses the edge list to dim size); at scale it becomes a
    shuffled join on (pa, pb) — still one shuffle of edge-sized data."""
    # r17: eager pins here too — one lucky lazy-persist sample measured
    # 2.19 s vs 2.63 s eager, but the lazy shape's median of 7 was
    # 3.42 s with 9.2 s race spikes (the minhash pathology); the eager
    # chain is 0.4 s slower than the lucky case and completely flat
    _li, pairs = _basket_pair_counts(spark, sf_dir)
    edges = pairs.select("pa", "pb").transform(pin)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    return (
        e1.join(F.broadcast(e2), F.col("e1.pb") == F.col("e2.pa"))
        .join(
            F.broadcast(e3),
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("p1"),
            F.col("e1.pb").alias("p2"),
            F.col("e2.pb").alias("p3"),
        )
    )


@register(
    "join_lateral",
    oracle="""
    SELECT n.n_name, l.c_custkey, l.c_name, l.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) l
    """,
)
def join_lateral(spark, sf_dir):
    """Correlated LATERAL join: top-2 customers by account balance per
    nation, expressed as SQL-standard LATERAL (Spark >= 3.2 lateral
    subquery support) rather than the window-function rewrite topk_per_
    group already covers — the surface matters because users port LATERAL
    queries verbatim. Catalyst rewrites the correlated limit into a
    DomainJoin + window internally, so the physical plan matches the
    window formulation: one shuffle on the correlation key, no
    nested-loop execution."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n.n_name, l.c_custkey, l.c_name, l.c_acctbal
        FROM nation n JOIN LATERAL (
            SELECT c_custkey, c_name, c_acctbal
            FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) l
        """
    )


@register(
    "join_null_safe",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    keyed AS (
        SELECT event_id,
               CASE WHEN k < 10 THEN NULL ELSE k % 10 END AS bucket
        FROM e
    ),
    dim AS (
        SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bucket,
               'b' || unnest(generate_series(0, 9)) AS label
        UNION ALL SELECT NULL, 'unknown'
    ),
    counts AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM keyed GROUP BY bucket
    )
    SELECT d.label, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n_events
    FROM dim d LEFT JOIN counts c ON c.bucket IS NOT DISTINCT FROM d.bucket
    """,
)
def join_null_safe(spark, sf_dir):
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): events bucketed
    with an intentional NULL bucket join a dimension that carries a NULL
    row — NULL matches NULL exactly once, the semantics a plain equi-join
    silently drops. Spark plans eqNullSafe as a HASHED join key (null-safe
    equality is still an equi-key). The fact side is PRE-AGGREGATED to
    <=11 (bucket, cnt) rows BEFORE the join — the r06 shape broadcast the
    dim on the preserved (left) side of the LeftOuter join, which Spark
    cannot build from (BroadcastHashJoin is build-right for LeftOuter), so
    the hint was silently ignored and the executed plan built from the
    FACT side: fine at test scale, an OOM-or-skew bomb at 100 TB (ADVICE
    r06). Now the broadcast build side IS the tiny aggregate (non-
    preserved right side, legal), the fact table is reduced by one
    map-side-combining partial agg on an 11-value key, and skew is
    structurally impossible. Plan-pinned build-right in
    tests/test_scale.py."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    keyed = e.select(
        F.when(F.col("k") < 10, F.lit(None).cast("long"))
        .otherwise(F.col("k") % 10)
        .alias("bucket"),
    )
    counts = keyed.groupBy("bucket").agg(F.count("*").cast("long").alias("cnt"))
    dim = spark.range(0, 10).select(
        F.col("id").alias("bucket"), F.concat(F.lit("b"), F.col("id")).alias("label")
    ).unionAll(
        spark.range(1).select(
            F.lit(None).cast("long").alias("bucket"), F.lit("unknown").alias("label")
        )
    )
    return dim.join(
        F.broadcast(counts), dim.bucket.eqNullSafe(counts.bucket), "left"
    ).select(
        "label", F.coalesce(counts.cnt, F.lit(0)).cast("long").alias("n_events")
    )


@register(
    "agg_skewness_exact",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v AS HUGEINT)) AS sv,
               SUM(CAST(v AS HUGEINT) * v) AS qv,
               SUM(CAST(v AS HUGEINT) * v * v) AS tv
        FROM e GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN n * qv - sv * sv = 0 THEN NULL
                ELSE ROUND(CAST(CAST(n AS HUGEINT) * n * tv
                           - 3 * CAST(n AS HUGEINT) * sv * qv
                           + 2 * CAST(sv AS HUGEINT) * sv * sv AS DOUBLE)
                     / (sqrt(CAST(n * qv - sv * sv AS DOUBLE))
                        * CAST(n * qv - sv * sv AS DOUBLE)), 6)
           END AS skewness
    FROM s
    """,
)
def agg_skewness_exact(spark, sf_dir):
    """Population skewness per event type from INTEGER moment sums:
    g1 = m3/m2^1.5 algebraically rearranged to
    (n^2*T - 3nSQ + 2S^3) / (nQ - S^2)^1.5 so every intermediate is
    exact — the combination step needs ~1e24, beyond int64, so Spark
    computes it in DECIMAL(38,0) and DuckDB in HUGEINT (both exact
    integer arithmetic; both convert the exact value to double with
    correct rounding, so the quotient hashes identically). The ^1.5 is
    written sqrt(d)*d — never pow(x,1.5), whose libm/JVM implementations
    can disagree in the last ulp. EVERY sum and combination term is
    DECIMAL(38,0) / HUGEINT (r07: the per-group sums too, not just the
    combination — SUM(v^3) wraps int64 past ~7e4 rows/group, where
    non-ANSI Spark and DuckDB diverge silently). Like agg_corr_exact:
    Spark's built-in
    skewness() accumulates doubles in partition order and cannot
    hash-match another engine; this restatement can. One partial-agg
    shuffle to |groups| rows."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("decimal(38,0)").alias("v")
    )
    # per-sum terms are DECIMAL too (not just the combination step): tv =
    # SUM(v^3) with v ~5e4 cents wraps int64 past ~7e4 rows/group, where
    # non-ANSI Spark and DuckDB diverge silently (ADVICE r06)
    s = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("qv"),
        F.sum(F.col("v") * F.col("v") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("tv"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (
        dec("n") * dec("n") * dec("tv")
        - F.lit(3) * dec("n") * dec("sv") * dec("qv")
        + F.lit(2) * dec("sv") * dec("sv") * dec("sv")
    )
    d = (dec("n") * F.col("qv") - F.col("sv") * F.col("sv")).cast("double")
    return s.select(
        "event_type",
        "n",
        # zero-variance groups -> NULL, not 0/0 NaN (cross-engine hazard)
        F.when(d > 0, F.round(num.cast("double") / (F.sqrt(d) * d), 6)).alias(
            "skewness"
        ),
    )


@register(
    "window_cume_distinct",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    firsts AS (
        SELECT event_id, user_id, ts,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM e
    )
    SELECT event_id, user_id,
           CAST(SUM(is_first) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_distinct_types
    FROM firsts
    """,
)
def window_cume_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) per user over time — the window aggregate
    SQL engines refuse to evaluate directly (DISTINCT inside a running
    frame). Standard rewrite: mark each (user, event_type)'s first
    occurrence with a row_number window, then running-SUM the marks over
    the user timeline. Scale: two window passes over DIFFERENT partition
    keys ((user_id, event_type) then (user_id)) — the second is a strict
    coarsening of the first, so AQE-planned exchange reuse keeps it to
    two bounded shuffles; state per row is one bit, never a growing
    distinct-set accumulator (the naive collect_set-over-frame rewrite
    carries O(k) state per row and dies on high-cardinality types)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn(
            "is_first",
            F.when(F.row_number().over(w_first) == 1, F.lit(1)).otherwise(F.lit(0)),
        )
        .select(
            "event_id",
            "user_id",
            F.sum("is_first").over(w_run).cast("long").alias("n_distinct_types"),
        )
    )


@register(
    "ts_gapfill",
    oracle="""
    WITH e AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
    ),
    base AS (
        SELECT event_type, bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS vsum
        FROM e GROUP BY event_type, bucket
    ),
    bounds AS (
        SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
        FROM base GROUP BY event_type
    ),
    spine AS (
        SELECT event_type,
               UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
        FROM bounds
    ),
    g AS (
        SELECT s.event_type, s.bucket, b.n, b.vsum
        FROM spine s LEFT JOIN base b USING (event_type, bucket)
    ),
    gi AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS idx
        FROM g
    ),
    f AS (
        SELECT *,
               LAST_VALUE(CASE WHEN vsum IS NOT NULL THEN idx END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pidx,
               LAST_VALUE(CASE WHEN vsum IS NOT NULL THEN vsum END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               FIRST_VALUE(CASE WHEN vsum IS NOT NULL THEN idx END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY bucket
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nidx,
               FIRST_VALUE(CASE WHEN vsum IS NOT NULL THEN vsum END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY bucket
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        FROM gi
    )
    SELECT event_type, bucket,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           vsum AS vsum_cents,
           pv AS locf_cents,
           ROUND(CASE
               WHEN vsum IS NOT NULL THEN CAST(vsum AS DOUBLE)
               WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                   CAST(pv AS DOUBLE)
                   + CAST(nv - pv AS DOUBLE)
                     * (CAST(idx - pidx AS DOUBLE)
                        / CAST(nidx - pidx AS DOUBLE))
               ELSE NULL
           END, 6) AS interp_cents
    FROM f
    """,
)
def ts_gapfill(spark, sf_dir):
    """Time-series gap-fill / resample (the hypertable continuous-aggregate
    shape — TimescaleDB time_bucket_gapfill restated over Spark windows):
    bucket events to the hour per event_type, generate each series' dense
    hourly spine (sequence + explode between the series' own min/max),
    left-join the observed buckets onto it, and fill the gaps two ways —
    LOCF (last observation carried forward) and linear interpolation
    between the surrounding observations. Sums are exact bigint cents;
    the interpolation is the only double — one multiply+divide of exact
    integers in an identical expression on both engines, and missing
    edges (gap before the first / after the last observation) stay NULL.

    Fill mechanics: row_number over the dense spine gives each hour an
    integer position; pidx/pv = position+value of the latest observed
    bucket at-or-before (last_value IGNORE NULLS over the preceding
    frame), nidx/nv the mirror (first_value over the following frame);
    interp = pv + (nv-pv) * (idx-pidx)/(nidx-pidx). All four fills ride
    ONE window spec pair per direction, so Catalyst evaluates them in a
    single pass per direction over each series.

    Scale: the spine is |series| x span_hours rows — bounded by calendar
    time, not event count (at 100 TB of events the hourly spine for 1e6
    series x 1 year is 8.8e9 rows, generated distributed from a
    |series|-row bounds table, never collected). The fill windows
    partition by series: each series sorts only its own grid —
    embarrassingly parallel across series, no global sort, and the
    pre-aggregation to (series, bucket) collapses the fact table BEFORE
    any window sees it (the same pre-agg-then-window discipline as
    agg_mode_freq)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    base = e.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("vsum"),
    )
    bounds = base.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    g = spine.join(base, ["event_type", "bucket"], "left")
    w = Window.partitionBy("event_type").orderBy("bucket")
    gi = g.withColumn("idx", F.row_number().over(w).cast("long"))
    wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs = F.col("vsum").isNotNull()
    f = gi.select(
        "event_type", "bucket", "n", "vsum", "idx",
        F.last(F.when(obs, F.col("idx")), ignorenulls=True).over(wp).alias("pidx"),
        F.last(F.when(obs, F.col("vsum")), ignorenulls=True).over(wp).alias("pv"),
        F.first(F.when(obs, F.col("idx")), ignorenulls=True).over(wn).alias("nidx"),
        F.first(F.when(obs, F.col("vsum")), ignorenulls=True).over(wn).alias("nv"),
    )
    interp = (
        F.when(obs, F.col("vsum").cast("double"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv").cast("double")
            + (F.col("nv") - F.col("pv")).cast("double")
            * (
                (F.col("idx") - F.col("pidx")).cast("double")
                / (F.col("nidx") - F.col("pidx")).cast("double")
            ),
        )
        .otherwise(F.lit(None))
    )
    return f.select(
        "event_type",
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.col("vsum").alias("vsum_cents"),
        F.col("pv").alias("locf_cents"),
        F.round(interp, 6).alias("interp_cents"),
    )


@register(
    "events_rfm",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(epoch_us(ts)) AS recency_us,
               COUNT(*) AS freq,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS monetary_cents
        FROM events GROUP BY user_id
    ),
    scored AS (
        SELECT user_id,
               NTILE(4) OVER (ORDER BY recency_us, user_id) AS r_q,
               NTILE(4) OVER (ORDER BY freq, user_id) AS f_q,
               NTILE(4) OVER (ORDER BY monetary_cents, user_id) AS m_q,
               monetary_cents
        FROM per_user
    )
    SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
           CAST(m_q AS BIGINT) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY r_q, f_q, m_q
    """,
)
def events_rfm(spark, sf_dir):
    """RFM SEGMENTATION (recency / frequency / monetary — the classic
    customer-value quartile grid): one pass computes each user's last
    activity timestamp (exact epoch microseconds), event count, and
    cent-exact spend; three NTILE(4) windows assign quartiles with
    (metric, user_id) tie-breaks so bucket boundaries are deterministic
    on both engines; the output is the segment grid with user counts and
    exact segment revenue. Standard-SQL NTILE remainder semantics (first
    buckets take the extra rows) agree across engines, and every metric
    is integer — nothing to drift.

    Plan shape: one groupBy shuffle on user_id builds the per-user
    metrics; the three NTILEs are global sorts over the USER-level
    rollup (cardinality = users, not events — the reduction happens
    before the unpartitioned windows), then a small groupBy on the 64
    possible segments. At 100 TB the event scan partial-aggregates
    map-side; the global NTILE sort is over the user dimension and, if
    even that outgrows a sort, the standard rewrite is percentile-based
    bucketing — documented, not needed at this corpus's user count."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(_ntz_micros(F.col("ts"))).alias("recency_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .alias("monetary_cents"),
    )
    scored = (
        per_user
        .withColumn("r_q", F.ntile(4).over(
            Window.orderBy("recency_us", "user_id")))
        .withColumn("f_q", F.ntile(4).over(
            Window.orderBy("freq", "user_id")))
        .withColumn("m_q", F.ntile(4).over(
            Window.orderBy("monetary_cents", "user_id")))
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
    ).select(
        F.col("r_q").cast("long").alias("r_q"),
        F.col("f_q").cast("long").alias("f_q"),
        F.col("m_q").cast("long").alias("m_q"),
        "n_users", "segment_cents",
    )


@register(
    "orders_abc_pareto",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                   AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(cents) AS total FROM rev),
    ranked AS (
        SELECT l_partkey, cents,
               SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM rev
    ),
    classed AS (
        SELECT l_partkey, cents,
               CASE WHEN cum * 100 <= total * 80 THEN 'A'
                    WHEN cum * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS cls
        FROM ranked CROSS JOIN tot
    )
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents,
           CAST(MIN(l_partkey) AS BIGINT) AS first_part,
           CAST(MAX(l_partkey) AS BIGINT) AS last_part
    FROM classed GROUP BY cls
    """,
)
def orders_abc_pareto(spark, sf_dir):
    """ABC / PARETO CLASSIFICATION (inventory 80-15-5 analysis): rank
    parts by exact cent revenue, take the running revenue share with a
    (cents DESC, partkey) tie-broken cumulative window, and class each
    part A (first 80% of revenue), B (to 95%), C (tail). The share
    comparison is pure integer cross-multiplication (cum·100 ≤ total·80)
    — no ratio division, so the class boundaries are bit-identical on
    both engines; the grand total attaches as a 1-row broadcast.

    Plan shape: one groupBy shuffle on partkey (map-side partial sums
    over lineitem), a global cumulative-sum window over the PART-level
    rollup (cardinality = parts, after the reduction), a broadcast of
    the 1-row total, and a 3-group aggregate. The cumulative window is
    the only global sort and runs on the reduced dimension — the same
    discipline as events_rfm; at 100 TB the lineitem scan never sorts."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").alias("total"))
    ranked = rev.withColumn(
        "cum",
        F.sum("cents").over(
            Window.orderBy(F.col("cents").desc(), "l_partkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    classed = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "cls",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C"),
    )
    return classed.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("class_cents"),
        F.min("l_partkey").cast("long").alias("first_part"),
        F.max("l_partkey").cast("long").alias("last_part"),
    )


@register(
    "orders_gini",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM rev
    ),
    s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(cents AS HUGEINT)) AS s0,
               SUM(CAST(i AS HUGEINT) * cents) AS s1
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s0 AS BIGINT) AS total_cents,
           CAST((1000 * (2 * s1 - (n + 1) * s0)) // (n * s0) AS BIGINT)
               AS gini_milli
    FROM s
    """,
)
def orders_gini(spark, sf_dir):
    """GINI COEFFICIENT of revenue concentration — the single-number
    sibling of the ABC/Pareto classes: per-customer cent-exact revenue,
    ranked ascending with a (cents, custkey) tie-break, then the exact
    rank formula G = (2·Σi·x_i − (n+1)·Σx_i) / (n·Σx_i) evaluated
    ENTIRELY in integers — the output is gini in thousandths via one
    floor division, so nothing floats and the coefficient itself
    hash-matches (the portable-HLL discipline applied to an inequality
    statistic).

    Plan shape: one custkey rollup (map-side partial sums over orders),
    one global rank window over the reduced customer dimension, one
    1-row fold. Σi·x_i overflows int64 already at sf0.1, so the moment
    sums are DECIMAL(38,0) / HUGEINT end-to-end (the agg_corr_exact
    precedent) and only the thousandths quotient narrows back — exact at
    any scale, both engines convert the same wide value identically.
    The global sort runs on customers, not orders — the events_rfm
    reduction-first discipline."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents")
    )
    ranked = rev.withColumn(
        "i", F.row_number().over(Window.orderBy("cents", "o_custkey"))
    )
    # Σi·x_i and the 1000-scaled numerator overflow int64 already at
    # sf0.1 — the moment sums widen to DECIMAL(38,0)/HUGEINT exactly like
    # agg_corr_exact, and only the thousandths quotient narrows back
    s = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s0"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents"))
        .alias("s1"),
    )
    num = (F.lit(1000).cast("decimal(38,0)")
           * (F.lit(2).cast("decimal(38,0)") * F.col("s1")
              - (F.col("n") + F.lit(1)) * F.col("s0")))
    den = F.col("n") * F.col("s0")
    # exact floor division on decimals (the cluster_kmeans trick):
    # subtract the remainder first so the division has an exact integer
    # result — decimal `/` alone rounds at the result scale, and a
    # quotient a hair under an integer could round across the floor
    rem = num % den
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s0").cast("long").alias("total_cents"),
        ((num - rem) / den).cast("long").alias("gini_milli"),
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH du AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id
        FROM events
    ),
    days AS (SELECT DISTINCT d FROM du),
    dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY d),
    wau AS (
        SELECT days.d, COUNT(DISTINCT du.user_id) AS wau
        FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
        GROUP BY days.d
    )
    SELECT CAST(dau.d AS BIGINT) AS d,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(dau.dau * 1000 // wau.wau AS BIGINT) AS stickiness_milli
    FROM dau JOIN wau ON wau.d = dau.d
    """,
)
def events_dau_wau(spark, sf_dir):
    """DAU / WAU STICKINESS (the product-analytics engagement ratio):
    daily active users, 7-day rolling active users, and their ratio in
    integer thousandths per epoch day. The rolling distinct is the
    textbook trap — COUNT(DISTINCT) over a RANGE window is unsupported
    and a naive self-join explodes on raw events — so both engines first
    DEDUP to (day, user) pairs (the one big shuffle, map-side
    combinable), then range-join the tiny day list onto the deduped
    pairs (≤ 7 days match each pair) and count distinct per day.
    Day bucketing is exact integer epoch-microsecond division; the
    stickiness ratio is one integer floor division — nothing floats.

    Scale: |day × user| pairs is bounded by users × active-days — the
    dedup collapses the event volume BEFORE the range join, so at 100 TB
    the join input is the engagement matrix, not the event log; day count
    is tiny, so the range join broadcasts the day list."""
    e = load_table(spark, sf_dir, "events")
    du = (
        e.select(
            (_ntz_micros(F.col("ts")) / 86_400_000_000).cast("long")
            .alias("d"),
            "user_id",
        )
        .distinct()
    )
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        F.broadcast(days.withColumnRenamed("d", "wd"))
        .join(du, (F.col("d") >= F.col("wd") - 6) & (F.col("d") <= F.col("wd")))
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["d"] == wau["wd"])
        .select(
            dau["d"].cast("long").alias("d"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.expr("dau * 1000 DIV wau").cast("long")
            .alias("stickiness_milli"),
        )
    )


@register(
    "agg_linear_trend",
    oracle=f"""
    WITH {_EVENTS_CENTS},
    h AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS x, v AS y FROM e
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM h GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS VARCHAR)
               AS slope_num,
           CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS VARCHAR)
               AS den,
           CAST(CAST(sy * sxx - sx * sxy AS DECIMAL(38,0)) AS VARCHAR)
               AS intercept_num,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS slope_cents_per_hour
    FROM s
    """,
)
def agg_linear_trend(spark, sf_dir):
    """Exact least-squares LINEAR TREND per event type (the regr_slope /
    regr_intercept aggregate surface, restated cross-engine-exact like
    agg_corr_exact): y = cent-scaled value regressed on x = hour of day.
    The closed-form normal equations are pure integer moments —
    slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²), intercept numerator
    Σy·Σxx − Σx·Σxy over the same denominator — emitted as EXACT
    DECIMAL(38,0)/HUGEINT strings (the rational answer, hash-exact at
    any scale) plus one ROUND(double, 6) convenience slope (both engines
    convert the exact integers with correct rounding, the corr
    precedent). Spark's built-in regr_slope accumulates doubles in
    partition order and is NOT cross-engine stable — same reason
    agg_corr_exact avoids corr().

    Scale: one partial-agg shuffle to |groups| rows; all five moments
    are semigroup-mergeable so map-side combine carries the load —
    the trend of a 100 TB metric costs one pass and |groups| rows of
    DECIMAL(38,0) arithmetic."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("decimal(38,0)").alias("x"),
        F.round(F.col("value") * 100).cast("decimal(38,0)").alias("y"),
    )
    s = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    nn = F.col("n").cast("decimal(38,0)")
    slope_num = (nn * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("decimal(38,0)")
    den = (nn * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("decimal(38,0)")
    icept_num = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) \
        .cast("decimal(38,0)")
    return s.select(
        "event_type",
        "n",
        slope_num.cast("string").alias("slope_num"),
        den.cast("string").alias("den"),
        icept_num.cast("string").alias("intercept_num"),
        F.when(den == 0, F.lit(None)).otherwise(
            F.round(slope_num.cast("double") / den.cast("double"), 6)
        ).alias("slope_cents_per_hour"),
    )


@register(
    "quality_expectations",
    oracle="""
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(o_custkey) AS BIGINT) AS custkey_nonnull,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS orderkey_distinct,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS price_min_cents,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS price_max_cents,
               CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS status_violations,
               CAST(SUM(CASE WHEN o_orderdate >=
                                  TIMESTAMP '1995-01-01 00:00:00'
                              AND o_orderdate <
                                  TIMESTAMP '2002-01-01 00:00:00'
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS date_violations
        FROM orders
    )
    SELECT 'completeness:o_custkey' AS check_name,
           custkey_nonnull AS observed, n_rows AS expected,
           CAST(custkey_nonnull = n_rows AS BIGINT) AS ok FROM m
    UNION ALL
    SELECT 'uniqueness:o_orderkey', orderkey_distinct, n_rows,
           CAST(orderkey_distinct = n_rows AS BIGINT) FROM m
    UNION ALL
    SELECT 'range_min:o_totalprice_cents', price_min_cents,
           CAST(0 AS BIGINT), CAST(price_min_cents >= 0 AS BIGINT) FROM m
    UNION ALL
    SELECT 'range_max:o_totalprice_cents', price_max_cents,
           CAST(100000000 AS BIGINT),
           CAST(price_max_cents <= 100000000 AS BIGINT) FROM m
    UNION ALL
    SELECT 'in_set:o_orderstatus', status_violations, CAST(0 AS BIGINT),
           CAST(status_violations = 0 AS BIGINT) FROM m
    UNION ALL
    SELECT 'in_range:o_orderdate', date_violations, CAST(0 AS BIGINT),
           CAST(date_violations = 0 AS BIGINT) FROM m
    """,
)
def quality_expectations(spark, sf_dir):
    """Data-quality expectation suite (Deequ / Great Expectations shape,
    operators/quality.py): six declarative checks over orders —
    completeness(o_custkey), uniqueness(o_orderkey), integer-cent price
    range bounds, o_orderstatus set membership, o_orderdate window —
    verified in ONE aggregation pass (every check contributes aggregate
    expressions to a single df.agg; per-check rows explode from the
    one-row result) and reported as (check_name, observed, expected,
    ok). The naive shape is one job per check — N scans of a 100 TB
    table; this is N checks for one map-side-combinable scan, which is
    why Deequ exists as a Spark library. Reference tie-in: the
    reference's loader trusts its CSV blindly (init_db.py inserts with
    no validation); an ingest gate is what its pipeline would need
    first at scale."""
    from unfccc_documents_database_sandbox_spark.operators.quality import (
        completeness,
        expectation_report,
        max_at_most,
        min_at_least,
        no_violations,
        uniqueness,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    checks = [
        completeness("o_custkey"),
        uniqueness("o_orderkey"),
        min_at_least(cents, "o_totalprice_cents", 0),
        max_at_most(cents, "o_totalprice_cents", 100_000_000),
        no_violations(
            F.col("o_orderstatus").isin("O", "F", "P"),
            "in_set:o_orderstatus",
        ),
        no_violations(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("2002-01-01")),
            "in_range:o_orderdate",
        ),
    ]
    return expectation_report(o, checks)

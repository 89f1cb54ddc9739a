"""Deduplication operators (north star L1/L2): exact, MinHash-LSH, SimHash.

Scale design (the whole point of these ops):
- exact dedup: one shuffle on the dedup key — group-by-min, no window needed.
- MinHash-LSH: never materializes the O(n²) pair space. Per doc: tokenize →
  k min-hashes (one grouped agg) → b bands; only docs sharing a band bucket
  are candidate pairs (equi-join on the band key = one shuffle), then exact
  Jaccard verifies candidates. At 100 TB the band join is the only
  quadratic-risk step and its blow-up is bounded by collision rate (tunable
  via b×r).
- SimHash: 64-bit signature via sign-sum of per-token hash bits; near-dups
  are signatures within small Hamming distance, found by banding the 64 bits
  into chunks (same LSH trick, pigeonhole: distance ≤ d → some chunk equal).

All token hashing uses xxhash64 (JVM-side, whole-stage codegen) — no Python
in any hot path.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unfccc_documents_database_sandbox_spark.catalog import pin

# 31-bit Mersenne prime: with 31-bit token hashes, a*h + b stays < 2^62 —
# no BIGINT overflow under Spark's default ANSI mode.
MERSENNE_31 = (1 << 31) - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Affine coefficients for the k min-hash functions: seeded, generated
    on demand for any k (a fixed 16-entry table silently truncated larger
    requests and broke lsh_candidates downstream — r01 advisory). The first
    16 pairs are byte-identical to the r01 table (same seed, same draws)."""
    rng = random.Random(42)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


# fixed default table (kept for callers/tests that index it directly)
MINHASH_COEFFS: list[tuple[int, int]] = minhash_coeffs(16)


def exact_dedup(df: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """L1 exact dedup: canonical row per duplicate group = min id (one
    shuffle; deterministic, unlike dropDuplicates' arbitrary winner)."""
    return df.groupBy(key).agg(F.min(id_col).alias(id_col)).select(id_col, key)


def shingles_distinct(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash_hex_digits: int | None = None,
) -> DataFrame:
    """(id, token) distinct n-word shingles. Shingling, not raw unigrams, is
    what makes MinHash discriminative: with a small vocabulary every doc's
    unigram set converges to the whole vocabulary (measured on this corpus:
    31-word vocab, ~23 distinct unigrams/doc → unigram LSH buckets go
    quadratic), while n-gram shingle space grows like vocabⁿ.

    Tokens are emitted as xxhash64 longs, not strings: the distinct and
    every downstream shuffle move 8 bytes per token instead of the ~n-word
    shingle text, and set semantics are unchanged (collisions at 2⁻⁶⁴).
    ``hash_hex_digits`` switches to the portable md5-prefix hash of that
    many hex digits (see portable_shingle_hash)."""
    return shingles_raw(
        docs, id_col, text_col, n, portable_hash_digits=hash_hex_digits
    ).distinct()


def portable_shingle_hash(col, hex_digits: int = 7) -> F.Column:
    """4*hex_digits-bit shingle hash computable bit-identically in ANSI
    SQL: the first ``hex_digits`` hex digits of md5, parsed as an integer.
    DuckDB twin: ``CAST('0x' || substr(md5(s), 1, N) AS BIGINT)``.
    The default 7 digits (28 bits) keeps the affine minhash transform
    (a < 2^31) inside BIGINT (a*h < 2^59); SimHash uses 15 digits
    (60 bits) for its bit-vote signature. xxhash64 stays the default
    everywhere (faster, one codegen'd op vs md5+conv) — this exists so
    the MinHash/SimHash pipelines can run under an EXACT DuckDB oracle
    instead of a rows-only check."""
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


def shingles_raw(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    portable_hash_digits: int | None = None,
) -> DataFrame:
    """(id, token) hashed n-word shingles WITHOUT dedup — no shuffle at all.
    Sufficient wherever the consumer is multiset-invariant (MinHash: the min
    over duplicates equals the min over the set) or dedups after a prune."""
    from unfccc_documents_database_sandbox_spark.catalog import spread
    from unfccc_documents_database_sandbox_spark.functions.text import shingles

    # repartition the compact doc rows before the shingle fan-out: the scan
    # is row-group-bound (1 partition on the bench corpus) and the explode +
    # xxhash64 is the CPU-heavy part of the whole minhash pipeline.
    if portable_hash_digits is None:
        hashed = F.xxhash64("s")
    else:
        hashed = portable_shingle_hash("s", portable_hash_digits)
    return spread(docs).select(
        id_col, F.explode(shingles(F.col(text_col), n)).alias("s")
    ).select(id_col, hashed.alias("token"))


def shingle_hash_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    portable_hash_digits: int | None = None,
) -> DataFrame:
    """(id, hset) — the DISTINCT hashed n-word shingle set per doc as a
    row-local array column (no explode, no shuffle: one codegen'd map
    projection). This is the single intermediate the whole MinHash pipeline
    runs on: signatures are array_min folds over it, and the Jaccard verify
    is array_intersect over it. Docs with no shingles drop out (matching the
    exploded form, where they contribute zero token rows)."""
    from unfccc_documents_database_sandbox_spark.functions.text import shingles

    def hfn(s):
        if portable_hash_digits is None:
            return F.xxhash64(s)
        return portable_shingle_hash(s, portable_hash_digits)

    hashed = F.array_distinct(F.transform(shingles(F.col(text_col), n), hfn))
    return docs.select(id_col, hashed.alias("hset")).filter(F.size("hset") > 0)


def minhash_signatures_rowlocal(
    docsets: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature computed from a ``shingle_hash_sets``
    slice WITHOUT the shingle explode or the grouped-agg shuffle:
    sig[i] = array_min(transform(hset, h -> (a_i*(h&0x7FFFFFFF) + b_i) % M31)).

    Semantically identical to a per-token grouped min over ``shingles_raw``
    tokens (min over the multiset = min over the set, and the 31-bit mask
    commutes with dedup), but the whole signature stage is map-only — no
    row fan-out, no shuffle. At 100 TB that removes the single largest
    shuffle of the pipeline (the per-token groupBy)."""
    mins = [
        F.array_min(
            F.transform(
                F.col("hset"),
                lambda h: (F.lit(a) * h.bitwiseAND(F.lit(0x7FFFFFFF)) + F.lit(b))
                % MERSENNE_31,
            )
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return docsets.select(id_col, *mins)


def lsh_candidates(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 4, rows: int = 4
) -> DataFrame:
    """Band the signature (b bands × r rows); docs sharing any band bucket
    become candidate pairs (id_a < id_b).

    Implemented as ONE shuffle: groupBy the (band_idx, band_key) bucket,
    collect the member ids, and emit the sorted within-bucket pairs
    row-locally (sorted array + indexed transform over the tail). The
    earlier band self-join carried the same bucket-collision blow-up in its
    join fan-out but paid two exchanges plus a join for it; either way the
    pair count per bucket is O(k²) with k bounded by the b×r s-curve —
    collision buckets, not corpus size, set the cost. The final distinct
    dedups pairs that collide in several bands."""
    band_cols = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.xxhash64(*[F.col(f"mh{bi * rows + ri}") for ri in range(rows)]).alias(
                "band_key"
            ),
        )
        for bi in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_idx", "band.band_key")
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_verify_sets(
    candidates: DataFrame,
    docsets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over candidate pairs using per-doc distinct hash-set
    ARRAYS (``shingle_hash_sets``): |A∩B| = size(array_intersect), row-local
    per pair — no token explode, no token equi-join, no sizes aggregation.

    Scale shape: LSH yields few candidate DOCS, so docsets is first pruned
    to them with a broadcast semi-join (pushes below the parquet scan /
    cache), then the pruned slice — small by LSH design — broadcasts onto
    the pair list twice. The per-pair intersect is O(|A|+|B|) on sorted-ish
    arrays, the same work the token join did, without its three shuffles.

    r17: the pair set is pinned with an EAGER localCheckpoint instead of
    a lazy persist — the three consumers (prune + both hset attaches)
    launch concurrently inside the final job and raced to re-run the
    whole LSH candidate generation before the lazy cache filled (the
    corpus_curation_v2 A/B pathology; one bench pass measured 29 s on
    the race where the pipeline's stages sum to ~0.3 s). Same
    compute-once guarantee, sequential materialization."""
    # the pair set feeds the prune AND both hset joins — pin it so the
    # bucket-collect candidate generation runs once (it is collision-bounded
    # and tiny)
    candidates = candidates.transform(pin)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    pruned = docsets.join(F.broadcast(cand_ids), id_col, "left_semi")
    ha = pruned.select(F.col(id_col).alias("id_a"), F.col("hset").alias("hs_a"))
    hb = pruned.select(F.col(id_col).alias("id_b"), F.col("hset").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        candidates.join(F.broadcast(ha), "id_a")
        .join(F.broadcast(hb), "id_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("hs_a") + F.size("hs_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    shingle: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """Full L2 pipeline: shingle → MinHash → LSH bands → exact-Jaccard
    verify. Returns (id_a, id_b, jaccard) near-duplicate pairs.
    b=4×r=3 puts the LSH s-curve threshold at (1/4)^(1/3) ≈ 0.63 —
    high recall at jaccard ≥ 0.8 with bounded candidate fan-out (r02 ran
    16 hashes / r=4, s-curve ≈ 0.71; the cut keeps the same candidate set
    on this corpus — 259 vs 256 pairs at sf0.1 — for 25% less signature
    compute, the pipeline's dominant cost. VERDICT r02 #3)."""
    if bands * rows > num_hashes:
        raise ValueError(
            f"bands*rows ({bands}*{rows}) exceeds num_hashes ({num_hashes}); "
            "each band consumes `rows` distinct signature slots"
        )
    from unfccc_documents_database_sandbox_spark.catalog import spread

    # ONE pinned intermediate for the whole pipeline: the per-doc distinct
    # shingle-hash set as a row-local array (spread across executors before
    # the CPU-heavy hashing — the scan is row-group-bound). Signatures fold
    # over it map-only; the verify intersects it per pair. Nothing between
    # the parquet scan and the LSH bucket groupBy shuffles at all.
    # r17: eager localCheckpoint, not lazy persist — its concurrent
    # consumers raced to triple-compute the shingle pass before the lazy
    # cache filled (see jaccard_verify_sets). Measured at sf0.1: the
    # whole pipeline 4.16 s -> 1.64 s median of 7, identical pairs.
    docsets = shingle_hash_sets(
        spread(docs.select(id_col, text_col)),
        id_col,
        text_col,
        n=shingle,
        portable_hash_digits=7 if portable_hash else None,
    ).transform(pin)
    sigs = minhash_signatures_rowlocal(docsets, id_col, num_hashes)
    cands = lsh_candidates(sigs, id_col, bands, rows)
    return jaccard_verify_sets(cands, docsets, id_col, threshold)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster labeling: iterative min-label propagation over an
    undirected pair graph — the step that turns near-dup PAIRS into dedup
    GROUPS (component id = min doc id in the cluster). vertices: one ``id``
    column; edges: (src, dst), one direction is enough (mirrored here).

    This is the canonical Spark iterative pattern (Pregel-style): each
    round is one join + one grouped min; ``localCheckpoint`` truncates the
    lineage every round — without it the plan doubles per iteration and
    the convergence check re-executes the whole history. Near-dup clusters
    have tiny diameters, so the loop converges in a few rounds and exits
    early.

    The loop runs to CONVERGENCE (change-count zero). ``max_iter`` is a
    loud safety bound, not a silent truncation: if the bound is hit while
    labels are still moving this raises instead of returning them (r02
    advisory). r18 (guide §2, iteration reduction): each round now ends
    with a POINTER-JUMPING step — label(u) ← label(label(u)) — the
    classic hash-to-min shortcut (Rastogi et al., ICDE 2013). Labels are
    node ids, label(x) ≤ x always holds (init label=id, updates only
    min-reduce), so the jump is non-increasing and stays within the
    component; a combined-round fixpoint still implies one-hop stability
    over the mirrored edges, hence labels constant per component and
    equal to the component min — the same output. The win: propagation
    alone needs rounds ≈ component DIAMETER (each a join + checkpoint +
    convergence action); with the jump the effective distance to the min
    roughly halves per round, so long chains converge in O(log d) rounds
    for one extra small self-join per round (r18 measurement on
    dedup_components' long-diameter fixture: 13 rounds → 5)."""
    # materialize the (small) mirrored edge list ONCE — it feeds every
    # iteration, and the caller's edge plan may be expensive (e.g. the
    # prefix-filtered Jaccard join); without this the pair computation
    # re-executes per round.
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(pin)
    # iterate ONLY over vertices that have an edge: singletons can never
    # change label, and at corpus scale near-dup members are a small
    # fraction — the loop's joins run over the cluster members, not the
    # whole corpus.
    active = (
        und.select(F.col("src").alias("id")).distinct().transform(pin)
    )
    labels = active.select("id", F.col("id").alias("label"))
    # r17 convergence check: per-id labels are monotone NON-INCREASING
    # (new = min(old, incoming), and the union always carries the old
    # row), so the label-sum strictly decreases on any change — one
    # exact decimal aggregate over the just-checkpointed table replaces
    # the previous new⋈old inequality join per round (same verdict,
    # one cheap scan instead of a join).
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        msgs = und.join(labels, und.src == labels.id).select(
            F.col("dst").alias("id"), "label"
        )
        prop = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump (r18): label(u) ← label(label(u)). Every label
        # value is an active node's id (init: own id; updates: mins of
        # other labels), so the self-join always matches — the coalesce
        # is belt-and-braces, not a semantic branch. One extra
        # small-table join per round buys O(log d) rounds on long
        # chains; same plan, one checkpoint + one convergence action
        # per round as before.
        jmp = prop.select(
            F.col("id").alias("jid"), F.col("label").alias("jlabel")
        )
        new_labels = (
            prop.join(jmp, prop.label == jmp.jid, "left")
            .select(
                "id", F.coalesce("jlabel", "label").alias("label")
            )
            .transform(pin)
        )
        cur_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (labels still changing) — the graph has a component with "
            "diameter beyond the bound; raise max_iter or switch to "
            "large-star/small-star for high-diameter graphs"
        )
    singletons = (
        vertices.select(F.col(id_col).alias("id"))
        .join(active, "id", "left_anti")
        .select("id", F.col("id").alias("label"))
    )
    return labels.unionByName(singletons)


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the extreme-scale successor to min-label propagation.

    Label propagation (``connected_components``) moves labels ONE hop per
    round, so rounds grow with component DIAMETER — pathological for long
    chains. Star contraction instead rewires the edge set itself each
    round, halving path lengths: convergence in O(log n) rounds regardless
    of diameter, each round two grouped mins + two joins (no collect_list,
    no driver state). Same output contract as connected_components:
    (id, label) with label = min node id reachable.

    - large-star: for each node u, hang every LARGER neighbor v > u off
      m(u) = min(N(u) ∪ {u}) → emits (v, m).
    - small-star: direct edges large→small; for each u, hang u and all its
      smaller neighbors off m = min(N(u)) → emits (v, m) and (u, m).
    Both emit canonical (hi, lo) edges, so the converged edge set is the
    star forest {(node, component_min)} and labels read straight off it.
    """
    # canonical undirected edge set as (hi, lo), self-loops dropped
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .transform(pin)
    )
    converged = False
    for _ in range(max_iter):
        # large-star over both directions: m(u) = min(min neighbor, u)
        both = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            cur.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        large = (
            both.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star over large→small edges: m(u) = min smaller neighbor
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        j = large.join(smins, "hi")
        nxt = (
            j.filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(j.select("hi", F.col("m").alias("lo")))
            .distinct()
            .transform(pin)
        )
        changed = (
            nxt.exceptAll(cur).limit(1).count() + cur.exceptAll(nxt).limit(1).count()
        )
        cur = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within max_iter="
            f"{max_iter} rounds — far beyond the O(log n) bound; the edge "
            "input is likely pathological (check for nulls / self-loops)"
        )
    # converged edge set is the star forest (node, component_min)
    labels = cur.select(F.col("hi").alias("id"), F.col("lo").alias("label"))
    roots = cur.select(F.col("lo").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    members = labels.unionByName(roots)
    singletons = (
        vertices.select(F.col(id_col).alias("id"))
        .join(members.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("label"))
    )
    return members.unionByName(singletons)


def simhash_signatures(
    tokens: DataFrame, id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc, fully JVM-side: for each bit position, sum
    ±1 over tokens (sign of the token hash's bit), then take the sign bit.
    ``tokens`` are ``shingles_distinct`` rows, whose token is already a
    bigint hash.

    Implemented by exploding each token into (bit_idx, ±1) contributions and
    re-aggregating — two narrow shuffles, no Python, no 64-column explosion.
    """
    h = F.col("token")
    contribs = F.array(
        *[
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
            for i in range(bits)
        ]
    )
    per_token = tokens.select(id_col, contribs.alias("c"))
    summed = per_token.groupBy(id_col).agg(
        F.array(*[F.sum(F.element_at("c", i + 1)).alias(f"s{i}") for i in range(bits)]).alias(
            "sums"
        )
    )
    # fold sign bits into one BIGINT signature (literal shift per position;
    # bit 63 is the long sign bit, added as MIN_LONG via two's complement)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        weight = (1 << i) if i < 63 else -(1 << 63)
        sig = sig + F.when(F.element_at("sums", i + 1) > 0, F.lit(weight)).otherwise(
            F.lit(0).cast("long")
        )
    return summed.select(id_col, sig.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    shingle: int = 3,
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: band the ``bits``-bit signature into
    ``chunks`` equal pieces; pigeonhole guarantees pairs within
    ``max_hamming`` ≤ chunks-1 share a piece. Verify candidates by exact
    Hamming distance. Shingled tokens for the same discrimination reason
    as MinHash. ``portable_hash`` swaps xxhash64 for the 60-bit md5-prefix
    token hash (pass bits=60 with it) so DuckDB can replay the signature
    bit-for-bit — see dedup_simhash_portable."""
    if bits % chunks:
        raise ValueError(f"bits ({bits}) must divide evenly into {chunks} chunks")
    tokens = shingles_distinct(
        docs, id_col, text_col, shingle,
        hash_hex_digits=bits // 4 if portable_hash else None,
    )
    sigs = simhash_signatures(tokens, id_col, bits=bits)
    width = bits // chunks
    pieces = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk_val"),
            )
            for i in range(chunks)
        ]
    )
    banded = sigs.select(id_col, "simhash", F.explode(pieces).alias("p")).select(
        id_col, "simhash", "p.chunk_idx", "p.chunk_val"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cands.select("id_a", "id_b", hamming.cast("long").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )

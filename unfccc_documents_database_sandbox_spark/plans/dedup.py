"""Dedup queries (north star L1/L2) over the documents table."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from unfccc_documents_database_sandbox_spark.catalog import hold, load_table
from unfccc_documents_database_sandbox_spark.operators import dedup as D
from unfccc_documents_database_sandbox_spark.registry import register


@register(
    "dedup_exact",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, text
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark, sf_dir):
    """L1 exact dedup: canonical (min-id) row per distinct text — one
    shuffle on the text hash, no window."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_hash_sha",
    oracle="""
    SELECT sha256(text) AS text_sha, CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_hash_sha(spark, sf_dir):
    """L1 content-hash dedup ledger: at 100 TB you group on a 32-byte
    digest, not the document body (tiny shuffle payload)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2("text", 256).alias("text_sha")).agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("doc_id").cast("long").alias("keeper_id"),
    )


@register("dedup_fuzzy_minhash", oracle=None, tags=("rows-only",))
def dedup_fuzzy_minhash(spark, sf_dir):
    """L2 MinHash+LSH near-dup pairs (shingle → minhash → band → bucket
    join → exact-Jaccard verify). xxhash64 isn't portable to DuckDB →
    rows-only check; the SAME pipeline is hash-checked end to end by
    dedup_minhash_portable (md5-prefix token hash), and the Jaccard math
    by dedup_ngram_jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dups(docs, threshold=0.8)


def _minhash_portable_oracle(
    num_hashes: int = 12, bands: int = 4, rows: int = 3, threshold: float = 0.8
) -> str:
    """DuckDB twin of the FULL MinHash pipeline under the portable 28-bit
    md5 token hash (operators/dedup.py portable_shingle_hash): shingle →
    affine minhash (same seeded coefficients, inlined as literals) → band
    equality candidates → exact-Jaccard verify. Band equality replaces the
    Spark side's xxhash64 band key — a pair collides in a band iff all
    `rows` signature slots are equal, so the candidate sets coincide
    (xxhash64 band-key collisions at 2^-64 only ever ADD candidates, and
    any extra candidate is then Jaccard-verified identically)."""
    M = (1 << 31) - 1
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {M}) AS mh{i}"
        for i, (a, b) in enumerate(D.minhash_coeffs(num_hashes))
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(f"a.mh{bi * rows + ri} = b.mh{bi * rows + ri}" for ri in range(rows))
        + ")"
        for bi in range(bands)
    )
    return f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
        FROM (
            SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) words,
                 UNNEST(range(1, len(w) - 1)) AS u(i)
        )
    ),
    sigs AS (SELECT doc_id, {mins} FROM tok GROUP BY doc_id),
    cands AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({band_eq})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS ix
        FROM cands c
        JOIN tok ta ON ta.doc_id = c.id_a
        JOIN tok tb ON tb.doc_id = c.id_b AND tb.h = ta.h
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(ix AS DOUBLE) / (sa.sz + sb.sz - ix), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(ix AS DOUBLE) / (sa.sz + sb.sz - ix) >= {threshold}
    """


@register("dedup_minhash_portable", oracle=_minhash_portable_oracle())
def dedup_minhash_portable(spark, sf_dir):
    """L2 MinHash+LSH pipeline under an EXACT end-to-end oracle: same
    shingle → minhash → band → verify plan as dedup_fuzzy_minhash, with the
    token hash swapped to the SQL-portable 28-bit md5 prefix so DuckDB can
    replay every stage bit-identically — signatures, band collisions, and
    verified Jaccard all hash-checked, not rows-only. xxhash64 stays the
    production default (one codegen'd op vs md5+conv per shingle); this key
    exists to prove the pipeline, not to replace it."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dups(docs, threshold=0.8, portable_hash=True)


def _simhash_portable_oracle(
    bits: int = 60, chunks: int = 4, max_hamming: int = 3
) -> str:
    """DuckDB twin of the SimHash pipeline under the portable 60-bit md5
    token hash: per-bit ±1 votes → sign fold into one BIGINT signature →
    chunk-equality candidates (pigeonhole) → exact Hamming verify via
    bit_count(xor). The 60 per-bit SUM columns are generated, mirroring
    the Spark side's generated contribution array."""
    width = bits // chunks
    mask = (1 << width) - 1
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    fold = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    chunk_eq = " OR ".join(
        f"((a.sig >> {c * width}) & {mask}) = ((b.sig >> {c * width}) & {mask})"
        for c in range(chunks)
    )
    return f"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(s), 1, {bits // 4}) AS BIGINT) AS h
        FROM (
            SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) words,
                 UNNEST(range(1, len(w) - 1)) AS u(i)
        )
    ),
    votes AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id),
    sigs AS (SELECT doc_id, {fold} AS sig FROM votes),
    cands AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({chunk_eq})
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cands WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


@register("dedup_simhash_portable", oracle=_simhash_portable_oracle())
def dedup_simhash_portable(spark, sf_dir):
    """L2 SimHash near-dup pairs under an EXACT end-to-end oracle: same
    sign-sum signature + chunk-banded Hamming search as dedup_simhash,
    with the token hash swapped to the SQL-portable 60-bit md5 prefix so
    DuckDB replays signatures, band collisions, and Hamming distances
    bit-identically. xxhash64/64-bit stays the production default."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, max_hamming=3, bits=60, portable_hash=True)


@register("dedup_simhash", oracle=None, tags=("rows-only",))
def dedup_simhash(spark, sf_dir):
    """L2 SimHash near-dup pairs (64-bit sign-sum signature, chunk-banded
    Hamming search). xxhash64-based → rows-only check; the SAME pipeline
    is hash-checked end to end by dedup_simhash_portable."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, max_hamming=3)


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
        SELECT DISTINCT doc_id, lang, source,
               w.word || ' ' || lead(w.word) OVER
                   (PARTITION BY doc_id ORDER BY w.seq) AS gram
        FROM (
            SELECT doc_id, lang, source,
                   CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS seq,
                   unnest(string_split(text, ' ')) AS word
            FROM documents
        ) w
    ),
    grams2 AS (SELECT * FROM grams WHERE gram IS NOT NULL),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams2 GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM grams2 a JOIN grams2 b
          ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """L2 exact bigram-Jaccard near-dup pairs, blocked by (lang, source),
    with a PPJoin-style PREFIX FILTER inside each block.

    The r01 plan joined full gram sets within each block; block sizes grow
    linearly with the corpus, so the within-block join trended quadratic.
    Prefix filtering keeps the result EXACT (oracle unchanged) while
    bounding the candidate join: order each doc's grams globally by
    (document frequency, gram), keep only the rarest
    |A| - ceil(t*|A|) + 1 grams as its prefix — two docs with
    J >= t MUST share a prefix gram (pigeonhole on the canonical order) —
    then join prefixes, and verify candidates on full gram sets.
    ceil(t*sz) is computed in integer arithmetic (80*sz/100): a double
    0.8*sz can land epsilon above an exact integer and over-shrink the
    prefix, silently dropping true pairs."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return bigram_jaccard_pairs(docs, threshold_pct=80)


# Recursive transitive-closure oracle shared by BOTH cluster-labeling keys:
# component_id = min doc_id reachable through the >= 0.4 bigram-Jaccard
# pair graph. Two independent Spark implementations (one-hop label
# propagation and large-star/small-star contraction) must both hash-match it.
_COMPONENTS_ORACLE = """
    WITH RECURSIVE grams AS (
        SELECT DISTINCT doc_id, lang, source,
               w.word || ' ' || lead(w.word) OVER
                   (PARTITION BY doc_id ORDER BY w.seq) AS gram
        FROM (
            SELECT doc_id, lang, source,
                   CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS seq,
                   unnest(string_split(text, ' ')) AS word
            FROM documents
        ) w
    ),
    grams2 AS (SELECT * FROM grams WHERE gram IS NOT NULL),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams2 GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM grams2 a JOIN grams2 b
          ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.4
    ),
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
    )
    SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component_id
    FROM reach GROUP BY id
    """


@register("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark, sf_dir):
    """L2 final step: near-dup PAIRS → duplicate CLUSTERS. Edges are exact
    bigram-Jaccard >= 0.4 pairs (shared prefix-filtered builder); clusters
    come from iterative min-label propagation (operators/dedup.py::
    connected_components — the genuinely iterative, non-single-SQL-pass
    operator); every document gets component_id = min doc_id reachable
    through the pair graph (singletons label themselves). The DuckDB twin
    proves it with a recursive transitive-closure CTE."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = bigram_jaccard_pairs(docs, threshold_pct=40)
    labels = D.connected_components(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").cast("long").alias("component_id")
    )


@register("dedup_components_star", oracle=_COMPONENTS_ORACLE)
def dedup_components_star(spark, sf_dir):
    """L2 cluster labeling via large-star/small-star contraction (Kiveris
    et al., SoCC 2014) — the O(log n)-round algorithm the one-hop
    label-propagation key (`dedup_components`) names as its extreme-scale
    successor, implemented for real: label propagation needs rounds
    proportional to component DIAMETER (a 10k-doc duplicate chain = 10k
    shuffles), star contraction halves path lengths every round, so round
    count is logarithmic in component size no matter the shape. Same
    edges, same output contract, same recursive-CTE oracle — two
    independent implementations hash-matching one transitive closure."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = bigram_jaccard_pairs(docs, threshold_pct=40)
    labels = D.connected_components_star(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").cast("long").alias("component_id")
    )


@register(
    "dedup_substring",
    oracle="""
    WITH pos AS (
        SELECT doc_id, text, unnest(generate_series(1, len(text) - 19)) AS i
        FROM documents WHERE len(text) >= 20
    ),
    g AS (SELECT doc_id, substr(text, i, 20) AS gram FROM pos),
    df AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM g JOIN df USING (gram)
    GROUP BY g.doc_id
    """,
)
def dedup_substring(spark, sf_dir):
    """L2 substring-level duplication audit — the suffix-array-style
    ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022) re-expressed Spark-first at
    character-20-gram granularity: every overlapping 20-char span,
    exploded JVM-side (sequence → transform → substring, zero Python),
    scored by cross-document frequency, then rolled back up per doc as
    (total spans, spans duplicated elsewhere, integer ppm ratio — exact
    integer arithmetic at the output boundary, no FP division).

    Scale shape: the only corpus-wide shuffle groups the 20-char gram
    itself; at 100 TB the gram travels as its xxhash64 digest instead
    (8-byte shuffle payload, same counts, collision-negligible) — kept as
    the text here so the DuckDB twin stays exact. The gram stream is
    deliberately traversed twice (frequency agg + join-back) rather than
    persisted: caching the exploded grams would cost ~20× the input in
    executor memory and block the length-filter pushdown both scans get
    for free (same trade the minhash pipeline documents)."""
    docs = load_table(spark, sf_dir, "documents")
    k = 20
    grams = docs.filter(F.length("text") >= k).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {k - 1}),"
                f" i -> substring(text, i, {k}))"
            )
        ).alias("gram"),
    )
    df = grams.groupBy("gram").agg(F.count_distinct("doc_id").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            dup.cast("long").alias("n_dup_spans"),
            (dup * F.lit(1_000_000))
            .cast("long")
            .alias("_dup_scaled"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr("_dup_scaled DIV n_spans").alias("dup_ppm"),
        )
    )


def bigram_jaccard_pairs(docs, threshold_pct: int):
    """Exact bigram-Jaccard pairs >= threshold within (lang, source)
    blocks, prefix-filtered (see dedup_ngram_jaccard docstring). Shared by
    the pair query and the duplicate-cluster (connected components) query."""
    # r18 (guide §2.4): grams used to come from posexplode + a lead()
    # window over every word of every doc — one shuffle+sort of the full
    # word stream plus a distinct, and the UNPINNED subtree re-executed
    # for each of its ~5 consumers (sizes, freq, prefix, and both verify
    # sides). The same bigram set is a row-local array expression —
    # zip_with over adjacent slices of the split array, array_distinct
    # per doc (lang/source are per-doc constants, so per-doc distinct ≡
    # the old global distinct) — which runs in whole-stage codegen with
    # ZERO exchanges, so re-executing it per consumer costs a scan, not
    # a shuffle. concat_ws(" ", a, b) ≡ the old word||' '||nxt for every
    # string pair incl. empties; a one-word or empty doc yields an empty
    # array (the old lead() filter), and NULL text drops on explode
    # exactly as posexplode(split(NULL)) did. sz = size of the per-doc
    # array — the old groupBy(count) without the shuffle.
    ws = F.split("text", " ")
    glen = F.greatest(F.size(ws) - 1, F.lit(0))
    garr = F.array_distinct(
        F.zip_with(
            F.slice(ws, 1, glen),
            F.slice(ws, 2, glen),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    darr = docs.select("doc_id", "lang", "source", garr.alias("garr"))
    grams = darr.select(
        "doc_id", "lang", "source", F.explode("garr").alias("gram")
    )
    sizes = darr.select("doc_id", F.size("garr").alias("sz")).filter(
        F.col("sz") > 0
    )
    # canonical rarity order: document frequency within the block, gram text
    # as tiebreak — identical for every doc in a block, which is what the
    # prefix-filter guarantee needs.
    freq = grams.groupBy("lang", "source", "gram").agg(
        F.count(F.lit(1)).alias("gram_df")
    )
    pos_w = Window.partitionBy("doc_id").orderBy("gram_df", "gram")
    prefix_len = F.col("sz") - F.ceil(
        F.lit(threshold_pct) * F.col("sz") / F.lit(100)
    ) + 1
    prefix = (
        grams.join(freq, ["lang", "source", "gram"])
        .withColumn("pos", F.row_number().over(pos_w))
        .join(sizes, "doc_id")
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "lang", "source", "gram")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # exact verify over FULL gram sets, restricted to candidates (same-block
    # by construction, so lang/source equality is implied per pair).
    # r18 NEGATIVE result (measured, kept for the record): attaching the
    # two per-doc gram ARRAYS to each candidate pair and taking
    # size(array_intersect(..)) — no gram-stream shuffle, no sizes joins —
    # is bit-identical but SLOWER (alternating A/B at sf0.1, median of 5:
    # exploded-join verify 4.11 s vs array attach 5.23 s): ~93k candidate
    # pairs × two ~1 KB string arrays through the joins plus a per-pair
    # hash-set build lose to the codegen'd row-stream join with partial
    # aggregation. The exploded join stays.
    ga = grams.select(F.col("doc_id").alias("id_a"), "gram")
    gb = grams.select(F.col("doc_id").alias("id_b"), "gram")
    inter = (
        cands.join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b")
    jac = F.col("n_inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold_pct / 100.0)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_lines",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS idx,
               array_to_string(w[i*10+1 : i*10+10], ' ') AS chunk
        FROM words, UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
    ),
    winners AS (
        SELECT doc_id, idx, chunk,
               ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        FROM chunks
    )
    SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS text_deduped,
           CAST(COUNT(*) AS BIGINT) AS n_chunks_kept
    FROM winners WHERE rn = 1
    GROUP BY doc_id
    """,
)
def dedup_lines(spark, sf_dir):
    """L2-adjacent LINE-level dedup, the C4/Dolma cleaning step the
    doc-level pipelines don't cover: a repeated line (boilerplate, headers)
    is removed from every document except its first occurrence, keyed by
    exact line text with first = smallest (doc_id, position). The corpus
    has no newlines, so the dedup unit is each consecutive 10-word chunk —
    same mechanics, documented substitution.

    Plan: row-local chunking (sequence + slice + concat_ws — no Python),
    one shuffle on chunk text to pick winners (row_number over (chunk)
    ordered by doc_id, idx), then the standard ordered reassembly
    (collect_list of (idx, chunk) structs, array_sort, concat_ws — never
    relying on row order). At 100 TB the winner shuffle moves each chunk
    once; shuffling xxhash64(chunk) digests with a verify pass would cut
    the payload 10x further (the dedup_substring trade, noted not done
    here to keep the key oracle-exact over raw text)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    chunk_structs = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(words) / F.lit(10.0)).cast("int") - 1),
        lambda i: F.struct(
            i.cast("long").alias("idx"),
            F.concat_ws(" ", F.slice(words, i * 10 + 1, 10)).alias("chunk"),
        ),
    )
    chunks = docs.select(
        "doc_id", F.explode(chunk_structs).alias("c")
    ).select("doc_id", "c.idx", "c.chunk")
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    winners = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        winners.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("idx", "chunk"))).alias("parts"),
            F.count(F.lit(1)).cast("long").alias("n_chunks_kept"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.transform(F.col("parts"), lambda p: p["chunk"])
            ).alias("text_deduped"),
            "n_chunks_kept",
        )
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH base AS (
        SELECT sha256(text) AS digest FROM documents WHERE doc_id % 5 <> 0
    ),
    delta AS (
        SELECT doc_id, sha256(text) AS digest
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT d.doc_id, d.digest
    FROM delta d
    WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.digest = d.digest)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental (delta-vs-base) exact dedup: admit only the new-batch
    documents whose content digest is unseen in the already-ingested
    corpus — the shape every recurring crawl/ingest runs, where re-hashing
    and re-grouping the whole corpus per batch (dedup_exact's shape) would
    be O(corpus) instead of O(delta). Batch split here is doc_id mod 5 so
    both engines carve identical base/delta sets from one table.

    Scale shape: one LEFT ANTI join on a 32-byte digest — the delta side
    is small by construction, so at 100 TB this is a broadcast of the
    delta's digests against the partitioned base ledger (or a bloom-filter
    pushdown on the base scan); either way the full corpus never
    re-shuffles. The base side projects ONLY the digest column."""
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 5 != 0).select(
        F.sha2("text", 256).alias("digest")
    )
    delta = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.sha2("text", 256).alias("digest")
    )
    return delta.join(base, "digest", "left_anti").select("doc_id", "digest")


@register(
    "join_similarity_prefix",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   [ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]
               )) AS toks
        FROM words
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM grams),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
    vocab AS (
        SELECT term, ROW_NUMBER() OVER (ORDER BY df, term) AS tid FROM dfreq
    ),
    tid AS (
        SELECT tok.doc_id, vocab.tid FROM tok JOIN vocab USING (term)
    ),
    arr AS (
        SELECT doc_id, list_sort(list(tid)) AS toks, COUNT(*) AS n
        FROM tid GROUP BY doc_id
    ),
    pre AS (
        SELECT doc_id, n,
               toks[1 : CAST(n - (n + 1) // 2 + 1 AS INT)] AS prefix
        FROM arr
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT doc_id, n, unnest(prefix) AS p FROM pre) a
        JOIN (SELECT doc_id, n, unnest(prefix) AS p FROM pre) b
          ON a.p = b.p AND a.doc_id < b.doc_id
         AND a.n <= 2 * b.n AND b.n <= 2 * a.n
    ),
    verified AS (
        SELECT doc_a, doc_b,
               len(list_intersect(x.toks, y.toks)) AS n_common,
               len(x.toks) + len(y.toks)
                   - len(list_intersect(x.toks, y.toks)) AS n_union
        FROM cand
        JOIN arr x ON x.doc_id = doc_a
        JOIN arr y ON y.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(n_common * 1000000 // n_union AS BIGINT) AS jaccard_ppm
    FROM verified WHERE n_common * 2 >= n_union
    """,
)
def join_similarity_prefix(spark, sf_dir):
    """Corpus-WIDE prefix-filtered set-similarity self-join (AllPairs/
    PPJoin, Bayardo et al. WWW'07) at bigram-Jaccard >= 0.5 — the
    unblocked complement of dedup_ngram_jaccard (which prefix-filters
    INSIDE (lang, source) blocks at t=0.8): no blocking key is assumed,
    so cross-language/cross-source near-dups are still found, and the
    verify step is a row-local EXACT-BITMAP intersection count over two
    attached fixed-width bitmaps (r06; see the inline note at the bitmap
    build) instead of a grouped gram-count — no per-pair shuffle.

    Token sets are distinct word BIGRAMS (unigrams are useless here: the
    corpus vocabulary is ~31 terms, making every unigram set similar to
    every other — bigrams give a ~916-term space where Jaccard separates
    real near-dups, the same 25 pairs MinHash finds). Terms are mapped to
    dense integer ids by (df, term) rank over the VOCABULARY table (vocab
    ≪ corpus; the single-partition rank is vocabulary-sized, not
    corpus-sized — range-partition it if the vocab itself outgrows one
    task), so the canonical order becomes plain integer sort and the
    verify intersect hashes ints, not strings.

    Prefix length is the symmetric-complete Jaccard prefix
    p(x) = |x| − ceil(t·|x|) + 1, i.e. n − (n+1) DIV 2 + 1 at t=0.5.
    Completeness: if the pair's FIRST common token w (canonical order)
    sits beyond x's prefix, overlap ≤ |x| − p(x) = ceil(t|x|) − 1 <
    ceil(t/(1+t)(|x|+|y|)) whenever |x| ≥ t|y| (which J ≥ t implies), so
    any qualifying pair has w inside BOTH prefixes and the equi-join
    finds it. NOTE (r06 review fix): a previous round shipped the SHORTER
    PPJoin index prefix n − ceil(2t/(1+t)·n) + 1 on BOTH sides — that
    length is only complete when probed against the longer prefix above
    (the asymmetric index/probe split of Xiao et al.), and symmetric use
    silently drops unequal-size qualifying pairs (e.g. |x|=6, |y|=3
    sharing x's last 3 tokens: J = 0.5, disjoint short prefixes). Both
    the plan and the oracle carried the bug, so the hash check stayed
    green while recall was cut — caught by review, now pinned by a
    crafted pair in tests/test_properties.py. The size filter (J ≥ 0.5 ⇒
    sizes within 2×) still prunes BEFORE pairs materialize, and the
    bitmap verify keeps the admitted-candidate cost low.

    Scale shape: candidates come only from the equi-join on each doc's
    rarest-p tokens under the shared canonical order — the zipfian head
    never enters a prefix, so fan-out stays near-linear; verify is a
    row-local popcount fold over exact vocabulary bitmaps after two
    doc_id-keyed attach joins (~10x less data per candidate pair than
    attaching the token arrays — the r06 fix that took the verify stage
    from 32 s to ~2.5 s at sf0.1).
    The threshold test and the reported ratio are exact integer ppm, so
    the oracle twin is hash-exact. No cartesian anywhere — plan-pinned."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != F.lit("")
    )
    # clamp: a doc with zero alphabetic tokens would pass slice length -1
    # (INVALID_PARAMETER_VALUE.LENGTH at runtime) where the oracle's list
    # comprehension yields [] — greatest(.,0) makes both sides agree on []
    gram_len = F.greatest(F.size(ws) - 1, F.lit(0))
    grams = F.array_distinct(
        F.zip_with(
            F.slice(ws, 1, gram_len),
            F.slice(ws, 2, gram_len),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    # r17 NEGATIVE result: pinning the per-doc gram array before the
    # explode (so the regex tokenize runs once instead of twice across
    # the dfreq/attach branches) was A/B-measured SLOWER (median of 7:
    # 3.54 s -> 4.93 s here, 2.85 -> 3.83 on dedup_containment) — the
    # corpus-sized string-array checkpoint costs more than the saved
    # re-tokenize. Left as the double-tokenize on evidence.
    toks = spread(d).select("doc_id", F.explode(grams).alias("term"))
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.select(
        "term", F.row_number().over(Window.orderBy("df", "term")).alias("tid")
    )
    arr = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("tid")).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # arr feeds FIVE consumers (prefix explode, both sides of the
    # candidate self-join through it, and the two bitmap attaches); pt
    # feeds both self-join sides. Unpersisted, the tokenize→dfreq→rank→
    # collect chain re-runs per consumer (measured 50 s vs ~6 s at
    # sf0.1). arr is a held persist (filled eagerly by the n_vocab action
    # below); the downstream bm/pt slices are lazy held persists too (see
    # the pressure A/B note below).
    # EXACT BITMAP VERIFY (r06): the verify stage dominated the key's wall
    # time (32 s cold of a 37 s build at sf0.1) because it attached the two
    # full sorted-tid arrays (~1.4 KB each) to every one of 4.5M candidate
    # pairs — ~12 GB through the join — and ran an allocating
    # array_intersect per pair. Dense ids are bounded by the VOCABULARY
    # (|V| bigrams ≈ 1e3 here; the one extra count() action below is the
    # same dim-sized-action pattern as text_tfidf's n_docs), so each doc's
    # token SET packs into ceil(|V|/64) longs and
    # |A∩B| = Σ_w popcount(bm_a[w] & bm_b[w]) EXACTLY — identical output,
    # ~10x less data attached per pair, no per-pair allocation. If the
    # vocabulary outgrows a useful bitmap (real open-vocab corpora), flip
    # back to the sorted-array intersect: the cutover constant is the
    # attach width, ceil(|V|/64)*8 bytes vs avg_doc_tokens*8 bytes.
    arr = hold(arr)
    # |V| = max dense id, read from the PERSISTED arr (one 0.5 s action) —
    # counting the vocab table itself would re-run the whole tokenize →
    # dfreq chain, which is exactly the recompute the persist avoids
    n_vocab = arr.agg(F.max(F.array_max("toks"))).collect()[0][0] or 1
    n_words = (n_vocab + 63) // 64
    bitmap = F.expr(
        f"""transform(sequence(0, {n_words - 1}), w ->
        aggregate(filter(toks, t -> (t - 1) DIV 64 = w), 0L,
                  (acc, t) -> acc | shiftleft(1L, CAST((t - 1) % 64 AS INT))))"""
    )
    # r18: bm and pt are back to LAZY held persists. The
    # r17 eager localCheckpoints fixed a cache-fill race, but the driver
    # measured the key 3.65 -> 4.52 s, and the pressure A/B (cold_ab.py:
    # fresh JVM, heavy checkpoint-y filler keys between passes — the
    # condition the driver's interleaved 172-key bench creates, which
    # back-to-back warm A/Bs never see) confirmed the pins LOSE there:
    # eager median 4.95 s with 3.5-8.8 s swings vs lazy 4.04 s at
    # 3.6-4.6 s. The pins' materialization jobs are paid every pass and
    # their executor blocks outlive the key (freed only by driver GC),
    # while the race they guard against is intermittent — both sides
    # read arr's already-filled cache, so the re-run window is small.
    # The cand persist stays dropped (r17): the pair set has exactly one
    # consumer (the x-then-y attach chain).
    bm = hold(arr.select("doc_id", "n", bitmap.alias("bm")))
    pre = arr.select(
        "doc_id",
        "n",
        F.slice(
            "toks", 1, (F.col("n") - F.expr("(n + 1) DIV 2") + 1).cast("int")
        ).alias("prefix"),
    )
    pt = hold(pre.select("doc_id", "n", F.explode("prefix").alias("p")))
    cand = (
        pt.alias("a")
        .join(
            pt.alias("b"),
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") <= 2 * F.col("b.n"))
            & (F.col("b.n") <= 2 * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    x = bm.select(
        F.col("doc_id").alias("doc_a"),
        F.col("bm").alias("ba"),
        F.col("n").alias("na"),
    )
    y = bm.select(
        F.col("doc_id").alias("doc_b"),
        F.col("bm").alias("bb"),
        F.col("n").alias("nb"),
    )
    # NO broadcast hint on the attaches: at this SF Catalyst broadcasts the
    # 5000-row bitmap side on its own; at 100 TB the bitmap table is
    # corpus-sized (one row per doc) and MUST shuffle — hard-coding the
    # small-corpus choice would be the wrong plan at scale
    j = cand.join(x, "doc_a").join(y, "doc_b")
    n_common = F.expr(
        "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x & y)), 0, (a, c) -> a + c)"
    )
    n_union = F.col("na") + F.col("nb") - n_common
    return (
        j.select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            n_union.cast("long").alias("n_union"),
        )
        .filter(F.col("n_common") * 2 >= F.col("n_union"))
        .withColumn(
            "jaccard_ppm",
            F.expr("CAST(n_common * 1000000 DIV n_union AS BIGINT)"),
        )
    )


@register(
    "dedup_containment",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               substr(text, 1, CAST(n_chars // 2 AS INT))
        FROM documents WHERE doc_id % 5 = 0
    ),
    words AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM corpus
    ),
    grams AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   [ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]
               )) AS toks
        FROM words
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM grams),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
    vocab AS (
        SELECT term, ROW_NUMBER() OVER (ORDER BY df, term) AS tid FROM dfreq
    ),
    tid AS (
        SELECT tok.doc_id, vocab.tid FROM tok JOIN vocab USING (term)
    ),
    arr AS (
        SELECT doc_id, list_sort(list(tid)) AS toks, COUNT(*) AS n
        FROM tid GROUP BY doc_id
    ),
    pre AS (
        SELECT doc_id, n,
               toks[1 : CAST(n - (9 * n + 9) // 10 + 1 AS INT)] AS prefix
        FROM arr
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT doc_id, n, unnest(prefix) AS p FROM pre) a
        JOIN (SELECT doc_id, n, unnest(toks) AS p FROM arr) b
          ON a.p = b.p AND a.doc_id <> b.doc_id
         AND b.n * 10 >= 9 * a.n
    ),
    verified AS (
        SELECT doc_a, doc_b, x.n AS n_a,
               len(list_intersect(x.toks, y.toks)) AS n_common
        FROM cand
        JOIN arr x ON x.doc_id = doc_a
        JOIN arr y ON y.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000000 // n_a AS BIGINT) AS containment_ppm
    FROM verified WHERE n_common * 10 >= 9 * n_a
    """,
)
def dedup_containment(spark, sf_dir):
    """CONTAINMENT near-dup join (asymmetric Jaccard, C(A→B) =
    |A∩B|/|A| ≥ 0.9) — the truncation-duplicate detector: a crawl
    re-fetch cut mid-document, a quoted excerpt, or a paywalled preview
    is CONTAINED in its source but their symmetric Jaccard can be
    arbitrarily low, so the Jaccard keys (dedup_ngram_jaccard,
    join_similarity_prefix) structurally cannot find it. The fixture
    makes the shape real: every doc_id%5=0 document gets a half-length
    truncated twin (doc_id+100000), and the key reports each contained
    doc with its container and exact containment ppm.

    Prefix completeness for CONTAINMENT: if C(A→B) ≥ τ, then A shares
    ≥ ceil(τ|A|) tokens with B, so A's first common token in the
    canonical (df, term) order lies within its first
    |A| − ceil(τ|A|) + 1 tokens — the PROBE prefix; B is indexed by its
    FULL token list (containment puts no upper bound on |B|, so B has
    no prefix to hide behind — the honest asymmetry of the problem).
    Because the canonical order is ascending document frequency, probe
    prefixes are each doc's RAREST tokens, so the equi-join fan-out
    stays near-linear; the size guard |B| ≥ τ|A| prunes before pairs
    materialize, and the verify is the join_similarity_prefix bitmap
    popcount fold (exact, row-local, no per-pair shuffle). All
    thresholds are integer compares (n_common*10 ≥ 9*n_a) — hash-exact
    against the DuckDB replay.

    Scale: probe side ~0.1|A|+1 tokens/doc, index side one posting per
    (doc, token) — the same posting table an inverted index ships; at
    100 TB both sides partition on the token id and the zipfian head
    never enters a probe prefix."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = load_table(spark, sf_dir, "documents")
    twins = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, CAST(n_chars DIV 2 AS INT))").alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(twins)
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != F.lit("")
    )
    gram_len = F.greatest(F.size(ws) - 1, F.lit(0))
    grams = F.array_distinct(
        F.zip_with(
            F.slice(ws, 1, gram_len),
            F.slice(ws, 2, gram_len),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    # r17: gram-array pre-pin rejected on measurement — see the negative
    # result note in join_similarity_prefix
    toks = spread(corpus).select("doc_id", F.explode(grams).alias("term"))
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.select(
        "term", F.row_number().over(Window.orderBy("df", "term")).alias("tid")
    )
    arr = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("tid")).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    arr = hold(arr)
    n_vocab = arr.agg(F.max(F.array_max("toks"))).collect()[0][0] or 1
    n_words = (n_vocab + 63) // 64
    bitmap = F.expr(
        f"""transform(sequence(0, {n_words - 1}), w ->
        aggregate(filter(toks, t -> (t - 1) DIV 64 = w), 0L,
                  (acc, t) -> acc | shiftleft(1L, CAST((t - 1) % 64 AS INT))))"""
    )
    # r18: back to a lazy held persist — the r17 eager
    # localCheckpoint regressed the key in the driver's bench (2.94 ->
    # 4.92 s) and the pressure A/B measured the two shapes tied on
    # median (4.44 vs 4.46 s) with the eager pin swinging worse
    # (max 6.24 vs 4.94 s); see join_similarity_prefix's note.
    bm = hold(arr.select("doc_id", "n", bitmap.alias("bm")))
    # probe prefix: |A| - ceil(0.9|A|) + 1 rarest tokens of each doc
    probe = arr.select(
        "doc_id",
        "n",
        F.slice(
            "toks", 1,
            (F.col("n") - F.expr("(9 * n + 9) DIV 10") + 1).cast("int"),
        ).alias("prefix"),
    ).select("doc_id", "n", F.explode("prefix").alias("p"))
    index = arr.select("doc_id", "n", F.explode("toks").alias("p"))
    cand = (
        probe.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.n") * 10 >= 9 * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    x = bm.select(
        F.col("doc_id").alias("doc_a"), F.col("bm").alias("ba"),
        F.col("n").alias("n_a"),
    )
    y = bm.select(F.col("doc_id").alias("doc_b"), F.col("bm").alias("bb"))
    j = cand.join(x, "doc_a").join(y, "doc_b")
    n_common = F.expr(
        "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x & y)), 0, (a, c) -> a + c)"
    )
    return (
        j.select(
            "doc_a", "doc_b",
            F.col("n_a").cast("long").alias("n_a"),
            n_common.cast("long").alias("n_common"),
        )
        .filter(F.col("n_common") * 10 >= 9 * F.col("n_a"))
        .withColumn(
            "containment_ppm",
            F.expr("CAST(n_common * 1000000 DIV n_a AS BIGINT)"),
        )
    )

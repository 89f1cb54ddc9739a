"""Text-analysis queries (north star L4): token stats, language-ID
heuristic, token counting, document fingerprinting. All JVM-side built-ins.

Reference tie-in: tiktoken (requirements.txt:67) implies token counting;
the quality/lang heuristics are the standard training-data-pipeline ops
mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from unfccc_documents_database_sandbox_spark.catalog import load_table, pin
from unfccc_documents_database_sandbox_spark.functions.text import (
    STOPWORDS,
    quality_score,
)
from unfccc_documents_database_sandbox_spark.registry import register
_STOP_SQL = "['" + "', '".join(STOPWORDS) + "']"


@register(
    "text_funcs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS words,
               length(text) AS n_ch
        FROM documents
    ),
    m AS (
        SELECT doc_id, text, words, n_ch,
               CAST(len(words) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(words)) AS BIGINT) AS n_uniq,
               CAST(len(list_filter(words, w -> list_contains({_STOP_SQL}, w)))
                    AS BIGINT) AS n_stop
        FROM t
    )
    SELECT doc_id,
           n_tokens,
           n_uniq,
           ROUND(CAST(n_ch - n_tokens + 1 AS DOUBLE) / n_tokens, 6)
               AS avg_token_len,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_re_tokens,
           ROUND((
               (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.01
                      AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.6
                     THEN 1.0 ELSE 0.0 END)
             + LEAST(CAST(n_uniq AS DOUBLE) / n_tokens * 2, 1.0)
           ) / 3, 6) AS quality
    FROM m
    """,
)
def text_funcs(spark, sf_dir):
    """L4 per-document text-analysis surface in one projection (consolidated
    from the r01/r02 text_stats / token_count / text_quality keys per
    VERDICT r02 #2 — all three operator classes stay in the plan and the
    oracle under one registry key):

    - quality stats: token count, distinct tokens, mean token length
      (exact int arithmetic / one division), stopword ratio
    - token counting: whitespace tokens (= n_tokens) + BPE-ish regex word
      pieces (reference dep: tiktoken, requirements.txt:67)
    - composite quality score (length band + stopword sanity + token
      diversity) — the standard pretraining filter trio as one expression
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tokens = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_uniq"),
        F.round(
            (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 6
        ).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stop_ratio"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).cast("long").alias(
            "n_re_tokens"
        ),
        quality_score("text").alias("quality"),
    )


def text_stats(spark, sf_dir):
    """L4 per-document quality stats — bench-harness builder (BASELINE.md's
    headline list predates the text_funcs consolidation; bench.py keeps
    timing this exact plan under its original name)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tokens = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_uniq"),
        F.round(
            (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 6
        ).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stop_ratio"),
    )


@register(
    "lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN CAST(len(list_filter(words, w -> list_contains({_STOP_SQL}, w)))
                     AS DOUBLE) / len(words) >= 0.1
                THEN 'en' ELSE 'other' END AS predicted_lang
    FROM t
    """,
)
def lang_id(spark, sf_dir):
    """L4 language-ID heuristic: English stopword density ≥ 10% → 'en'.
    (An n-gram profile model follows the same shape: per-token lookup in a
    broadcast profile map, grouped score.)"""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast(
        "double"
    ) / F.size(words)
    return d.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.1, F.lit("en")).otherwise(F.lit("other")).alias(
            "predicted_lang"
        ),
    )


@register(
    "text_top_ngrams",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS seq,
               unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY seq) AS gram
        FROM w
    ),
    d AS (SELECT DISTINCT doc_id, gram FROM g WHERE gram IS NOT NULL)
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM d GROUP BY gram
    ORDER BY doc_freq DESC, gram LIMIT 20
    """,
)
def text_top_ngrams(spark, sf_dir):
    """L4 corpus vocabulary stats: top-20 bigrams by DOCUMENT frequency
    (distinct per doc, so hot documents don't dominate). One explode + one
    distinct + one agg + TakeOrdered — the shape that survives a corpus-
    scale vocabulary sweep. Ties broken by gram text."""
    from pyspark.sql import Window

    from unfccc_documents_database_sandbox_spark.catalog import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy("seq")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("seq", "word")
    )
    grams = (
        words.withColumn("nxt", F.lead("word").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "word", "nxt").alias("gram"))
        .distinct()
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "gram")
        .limit(20)
    )


@register(
    "text_length_hist",
    oracle="""
    SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def text_length_hist(spark, sf_dir):
    """L4 corpus diagnostics: document-length histogram in 100-char
    buckets — the first chart anyone draws over a new training corpus.
    Map-side partial counts make this one tiny shuffle at any scale."""
    from unfccc_documents_database_sandbox_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 100) * 100).cast("long")
    return d.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@register(
    "text_pii_scrub",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or 555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z0-9.]+'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}'))
                AS BIGINT) AS n_phones
    FROM aug
    """,
)
def text_pii_scrub(spark, sf_dir):
    """L4 PII redaction — the standard pretraining scrub pass: replace
    email- and phone-shaped spans, count redactions per document. The
    corpus text is PII-free, so a deterministic synthetic contact line
    (derived from doc_id, identical in both engines) is appended first —
    the scrub is then provably exercised on every row, not vacuously green.
    Patterns stick to char-classes + bounded repeats so Java regex (Spark)
    and RE2 (DuckDB) agree. One narrow pass, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email, phone = "[a-z0-9.]+@[a-z0-9.]+", "[0-9]{3}-[0-9]{4}"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all(raw, F.lit(email), 0)).cast("long").alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(raw, F.lit(phone), 0)).cast("long").alias(
            "n_phones"
        ),
    )


@register(
    "text_repetition",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    c AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY doc_id, word),
    m AS (SELECT doc_id, MAX(n) AS max_n, SUM(n) AS n_tok FROM c GROUP BY doc_id)
    SELECT doc_id,
           CAST(max_n AS BIGINT) AS top_token_n,
           ROUND(CAST(max_n AS DOUBLE) / n_tok, 6) AS rep_ratio,
           CAST(CASE WHEN CAST(max_n AS DOUBLE) / n_tok <= 0.2 THEN 1 ELSE 0 END
                AS BIGINT) AS keep
    FROM m
    """,
)
def text_repetition(spark, sf_dir):
    """L4 repetition filter (Gopher/C4-style quality rule): the most
    frequent token's share of the document; docs where one token exceeds
    20% are flagged for drop. explode → per-(doc, word) count → per-doc
    max/sum — both aggs combine map-side, so the shuffles move counts, not
    tokens."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.max("n").alias("max_n"), F.sum("n").alias("n_tok")
    )
    ratio = F.col("max_n").cast("double") / F.col("n_tok")
    return per_doc.select(
        "doc_id",
        F.col("max_n").cast("long").alias("top_token_n"),
        F.round(ratio, 6).alias("rep_ratio"),
        F.when(ratio <= 0.2, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("keep"),
    )


@register(
    "contamination_check",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang,
               (doc_id * 2654435761) % 4294967296 < 429496730 AS is_test,
               sha256(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS fingerprint
        FROM documents
    )
    SELECT doc_id, lang FROM fp
    WHERE NOT is_test
      AND fingerprint IN (SELECT fingerprint FROM fp WHERE is_test)
    """,
)
def contamination_check(spark, sf_dir):
    """L4 train/eval decontamination: hash-split the corpus 90/10 (same
    multiplicative hash as sample_hash_mod, so the split is reproducible),
    fingerprint every document (sorted distinct token set — catches the
    corpus's planted near-dups, which share token sets), and flag train
    documents whose fingerprint appears in the held-out split. A broadcast
    left-semi join on a 32-byte digest: the test side is 10% of doc COUNT
    but only digests travel, so at 100 TB the probe is a bloom-filter-sized
    broadcast, not a data shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    fp = d.select(
        "doc_id",
        "lang",
        (bucket < 429496730).alias("is_test"),
        F.sha2(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))),
            256,
        ).alias("fingerprint"),
    )
    test_fps = fp.filter(F.col("is_test")).select("fingerprint")
    return (
        fp.filter(~F.col("is_test"))
        .join(F.broadcast(test_fps), "fingerprint", "left_semi")
        .select("doc_id", "lang")
    )


@register(
    "doc_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_transform(
                   string_split(text, ' '),
                   t -> CAST('0x' || substr(md5(t), 1, 7) AS BIGINT)),
               (a, x) -> (a * 1000003 + x) % 2147483647) AS rhash
    FROM documents
    """,
)
def doc_rolling_hash(spark, sf_dir):
    """L4 order-sensitive polynomial rolling hash over tokens, re-oracled
    (VERDICT r14 #4) under PUBLISHED parameters: Horner fold
    h ← (h·1000003 + tok) mod 2^31−1 over the 28-bit md5-prefix token
    hash — every step exact int64 arithmetic DuckDB replays
    bit-identically (functions/text.rolling_hash_portable; the twin is
    one list_reduce). The xxhash64-seeded variant (`rolling_hash`)
    stays the production hot path — one codegen'd op per token vs
    md5+conv — with its order-sensitivity property-tested in
    tests/test_functions.py; this key now carries the exact oracle the
    fingerprint semantics deserve instead of a rows-only check."""
    from unfccc_documents_database_sandbox_spark.functions.text import (
        rolling_hash_portable,
    )

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_hash_portable("text").alias("rhash"))


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """L4 document fingerprint: content-defined digest of the sorted
    distinct token set (order-insensitive near-identity; the rolling-hash
    variant lives in operators/dedup.simhash_signatures)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))), 256
        ).alias("fingerprint"),
    )


@register(
    "pack_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id, doc_id % 8 AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    o AS (
        SELECT doc_id, shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tok_offset
        FROM t
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, tok_offset,
           CAST(tok_offset // 512 AS BIGINT) AS seq_id,
           CAST(CASE WHEN (tok_offset + n_tokens - 1) // 512 > tok_offset // 512
                THEN 1 ELSE 0 END AS BIGINT) AS straddles
    FROM o
    """,
)
def pack_sequences(spark, sf_dir):
    """Training-sequence packing — concat-and-chunk document→sequence
    assignment for a fixed token budget (512), the GPT-style pretraining
    batching step. Every doc gets its token offset inside its shard's
    concatenated stream (windowed cumulative sum, exclusive), the id of
    the 512-token training sequence its first token lands in, and whether
    it straddles a sequence boundary. All integer arithmetic (exact).

    Scale shape: global packing is inherently sequential, so the stream is
    sharded FIRST (doc_id mod 8 here; at 100 TB one shard per output file
    ≈ tens of thousands) — the windowed cumsum then partitions BY SHARD,
    i.e. every shard packs independently in parallel and no global sort or
    single-reducer bottleneck exists. Token counts are whitespace tokens
    (same rule as `text_funcs`; swap in a BPE UDF behind the same column
    contract for real tokenizers)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    budget = 512
    t = d.select(
        "doc_id",
        F.pmod("doc_id", F.lit(8)).cast("long").alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t.withColumn(
        "tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return o.select(
        "doc_id",
        "shard",
        "n_tokens",
        "tok_offset",
        F.expr(f"tok_offset DIV {budget}").alias("seq_id"),
        F.expr(
            f"CAST(CASE WHEN (tok_offset + n_tokens - 1) DIV {budget}"
            f" > tok_offset DIV {budget} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("straddles"),
    )


@register(
    "text_keyterms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE word <> '' GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.word, t.tf, f.df,
               t.tf * (n.n_docs - f.df) AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY t.tf * (n.n_docs - f.df) DESC, t.word
               ) AS rn
        FROM tf t JOIN dfreq f ON t.word = f.word CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, CAST(score AS BIGINT) AS score
    FROM scored WHERE rn <= 3
    """,
)
def x_text_keyterms(spark, sf_dir):
    """L4 keyword extraction — the TF-IDF pipeline shape (tokenize → per-doc
    term frequency → corpus document frequency → weighted rank) with a
    pure-integer rarity weight, score = tf * (n_docs - df): monotone in term
    frequency and in corpus rarity like tf*log(N/df), but exact bigint
    arithmetic, so the cross-engine hash is bit-stable (log() differs in the
    last ulp between libm implementations). Top-3 terms per document,
    word-tiebroken.

    Scale shape: the tf agg combines map-side before its shuffle; df
    aggregates the already-distinct (doc, word) pairs; the one-row corpus
    count broadcasts via a literal-key join (never .collect()); the
    per-doc rank partitions by doc_id. At 100 TB swap the weight for a real
    log-idf computed Spark-side only (one engine, ulp-stability moot).
    """
    from pyspark.sql import Window

    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = load_table(spark, sf_dir, "documents")
    toks = spread(d).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    # r17: tf feeds BOTH dfreq and the scored join — pin it eagerly so
    # the explode+aggregate runs once (the text_bm25/text_tfidf pattern)
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).transform(pin)
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).withColumn(
        "k", F.lit(1)
    )
    scored = (
        tf.join(dfreq, "word")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(n_docs), "k")
        .withColumn("score", F.col("tf") * (F.col("n_docs") - F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tf", "df", F.col("score").cast("long").alias("score"))
    )


@register(
    "corpus_pipeline",
    oracle="""
    WITH base AS (
        SELECT doc_id, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    quality AS (
        SELECT * FROM base WHERE n_tokens BETWEEN 30 AND 5000
    ),
    deduped AS (
        SELECT * FROM quality
        WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY text)
    ),
    decontam AS (
        SELECT * FROM deduped
        WHERE CAST(('0x' || substr(md5(text), 1, 7))::BIGINT AS BIGINT) % 100 >= 2
    )
    SELECT stage, n_docs, n_tokens FROM (
        SELECT 'a_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM base
        UNION ALL
        SELECT 'b_quality', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_tokens) AS BIGINT) FROM quality
        UNION ALL
        SELECT 'c_exact_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_tokens) AS BIGINT) FROM deduped
        UNION ALL
        SELECT 'd_decontam', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_tokens) AS BIGINT) FROM decontam
    )
    """,
)
def corpus_pipeline(spark, sf_dir):
    """The composed pretraining-data funnel — the reference's two pipelines
    are linear multi-stage flows (SURVEY §3), and this key proves OUR
    stages compose the same way: raw corpus → quality gate (token-count
    band) → exact dedup (canonical = min doc_id per text) → eval-split
    decontamination (drop docs whose SQL-portable md5 bucket lands in the
    2% eval split — the predicate form of contamination_check's digest
    semi-join). Output is the stage funnel (stage, n_docs, n_tokens), the
    per-stage audit a production cleaning run reports.

    Every stage is lazy narrow/one-shuffle work over the same scan —
    Catalyst collapses the funnel into four aggregates over shared
    subplans; nothing materializes driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "text", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    quality = base.filter(F.col("n_tokens").between(30, 5000))
    canon = quality.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    deduped = quality.join(canon, ["text", "doc_id"], "left_semi")
    bucket = F.conv(F.substring(F.md5("text"), 1, 7), 16, 10).cast("long") % 100
    decontam = deduped.filter(bucket >= 2)

    def stage(name, df):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select("stage", "n_docs", "n_tokens")

    return (
        stage("a_input", base)
        .unionByName(stage("b_quality", quality))
        .unionByName(stage("c_exact_dedup", deduped))
        .unionByName(stage("d_decontam", decontam))
    )


@register(
    "index_inverted",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.term
        FROM documents,
             UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
        WHERE t.term <> ''
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM tok GROUP BY term
    """,
)
def index_inverted(spark, sf_dir):
    """Inverted index build (term -> document-frequency + sorted posting
    list): the retrieval-side sibling of text_keyterms, and the backbone of
    corpus search / contamination lookup over a training set. Tokenization
    is lower-cased alpha runs, identical regex both engines.

    Scale shape: the per-doc DISTINCT happens row-locally (array_distinct
    before the explode — no (doc, term) shuffle for dedup), so the only
    exchange is the term-keyed aggregate, which map-side combines. Posting
    lists stay distributed by term; the comma-joined string is the
    oracle-comparable surface, array_sort (not sort-within-shuffle) makes
    the list order deterministic. At 100 TB the term key is zipfian —
    AQE skew-split handles the head terms, or cap postings with a
    slice(...) if the index feeds a bounded-candidate consumer."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = load_table(spark, sf_dir, "documents")
    toks = spread(d).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda t: t != F.lit(""),
                )
            )
        ).alias("term"),
    )
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


_BM25_QUERIES = [
    ("q_join", "join"), ("q_join", "merge"),
    ("q_pipeline", "data"), ("q_pipeline", "query"),
    ("q_scan", "scan"), ("q_scan", "filter"), ("q_scan", "slow"),
]

# BM25 in exact integer arithmetic (see text_bm25): per-term score
# idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with k1=6/5, b=3/4,
# avgdl=L/N, multiplied through by 20L so numerator and denominator are
# exact bigints; idf is the log-free Robertson ratio of text_tfidf,
# floor-scaled to integer thousandths. DIV (Spark) and // (DuckDB) are
# both integer floor division on the positive domain.
_BM25_TERM_MILLI = (
    "((((2 * n_docs - 2 * df + 1) * 1000) DIV (2 * df + 1))"
    " * tf * 44 * l_tokens)"
    " DIV (20 * l_tokens * tf + 6 * l_tokens + 18 * dl * n_docs)"
)


@register(
    "text_bm25",
    oracle=f"""
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
    q(qid, term) AS (VALUES {", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)}),
    scored AS (
        SELECT q.qid, tf.doc_id,
               CAST(SUM({_BM25_TERM_MILLI.replace("DIV", "//")})
                    AS BIGINT) AS score_milli
        FROM tf
        JOIN q   USING (term)
        JOIN dfx USING (term)
        JOIN dl  USING (doc_id), tot, nd
        GROUP BY q.qid, tf.doc_id
    )
    SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_milli
    FROM (SELECT qid, doc_id, score_milli,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score_milli DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def text_bm25(spark, sf_dir):
    """BM25 retrieval ranking (Robertson et al., TREC-3) — top-5 documents
    per query over the corpus, the scoring head on index_inverted's
    posting lists and the relevance primitive of contamination lookup /
    quality retrieval over a training set. Integer-exact twin: the score
    is computed entirely in bigint thousandths — k1=6/5 and b=3/4 are
    exact rationals, the per-term fraction is multiplied through by 20L
    (L = corpus token count) so both numerator and denominator are exact
    integers, and the idf is text_tfidf's log-free Robertson ratio
    (2N-2df+1)/(2df+1) floor-scaled by 1000 — so Spark's DIV and DuckDB's
    // floor identically and the hash comparison is exact (a float BM25
    would differ in the last ulp across engines' ln/sum orders).

    Scale shape: the 7-row query list and the vocabulary-sized df table
    broadcast to the (doc, term) side — tf rows not matching any query
    term are pruned by the broadcast hash join BEFORE the only corpus
    shuffle, the doc_id join against per-doc lengths; corpus totals (N,
    L) attach as 1-row broadcast scalars. Top-5 per query partitions the
    window by qid. At 100 TB the tf/dl build is the inverted-index pass
    (term-keyed, map-side combined); integer magnitudes hold through
    ~1e12 tokens (idf*tf*44*L < 2^63), beyond which the scale constants
    shed a zero."""
    return bm25_ranked(spark, sf_dir, 5)


def bm25_ranked(spark, sf_dir, k):
    """The BM25 scoring pipeline behind text_bm25, with a parameterized
    rank cutoff so retrieval consumers (search_hybrid_rrf's lexical leg)
    reuse the identical integer-exact scorer. Extracting this helper
    changes text_bm25's builder object, so text_bm25 is promoted back
    into the DUE window for re-evidence (the X200 changed-builder rule)
    even though plan and results are bit-identical."""
    from pyspark.sql import Window

    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    # r17 (guide §2.4): tf is the ONLY reader of the token explode — dl
    # (per-doc token count) and tot (corpus token count) are exact
    # integer marginals of tf (Σ tf per doc / overall), so the explode +
    # (doc,term) aggregate runs ONCE instead of three times; tf is
    # pinned eagerly because its four readers (dfx, dl, tot, scored)
    # share no subplan otherwise (no cross-branch CSE).
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .transform(pin)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    tot = tf.agg(F.sum("tf").cast("long").alias("l_tokens"))
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    qdf = spark.createDataFrame(_BM25_QUERIES, "qid string, term string")
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfx), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nd))
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.expr(_BM25_TERM_MILLI)).cast("long").alias("score_milli"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_milli").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "doc_id", "score_milli")
    )


_URL_RAW_SQL = """
    'HTTPS://WWW.' || source || '.Example.COM/Docs/'
    || CAST(doc_id % 40 AS VARCHAR)
    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN '?utm_source=feed&utm_id=' || CAST(doc_id AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN '#sec' || CAST(doc_id % 7 AS VARCHAR)
            ELSE '' END
"""

_URL_ORACLE = f"""
WITH raw AS (
    SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
),
norm AS (
    SELECT doc_id, url,
           regexp_replace(
               regexp_replace(
                   replace(
                       regexp_replace(lower(url), '#.*$', ''),
                       'https://www.', 'https://'),
                   '\\?utm_[^#]*$', ''),
               '/$', '') AS curl
    FROM raw
)
SELECT curl,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM norm GROUP BY curl
"""


@register("url_normalize", oracle=_URL_ORACLE)
def url_normalize(spark, sf_dir):
    """URL CANONICALIZATION DEDUP — the first pass of every web-scale
    training-data pipeline (CommonCrawl dedup keys on the canonical URL
    before any content hashing): scheme/host lowercasing, fragment
    stripping, utm_* tracking-parameter removal, www. folding, and
    trailing-slash trimming collapse the crawl's many spellings of one
    resource into a canonical key, then a groupBy counts coverage per
    canonical URL (n_docs, distinct raw variants, an exact content
    checksum). The messy URLs are derived deterministically from
    documents (doc_id % 40 target paths, so ~12 raw spellings collide
    per canonical key) in BOTH engines; each normalization step is an
    anchored regexp both regex dialects evaluate identically, applied in
    the same order — hash-green means the canonicalization chain is
    bit-exact, not just similar.

    Scale: normalization is a stateless scan-stage projection (zero
    shuffle, whole-stage codegen); the shuffles are the groupBy on the
    canonical key — exactly the partitioner a crawl dedup wants, since
    all variants of a URL land in one task — plus the second exchange
    COUNT(DISTINCT raw) needs (both partial-aggregate map-side). At
    100 TB this replaces a per-URL Python parse (urllib row-at-a-time)
    with JVM regex over dictionary-encoded parquet strings."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."), F.col("source"),
            F.lit(".Example.COM/Docs/"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, "/").otherwise(""),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("?utm_source=feed&utm_id="),
                         F.col("doc_id").cast("string")),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("#sec"), (F.col("doc_id") % 7).cast("string")),
            ).otherwise(""),
        ).alias("url"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.replace(
                F.regexp_replace(F.lower(F.col("url")), "#.*$", ""),
                F.lit("https://www."), F.lit("https://"),
            ),
            r"\?utm_[^#]*$", "",
        ),
        "/$", "",
    )
    return (
        raw.withColumn("curl", curl)
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_variants"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
    )


# --- CCNet-style character-n-gram language-ID gate (r15, VERDICT r14
# #8). Profiles, OOV costs, and planted docs are pinned in
# functions/langid.py and BOTH sides of the oracle are generated from
# the same constants — the single-source-of-truth discipline of the
# pinned-codebook ANN twins (X76/X102). ---

def _lang_id_oracle() -> str:
    from unfccc_documents_database_sandbox_spark.functions import langid as L

    return f"""
    WITH u AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES
        {L.oracle_planted_values()}) t(doc_id, lang, text)
    ),
    norm AS (
        SELECT doc_id, lang,
               ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'))
                   || ' ' AS s
        FROM u
    ),
    g AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, length(s)),
                                     i -> substr(s, i, 2))) AS gram
        FROM norm
    ),
    l AS (SELECT * FROM (VALUES {L.oracle_oov_values()}) t(plang, oov)),
    p AS (SELECT * FROM (VALUES
        {L.oracle_profile_values()}) t(plang, gram, cost)),
    c AS (
        SELECT g.doc_id, g.lang, l.plang,
               SUM(coalesce(p.cost, l.oov)) AS cost
        FROM g CROSS JOIN l
        LEFT JOIN p ON p.plang = l.plang AND p.gram = g.gram
        GROUP BY 1, 2, 3
    ),
    piv AS (
        SELECT doc_id, lang,
            CAST(MAX(CASE WHEN plang = 'en' THEN cost END) AS BIGINT) AS cost_en,
            CAST(MAX(CASE WHEN plang = 'es' THEN cost END) AS BIGINT) AS cost_es,
            CAST(MAX(CASE WHEN plang = 'fr' THEN cost END) AS BIGINT) AS cost_fr
        FROM c GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, cost_en, cost_es, cost_fr,
           CASE WHEN cost_en <= cost_es AND cost_en <= cost_fr THEN 'en'
                WHEN cost_es <= cost_fr THEN 'es' ELSE 'fr' END AS lang_pred,
           CAST(CASE WHEN lang = (
                CASE WHEN cost_en <= cost_es AND cost_en <= cost_fr THEN 'en'
                     WHEN cost_es <= cost_fr THEN 'es' ELSE 'fr' END)
                THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
    FROM piv
    """


@register("text_lang_id", oracle=_lang_id_oracle())
def text_lang_id(spark, sf_dir):
    """L4 language-ID GATE (CCNet-style, r15): score every document
    against pinned per-language character-bigram profiles (integer
    log-thousandth costs, functions/langid.py), predict the cheapest
    language, and keep the doc only when the prediction matches its
    claimed ``lang`` tag — the filter that validates a trusted language
    column before pretraining. Planted genuine-language docs (derived
    union, oracle-mirrored) make the gate's keep/drop decisions
    hash-checkable: three planted docs claim their true language
    (keep_flag=1), three claim a wrong one (keep_flag=0).

    Scale (r17 rewrite — guide §4.1): the scorer is a gram explode +
    91-row broadcast profile join + ONE map-side-combinable grouped
    integer sum (langid.score_costs) — every stage whole-stage-codegen.
    The previous interpreted aggregate() fold cost ~450 ns per
    gram-step no matter how the lookup was expressed (literal map or
    729-slot array — both measured r17); the codegen path is 1.4x
    faster with 5x less run-to-run variance. The explode fan-out
    collapses back to one row per doc in the partial aggregate before
    the exchange, so the only shuffle carries (doc_id, lang, 3 longs)
    per doc."""
    from unfccc_documents_database_sandbox_spark.functions import langid as L

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    planted = spark.createDataFrame(
        list(L.PLANTED_DOCS), "doc_id long, lang string, text string"
    )
    # spread before the explode-heavy scorer: a row-group-bound scan
    # hands the gram fan-out ONE partition (the multimodal/r05 lesson);
    # the guard makes this a no-op on an already-parallel scan
    from unfccc_documents_database_sandbox_spark.catalog import spread

    u = spread(docs.unionByName(planted))
    scored = L.score_costs(u)
    pred = (
        F.when(
            (F.col("cost_en") <= F.col("cost_es"))
            & (F.col("cost_en") <= F.col("cost_fr")),
            F.lit("en"),
        )
        .when(F.col("cost_es") <= F.col("cost_fr"), F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return scored.withColumn("lang_pred", pred).withColumn(
        "keep_flag",
        (F.col("lang_pred") == F.col("lang")).cast("long"),
    )


@register(
    "corpus_split",
    oracle="""
    WITH b AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)),
                                    1, 7)) AS BIGINT) % 1000 AS bucket
        FROM documents
    ),
    s AS (
        SELECT lang,
               CASE WHEN bucket < 900 THEN 'train'
                    WHEN bucket < 950 THEN 'val'
                    ELSE 'test' END AS split,
               n_tokens
        FROM b
    )
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM s GROUP BY lang, split
    """,
)
def corpus_split(spark, sf_dir):
    """Deterministic train/val/test corpus split (r15) — the standard
    pretraining splitter: every document lands in exactly one of
    train (90%) / val (5%) / test (5%) by a salted md5 bucket of its
    STABLE id, so re-runs, re-shards, and later crawl batches assign
    identically (no RNG, no state — the split IS a pure function, which
    is what makes eval decontamination auditable). The salt versions the
    split: bump it and the whole corpus re-splits, orthogonal to data
    layout. Output is the per-(lang, split) stratification audit —
    n_docs and token mass — the table a training run reports to verify
    no language is starved in val/test.

    Scale: one narrow projection (the md5 bucket is row-local JVM) and
    ONE aggregation shuffle over (lang, split) — 100 TB splits at scan
    speed; the per-row split column composes with every downstream
    writer (partition-by-split is the natural layout).

    Cross-engine hashing uses the proven md5-prefix idiom
    (corpus_pipeline's decontamination bucket): Spark conv(substr(md5,
    1, 7), 16, 10) ≡ DuckDB CAST('0x' || substr(md5, 1, 7) AS BIGINT)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split-v1:"), F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    split = (
        F.when(bucket < 900, F.lit("train"))
        .when(bucket < 950, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(
            "lang",
            split.alias("split"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


# fastText-style hashed-n-gram linear quality classifier (r15). The model
# is a PINNED hashed linear head: bucket(term) = md5-prefix(term) mod 4096
# (the corpus_split cross-engine hash idiom) and weight_milli(bucket) =
# ((bucket + 1) * 2654435761) % 2001 - 1000 — Knuth's multiplicative
# constant spreads buckets over [-1000, 1000] milli, so the "trained"
# weight table is a pure arithmetic function both engines evaluate
# identically instead of a 4096-literal plan blob (the sim_topk_ivf
# literal-inlining lesson). Integer milli weights make the document score
# an exact bigint sum — commutative, fold-order-free, hash-safe.
_QC_BUCKETS = 4096
_QC_SALT = "qc1:"
_QC_W_SQL = (
    "((CAST(('0x' || substr(md5('" + _QC_SALT + "' || t), 1, 7)) AS BIGINT)"
    f" % {_QC_BUCKETS} + 1) * 2654435761) % 2001 - 1000"
)


def _qc_weight_milli(t):
    """Spark twin of _QC_W_SQL (shared by the classifier key and the
    corpus_curation_v2 composition)."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_QC_SALT), t)), 1, 7), 16, 10
        ).cast("long")
        % _QC_BUCKETS
    )
    return ((bucket + 1) * 2654435761) % 2001 - 1000


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS u
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang,
               list_concat(
                   u,
                   list_transform(generate_series(2, len(u)),
                                  i -> u[i-1] || '_' || u[i])
               ) AS f
        FROM toks
    )
    SELECT doc_id, lang,
           CAST(len(f) AS BIGINT) AS n_feat,
           CAST(COALESCE(list_sum(list_transform(f, t -> {_QC_W_SQL})), 0)
                AS BIGINT) AS score_milli,
           CAST(CASE WHEN COALESCE(
                    list_sum(list_transform(f, t -> {_QC_W_SQL})), 0) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
    FROM feats
    """,
)
def text_quality_classifier(spark, sf_dir):
    """fastText-style hashed linear quality classifier (r15) — the
    standard pretraining quality gate (a hashed bag of word uni+bigrams
    through a linear head, the fastText supervised architecture used by
    CCNet/DCLM-shaped pipelines; reference tie-in: the corpus the
    sandbox summarizes is exactly what such a gate would filter first).
    Features are word unigrams plus joined bigrams (wordNgrams=2); each
    hashes to one of 4096 buckets via the md5-prefix idiom and looks up
    a pinned integer-milli weight that is itself a pure arithmetic
    function of the bucket (no weight table ships with the plan — see
    _QC_W_SQL). A document keeps iff its summed score is positive: the
    sign test needs no division, so the negative-domain DIV/floor
    divergence between engines never arises.

    Scale shape: ZERO exchanges — tokenize, bigram expansion, hashing,
    and the weight fold are all row-local inside one projection
    (F.aggregate over the feature array), so the gate runs at scan
    speed over 100 TB and composes with any downstream writer as a
    keep_flag column. A real trained model swaps _QC_W_SQL's arithmetic
    for a broadcast 4096-row weight dim (megabytes at any vocab size —
    the text_bm25 broadcast discipline); the hashing trick is what
    keeps the weight table O(buckets), not O(vocab), which is the
    fastText memory story at corpus scale."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    u = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    toks = d.select("doc_id", "lang", u.alias("u"))
    bigrams = F.when(
        F.size("u") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("u")),
            lambda i: F.concat_ws(
                "_", F.element_at("u", i - 1), F.element_at("u", i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks.select(
        "doc_id", "lang", F.concat(F.col("u"), bigrams).alias("f")
    )

    # fold ONCE per row (the langid one-pass lesson): keep_flag derives
    # from the materialized score column, not a second fold
    score = F.aggregate(
        "f", F.lit(0).cast("long"), lambda acc, t: acc + _qc_weight_milli(t)
    )
    scored = feats.select(
        "doc_id",
        "lang",
        F.size("f").cast("long").alias("n_feat"),
        score.alias("score_milli"),
    )
    return scored.withColumn(
        "keep_flag", (F.col("score_milli") > 0).cast("long")
    )


# --- trained-weights classifier variant (r16, VERDICT r15 #7): the
# PRODUCTION shape of X215 — same hashed uni+bigram feature space, but
# the linear head's weights come from a CHECKED-IN 4096-row table (the
# artifact an offline trainer hands the pipeline), loaded as data and
# applied via a BROADCAST HASH JOIN instead of the closed-form bucket
# arithmetic. Both engines load the SAME file. ---

_QC_WEIGHTS_PATH = __import__("os").path.join(
    __import__("os").path.dirname(
        __import__("os").path.dirname(__import__("os").path.abspath(__file__))
    ),
    "functions",
    "qc_weights_4096.csv",
)


@register(
    "text_quality_classifier_trained",
    oracle=f"""
    WITH w AS (
        SELECT bucket, weight_milli
        FROM read_csv('{_QC_WEIGHTS_PATH}', header = true,
                      columns = {{'bucket': 'BIGINT',
                                  'weight_milli': 'BIGINT'}})
    ),
    toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS u
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang,
               list_concat(
                   u,
                   list_transform(generate_series(2, len(u)),
                                  i -> u[i-1] || '_' || u[i])
               ) AS f
        FROM toks
    ),
    ex AS (
        -- one trailing NULL feature per doc keeps zero-feature docs
        -- alive through the unnest on BOTH engines (COUNT skips it,
        -- the weight join misses it)
        SELECT doc_id, lang,
               unnest(list_concat(f, [CAST(NULL AS VARCHAR)])) AS t
        FROM feats
    ),
    hashed AS (
        SELECT doc_id, lang, t,
               CAST(('0x' || substr(md5('{_QC_SALT}' || t), 1, 7))
                    AS BIGINT) % {_QC_BUCKETS} AS bucket
        FROM ex
    )
    SELECT h.doc_id, h.lang,
           CAST(COUNT(h.t) AS BIGINT) AS n_feat,
           CAST(COALESCE(SUM(w.weight_milli), 0) AS BIGINT) AS score_milli,
           CAST(CASE WHEN COALESCE(SUM(w.weight_milli), 0) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
    FROM hashed h LEFT JOIN w ON w.bucket = h.bucket
    GROUP BY h.doc_id, h.lang
    """,
)
def text_quality_classifier_trained(spark, sf_dir):
    """TRAINED-weights quality classifier (r16, VERDICT r15 #7): the
    production shape X215's docstring promised — identical hashed
    uni+bigram feature space (same salt, same 4096 buckets), but the
    linear head is a weight DIM loaded from the checked-in artifact
    ``functions/qc_weights_4096.csv`` (what an offline fastText-style
    trainer hands the pipeline) and applied via explode → BROADCAST
    hash join → per-doc re-aggregate, replacing X215's closed-form
    bucket arithmetic. The DuckDB oracle loads the SAME file, so
    hash-green means the loaded-table path prices every feature
    identically to an independent replay.

    Scale shape: the weight dim is O(buckets) = kilobytes at ANY vocab
    size (the hashing-trick memory story), so the join is always
    broadcast — no corpus-side shuffle for the lookup; the only
    exchange is the per-doc score rollup (partial aggs before it). A
    trailing NULL feature per doc keeps zero-feature docs alive
    through the explode on both engines (COUNT skips NULLs, the join
    misses them). Plan pinned in PLANS.md: BroadcastHashJoin, one
    Exchange, zero BroadcastNestedLoopJoin."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    w = spark.read.csv(
        _QC_WEIGHTS_PATH, header=True,
        schema="bucket long, weight_milli long",
    )
    d = spread(load_table(spark, sf_dir, "documents"))
    u = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    toks = d.select("doc_id", "lang", u.alias("u"))
    bigrams = F.when(
        F.size("u") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("u")),
            lambda i: F.concat_ws(
                "_", F.element_at("u", i - 1), F.element_at("u", i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks.select(
        "doc_id", "lang", F.concat(F.col("u"), bigrams).alias("f")
    )
    ex = feats.select(
        "doc_id", "lang",
        F.explode(
            F.concat("f", F.array(F.lit(None).cast("string")))
        ).alias("t"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_QC_SALT), F.col("t"))), 1, 7),
            16, 10,
        ).cast("long")
        % _QC_BUCKETS
    )
    joined = ex.withColumn("bucket", bucket).join(
        F.broadcast(w), "bucket", "left"
    )
    scored = joined.groupBy("doc_id", "lang").agg(
        F.count("t").cast("long").alias("n_feat"),
        F.coalesce(F.sum("weight_milli"), F.lit(0)).cast("long").alias(
            "score_milli"
        ),
    )
    return scored.withColumn(
        "keep_flag", (F.col("score_milli") > 0).cast("long")
    )


# --- corpus_curation_v2: the full modern curation recipe in ONE plan
# (r15 third wave) — quality classifier → lang-ID gate → exact dedup →
# semantic dedup → split audit, each stage reusing the already-proven
# single-source-of-truth constants (X215 weights, X209 profiles, X213
# centroids, X214 split buckets). ---


def _curation_v2_oracle() -> str:
    from unfccc_documents_database_sandbox_spark.functions import langid as L
    from unfccc_documents_database_sandbox_spark.plans.ivf_centroids import (
        IVF_CELLS,
        cell,
        cell_sq,
    )

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
    WITH dp AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || ' v2', lang
        FROM documents WHERE doc_id % 50 = 0
        UNION ALL
        SELECT doc_id + 2000000, text, lang
        FROM documents WHERE doc_id % 50 = 25
    ),
    base AS (
        SELECT doc_id, lang, text,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM dp
    ),
    feats AS (
        SELECT doc_id, lang, text,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               list_concat(
                   toks,
                   list_transform(generate_series(2, len(toks)),
                                  i -> toks[i-1] || '_' || toks[i])
               ) AS f
        FROM base
    ),
    q AS (
        SELECT doc_id, lang, text, n_tokens
        FROM feats
        WHERE COALESCE(list_sum(list_transform(f, t -> {_QC_W_SQL})), 0) > 0
    ),
    norm AS (
        SELECT doc_id,
               ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'))
                   || ' ' AS s
        FROM q
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, length(s)),
                                     i -> substr(s, i, 2))) AS gram
        FROM norm
    ),
    lv AS (SELECT * FROM (VALUES {L.oracle_oov_values()}) t(plang, oov)),
    pv AS (SELECT * FROM (VALUES
        {L.oracle_profile_values()}) t(plang, gram, cost)),
    c AS (
        SELECT g.doc_id, lv.plang, SUM(coalesce(pv.cost, lv.oov)) AS cost
        FROM g CROSS JOIN lv
        LEFT JOIN pv ON pv.plang = lv.plang AND pv.gram = g.gram
        GROUP BY 1, 2
    ),
    piv AS (
        SELECT doc_id,
               MAX(CASE WHEN plang = 'en' THEN cost END) AS cost_en,
               MAX(CASE WHEN plang = 'es' THEN cost END) AS cost_es,
               MAX(CASE WHEN plang = 'fr' THEN cost END) AS cost_fr
        FROM c GROUP BY doc_id
    ),
    lg AS (
        SELECT q.doc_id, q.lang, q.text, q.n_tokens
        FROM q JOIN piv USING (doc_id)
        WHERE q.lang = (
            CASE WHEN cost_en <= cost_es AND cost_en <= cost_fr THEN 'en'
                 WHEN cost_es <= cost_fr THEN 'es' ELSE 'fr' END)
    ),
    ex AS (
        SELECT doc_id, lang, n_tokens
        FROM (SELECT lg.*,
                     ROW_NUMBER() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) AS rn
              FROM lg)
        WHERE rn = 1
    ),
    ep AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT))
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    ev AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM ep
    ),
    en AS (SELECT vec_id, vec,
                  sqrt(list_dot_product(vec, vec)) AS nrm FROM ev),
    eu AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS u FROM en),
    easg AS (
        SELECT vec_id, u, list_position(dl, list_min(dl)) - 1 AS cell
        FROM (SELECT vec_id, u, {dl} AS dl FROM eu)
    ),
    sem_in AS (
        SELECT ex.doc_id, ex.n_tokens, a.u, a.cell
        FROM ex LEFT JOIN easg a ON a.vec_id = ex.doc_id
    ),
    sem_drop AS (
        SELECT DISTINCT b.doc_id
        FROM sem_in a JOIN sem_in b
          ON a.cell = b.cell AND a.doc_id < b.doc_id
        WHERE list_dot_product(a.u, b.u) >= 0.9
    ),
    sem AS (
        SELECT s.doc_id, s.n_tokens FROM sem_in s
        LEFT JOIN sem_drop d ON d.doc_id = s.doc_id
        WHERE d.doc_id IS NULL
    ),
    sp AS (
        SELECT CASE WHEN bucket < 900 THEN 'f_train'
                    WHEN bucket < 950 THEN 'f_val'
                    ELSE 'f_test' END AS stage,
               n_tokens
        FROM (SELECT n_tokens,
                     CAST(('0x' || substr(md5('split-v1:'
                              || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
                         % 1000 AS bucket
              FROM sem)
    )
    SELECT 'a_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM feats
    UNION ALL
    SELECT 'b_quality', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT) FROM q
    UNION ALL
    SELECT 'c_lang', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT) FROM lg
    UNION ALL
    SELECT 'd_exact_dedup', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT) FROM ex
    UNION ALL
    SELECT 'e_semantic_dedup', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT) FROM sem
    UNION ALL
    SELECT stage, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT) FROM sp GROUP BY stage
    """


@register("corpus_curation_v2", oracle=_curation_v2_oracle())
def corpus_curation_v2(spark, sf_dir):
    """The full modern pretraining-curation recipe as ONE lazy plan —
    the DCLM/FineWeb pipeline shape, upgrading corpus_pipeline's r06
    stages with the r15 operators: (a) input, (b) fastText-style hashed
    linear quality gate (X215 — score > 0 keeps), (c) CCNet-style
    lang-ID gate (X209 — prediction must match the claimed tag),
    (d) exact dedup (min doc_id per md5(text)), (e) SemDeDup semantic
    near-dedup (X217 — pinned-centroid cluster blocking, cosine >= 0.9
    drops the higher id; docs WITHOUT an embedding pass through, the
    honest posture when the encoder lags the crawl), (f) the X214
    train/val/test split audit of what survives. Output is the
    per-stage funnel (n_docs, token mass) — the table a data-curation
    run publishes.

    Planted rows exercise both dedup stages: each doc_id % 50 == 0 doc
    gets a ' v2'-suffixed twin (doc_id + 1e6) whose embedding twin is
    colinear (the sim_near_dup_pairs derivation) — the suffix defeats
    exact dedup (different md5) so the twin must be caught by the
    SEMANTIC stage, exactly the reworded-near-dup case SemDeDup exists
    for; each doc_id % 50 == 25 doc gets an EXACT copy (doc_id + 2e6,
    the re-crawled-URL case) that stage (d) must catch. Twins only
    reach their catching stage when their base text survives (b)/(c),
    which the oracle mirrors row for row.

    Scale: stages (a)-(c) are row-local folds at scan speed; (d) is one
    digest-keyed shuffle; (e) shuffles only embedding-joined survivors
    on cell (pair work bounded per cell); the funnel aggregates are
    map-side combines. Every stage is the already-benched operator —
    composition adds no new exchange class."""
    from pyspark.sql import Window

    from unfccc_documents_database_sandbox_spark.catalog import spread
    from unfccc_documents_database_sandbox_spark.functions import langid as L
    from unfccc_documents_database_sandbox_spark.functions.vectors import (
        dot as vec_dot,
    )
    from unfccc_documents_database_sandbox_spark.plans.similarity import (
        _plant_near_dups,
        ivf_assign_units,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        "lang",
    )
    # exact-copy twins exercise stage (d): same text, fresh id — the
    # re-crawled-URL case exact dedup exists for
    planted_exact = docs.filter(F.col("doc_id") % 50 == 25).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "lang"
    )
    dp = spread(docs.unionByName(planted).unionByName(planted_exact))
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    base = dp.select("doc_id", "lang", "text", toks.alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("toks")),
            lambda i: F.concat_ws(
                "_", F.element_at("toks", i - 1), F.element_at("toks", i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = base.select(
        "doc_id",
        "lang",
        "text",
        F.size("toks").cast("long").alias("n_tokens"),
        F.concat(F.col("toks"), bigrams).alias("f"),
    ).withColumn(
        "qscore",
        F.aggregate(
            "f", F.lit(0).cast("long"),
            lambda acc, t: acc + _qc_weight_milli(t),
        ),
    )
    # five funnel branches sit downstream of the classifier fold and
    # four downstream of the lang fold; Spark re-executes a shared
    # subtree per branch (no cross-branch CSE — the graph_bfs/IVF-twin
    # lesson), so pin each fold's output once. r17: the first
    # checkpoint pins ALL rows with the keep flag (rejected rows carry
    # NULL text — only the audit counts need them), so the a_input
    # branch reads the checkpoint instead of re-running the whole
    # scan+tokenize+classifier chain it previously re-executed.
    qq = feats.select(
        "doc_id",
        "lang",
        F.when(F.col("qscore") > 0, F.col("text")).alias("text"),
        "n_tokens",
        (F.col("qscore") > 0).alias("q_keep"),
    ).transform(pin)
    q = qq.filter("q_keep").select("doc_id", "lang", "text", "n_tokens")

    # lang gate: the codegen explode+join scorer (langid.score_costs,
    # r17 — see its docstring for the fold-vs-join A/B); gate survivors
    # re-attach text/n_tokens by doc_id from the pinned q slice (the id
    # list is gate output, small — AQE broadcasts it)
    sc_ = L.score_costs(q.select("doc_id", "lang", "text"))
    pred = (
        F.when(
            (F.col("cost_en") <= F.col("cost_es"))
            & (F.col("cost_en") <= F.col("cost_fr")),
            F.lit("en"),
        )
        .when(F.col("cost_es") <= F.col("cost_fr"), F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    lg = (
        q.join(
            sc_.filter(pred == F.col("lang")).select("doc_id"), "doc_id"
        )
        .select("doc_id", "lang", "text", "n_tokens")
        .transform(pin)
    )

    wex = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    ex = (
        lg.withColumn("rn", F.row_number().over(wex))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign_units(_plant_near_dups(emb)).select(
        F.col("vec_id").alias("doc_id"), "u", "cell"
    )
    sem_in = ex.join(assigned, "doc_id", "left").transform(pin)
    a = sem_in.select(
        F.col("doc_id").alias("id_a"), F.col("u").alias("ua"), "cell"
    )
    b = sem_in.select(
        F.col("doc_id").alias("id_b"), F.col("u").alias("ub"), "cell"
    )
    sem_drop = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(vec_dot(F.col("ua"), F.col("ub")) >= F.lit(0.9))
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    sem = sem_in.join(sem_drop, "doc_id", "left_anti").select(
        "doc_id", "n_tokens"
    )

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split-v1:"),
                               F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    sp = sem.select(
        F.when(bucket < 900, F.lit("f_train"))
        .when(bucket < 950, F.lit("f_val"))
        .otherwise(F.lit("f_test"))
        .alias("stage"),
        "n_tokens",
    )

    def funnel(name, df):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select("stage", "n_docs", "n_tokens")

    split_rows = sp.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    # r17: a_input reads the pinned all-rows checkpoint (qq) instead of
    # re-tokenizing the corpus; d_exact_dedup reads the pinned sem_in
    # (same rows and n_tokens as ex — the left join preserves them)
    # instead of re-running the md5 window over lg
    return (
        funnel("a_input", qq)
        .unionByName(funnel("b_quality", q))
        .unionByName(funnel("c_lang", lg))
        .unionByName(funnel("d_exact_dedup", sem_in))
        .unionByName(funnel("e_semantic_dedup", sem))
        .unionByName(split_rows)
    )


# --- Unicode NFC normalization gate (r16 second wave): the standard
# ingest normalization every multilingual pipeline runs before
# tokenizing/deduping (decomposed accents, compatibility singletons,
# and combining-mark order otherwise make byte-identical text hash
# differently). Planted rows are constructed codepoint-by-codepoint on
# BOTH sides, so the cross-engine NFC claim (Python unicodedata vs
# DuckDB nfc_normalize — two independent UAX #15 implementations) is
# hash-checked, not assumed. ---

# (doc_id offset, lang, list of codepoints) — BMP only, so Spark's
# UTF-16 length() counts codepoints like DuckDB's length()
_NFC_PLANTED: list[tuple[int, str, list[int]]] = [
    # decomposed acute: e + U+0301 composes to é
    (9000001, "fr", [0x65, 0x78, 0x70, 0x6F, 0x73, 0x65, 0x0301]),
    # already-composed é: NFC is the identity on it
    (9000002, "fr", [0x63, 0x61, 0x66, 0xE9]),
    # cedilla + tilde combining pairs: c+U+0327, n+U+0303
    (9000003, "es", [0x63, 0x0327, 0x61, 0x20, 0x6E, 0x0303, 0x6F]),
    # compatibility-singleton: U+212B ANGSTROM SIGN -> U+00C5
    (9000004, "en", [0x212B, 0x6E, 0x67, 0x73, 0x74, 0x72, 0x6F, 0x6D]),
    # combining-class reordering: o + circumflex(ccc 230) + dot-below
    # (ccc 220) must reorder before composing -> U+1ECD U+0302
    (9000005, "en", [0x6F, 0x0302, 0x0323, 0x72, 0x64, 0x65, 0x72]),
]


def _nfc_planted_sql() -> str:
    rows = ",\n        ".join(
        "({}, '{}', {})".format(
            off, lang, " || ".join(f"chr({cp})" for cp in cps)
        )
        for off, lang, cps in _NFC_PLANTED
    )
    return rows


@register(
    "text_normalize_nfc",
    oracle=f"""
    WITH src AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES
        {_nfc_planted_sql()}
        ) v(doc_id, lang, text)
    )
    SELECT doc_id, lang,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS n_cp,
           CAST(CASE WHEN nfc_normalize(text) <> text
                THEN 1 ELSE 0 END AS BIGINT) AS changed,
           md5(nfc_normalize(text)) AS nfc_digest
    FROM src
    """,
)
def text_normalize_nfc(spark, sf_dir):
    """Unicode NFC normalization gate (r16): canonical-compose every
    document (decomposed accents, compatibility singletons like
    U+212B, combining-mark reordering) and emit the normalized
    codepoint length, a changed flag, and the md5 of the NFC text —
    the digest downstream exact-dedup should key on (byte-different
    spellings of the SAME text are the classic silent dedup miss in
    multilingual corpora). Spark has no JVM-side NFC builtin, so the
    normalizer is a mapInPandas pass over Python's unicodedata — a
    genuinely different UAX #15 implementation than the oracle's
    DuckDB ``nfc_normalize``, which is exactly what makes hash-green
    here a real interoperability claim; five planted rows constructed
    codepoint-by-codepoint on both sides cover each NFC case class
    (compose, identity, multiple marks, singleton, ccc reordering).

    Scale shape: ZERO exchanges — one Arrow-batched row-local pass at
    scan speed; the digest column then feeds the existing digest-keyed
    dedup shuffles unchanged."""
    import pandas as pd
    import unicodedata

    from unfccc_documents_database_sandbox_spark.catalog import spread

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    planted = spark.createDataFrame(
        [(off, lang, "".join(chr(cp) for cp in cps))
         for off, lang, cps in _NFC_PLANTED],
        "doc_id long, lang string, text string",
    )
    u = spread(docs.unionByName(planted))

    def norm(batches):
        for pdf in batches:
            out = [unicodedata.normalize("NFC", str(t))
                   for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "lang": pdf["lang"],
                    "n_cp": pd.Series([len(t) for t in out],
                                      dtype="int64"),
                    "changed": pd.Series(
                        [int(a != str(b))
                         for a, b in zip(out, pdf["text"])],
                        dtype="int64"),
                    "text_nfc": out,
                }
            )

    nfc = u.mapInPandas(
        norm,
        "doc_id long, lang string, n_cp long, changed long, "
        "text_nfc string",
    )
    return nfc.select(
        "doc_id", "lang", "n_cp", "changed",
        F.md5(F.encode("text_nfc", "UTF-8")).alias("nfc_digest"),
    )


# --- temperature-sampled corpus mixing (r16 third wave): the mT5/Pile
# alpha-sampling recipe — language l keeps with rate proportional to
# p_l^(alpha-1), alpha = 1/2, normalized so the rarest language keeps
# everything. sqrt never touches FP: isqrt is FLOOR(SQRT(double))
# corrected by +-1 integer checks, exact in both engines. ---


def _isqrt_col(x):
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("long")
    return (
        F.when(s0 * s0 > x, s0 - 1)
        .when((s0 + 1) * (s0 + 1) <= x, s0 + 1)
        .otherwise(s0)
    )


@register(
    "corpus_mix_temperature",
    oracle=f"""
    WITH percnt AS (
        SELECT doc_id, lang,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_l
        FROM documents
    ),
    counted AS (
        SELECT doc_id, lang, n_l,
               CAST(MIN(n_l) OVER () AS BIGINT) AS n_min
        FROM percnt
    ),
    kept AS (
        SELECT doc_id, lang,
               (4294967296 * (CASE WHEN (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) * (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) > (n_min * n_l) THEN (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) - 1 WHEN ((CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) + 1) * ((CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) + 1) <= (n_min * n_l) THEN (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) + 1 ELSE (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) END)) // n_l AS threshold,
               (doc_id * 2654435761) % 4294967296 <
                   (4294967296 * (CASE WHEN (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) * (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) > (n_min * n_l) THEN (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) - 1 WHEN ((CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) + 1) * ((CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) + 1) <= (n_min * n_l) THEN (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) + 1 ELSE (CAST(FLOOR(SQRT(CAST(n_min * n_l AS DOUBLE))) AS BIGINT)) END)) // n_l AS keep
        FROM counted
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(MIN(threshold) AS BIGINT) AS threshold
    FROM kept
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_mix_temperature(spark, sf_dir):
    """Temperature-sampled corpus mixing (r16) — the alpha-sampling
    recipe multilingual pretraining uses (mT5/Pile): language l keeps
    documents at rate proportional to p_l^(alpha-1) with alpha = 1/2,
    i.e. rate_l = sqrt(n_min / n_l) — rare languages keep everything,
    dominant ones are downsampled toward a flatter mixture. The keep
    test is the deterministic multiplicative-hash bucket of corpus_mix
    against a PER-LANGUAGE integer threshold
    floor(2^32 · isqrt(n_min · n_l)) DIV n_l, where isqrt is
    FLOOR(SQRT(·)) corrected by ±1 integer checks — exact in both
    engines, so the hashed keep set (not just the counts) is
    reproducible; re-tempering a 100 TB mixture is a threshold change,
    not a re-shard. Emits the per-language audit (n_before, n_kept,
    threshold) a mixing run publishes.

    Scale shape: one tiny per-lang count aggregate broadcast back onto
    the scan (the counts dim is |languages| rows), the keep filter is
    row-local, and the audit re-aggregates on lang — two lang-keyed
    exchanges over COUNTS, never a corpus re-shard."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_l"))
    n_min = counts.agg(F.min("n_l").alias("n_min"))
    dims = F.broadcast(counts.crossJoin(F.broadcast(n_min)))
    j = d.join(dims, "lang").withColumn(
        "s", _isqrt_col(F.col("n_min") * F.col("n_l"))
    )
    # integer DIV, not double /: the quotient is ~2^32-scaled and a
    # double division could floor differently at an exact boundary
    thr = F.expr("CAST(4294967296 * s DIV n_l AS BIGINT)")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    kept = j.withColumn("threshold", thr).withColumn(
        "keep", bucket < F.col("threshold")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_before"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
            F.min("threshold").cast("long").alias("threshold"),
        )
        .orderBy("lang")
    )


# --- token-budget corpus selection (r16 fourth wave): "give me the
# best documents that fit in N training tokens" — the data-selection
# step between scoring and training-mix assembly. The oracle states
# the semantics as ONE global window (rank by quality, running token
# sum, keep while <= budget); the Spark plan refuses that
# single-reducer shape and computes the SAME set with a histogram
# cutoff: bucket the integer scores, pick the boundary bucket from a
# histogram-sized cumulative pass, keep whole buckets above it, and
# order-resolve ONLY inside the boundary bucket. ---

_CSB_BUCKET = 1024  # score-bucket width (integer-milli scores)


def _csb_scored_sql() -> str:
    """(doc_id, toks, score_milli) — X215's hashed-classifier score and
    the unigram token count, as SQL."""
    return f"""
        SELECT doc_id,
               CAST(len(u) AS BIGINT) AS toks,
               CAST(COALESCE(list_sum(list_transform(
                   list_concat(
                       u,
                       list_transform(generate_series(2, len(u)),
                                      i -> u[i-1] || '_' || u[i])
                   ), t -> {_QC_W_SQL})), 0) AS BIGINT) AS score_milli
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS u
            FROM documents
        )"""


@register(
    "corpus_select_budget",
    oracle=f"""
    WITH scored AS ({_csb_scored_sql()}),
    tot AS (
        SELECT (2 * CAST(SUM(toks) AS BIGINT)) // 5 AS budget FROM scored
    ),
    ranked AS (
        SELECT doc_id, toks, score_milli,
               SUM(toks) OVER (ORDER BY score_milli DESC, doc_id)
                   AS cum
        FROM scored
    )
    SELECT r.doc_id, r.score_milli, r.toks
    FROM ranked r, tot
    WHERE r.cum <= tot.budget
    """,
)
def corpus_select_budget(spark, sf_dir):
    """Token-budget data selection (r16): keep the highest-quality
    documents (X215's hashed-classifier score, ties broken by doc_id)
    whose cumulative whitespace-token count fits a budget of 2/5 of the
    corpus's tokens. The oracle SAYS it with one global window —
    exactly the single-reducer shape a 100 TB run cannot execute — and
    this plan computes the identical set scalably: (1) score each doc
    row-locally (one fold, pinned once — four consumers), (2) roll a
    HISTOGRAM of token mass per score bucket (width 1024 milli; the
    cumulative pass runs over the histogram, whose size is bounded by
    the score RANGE, not the corpus), (3) keep every bucket whose
    cumulative mass fits entirely, (4) order-resolve ONLY the single
    boundary bucket with a window partitioned on that bucket. Bucket
    floor-division subtracts the positive remainder first, so negative
    scores bucket identically in both engines (the cluster_kmeans
    exact-floor idiom). Budget ties at the boundary split by the same
    (score DESC, doc_id) total order both sides."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    u = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    toks = d.select("doc_id", u.alias("u"))
    bigrams = F.when(
        F.size("u") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("u")),
            lambda i: F.concat_ws(
                "_", F.element_at("u", i - 1), F.element_at("u", i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks.select(
        "doc_id", F.size("u").cast("long").alias("toks"),
        F.concat(F.col("u"), bigrams).alias("f"),
    )
    score = F.aggregate(
        "f", F.lit(0).cast("long"), lambda acc, t: acc + _qc_weight_milli(t)
    )
    # pinned once: the scored frame feeds the budget scalar, the
    # histogram, the whole-bucket keep, and the boundary resolution
    scored = feats.select(
        "doc_id", "toks", score.alias("score_milli")
    ).transform(pin)

    budget = (
        2 * scored.agg(F.sum("toks").cast("long")).collect()[0][0]
    ) // 5
    pm = ((F.col("score_milli") % _CSB_BUCKET) + _CSB_BUCKET) % _CSB_BUCKET
    bucket = ((F.col("score_milli") - pm) / _CSB_BUCKET).cast("long")
    sb = scored.withColumn("bucket", bucket)
    hist = sb.groupBy("bucket").agg(F.sum("toks").alias("mass"))
    wdesc = W.orderBy(F.col("bucket").desc())
    cum = hist.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("mass").over(
                wdesc.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    full = cum.filter(F.col("cum_before") + F.col("mass") <= F.lit(budget))
    # boundary admits cum_before == budget too (r17, ADVICE r16): a bucket
    # whose mass-before equals the budget exactly is neither "full" (its own
    # mass overshoots) nor, under a strict <, "boundary" — yet zero-token
    # docs at its head have cum == budget and the oracle's global window
    # (cum <= budget) keeps them. With <=, the kept_boundary filter below
    # reproduces exactly the oracle's zero-token prefix; disjointness with
    # `full` still holds (mass == 0 fails the > budget conjunct).
    boundary = cum.filter(
        (F.col("cum_before") <= F.lit(budget))
        & (F.col("cum_before") + F.col("mass") > F.lit(budget))
    )
    kept_full = sb.join(
        F.broadcast(full.select("bucket")), "bucket", "left_semi"
    )
    wb = W.partitionBy("bucket").orderBy(
        F.col("score_milli").desc(), F.col("doc_id")
    )
    kept_boundary = (
        sb.join(F.broadcast(boundary.select("bucket", "cum_before")),
                "bucket")
        .withColumn("cum", F.col("cum_before") + F.sum("toks").over(wb))
        .filter(F.col("cum") <= F.lit(budget))
    )
    return kept_full.select("doc_id", "score_milli", "toks").unionByName(
        kept_boundary.select("doc_id", "score_milli", "toks")
    )


# --- domain-level curation filter (r16 fourth wave): the RefinedWeb/
# FineWeb stage that judges the SOURCE, not just the document — a
# domain whose aggregate quality is negative is dropped wholesale
# (spam domains poison their own average), and inside a kept domain
# each document still passes its own gate. ---

@register(
    "curation_domain_filter",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(COALESCE(list_sum(list_transform(
                   list_concat(
                       u,
                       list_transform(generate_series(2, len(u)),
                                      i -> u[i-1] || '_' || u[i])
                   ), t -> {_QC_W_SQL})), 0) AS BIGINT) AS score_milli
        FROM (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS u
            FROM documents
        )
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_milli) AS BIGINT) AS domain_score_milli,
           CAST(CASE WHEN SUM(score_milli) > 0 AND COUNT(*) >= 10
                THEN 1 ELSE 0 END AS BIGINT) AS domain_keep,
           CAST(SUM(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END)
                * CASE WHEN SUM(score_milli) > 0 AND COUNT(*) >= 10
                       THEN 1 ELSE 0 END AS BIGINT) AS n_kept
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def curation_domain_filter(spark, sf_dir):
    """Domain-level curation filter (r16): aggregate X215's classifier
    score per SOURCE and judge the domain — keep iff the domain's
    summed score is positive (sum > 0 ⇔ mean > 0, division-free) and
    it has at least 10 documents (too-small domains carry no signal);
    a document survives iff its domain keeps AND its own score is
    positive. Emits the per-domain audit (n_docs, summed score,
    domain verdict, surviving docs) — the table a curation run
    publishes before dropping domains wholesale.

    Scale shape: one row-local scoring fold, then ONE source-keyed
    aggregation computing the domain verdict and the surviving count
    in the same pass (the per-doc gate is a flag aggregated alongside,
    so no second join back) — a 100 TB corpus pays exactly one
    exchange keyed on domains, whose cardinality is web-host-scale,
    not corpus-scale."""
    from unfccc_documents_database_sandbox_spark.catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    u = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    toks = d.select("doc_id", "source", u.alias("u"))
    bigrams = F.when(
        F.size("u") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("u")),
            lambda i: F.concat_ws(
                "_", F.element_at("u", i - 1), F.element_at("u", i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks.select(
        "doc_id", "source", F.concat(F.col("u"), bigrams).alias("f")
    )
    score = F.aggregate(
        "f", F.lit(0).cast("long"), lambda acc, t: acc + _qc_weight_milli(t)
    )
    scored = feats.select("doc_id", "source", score.alias("score_milli"))
    agg = scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("score_milli").cast("long").alias("domain_score_milli"),
        F.sum((F.col("score_milli") > 0).cast("long")).alias("n_pos"),
    )
    keep = (
        (F.col("domain_score_milli") > 0) & (F.col("n_docs") >= 10)
    ).cast("long")
    return agg.select(
        "source", "n_docs", "domain_score_milli",
        keep.alias("domain_keep"),
        (F.col("n_pos") * keep).cast("long").alias("n_kept"),
    ).orderBy("source")

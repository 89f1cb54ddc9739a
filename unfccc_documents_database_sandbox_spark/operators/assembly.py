"""Ordered per-document text assembly — the engine's flagship operator (A1).

Reference semantics (generate_decisions_summaries.py:45-59 and
generate_conclusions_summaries.py:52-66): iterate a document's blocks in
relationship order; per block dispatch on the tagged union —

    if block.paragraph:
        if block.numbering: text += f"{block.numbering.strip()}\t"
        text += f"{block.paragraph.text.strip()}\n"
    elif block.table:
        if block.table.caption: text += f"{block.table.caption.strip()}\n"
        text += f"{block.table.cells_text}\n"          # cells NOT stripped

Paragraph takes precedence over table (the `elif`); an empty block
contributes nothing. The reference relies on ORM row order; Spark preserves
no row order, so we carry an explicit ``seq`` and sort inside the aggregate:

    groupBy(doc_id).agg(concat_ws("", transform(
        array_sort(collect_list(struct(seq, fragment))), x -> x.fragment)))

This is one shuffle on doc_id; fragments are computed map-side by
whole-stage-codegen expressions (no Python in the loop — the single biggest
perf delta vs the reference's row-at-a-time Python, SURVEY.md §4). At 100 TB
scale a pathologically huge document concentrates its blocks in one task;
AQE skew-split handles the shuffle side, and the fragment computation stays
embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- derived blocks projection over the driver corpus ------------------------
# The driver corpus has no block table, so queries derive a deterministic one
# from documents.text: word k (1-based seq) of each document is one block.
# Block-type dispatch is a pure function of seq so the DuckDB oracle can
# reproduce it exactly:
#   seq % 11 == 0 -> empty block        (contributes nothing)
#   seq % 7  == 0 -> table block        fragment = '[T] ' || word || '\n'
#   seq % 3  == 0 -> numbered paragraph fragment = seq || '.' || '\t' || word || '\n'
#   otherwise     -> plain paragraph    fragment = word || '\n'
# (precedence: empty > table > numbered > plain, first match wins — mirrors
# the reference's if/elif union dispatch.)

BLOCKS_CTE = """
blocks AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS seq,
           unnest(string_split(text, ' ')) AS word
    FROM documents
)
"""

def blocks_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) -> blocks(doc_id, seq BIGINT 1-based, word).

    UDTF-shaped (U6): one row explodes to N ordered rows, the inverse of the
    assembly aggregate (reference upstream: abstract-docx DOCX→blocks parse,
    requirements.txt:1).
    """
    # NOT spread(): the per-word fragment work downstream is light (concat/
    # CASE), so the collect_list exchange dominates either way — an extra
    # repartition before the explode measured as pure overhead here, unlike
    # the shingle+xxhash64 and mapInPandas paths where it pays off.
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    ).select("doc_id", (F.col("pos") + 1).cast("long").alias("seq"), "word")


def block_fragment() -> F.Column:
    """Per-block formatted fragment (P4 tagged-union CASE dispatch)."""
    seq, word = F.col("seq"), F.col("word")
    return (
        F.when(seq % 11 == 0, F.lit(""))
        .when(seq % 7 == 0, F.concat(F.lit("[T] "), word, F.lit("\n")))
        .when(
            seq % 3 == 0,
            F.concat(seq.cast("string"), F.lit("."), F.lit("\t"), word, F.lit("\n")),
        )
        .otherwise(F.concat(word, F.lit("\n")))
    )


def assemble_doc_text(blocks: DataFrame, key: str = "doc_id") -> DataFrame:
    """blocks(key, seq, word) -> (key, doc_text, n_blocks) via ordered concat.

    Order correctness does NOT depend on input row order: the struct array is
    sorted by seq inside each group before concatenation.
    """
    frag = blocks.select(key, "seq", block_fragment().alias("fragment"))
    ordered = F.array_sort(F.collect_list(F.struct("seq", "fragment")))
    return frag.groupBy(key).agg(
        F.concat_ws("", F.transform(ordered, lambda x: x["fragment"])).alias("doc_text"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )


# --- exact reference semantics over warehouse-shaped tables (family B) -------

# Deterministic warehouse-table derivation over the driver corpus, so the
# flagship's EXACT reference semantics (tab/newline/strip/truthiness) get a
# driver-checkable SQL oracle — not just pytest fixtures. Everything is a
# pure function of (doc_id, seq, word):
#   numbering: seq%5==1 -> '<seq>.' | ==2 -> ' ' (whitespace-only: truthy!)
#              | ==3 -> '' (empty: falsy) | else NULL
#   paragraph: present when (seq%7!=0 and seq%11!=0) or seq%14==0;
#              text = '  '+word+' ' (strips back to word)
#   table:     present when seq%7==0; caption: seq%3==0 -> ' Tbl '+word+' '
#              | ==1 -> ' ' (truthy -> bare newline) | else NULL;
#              cells_text = word+'|'+word (never stripped)
# seq%14==0 rows carry BOTH payloads -> paragraph must win (the `elif`);
# seq%11==0 (and not %7) rows carry neither -> contribute nothing.

WAREHOUSE_ORACLE_SQL = """
    WITH {blocks_cte},
    b AS (
        SELECT doc_id, seq, doc_id * 100000 + seq AS block_id,
               CASE seq % 5 WHEN 1 THEN CAST(seq AS VARCHAR) || '.'
                            WHEN 2 THEN ' ' WHEN 3 THEN '' END AS numbering,
               CASE WHEN (seq % 7 <> 0 AND seq % 11 <> 0) OR seq % 14 = 0
                    THEN '  ' || word || ' ' END AS p_text,
               CASE WHEN seq % 7 = 0 THEN
                   CASE seq % 3 WHEN 0 THEN ' Tbl ' || word || ' '
                                WHEN 1 THEN ' ' END
               END AS caption,
               CASE WHEN seq % 7 = 0 THEN word || '|' || word END AS cells_text
        FROM blocks
    ),
    frags AS (
        SELECT doc_id, seq,
               CASE WHEN p_text IS NOT NULL THEN
                       (CASE WHEN numbering IS NOT NULL AND numbering <> ''
                             THEN trim(numbering) || chr(9) ELSE '' END)
                       || trim(p_text) || chr(10)
                    WHEN cells_text IS NOT NULL THEN
                       (CASE WHEN caption IS NOT NULL AND caption <> ''
                             THEN trim(caption) || chr(10) ELSE '' END)
                       || cells_text || chr(10)
                    ELSE '' END AS fragment
        FROM b
    )
    SELECT doc_id, string_agg(fragment, '' ORDER BY seq) AS doc_text
    FROM frags GROUP BY doc_id
"""


def warehouse_tables_from_documents(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """documents -> (block, paragraph, table_payload) per the derivation
    above; feed straight into assemble_from_warehouse."""
    seq, word = F.col("seq"), F.col("word")
    base = blocks_from_documents(docs).withColumn(
        "block_id", F.col("doc_id") * 100000 + seq
    )
    numbering = (
        F.when(seq % 5 == 1, F.concat(seq.cast("string"), F.lit(".")))
        .when(seq % 5 == 2, F.lit(" "))
        .when(seq % 5 == 3, F.lit(""))
    )
    block = base.select("doc_id", "seq", "block_id", numbering.alias("numbering"))
    paragraph = base.filter(
        ((seq % 7 != 0) & (seq % 11 != 0)) | (seq % 14 == 0)
    ).select("block_id", F.concat(F.lit("  "), word, F.lit(" ")).alias("text"))
    caption = F.when(
        seq % 3 == 0, F.concat(F.lit(" Tbl "), word, F.lit(" "))
    ).when(seq % 3 == 1, F.lit(" "))
    table_payload = base.filter(seq % 7 == 0).select(
        "block_id",
        caption.alias("caption"),
        F.concat(word, F.lit("|"), word).alias("cells_text"),
    )
    return block, paragraph, table_payload


def assemble_from_warehouse(
    block: DataFrame, paragraph: DataFrame, table_payload: DataFrame
) -> DataFrame:
    """Assembly over Block/Paragraph/Table tables with the reference's exact
    whitespace semantics (FIXTURES.md §B golden rules). Left joins model the
    nullable 1:1 payloads (J3); paragraph beats table when both exist.
    """
    b = (
        block.join(paragraph.withColumnRenamed("text", "p_text"), "block_id", "left")
        .join(table_payload, "block_id", "left")
    )
    # Truthiness is checked on the RAW value (reference: `if block.numbering:`
    # then `.strip()`, generate_decisions_summaries.py:51-52): a whitespace-only
    # numbering is truthy, so it emits a bare '\t' (resp. a caption a bare
    # '\n') — trimming happens only in the OUTPUT, never in the guard.
    numbering_part = F.when(
        F.col("numbering").isNotNull() & (F.col("numbering") != ""),
        F.concat(F.trim(F.col("numbering")), F.lit("\t")),
    ).otherwise(F.lit(""))
    caption_part = F.when(
        F.col("caption").isNotNull() & (F.col("caption") != ""),
        F.concat(F.trim(F.col("caption")), F.lit("\n")),
    ).otherwise(F.lit(""))
    fragment = (
        F.when(  # paragraph wins over table — the reference's `elif`
            F.col("p_text").isNotNull(),
            F.concat(numbering_part, F.trim(F.col("p_text")), F.lit("\n")),
        )
        .when(
            F.col("cells_text").isNotNull(),
            F.concat(caption_part, F.col("cells_text"), F.lit("\n")),
        )
        .otherwise(F.lit(""))
    )
    frag = b.select("doc_id", "seq", fragment.alias("fragment"))
    ordered = F.array_sort(F.collect_list(F.struct("seq", "fragment")))
    return frag.groupBy("doc_id").agg(
        F.concat_ws("", F.transform(ordered, lambda x: x["fragment"])).alias("doc_text")
    )

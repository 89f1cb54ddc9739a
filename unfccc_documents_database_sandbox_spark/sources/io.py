"""Sources & sinks (S2, S4, S5; the S1 parquet scan is catalog.load_table).

Reference parity map (SURVEY.md §2.1):
- S2 JDBC/Postgres       ← psycopg2/SQLAlchemy engine (requirements.txt:49,65)
- S4 CSV sink            ← df.to_csv (generate_decisions_summaries.py:120)
- S5 DOCX/binary ingest  ← abstract-docx pipeline (requirements.txt:1)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """S2: Postgres-parity source. Always pass a partitionColumn for real
    tables — a single-connection JDBC read serializes the whole table
    through one task, which is the classic 100 TB-scale trap."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1 << 31))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4 CSV sink (reference: to_csv('decision_summaries.csv', utf-8),
    generate_decisions_summaries.py:120). Distributed write — one file per
    partition; .coalesce(1) upstream only if a single file is required."""
    df.write.option("header", True).option("encoding", "UTF-8").mode(mode).csv(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: Sequence[str] = (), mode: str = "overwrite"
) -> None:
    """Columnar sink; partition_by enables partition pruning downstream."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_binary_docs(spark: SparkSession, path_glob: str) -> DataFrame:
    """S5 step 1: binary-file source for DOCX/semi-structured ingestion.
    Yields (path, modificationTime, length, content:binary)."""
    from unfccc_documents_database_sandbox_spark.catalog import ensure_pyfiles

    # the downstream parser is a module-level mapInPandas fn — make the
    # package importable on Python workers even when the caller's session
    # was not launched from the repo (see catalog.ensure_pyfiles).
    ensure_pyfiles(spark)
    return spark.read.format("binaryFile").load(path_glob)


def parse_docx_blocks(binary_docs: DataFrame) -> DataFrame:
    """S5 step 2: DOCX → ordered block rows (the reference's abstract-docx
    stage, requirements.txt:1). Real stdlib implementation — see
    sources/docx.py."""
    from unfccc_documents_database_sandbox_spark.sources.docx import docx_to_blocks

    return docx_to_blocks(binary_docs)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 8,
    sort_by: str | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) table — managed by
    default, external at ``path`` when given (bucketing requires the
    catalog, so this must go through saveAsTable either way; an explicit
    path keeps the data at a known location instead of the session's
    cwd-relative spark-warehouse).

    Scale rationale: two fact tables bucketed on the same join key with the
    same bucket count join WITHOUT a shuffle — the physical plan reads
    bucket i of both sides into the same task. At 100 TB that turns the
    recurring fact-fact join from the dominant shuffle into a local merge
    (asserted shuffle-free in tests/test_scale.py)."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)

"""S14-S16 — sinks: JSON / CSV parity artifacts and the per-LOB partitioned
analytic table (the Spark-native replacement for the reference's per-LOB
Excel workbooks, claude_pdf_extractor.py:678-774).

Format-agnostic: ``fmt='iceberg'`` on a cluster with a catalog; parquet in
the sandbox. CSV keeps the reference CLI's fixed column order
(cli.py:58-73).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference CSV column contract (cli.py:62)
CLI_CSV_COLUMNS = ["file_path", "claim_number", "name", "date", "confidence", "error"]


def write_csv(df: DataFrame, path: str, columns: list[str] | None = None) -> None:
    """S15 — fixed column order, header row (cli.py:58-73). Missing
    columns are ''-filled like the reference's dict.get(col, '')."""
    columns = columns or CLI_CSV_COLUMNS
    cols = [
        (F.col(c) if c in df.columns else F.lit("")).cast("string").alias(c) for c in columns
    ]
    df.select(*cols).write.mode("overwrite").option("header", True).csv(path)


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str = "conv_id", buckets: int = 32,
    fmt: str = "parquet",
) -> None:
    """Extraction-output sink bucketed by conv_id (ROADMAP 2: the shuffle
    diet). A bucketed scan reports HashPartitioning(conv_id) — downstream
    per-conversation consumers (the ordering window, golden joins,
    sessionization) satisfy their ClusteredDistribution straight off the
    scan with NO Exchange, so the payload-sized shuffle of extracted_text
    + spans happens zero times instead of once per consumer. On a cluster
    this is the Iceberg ``bucket(conv_id, N)`` hidden partitioning; in the
    sandbox it's a bucketed catalog table (bucketBy requires saveAsTable).
    Plan pinned in tests/test_plan_shapes.py."""
    (
        df.write.mode("overwrite")
        .format(fmt)
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def write_per_lob(df: DataFrame, path: str, lob_col: str = "lob", fmt: str = "parquet") -> None:
    """S16 — per-LOB + combined in ONE write: partitionBy(lob) gives the
    per-LOB 'workbooks' as partitions and the root as the combined table —
    the reference needed two write passes (claude_pdf_extractor.py:764-774),
    Spark's hidden partitioning needs none."""
    df.write.mode("overwrite").partitionBy(lob_col).format(fmt).save(path)

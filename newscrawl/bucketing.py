"""Bucketed co-located fetch join — the 10^10-frontier physical path.

When the wave's candidate set is too large to broadcast (the default
wave plan broadcasts candidate metadata into the pages scan), the
scale-out strategy is to bucket BOTH tables by the join key at write
time: `bucketBy(n, 'url')` + `sortBy('url')`. A sort-merge join between
two tables bucketed identically on the join key needs NO Exchange on
either side — every bucket pair joins locally where it was scanned, so
the page corpus (html bytes) never moves even with a billion-row
frontier. Verified by tests/test_plans.py::test_bucketed_fetch_join_has_no_exchange.

Bucket count is the knob that fixes per-task memory at any total size:
10^10 urls / 2^14 buckets ~ 600k urls per bucket regardless of cluster
shape. It is chosen once, when the pages table is written; the wave
reads it back from that table's catalog spec (``bucket_count``), so the
candidate side always matches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame, table: str, n_buckets: int, key: str = "url"
) -> None:
    """Materialize a table bucketed+sorted by the join key (one-time
    cost, amortized over every later wave's fetch join)."""
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def bucket_count(spark: SparkSession, table: str) -> int:
    """The bucket count of ``table``'s catalog spec. Raises ValueError
    unless the table is bucketed on url alone — any other spec would
    plan an Exchange on the pages side of the fetch join."""
    spec = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    if spec.get("Bucket Columns") != "[`url`]":
        raise ValueError(
            f"{table} is not bucketed on 'url' "
            f"(bucket columns: {spec.get('Bucket Columns')})"
        )
    return int(spec["Num Buckets"])


def bucketed_fetch(
    spark: SparkSession, frontier_table: str, pages_table: str
) -> DataFrame:
    """Co-located inner join of two identically-bucketed tables on url:
    the pages' (url, warc_ts, html) followed by the frontier's columns —
    the fetch join ``wave.run_wave`` runs when given ``pages_table``.

    With matching bucket specs Spark plans a sort-merge join with zero
    Exchange operators — the html column streams from the local scan
    straight into the join.
    """
    pages = spark.table(pages_table).select("url", "warc_ts", "html")
    return pages.join(spark.table(frontier_table), "url", "inner")

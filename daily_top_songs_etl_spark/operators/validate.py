"""Load-time validation — the constraint system, re-expressed.

Postgres enforces CHECK/UNIQUE/NOT NULL at insert (``create_schema_structure
.sql:63-69``); the reference additionally hard-fails when the extract does
not produce exactly 10 songs (``etl_pipeline.py:972-973``). Spark enforces
nothing, so validation is an explicit operator run on every batch before the
upsert (SURVEY.md §1.3, §2.4 F8/F9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas


class DataQualityError(ValueError):
    """Batch violated a reference invariant (the guard-exception analog,
    ``etl_pipeline.py:119-174``)."""


def split_valid_ranking(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition a ranking batch into (valid, rejected) by the CHECK
    predicates: rank in [1,10], ranking_date <= current_date, source in the
    enum domain, no NULL key parts."""
    pred = (
        F.col("rank").between(1, 10)
        & (F.col("ranking_date") <= F.current_date())
        & F.col("ranking_source").isin(schemas.MUSIC_SOURCES)
        & F.col("isrc").isNotNull()
        & F.col("ranking_date").isNotNull()
    )
    return batch.filter(pred), batch.filter(~F.coalesce(pred, F.lit(False)))


def validate_ranking(batch: DataFrame) -> DataFrame:
    valid, _rejected = split_valid_ranking(batch)
    return valid


def check_cardinality(df: DataFrame, expected: int = 10) -> DataFrame:
    """F9: ``if len(isrcs) != 10: raise`` (``etl_pipeline.py:972-973``)."""
    n = df.count()
    if n != expected:
        raise DataQualityError(f"expected exactly {expected} rows, got {n}")
    return df


def table_checksum(df: DataFrame, canonical_cols: list[Column]) -> DataFrame:
    """Order-insensitive table content fingerprint: (row_count, sum of
    per-row 60-bit md5 prefixes) — the cross-engine migration audit
    ("did the Spark copy load exactly what the source holds?") that can
    run independently on both systems and be compared as two numbers.

    ``canonical_cols`` must be engine-portable string projections —
    integers/strings cast to string, money through DECIMAL (Spark and
    DuckDB/Postgres render decimal strings identically; raw double
    formatting differs between engines), timestamps explicitly
    formatted, NULLs coalesced to a sentinel (concat_ws would otherwise
    silently skip them).

    60 bits (15 hex chars) keeps each row hash positive in a signed
    64-bit lane; the sum accumulates in DECIMAL(38,0) so it cannot
    overflow before ~10^18 rows. Commutative sum ⇒ partition/order
    independent — map-side combinable, one 1-row final aggregate.
    """
    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws("|", *canonical_cols)), 1, 15), 16, 10
    ).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(row_hash).cast("decimal(38,0)").alias("content_checksum"),
    )


def profile_columns(
    df: DataFrame, cols: list[str], approx: bool = False
) -> DataFrame:
    """Column-level statistics profile (the ANALYZE TABLE step): one output
    row per profiled column with null count, distinct count, and typed
    min/max rendered as strings (typed comparison first, THEN cast — a
    lexicographic min over stringified numbers would be wrong).

    One aggregate branch PER COLUMN, unioned: each branch's parquet scan
    prunes to exactly its own column, and a single-distinct aggregate
    plans as an ordinary two-phase partial-distinct hash agg — no Expand.
    (The one-pass all-columns form needs multi-distinct, which Expands
    the input k-way: one duplicated row per profiled column per input
    row — strictly more I/O than k slim column scans on a columnar
    store.) ``approx=True`` swaps in HyperLogLog++
    ``approx_count_distinct`` (rsd 2%) — constant sketch memory, no
    distinct shuffle at all, the 100 TB mode. The DuckDB oracle needs
    exact, so ``approx`` defaults off.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    nd = (
        (lambda c: F.approx_count_distinct(c, rsd=0.02))
        if approx
        else F.countDistinct
    )
    parts = []
    for c in cols:
        one = df.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(c).alias("__nn"),
            nd(c).alias("__nd"),
            F.min(c).cast("string").alias("min_value"),
            F.max(c).cast("string").alias("max_value"),
        ).select(
            F.lit(c).alias("column_name"),
            F.col("__n").cast("bigint").alias("n_rows"),
            (F.col("__n") - F.col("__nn")).cast("bigint").alias("n_nulls"),
            F.col("__nd").cast("bigint").alias("n_distinct"),
            "min_value",
            "max_value",
        )
        parts.append(one)
    return reduce(lambda a, b: a.unionByName(b), parts)

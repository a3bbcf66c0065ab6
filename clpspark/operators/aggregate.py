"""Aggregate stage: the reference's reducer operators as Spark aggregations.

Every aggregate here maps to a built-in partial/final hash aggregate — the
same two-phase split the reference implements by hand
(reducer/CountOperator.cpp:4-24 intra/inter-stage merge; Spark's
partial_count -> final merge is identical and free). Per-sink row counts
are not among them: the pipeline rolls those up from the route stage's
fused per-file counts (snapshots.sink_audit_from_stats) without a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def per_source_token_stats(df: DataFrame) -> DataFrame:
    """Per-source token statistics (count, sum/min/max/avg of n_tok)."""
    return df.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_tok").alias("sum_n_tok"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
        F.round(F.avg("n_tok"), 6).alias("avg_n_tok"),
    )


def count_by_time(
    df: DataFrame, bucket_ms: int, ts_col: str = "ts",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Count-by-time: bucket = ts div b * b (clp/clo/OutputHandler.hpp:270-272).

    Integer floor-division bucketing on the epoch-ms column, exactly as the
    reference's timeline aggregation; optional extra group keys.
    """
    bucket = (F.floor(F.col(ts_col) / F.lit(bucket_ms)) * F.lit(bucket_ms)).alias(
        "bucket"
    )
    return (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(bucket, *[F.col(c) for c in group_cols])
        .agg(F.count("*").alias("n_rows"))
    )


def topk_latest(df: DataFrame, k: int, ts_col: str = "ts",
                tiebreak_col: str = "doc_id") -> DataFrame:
    """Top-k latest events by timestamp (clp/clo/OutputHandler.hpp:121-217).

    The reference keeps a bounded min-heap; Spark's orderBy+limit compiles to
    TakeOrderedAndProject (per-partition heap + driver merge — same
    algorithm, distributed). Deterministic tiebreak for testability.
    """
    return df.orderBy(F.col(ts_col).desc(), F.col(tiebreak_col).asc()).limit(k)


def dictionary_stats(df: DataFrame) -> DataFrame:
    """Per-logtype occurrence counts + var-volume (clp_s/SchemaTree.hpp:96-105).

    Works on routed output, which stores ids only: the dict-var count per row
    is size(dict_slots) (the route stage drops the redundant string columns —
    CLP archives store dictionary ids, not strings).
    """
    return df.groupBy("logtype_id").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.size("encoded_vars")).alias("n_vars"),
        F.sum(F.size("dict_slots")).alias("n_dict_vars"),
        F.min("ts").alias("begin_ts"),
        F.max("ts").alias("end_ts"),
    )

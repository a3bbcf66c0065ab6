"""Structured Streaming ingestion — the reference's real-time IR path.

CLP ingests IR streams in real time (clp/ffi/ir_stream/Serializer.cpp;
compression workers tail them into archives) and the reducer upserts timeline
aggregates on a timer (job_orchestration/reducer/reducer.py:55-64
--upsert-interval). Spark-native equivalents:

  - ``stream_sequences``: file-source readStream over the sequences table
    feeding the SAME parse stage used in batch (mapInPandas works unchanged
    on streaming DataFrames).
  - ``stream_count_by_time``: windowed count with watermark; update mode +
    processing-time trigger == the reducer's periodic upsert.
  - ``stream_route``: foreachBatch fan-out writing per-logtype sinks per
    micro-batch — the incremental-archive analog (each batch commits its
    rows; lineage by batch id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clpspark.corpus import SEQUENCES_SCHEMA
from clpspark.operators.parse import parse_sequences


def stream_sequences(spark: SparkSession, path: str, vocab: list[str],
                     max_files_per_trigger: int = 4) -> DataFrame:
    """readStream over a sequences dir -> parsed event stream."""
    seqs = (
        spark.readStream.schema(SEQUENCES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return parse_sequences(seqs, vocab)


def stream_count_by_time(parsed: DataFrame, bucket_ms: int = 3_600_000,
                         watermark: str = "1 hour") -> DataFrame:
    """Windowed count-by-time with late-data watermark.

    The reference has no late-data semantics (reducer merges whatever
    arrives); the watermark bounds state for the 100 TB streaming regime.
    """
    withevent = parsed.where(F.col("ts").isNotNull()).withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    )
    return (
        withevent.withWatermark("event_time", watermark)
        .groupBy(
            F.window("event_time", f"{bucket_ms // 1000} seconds").alias("win"),
            "source",
        )
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.unix_millis(F.col("win.start")).alias("bucket"),
            "source",
            "n_rows",
        )
    )


def stream_route(parsed: DataFrame, out_dir: str, checkpoint_dir: str,
                 logtype_dict: DataFrame, var_dict: DataFrame,
                 salt: int = 8):
    """foreachBatch fan-out: enrich + per-logtype partitioned append.

    Each micro-batch runs the batch route stage (same code path). Exactly-once
    despite foreachBatch's at-least-once replay: every batch OVERWRITES its own
    ``batch=<id>`` subdirectory, so a batch replayed after a failure (the
    checkpoint commits after foreachBatch returns) replaces its rows instead
    of appending duplicates. Readers use :func:`read_stream_routed`.
    """
    from clpspark.operators.enrich import enrich
    from clpspark.operators.route import route

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # auto: broadcast-map fill while the (fixed, pre-built) dictionary is
        # collectable, shuffle join beyond — same rule as batch enrich
        enriched = enrich(batch_df, logtype_dict, var_dict, mode="auto")
        route(enriched, f"{out_dir}/batch={batch_id}", salt=salt)
        # incremental (var_id, logtype_id) inverted index: merge THIS batch's
        # pairs into the stream's index so all-dict-var queries partition-
        # prune streamed archives too. distinct-union merge is idempotent —
        # a replayed batch adds nothing — and the index stays vocabulary-
        # sized, so the merge is a tiny job per batch.
        from clpspark.operators.route import build_var_index

        bspark = batch_df.sparkSession
        pairs = build_var_index(
            bspark.read.parquet(f"{out_dir}/batch={batch_id}")
        )
        _merge_var_index(bspark, f"{out_dir}/_var_index", pairs)

    return (
        parsed.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="2 seconds")
    )


def _merge_var_index(spark, idx_path: str, pairs: DataFrame) -> None:
    """Idempotent distinct-union merge into the stream's var index.

    Writes the merged set to a sibling tmp dir then swaps directories
    (parquet can't overwrite a path it is lazily reading). Crash-safe via
    the recovery preamble: the dangerous window is between the two renames
    (idx gone, only ``.old``/completed ``.tmp`` survive) — on the next
    merge we restore the newest complete copy BEFORE reading, so no merged
    pairs are ever lost to a replayed batch starting from scratch."""
    import os
    import shutil

    tmp = idx_path + ".tmp"
    old = idx_path + ".old"
    if not os.path.exists(idx_path):
        # crashed mid-swap: tmp is only ever renamed/deleted AFTER it was
        # fully written (_SUCCESS), so prefer it (it holds the newest
        # merge); fall back to the pre-merge copy
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, idx_path)
        elif os.path.exists(old):
            os.rename(old, idx_path)
    shutil.rmtree(old, ignore_errors=True)

    merged = pairs
    if os.path.exists(idx_path):
        merged = spark.read.parquet(idx_path).unionByName(pairs)
    merged.distinct().write.mode("overwrite").parquet(tmp)
    if os.path.exists(idx_path):
        os.rename(idx_path, old)
    os.rename(tmp, idx_path)
    shutil.rmtree(old, ignore_errors=True)


def read_stream_var_index(spark: SparkSession, out_dir: str):
    """The stream's incrementally-merged (var_id, logtype_id) index, or
    None before the first non-empty batch."""
    import os

    p = f"{out_dir}/_var_index"
    return spark.read.parquet(p) if os.path.exists(p) else None


def read_stream_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a stream_route fan-out; same schema as the batch routed table
    (the per-batch commit directory is dropped, logtype_id partition-prunes)."""
    return (
        spark.read.option("basePath", out_dir).parquet(out_dir).drop("batch")
    )


def stream_dedup(
    docs: DataFrame,
    ts_col: str,
    watermark: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries and content duplicates of
    a document whose normalized text digest was already seen within the
    watermark horizon (dropDuplicatesWithinWatermark — state is evicted
    once an arriving duplicate could no longer be on time, so the dedup
    map is bounded by the watermark window, not the stream's lifetime).

    The state key is the 128-bit content digest as BINARY (unhex'd md5 —
    a true 16 bytes/doc of state; the hex string would be 32), never the
    text (same key discipline as the batch operators.dedup.exact_dedup).
    Re-played batches are idempotent: the digest of a replayed doc is
    identical, so replicas drop.
    """
    from clpspark.operators.dedup import normalize_text
    from clpspark.sources.json_logs import fresh_name

    dg = fresh_name("_digest", docs.columns)
    return (
        docs.withColumn(
            dg, F.unhex(F.md5(normalize_text(F.col(text_col))))
        )
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([dg])
        .drop(dg)
    )

"""Route stage: GLT-style fan-out of events into per-logtype sinks.

The reference's GLT variant groups all rows of one logtype into its own
columnar table (glt/streaming_archive/writer/LogtypeTable.hpp:13-75). The
Spark-native equivalent is a partitioned write: ``partitionBy(sink_col)``
gives one directory (= sink table) per logtype family.

Skew handling (north rule): logtypes are zipf-heavy — one logtype can be ~40%
of all rows. A plain ``repartition(logtype_id)`` puts the heavy hitter in one
task. We salt the shuffle key with a *deterministic* per-row salt
(pmod(xxhash64(doc_id), salt)) so the hot logtype spreads over ``salt`` tasks
while the partitionBy layout still lands every row in the right sink dir.
AQE skew-join/coalesce remains enabled on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SINK_COL = "logtype_id"

# Sentinel sink for rows whose logtype is absent from the dictionary. Batch
# pipelines never produce it (the dict is built from the same data), but
# streaming enriches against a fixed pre-built dictionary
# (streaming/ingest.py:stream_route) — the first unseen logtype must not
# fail the query (enrich.UNKNOWN_VAR_ID contract). Such rows keep their
# logtype string in ``unseen_logtype`` (null for every known row; parquet
# stores an all-null column in a handful of bytes) so decode can still
# reconstruct them verbatim.
UNKNOWN_LOGTYPE_ID = -1


def route(
    enriched: DataFrame,
    out_dir: str,
    salt: int | None = None,
    num_partitions: int | None = None,
    sink_col: str = SINK_COL,
    sink_counts: DataFrame | None = None,
    rows_per_task: int | None = None,
    write_options: dict[str, str] | None = None,
    total_rows: int | None = None,
    lead_col: str | None = None,
) -> None:
    """Fan-out write. ``salt`` is the max salt; when ``sink_counts`` (a small
    (sink, n_rows) table, e.g. the logtype dictionary) is given, the salt is
    frequency-aware: salt_n(sink) = clamp(n_rows / rows_per_task, 1, salt),
    so only heavy-hitter sinks spread across tasks and rare sinks stay in one
    output file each (no small-file explosion). ``total_rows`` (the summed
    ``n_rows`` of ``sink_counts``, when the caller already holds it) spares
    the aggregation job that derives ``rows_per_task``. ``lead_col`` (a split
    run's ``archive``) is a partition level above the sinks."""
    spark = enriched.sparkSession
    # per-row salt source: a stable id column when present, else a
    # partition-local counter (only spreads rows — never affects content)
    salt_src = (
        F.xxhash64("doc_id") if "doc_id" in enriched.columns
        else F.monotonically_increasing_id()
    )
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if salt is None:
        # a single heavy-hitter sink must be able to occupy every shuffle
        # task, or its tasks straggle at high parallelism
        salt = num_partitions
    if sink_counts is not None:
        if rows_per_task is None:
            if total_rows is None:
                total_rows = sink_counts.agg(F.sum("n_rows")).first()[0] or 0
            # aim for ~2 shuffle tasks' worth per salt bucket
            rows_per_task = max(total_rows // (2 * num_partitions), 5_000)
        salts = sink_counts.select(
            F.col(sink_col),
            F.greatest(
                F.lit(1),
                F.least(F.lit(salt), F.ceil(F.col("n_rows") / rows_per_task)),
            ).alias("_salt_n"),
        )
        df = enriched.join(F.broadcast(salts), sink_col, "left").withColumn(
            "_salt",
            F.pmod(salt_src, F.coalesce(F.col("_salt_n"), F.lit(1))),
        ).drop("_salt_n")
    else:
        df = enriched.withColumn(
            "_salt", F.pmod(salt_src, F.lit(salt))
        )
    # CLP archives store dictionary IDs, not strings — the var-dict and
    # logtype-dict tables own the strings (decode joins them back), and the
    # enrich stage already filled the dict ids INTO encoded_vars, making
    # var_ids redundant too. Dropping all three cuts the shuffle + sink
    # bytes substantially (logtype was the heaviest routed column).
    # Exception: a logtype ABSENT from the dictionary (null logtype_id —
    # possible only against a fixed pre-built dict, i.e. streaming) is
    # quarantined under UNKNOWN_LOGTYPE_ID with its string preserved; the
    # only copy of the logtype must not be dropped.
    if "logtype" in df.columns and sink_col == SINK_COL and sink_col in df.columns:
        df = df.withColumn(
            "unseen_logtype",
            F.when(F.col(sink_col).isNull(), F.col("logtype")),
        ).withColumn(
            sink_col,
            F.coalesce(F.col(sink_col), F.lit(UNKNOWN_LOGTYPE_ID).cast("bigint")),
        )
    for redundant in ("dict_vars", "logtype", "var_ids"):
        if redundant in df.columns:
            df = df.drop(redundant)
    parts = [c for c in (lead_col, sink_col) if c]
    salted = df.repartition(
        num_partitions, *map(F.col, parts), F.col("_salt")).drop("_salt")
    # time-ordered within each task (CLP archives are time-ordered): zstd
    # compresses adjacent-timestamp rows far better, and parquet row-group
    # min/max stats on ts make tge/tle search predicates prune at the
    # row-group level, not just the partition level. Leading with every
    # partition column keeps Spark from re-sorting the write (losing ts order)
    order_cols = parts + [c for c in ("ts", "doc_id") if c in salted.columns]
    salted = salted.sortWithinPartitions(*order_cols)
    # per-write options (e.g. the zstd codec level) — passed on the writer,
    # never via session-global hadoop conf, so concurrent pipelines sharing
    # one SparkSession can't leak their codec settings into each other
    w = salted.write.mode("overwrite").partitionBy(*parts)
    for k, v in (write_options or {}).items():
        w = w.option(k, v)
    w.parquet(out_dir)


# Declared schema of the var_index table the pipeline writes
# (snapshots.collect_file_stats_and_var_index): readers pass it to skip the
# schema-inference job of a plain parquet read.
VAR_INDEX_SCHEMA = "logtype_id bigint, var_id bigint"


def build_var_index(routed: DataFrame) -> DataFrame:
    """(var_id, logtype_id) inverted index over the routed fan-out.

    The reference prunes segments by a dict-var-id -> segment index built at
    archive write (clp/streaming_archive/writer/Archive.cpp:487-526, probed
    at clp/Query.cpp:189). Spark analog: the distinct (var_id, logtype_id)
    co-occurrence pairs let GrepEngine prune sink partitions for queries
    whose only constraints are dictionary variables — the logtype LIKE
    pattern of such queries matches everything, so without this index they
    scan every candidate partition.

    One column-pruned scan + one distinct shuffle; output is vocabulary-
    sized (pairs, not rows) and stays tiny relative to the archive.
    """
    return (
        routed.select(
            "logtype_id",
            F.explode(
                F.expr("transform(dict_slots, s -> encoded_vars[s])")
            ).alias("var_id"),
        )
        .distinct()
    )


def logtype_var_classes(logtype: str) -> list[str]:
    """Variable-slot classes of a logtype, in placeholder order:
    'i' (encoded int), 'f' (encoded float), 'd' (dictionary id)."""
    classes: list[str] = []
    i = 0
    n = len(logtype)
    while i < n:
        c = logtype[i]
        if c == "\\":
            i += 2
            continue
        if c == "\x11":
            classes.append("i")
        elif c == "\x13":
            classes.append("f")
        elif c == "\x12":
            classes.append("d")
        i += 1
    return classes


def columnarize_logtype(
    routed: DataFrame,
    logtype_dict: DataFrame,
    logtype_id: int,
) -> DataFrame:
    """GLT LogtypeTable layout: one typed 64-bit column per variable slot of
    ONE logtype (glt/streaming_archive/writer/LogtypeTable.hpp:13-75 stores
    exactly this — column i holds slot i's encoded value or dictionary id).

    The scan partition-prunes to the logtype's sink directory, then projects
    ``encoded_vars[i]`` into named columns: ``ivar_<k>`` (the integer value
    itself), ``fvar_<k>`` (CLP-packed float, decode via ref.encoder),
    ``dvar_<k>`` (var-dict id). Pure Column expressions — no UDF, no shuffle.
    """
    row = (
        logtype_dict.where(F.col("logtype_id") == logtype_id)
        .select("logtype")
        .first()
    )
    if row is None:
        raise KeyError(f"unknown logtype_id: {logtype_id}")
    classes = logtype_var_classes(row["logtype"])
    prefix = {"i": "ivar", "f": "fvar", "d": "dvar"}
    cols = [F.col(c) for c in ("doc_id", "source", "ts") if c in routed.columns]
    for k, cls in enumerate(classes):
        cols.append(F.col("encoded_vars")[k].alias(f"{prefix[cls]}_{k}"))
    return routed.where(F.col("logtype_id") == logtype_id).select(*cols)

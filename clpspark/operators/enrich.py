"""Enrich stage: dictionary build + broadcast-join enrichment.

CLP's dictionaries (clp/VariableDictionaryWriter.cpp,
clp/LogTypeDictionaryEntry.cpp) dedup strings to dense u64 ids at ingest,
in-process. Spark-first equivalents here:

  - dictionary build: ``groupBy(value).count()`` is both the distinct and
    the per-value stats. While the counted table passes
    ``decode.driver_rows`` (the one residency gate) it is collected once
    and ids are assigned on the driver: sorted values, id = rank (Python's
    code-point order is Spark's UTF-8 binary order). The table becomes a
    one-partition local frame and the id map goes to the caller, so the
    enrich fill needs no second collect.
  - ``zip_with_index``: the past-the-gate build — deterministic,
    collision-free dense ids (range-partition by value -> per-partition
    offsets), the scalable zipWithIndex pattern: no global window, no
    per-partition counters, parallelism-invariant ids equal to the driver
    build's.
  - ``enrich``: broadcast hash join of events against the logtype dictionary
    plus dict-var id fill. Two var-dict strategies, picked by
    ``decode.driver_rows`` (or given by a caller that already holds the
    map):
      * map: the var dict is broadcast as a Python dict into an
        Arrow-batched UDF that fills the null slots of ``encoded_vars`` —
        right while the dict fits ``decode.map_fits`` (CLP bounds
        dictionary size by splitting archives; we mirror that assumption).
      * join: posexplode -> shuffle join -> re-assemble; no memory bound,
        strictly more shuffle. Kept for the huge-dict regime and tested equal.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from clpspark.operators.decode import driver_rows

ENRICHED_EXTRA_COLS = ("logtype_id", "var_ids")

# Column layout of build_logtype_dict / build_var_dict output. Readers of a
# written dictionary pass it to ``spark.read.schema``: a plain
# ``spark.read.parquet`` launches a schema-inference job per read.
LOGTYPE_DICT_SCHEMA = "logtype string, logtype_id bigint, n_rows bigint"
VAR_DICT_SCHEMA = "var_str string, var_id bigint, n_occurrences bigint"

# Sentinel id for dict-var strings absent from the dictionary. Batch enrich
# never produces it (the dict is built from the same data), but streaming
# enriches future micro-batches against a fixed pre-built dictionary
# (streaming/ingest.py:stream_route) — the first unseen variable must not
# fail the query. Decode renders it as an <unk> marker.
UNKNOWN_VAR_ID = -1


def zip_with_index(df: DataFrame, value_col: str, id_col: str,
                   num_partitions: int | None = None,
                   already_distinct: bool = False) -> DataFrame:
    """Assign deterministic dense ids 0..N-1 ordered by ``value_col``.

    Scalable two-phase pattern: range-partition + sort by value, compute
    per-partition counts, then offset a per-partition row_number. Ids depend
    only on the value set, not on parallelism. Extra columns of an
    ``already_distinct`` input (e.g. per-value counts) are carried through.
    """
    return _zip_with_index(df, value_col, id_col, num_partitions,
                           already_distinct)[0]


def _zip_with_index(df: DataFrame, value_col: str, id_col: str,
                    num_partitions: int | None = None,
                    already_distinct: bool = False,
                    count_col: str | None = None) -> tuple[DataFrame, dict]:
    """``zip_with_index`` plus the dictionary's stats, from the SAME
    per-partition collect that yields the id offsets: ``entries``,
    ``value_bytes`` (summed ``length(value_col)``) and ``carried`` (summed
    ``count_col``, 0 without one) — no separate count job over the result."""
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    if not already_distinct:
        df = df.select(F.col(value_col)).distinct()
    carry = [c for c in df.columns if c != value_col]
    d = (
        df.where(F.col(value_col).isNotNull())
        .repartitionByRange(num_partitions, value_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    parts = d.groupBy("_pid").agg(
        F.count("*").alias("cnt"),
        F.sum(F.length(value_col)).alias("nbytes"),
        F.sum(count_col if count_col else F.lit(0)).alias("carried"),
    ).collect()
    counts = {r["_pid"]: r["cnt"] for r in parts}
    stats = {
        "entries": sum(counts.values()),
        "value_bytes": sum(r["nbytes"] or 0 for r in parts),
        "carried": sum(r["carried"] or 0 for r in parts),
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        empty = d.select(
            F.col(value_col), F.lit(None).cast("bigint").alias(id_col), *carry
        ).localCheckpoint(eager=True)
        d.unpersist()
        return empty, stats
    off_expr = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("_pid").orderBy(value_col)
    out = (
        d.withColumn("_local", F.row_number().over(w) - 1)
        .withColumn(id_col, (off_expr[F.col("_pid")] + F.col("_local")).cast("bigint"))
        .select(value_col, id_col, *carry)
    )
    # Materialize eagerly (localCheckpoint RDDs are freed by the
    # ContextCleaner on GC) so d's explicit cache can be released now —
    # a plain persist here leaked storage across repeated dict builds in
    # long-lived bench/scaling sessions.
    out = out.localCheckpoint(eager=True)
    d.unpersist()
    return out, stats


def _build_dict(counted: DataFrame, value_col: str, id_col: str,
                count_col: str) -> tuple[DataFrame, dict, dict | None]:
    """Dense ids for the values of ``counted`` (value, count): the
    dictionary table, its stats (``entries``, ``value_bytes``: summed
    characters, ``carried``: summed counts; null values excluded) and the
    ``{value: id}`` map — None past the residency gate, where
    ``_zip_with_index`` builds the table in Spark with the same ids."""
    rows = driver_rows(counted, [value_col, count_col], value_col, "auto")
    if rows is None:
        df, stats = _zip_with_index(counted, value_col, id_col,
                                    already_distinct=True,
                                    count_col=count_col)
        return df, stats, None
    rows = sorted((r for r in rows if r[0] is not None),
                  key=lambda r: r[0])
    values = [r[0] for r in rows]
    counts = pd.Series([r[1] for r in rows], dtype="int64")
    stats = {"entries": len(values),
             "value_bytes": sum(len(v) for v in values),
             "carried": int(counts.sum())}
    pdf = pd.DataFrame({value_col: pd.Series(values, dtype=object),
                        id_col: np.arange(len(values), dtype=np.int64),
                        count_col: counts})
    # no column holds a null: declared so, parquet stores no definition
    # levels for them
    schema = StructType([StructField(value_col, StringType(), False),
                         StructField(id_col, LongType(), False),
                         StructField(count_col, LongType(), False)])
    # one partition: the table is written as one parquet file
    df = counted.sparkSession.createDataFrame(pdf, schema).coalesce(1)
    return df, stats, dict(zip(values, range(len(values))))


def build_logtype_dict(parsed: DataFrame) -> DataFrame:
    """logtype string -> dense logtype_id + occurrence count.

    One shuffle: groupBy(logtype).count() is both the distinct and the
    dictionary stats (SchemaTree m_count analog); counts also drive the
    route stage's frequency-aware salting.
    """
    return _logtype_dict_and_stats(parsed)[0]


def _logtype_dict_and_stats(parsed: DataFrame
                            ) -> tuple[DataFrame, dict, dict | None]:
    counted = parsed.groupBy("logtype").agg(F.count("*").alias("n_rows"))
    return _build_dict(counted, "logtype", "logtype_id", "n_rows")


def build_var_dict(parsed: DataFrame) -> DataFrame:
    """distinct dict-var strings -> dense var_id + occurrence count."""
    return _var_dict_and_stats(parsed)[0]


def _var_dict_and_stats(parsed: DataFrame
                        ) -> tuple[DataFrame, dict, dict | None]:
    counted = (
        parsed.select(F.explode("dict_vars").alias("var_str"))
        .groupBy("var_str")
        .agg(F.count("*").alias("n_occurrences"))
    )
    return _build_dict(counted, "var_str", "var_id", "n_occurrences")


# JVM-side fill of dict slots from var_ids by position (codegen-friendly,
# tiny per-row arrays). encoded_vars carries no nulls (see parse.py: Arrow
# null-coercion corrupts int64); dict_slots indexes the positions to fill.
_FILL_EXPR = """
    transform(encoded_vars, (v, i) ->
      CASE WHEN array_position(dict_slots, i) > 0
           THEN var_ids[CAST(array_position(dict_slots, i) AS INT) - 1]
           ELSE v END)
"""


def _fill_var_ids_map(parsed: DataFrame, var_map_bc) -> DataFrame:
    """Fill dict slots of encoded_vars via a broadcast Python map.

    Only the ``dict_vars`` column round-trips through Arrow (a scalar
    pandas_udf); every other column stays in the JVM. Shipping whole rows
    through mapInPandas costs ~10x more than the lookup itself.
    """

    @F.pandas_udf("array<bigint>")
    def to_ids(dv: pd.Series) -> pd.Series:
        vm = var_map_bc.value
        return pd.Series([[vm.get(x, UNKNOWN_VAR_ID) for x in row] for row in dv])

    return parsed.withColumn("var_ids", to_ids(F.col("dict_vars"))).withColumn(
        "encoded_vars", F.expr(_FILL_EXPR)
    )


def enrich(
    parsed: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    mode: str = "auto",
    var_map: dict | None = None,
) -> DataFrame:
    """Attach logtype_id (broadcast hash join) and fill dict-var ids.

    ``var_map`` ({var_str: var_id}, a var dictionary the caller already
    holds on the driver, e.g. this run's dictionary build) fills from a
    broadcast python map without asking Spark again. Otherwise ``mode``
    goes to ``decode.driver_rows``: ``"auto"`` fills from the map while the
    var dictionary fits ``map_fits`` and through the shuffle join beyond —
    a tens-of-GB var dictionary at 100 TB must never reach the driver —
    with one bounded collect that both gates and builds the map; ``"map"``
    and ``"join"`` force a path.
    """
    if var_map is None:
        rows = driver_rows(var_dict, ["var_str", "var_id"], "var_str", mode)
        var_map = None if rows is None else dict(rows)
    if var_map is None:
        filled = _fill_var_ids_join(parsed, var_dict)
    else:
        var_map_bc = parsed.sparkSession.sparkContext.broadcast(var_map)
        filled = _fill_var_ids_map(parsed, var_map_bc)
    return filled.join(
        F.broadcast(logtype_dict.select("logtype", "logtype_id")), "logtype", "left"
    )


def _fill_var_ids_join(parsed: DataFrame, var_dict: DataFrame) -> DataFrame:
    """Shuffle-join variant: posexplode dict_vars -> join -> reassemble.

    Used when ``decode.driver_rows`` keeps the var dictionary in Spark.
    One extra shuffle on doc_id; keyed reassembly preserves variable order
    via pos.
    """
    base = parsed
    exploded = base.select(
        "doc_id", F.posexplode_outer("dict_vars").alias("pos", "var_str")
    )
    joined = exploded.join(var_dict, "var_str", "left")
    ids = joined.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "var_id"))
        ).alias("_pv")
    ).select(
        "doc_id",
        F.expr(
            # coalesce: unknown strings (no dict hit) -> UNKNOWN_VAR_ID, and
            # encoded_vars stays null-free (Arrow null-coercion corrupts int64)
            "transform(filter(_pv, x -> x.pos is not null),"
            " x -> coalesce(x.var_id, CAST(-1 AS BIGINT)))"
        ).alias("var_ids"),
    )
    out = base.join(ids, "doc_id", "left").withColumn(
        "var_ids", F.coalesce(F.col("var_ids"), F.array().cast("array<bigint>"))
    )
    return out.withColumn("encoded_vars", F.expr(_FILL_EXPR))

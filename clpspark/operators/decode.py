"""Message decode — enrich in reverse, without driver-side dictionary state.

CLP decodes a stored event by joining its dictionary ids back to the logtype
and variable dictionaries (clp/EncodedVariableInterpreter.hpp:362-435,
clp/clp/FileDecompressor.hpp:29). Two Spark strategies:

  - ``map``: the var dictionary is collected once and broadcast as a Python
    dict into a narrow Arrow-batched UDF. Lowest latency; valid only while
    the dictionary fits in driver/executor memory (CLP bounds dictionary
    size by splitting archives; batch pipelines at one-archive scope can
    rely on it).
  - ``join``: dict-var ids are exploded, joined against the dictionary
    (Catalyst picks broadcast vs shuffle hash join by size), and reassembled
    in slot order. No driver collect, no memory bound — the 100 TB path.

``mode="auto"`` picks by dictionary entry count and string bytes
(``map_fits``), usually from the same bounded collect that builds the map.
The logtype dictionary is always attached with a broadcast join: it is
small by design (archives split before it grows).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clpspark.ref import encoder as E

# Above this many dictionary entries the collected python-dict broadcast is
# no longer safe (driver memory) and decode switches to the join strategy.
AUTO_MAP_MAX_ENTRIES = 1_000_000
# Entry count alone under-estimates: a dictionary of long strings can blow
# the driver well below 1M rows, so the same stats job also sums string
# bytes and the join strategy wins past this cap.
AUTO_MAP_MAX_BYTES = 128 << 20

# Rendered for ids absent from the dictionary (see enrich.UNKNOWN_VAR_ID).
UNKNOWN_VAR_MARKER = "<unk>"

# Rendered when a logtype id resolves to no string at all (should be
# unreachable: route.py quarantines unseen logtypes WITH their string).
UNKNOWN_LOGTYPE_MARKER = "<unknown-logtype>"


def attach_logtype(df: DataFrame, logtype_dict: DataFrame) -> DataFrame:
    """Attach the logtype string via a broadcast join (no-op if present).

    Rows routed under route.UNKNOWN_LOGTYPE_ID carry their own string in
    ``unseen_logtype`` (the dictionary has no entry for them); it wins the
    coalesce so quarantined rows still decode verbatim."""
    if "logtype" in df.columns:
        return df
    out = df.join(
        F.broadcast(logtype_dict.select("logtype_id", "logtype")),
        "logtype_id",
        "left",
    )
    if "unseen_logtype" in out.columns:
        out = out.withColumn(
            "logtype", F.coalesce(F.col("logtype"), F.col("unseen_logtype"))
        )
    return out


# Bounded probe size for the FUSED resolve+collect path: one limit-collect
# both decides the strategy and yields the map rows. Dictionaries larger
# than this (but under AUTO_MAP_MAX_ENTRIES) fall back to the two-job
# stats+collect shape — rare, since archives split before dicts grow.
AUTO_MAP_FUSE_ENTRIES = 200_000


def map_fits(n_entries: int, n_bytes: int | None) -> bool:
    """The map-vs-join gate: may a dictionary of ``n_entries`` strings
    totalling ``n_bytes`` characters be collected to the driver? Shared by
    every auto-mode resolver, whether the stats come from a Spark job or
    from the pipeline's lineage log."""
    return (n_entries <= AUTO_MAP_MAX_ENTRIES
            and (n_bytes or 0) <= AUTO_MAP_MAX_BYTES)


def resolve_mode_and_map(var_dict: DataFrame, key_col: str, value_col: str,
                         str_col: str = "var_str"):
    """(mode, {key: value} or None) in ONE bounded collect for the common
    case: the probe rows both decide the strategy (``map_fits`` over the
    ``str_col`` strings) and form the map-mode dictionary, replacing a
    separate stats job + full collect. Decode keys the map by id, enrich by
    string."""
    rows = (
        var_dict.select(key_col, value_col)
        .limit(AUTO_MAP_FUSE_ENTRIES + 1)
        .collect()
    )
    if len(rows) > AUTO_MAP_FUSE_ENTRIES:
        if resolve_decode_mode(var_dict, "auto", str_col) == "join":
            return "join", None
        rows = var_dict.select(key_col, value_col).collect()
    elif not map_fits(len(rows), sum(
            len(r[str_col]) for r in rows if r[str_col] is not None)):
        return "join", None
    return "map", {r[key_col]: r[value_col] for r in rows}


def resolve_decode_and_map(var_dict: DataFrame, var_map_bc=None,
                           value_col: str = "var_str"):
    """(mode, var_map_bc) for decode: ``resolve_mode_and_map`` keyed by
    var_id, broadcast in map mode."""
    mode, var_map = resolve_mode_and_map(var_dict, "var_id", value_col,
                                         value_col)
    if mode == "join":
        return "join", None
    return "map", (var_map_bc
                   or var_dict.sparkSession.sparkContext.broadcast(var_map))


def resolve_decode_mode(var_dict: DataFrame, mode: str = "auto",
                        value_col: str = "var_str") -> str:
    if mode == "auto":
        stats = var_dict.agg(
            F.count("*").alias("n"),
            F.sum(F.length(value_col)).alias("b"),
        ).first()
        return "map" if map_fits(stats["n"], stats["b"]) else "join"
    if mode not in ("map", "join"):
        raise ValueError(f"unknown decode mode: {mode}")
    return mode


def attach_dict_var_strings(
    df: DataFrame,
    var_dict: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "_dvs",
) -> DataFrame:
    """Join-based id->string resolution: adds ``out_col`` array<string> of the
    row's dict-var strings in slot order. No driver-side dictionary.

    Requires ``id_col`` to be unique per event (true for every source in this
    engine: parse/IR/archive ingestion all mint unique doc ids) — the
    reassembly groups by it.
    """
    ids = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr("transform(dict_slots, s -> encoded_vars[s])")
        ).alias("_pos", "var_id"),
    )
    resolved = (
        ids.join(var_dict.select("var_id", "var_str"), "var_id", "left")
        .groupBy(id_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_pos, var_str))),"
                f" x -> coalesce(x.var_str, '{UNKNOWN_VAR_MARKER}'))"
            ).alias(out_col)
        )
    )
    return df.join(resolved, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.array().cast("array<string>"))
    )


def _decode_udf_map(var_map_bc):
    @F.pandas_udf("string")
    def dec(lt_s: pd.Series, ev_s: pd.Series, ds_s: pd.Series) -> pd.Series:
        vm = var_map_bc.value
        msgs = []
        for lt, ev, ds in zip(lt_s, ev_s, ds_s):
            if lt is None:
                msgs.append(UNKNOWN_LOGTYPE_MARKER)
                continue
            slots = set(int(x) for x in ds)
            evs = [None if i in slots else int(v) for i, v in enumerate(ev)]
            dvs = [vm.get(int(ev[i]), UNKNOWN_VAR_MARKER) for i in sorted(slots)]
            msgs.append(E.decode_message(lt, evs, dvs))
        return pd.Series(msgs, dtype=object)

    return dec


def _decode_udf_join():
    @F.pandas_udf("string")
    def dec(lt_s: pd.Series, ev_s: pd.Series, ds_s: pd.Series,
            dv_s: pd.Series) -> pd.Series:
        msgs = []
        for lt, ev, ds, dv in zip(lt_s, ev_s, ds_s, dv_s):
            if lt is None:
                msgs.append(UNKNOWN_LOGTYPE_MARKER)
                continue
            slots = set(int(x) for x in ds)
            evs = [None if i in slots else int(v) for i, v in enumerate(ev)]
            dvs = list(dv) if dv is not None else []
            msgs.append(E.decode_message(lt, evs, dvs))
        return pd.Series(msgs, dtype=object)

    return dec


def build_var_map_broadcast(var_dict: DataFrame):
    """Collect + broadcast the var dictionary for the map strategy (callers
    may cache this across repeated decodes, e.g. GrepEngine)."""
    spark = var_dict.sparkSession
    var_map = {r["var_id"]: r["var_str"] for r in var_dict.collect()}
    return spark.sparkContext.broadcast(var_map)


def decode_messages(
    df: DataFrame,
    var_dict: DataFrame,
    logtype_dict: DataFrame | None = None,
    mode: str = "auto",
    out_col: str = "message",
    var_map_bc=None,
) -> DataFrame:
    """Add the decoded ``message`` column to encoded/routed events.

    Only the columns the decode needs round-trip through Arrow (narrow scalar
    pandas UDF; whole-row mapInPandas costs ~10x more).
    """
    if "logtype" not in df.columns:
        if logtype_dict is None:
            raise ValueError("events lack a logtype column; pass logtype_dict")
        df = attach_logtype(df, logtype_dict)
    if mode == "auto" and var_map_bc is None:
        mode, var_map_bc = resolve_decode_and_map(var_dict)
    else:
        mode = resolve_decode_mode(var_dict, mode)
    if mode == "map":
        bc = var_map_bc or build_var_map_broadcast(var_dict)
        dec = _decode_udf_map(bc)
        return df.withColumn(
            out_col, dec(F.col("logtype"), F.col("encoded_vars"),
                         F.col("dict_slots"))
        )
    with_dvs = attach_dict_var_strings(df, var_dict)
    dec = _decode_udf_join()
    return with_dvs.withColumn(
        out_col,
        dec(F.col("logtype"), F.col("encoded_vars"), F.col("dict_slots"),
            F.col("_dvs")),
    ).drop("_dvs")

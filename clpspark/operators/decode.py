"""Message decode — enrich in reverse.

CLP decodes a stored event by joining its dictionary ids back to the logtype
and variable dictionaries (clp/EncodedVariableInterpreter.hpp:362-435,
clp/clp/FileDecompressor.hpp:29). Two Spark strategies:

  - ``map``: BOTH dictionaries are collected once and broadcast as Python
    dicts ({var_id: var_str} and {logtype_id: logtype}) into one narrow
    Arrow-batched UDF: no join and no broadcast-exchange job per query.
    Valid only while both dictionaries fit ``map_fits`` (CLP bounds
    dictionary size by splitting archives; batch pipelines at one-archive
    scope can rely on it).
  - ``join``: the logtype string is attached with a broadcast join, and
    dict-var ids are exploded, joined against the dictionary (Catalyst
    picks broadcast vs shuffle hash join by size) and reassembled in slot
    order. No driver collect, no memory bound — the 100 TB path.

Whether a dictionary may live on the driver is decided in one place,
``driver_rows``: ``"auto"`` collects it when it fits ``map_fits`` (entry
count and string bytes, from the same bounded collect that yields the
rows), ``"map"`` collects it unconditionally and ``"join"`` never does.
``decode_messages``, ``enrich.enrich`` and ``plans.grep.GrepEngine`` all
resolve their strategy through it; callers that already know a
dictionary's size (the pipeline's route stage, from lineage) ask
``map_fits`` directly.

Both UDFs render rows through compiled logtype templates: each distinct
logtype is split once per task into literal runs (escapes resolved) and
placeholder kinds, so a row costs one ``str.format`` over its variables
instead of a per-character walk of the logtype. Output is bit-exact with
``ref.encoder.decode_message``.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clpspark.ref import encoder as E

# Above this many dictionary entries the collected python-dict broadcast is
# no longer safe (driver memory) and decode, enrich and grep switch to the
# join strategy.
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
    ``unseen_logtype`` (the dictionary has no entry for them); it fills the
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
    totalling ``n_bytes`` characters be collected to the driver? Asked by
    ``driver_rows`` (auto mode) and by the pipeline's route stage, whose
    stats come from the lineage log."""
    return (n_entries <= AUTO_MAP_MAX_ENTRIES
            and (n_bytes or 0) <= AUTO_MAP_MAX_BYTES)


def collect_if_fits(df: DataFrame, cols: list[str],
                    str_col: str | None = None) -> list | None:
    """Rows of ``df[cols]`` when the table fits ``map_fits`` (counting the
    characters of ``str_col``, if any), else None. One bounded collect in
    the common case: the probe rows both decide the gate and are the
    result; past ``AUTO_MAP_FUSE_ENTRIES`` a stats job decides first."""
    rows = df.select(*cols).limit(AUTO_MAP_FUSE_ENTRIES + 1).collect()
    if len(rows) > AUTO_MAP_FUSE_ENTRIES:
        stats = df.agg(
            F.count("*").alias("n"),
            (F.sum(F.length(str_col)) if str_col else F.lit(0)).alias("b"),
        ).first()
        if not map_fits(stats["n"], stats["b"]):
            return None
        return df.select(*cols).collect()
    n_bytes = (sum(len(r[str_col]) for r in rows if r[str_col] is not None)
               if str_col else 0)
    return rows if map_fits(len(rows), n_bytes) else None


def driver_rows(df: DataFrame, cols: list[str], str_col: str | None,
                mode: str) -> list | None:
    """The residency gate: rows of ``df[cols]`` collected to the driver, or
    None when the dictionary stays in Spark (join strategy). ``"auto"``
    collects while the table fits ``map_fits`` (``collect_if_fits``),
    ``"map"`` always, ``"join"`` never; any other mode raises."""
    if mode == "auto":
        return collect_if_fits(df, cols, str_col)
    if mode == "map":
        return df.select(*cols).collect()
    if mode == "join":
        return None
    raise ValueError(f"unknown dictionary mode: {mode}")


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


# ------------------------------------------------------- compiled templates
_BRACES = {"{": "{{", "}": "}}"}


def compile_logtype(logtype: str) -> tuple[str, tuple[int, ...],
                                           tuple[int, ...]]:
    """Split a logtype once into a ``str.format`` template plus the slot
    positions of its float and dict placeholders. Literal runs have their
    escapes resolved (a trailing lone escape is dropped, as in
    ``decode_message``) and braces doubled; every placeholder is ``{}``,
    consuming the encoded var of its own slot."""
    parts: list[str] = []
    floats: list[int] = []
    dicts: list[int] = []
    i, n, slot = 0, len(logtype), 0
    while i < n:
        c = logtype[i]
        if c == E.PLACEHOLDER_ESCAPE:
            i += 1
            if i < n:
                parts.append(_BRACES.get(logtype[i], logtype[i]))
        elif c in (E.PLACEHOLDER_INT, E.PLACEHOLDER_FLOAT,
                   E.PLACEHOLDER_DICT):
            if c == E.PLACEHOLDER_FLOAT:
                floats.append(slot)
            elif c == E.PLACEHOLDER_DICT:
                dicts.append(slot)
            parts.append("{}")
            slot += 1
        else:
            parts.append(_BRACES.get(c, c))
        i += 1
    return "".join(parts), tuple(floats), tuple(dicts)


def render(template, encoded_vars: list[int], dict_vars: list[str],
           decode_float=E.decode_float) -> str:
    """``decode_message`` over a compiled template. ``encoded_vars`` holds
    one int64 per placeholder slot (a dict slot's value is not read);
    ``dict_vars`` the dict-var strings in placeholder order.
    ``decode_float`` may be a memoized ``encoder.decode_float``."""
    fmt, floats, dicts = template
    if not floats and not dicts:
        return fmt.format(*encoded_vars)
    vals = list(encoded_vars)
    for s in floats:
        vals[s] = decode_float(vals[s])
    for s, v in zip(dicts, dict_vars):
        vals[s] = v
    return fmt.format(*vals)


def _decode_udf_map(var_map_bc, lt_map_bc):
    """Map-mode decode of (logtype_id, fallback logtype string,
    encoded_vars): the logtype comes from the broadcast logtype map, else
    from the string column (a ``logtype`` column the events already carry,
    or the ``unseen_logtype`` of quarantined rows); each dict slot's id
    resolves through the broadcast var map."""
    templates: dict[str, tuple] = {}

    @F.pandas_udf("string")
    def dec(lid_s: pd.Series, lt_s: pd.Series,
            ev_s: pd.Series) -> pd.Series:
        vm = var_map_bc.value
        lm = lt_map_bc.value if lt_map_bc is not None else {}
        dec_float = functools.cache(E.decode_float)
        msgs = []
        for lid, lt, ev in zip(lid_s.tolist(), lt_s, ev_s):
            lt_str = lm.get(lid)
            if lt_str is None:
                lt_str = lt
            if lt_str is None:
                msgs.append(UNKNOWN_LOGTYPE_MARKER)
                continue
            tpl = templates.get(lt_str)
            if tpl is None:
                tpl = templates[lt_str] = compile_logtype(lt_str)
            evl = ev.tolist()
            msgs.append(render(
                tpl, evl,
                [vm.get(evl[s], UNKNOWN_VAR_MARKER) for s in tpl[2]],
                dec_float))
        return pd.Series(msgs, dtype=object)

    return dec


class MapDecoder:
    """Map-mode decode state: the var dictionary and (unless every event
    carries its ``logtype`` column) the logtype dictionary, broadcast as
    Python dicts, and the UDF over them. Build it once per dictionary pair
    and reuse it: each decode then adds one column and nothing else (a
    fresh UDF re-pickles its closure on every query)."""

    def __init__(self, spark, var_map: dict, lt_map: dict | None):
        sc = spark.sparkContext
        self._has_lt_map = lt_map is not None
        self._udf = _decode_udf_map(
            sc.broadcast(var_map),
            sc.broadcast(lt_map) if lt_map is not None else None,
        )
        # decode column per source-column shape; racing builders store
        # equivalent columns
        self._cols: dict[tuple[bool, bool], Column] = {}

    def column(self, columns: list[str]) -> Column:
        """The decoded-message column for events with ``columns``."""
        key = ("logtype" in columns, "unseen_logtype" in columns)
        col = self._cols.get(key)
        if col is None:
            has_lt, has_unseen = key
            if has_lt:
                lid, lt = F.lit(None).cast("bigint"), F.col("logtype")
            elif not self._has_lt_map:
                raise ValueError("events lack a logtype column and the "
                                 "decoder holds no logtype map")
            else:
                lid = F.col("logtype_id")
                lt = (F.col("unseen_logtype") if has_unseen
                      else F.lit(None).cast("string"))
            col = self._cols[key] = self._udf(lid, lt, F.col("encoded_vars"))
        return col


def _decode_udf_join():
    """Join-mode decode of (logtype, encoded_vars, dict-var strings in
    slot order)."""
    templates: dict[str, tuple] = {}

    @F.pandas_udf("string")
    def dec(lt_s: pd.Series, ev_s: pd.Series, dv_s: pd.Series) -> pd.Series:
        dec_float = functools.cache(E.decode_float)
        msgs = []
        for lt, ev, dv in zip(lt_s, ev_s, dv_s):
            if lt is None:
                msgs.append(UNKNOWN_LOGTYPE_MARKER)
                continue
            tpl = templates.get(lt)
            if tpl is None:
                tpl = templates[lt] = compile_logtype(lt)
            msgs.append(render(tpl, ev.tolist(),
                               list(dv) if dv is not None else [],
                               dec_float))
        return pd.Series(msgs, dtype=object)

    return dec


def decode_messages(
    df: DataFrame,
    var_dict: DataFrame,
    logtype_dict: DataFrame | None = None,
    mode: str = "auto",
    out_col: str = "message",
    decoder: MapDecoder | None = None,
) -> DataFrame:
    """Add the decoded ``message`` column to encoded/routed events.

    Events that already carry a ``logtype`` column decode from it; others
    need ``logtype_dict``. ``mode`` resolves map vs join through
    ``driver_rows``. A caller that decodes repeatedly over one dictionary
    pair (GrepEngine) passes its prebuilt ``decoder`` and skips all
    resolution. Only the columns the decode needs round-trip through
    Arrow (narrow scalar pandas UDF; whole-row mapInPandas costs ~10x more).
    """
    cols = df.columns
    has_lt = "logtype" in cols
    if not has_lt and logtype_dict is None:
        raise ValueError("events lack a logtype column; pass logtype_dict")
    if decoder is None:
        # the logtype dictionary first: when it must stay in Spark the var
        # dictionary is not collected either
        lt_rows = None if has_lt else driver_rows(
            logtype_dict, ["logtype_id", "logtype"], "logtype", mode)
        if has_lt or lt_rows is not None:
            var_rows = driver_rows(var_dict, ["var_id", "var_str"],
                                   "var_str", mode)
            if var_rows is not None:
                decoder = MapDecoder(
                    df.sparkSession, dict(var_rows),
                    dict(lt_rows) if lt_rows is not None else None)
    if decoder is not None:
        return df.withColumn(out_col, decoder.column(cols))
    df = attach_logtype(df, logtype_dict)
    with_dvs = attach_dict_var_strings(df, var_dict)
    dec = _decode_udf_join()
    return with_dvs.withColumn(
        out_col,
        dec(F.col("logtype"), F.col("encoded_vars"), F.col("_dvs")),
    ).drop("_dvs")

"""clp_s typed column encodings for JSON archives.

The reference CLP-encodes string leaves per column at JSON ingest
(clp_s/ColumnWriter.cpp):

  - ClpString  (:59-84)  — value contains a space: logtype-dict id + encoded
    vars appended to a per-column vars stream
  - VarString  (:85-97)  — single token: whole-string var-dict id
  - DateString (:98-111) — the timestamp key: (pattern-encoding id, epoch)
  - the per-value type decision is clp_s/JsonParser.cpp:420-446 (timestamp
    key -> DateString; ' ' in value -> ClpString; else VarString)

Spark-first re-creation: string leaves MELT into a long (row_id, doc_id,
leaf, value) table, one Arrow parse pass CLP-encodes every value (VarString
is the degenerate one-dict-var logtype "\\x12" — same wire data as a whole-
string dictionary id), ONE var/logtype dictionary pair covers all columns
(clp_s keeps one per archive), and the enriched ids-only long table routes
``partitionBy(leaf)`` — the per-column ColumnWriter layout. Date leaves stay
in the records table as (pattern, epoch) struct columns, so timestamp
predicates are int comparisons pushed to parquet.

The payoff at query time: a KQL value filter on an encoded string leaf is a
GrepEngine search over ONE leaf partition — dictionary pre-filter, logtype
isin, ordered-subsequence fold, final wildcard — instead of a string scan
(clp_s SchemaReader + dictionary probes analog).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clpspark.operators.parse import parse_message
from clpspark.ref import timestamps as TS

ENCODED_LONG_SCHEMA = (
    "row_id string, doc_id string, leaf string, elem_ix int, logtype string, "
    "encoded_vars array<bigint>, dict_vars array<string>, dict_slots array<int>"
)

# VarString values (no space) encode as a single whole-string dict var — the
# logtype is one dictionary placeholder (VariableStringColumnWriter analog:
# the column stores just the var-dict id)
_VARSTRING_LOGTYPE = "\x12"


def string_leaf_paths(schema: T.StructType, prefix: str = "") -> list[str]:
    """Paths of all StringType leaves (the columns clp_s would CLP-encode)."""
    out: list[str] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.extend(string_leaf_paths(f.dataType, path + "."))
        elif isinstance(f.dataType, T.StringType):
            out.append(path)
    return out


def melt_string_leaves(df: DataFrame, leaves: list[str],
                       id_col: str = "doc_id",
                       serialize: list[str] | None = None) -> DataFrame:
    """(doc_id, leaf, elem_ix, value) long table of non-null string leaf
    values — pure Column ops (explode of a struct array), no UDF, no
    shuffle. ``serialize`` paths (UnstructuredArray mode) are stored as
    their compact JSON serialization (clp_s JsonParser.cpp:361-380 non-
    structurize branch). elem_ix = -1 marks scalar (non-array-element)
    values."""
    if not leaves and not serialize:
        return df.sparkSession.createDataFrame(
            [], "doc_id string, leaf string, elem_ix int, value string"
        )
    pairs = F.array(
        *[
            F.struct(F.lit(p).alias("leaf"), F.col(p).alias("value"))
            for p in leaves
        ],
        *[
            F.struct(
                F.lit(p).alias("leaf"),
                F.when(
                    F.col(p).isNotNull(), F.to_json(F.col(p))
                ).alias("value"),
            )
            for p in (serialize or [])
        ],
    )
    return (
        df.select(F.col(id_col).cast("string").alias("doc_id"),
                  F.explode(pairs).alias("_kv"))
        .select("doc_id", F.col("_kv.leaf").alias("leaf"),
                F.lit(-1).alias("elem_ix"),
                F.col("_kv.value").alias("value"))
        .where(F.col("value").isNotNull())
    )


def array_paths(schema: T.StructType, prefix: str = "") -> list[str]:
    """Paths of all ArrayType columns (top-level or struct-nested)."""
    out: list[str] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.extend(array_paths(f.dataType, path + "."))
        elif isinstance(f.dataType, T.ArrayType):
            out.append(path)
    return out


def array_string_specs(
    schema: T.StructType, prefix: str = ""
) -> list[tuple[str, str | None]]:
    """(array_path, element_subpath) pairs for every string leaf reachable
    through an array — the per-element schema nodes of clp_s
    --structurize-arrays (SchemaTree.hpp StructuredArray + JsonParser.cpp
    parse_array). ``element_subpath`` is None for array<string> elements,
    else the dotted string-leaf path inside the element struct. An array
    element key is ONE schema node shared by all elements, so a search on
    ``arr.b`` matches any element — mirrored here by melting every element
    into the same leaf sink."""
    out: list[tuple[str, str | None]] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.extend(array_string_specs(f.dataType, path + "."))
        elif isinstance(f.dataType, T.ArrayType):
            el = f.dataType.elementType
            if isinstance(el, T.StringType):
                out.append((path, None))
            elif isinstance(el, T.StructType):
                for sub in string_leaf_paths(el):
                    out.append((path, sub))
    return out


def _elem_field(e: F.Column, sub: str | None) -> F.Column:
    if sub is None:
        return e
    for part in sub.split("."):
        e = e[part]
    return e


def melt_array_string_leaves(
    df: DataFrame,
    specs: list[tuple[str, str | None]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-element melt of string leaves inside arrays: ONE scan, one
    combined flatten+explode (no per-spec re-scan); elem_ix preserves the
    element position for reconstruction. HOF lambdas are fine here — log
    arrays are small per row (CLAUDE.md HOF note)."""

    def mk(leaf: str, sub: str | None):
        def fn(e: F.Column, i: F.Column) -> F.Column:
            return F.struct(
                F.lit(leaf).alias("leaf"),
                _elem_field(e, sub).cast("string").alias("value"),
                i.cast("int").alias("elem_ix"),
            )

        return fn

    arrs = []
    for path, sub in specs:
        leaf = path if sub is None else f"{path}.{sub}"
        # null arrays must become empty, not null: flatten() of an array
        # containing a null element is null, which would drop the row's
        # OTHER leaves
        arrs.append(
            F.coalesce(F.transform(F.col(path), mk(leaf, sub)), F.array())
        )
    return (
        df.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.explode(F.flatten(F.array(*arrs))).alias("_kv"),
        )
        .select("doc_id", F.col("_kv.leaf").alias("leaf"),
                F.col("_kv.elem_ix").alias("elem_ix"),
                F.col("_kv.value").alias("value"))
        .where(F.col("value").isNotNull())
    )


def encode_melted(long_df: DataFrame) -> DataFrame:
    """CLP-encode each (leaf, value): ClpString when the value contains a
    space (JsonParser.cpp:437-441), VarString otherwise. One Arrow pass,
    per-executor token memo (same hot-path shape as the parse stage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[int, int | None]] = {}
        for pdf in batches:
            lt_out: list[str] = []
            ev_out: list[list[int]] = []
            dv_out: list[list[str]] = []
            ds_out: list[list[int]] = []
            for v in pdf["value"].tolist():
                if " " in v:
                    lt, ev, dv, ds = parse_message(v, cache)
                else:
                    lt, ev, dv, ds = _VARSTRING_LOGTYPE, [0], [v], [0]
                lt_out.append(lt)
                ev_out.append(ev)
                dv_out.append(dv)
                ds_out.append(ds)
            elem_ix = pdf["elem_ix"] if "elem_ix" in pdf.columns else pd.Series(
                [-1] * len(pdf), index=pdf.index
            )
            # row_id = len(doc_id)#doc_id#elem_ix#leaf. The length prefix
            # makes the encoding injective even though doc ids AND leaf
            # paths may themselves contain '#' (JSON field names are
            # unrestricted): a plain doc#leaf join would collide e.g. a
            # scalar leaf 'x#3' with element 3 of array leaf 'x'
            doc = pdf["doc_id"]
            row_id = (
                doc.str.len().astype(str) + "#" + doc + "#"
                + elem_ix.astype(str) + "#" + pdf["leaf"]
            )
            yield pd.DataFrame(
                {
                    "row_id": row_id,
                    "doc_id": pdf["doc_id"],
                    "leaf": pdf["leaf"],
                    "elem_ix": elem_ix.astype("int32"),
                    "logtype": lt_out,
                    "encoded_vars": ev_out,
                    "dict_vars": dv_out,
                    "dict_slots": ds_out,
                }
            )

    return long_df.mapInPandas(run, schema=ENCODED_LONG_SCHEMA)


def encode_date_leaves(df: DataFrame, date_leaves: list[str]) -> DataFrame:
    """Replace each timestamp-key string leaf with a (pattern, epoch) struct
    (DateStringColumnWriter analog). Top-level leaves only — clp_s's
    timestamp key is configured per ingest, typically top-level."""
    if not date_leaves:
        return df

    # ``raw`` keeps the ORIGINAL string when no pattern parses (pattern=-1):
    # clp_s falls back to storing unparseable timestamp values verbatim —
    # dropping them would make the archive lossy. Null for parsed values,
    # so the column costs a few bytes per file in the common case.
    @F.pandas_udf("struct<pattern:int, epoch:bigint, raw:string>")
    def enc(v: pd.Series) -> pd.DataFrame:
        pats: list[int | None] = []
        epochs: list[int | None] = []
        raws: list[str | None] = []
        for s in v:
            if s is None:
                pats.append(None)
                epochs.append(None)
                raws.append(None)
                continue
            ts, pat, _rest = TS.strip_timestamp(s)
            if ts is None:
                pats.append(-1)
                epochs.append(None)
                raws.append(s)
            else:
                pats.append(pat)
                epochs.append(ts)
                raws.append(None)
        return pd.DataFrame({"pattern": pats, "epoch": epochs, "raw": raws})

    out = df
    for leaf in date_leaves:
        if "." in leaf:
            raise ValueError("date leaves must be top-level keys")
        out = out.withColumn(leaf, enc(F.col(leaf)))
    return out


def format_date_leaf_udf():
    @F.pandas_udf("string")
    def fmt(v: pd.DataFrame) -> pd.Series:
        # struct input arrives as a pandas DataFrame of its fields
        raws = v["raw"] if "raw" in v.columns else pd.Series(
            [None] * len(v), dtype=object
        )
        out = []
        for pat, ep, raw in zip(v["pattern"], v["epoch"], raws):
            if pd.isna(ep):
                # unparseable values were stored verbatim (clp_s fallback)
                out.append(None if raw is None or pd.isna(raw) else raw)
            else:
                out.append(TS.format_timestamp(int(pat), int(ep)))
        return pd.Series(out, dtype=object)

    return fmt



def _leaf_crosses_array(schema: T.StructType, path: str) -> bool:
    """True when the path reaches or crosses an ArrayType in the records
    schema — i.e. the leaf sink holds PER-ELEMENT rows in structurized
    mode. A dropped top-level scalar leaf (token absent) returns False."""
    dt: T.DataType = schema
    for tok in path.split("."):
        if not isinstance(dt, T.StructType):
            return False
        try:
            dt = dt[tok].dataType
        except KeyError:
            return False
        if isinstance(dt, T.ArrayType):
            return True
    return False


def _records_path_kind(schema: T.StructType, path: str) -> str | None:
    """Resolve a dotted path through the records schema: None when a token
    is missing or an intermediate token is not a struct (Projection.cpp:
    'intermediate nodes must be objects' — projection never resolves
    INTO arrays); "array" when the path ENDS at an ArrayType; "scalar"
    otherwise (incl. whole-struct ends)."""
    dt: T.DataType = schema
    tokens = path.split(".")
    for i, tok in enumerate(tokens):
        if not isinstance(dt, T.StructType):
            return None
        try:
            dt = dt[tok].dataType
        except KeyError:
            return None
        if isinstance(dt, T.ArrayType):
            return "array" if i == len(tokens) - 1 else None
    return "scalar"


def _unescape_partition_value(val: str) -> str:
    """Reverse Hive/Spark partition-path escaping (%XX per special ASCII
    char; non-ASCII is stored raw, so byte-wise URL decoding would corrupt
    it — decode only exact %-hex-hex triples)."""
    import re

    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), val
    )


# JsonArchive.open handles keyed by (spark app, path); FIFO-bounded.
# Catalog search opens handles from a thread pool — lock-guarded.
_ARCHIVE_HANDLES: dict[tuple, "JsonArchive"] = {}
_ARCHIVE_HANDLES_LOCK = threading.Lock()

# Projected-query match sets at or under this many distinct ids come back
# to the driver and push down as isin literals (scan-pruned, no join
# exchange per consumer); larger sets stay distributed. ~20-byte ids ->
# a few MB of driver memory at the cap.
# Crossover measured on this box: Column.isin(list) costs ~1ms/id of
# driver/py4j literal conversion (1.6s @ 1k, 98s @ 100k), so inlining only
# wins for genuinely tiny match sets; past this the ids stay distributed.
_PROJECT_INLINE_IDS_MAX = 1_000


class JsonArchive:
    """On-disk layout of an encoded JSON archive:

    ``{dir}/records`` — the typed table minus string leaves (date leaves as
    (pattern, epoch) structs), partition-routed by schema_id;
    ``{dir}/columns`` — the enriched ids-only long table, partitioned by
    leaf (per-column ColumnWriter sinks); ``{dir}/var_dict`` /
    ``{dir}/logtype_dict`` — the shared dictionaries.
    """

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.dir = out_dir
        # guards the version-checked memos (shared handles are used from
        # catalog search's thread pool)
        self._memo_lock = threading.Lock()

    @classmethod
    def open(cls, spark: SparkSession, out_dir: str) -> "JsonArchive":
        """Shared handle per (session, path) so the per-handle memos
        (leaf engines, leaf names) amortize across callers — e.g. repeated
        catalog searches. Safe across rewrites: every memo is validated
        against the archive version on each use. FIFO-bounded.

        ``out_dir`` may also be a SINGLE-FILE archive (clpspark.single_file
        pack of the directory, the clp_s single_file_archive analog): it
        extracts into an identity+mtime-keyed cache, so the handle — keyed
        on the extraction dir — can never alias a repacked file's old
        contents."""
        if not os.path.isdir(out_dir):
            from clpspark.single_file import resolve_archive_dir

            out_dir = resolve_archive_dir(out_dir)
        key = (spark.sparkContext.applicationId, os.path.abspath(out_dir))
        with _ARCHIVE_HANDLES_LOCK:
            arch = _ARCHIVE_HANDLES.get(key)
            if arch is None:
                arch = cls(spark, out_dir)
                if len(_ARCHIVE_HANDLES) >= 16:
                    _ARCHIVE_HANDLES.pop(next(iter(_ARCHIVE_HANDLES)))
                _ARCHIVE_HANDLES[key] = arch
        return arch

    # The four table handles are version-memoized: read.parquet is a py4j
    # round-trip + JVM file listing (~0.1s each), and one kql() call walks
    # these properties ~10 times — re-reading per access was ~1s of pure
    # driver fixed cost per query. A rewrite bumps the version and drops
    # the memoized plans (same contract as the leaf-engine memos).
    @property
    def records(self) -> DataFrame:
        return self._memoized(
            "_records_memo",
            lambda: self.spark.read.parquet(f"{self.dir}/records"))

    # columns-table schema for archives with ZERO string leaves (their
    # columns dir is empty — nothing for parquet to infer); elem_ix
    # included so structurized-aware readers degrade uniformly
    _EMPTY_COLUMNS_SCHEMA = (
        "elem_ix int, encoded_vars array<bigint>, dict_slots array<int>, "
        "logtype_id bigint, doc_id string, leaf string"
    )

    @property
    def columns(self) -> DataFrame:
        def build() -> DataFrame:
            if not self.leaf_names():
                return self.spark.createDataFrame(
                    [], self._EMPTY_COLUMNS_SCHEMA)
            return self.spark.read.parquet(f"{self.dir}/columns")

        return self._memoized("_columns_memo", build)

    @property
    def var_dict(self) -> DataFrame:
        return self._memoized(
            "_var_dict_memo",
            lambda: self.spark.read.parquet(f"{self.dir}/var_dict"))

    @property
    def logtype_dict(self) -> DataFrame:
        return self._memoized(
            "_logtype_dict_memo",
            lambda: self.spark.read.parquet(f"{self.dir}/logtype_dict"))

    # ------------------------------------------------------------- queries
    def _version(self) -> int | None:
        """Archive version = dictionary commit mtime (bumped by rewrite).
        None (marker missing) DISABLES memoization rather than pinning it —
        None == None must never serve stale state across a rewrite."""
        try:
            return os.stat(f"{self.dir}/logtype_dict/_SUCCESS").st_mtime_ns
        except OSError:
            return None

    def _memoized(self, attr: str, build):
        """Version-checked per-handle memo; unknown version = rebuild
        every call (never pin). Builds run OUTSIDE the lock (they may run
        Spark jobs); racing builders both produce valid values and the
        last setattr wins."""
        ver = self._version()
        if ver is None:
            return build()
        with self._memo_lock:
            memo = getattr(self, attr, None)
            if memo is not None and memo[0] == ver:
                return memo[1]
        val = build()
        with self._memo_lock:
            setattr(self, attr, (ver, val))
        return val

    def leaf_names(self) -> set[str]:
        """Encoded string-leaf paths (memoized per archive version; an
        archive with no string leaves has an empty columns dir).

        The columns table is partitionBy(leaf), so the leaf set IS the
        partition directory listing — a filesystem read, not a Spark
        distinct job (which scans the whole long table cold: ~4.6s at
        sf0.1, and a cluster job at 100 TB)."""

        def build() -> set[str]:
            d = str(self.dir)
            if "://" in d and not d.startswith("file:"):
                # non-local archive URI (s3a://, hdfs://): no local
                # directory listing — Spark distinct over the partition
                # column (partition pruning makes this a metadata scan)
                from pyspark.errors import AnalysisException

                try:
                    rows = (self.spark.read.parquet(f"{d}/columns")
                            .select("leaf").distinct().collect())
                except AnalysisException:
                    return set()  # no columns dir: no string leaves
                return {r["leaf"] for r in rows if r["leaf"] is not None}
            cols_dir = f"{self.dir}/columns"
            try:
                entries = os.listdir(cols_dir)
            except FileNotFoundError:
                return set()
            # any other OSError (EACCES, ...) must surface, not silently
            # answer "no string leaves"
            out: set[str] = set()
            for name in entries:
                if not name.startswith("leaf="):
                    continue
                val = name[len("leaf="):]
                if val == "__HIVE_DEFAULT_PARTITION__":
                    continue  # null partition value: never a real leaf
                out.add(_unescape_partition_value(val))
            return out

        return self._memoized("_leaves_memo", build)

    def date_leaf_paths(self) -> set[str]:
        """Paths of DateString (pattern, epoch, raw) leaves in records."""
        from clpspark.plans.kql_archive import _date_struct_paths

        return self._memoized(
            "_dates_memo", lambda: _date_struct_paths(self.records.schema)
        )

    def grep_leaf(self, leaf: str, query: str, **kw) -> DataFrame:
        """Wildcard search over ONE encoded string leaf: partition-pruned to
        the leaf's sink, then the full GrepEngine pre-filter pipeline. The
        kv/KQL value-filter fast path (clp_s dictionary pre-filter).
        Engines are memoized per (leaf, archive version), and the
        dictionary state they lazily resolve (gate-checked logtype entries,
        decode mode, dictionary maps and broadcasts) is SHARED between leaf
        engines — all leaves share one dictionary pair, so a multi-leaf
        query pays each resolution job once per archive, not once per
        leaf."""
        return self._leaf_engine(leaf).search(query, **kw)

    def _leaf_engine(self, leaf: str):
        from clpspark.plans.grep import GrepEngine

        engines = self._memoized("_leaf_engines", lambda: {})
        eng = engines.get(leaf)
        if eng is None:
            slice_df = self.columns.where(F.col("leaf") == leaf)
            eng = GrepEngine(slice_df, self.logtype_dict, self.var_dict)
            donor = next(iter(engines.values()), None)
            if donor is not None:
                eng._dicts = donor._dicts
            engines[leaf] = eng
        return eng

    def prewarm(self) -> None:
        """Resolve the cold dictionary state a first query would otherwise
        pay piecemeal (gate-checked logtype entries overlapped with the
        var-dict collect, both broadcasts, VarString logtype id). Results
        land in the version-checked memos, so a warm archive pays nothing;
        kql_archive calls this before planning."""
        leaves = sorted(self.leaf_names())
        if not leaves:
            return
        eng = self._leaf_engine(leaves[0])
        eng._resolve_decode()
        entries = eng._logtype_entries()
        if entries is None:
            self._varstring_logtype_id()
            return
        # the gate admitted the FULL dictionary: derive the VarString
        # logtype id from the collected entries — its absence there proves
        # there is none (zero extra job)
        vs = next(
            (lid for lid, lt in entries if lt == _VARSTRING_LOGTYPE), None,
        )
        try:
            ver = os.stat(f"{self.dir}/logtype_dict/_SUCCESS").st_mtime_ns
        except OSError:
            ver = None
        if ver is not None:
            self._vs_lid_memo = (ver, vs)

    def kql(self, query: str, case_sensitive: bool = True,
            project: list[str] | None = None) -> DataFrame:
        """Matching records rows for an arbitrary KQL query: each filter is
        routed to the right storage structure (encoded string leaves ->
        grep dictionary pre-filter / var-dict point lookup; typed fields,
        arrays, DateString epochs -> Catalyst predicates over records) and
        AND/OR/NOT combine as doc_id set algebra. See plans/kql_archive.

        ``project``: first-class output projection (clp_s
        search/Projection.cpp, wired clp-s.cpp:203-235). Each entry is a
        dotted column path resolved against the archive BEFORE output:
        encoded string leaves decode from their sinks (matching docs only
        pay the decode), anything else resolves as a typed records path
        (intermediate tokens must be structs; a DateString leaf projects
        as its reconstructed timestamp string, and ``<leaf>.epoch``
        reaches the raw epoch). Reference parity: wildcards and duplicate
        columns raise; an unresolvable column silently projects nothing
        (Projection.cpp resolve_column matches no node); projection never
        resolves into structurized arrays. Output columns keep the path
        spelling (quote dotted names with backticks) in project order,
        after ``doc_id``."""
        from clpspark.plans.kql_archive import kql_archive

        # every consumer below is a left-semi join: skip the dedup exchange
        ids = kql_archive(self, query, case_sensitive=case_sensitive,
                          distinct=False)
        if project is None:
            return self.records.join(ids, "doc_id", "left_semi")
        for p in project:
            if any(c in p for c in "*?"):
                raise ValueError(
                    f"projection {p!r}: wildcards are not supported "
                    "(clp_s Projection::add_column parity)"
                )
        if len(set(project)) != len(project):
            raise ValueError("duplicate columns in projection")
        # doc_id is always emitted first; keeping it in the loop would
        # select it twice and make the final by-name select ambiguous
        project = [p for p in project if p != "doc_id"]
        # The match set feeds the records filter AND every projected leaf
        # decode, so it must materialize ONCE: checkpoint first (a single
        # search execution; localCheckpoint is GC-released, not a
        # cacheManager leak), then peek at the checkpointed blocks to pick
        # the consumer strategy. Selective queries (the common case) push
        # the tiny id set down as ONE shared isin expression — the records
        # filter and each leaf-decode slice prune at the parquet scan with
        # NO join exchange (the expression is built once: isin pays ~1ms/id
        # of py4j conversion per construction); past the gate the ids stay
        # distributed and consumers left-semi join — the 100 TB path.
        ids = ids.distinct().localCheckpoint(eager=True)
        id_rows = ids.limit(_PROJECT_INLINE_IDS_MAX + 1).collect()
        if len(id_rows) <= _PROJECT_INLINE_IDS_MAX:
            id_list = [r["doc_id"] for r in id_rows]
            id_filter = (F.col("doc_id").isin(id_list) if id_list
                         else F.lit(False))
            ids = None
            hits = self.records.where(id_filter)
        else:
            hits = self.records.join(ids, "doc_id", "left_semi")

        structurized = "elem_ix" in self.columns.columns
        dates = self.date_leaf_paths()
        rec_cols: list = []
        leaf_joins: list[str] = []
        produced: list[str] = []
        rec_schema = self.records.schema
        for p in project:
            kind = _records_path_kind(rec_schema, p)
            if p in self.leaf_names():
                # structurized array leaves (the path reaches or crosses an
                # ArrayType in records, e.g. 'arr' or 'arr.d.e') melt one
                # row per ELEMENT — decoding them scalar-wise would fan out
                # the output; Projection.cpp never resolves into arrays, so
                # they silently project nothing. Serialized (non-
                # structurized) whole-array leaves decode as their JSON
                # text, one row per doc; dropped top-level scalar leaves
                # (absent from records entirely) decode normally.
                if structurized and _leaf_crosses_array(rec_schema, p):
                    continue
                leaf_joins.append(p)
                produced.append(p)
            elif p in dates:
                rec_cols.append(format_date_leaf_udf()(F.col(p)).alias(p))
                produced.append(p)
            elif kind is not None:
                rec_cols.append(F.col(p).alias(p))
                produced.append(p)
            # else: unresolved -> silently project nothing
        out = hits.select("doc_id", *rec_cols)
        for leaf in leaf_joins:
            dec = self.decode_leaf(
                leaf, doc_ids=ids if ids is not None else id_filter
            ).withColumnRenamed("value", leaf)
            out = out.join(dec, "doc_id", "left")
        # double embedded backticks: JSON field names are unrestricted
        return out.select(
            "doc_id",
            *[F.col("`{}`".format(p.replace("`", "``"))) for p in produced],
        )

    def varstring_ids(self, value: str) -> DataFrame:
        """Exact-match doc ids for a VarString leaf value via a dictionary
        point lookup (no data scan of non-matching rows)."""
        return self.var_dict.where(F.col("var_str") == value)

    def match_varstring(self, leaf: str, value: str) -> DataFrame:
        """doc_ids whose VarString ``leaf`` equals ``value``: dictionary
        point lookup -> broadcast semi-join on the leaf partition."""
        ids = self.varstring_ids(value).select("var_id")
        # restrict to VarString rows: a ClpString whose FIRST variable is the
        # same dict var (or an encoded int colliding with a var_id) would
        # otherwise false-positive on the encoded_vars[0] equality
        vs_lid = self._varstring_logtype_id()
        slice_df = self.columns.where(F.col("leaf") == leaf)
        if vs_lid is None:
            return slice_df.where(F.lit(False)).select("doc_id")
        slice_df = slice_df.where(F.col("logtype_id") == vs_lid)
        return (
            slice_df.join(
                F.broadcast(ids),
                F.col("encoded_vars")[0] == F.col("var_id"),
                "left_semi",
            ).select("doc_id")
        )

    def _varstring_logtype_id(self) -> int | None:
        """logtype_id of the VarString placeholder logtype. Fixed per
        archive GENERATION, so the resolution is memoized (one driver job,
        not one per lookup) — keyed on the dictionary's _SUCCESS mtime so
        a re-written archive invalidates the memo instead of silently
        filtering on a stale id; unknown version = never memoized."""
        try:
            ver = os.stat(f"{self.dir}/logtype_dict/_SUCCESS").st_mtime_ns
        except OSError:
            ver = None
        memo = getattr(self, "_vs_lid_memo", None)
        if memo is not None and ver is not None and memo[0] == ver:
            return memo[1]
        row = (
            self.logtype_dict
            .where(F.col("logtype") == _VARSTRING_LOGTYPE)
            .select("logtype_id")
            .first()
        )
        vs_lid = None if row is None else row["logtype_id"]
        if ver is not None:
            self._vs_lid_memo = (ver, vs_lid)
        return vs_lid

    def _decode_slice(self, slice_df: DataFrame) -> DataFrame:
        """Decode any slice of the columns table with the archive-shared
        strategy (all leaves share ONE dictionary pair, so the decode mode
        and dictionary maps are resolved once per archive and reused):
        adds ``value``, keeps the slice's own columns. The single decode
        wiring point for decode_leaf / decode_array_leaf / reconstruct."""
        leaves = self.leaf_names()
        if not leaves:
            # all-typed archive (no string leaf sinks): the columns table
            # is empty — degrade to an empty decoded slice, same contract
            return slice_df.withColumn("value", F.lit(None).cast("string"))
        return self._leaf_engine(sorted(leaves)[0])._decode(
            slice_df, out_col="value")

    def decode_leaf(self, leaf: str,
                    doc_ids: DataFrame | list | F.Column | None = None,
                    ) -> DataFrame:
        """(doc_id, value): reconstruct one string leaf column.

        ``doc_ids`` restricts the (pandas-UDF) decode to the match set so
        only hits pay the decode, not the whole leaf: a DataFrame becomes
        a left-semi join; a literal id list (or a prebuilt boolean Column
        over ``doc_id`` — lets callers pay isin's per-id py4j conversion
        once across many leaves) becomes a filter pushed to the slice's
        parquet scan (no join exchange)."""
        slice_df = self.columns.where(F.col("leaf") == leaf)
        if isinstance(doc_ids, F.Column):
            slice_df = slice_df.where(doc_ids)
        elif isinstance(doc_ids, list):
            slice_df = slice_df.where(
                F.col("doc_id").isin(doc_ids) if doc_ids else F.lit(False)
            )
        elif doc_ids is not None:
            slice_df = slice_df.join(
                doc_ids.select("doc_id"), "doc_id", "left_semi"
            )
        return self._decode_slice(slice_df).select("doc_id", "value")

    def decode_array_leaf(self, leaf: str) -> DataFrame:
        """(doc_id, values): rebuild a structurized array string leaf in
        element order (elem_ix preserves positions across the leaf sink)."""
        dec = self._decode_slice(
            self.columns.where(F.col("leaf") == leaf)
        )
        return (
            dec.groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("elem_ix", "value"))
                ).alias("_s")
            )
            .select(
                "doc_id",
                F.transform("_s", lambda s: s["value"]).alias("values"),
            )
        )

    def _order_sidecar(self) -> dict:
        """Parsed ``_field_order.json``: ``{"fields": [...], "order_col":
        name-or-absent}``. Legacy archives wrote a bare list (fields only);
        missing sidecar -> {} (pre-r5 archives)."""
        import json as _json

        p = os.path.join(self.dir, "_field_order.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            d = _json.load(f)
        return {"fields": d} if isinstance(d, list) else d

    def _ingest_field_order(self) -> list[str] | None:
        return self._order_sidecar().get("fields")

    def order_col(self) -> str | None:
        """Records column DECLARED at write time as the archive's ingest
        order key (metadata, not user data — never emitted into
        reconstructed JSON). None for archives written without one, incl.
        any archive whose records happen to carry a user field named
        'log_event_idx'."""
        return self._order_sidecar().get("order_col")

    def reconstruct(self, id_col: str = "doc_id",
                    drop_cols: tuple[str, ...] = ("schema_id",),
                    keep_cols: tuple[str, ...] = ()) -> DataFrame:
        """Full decompression (clp-s x / JsonSerializer analog,
        clp_s/JsonConstructor.cpp): rebuild every original JSON record
        from the encoded archive — typed records fields as-is, encoded
        string leaves decoded from their sinks back into place,
        DateString leaves re-formatted to their original strings,
        UnstructuredArray leaves re-parsed into their typed arrays,
        structurized array elements scattered back by element position.

        Returns ``(doc_id, *keep_cols, json)`` — one compact JSON string
        per document, null keys dropped (``reconstruct_json`` semantics),
        top-level keys in ingest order (the ``_field_order.json`` sidecar;
        older archives fall back to records order with decoded top-level
        leaves appended). ``keep_cols`` passes records columns through as
        typed output columns (e.g. ``log_event_idx`` for ordered
        extraction) — they are not excluded from the JSON unless also in
        ``drop_cols``.
        """
        recs = self.records
        rec_schema = recs.schema
        structurized = "elem_ix" in self.columns.columns
        arr_elem: dict[str, list[str | None]] = {}
        serialized: list[str] = []
        scalars: list[str] = []
        for leaf in sorted(self.leaf_names()):
            if structurized and _leaf_crosses_array(rec_schema, leaf):
                path, sub = _split_array_leaf(rec_schema, leaf)
                arr_elem.setdefault(path, []).append(sub)
            elif _records_path_kind(rec_schema, leaf) == "array":
                serialized.append(leaf)
            else:
                scalars.append(leaf)

        for d in sorted(self.date_leaf_paths()):
            recs = _replace_path(recs, d, format_date_leaf_udf()(F.col(d)))

        jid = F.col(id_col).cast("string")
        have_leaves = bool(scalars or serialized or arr_elem)

        # internal working columns must not collide with user JSON fields
        # (field names are unrestricted — a typed top-level "_decmap" or
        # "_jid" would make the join/drop below ambiguous)
        from clpspark.sources.json_logs import fresh_name

        taken = set(recs.columns) | self.leaf_names()
        dm_col = fresh_name("_decmap", taken)
        jid_col = fresh_name("_jid", taken | {dm_col})
        if have_leaves:
            # ONE decode pass over the whole columns table, ONE shuffle
            # into a per-doc (leaf, elem)->value map, ONE left join back to
            # records — plan depth, shuffle count, and decode-job count
            # stay flat in the number of string leaves (a 50-leaf corpus
            # would otherwise chain 50 joins). Scalar/serialized leaves key
            # at elem -1; structurized elements at their elem_ix (gaps =
            # null elements; ANSI map element_at on a missing key is null,
            # SPARK-40066). decode keys are the string doc_id; records keep
            # the caller's id dtype — join on the cast, left so docs with
            # no encoded rows keep null leaves.
            dec = self._decode_slice(self.columns)
            e = (F.coalesce(F.col("elem_ix").cast("int"), F.lit(-1))
                 if structurized else F.lit(-1).cast("int"))
            key = F.struct(F.col("leaf").alias("l"), e.alias("e"))
            m = dec.groupBy("doc_id").agg(
                F.map_from_entries(
                    F.collect_list(F.struct(key.alias("key"),
                                            F.col("value").alias("value")))
                ).alias(dm_col)
            )
            recs = recs.join(
                m.withColumnRenamed("doc_id", jid_col),
                jid == F.col(jid_col), "left",
            ).drop(jid_col)

        def lk(leaf: str, e: F.Column | None = None) -> F.Column:
            ecol = F.lit(-1).cast("int") if e is None else e.cast("int")
            return F.element_at(
                F.col(dm_col),
                F.struct(F.lit(leaf).alias("l"), ecol.alias("e")),
            )

        sets: list[tuple[str, F.Column]] = []
        for leaf in scalars:
            sets.append((leaf, lk(leaf)))
        for leaf in serialized:
            sets.append((leaf, F.from_json(
                lk(leaf), _path_type(rec_schema, leaf))))
        for leaf, col in sets:
            recs = _replace_path(recs, leaf, col)
        def make_rebuild(path: str, subs: list[str | None]):
            # defaulted lambda args count toward HOF arity — bind via a
            # factory so transform sees exactly (element, index)
            def rebuild(el: F.Column, i: F.Column) -> F.Column:
                for sub in subs:
                    leaf = path if sub is None else f"{path}.{sub}"
                    v = lk(leaf, i)
                    if sub is None:
                        el = v
                    else:
                        el = el.withField(sub, v)
                return el

            return rebuild

        for path, subs in arr_elem.items():
            recs = _replace_path(
                recs, path,
                F.transform(F.col(path), make_rebuild(path, subs)),
            )
        if have_leaves:
            recs = recs.drop(dm_col)

        meta_oc = self.order_col()
        out_fields = [c for c in recs.columns
                      if c != id_col and c not in drop_cols
                      and c != meta_oc]
        order = self._ingest_field_order()
        if order:
            out_fields = ([c for c in order if c in out_fields]
                          + [c for c in out_fields if c not in order])
        q = [F.col("`{}`".format(c.replace("`", "``"))) for c in out_fields]
        return recs.select(
            jid.alias("doc_id"),
            *[F.col(c) for c in keep_cols],
            F.to_json(F.struct(*q)).alias("json"),
        )

def _split_array_leaf(schema: T.StructType, leaf: str) -> tuple[str, str | None]:
    """Split a structurized array leaf name into (array path, element
    subpath): the array path is the shortest prefix ending at an
    ArrayType in the records schema."""
    dt: T.DataType = schema
    tokens = leaf.split(".")
    for i, tok in enumerate(tokens):
        dt = dt[tok].dataType  # type: ignore[index]
        if isinstance(dt, T.ArrayType):
            prefix = ".".join(tokens[: i + 1])
            rest = ".".join(tokens[i + 1:])
            return prefix, rest or None
    raise ValueError(f"{leaf!r} does not cross an array in the schema")


def write_json_archive(
    df: DataFrame,
    out_dir: str,
    ts_leaf: str | None = None,
    id_col: str = "doc_id",
    salt: int = 4,
    structurize_arrays: bool = False,
    single_file: bool = False,
    order_col: str | None = None,
) -> JsonArchive:
    """Encode a typed JSON DataFrame into the clp_s archive layout.

    ``order_col`` declares a records column (e.g. ``log_event_idx``) as the
    archive's ingest-order key — METADATA, recorded in the sidecar so
    ordered extraction finds it and reconstruction never emits it as a
    JSON field.

    ``df`` must carry a unique ``id_col``. String leaves (except ``ts_leaf``)
    are CLP-encoded into per-leaf sinks with shared dictionaries; the records
    table keeps everything else (+ (pattern, epoch) for the timestamp key and
    schema_id for per-schema pruning).

    Arrays (clp_s JsonParser.cpp:361-380, SchemaTree.hpp:32-46):

    - ``structurize_arrays=False`` (the clp_s default): each array column is
      stored as ONE UnstructuredArray value — its compact JSON serialization
      CLP-encoded like any string leaf, so wildcard search over the
      serialized form gets the full dictionary pre-filter.
    - ``structurize_arrays=True``: string leaves reachable through an array
      (array<string> elements; string fields of array<struct> elements) melt
      PER ELEMENT into the same per-leaf sinks (elem_ix keeps the position),
      so a KQL value filter on e.g. ``arr.d.e`` is a dictionary-pre-filtered
      grep over one leaf sink. Numeric/bool element fields stay typed in the
      records table where Catalyst evaluates ``arr.b > 1000`` as an
      ``exists`` over the native array; the encoded string content is
      nulled in records (shape preserved for reconstruction).

    Limitation vs the reference: null array ELEMENTS are not round-tripped
    in structurize mode (clp_s NullValue schema nodes); arrays nested inside
    arrays fall back to serialization.

    ``single_file=True``: pack the finished archive into ONE portable file
    (``<out_dir>.clpa``; clp_s single_file_archive,
    test-clp_s-end_to_end.cpp:99-100) and remove the directory — the
    returned handle (and any later ``JsonArchive.open`` of the file)
    reads from an extraction cache transparently.
    """
    from clpspark.operators.enrich import (
        build_logtype_dict,
        build_var_dict,
        enrich,
    )
    from clpspark.operators.route import route
    from clpspark.sources.json_logs import with_schema_id

    spark = df.sparkSession
    leaves = [p for p in string_leaf_paths(df.schema)
              if p != id_col and p != ts_leaf]
    arr_cols = array_paths(df.schema)
    arr_specs = array_string_specs(df.schema) if structurize_arrays else []
    serialize = [] if structurize_arrays else arr_cols
    melted = melt_string_leaves(df, leaves, id_col, serialize=serialize)
    if arr_specs:
        melted = melted.unionByName(
            melt_array_string_leaves(df, arr_specs, id_col)
        )
    # one encode pass feeds dict builds + enrich (same shape as the pipeline:
    # localCheckpoint = GC-released materialization, not a cacheManager leak)
    encoded = encode_melted(melted).localCheckpoint(eager=True)
    lt_dict = build_logtype_dict(encoded)
    var_dict = build_var_dict(encoded)
    # enrich keys reassembly by doc_id: hand it the unique row_id
    enriched = enrich(
        encoded.drop("doc_id").withColumnRenamed("row_id", "doc_id"),
        lt_dict, var_dict,
    ).withColumnRenamed("doc_id", "row_id")
    # row_id = len(doc_id)#doc_id#elem_ix#leaf (see encode_melted): the
    # length prefix recovers doc_id exactly even when ids or leaf paths
    # contain '#' themselves (e.g. kv-IR ids minted as '<file>#<offset>')
    enriched = enriched.withColumn(
        "doc_id",
        F.expr(
            "substring(row_id, instr(row_id, '#') + 1, "
            "cast(substring_index(row_id, '#', 1) AS INT))"
        ),
    )
    cols_out = enriched.drop("row_id")
    if not arr_specs:
        # no structurized arrays -> elem_ix is the constant -1; at small
        # archive sizes its per-file column-chunk metadata is measurable
        # overhead, and no reader needs it (decode_array_leaf only applies
        # to array leaves, which don't exist here)
        cols_out = cols_out.drop("elem_ix")
    # frequency-aware salting: small leaves stay one file each (no
    # small-file explosion / metadata bloat), heavy leaves spread
    leaf_counts = encoded.groupBy("leaf").agg(F.count("*").alias("n_rows"))
    route(cols_out, f"{out_dir}/columns", salt=salt,
          sink_col="leaf", sink_counts=leaf_counts)
    lt_dict.write.mode("overwrite").parquet(f"{out_dir}/logtype_dict")
    var_dict.write.mode("overwrite").parquet(f"{out_dir}/var_dict")
    # ingest top-level field order: records drop top-level encoded leaves,
    # so reconstruction needs the original positions to re-emit JSON keys
    # in ingest order (older archives without the sidecar fall back to
    # records order + decoded leaves appended). order_col, when declared,
    # is archive METADATA (the ingest order key) — excluded from the field
    # list so reconstruction never emits it as user data; a user field
    # that merely shares its name (no declaration) stays data.
    import json as _json

    if order_col is not None and order_col not in df.columns:
        raise ValueError(f"order_col {order_col!r} not in the input columns")
    os.makedirs(out_dir, exist_ok=True)
    sidecar: dict = {"fields": [fld.name for fld in df.schema.fields
                                if fld.name != order_col]}
    if order_col is not None:
        sidecar["order_col"] = order_col
    with open(os.path.join(out_dir, "_field_order.json"), "w") as f:
        _json.dump(sidecar, f)
    # records: drop encoded string leaves, encode the date leaf, route by
    # schema (schema_id computed BEFORE dropping, over the DATA leaf set).
    # An existing schema_id column is dropped ONLY when its META_KEY tag
    # proves it reader-minted; an untagged one is user data — raise like
    # the ingest readers do rather than silently lose it.
    from clpspark.sources.json_logs import META_KEY

    sid = [f for f in df.schema.fields if f.name.lower() == "schema_id"]
    if sid:
        if sid[0].metadata.get(META_KEY) != "schema_id":
            raise ValueError(
                "'schema_id' is reserved by the archive format (it is "
                "recomputed at write); rename or drop the input column"
            )
        df = df.drop(sid[0].name)
    recs = with_schema_id(df)
    if ts_leaf is not None:
        recs = encode_date_leaves(recs, [ts_leaf])
    for p in leaves:
        if "." not in p:
            recs = recs.drop(p)
        else:
            # nested string leaf: null it out in place (struct rebuild)
            top, rest = p.split(".", 1)
            recs = recs.withColumn(
                top, F.col(top).withField(rest, F.lit(None).cast("string"))
            )
    if not structurize_arrays:
        # UnstructuredArray mode: the serialized form lives in the columns
        # sinks — null the whole array (shape recoverable from the string)
        for p in arr_cols:
            recs = _replace_path(
                recs, p, F.lit(None).cast(_path_type(df.schema, p))
            )
    else:
        # null the per-element-encoded string content, keep the typed shape
        by_path: dict[str, list[str | None]] = {}
        for path, sub in arr_specs:
            by_path.setdefault(path, []).append(sub)
        for path, subs in by_path.items():

            def nuller(e: F.Column, subs: list[str | None] = ()) -> F.Column:
                for s in subs:
                    if s is None:
                        return F.lit(None).cast("string")
                    e = e.withField(s, F.lit(None).cast("string"))
                return e

            # single-arg closure (two-param lambdas become (elem, index))
            subs_now = list(subs)
            recs = _replace_path(
                recs, path,
                F.transform(F.col(path), lambda e: nuller(e, subs_now)),
            )
    route(recs, f"{out_dir}/records", salt=salt, sink_col="schema_id")
    if single_file:
        # clp_s single_file_archive analog: one portable file replaces the
        # directory; the returned handle serves from the extraction cache
        from clpspark.single_file import pack_archive

        packed = pack_archive(out_dir)
        import shutil

        shutil.rmtree(out_dir)
        return JsonArchive.open(spark, packed)
    return JsonArchive(spark, out_dir)


def _replace_path(df: DataFrame, path: str, new_col: F.Column) -> DataFrame:
    if "." not in path:
        return df.withColumn(path, new_col)
    top, rest = path.split(".", 1)
    return df.withColumn(top, F.col(top).withField(rest, new_col))


def _path_type(schema: T.StructType, path: str) -> T.DataType:
    dt: T.DataType = schema
    for part in path.split("."):
        dt = dt[part].dataType  # type: ignore[index]
    return dt

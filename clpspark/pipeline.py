"""End-to-end parse -> enrich -> route -> aggregate pipeline, and its
archive-splitting variant.

``run_pipeline`` stage layout (each stage writes parquet through a few Spark
jobs and is committed to the lineage log; resume skips committed stages):

  1. parse      sequences -> parsed/ or _parsed_twopass/  (1 full parse pass)
  2. dicts      parsed -> logtype_dict/, var_dict/   (column-pruned scans;
                ids assigned on the driver while the gate admits them)
  3. route      parsed + dicts -> routed/ (partitionBy logtype_id, salted),
                then one scan of routed/ for its per-file stats
  4. aggregate  agg_sink_counts/ from route's audit; routed ->
                agg_source_stats/, agg_by_time/, var_index/
  5. snapshot   one manifest over every output table

``run_split_pipeline`` shares parse, the dictionary build and the snapshot
commit, writing the dictionaries to shared_dicts/ (``split_dicts``); its
``split_route`` stage routes every time slice in one write into
routed_archives/, partitioned by archive=<i>/logtype_id=<j>.

Both drivers run every stage through one runner, ``_StageRunner``, under
one resume rule: a stage is skipped on resume when its lineage entry is
done under this config's fingerprint and its outputs exist. Otherwise the
runner begins its lineage entry, runs its Spark jobs under the
``clpspark:<stage>`` job group, and commits the stage's metrics with its
measured ``sec`` only after the work has run.

One parse path: parse is the CPU-heavy pass and runs exactly once, to
parquet that the dict build and route stages re-read column-pruned
(read back with the parse schema, so no inference job). Durability picks
the path and codec: with ``materialize_parsed`` it is the durable parsed/
at the archive's zstd level (the analog of CLP's IR — a one-time encoding
all downstream stages reuse); in two-pass mode it is a transient snappy
spill, _parsed_twopass/, deleted with the route stage.

Fixed per-run cost: a small batch's wall is mostly metadata jobs, so the
stages reuse what the run already knows instead of asking Spark again.
The dictionary build collects each counted dictionary once, through
``decode.driver_rows``, and assigns ids on the driver (CLP's in-process
dictionary writer); its stats (entries, string bytes, row total) are
committed to lineage, where the enrich gate and route's salting read them,
and its var id map goes straight to this run's route stage, whose enrich
fill then collects nothing. Just-written tables, routed/ included, are
read back with their written schema (no inference job); routed/ is read
once per run; the snapshot lists files on the driver.

One source for routed metadata: the route stage's fused pass
(snapshots.collect_file_stats_and_var_index, one scan and one aggregation)
is the only code that derives metadata from routed/. Its per-file stats
(rows, ts bounds, sink, doc_id checksum, bloom) are a declared route
output, the _routed_file_stats.json sidecar keyed by the route
fingerprint, so a resume that skips route always has them — a missing or
stale sidecar reruns route. The per-sink audit rolls up from them and
becomes agg_sink_counts; the snapshot manifest and the catalog row (ts
range, row count) are folded from them on the driver. The aggregate stage
writes the tables that must stay in Spark — var_index, agg_source_stats
and agg_by_time, each one column-pruned scan of routed/ — and
agg_sink_counts in one concurrent ``run_jobs`` step.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clpspark import corpus as corpus_mod
from clpspark.lineage import LineageLog, fingerprint
from clpspark.operators import aggregate as agg
from clpspark.operators.decode import map_fits
from clpspark.operators.enrich import (
    LOGTYPE_DICT_SCHEMA,
    VAR_DICT_SCHEMA,
    _logtype_dict_and_stats,
    _var_dict_and_stats,
    # unused here; perfbench/trace.py wraps these two attributes by name
    build_logtype_dict,  # noqa: F401
    build_var_dict,  # noqa: F401
    enrich,
)
from clpspark.operators.parse import PARSED_SCHEMA, parse_sequences
from clpspark.operators.route import build_var_index, route
from clpspark.operators.util import job_group, rebalance_for_udf, run_jobs

# routed/'s columns as route() writes the enriched parse schema (dictionary
# strings and var_ids dropped, unseen_logtype added), with the logtype_id
# sink partition column last
ROUTED_SCHEMA = (
    "doc_id string, source string, n_tok int, ts bigint, ts_pattern int, "
    "ts_pos int, encoded_vars array<bigint>, dict_slots array<int>, "
    "unseen_logtype string, logtype_id bigint"
)


@dataclass
class PipelineConfig:
    input_path: str
    work_dir: str
    # "corpus": deterministic token-sequences parquet (bench/test fixture).
    # "text": raw log files/dirs — multiline event assembly + the same parse
    # stage (sources/text_logs.py), i.e. what the reference's `clp c`
    # compresses. Downstream stages are format-agnostic.
    input_format: str = "corpus"
    vocab_seed: int = 42
    route_salt: int | None = None  # None -> one salt bucket per shuffle task
    bucket_ms: int = 3_600_000  # 1h count-by-time buckets
    version: int = 1
    # Where the one parse pass lands; the dict and route stages re-read it.
    # True: parsed/ at the archive's zstd level (durable IR, kept for
    # resume). False: two-pass throughput mode — a transient snappy
    # _parsed_twopass/, written only when the dict or route stage runs and
    # deleted with the route stage.
    materialize_parsed: bool = True
    # Optional archive catalog registration (tags + ts-range pruning DB)
    catalog_dir: str | None = None
    tags: tuple[str, ...] = ()
    # Dataset namespace for catalog registration (clp-package --dataset)
    dataset: str | None = None
    # Per-row-range metadata KV index (clp_s RangeIndexWriter analog,
    # clpspark.range_index): one range per ingested file with _filename /
    # _file_split_number / _archive_creator_id, enabling $-namespace query
    # pruning. Off by default — it is one extra (tiny) aggregate job over
    # the parsed table, and near-constant metadata jobs dilute scaling
    # walls (CLAUDE.md); the CLI compress path turns it on.
    range_index: bool = False
    archive_creator_id: str | None = None
    # zstd level for all archive parquet writes (the reference's clp
    # --compression-level, CommandLineArguments.hpp; 1-19, default 3).
    # Level 19 measured ~15% smaller archives at ~5x write CPU on the
    # synthetic corpus — ratio/throughput tradeoff, caller's choice.
    compression_level: int = 3
    # Explicit input file list (clp --files-from / positional input-paths
    # union): overrides input_path globbing for text ingestion. The CLI
    # pre-sorts it when --sort-input-files=true (the reference default).
    input_files: tuple[str, ...] | None = None
    # Strip this prefix from stored source paths (clp --remove-path-prefix);
    # unset keeps the basename-only naming.
    remove_path_prefix: str | None = None

    def fp(self, stage: str) -> str:
        return fingerprint(
            {
                "stage": stage,
                "input": self.input_path,
                "input_format": self.input_format,
                "vocab_seed": self.vocab_seed,
                "route_salt": self.route_salt,
                "bucket_ms": self.bucket_ms,
                "version": self.version,
                "compression_level": self.compression_level,
                "input_files": self.input_files,
                "remove_path_prefix": self.remove_path_prefix,
            }
        )

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)


def _level_writer(config: "PipelineConfig"):
    """df -> DataFrameWriter carrying the archive codec level as a
    PER-WRITE option (parquet-java reads it from the write job's conf;
    verified effective per-writer — never set on the shared session)."""
    opt = ("parquet.compression.codec.zstd.level",
           str(config.compression_level))

    def zw(df: DataFrame):
        return df.write.option(*opt)

    zw.options = dict([opt])  # for route(write_options=...)
    return zw


def _parsed_path(config: "PipelineConfig", durable: bool) -> str:
    return config.path("parsed" if durable else "_parsed_twopass")


def _parse(spark: SparkSession, config: "PipelineConfig",
           durable: bool) -> dict:
    """The parse stage: parse the input, once, to parquet — the durable
    parsed/ at the archive's zstd level, or the transient _parsed_twopass/
    as snappy (scratch, so write speed beats ratio)."""
    if config.input_format == "text":
        # raw text logs: multiline event assembly, then the same parse
        from clpspark.sources.text_logs import ingest_text_logs

        df = ingest_text_logs(
            spark,
            list(config.input_files) if config.input_files
            else config.input_path,
            remove_path_prefix=config.remove_path_prefix)
    else:
        # parse is CPU-bound: when the input has fewer splits than cores
        # (small files coalesced by maxPartitionBytes), rebalance first. At
        # cluster scale input splits >> cores and this no-ops.
        df = parse_sequences(
            rebalance_for_udf(spark.read.parquet(config.input_path)),
            corpus_mod.build_vocab(config.vocab_seed).vocab)
    writer = (_level_writer(config)(df) if durable
              else df.write.option("compression", "snappy"))
    writer.mode("overwrite").parquet(_parsed_path(config, durable))
    return {"mode": "materialized" if durable else "two-pass"}


def _read_parsed(spark: SparkSession, config: "PipelineConfig",
                 durable: bool) -> DataFrame:
    # the writer's schema: no inference job
    return spark.read.schema(PARSED_SCHEMA).parquet(
        _parsed_path(config, durable))


def _write_stats_sidecar(config: "PipelineConfig",
                         stats: list[dict]) -> None:
    """Atomically persist the route stage's per-file stats, keyed by the
    route fingerprint: every later stage (this run or a resumed one) reads
    them instead of scanning the fan-out."""
    import json

    path = config.path("_routed_file_stats.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"route_fp": config.fp("route"), "stats": stats}, f)
    os.replace(tmp, path)


def _read_stats_sidecar(config: "PipelineConfig") -> list[dict] | None:
    """The route stage's per-file stats; None when the sidecar is missing
    or was written under another route fingerprint."""
    import json

    path = config.path("_routed_file_stats.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        d = json.load(f)
    return d["stats"] if d.get("route_fp") == config.fp("route") else None


def _no_rows(config: "PipelineConfig") -> ValueError:
    src = list(config.input_files) if config.input_files \
        else config.input_path
    return ValueError(f"input {src!r} parsed to 0 rows: nothing to route")


def _register(spark: SparkSession, config: "PipelineConfig",
              catalog_dir: str, stats: list[dict], archive_id: str,
              path: str, dict_path: str | None = None) -> None:
    """Register one routed archive in the metadata catalog, under the
    ``clpspark:catalog`` job group, with its timestamp range and row count
    folded on the driver from the archive's per-file stats (no Spark
    scan)."""
    from clpspark.catalog import register_archive

    with job_group(spark, "clpspark:catalog", "catalog"):
        register_archive(
            spark, catalog_dir, archive_id=archive_id, path=path,
            begin_ts=min((s["min_ts"] for s in stats
                          if s["min_ts"] is not None), default=None),
            end_ts=max((s["max_ts"] for s in stats
                        if s["max_ts"] is not None), default=None),
            n_rows=sum(s["n_rows"] for s in stats),
            tags=list(config.tags), dict_path=dict_path,
            dataset=config.dataset)


class _StageRunner:
    """The one stage runner of both drivers.

    ``runner(name, work, *outputs, rerun=False)`` skips lineage stage
    ``name`` when resume finds it done — committed under this config's
    fingerprint, with ``outputs`` (paths relative to the work dir) in place
    — unless ``rerun`` forces it. Otherwise it begins the stage's lineage
    entry, runs ``work()`` with its Spark jobs under the
    ``clpspark:<name>`` job group, and commits the returned metrics with
    the stage's wall ``sec`` only after the work has run. ``metrics``
    holds every stage's committed metrics, ``ran`` the stages executed
    this run (whose table files changed)."""

    def __init__(self, spark: SparkSession, config: "PipelineConfig",
                 resume: bool):
        self.spark, self.config, self.resume = spark, config, resume
        self.log = LineageLog(config.work_dir)
        self.metrics: dict = {}
        self.ran: list[str] = []

    def done(self, name: str, *outputs: str) -> bool:
        return (self.resume
                and self.log.is_done(name, self.config.fp(name))
                and all(os.path.exists(self.config.path(p))
                        for p in outputs))

    def __call__(self, name: str, work, *outputs: str,
                 rerun: bool = False) -> None:
        fp = self.config.fp(name)
        if not rerun and self.done(name, *outputs):
            self.metrics[name] = self.log.metrics(name)
            return
        t = time.time()
        self.log.begin(name, fp)
        with job_group(self.spark, f"clpspark:{name}", name):
            m = work()
        self.log.commit(name, fp, {**m, "sec": time.time() - t})
        self.metrics[name] = self.log.metrics(name)
        self.ran.append(name)


# the dictionary tables, and the stats a dicts stage commits and a route
# stage consumes; a committed dicts entry without them (older work dir) is
# rebuilt
_DICT_TABLES = ("logtype_dict", "var_dict")
_DICT_STATS = frozenset(("n_logtypes", "n_rows", "n_vars", "var_bytes"))


def _dicts_done(stage: _StageRunner, name: str, dict_dir: str) -> bool:
    """Dicts stage ``name`` is done, with its tables in ``dict_dir`` and
    the stats its route stage reads."""
    return (stage.done(name, *(os.path.join(dict_dir, t)
                               for t in _DICT_TABLES))
            and _DICT_STATS <= stage.log.metrics(name).keys())


def _dicts(spark: SparkSession, config: "PipelineConfig", parsed: DataFrame,
           dict_dir: str, built: dict) -> dict:
    """The dicts stage: build both dictionaries of ``parsed`` into
    ``dict_dir`` (relative to the work dir) and return their stats. When
    the build held the var dictionary on the driver, its ``{var_str:
    var_id}`` map goes to ``built["var_map"]`` for this run's route stage
    (None past the residency gate)."""
    zw = _level_writer(config)

    def build(fn, table: str):
        def job() -> tuple[dict, dict | None]:
            df, stats, ids = fn(parsed)
            zw(df).mode("overwrite").parquet(
                config.path(os.path.join(dict_dir, table)))
            return stats, ids
        return job

    # each build scans its own single pruned column of the parse parquet
    # (CLAUDE.md: re-scanning zstd parquet beats persist for narrow fan-out
    # reads); the second back-fills the straggler tail of the first (guide
    # §2.6)
    out = run_jobs(spark, {
        "logtype_dict": build(_logtype_dict_and_stats, "logtype_dict"),
        "var_dict": build(_var_dict_and_stats, "var_dict"),
    }, max_workers=2)
    (lt, _), (vd, built["var_map"]) = out["logtype_dict"], out["var_dict"]
    # the stats come from the builds' own collects: the route stage (this
    # run or a resumed one) reads them from lineage instead of counting the
    # dictionaries again
    return {
        "n_logtypes": lt["entries"],
        "n_rows": lt["carried"],
        "n_vars": vd["entries"],
        "var_bytes": vd["value_bytes"],
    }


def _enriched(spark: SparkSession, config: "PipelineConfig",
              parsed: DataFrame, dict_dir: str, dict_stats: dict,
              var_map: dict | None) -> tuple[DataFrame, DataFrame, str]:
    """``parsed`` enriched against the dictionaries in ``dict_dir``, the
    logtype dictionary (route's salting counts) and the enrich path taken.
    ``var_map`` is this run's dicts-stage map, if it built one: the fill
    uses it as is. A resumed run reads the var dictionary back, and
    decode's map-vs-join gate reads the committed dictionary stats: no
    stats job."""
    if dict_stats["n_rows"] == 0:
        # a routed dir would hold only _SUCCESS, which no read can type
        raise _no_rows(config)
    mode = ("map" if var_map is not None
            or map_fits(dict_stats["n_vars"], dict_stats["var_bytes"])
            else "join")
    logtype_dict = spark.read.schema(LOGTYPE_DICT_SCHEMA).parquet(
        config.path(os.path.join(dict_dir, "logtype_dict")))
    var_dict = spark.read.schema(VAR_DICT_SCHEMA).parquet(
        config.path(os.path.join(dict_dir, "var_dict")))
    return (enrich(parsed, logtype_dict, var_dict, mode=mode,
                   var_map=var_map), logtype_dict, mode)


def _read_routed(spark: SparkSession, path: str) -> DataFrame:
    """A routed fan-out read back with its written schema: no inference
    job, and ``logtype_id`` keeps its bigint type (an inferred partition
    column reads back as int). Partition discovery over more than 32 sink
    dirs still runs a distributed listing job."""
    return (spark.read.option("basePath", path).schema(ROUTED_SCHEMA)
            .parquet(path))


def _file_stats(routed: DataFrame, root: str) -> list[dict]:
    """The fused post-route pass (one scan): per-file skipping stats
    (Archive.cpp:487-526 analog) — the run's one source of routed
    metadata: the per-sink audit, the snapshot's file skipping and routed
    file list, the catalog rows."""
    from clpspark.snapshots import collect_file_stats_and_var_index

    return collect_file_stats_and_var_index(routed, root)[0]


def _snapshot(config: "PipelineConfig", routed_stats: list[dict],
              routed_base: str = "routed", dict_dir: str = "") -> dict:
    """The snapshot stage: publish every output table as one manifest."""
    from clpspark.snapshots import snapshot_pipeline_tables

    return {"version": snapshot_pipeline_tables(
        config.work_dir, routed_stats, routed_base, dict_dir)}


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full pipeline; returns stage metrics."""
    stage = _StageRunner(spark, config, resume)
    # archive write codec level (clp --compression-level analog), applied
    # PER WRITER — a session-global hadoop conf would leak this run's level
    # into every other pipeline/test write sharing the SparkSession, and
    # lazily-executed earlier writes could pick up a later run's level
    zw = _level_writer(config)
    t0 = time.time()

    need_dicts = not _dicts_done(stage, "dicts", "")
    # the route stage's per-file stats: read from its sidecar on resume,
    # set by the stage itself when it runs
    routed_stats = _read_stats_sidecar(config)
    need_route = not (stage.done("route", "routed")
                      and routed_stats is not None)
    durable = config.materialize_parsed
    spill = None if durable else _parsed_path(config, durable)

    # -- stage 1: parse ------------------------------------------------------
    parse = functools.partial(_parse, spark, config, durable)
    if durable:
        stage("parse", parse, "parsed")
    else:
        # two-pass: no durable intermediate, so parse whenever a consumer
        # runs. One parse spilled to parquet that both stages re-read
        # beats parsing twice — measured at 12M rows/32c: a second parse
        # pass costs ~14.5s, the spill write ~0-2s over the parse itself.
        # A crash before the route stage leaves the spill behind: sweep it.
        shutil.rmtree(spill, ignore_errors=True)
        stage("parse", parse, rerun=need_dicts or need_route)
    parsed = functools.cache(lambda: _read_parsed(spark, config, durable))
    # ONE read of the fan-out per run, after the route stage wrote it. Its
    # readers: the route stage's fused stats pass, the aggregate stage's
    # scans (var_index, agg_source_stats, agg_by_time) and the text-input
    # range index; every other metadata consumer reads the fused stats.
    routed = functools.cache(
        lambda: _read_routed(spark, config.path("routed")))
    # what this run's dicts stage built on the driver (the var id map):
    # the route stage's enrich fill takes it as is
    built: dict = {}

    # -- stage 3: enrich + route ---------------------------------------------
    def _route() -> dict:
        nonlocal routed_stats
        dict_stats = stage.log.metrics("dicts")
        enriched, logtype_dict, enrich_mode = _enriched(
            spark, config, parsed(), "", dict_stats, built.get("var_map"))
        route(
            enriched,
            config.path("routed"),
            salt=config.route_salt,
            sink_counts=logtype_dict.select("logtype_id", "n_rows"),
            write_options=zw.options,
            total_rows=dict_stats["n_rows"],
        )
        # the per-file stats reach later stages and resumed runs through a
        # fingerprinted sidecar
        from clpspark.snapshots import sink_audit_from_stats

        routed_stats = _file_stats(routed(), config.work_dir)
        _write_stats_sidecar(config, routed_stats)
        if spill:  # every consumer of the spill is done
            shutil.rmtree(spill, ignore_errors=True)
        audit = sink_audit_from_stats(routed_stats)
        return {
            "enrich_mode": enrich_mode,
            "n_sinks": len(audit),
            "rows": sum(a["n_rows"] for a in audit),
            "sinks": audit,
        }

    try:
        # -- stage 2: dictionaries -------------------------------------------
        stage("dicts", lambda: _dicts(spark, config, parsed(), "", built),
              rerun=need_dicts)
        stage("route", _route, "routed", "_routed_file_stats.json",
              rerun=need_route)
    finally:
        if spill:  # a dicts-only rerun or a failure leaves the spill
            shutil.rmtree(spill, ignore_errors=True)

    # -- optional: range index (per-ingested-file metadata KV) ---------------
    if config.range_index:
        from clpspark.range_index import (
            RANGE_INDEX_FILE,
            build_range_index,
            write_range_index,
        )

        def _range_index() -> dict:
            extra = {"_file_split_number": "0"}
            if config.archive_creator_id is not None:
                extra["_archive_creator_id"] = config.archive_creator_id
            if config.input_format == "text":
                # text ingest: doc_id = <file>#<idx>, contiguous per source
                src = routed().select("doc_id", "source")
                group_col = "source"
            else:
                # corpus parquet: doc_ids are contiguous per input part
                # file — group by the scan's file path RELATIVE to the
                # input root (2-col scan). Basenames would collide across
                # partitionBy directory layouts (Spark reuses the same
                # task-number basename in every partition dir).
                root = os.path.abspath(config.input_path).rstrip("/") + "/"
                src = spark.read.parquet(config.input_path).select(
                    "doc_id", F.col("_metadata.file_path").alias("_f")
                )
                src = src.withColumn(
                    "_f",
                    F.regexp_replace(
                        "_f", "^file:" + re.escape(root), ""
                    ),
                )
                group_col = "_f"
            try:
                ranges = build_range_index(src, group_col=group_col,
                                           extra_fields=extra)
            except ValueError as exc:
                # non-contiguous doc_ids per file (e.g. a shuffled corpus):
                # degrade to "no index" rather than failing the compression
                # — $-namespace queries then match nothing, never wrongly
                ri_path = config.path(RANGE_INDEX_FILE)
                if os.path.exists(ri_path):
                    os.remove(ri_path)  # never leave a stale index behind
                return {"n_ranges": 0, "skipped": str(exc)[:200]}
            write_range_index(config.work_dir, ranges)
            return {"n_ranges": len(ranges)}

        stage("range_index", _range_index, RANGE_INDEX_FILE)

    # -- stage 4: aggregates ---------------------------------------------------
    def _aggregate() -> dict:
        # per-sink counts: the route stage's committed audit, written from
        # the driver with the types a routed/ groupBy gives (a pandas frame
        # crosses over Arrow; a list of tuples costs a Python worker job).
        # The var index and the other two are column-pruned scans of the
        # columnar fan-out — measured 5x CHEAPER than persisting one shared
        # projection (the cache materialization costs more than
        # re-decoding 2 narrow zstd columns per aggregate; 13.6s vs 2.7s at
        # 48M rows / 16 cores). The writes are independent jobs: run them
        # concurrently so each back-fills the others' straggler tails
        # (guide §2.6).
        sink_counts = spark.createDataFrame(
            pd.DataFrame(stage.metrics["route"]["sinks"],
                         columns=["logtype_id", "n_rows"]),
            "logtype_id int, n_rows bigint not null").coalesce(1)

        def write(name: str, df: DataFrame):
            return lambda: zw(df).mode("overwrite").parquet(config.path(name))

        run_jobs(spark, {
            "agg_sink_counts": write("agg_sink_counts", sink_counts),
            "agg_source_stats": write("agg_source_stats",
                                      agg.per_source_token_stats(routed())),
            "agg_by_time": write("agg_by_time", agg.count_by_time(
                routed(), config.bucket_ms, group_cols=("source",))),
            "var_index": write("var_index", build_var_index(routed())),
        }, max_workers=4)
        return {}

    stage("aggregate", _aggregate, "agg_sink_counts", "agg_source_stats",
          "agg_by_time", "var_index")

    # -- stage 5: snapshot commit (atomic multi-table publish + file stats) ---
    # a re-run stage rewrote its files: the committed manifest would point
    # at deleted paths — always publish a fresh snapshot in that case
    stage("snapshot", lambda: _snapshot(config, routed_stats),
          rerun=bool(stage.ran))

    # -- optional: register this archive in the metadata catalog --------------
    if config.catalog_dir:
        _register(spark, config, config.catalog_dir, routed_stats,
                  f"{os.path.basename(config.work_dir)}-"
                  f"{config.fp('route')[:12]}", config.work_dir)

    metrics = stage.metrics
    metrics["total_sec"] = time.time() - t0
    return metrics


def _time_slices(parsed: DataFrame, k: int) -> list[int]:
    """Ascending ts cuts of ``k`` near-equal, time-contiguous slices (CLP
    archives are ordered time ranges), at row-count quantiles: slice i is
    (cuts[i-1], cuts[i]], open-ended at both ends."""
    if k <= 1:
        return []
    # the 1.0 quantile rides along for free (the GK sketch retains the exact
    # max) — no second scan of parsed just for max(ts)
    raw = parsed.where(F.col("ts").isNotNull()).approxQuantile(
        "ts", [i / k for i in range(1, k)] + [1.0], 0.001)
    # under timestamp skew (>= 1/k of rows sharing the max ts) a cut can
    # equal the global max, leaving the final (ts_max, None] slice empty — a
    # data-less archive. Drop any cut at/above the max; the previous slice's
    # half-open upper bound absorbs those rows.
    return sorted({int(c) for c in raw[:-1] if int(c) < int(raw[-1])})


def run_split_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    target_rows_per_archive: int | None = None,
    catalog_dir: str | None = None,
    target_encoded_bytes: int | None = None,
    resume: bool = True,
) -> dict:
    """Archive-splitting ingest: one run produces MULTIPLE time-contiguous
    archives, each capped near ``target_rows_per_archive`` — or, with
    ``target_encoded_bytes`` (the reference's ``--target-encoded-size``),
    near that encoded byte size: the row target derives from the measured
    encoded bytes/row of this run's own parsed table (the archive payload
    is a re-partitioned copy of those columns at the same zstd level).

    The reference splits an archive when its data/dictionary size crosses a
    target (clp/streaming_archive/writer/Archive.cpp:343-353,
    clp_s/JsonParser.cpp:618-623). Spark analog: parse once, build ONE
    dictionary generation over the whole input (shared_dicts/), cut the time
    axis at row-count quantiles, and route the run in one write whose
    leading partition column is the archive (the time slice of each row).
    Every archive registers in the catalog with
    ``dict_path`` = the shared generation, so search_archives scans the
    whole run as ONE plan (ids are interchangeable within a generation).

    Stages run on run_pipeline's runner under the same resume rule: the
    durable parse (parsed/) and the dictionary build (``split_dicts``, into
    shared_dicts/) are skipped when their lineage entries are done under
    this config's fingerprint and their outputs exist, so a changed input
    or config re-parses. ``split_route`` (enrich, the time cuts, one route
    of every slice into routed_archives/, the fused stats pass) and the
    generation ``snapshot`` run on every call.

    Returns {"archives": [(archive_id, path)...], "n_archives": k, ...}.
    """
    if target_rows_per_archive is None:
        if target_encoded_bytes is None:
            raise ValueError(
                "run_split_pipeline needs target_rows_per_archive or "
                "target_encoded_bytes")
        if target_encoded_bytes <= 0:
            raise ValueError("target_encoded_bytes must be > 0")
    stage = _StageRunner(spark, config, resume)
    zw = _level_writer(config)
    t0 = time.time()
    dict_dir = "shared_dicts"
    # all archives of one run live under ONE parquet root as an extra
    # partition level (archive=<i>/logtype_id=<j>): a dictionary generation
    # reads back as a single partition-pruned scan, not N conflicting roots
    routed_root = config.path("routed_archives")

    # raw text logs split the same way the reference's clp does — the parse
    # stage is the only format-specific step
    stage("parse", functools.partial(_parse, spark, config, True), "parsed")
    parsed = _read_parsed(spark, config, durable=True)
    built: dict = {}
    stage("split_dicts",
          lambda: _dicts(spark, config, parsed, dict_dir, built),
          rerun=not _dicts_done(stage, "split_dicts", dict_dir))

    archives: list[tuple[str, str]] = []
    stats: list[dict] = []

    def _split_route() -> dict:
        nonlocal stats
        dict_stats = stage.log.metrics("split_dicts")
        enriched, logtype_dict, enrich_mode = _enriched(
            spark, config, parsed, dict_dir, dict_stats,
            built.get("var_map"))
        n = dict_stats["n_rows"]
        rows_per_archive = target_rows_per_archive
        if rows_per_archive is None:
            on_disk = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(config.path("parsed")) for f in fs
            )
            rows_per_archive = max(
                1, int(target_encoded_bytes / max(on_disk / n, 1e-9)))
        cuts = _time_slices(parsed, -(-n // rows_per_archive))
        # the slice of each row as one CASE; a null ts goes to the first
        # archive, so every row lands in exactly one
        ts = F.col("ts")
        archive = F.when(ts.isNull(), "0000")
        for i, cut in enumerate(cuts):
            archive = archive.when(ts <= cut, f"{i:04d}")
        # one routed write of every archive (CLP cuts its archives while it
        # writes); overwriting the root drops a previous run's archives
        route(
            enriched.withColumn("archive", archive.otherwise(
                f"{len(cuts):04d}")),
            routed_root,
            salt=config.route_salt,
            sink_counts=logtype_dict.select("logtype_id", "n_rows"),
            write_options=zw.options,
            total_rows=n,
            lead_col="archive",
        )
        archives.extend(
            (f"{os.path.basename(config.work_dir)}-"
             f"{config.fp('route')[:8]}-{i:04d}",
             f"{routed_root}/archive={i:04d}")
            for i in range(len(cuts) + 1))
        # one (var_id, logtype_id) index covers the whole generation
        # (shared dictionary ids make per-archive indexes redundant for
        # logtype pruning), written while the per-file stats are collected;
        # the stats go into the generation snapshot and fold per archive
        # into its catalog row
        routed = _read_routed(spark, routed_root)
        stats = run_jobs(spark, {
            "file stats": lambda: _file_stats(routed, config.work_dir),
            "var_index": lambda: zw(build_var_index(routed)).mode(
                "overwrite").parquet(
                    config.path(os.path.join(dict_dir, "var_index"))),
        }, max_workers=2)["file stats"]
        return {"enrich_mode": enrich_mode, "n_archives": len(archives),
                "rows": n}

    stage("split_route", _split_route, rerun=True)
    stage("snapshot",
          lambda: _snapshot(config, stats, "routed_archives", dict_dir),
          rerun=True)
    if catalog_dir or config.catalog_dir:
        for archive_id, arch_dir in archives:
            prefix = os.path.relpath(arch_dir, config.work_dir) + os.sep
            _register(spark, config, catalog_dir or config.catalog_dir,
                      [s for s in stats if s["file"].startswith(prefix)],
                      archive_id, arch_dir, dict_path=config.path(dict_dir))
    return {
        "archives": archives,
        "n_archives": len(archives),
        "rows": stage.metrics["split_route"]["rows"],
        "dict_path": config.path(dict_dir),
        "total_sec": time.time() - t0,
    }

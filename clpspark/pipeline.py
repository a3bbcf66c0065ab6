"""End-to-end parse -> enrich -> route -> aggregate pipeline.

Stage layout (each stage writes parquet through a few Spark jobs and is
committed to the lineage log; resume skips committed stages):

  1. parse      sequences -> parsed/            (1 full parse pass)
  2. dicts      parsed -> logtype_dict/, var_dict/   (column-pruned scans)
  3. route      parsed + dicts -> routed/ (partitionBy logtype_id, salted)
  4. aggregate  routed -> agg_sink_counts/, agg_source_stats/, agg_by_time/
  5. snapshot   one manifest over every output table

Scale notes: parse is the CPU-heavy pass and runs exactly once; dict build
and route re-read the parsed table with column pruning instead of
re-parsing. With ``materialize_parsed`` that table is the durable parsed/
(the analog of CLP's IR — a one-time encoding all downstream stages
reuse); in two-pass mode it is a transient snappy spill, _parsed_twopass/,
deleted once the route stage has read it.

Fixed per-run cost: a small batch's wall is mostly metadata jobs, so the
stages reuse what the run already knows instead of asking Spark again —
dictionary stats (entries, string bytes, row total) come from the
dictionary build's own collect and are committed to lineage, where the
enrich gate and route's salting read them; just-written tables are read
back with a known schema (no inference job); routed/ is read once per run;
the snapshot lists files on the driver.
"""

from __future__ import annotations

import functools
import os
import re
import time
from dataclasses import dataclass, field

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
    build_logtype_dict,
    build_var_dict,
    enrich,
)
from clpspark.operators.parse import parse_sequences
from clpspark.operators.route import route


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
    enrich_mode: str = "auto"
    route_salt: int | None = None  # None -> one salt bucket per shuffle task
    bucket_ms: int = 3_600_000  # 1h count-by-time buckets
    version: int = 1
    # True: materialize parsed/ as parquet (durable IR; dict + route stages
    # re-read it). False: two-pass throughput mode — no durable parsed
    # table; the parse spills to a transient _parsed_twopass/ that the dict
    # and route stages re-read, deleted after the route stage.
    materialize_parsed: bool = True
    # Optional archive catalog registration (tags + ts-range pruning DB)
    catalog_dir: str | None = None
    tags: tuple[str, ...] = ()
    # Dataset namespace for catalog registration (clp-package --dataset)
    dataset: str | None = None
    # Snapshot-atomic multi-table commit + per-file skipping stats
    # (clpspark.snapshots — the Iceberg layer of SURVEY §1.5). The stats
    # pass costs two column-pruned scans of the routed table; disable for
    # pure-ingest-throughput runs that will never be searched.
    snapshot: bool = True
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
    extra: dict = field(default_factory=dict)

    def fp(self, stage: str) -> str:
        return fingerprint(
            {
                "stage": stage,
                "input": self.input_path,
                "input_format": self.input_format,
                "vocab_seed": self.vocab_seed,
                "enrich_mode": self.enrich_mode,
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


def _write_stats_sidecar(config: "PipelineConfig", route_fp: str,
                         stats: list[dict]) -> None:
    """Atomically persist the route stage's per-file stats, keyed by the
    route fingerprint, so the snapshot stage (this run or a resumed one)
    reuses them instead of re-scanning the fan-out."""
    import json

    path = config.path("_routed_file_stats.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"route_fp": route_fp, "stats": stats}, f)
    os.replace(tmp, path)


def _read_stats_sidecar(config: "PipelineConfig",
                        route_fp: str) -> list[dict] | None:
    import json

    path = config.path("_routed_file_stats.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        d = json.load(f)
    return d["stats"] if d.get("route_fp") == route_fp else None


# dictionary stats the dicts stage commits and the route stage consumes; a
# committed dicts entry without them (older work dir) is rebuilt
_DICT_STATS = frozenset(("n_logtypes", "n_rows", "n_vars", "var_bytes"))


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full pipeline; returns stage metrics."""
    log = LineageLog(config.work_dir)
    # archive write codec level (clp --compression-level analog), applied
    # PER WRITER — a session-global hadoop conf would leak this run's level
    # into every other pipeline/test write sharing the SparkSession, and
    # lazily-executed earlier writes could pick up a later run's level
    zw = _level_writer(config)
    metrics: dict = {}
    dirty = False  # any stage actually executed -> table files changed
    t0 = time.time()

    # -- stage 1: parse ------------------------------------------------------
    def _sequences():
        from clpspark.operators.util import rebalance_for_udf

        # parse is CPU-bound: when the input has fewer splits than cores
        # (small files coalesced by maxPartitionBytes), rebalance first. At
        # cluster scale input splits >> cores and this no-ops.
        return rebalance_for_udf(spark.read.parquet(config.input_path))

    def _parse():
        if config.input_format == "text":
            from clpspark.sources.text_logs import ingest_text_logs

            src = (list(config.input_files) if config.input_files
                   else config.input_path)
            return ingest_text_logs(
                spark, src, remove_path_prefix=config.remove_path_prefix)
        meta = corpus_mod.build_vocab(config.vocab_seed)
        return parse_sequences(_sequences(), meta.vocab)

    parsed_path = config.path("parsed")
    fp = config.fp("parse")
    lt_path, var_path = config.path("logtype_dict"), config.path("var_dict")
    routed_path = config.path("routed")
    need_dicts = not (
        resume and log.is_done("dicts", config.fp("dicts"))
        and os.path.exists(lt_path)
        and _DICT_STATS <= log.metrics("dicts").keys()
    )
    need_route = not (
        resume and log.is_done("route", config.fp("route"))
        and os.path.exists(routed_path)
    )
    tmp_parsed: str | None = None
    parsed_on_disk = config.materialize_parsed
    if config.materialize_parsed:
        if not (resume and log.is_done("parse", fp) and os.path.exists(parsed_path)):
            log.begin("parse", fp)
            dirty = True
            zw(_parse()).mode("overwrite").parquet(parsed_path)
            n = spark.read.parquet(parsed_path).count()
            log.commit("parse", fp, {"rows": n, "sec": time.time() - t0})
        metrics["parse"] = log.metrics("parse")
        parsed = spark.read.parquet(parsed_path)
    else:
        # two-pass throughput mode: no DURABLE intermediate. The parse has
        # no committed artifact and resume granularity stays per-stage via
        # the dict/route/aggregate outputs. But when BOTH the dict and the
        # route stage are about to execute, running the CPU-heavy parse
        # twice (once per consumer) loses to one parse spilled to a
        # transient parquet table that both stages re-read column-pruned —
        # measured at 12M rows/32c: a second parse pass costs ~14.5s while
        # the spill write adds ~0-2s over the parse itself and the dict
        # build re-reads 2 narrow zstd columns for ~1s (the same
        # re-scan-beats-recompute observation as the aggregate stage). The
        # spill is deleted after the route stage, so nothing persists
        # across runs.
        parsed = _parse()
        log.commit("parse", fp, {"sec": time.time() - t0, "mode": "two-pass"})
        metrics["parse"] = log.metrics("parse")
        # a crash between the spill and the route commit leaves the
        # scratch table behind — sweep any stale copy up front so the
        # work dir never accumulates one per failed run
        stale = config.path("_parsed_twopass")
        if os.path.exists(stale):
            import shutil

            shutil.rmtree(stale, ignore_errors=True)
        if need_dicts and need_route:
            # snappy, not the archive's zstd level: this table is transient
            # scratch (deleted below), so write speed wins over ratio
            tmp_parsed = config.path("_parsed_twopass")
            parsed.write.option("compression", "snappy").mode(
                "overwrite"
            ).parquet(tmp_parsed)
            # the writer's schema: no inference job over the spill
            parsed = spark.read.schema(parsed.schema).parquet(tmp_parsed)
            parsed_on_disk = True

    # -- stage 2: dictionaries ----------------------------------------------
    t1 = time.time()
    fp = config.fp("dicts")
    if need_dicts:
        log.begin("dicts", fp)
        dirty = True
        from concurrent.futures import ThreadPoolExecutor

        if parsed_on_disk:
            # parquet-backed parse: both dictionary builds scan their own
            # single pruned column — cheaper than materializing a shared
            # projection (CLAUDE.md: re-scanning zstd parquet beats persist
            # for narrow fan-out reads), and the two builds are independent
            # jobs, so run them concurrently: the second back-fills the
            # straggler tail of the first (guide §2.6).
            src, workers = parsed, 2
        else:
            # lazy (non-materialized) parse with only this stage running:
            # one narrow projection feeds BOTH dictionary builds so the
            # parse runs once, spilled DISK_ONLY (keeps the big
            # executor-storage pool out of play in single-JVM local mode);
            # one worker, so the second build reads what the first spilled.
            from pyspark.storagelevel import StorageLevel

            src = parsed.select("logtype", "dict_vars").persist(
                StorageLevel.DISK_ONLY
            )
            workers = 1

        def _build(name: str, build, path: str) -> dict:
            spark.sparkContext.setJobDescription(f"dicts: {name}")
            df, stats = build(src)
            zw(df).mode("overwrite").parquet(path)
            return stats

        with ThreadPoolExecutor(max_workers=workers) as pool:
            lt_stats, var_stats = [
                f.result() for f in [
                    pool.submit(_build, "logtype_dict",
                                _logtype_dict_and_stats, lt_path),
                    pool.submit(_build, "var_dict", _var_dict_and_stats,
                                var_path),
                ]
            ]
        if src is not parsed:
            src.unpersist()
        # the stats come from the builds' own id-offset collects: the
        # route stage (this run or a resumed one) reads them from lineage
        # instead of counting the dictionaries again
        log.commit(
            "dicts",
            fp,
            {
                "n_logtypes": lt_stats["entries"],
                "n_rows": lt_stats["carried"],
                "n_vars": var_stats["entries"],
                "var_bytes": var_stats["value_bytes"],
                "sec": time.time() - t1,
            },
        )
    metrics["dicts"] = log.metrics("dicts")

    @functools.cache
    def _routed() -> DataFrame:
        # ONE read of the fan-out per run, after the route stage wrote it:
        # partition discovery over more than 32 sink dirs is a distributed
        # listing job. No forced schema here — the logtype_id partition
        # column reads back as int, the written column is bigint.
        return spark.read.parquet(routed_path)

    # -- stage 3: enrich + route ---------------------------------------------
    t2 = time.time()
    fp = config.fp("route")
    if need_route:
        log.begin("route", fp)
        dirty = True
        dict_stats = log.metrics("dicts")
        enrich_mode = config.enrich_mode
        if enrich_mode == "auto":
            # decode's map-vs-join gate, fed from lineage: no stats job
            enrich_mode = ("map" if map_fits(dict_stats["n_vars"],
                                             dict_stats["var_bytes"])
                           else "join")
        logtype_dict = spark.read.schema(LOGTYPE_DICT_SCHEMA).parquet(lt_path)
        var_dict = spark.read.schema(VAR_DICT_SCHEMA).parquet(var_path)
        enriched = enrich(parsed, logtype_dict, var_dict, mode=enrich_mode)
        route(
            enriched,
            routed_path,
            salt=config.route_salt,
            sink_counts=logtype_dict.select("logtype_id", "n_rows"),
            write_options=zw.options,
            total_rows=dict_stats["n_rows"],
        )
        # fused post-route metadata pass (2 narrow scans): per-file
        # skipping stats + the var-id -> sink inverted index
        # (Archive.cpp:487-526 analog). The stats serve three consumers —
        # per-sink audit (file ⊂ sink under partitionBy), the snapshot
        # stage's file skipping, and the snapshot's routed file list (no
        # re-scan, no re-listing) — via a fingerprinted sidecar.
        from clpspark.snapshots import (
            collect_file_stats_and_var_index,
            sink_audit_from_stats,
        )

        stats, var_index = collect_file_stats_and_var_index(
            _routed(), config.work_dir
        )
        zw(var_index).mode("overwrite").parquet(config.path("var_index"))
        _write_stats_sidecar(config, fp, stats)
        audit = sink_audit_from_stats(stats)
        log.commit(
            "route",
            fp,
            {
                "n_sinks": len(audit),
                "rows": sum(a["n_rows"] for a in audit),
                "sinks": audit,
                "sec": time.time() - t2,
            },
        )
    metrics["route"] = log.metrics("route")
    if tmp_parsed is not None:
        # transient two-pass spill: all consumers (dicts, route) are done
        import shutil

        shutil.rmtree(tmp_parsed, ignore_errors=True)

    # -- optional: range index (per-ingested-file metadata KV) ---------------
    if config.range_index:
        from clpspark.range_index import (
            RANGE_INDEX_FILE,
            build_range_index,
            write_range_index,
        )

        fp = config.fp("range_index")
        ri_path = os.path.join(config.work_dir, RANGE_INDEX_FILE)
        if not (resume and log.is_done("range_index", fp)
                and os.path.exists(ri_path)):
            log.begin("range_index", fp)
            t_ri = time.time()
            extra = {"_file_split_number": "0"}
            if config.archive_creator_id is not None:
                extra["_archive_creator_id"] = config.archive_creator_id
            if config.input_format == "text":
                # text ingest: doc_id = <file>#<idx>, contiguous per source
                src = _routed().select("doc_id", "source")
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
                if os.path.exists(ri_path):
                    os.remove(ri_path)  # never leave a stale index behind
                log.commit("range_index", fp,
                           {"n_ranges": 0, "skipped": str(exc)[:200],
                            "sec": time.time() - t_ri})
            else:
                write_range_index(config.work_dir, ranges)
                log.commit(
                    "range_index", fp,
                    {"n_ranges": len(ranges), "sec": time.time() - t_ri},
                )
        metrics["range_index"] = log.metrics("range_index")

    # -- stage 4: aggregates ---------------------------------------------------
    t3 = time.time()
    fp = config.fp("aggregate")
    agg_paths = {
        "agg_sink_counts": None,
        "agg_source_stats": None,
        "agg_by_time": None,
    }
    if not (
        resume
        and log.is_done("aggregate", fp)
        and all(os.path.exists(config.path(p)) for p in agg_paths)
    ):
        log.begin("aggregate", fp)
        dirty = True
        # three column-pruned scans of the columnar fan-out — measured 5x
        # CHEAPER than persisting one shared projection (the cache
        # materialization costs more than re-decoding 2 narrow zstd columns
        # per aggregate; 13.6s vs 2.7s at 48M rows / 16 cores). The three
        # aggregates are independent jobs over different columns: run them
        # concurrently so each back-fills the others' straggler tails
        # (guide §2.6).
        from concurrent.futures import ThreadPoolExecutor

        routed = _routed()

        def _agg_job(name: str, df_fn):
            spark.sparkContext.setJobDescription(f"aggregate: {name}")
            zw(df_fn()).mode("overwrite").parquet(config.path(name))

        agg_jobs = [
            ("agg_sink_counts", lambda: agg.per_sink_counts(routed)),
            ("agg_source_stats", lambda: agg.per_source_token_stats(routed)),
            ("agg_by_time", lambda: agg.count_by_time(
                routed, config.bucket_ms, group_cols=("source",))),
        ]
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(_agg_job, n, fn) for n, fn in agg_jobs]:
                f.result()
        log.commit("aggregate", fp, {"sec": time.time() - t3})
    metrics["aggregate"] = log.metrics("aggregate")

    # -- stage 5: snapshot commit (atomic multi-table publish + file stats) ---
    if config.snapshot:
        t4 = time.time()
        fp = config.fp("snapshot")
        # a re-run stage rewrote its files: the committed manifest would point
        # at deleted paths — always publish a fresh snapshot in that case
        if dirty or not (resume and log.is_done("snapshot", fp)):
            from clpspark.snapshots import snapshot_pipeline_tables

            log.begin("snapshot", fp)
            v = snapshot_pipeline_tables(
                spark,
                config.work_dir,
                routed_stats=_read_stats_sidecar(config, config.fp("route")),
            )
            log.commit(
                "snapshot", fp, {"version": v, "sec": time.time() - t4}
            )
        metrics["snapshot"] = log.metrics("snapshot")

    # -- optional: register this archive in the metadata catalog --------------
    if config.catalog_dir:
        from clpspark.catalog import register_archive

        rng = _routed().agg(
            F.min("ts").alias("b"), F.max("ts").alias("e"),
            F.count("*").alias("n"),
        ).first()
        register_archive(
            spark,
            config.catalog_dir,
            archive_id=f"{os.path.basename(config.work_dir)}-{config.fp('route')[:12]}",
            path=config.work_dir,
            begin_ts=rng["b"],
            end_ts=rng["e"],
            n_rows=rng["n"],
            tags=list(config.tags),
            dataset=config.dataset,
        )

    metrics["total_sec"] = time.time() - t0
    return metrics


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
    axis at row-count quantiles, and route each time slice into its own
    archive directory. Every archive registers in the catalog with
    ``dict_path`` = the shared generation, so search_archives scans the
    whole run as ONE plan (ids are interchangeable within a generation).

    ``resume=True`` reuses an existing parsed table / dictionary
    generation from the work dir via their _SUCCESS markers (marker-only
    — no fingerprint ledger like run_pipeline's): pass ``resume=False``
    whenever the input or config changed.

    Returns {"archives": [(archive_id, path)...], "n_archives": k, ...}.
    """
    from clpspark.catalog import register_archive

    t0 = time.time()
    zw = _level_writer(config)
    parsed_path = config.path("parsed")
    if not resume or not os.path.exists(f"{parsed_path}/_SUCCESS"):
        if config.input_format == "text":
            # raw text logs split the same way the reference's clp does —
            # the parse stage is the only format-specific step
            from clpspark.sources.text_logs import ingest_text_logs

            src = (list(config.input_files) if config.input_files
                   else config.input_path)
            parsed_df = ingest_text_logs(
                spark, src, remove_path_prefix=config.remove_path_prefix)
        else:
            from clpspark.operators.util import rebalance_for_udf

            meta = corpus_mod.build_vocab(config.vocab_seed)
            sequences = rebalance_for_udf(
                spark.read.parquet(config.input_path))
            parsed_df = parse_sequences(sequences, meta.vocab)
        zw(parsed_df).mode("overwrite").parquet(parsed_path)
    parsed = spark.read.parquet(parsed_path)

    if target_rows_per_archive is None:
        if target_encoded_bytes is None:
            raise ValueError(
                "run_split_pipeline needs target_rows_per_archive or "
                "target_encoded_bytes")
        if target_encoded_bytes <= 0:
            raise ValueError("target_encoded_bytes must be > 0")
        total_rows = parsed.count()
        on_disk = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(parsed_path) for f in fs
        )
        bytes_per_row = max(on_disk / max(total_rows, 1), 1e-9)
        target_rows_per_archive = max(
            1, int(target_encoded_bytes / bytes_per_row))

    dicts_dir = config.path("shared_dicts")
    lt_path = f"{dicts_dir}/logtype_dict"
    var_path = f"{dicts_dir}/var_dict"
    if not resume or not os.path.exists(f"{lt_path}/_SUCCESS"):
        zw(build_logtype_dict(parsed)).mode("overwrite").parquet(lt_path)
        zw(build_var_dict(parsed)).mode("overwrite").parquet(var_path)
    logtype_dict = spark.read.parquet(lt_path)
    var_dict = spark.read.parquet(var_path)

    n = parsed.count()
    k = max(1, -(-n // target_rows_per_archive))  # ceil
    # time cut points at row-count quantiles -> near-equal archives that are
    # time-contiguous (CLP archives are ordered time ranges)
    cuts: list[int] = []
    if k > 1:
        qs = [i / k for i in range(1, k)]
        # the 1.0 quantile rides along for free (the GK sketch retains the
        # exact max) — no second scan of parsed just for max(ts)
        raw = parsed.where(F.col("ts").isNotNull()).approxQuantile(
            "ts", qs + [1.0], 0.001
        )
        # under timestamp skew (>= 1/k of rows sharing the max ts) a cut can
        # equal the global max, leaving the final (ts_max, None] slice empty
        # — route() would then write a data-less dir that crashes the
        # read-back. Drop any cut at/above the max; the previous slice's
        # half-open upper bound absorbs those rows.
        ts_max = int(raw[-1]) if raw else None
        seen: set[int] = set()
        for c in raw[:-1]:
            ci = int(c)
            if ci not in seen and (ts_max is None or ci < ts_max):
                seen.add(ci)
                cuts.append(ci)
    bounds: list[tuple[int | None, int | None]] = []
    lo = None
    for c in cuts:
        bounds.append((lo, c))
        lo = c
    bounds.append((lo, None))

    enriched = enrich(parsed, logtype_dict, var_dict, mode=config.enrich_mode)
    # all archives of one run live under ONE parquet root as an extra
    # partition level (archive=<i>/logtype_id=<j>): a dictionary generation
    # reads back as a single partition-pruned scan, not N conflicting roots
    routed_root = config.path("routed_archives")
    archives: list[tuple[str, str]] = []
    for i, (blo, bhi) in enumerate(bounds):
        arch_dir = f"{routed_root}/archive={i:04d}"
        # first slice absorbs rows without a timestamp; bounds are
        # (lo, hi] half-open so every row lands in exactly one archive
        if blo is None and bhi is None:
            cond = F.lit(True)
        elif blo is None:
            cond = F.col("ts").isNull() | (F.col("ts") <= bhi)
        elif bhi is None:
            cond = F.col("ts").isNotNull() & (F.col("ts") > blo)
        else:
            cond = (
                F.col("ts").isNotNull()
                & (F.col("ts") > blo) & (F.col("ts") <= bhi)
            )
        sliced = enriched.where(cond)
        route(
            sliced,
            arch_dir,
            salt=config.route_salt,
            sink_counts=logtype_dict.select("logtype_id", "n_rows"),
            write_options=zw.options,
        )
        routed = spark.read.parquet(arch_dir)
        rng = routed.agg(
            F.min("ts").alias("b"), F.max("ts").alias("e"),
            F.count("*").alias("n"),
        ).first()
        archive_id = (
            f"{os.path.basename(config.work_dir)}-{config.fp('route')[:8]}"
            f"-{i:04d}"
        )
        if catalog_dir or config.catalog_dir:
            register_archive(
                spark,
                catalog_dir or config.catalog_dir,
                archive_id=archive_id,
                path=arch_dir,
                begin_ts=rng["b"],
                end_ts=rng["e"],
                n_rows=rng["n"],
                tags=list(config.tags),
                dict_path=dicts_dir,
                dataset=config.dataset,
            )
        archives.append((archive_id, arch_dir))
    # one (var_id, logtype_id) index covers the whole generation (shared
    # dictionary ids make per-archive indexes redundant for logtype pruning).
    # The SAME fused pass yields per-file skipping stats, committed as a
    # generation-level snapshot so catalog search can manifest-prune files
    # across all archives of the run.
    from clpspark.snapshots import (
        SnapshotStore,
        collect_file_stats_and_var_index,
    )

    gen_routed = spark.read.option("basePath", routed_root).parquet(routed_root)
    stats, var_index = collect_file_stats_and_var_index(
        gen_routed, config.work_dir
    )
    zw(var_index).mode("overwrite").parquet(f"{dicts_dir}/var_index")
    store = SnapshotStore(config.work_dir)
    rel = os.path.relpath(routed_root, config.work_dir)
    tables = {
        "routed": {
            "files": sorted(s["file"] for s in stats),
            "base": rel,
            "stats": stats,
        },
    }
    for name, p in (
        ("logtype_dict", lt_path),
        ("var_dict", var_path),
        ("var_index", f"{dicts_dir}/var_index"),
    ):
        tables[name] = {
            "files": store.table_files(p),
            "base": os.path.relpath(p, config.work_dir),
        }
    store.commit(tables)
    return {
        "archives": archives,
        "n_archives": len(bounds),
        "rows": n,
        "dict_path": dicts_dir,
        "total_sec": time.time() - t0,
    }

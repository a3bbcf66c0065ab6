"""Command-line front end mirroring the reference's user binaries.

Subcommand map (reference → here):

  clp c  (compress,   clp/clp/CommandLineArguments.hpp:18)  → ``compress``
  clp x  (extract,    :19)                                   → ``extract``
  clg    (search,     clp/clg/clg.cpp, CommandLineArguments
          options --tge/--tgt/--tle/--tlt/--ignore-case/
          --file-path)                                       → ``search``
  clp-s c (compress JSON, clp_s/clp-s.cpp; --timestamp-key/
          --structurize-arrays/--single-file-archive)        → ``compress-json``
  clp-s s (KQL search + --projection)                        → ``search-json``
  clp_s dataset search across archives                       → ``search-json-catalog``
  archive stats (clp's print_archive_stats / metadata DB)    → ``stats``

A user of the reference drives compress → search → extract with the same
verbs and filters here; the archive is a pipeline work dir (routed fan-out
+ dictionaries + snapshot manifest).

Usage::

  python -m clpspark compress LOGS_DIR ARCHIVE_DIR [--format text|corpus]
  python -m clpspark search  ARCHIVE_DIR "QUERY*" [--tge MS] [--count] ...
  python -m clpspark extract ARCHIVE_DIR OUT_DIR
  python -m clpspark stats   ARCHIVE_DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from clpspark.session import get_spark

    cpus = args.cpus or os.cpu_count() or 4
    return get_spark(
        "clpspark-cli", master=f"local[{cpus}]", shuffle_partitions=cpus
    )


def _engine(spark, archive: str):
    from clpspark.plans.grep import GrepEngine

    return GrepEngine.from_work_dir(spark, archive)


def cmd_compress(args) -> int:
    from clpspark.pipeline import PipelineConfig, run_pipeline

    fmt = args.format
    if fmt == "auto":
        fmt = "corpus" if args.input.rstrip("/").endswith(".parquet") or (
            os.path.isdir(args.input)
            and any(f.endswith(".parquet") for f in os.listdir(args.input))
        ) else "text"
    input_files = None
    if args.files_from:
        # clp -f/--files-from: newline-separated input paths, unioned with
        # the positional input (the reference combines both sources)
        try:
            with open(args.files_from) as fh:
                listed = [ln.strip() for ln in fh
                          if ln.strip() and not ln.strip().startswith("#")]
        except OSError as e:
            print(f"--files-from: {e}", file=sys.stderr)
            return 2
        if fmt != "text":
            print("--files-from requires text input", file=sys.stderr)
            return 2
        # dedup exact repeats, then refuse colliding STORED source names
        # (basename by default, prefix-stripped path with
        # --remove-path-prefix) — colliding sources would interleave two
        # files' doc_ids into one archived stream
        input_files = list(dict.fromkeys([args.input] + listed))
        prefix = args.remove_path_prefix

        def stored_name(p: str) -> str:
            ap = os.path.abspath(p)
            if prefix is None:
                return os.path.basename(ap)
            return (ap[len(prefix):].lstrip("/")
                    if ap.startswith(prefix) else ap)

        names = [stored_name(p) for p in input_files]
        if len(set(names)) != len(names):
            dupes = sorted({n for n in names if names.count(n) > 1})
            print(
                f"--files-from: archived source names collide: {dupes}; "
                f"use --remove-path-prefix to keep paths distinct",
                file=sys.stderr,
            )
            return 2
        if args.sort_input_files == "true":  # the reference default
            input_files = sorted(input_files)
    cfg = PipelineConfig(
        input_path=args.input,
        work_dir=args.archive,
        input_format=fmt,
        input_files=tuple(input_files) if input_files else None,
        remove_path_prefix=args.remove_path_prefix,
        tags=tuple(args.tag or ()),
        catalog_dir=args.catalog,
        dataset=args.dataset,
        # $-namespace metadata pruning (clp_s range index): one range per
        # ingested file, creator id = this compression run
        range_index=not args.no_range_index,
        archive_creator_id=f"clpspark-{os.path.basename(args.archive)}",
        compression_level=args.compression_level,
    )
    spark = _spark(args)
    if args.target_encoded_size:
        # clp --target-encoded-size / Archive.cpp size split: one run ->
        # multiple time-contiguous archives near the byte target, sharing
        # one dictionary generation (searchable as one plan via the
        # catalog)
        from clpspark.pipeline import run_split_pipeline

        if args.target_encoded_size <= 0:
            print("--target-encoded-size must be > 0", file=sys.stderr)
            return 2
        metrics = run_split_pipeline(
            spark, cfg, catalog_dir=args.catalog,
            target_encoded_bytes=args.target_encoded_size,
            resume=not args.no_resume,
        )
        print(json.dumps(metrics, default=str))
        return 0
    metrics = run_pipeline(spark, cfg, resume=not args.no_resume)
    print(json.dumps(metrics, default=str))
    return 0


def cmd_search(args) -> int:
    spark = _spark(args)
    eng = _engine(spark, args.archive)
    # --tgt/--tlt are the reference's strict bounds; ts is epoch ms so
    # strict > / < fold into the inclusive bounds ±1. --teq is exclusive
    # with every other timestamp filter (clg CommandLineArguments.cpp:217)
    tge, tle = args.tge, args.tle
    if args.teq is not None:
        if any(v is not None for v in (tge, tle, args.tgt, args.tlt)):
            print("--teq cannot be specified with any other timestamp "
                  "filtering option", file=sys.stderr)
            return 2
        tge = tle = args.teq
    if args.tgt is not None:
        if tge is not None:
            print("--tgt cannot be used with --tge", file=sys.stderr)
            return 2
        tge = args.tgt + 1
    if args.tlt is not None:
        if tle is not None:
            print("--tlt cannot be used with --tle", file=sys.stderr)
            return 2
        tle = args.tlt - 1
    meta = None
    if getattr(args, "meta", None):
        meta = {}
        for kv in args.meta:
            if "=" not in kv:
                print(f"--meta expects KEY=PATTERN, got {kv!r}",
                      file=sys.stderr)
                return 2
            k, v = kv.split("=", 1)
            meta[k] = v
    kw = dict(
        ignore_case=args.ignore_case,
        tge=tge,
        tle=tle,
        limit=args.limit,
        source=args.file_path,
        meta=meta,
    )
    if args.regex:
        out = eng.search_regex(args.query, **kw)
    else:
        out = eng.search(args.query, **kw)
    if args.count_by_time is not None:
        # clo --count-by-time SIZE: bucketed match counts instead of rows
        from pyspark.sql import functions as F

        from clpspark.operators.aggregate import count_by_time

        if args.count_by_time <= 0:
            print("--count-by-time bucket size must be > 0", file=sys.stderr)
            return 2
        buckets = count_by_time(out, args.count_by_time).orderBy("bucket")
        # --output routes bucket counts through the same handlers as row
        # results (clo's count-by-time goes to the reducer/cache too):
        # one tuple per bucket, ts = bucket start, message = the count
        wire = buckets.select(
            "bucket", F.col("n_rows").cast("string").alias("message"))
        if _output_results(wire, args, ts_col="bucket",
                           message_col="message", path_col=None,
                           ix_col=None):
            return 0
        for r in buckets.toLocalIterator():
            print(f"{r['bucket']}\t{r['n_rows']}")
        return 0
    if args.count:
        print(out.agg({"*": "count"}).first()[0])
        return 0
    if _output_results(out, args):
        return 0
    _print_matches(out)
    return 0


def _print_matches(out) -> None:
    """Stream results to stdout without materializing the full match set on
    the driver (a broad query at scale would OOM a .collect())."""
    for r in out.select("source", "ts", "message").toLocalIterator(
        prefetchPartitions=True
    ):
        print(f"{r['source']}: {r['message']}")


def _output_results(out, args, **cols) -> bool:
    """Route results per --output (the reference's output-handler choice:
    clo --network-dest / --results-cache). ``socket://host:port`` streams
    msgpack result tuples; any other URI is a results cache (parquet dir,
    or mongodb:// when pymongo is installed). Returns True when handled —
    the caller then skips stdout."""
    uri = getattr(args, "output", None)
    if not uri:
        return False
    if uri.startswith("socket://"):
        from clpspark.sinks.network import send_results_to_socket

        host, sep, port = uri.removeprefix("socket://").rpartition(":")
        if not sep or not port.isdigit():
            raise SystemExit(
                f"--output socket URI must be socket://host:port, got {uri!r}")
        send_results_to_socket(out, host, int(port), **cols)
    else:
        from clpspark.sinks.results_cache import write_results_cache

        n = write_results_cache(
            out, uri,
            max_num_results=args.max_results,
            batch_size=args.batch_size,
            **cols,
        )
        print(f"cached {n} results at {uri}", file=sys.stderr)
    return True


def _json_wire(out, file_id=None):
    """JSON search rows -> result-tuple shape: the whole row marshalled
    as the message, archive id in the file-id slot, empty path — the
    clp_s handler wire layout (clp_s/OutputHandlerImpl.cpp:39-54)."""
    from pyspark.sql import functions as F

    data_cols = [c for c in out.columns
                 if c not in ("doc_id", "archive_id")]
    sel = [F.to_json(F.struct(*[F.col(c) for c in data_cols]))
           .alias("message")]
    if "doc_id" in out.columns:
        sel.append(F.col("doc_id"))
    if "archive_id" in out.columns:
        sel.append(F.col("archive_id").alias("file_id"))
    elif file_id is not None:
        sel.append(F.lit(file_id).alias("file_id"))
    wire = out.select(*sel)
    return wire, dict(
        ts_col=None,
        message_col="message",
        path_col=None,
        file_id_col="file_id" if "file_id" in wire.columns else None,
        ix_col="doc_id" if "doc_id" in wire.columns else None,
    )


def cmd_search_catalog(args) -> int:
    from clpspark.catalog import search_archives
    from clpspark.gc import begin_query, end_query

    spark = _spark(args)
    # RUNNING-query marker: the retention GC never sweeps archives this
    # job could still search (archive_garbage_collector expiry pullback)
    job = begin_query(args.catalog)
    try:
        out = search_archives(
            spark, args.catalog, args.query,
            tags=args.tag, tge=args.tge, tle=args.tle,
            dataset=args.dataset,
        )
        if args.count:
            print(out.agg({"*": "count"}).first()[0])
            return 0
        if _output_results(out, args):
            return 0
        _print_matches(out)
        return 0
    finally:
        end_query(args.catalog, job)


def _safe_member_name(src: str) -> str:
    """Archive-controlled source names must stay inside --out: neutralize
    path separators and traversal segments instead of writing wherever they
    point (or crashing on a missing intermediate dir)."""
    src = src.replace("..", "_").replace(os.sep, "_")
    if os.altsep:
        src = src.replace(os.altsep, "_")
    return src or "_"


def cmd_extract(args) -> int:
    from clpspark.sources.reconstruct import reconstruct_text, write_text

    import shutil
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    spark = _spark(args)
    routed = spark.read.parquet(f"{args.archive}/routed")
    if args.file_path:
        # clp x <paths> / clo --orig-file-id: extract one original file.
        # doc_id = '<source>#<ix>' is a sargable prefix range, so the scan
        # prunes on the parquet doc_id min/max instead of reading everything
        routed = routed.where(F.col("source") == args.file_path)
    text = reconstruct_text(
        routed,
        spark.read.parquet(f"{args.archive}/var_dict"),
        logtype_dict=spark.read.parquet(f"{args.archive}/logtype_dict"),
    )
    if args.msg_ix is not None:
        # clo --msg-ix [+ --msg-count]: emit just those messages to stdout
        # (the log-viewer 'surrounding events' path)
        if not args.file_path:
            print("--msg-ix requires --file-path", file=sys.stderr)
            return 2
        lo, hi = args.msg_ix, args.msg_ix + args.msg_count
        ev = F.regexp_extract("doc_id", r"([0-9]+)$", 1).cast("long")
        rows = (
            text.withColumn("_ev", ev)
            .where((F.col("_ev") >= lo) & (F.col("_ev") < hi))
            .orderBy("_ev")
            .collect()  # bounded by --msg-count
        )
        for r in rows:
            print(r["line"])
        return 0
    if getattr(args, "target_ordered_chunk_size", 0):
        # clp x ordered chunking: size-targeted per-source chunk files
        # named <source>_<first>_<last+1>.txt (end exclusive); one JSON
        # manifest line per chunk (print_ordered_chunk_stats analog)
        from pyspark.sql import functions as F

        from clpspark.sources.chunked import write_ordered_chunks

        # event index = the doc_id's numeric tail: text-format ids are
        # '<file>#<ix>', corpus ids end in digits too; anything without
        # one fails fast inside write_ordered_chunks (null order key)
        lines = text.withColumn(
            "_ev_ix",
            F.nullif(F.regexp_extract("doc_id", r"([0-9]+)$", 1), F.lit(""))
            .cast("long"),
        )
        manifest = write_ordered_chunks(
            lines, args.out, args.target_ordered_chunk_size,
            order_col="_ev_ix", line_col="line", stream_col="source",
            suffix=".txt",
        )
        for m in manifest:
            print(json.dumps(m))
        return 0
    staging = args.out.rstrip("/") + ".spark-staging"
    write_text(text, staging)
    # one real file per original source, like `clp x` (part files are
    # range-partitioned + sorted, so filename order IS doc order)
    os.makedirs(args.out, exist_ok=True)
    used: set[str] = set()
    for d in sorted(os.listdir(staging)):
        if not d.startswith("source="):
            continue
        src = _safe_member_name(unquote(d.split("=", 1)[1]))
        # two distinct sources can sanitize to the same name ('a/b.log' vs
        # 'a_b.log') — suffix instead of silently overwriting the first
        if src in used:
            i = 1
            while f"{src}.{i}" in used:
                i += 1
            src = f"{src}.{i}"
        used.add(src)
        with open(os.path.join(args.out, src), "w") as f:
            for part in sorted(os.listdir(os.path.join(staging, d))):
                if part.startswith(("part-", "part_")):
                    with open(os.path.join(staging, d, part)) as pf:
                        shutil.copyfileobj(pf, f)
    shutil.rmtree(staging)
    print(args.out)
    return 0


def cmd_extract_ir(args) -> int:
    """clp i: archive -> IR chunk files (extract_stream_task analog)."""
    from clpspark.sources.ir_stream import extract_ir_chunks

    spark = _spark(args)
    extract_ir_chunks(
        spark.read.parquet(f"{args.archive}/routed"),
        spark.read.parquet(f"{args.archive}/var_dict"),
        args.out,
        logtype_dict=spark.read.parquet(f"{args.archive}/logtype_dict"),
        four_byte=not args.eight_byte,
    )
    print(args.out)
    return 0


def cmd_compress_json(args) -> int:
    """clp-s c: NDJSON -> encoded JSON archive (clp_s/clp-s.cpp compress
    verb; --timestamp-key/--structurize-arrays/--single-file-archive are
    the reference's flags)."""
    from pyspark.sql import functions as F

    from clpspark.operators.json_encode import write_json_archive
    from clpspark.sources.json_logs import (
        fresh_name,
        ordered_meta_names,
        read_ndjson_ordered,
    )

    spark = _spark(args)
    if getattr(args, "max_document_size", None):
        # clp-s --max-document-size: a document over the cap FAILS the
        # compression (CommandLineArguments.cpp "before compression fails",
        # JsonFileIterator truncation path) — column-pruned length scan
        n_big = (
            spark.read.text(args.input)
            .where(F.octet_length("value") > args.max_document_size)
            .count()
        )
        if n_big:
            print(
                f"compress-json: {n_big} document(s) exceed "
                f"--max-document-size {args.max_document_size}",
                file=sys.stderr,
            )
            return 1
    schema = spark.read.json(args.input).schema
    if any(f.name.lower() == "doc_id" for f in schema.fields):
        raise SystemExit(
            "compress-json: input field 'doc_id' collides with the "
            "archive's document id; rename it before ingest"
        )
    # user fields named log_event_idx/source_file stay DATA (they
    # round-trip through extract-json); the reader's metadata columns
    # shift to probed names and the sidecar declares the actual order key
    names = ordered_meta_names(schema)
    sf_col, idx_col = names["source_file"], names["log_event_idx"]
    df = read_ndjson_ordered(spark, args.input, schema=schema)
    # Archive-GLOBAL event index (the reference assigns event indexes in
    # ingest order across the whole archive): per-file row counts -> driver
    # cumulative offsets over the path-sorted file list (rows = #files) ->
    # broadcast join. Ordered decompression by the order key alone is then
    # exact across files, and doc_id = <basename>#<global idx> stays unique
    # even when basenames repeat in different input directories.
    # --disable-log-order (clp-s flag) skips that pass: faster ingest,
    # per-file indexes only — cross-file total order is NOT preserved and
    # ordered extraction of a multi-file archive interleaves by index.
    if args.disable_log_order:
        # doc_id = <basename>#<per-file idx>: without the global renumber,
        # repeated basenames would collide — detect from the driver-side
        # file listing (free) and refuse, pointing at the fix
        import glob as globmod

        # Mirror what spark.read.json actually reads: glob expansion, then
        # NON-recursive top-level files of matched directories, skipping
        # hidden/_-prefixed names. (os.walk would false-refuse on nested
        # files Spark ignores; skipping dir matches would miss the
        # 'd/*' -> directories case entirely.)
        matches = ([args.input] if os.path.isdir(args.input)
                   else globmod.glob(args.input) or [args.input])
        bases: list[str] = []
        for m in matches:
            if os.path.isdir(m):
                bases += [f for f in os.listdir(m)
                          if os.path.isfile(os.path.join(m, f))
                          and not f.startswith(("_", "."))]
            elif os.path.isfile(m):
                bases.append(os.path.basename(m))
        if len(set(bases)) != len(bases):
            print(
                "compress-json: --disable-log-order cannot ingest inputs "
                "with repeated file basenames (doc ids would collide); "
                "drop the flag to enable archive-global numbering",
                file=sys.stderr,
            )
            return 2
    counts = ([] if args.disable_log_order
              else df.groupBy(sf_col).count().collect())
    if len(counts) > 1:
        off_col = fresh_name(idx_col + "_off", df.columns)
        off, rows = 0, []
        for r in sorted(counts, key=lambda r: r[sf_col]):
            rows.append((r[sf_col], off))
            off += r["count"]
        off_df = spark.createDataFrame(
            rows, f"`{sf_col}` string, `{off_col}` long"
        )
        df = df.join(F.broadcast(off_df), sf_col).withColumn(
            idx_col, F.col(off_col) + F.col(idx_col)
        ).drop(off_col)
    df = df.withColumn(
        "doc_id",
        F.concat(
            F.element_at(F.split(F.col(sf_col), "/"), -1),
            F.lit("#"), F.col(idx_col).cast("string"),
        ),
    ).drop(sf_col, "schema_id")
    arch = write_json_archive(
        df, args.archive,
        ts_leaf=args.timestamp_key,
        structurize_arrays=args.structurize_arrays,
        single_file=args.single_file_archive,
        order_col=idx_col,
    )
    # single-file path exactly as pack_archive minted it (abspath-based);
    # args.archive + ".clpa" diverges on trailing slashes
    arch_abs = os.path.abspath(args.archive).rstrip("/")
    if args.single_file_archive:
        from clpspark.single_file import ARCHIVE_SUFFIX

        out_path = arch_abs + ARCHIVE_SUFFIX
    else:
        out_path = args.archive
    if args.catalog:
        from clpspark.catalog import register_archive
        from clpspark.lineage import fingerprint

        # ONE fused scan for count + ts range (near-constant-cost metadata
        # jobs add up — see pipeline snapshot stage)
        aggs = [F.count(F.lit(1)).alias("n")]
        dates = sorted(arch.date_leaf_paths())
        if dates:
            # dotted paths are NESTED traversal (date_leaf_paths walks the
            # records schema) — same access form as catalog.py's row filter
            eps = [F.col(f"{d}.epoch") for d in dates]
            mins = [F.min(e) for e in eps]
            maxs = [F.max(e) for e in eps]
            aggs.append((F.least(*mins) if len(eps) > 1
                         else mins[0]).alias("b"))
            aggs.append((F.greatest(*maxs) if len(eps) > 1
                         else maxs[0]).alias("e"))
        row = arch.records.agg(*aggs).first()
        begin = row["b"] if dates else None
        end = row["e"] if dates else None
        register_archive(
            spark, args.catalog,
            # basename alone collides across directories; suffix with a
            # path fingerprint (same scheme as pipeline.py's registration)
            archive_id=(f"{os.path.basename(arch_abs)}"
                        f"-{fingerprint(arch_abs)[:12]}"),
            path=out_path,
            begin_ts=begin, end_ts=end, n_rows=row["n"],
            tags=list(args.tag or ()),
            dataset=args.dataset,
        )
    print(json.dumps({
        "archive": out_path if args.single_file_archive else arch.dir,
        "leaves": sorted(arch.leaf_names()),
    }))
    return 0


def cmd_extract_json(args) -> int:
    """clp-s x: encoded JSON archive (dir or .clpa) -> original NDJSON,
    in archive-global ingest order (log_event_idx) when the archive has
    one; compress-json archives always do."""
    from pyspark.sql import functions as F

    from clpspark.operators.json_encode import JsonArchive

    spark = _spark(args)
    arch = JsonArchive.open(spark, args.archive)
    # the sidecar DECLARES the order key (a user data field that merely
    # shares the name is not one); reconstruct() drops the declared key
    # from the JSON itself, keep_cols passes it through typed for the sort
    oc = arch.order_col()
    ordered = oc is not None and oc in arch.records.columns
    rec = arch.reconstruct(keep_cols=(oc,) if ordered else ())
    if getattr(args, "target_ordered_chunk_size", 0):
        if not ordered:
            print("archive has no order key: --target-ordered-chunk-size "
                  "requires an ordered archive", file=sys.stderr)
            return 1
        # clp-s x --ordered --target-ordered-chunk-size: size-targeted
        # chunks named <archive>_<first>_<last+1>.jsonl; one JSON
        # manifest line per chunk (the stream-extraction metadata shape)
        from clpspark.sources.chunked import write_ordered_chunks

        stream = os.path.basename(os.path.normpath(args.archive))
        manifest = write_ordered_chunks(
            rec, args.out, args.target_ordered_chunk_size,
            order_col=oc, line_col="json", stream_id=stream,
        )
        for m in manifest:
            print(json.dumps(m))
        return 0
    if ordered:
        # global sort = range shuffle + intra-partition sort (AQE-
        # coalescible); lexicographically named parts concatenate to the
        # archive-global ingest order
        rec = rec.orderBy(oc)
    rec.select(F.col("json").alias("value")) \
        .write.mode("overwrite").text(args.out)
    return 0


def cmd_search_json(args) -> int:
    """clp-s s: KQL over an encoded JSON archive (dir or .clpa), with the
    reference's --projection."""
    from clpspark.operators.json_encode import JsonArchive

    spark = _spark(args)
    arch = JsonArchive.open(spark, args.archive)
    out = arch.kql(
        args.kql,
        case_sensitive=not args.ignore_case,
        project=args.projection or None,
    )
    if args.count:
        print(out.agg({"*": "count"}).first()[0])
        return 0
    if getattr(args, "output", None):
        wire, cols = _json_wire(out, file_id=args.archive)
        _output_results(wire, args, **cols)
        return 0
    for r in out.toLocalIterator(prefetchPartitions=True):
        print(json.dumps(r.asDict(recursive=True), default=str))
    return 0


def cmd_search_json_catalog(args) -> int:
    """KQL across every encoded JSON archive in a catalog (clp_s dataset
    search / package query analog)."""
    from clpspark.catalog import search_json_archives
    from clpspark.gc import begin_query, end_query

    spark = _spark(args)
    job = begin_query(args.catalog)
    try:
        out = search_json_archives(
            spark, args.catalog, args.kql,
            tags=args.tag, tge=args.tge, tle=args.tle, limit=args.limit,
            case_sensitive=not args.ignore_case, dataset=args.dataset,
        )
        if out is None:
            print("no JSON archives matched the catalog filters",
                  file=sys.stderr)
            return 1
        if args.count:
            print(out.agg({"*": "count"}).first()[0])
            return 0
        if getattr(args, "output", None):
            wire, cols = _json_wire(out)
            _output_results(wire, args, **cols)
            return 0
        for r in out.toLocalIterator(prefetchPartitions=True):
            print(json.dumps(r.asDict(recursive=True), default=str))
        return 0
    finally:
        end_query(args.catalog, job)


def cmd_dump_dict(args) -> int:
    """make-dictionaries-readable analog: render the archive's logtype and
    variable dictionaries human-readably (make-dictionaries-readable.cpp:
    placeholders -> \\i / \\f / \\d, escapes unwrapped, newlines -> \\n;
    one entry per line in id order) into <out>/logtype.dict.hr and
    <out>/var.dict.hr."""
    from clpspark.ref.encoder import (
        PLACEHOLDER_DICT,
        PLACEHOLDER_ESCAPE,
        PLACEHOLDER_FLOAT,
        PLACEHOLDER_INT,
    )

    def render(s: str) -> str:
        out = []
        i = 0
        while i < len(s):
            c = s[i]
            if c == PLACEHOLDER_ESCAPE:
                i += 1
                if i < len(s):
                    out.append(s[i])
            elif c == PLACEHOLDER_INT:
                out.append("\\i")
            elif c == PLACEHOLDER_FLOAT:
                out.append("\\f")
            elif c == PLACEHOLDER_DICT:
                out.append("\\d")
            elif c == "\n":
                out.append("\\n")
            else:
                out.append(c)
            i += 1
        return "".join(out)

    spark = _spark(args)
    os.makedirs(args.out, exist_ok=True)
    lt = spark.read.parquet(f"{args.archive}/logtype_dict") \
        .orderBy("logtype_id")
    n_lt = 0
    with open(os.path.join(args.out, "logtype.dict.hr"), "w") as f:
        for r in lt.toLocalIterator():
            f.write(render(r["logtype"]) + "\n")
            n_lt += 1
    vd = spark.read.parquet(f"{args.archive}/var_dict").orderBy("var_id")
    n_var = 0
    with open(os.path.join(args.out, "var.dict.hr"), "w") as f:
        for r in vd.toLocalIterator():
            f.write(r["var_str"].replace("\n", "\\n") + "\n")
            n_var += 1
    print(json.dumps({"logtypes": n_lt, "variables": n_var}))
    return 0


def cmd_gc(args) -> int:
    """Retention GC (garbage_collector service analog): sweep expired
    archives from a catalog and/or expired result collections from a
    results cache. Prints one JSON line with what was (or would be)
    swept."""
    from clpspark.gc import sweep_expired_archives, sweep_expired_results

    retention_ms = int(args.retention_mins * 60_000)
    out: dict = {"dry_run": args.dry_run}
    if args.catalog:
        spark = _spark(args)
        out["archives_swept"] = sweep_expired_archives(
            spark, args.catalog, retention_ms, dry_run=args.dry_run
        )
    if args.results_cache:
        out["result_collections_dropped"] = sweep_expired_results(
            args.results_cache, retention_ms, dry_run=args.dry_run
        )
    print(json.dumps(out))
    return 0


def cmd_stats(args) -> int:
    from clpspark.lineage import LineageLog

    spark = _spark(args)
    log = LineageLog(args.archive)
    out = {"stages": log.job_status()}
    for stage in ("parse", "dicts", "route", "aggregate", "snapshot"):
        m = log.metrics(stage)
        if m:
            out[stage] = {
                k: v for k, v in m.items() if k != "sinks"
            }
    from clpspark.operators.aggregate import dictionary_stats

    out["per_logtype"] = [
        r.asDict()
        for r in dictionary_stats(
            spark.read.parquet(f"{args.archive}/routed")
        ).orderBy("logtype_id").collect()
    ]
    out["n_var_entries"] = spark.read.parquet(
        f"{args.archive}/var_dict"
    ).count()
    print(json.dumps(out, default=str))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="clpspark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compress", help="clp c: logs/corpus -> archive")
    c.add_argument("input")
    c.add_argument("archive")
    c.add_argument("--format", choices=("auto", "text", "corpus"),
                   default="auto")
    c.add_argument("--tag", action="append")
    c.add_argument("--catalog")
    c.add_argument("--dataset", default=None,
                   help="catalog dataset namespace (clp --dataset)")
    c.add_argument("--no-range-index", action="store_true",
                   help="skip the per-file metadata range index")
    c.add_argument("--compression-level", type=int, default=3,
                   help="zstd level for archive writes (1-19, default 3 — "
                        "the reference's clp --compression-level)")
    c.add_argument("--no-resume", action="store_true")
    c.add_argument("-f", "--files-from", default=None,
                   help="file listing extra input paths, one per line "
                        "(clp -f; unioned with the positional input)")
    c.add_argument("--remove-path-prefix", default=None,
                   help="store source paths with this prefix removed "
                        "(clp --remove-path-prefix; default: basename)")
    c.add_argument("--sort-input-files", choices=("true", "false"),
                   default="true",
                   help="sort the --files-from list before ingestion "
                        "(clp --sort-input-files, default true)")
    c.add_argument("--target-encoded-size", type=int, default=None,
                   metavar="BYTES",
                   help="split the run into multiple time-contiguous "
                        "archives near this encoded size (clp/clp-s "
                        "--target-encoded-size; shared dictionary "
                        "generation, catalog-searchable as one plan)")
    c.set_defaults(fn=cmd_compress)

    def _add_output_opts(p) -> None:
        p.add_argument(
            "--output", default=None, metavar="URI",
            help="result destination instead of stdout: socket://host:port "
                 "streams msgpack result tuples (clo network handler); any "
                 "other URI is a results cache — parquet directory, or "
                 "mongodb:// with pymongo installed")
        p.add_argument("--max-results", type=int, default=1000,
                       help="results-cache retention: keep the N latest "
                            "by timestamp (clo --max-num-results)")
        p.add_argument("--batch-size", type=int, default=1000,
                       help="results-cache insert batch size")

    s = sub.add_parser("search", help="clg: wildcard search an archive")
    s.add_argument("archive")
    s.add_argument("query")
    s.add_argument("--tge", type=int, default=None,
                   help="ts >= (epoch ms)")
    s.add_argument("--tgt", type=int, default=None, help="ts > (epoch ms)")
    s.add_argument("--tle", type=int, default=None,
                   help="ts <= (epoch ms)")
    s.add_argument("--tlt", type=int, default=None, help="ts < (epoch ms)")
    s.add_argument("--teq", type=int, default=None,
                   help="ts == (epoch ms); exclusive with other ts filters")
    s.add_argument("--count-by-time", type=int, default=None,
                   metavar="SIZE",
                   help="print per-bucket match counts (bucket size in ms, "
                        "clo --count-by-time) instead of matching rows")
    s.add_argument("-i", "--ignore-case", action="store_true")
    s.add_argument("--file-path", default=None,
                   help="restrict to one source file")
    s.add_argument("--meta", action="append", default=None,
                   metavar="KEY=PATTERN",
                   help="range-index metadata filter, e.g. "
                        "_filename='svc*.log' (repeatable, ANDed)")
    s.add_argument("--limit", type=int, default=None)
    s.add_argument("--count", action="store_true")
    s.add_argument("--regex", action="store_true",
                   help="treat QUERY as a regex (clg analog of clp-regex)")
    _add_output_opts(s)
    s.set_defaults(fn=cmd_search)

    sc = sub.add_parser(
        "search-catalog",
        help="clg across a catalog of archives (query_scheduler analog): "
        "tag/ts pruning picks archives, dictionary-generation groups scan "
        "as single plans",
    )
    sc.add_argument("catalog")
    sc.add_argument("query")
    sc.add_argument("--tag", action="append")
    sc.add_argument("--dataset", default=None,
                    help="scope the search to one dataset namespace")
    sc.add_argument("--tge", type=int, default=None)
    sc.add_argument("--tle", type=int, default=None)
    sc.add_argument("--count", action="store_true")
    _add_output_opts(sc)
    sc.set_defaults(fn=cmd_search_catalog)

    x = sub.add_parser("extract", help="clp x: archive -> original text")
    x.add_argument("archive")
    x.add_argument("out")
    x.add_argument("--file-path", default=None,
                   help="extract only this original file (clp x PATHS / "
                        "clo --orig-file-id)")
    x.add_argument("--msg-ix", type=int, default=None,
                   help="print only the message(s) at this event index of "
                        "--file-path to stdout (clo --msg-ix)")
    x.add_argument("--msg-count", type=int, default=1,
                   help="number of messages from --msg-ix (default 1)")
    x.add_argument("--target-ordered-chunk-size", type=int, default=0,
                   metavar="BYTES",
                   help="split ordered output into size-targeted chunk "
                        "files (0 = no chunking)")
    x.set_defaults(fn=cmd_extract)

    xi = sub.add_parser("extract-ir",
                        help="clp i: archive -> CLP IR stream chunks")
    xi.add_argument("archive")
    xi.add_argument("out")
    xi.add_argument("--eight-byte", action="store_true",
                    help="8-byte encoded variables (default: 4-byte)")
    xi.set_defaults(fn=cmd_extract_ir)

    xj = sub.add_parser(
        "extract-json",
        help="clp-s x: encoded JSON archive (dir or .clpa) -> original "
             "NDJSON in ingest order")
    xj.add_argument("archive")
    xj.add_argument("out")
    xj.add_argument("--target-ordered-chunk-size", type=int, default=0,
                    metavar="BYTES",
                    help="split ordered output into size-targeted chunk "
                         "files (0 = no chunking)")
    xj.set_defaults(fn=cmd_extract_json)

    cj = sub.add_parser(
        "compress-json",
        help="clp-s c: NDJSON -> encoded JSON archive (typed columns, "
        "CLP-encoded string leaves, shared dictionaries)",
    )
    cj.add_argument("input")
    cj.add_argument("archive")
    cj.add_argument("--timestamp-key", default=None,
                    help="top-level key encoded as DateString "
                         "(pattern, epoch) — clp-s --timestamp-key")
    cj.add_argument("--structurize-arrays", action="store_true",
                    help="per-element array encoding "
                         "(clp-s --structurize-arrays)")
    cj.add_argument("--single-file-archive", action="store_true",
                    help="pack the archive into one portable file "
                         "(clp-s --single-file-archive)")
    cj.add_argument("--disable-log-order", action="store_true",
                    help="skip archive-global event numbering (clp-s "
                         "--disable-log-order): faster ingest; ordered "
                         "extraction interleaves multi-file archives")
    cj.add_argument("--max-document-size", type=int, default=None,
                    metavar="DOC_SIZE",
                    help="maximum allowed size (B) for a single document "
                         "before compression fails (clp-s flag)")
    cj.add_argument("--catalog")
    cj.add_argument("--tag", action="append")
    cj.add_argument("--dataset", default=None,
                    help="catalog dataset namespace (clp-s --dataset)")
    cj.set_defaults(fn=cmd_compress_json)

    sj = sub.add_parser(
        "search-json",
        help="clp-s s: KQL over an encoded JSON archive (dir or .clpa)",
    )
    sj.add_argument("archive")
    sj.add_argument("kql")
    sj.add_argument("--projection", action="append", default=None,
                    metavar="COL",
                    help="output column (repeatable; clp-s --projection)")
    sj.add_argument("-i", "--ignore-case", action="store_true")
    sj.add_argument("--count", action="store_true")
    _add_output_opts(sj)
    sj.set_defaults(fn=cmd_search_json)

    sjc = sub.add_parser(
        "search-json-catalog",
        help="KQL across every encoded JSON archive in a catalog "
        "(clp_s dataset search)",
    )
    sjc.add_argument("catalog")
    sjc.add_argument("kql")
    sjc.add_argument("-i", "--ignore-case", action="store_true")
    sjc.add_argument("--tag", action="append")
    sjc.add_argument("--dataset", default=None,
                     help="scope the search to one dataset namespace")
    sjc.add_argument("--tge", type=int, default=None)
    sjc.add_argument("--tle", type=int, default=None)
    sjc.add_argument("--limit", type=int, default=None)
    sjc.add_argument("--count", action="store_true")
    _add_output_opts(sjc)
    sjc.set_defaults(fn=cmd_search_json_catalog)

    g = sub.add_parser(
        "gc", help="retention GC: sweep expired archives / search results"
    )
    g.add_argument("--catalog", help="catalog dir to sweep expired archives")
    g.add_argument("--results-cache",
                   help="results-cache dir to drop expired collections")
    g.add_argument("--retention-mins", type=float, required=True)
    g.add_argument("--dry-run", action="store_true")
    g.set_defaults(fn=cmd_gc)

    dd = sub.add_parser(
        "dump-dict",
        help="make-dictionaries-readable: render the archive's logtype/"
             "variable dictionaries human-readably",
    )
    dd.add_argument("archive")
    dd.add_argument("out")
    dd.set_defaults(fn=cmd_dump_dict)

    t = sub.add_parser("stats", help="archive stage + dictionary stats")
    t.add_argument("archive")
    t.set_defaults(fn=cmd_stats)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())

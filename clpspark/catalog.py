"""Archive metadata catalog — tags + time-range pruning across archives.

The reference keeps a metadata DB of archives (begin/end timestamp, size)
and their tags (clp_py_utils/clp_metadata_db_utils.py:31-99), and the query
scheduler prunes the archive list by tag semi-join + timestamp-range overlap
before dispatching per-archive search tasks
(job_orchestration/scheduler/query/query_scheduler.py:409-415, 863).

Spark-first: the catalog is a pair of small parquet tables
(``archives``: archive_id, path, begin_ts, end_ts, n_rows;
``tags``: archive_id, tag). Pruning is a driver-side filtered read of the
small catalog (the same shape as the reference's SELECT against its DB);
the search then unions per-archive GrepEngine plans — each archive owns its
dictionaries, exactly like the reference's per-archive search tasks.
"""

from __future__ import annotations

import functools
import os

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tbl(catalog_dir: str, name: str) -> str:
    return os.path.join(catalog_dir, name)


def _read_archives(spark: SparkSession, catalog_dir: str) -> DataFrame:
    """archives table; tolerates rows written before dict_path/dataset
    existed."""
    df = spark.read.option("mergeSchema", "true").parquet(
        _tbl(catalog_dir, "archives")
    )
    for col in ("dict_path", "dataset"):
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast("string"))
    return df


def register_archive(
    spark: SparkSession,
    catalog_dir: str,
    archive_id: str,
    path: str,
    begin_ts: int | None,
    end_ts: int | None,
    n_rows: int,
    tags: list[str] | None = None,
    dict_path: str | None = None,
    dataset: str | None = None,
) -> None:
    """Idempotent: re-registering an existing archive_id is a no-op.

    ``dict_path``: directory of the dictionary GENERATION this archive was
    encoded against (run_split_pipeline's shared dicts). Archives sharing a
    generation are searched in ONE scan (their ids are interchangeable);
    None = the archive owns its dictionaries under its own path.

    ``dataset``: first-class namespace (clp-package search.py --dataset,
    clp_metadata_db_utils per-dataset archive tables): searches scoped to
    a dataset never see other datasets' archives; None = the unscoped
    namespace (matched only by unscoped searches).
    """
    os.makedirs(catalog_dir, exist_ok=True)
    arch_path = _tbl(catalog_dir, "archives")
    # idempotence from the archive_id column, read on the driver (pyarrow
    # skips the _SUCCESS/.crc side files): no Spark job
    if os.path.exists(arch_path) and archive_id in pq.read_table(
            arch_path, columns=["archive_id"]).column("archive_id").to_pylist():
        return
    # pandas frames go to the JVM over Arrow; a list of tuples would run a
    # Python-worker job per write
    row = spark.createDataFrame(
        pd.DataFrame({
            "archive_id": [archive_id], "path": [path],
            "begin_ts": pd.array([begin_ts], dtype="Int64"),
            "end_ts": pd.array([end_ts], dtype="Int64"),
            "n_rows": pd.array([n_rows], dtype="Int64"),
            "dict_path": [dict_path], "dataset": [dataset]}),
        "archive_id string, path string, begin_ts long, end_ts long, "
        "n_rows long, dict_path string, dataset string",
    )
    row.write.mode("append").parquet(arch_path)
    if tags:
        tag_rows = spark.createDataFrame(
            pd.DataFrame({"archive_id": [archive_id] * len(tags),
                          "tag": list(tags)}),
            "archive_id string, tag string",
        )
        tag_rows.write.mode("append").parquet(_tbl(catalog_dir, "tags"))


def select_archives(
    spark: SparkSession,
    catalog_dir: str,
    tags: list[str] | None = None,
    tge: int | None = None,
    tle: int | None = None,
    dataset: str | None = None,
) -> list[tuple[str, str, str | None]]:
    """(archive_id, path, dict_path) of archives surviving dataset scope +
    tag semi-join + ts-range overlap pruning — query_scheduler.py:409-415
    semantics (an archive matches if it carries ANY of the requested
    tags). ``dataset`` scopes to that namespace exactly (search.py
    --dataset); None is itself a namespace — the reference's 'default'
    dataset — so scoped and unscoped archives never see each other."""
    arch = _read_archives(spark, catalog_dir)
    arch = arch.where(
        F.col("dataset").isNull() if dataset is None
        else (F.col("dataset") == dataset)
    )
    if tags:
        t = spark.read.parquet(_tbl(catalog_dir, "tags"))
        matching = t.where(F.col("tag").isin(tags)).select("archive_id")
        arch = arch.join(matching, "archive_id", "left_semi")
    if tge is not None:
        # keep archives whose range overlaps [tge, ...] (null end = unknown)
        arch = arch.where(
            F.col("end_ts").isNull() | (F.col("end_ts") >= F.lit(tge))
        )
    if tle is not None:
        arch = arch.where(
            F.col("begin_ts").isNull() | (F.col("begin_ts") <= F.lit(tle))
        )
    # newest-first walk order (query_scheduler.py:419 ORDER BY end_timestamp
    # DESC) so top-k consumers can early-exit on the first archives
    arch = arch.orderBy(F.col("end_ts").desc_nulls_last(), "archive_id")
    return [(r["archive_id"], r["path"], r["dict_path"])
            for r in arch.collect()]


def search_archives(
    spark: SparkSession,
    catalog_dir: str,
    query: str,
    tags: list[str] | None = None,
    tge: int | None = None,
    tle: int | None = None,
    dataset: str | None = None,
    **kw,
) -> DataFrame:
    """Grep over the pruned archive set, grouped by dictionary generation.

    Archives sharing a dict_path were encoded against the SAME dictionaries
    (run_split_pipeline), so their ids are interchangeable: the whole group
    scans as one multi-path parquet read under one GrepEngine plan. Plan
    size is O(#dictionary generations), not O(#archives) — at thousands of
    split archives the union no longer explodes the driver plan (the round-2
    weak item). Legacy archives (dict_path null) each form their own group.
    """
    from clpspark.plans.grep import GrepEngine

    selected = select_archives(spark, catalog_dir, tags=tags, tge=tge,
                               tle=tle, dataset=dataset)
    if not selected:
        from clpspark.operators.parse import PARSED_SCHEMA

        empty = spark.createDataFrame([], PARSED_SCHEMA)
        return empty.select("doc_id", "source", "ts").withColumn(
            "message", F.lit(None).cast("string")
        )
    # group by dictionary generation, preserving newest-first group order
    groups: list[tuple[str | None, list[str]]] = []
    ix: dict[str, int] = {}
    for aid, path, dict_path in selected:
        key = dict_path if dict_path is not None else f"__own__{aid}"
        if key not in ix:
            ix[key] = len(groups)
            groups.append((dict_path, []))
        groups[ix[key]][1].append(path)

    parts: list[DataFrame] = []
    for dict_path, paths in groups:
        if dict_path is not None:
            # generation archives: each path is archive=<i> under one parquet
            # root (run_split_pipeline layout) -> ONE partition-pruned scan.
            # When the generation committed a snapshot (run_split_pipeline
            # does), its per-file stats enable manifest-level file skipping —
            # restricted to the SELECTED archives' files, so a tag/ts-pruned
            # subset can never leak rows from sibling archives.
            base = os.path.dirname(paths[0])
            routed = spark.read.option("basePath", base).parquet(*paths)
            dict_dir = dict_path
            idx_path = f"{dict_path}/var_index"
            work_root = os.path.dirname(base.rstrip("/"))
            snapshot = None
            file_stats = None
            from clpspark.snapshots import SnapshotStore

            store = SnapshotStore(work_root)
            if store.current_version() is not None:
                prefixes = tuple(
                    os.path.relpath(p, work_root) + "/" for p in paths
                )
                snapshot = store
                file_stats = [
                    s
                    for s in store.stats("routed")
                    if s["file"].startswith(prefixes)
                ]
            engine = GrepEngine(
                routed,
                spark.read.parquet(f"{dict_dir}/logtype_dict"),
                spark.read.parquet(f"{dict_dir}/var_dict"),
                var_index=(spark.read.parquet(idx_path)
                           if os.path.exists(idx_path) else None),
                snapshot=snapshot,
                file_stats=file_stats,
            )
        else:
            # legacy archive: owns its dictionaries under its work dir —
            # snapshot-backed when the pipeline committed a manifest
            engine = GrepEngine.from_work_dir(spark, paths[0])
        parts.append(
            engine.search(query, tge=tge, tle=tle, **kw).select(
                "doc_id", "source", "ts", "message"
            )
        )
    return _tree_union(parts)


def _tree_union(parts: list[DataFrame],
                allow_missing: bool = False) -> DataFrame:
    """Balanced unionByName: O(log n) plan depth. A linear unionByName
    chain over thousands of archives builds a left-deep tree that
    deep-recurses the analyzer and dominates driver planning time."""
    while len(parts) > 1:
        nxt = [
            parts[i].unionByName(
                parts[i + 1], allowMissingColumns=allow_missing
            )
            for i in range(0, len(parts) - 1, 2)
        ]
        if len(parts) % 2:
            nxt.append(parts[-1])
        parts = nxt
    return parts[0]


def search_json_archives(
    spark: SparkSession,
    catalog_dir: str,
    kql: str,
    tags: list[str] | None = None,
    tge: int | None = None,
    tle: int | None = None,
    case_sensitive: bool = True,
    limit: int | None = None,
    dataset: str | None = None,
) -> DataFrame | None:
    """KQL across every registered ENCODED JSON archive surviving tag
    semi-join + ts-range pruning — the clp_s package/dataset search analog
    (clp_s searches each archive of a dataset with the same KQL AST;
    package/query_scheduler prunes by metadata first).

    Each JSON archive owns its dictionaries, so plans are per-archive by
    construction (the reference's shape too); results union with
    ``archive_id`` provenance, tolerating schema drift between archives
    (missing columns null-fill; a filter on a column an archive lacks
    simply doesn't match there). ``tge``/``tle`` prune at BOTH levels like
    ``search_archives``: archives by registered range, rows by their
    DateString epoch(s) — a row survives if ANY date leaf is in range, so
    partially-overlapping archives never leak out-of-range rows (rows
    without a parsed timestamp are excluded by a bounded query, matching
    the text path). Non-JSON archives in the same catalog are skipped.
    Returns None when no JSON archive survives pruning (no common schema
    exists to type an empty result).

    Scale shape (the reference dispatches ONE TASK PER ARCHIVE,
    query_scheduler.py:500-557): per-archive plan builds are driver-side
    py4j work (handle open, leaf-list job, KQL planning) and run on a
    thread pool, not serially; plans combine through a BALANCED union so
    plan depth stays O(log #archives). ``limit``: top-k consumers walk
    archives newest-first in batches and stop planning/running once
    ``limit`` rows exist (OutputHandler.hpp:188-201 early-exit analog) —
    the result is capped to the newest archives' matches."""
    from clpspark.operators.json_encode import JsonArchive
    from clpspark.operators.util import run_jobs
    from clpspark.plans.kql_archive import kql_archive

    selected = select_archives(spark, catalog_dir, tags=tags, tge=tge,
                               tle=tle, dataset=dataset)
    from clpspark.single_file import is_single_file_archive

    def _is_json_archive(path: str) -> bool:
        if os.path.isdir(path):
            return os.path.exists(os.path.join(path, "records"))
        # packed (.clpa) archives open transparently via JsonArchive.open
        return is_single_file_archive(path)

    json_archives = [
        (aid, path) for aid, path, _dict_path in selected
        if _is_json_archive(path)
    ]
    if not json_archives:
        return None

    def _plan(archive_id: str, path: str) -> DataFrame:
        # shared handle: per-archive engine/leaf memos amortize across
        # repeated catalog searches (version-validated, rewrite-safe)
        arch = JsonArchive.open(spark, path)
        ids = kql_archive(arch, kql, case_sensitive=case_sensitive,
                          distinct=False)  # semi-join absorbs duplicates
        hits = arch.records.join(ids, "doc_id", "left_semi")
        dates = sorted(arch.date_leaf_paths())
        if (tge is not None or tle is not None) and dates:
            # row-level bound via DateString epochs. Archives with ZERO date
            # leaves can't evaluate it — they only survive pruning via a
            # null registered range (timestamps unknown), and dropping every
            # row of a selected archive would silently hide it from the
            # result; such archives skip the row filter instead.
            in_range = F.lit(False)
            for d in dates:
                ep = F.col(f"{d}.epoch")
                c = ep.isNotNull()
                if tge is not None:
                    c = c & (ep >= F.lit(tge))
                if tle is not None:
                    c = c & (ep <= F.lit(tle))
                in_range = in_range | c
            hits = hits.where(in_range)
        if "archive_id" in hits.columns:
            raise ValueError(
                f"archive {archive_id}: records already carry an "
                "'archive_id' column — rename it at ingest; the catalog "
                "reserves that name for provenance"
            )
        return hits.withColumn("archive_id", F.lit(archive_id))

    def _plans(items: list[tuple[str, str]]) -> list[DataFrame]:
        return list(run_jobs(spark, {
            aid: functools.partial(_plan, aid, path) for aid, path in items
        }, max_workers=min(8, len(json_archives))).values())

    if limit is None:
        return _tree_union(_plans(json_archives), allow_missing=True)
    # newest-first early exit (select_archives orders by end_ts DESC).
    # Each batch's matches are localCheckpoint-materialized (tiny: matching
    # rows only, GC-released) so the per-batch limit check and the final
    # collect never re-execute earlier batches' searches — without it the
    # loop is quadratic in batches when matches are rare.
    out: DataFrame | None = None
    n_rows = 0
    batch = 8
    for i in range(0, len(json_archives), batch):
        parts = _plans(json_archives[i:i + batch])
        grown = _tree_union(parts, allow_missing=True).localCheckpoint(
            eager=True
        )
        got = grown.count()
        if n_rows + got > limit:
            # the final batch overshoots: trim IT, never the union — a
            # trailing limit() over the whole union could displace earlier
            # (newer-archive) rows with this batch's
            grown = grown.limit(limit - n_rows)
            got = limit - n_rows
        n_rows += got
        out = grown if out is None else out.unionByName(
            grown, allowMissingColumns=True
        )
        if n_rows >= limit:
            break
    return out

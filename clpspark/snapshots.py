"""Snapshot-atomic table commits + file-level skipping stats.

SURVEY §1.5 maps CLP's archive metadata database onto an Iceberg-style
table layout. The real Iceberg runtime isn't available in this sandbox, so
this module implements the three properties the mapping actually relies on,
directly over parquet:

1. **Snapshot-atomic multi-table commit** — one pipeline run writes several
   tables (routed fan-out, dictionaries, aggregates). The reference commits
   an archive's metadata to its DB in one transaction as the archive
   completes (job-orchestration compression_task.py:404-489); Iceberg does
   the same with a manifest + atomic pointer swap. Here: a manifest JSON
   listing the EXACT data files of every table in the snapshot, published
   with write-to-temp + ``os.replace`` of a tiny pointer file. Readers that
   go through :meth:`SnapshotStore.read_table` see either the old snapshot
   or the new one, never a half-published commit. Caveat (single-writer
   contract): this guards the PUBLISH step; it does not make old versions
   immortal under writers that rewrite table files in place — Spark's
   ``mode=overwrite`` deletes the files older manifests point to, so
   time travel and long-lived readers require append-only/fresh-named
   writes per run (true Iceberg keeps unique file names for this reason).
   The pipeline re-publishes a fresh snapshot whenever any stage re-ran.

2. **File-level min/max stats** — per data file of the routed table:
   ``n_rows, min_ts, max_ts``. A time-bounded query drops whole files from
   the read plan before Spark even lists/opens their footers — the analog
   of the reference's per-segment timestamp ranges in the metadata DB
   (clp/streaming_archive/writer/Archive.cpp:487-526) and of Iceberg
   manifest-level pruning. Parquet row-group pruning still applies inside
   the surviving files.

3. **Bloom membership on dictionary-variable ids** — parquet keeps no
   useful stats for ids *inside* the ``encoded_vars`` array, so a
   dict-var-constrained grep must otherwise scan every file of a candidate
   sink partition. Per file we store a small Bloom filter (k hash
   positions, m bits) over the dict-var ids it contains; the grep engine
   skips files that provably lack a required variable. False positives
   only — correctness never depends on the filter, exactly like the
   engine's other pre-filters.

One stats builder: :func:`collect_file_stats_and_var_index` computes items 2
and 3 (plus each file's sink and doc_id checksum) in one scan of the route
stage's output; the snapshot commit takes its result as given and never
scans.
Blooms are always ``BLOOM_BITS`` wide — there is no size knob — and each
stats entry records its width, so older manifests still prune.

Scale bound: a per-file stats entry is ~300 bytes (256-byte bloom + ts
bounds), collected to the driver and stored in one manifest JSON. That is
comfortable to ~100k files per table (≈30 MB manifest); beyond it, shard
the manifest into per-partition manifest files and prune hierarchically —
exactly why Iceberg has a manifest-list level. The file-count itself is
bounded upstream: the route stage's frequency-aware salting targets
O(sinks + heavy-sink-splits) files, not O(tasks x sinks).

Hash parity note: bloom positions are computed with Spark's ``xxhash64``
(salted with a literal seed column). Probe-side positions are computed by
the SAME Spark expression over the candidate ids, projected over an inline
``VALUES`` table: the optimizer folds that local relation on the driver, so
the probe runs no Spark job, and build and probe agree by construction — no
Python reimplementation of Spark's hash to drift out of sync (and no py4j
call into ``XXH64``, whose static overloads py4j resolves unreliably).
"""

from __future__ import annotations

import json
import os
import time
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Bloom sizing: m=2048 bits / k=2 keeps the per-file overhead at 256 bytes
# and the false-positive rate under ~6% at 250 distinct dict vars per file
# ((1-e^(-kn/m))^k). Files at real scale hold more rows but not many more
# DISTINCT dict vars per sink (a sink is one logtype family); bump
# BLOOM_BITS if vocabulary-per-file grows.
BLOOM_BITS = 2048
BLOOM_SEEDS = (101, 202)

_DICT_VAR_IDS = "transform(dict_slots, s -> encoded_vars[s])"


def _rel(file_uri: str, root: str) -> str:
    # inputFiles() and input_file_name() return PERCENT-ENCODED URIs
    p = unquote(urlparse(file_uri).path) if file_uri.startswith("file:") \
        else file_uri
    root = os.path.abspath(root)
    return os.path.relpath(p, root)


def _spark_hidden(name: str) -> bool:
    """Spark's file-index filter (HadoopFSUtils.shouldFilterOutPathName):
    ``_``/``.`` prefixes are hidden, except ``k=v`` partition dirs and the
    parquet summary files; in-flight ``._COPYING_`` uploads are too."""
    exclude = ((name.startswith("_") and "=" not in name)
               or name.startswith(".") or name.endswith("._COPYING_"))
    return exclude and not name.startswith(("_common_metadata", "_metadata"))


def list_table_files(path: str) -> list[str]:
    """The data files ``spark.read.parquet(path)`` would scan, listed on the
    driver: the same set as its ``inputFiles()`` (URI-decoded) without the
    schema-inference job — and without the distributed listing job Spark
    launches past 32 partition dirs."""
    out = []
    for d, subdirs, files in os.walk(os.path.abspath(path)):
        subdirs[:] = [x for x in subdirs if not _spark_hidden(x)]
        out.extend(os.path.join(d, f) for f in files if not _spark_hidden(f))
    return sorted(out)


def collect_file_stats_and_var_index(routed: DataFrame, root: str):
    """Fused post-route metadata pass — the ONLY code that derives metadata
    from a routed fan-out. Every other consumer (the route audit,
    agg_sink_counts, the snapshot manifest, catalog registration) reads
    the returned stats instead of scanning again.

    ONE scan and one aggregation by file, over the events exploded to
    their dict-var ids (an event without one keeps a single row): per-file
    row count, ts bounds, owning sink and doc_id checksum count each event
    once (its first exploded row), and the bloom positions are a
    ``collect_set`` over the ids — at most ``BLOOM_BITS`` values per file,
    whatever the file's rows. No (file, var_id) pair table is built, so
    nothing is checkpointed.

    Returns (stats, var_index_df): the stats are collected; var_index_df
    (``route.build_var_index``) is lazy, for the caller to write alongside
    its other post-route tables.
    """
    from clpspark.operators.route import build_var_index

    ev = routed.select(
        F.input_file_name().alias("file"), "ts", "logtype_id", "doc_id",
        F.posexplode_outer(F.expr(_DICT_VAR_IDS)).alias("pos", "var_id"),
    )
    first = F.coalesce(F.col("pos") == 0, F.lit(True))
    # guard the nulls of var-less events: xxhash64(NULL, seed) is not NULL
    pos_cols = [
        F.collect_set(F.when(
            F.col("var_id").isNotNull(),
            F.pmod(F.xxhash64(F.col("var_id"), F.lit(seed)),
                   F.lit(BLOOM_BITS)),
        )).alias(f"s{j}")
        for j, seed in enumerate(BLOOM_SEEDS)
    ]
    rows = ev.groupBy("file").agg(
        F.count(F.when(first, 1)).alias("n_rows"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.first("logtype_id").alias("logtype_id"),
        F.bit_xor(F.when(first, F.xxhash64("doc_id"))).alias("checksum"),
        *pos_cols,
    ).collect()
    stats = []
    for r in rows:
        bits = bytearray(BLOOM_BITS // 8)
        for j in range(len(BLOOM_SEEDS)):
            for p in r[f"s{j}"]:
                bits[p // 8] |= 1 << (p % 8)
        stats.append(
            {
                "file": _rel(r["file"], root),
                "n_rows": r["n_rows"],
                "min_ts": r["min_ts"],
                "max_ts": r["max_ts"],
                "bloom_bits": BLOOM_BITS,
                "bloom": bytes(bits).hex(),
                "logtype_id": r["logtype_id"],
                "checksum": r["checksum"],
            }
        )
    stats.sort(key=lambda d: d["file"])
    return stats, build_var_index(routed)


def sink_audit_from_stats(stats: list[dict]) -> list[dict]:
    """Per-sink audit rows (count + order-insensitive doc_id checksum)
    rolled up from per-file stats — XOR of group XORs equals the XOR over
    all rows, so this matches a direct per-sink aggregation bit for bit."""
    agg: dict[int, dict] = {}
    for s in stats:
        a = agg.setdefault(s["logtype_id"], {"n_rows": 0, "checksum": 0})
        a["n_rows"] += s["n_rows"]
        if s.get("checksum") is not None:
            a["checksum"] ^= s["checksum"]
    return [
        {"logtype_id": k, "n_rows": v["n_rows"], "checksum": str(v["checksum"])}
        for k, v in sorted(agg.items())
    ]


def probe_positions(
    spark: SparkSession, var_ids: list[int], bloom_bits: int
) -> dict[int, list[int]]:
    """Bloom bit positions for candidate var ids — computed with the SAME
    Spark xxhash64 expression as the build side (hash parity by
    construction). A projection over an inline ``VALUES`` table is a local
    relation the optimizer folds on the driver: no Spark job."""
    if not var_ids:
        return {}
    cols = ", ".join(
        f"pmod(xxhash64(v, {seed}), {bloom_bits}) AS p{j}"
        for j, seed in enumerate(BLOOM_SEEDS)
    )
    rows = ", ".join(f"(CAST({int(v)} AS BIGINT))" for v in var_ids)
    return {
        r["v"]: [r[f"p{j}"] for j in range(len(BLOOM_SEEDS))]
        for r in spark.sql(
            f"SELECT v, {cols} FROM VALUES {rows} AS t(v)"
        ).collect()
    }


def _bloom_may_contain(bloom_hex: str, positions: list[int]) -> bool:
    if not bloom_hex:
        return False  # file provably holds no dict vars at all
    bits = bytes.fromhex(bloom_hex)
    return all(bits[p // 8] & (1 << (p % 8)) for p in positions)


def prune_files(
    spark: SparkSession,
    stats: list[dict],
    tge: int | None = None,
    tle: int | None = None,
    dict_hits: list[list[int]] | None = None,
    pos_cache: dict[int, list[int]] | None = None,
) -> list[dict]:
    """Manifest-level file skipping: keep a file only if its ts range
    intersects [tge, tle] AND, for EVERY query variable, at least one of
    its acceptable dict ids passes the file's bloom filter. ``pos_cache``
    (var_id -> bit positions) is consulted and filled in place, so repeated
    searches over one engine skip the probe job for already-seen ids."""
    keep = []
    for s in stats:
        if tge is not None and s["max_ts"] is not None and s["max_ts"] < tge:
            continue
        if tle is not None and s["min_ts"] is not None and s["min_ts"] > tle:
            continue
        keep.append(s)
    if dict_hits:
        pos = pos_cache if pos_cache is not None else {}
        bloom_bits = stats[0]["bloom_bits"] if stats else BLOOM_BITS
        missing = sorted({i for ids in dict_hits for i in ids} - pos.keys())
        if missing:
            pos.update(probe_positions(spark, missing, bloom_bits))
        keep = [
            s
            for s in keep
            if all(
                any(_bloom_may_contain(s["bloom"], pos[i]) for i in ids)
                for ids in dict_hits
            )
        ]
    return keep


class SnapshotStore:
    """Manifest-pointer snapshot log under ``<root>/_snapshots/``.

    ``v<NNNNN>.json`` manifests are immutable; ``_current`` holds the live
    version and is swapped atomically (``os.replace``). ``commit`` of any
    number of tables is therefore all-or-nothing — the Iceberg commit
    protocol, minus the catalog server.
    """

    def __init__(self, root: str):
        # construction is side-effect free: read-only query paths build
        # stores speculatively (catalog search, from_work_dir probes) and
        # must work against read-only storage; commit() creates the dir
        self.root = os.path.abspath(root)
        self.dir = os.path.join(self.root, "_snapshots")

    # ------------------------------------------------------------- writing
    def _next_version(self) -> int:
        if not os.path.isdir(self.dir):
            return 1
        vs = [
            int(f[1:6])
            for f in os.listdir(self.dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return (max(vs) + 1) if vs else 1

    def table_files(self, path: str) -> list[str]:
        """Data files of the table at ``path``, relative to the store root,
        listed without Spark."""
        return sorted(_rel(f, self.root) for f in list_table_files(path))

    def commit(self, tables: dict[str, dict]) -> int:
        """Atomically publish a snapshot. ``tables`` maps table name ->
        {"files": [rel paths], optional "stats": [per-file dicts],
        optional "base": rel dir for partition-column recovery}."""
        os.makedirs(self.dir, exist_ok=True)
        v = self._next_version()
        manifest = {
            "version": v,
            "committed_at": time.time(),
            "tables": tables,
        }
        mpath = os.path.join(self.dir, f"v{v:05d}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        ptmp = os.path.join(self.dir, "_current.tmp")
        with open(ptmp, "w") as f:
            f.write(str(v))
        os.replace(ptmp, os.path.join(self.dir, "_current"))  # THE commit
        return v

    # ------------------------------------------------------------- reading
    def current_version(self) -> int | None:
        p = os.path.join(self.dir, "_current")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        with open(os.path.join(self.dir, f"v{v:05d}.json")) as f:
            return json.load(f)

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        files: list[str] | None = None,
        version: int | None = None,
        schema=None,
    ) -> DataFrame:
        """Read EXACTLY the snapshot's files (or a pruned subset of them).
        ``basePath`` keeps directory-derived partition columns (logtype_id)
        alive even when single files are addressed directly. ``schema``
        (DDL string or StructType, incl. any partition column) skips the
        schema-inference job of a plain parquet read."""
        m = self.manifest(version)
        if m is None or name not in m["tables"]:
            raise KeyError(f"no snapshot table: {name}")
        t = m["tables"][name]
        rel = files if files is not None else t["files"]
        reader = spark.read.option(
            "basePath", os.path.join(self.root, t.get("base", "")))
        if schema is not None:
            reader = reader.schema(schema)
        if not rel:
            # empty prune: preserve schema from the full table
            return reader.parquet(
                *[os.path.join(self.root, f) for f in t["files"]]
            ).where(F.lit(False))
        return reader.parquet(*[os.path.join(self.root, f) for f in rel])

    def stats(self, name: str, version: int | None = None) -> list[dict]:
        m = self.manifest(version)
        if m is None or name not in m["tables"]:
            return []
        return m["tables"][name].get("stats", [])


def snapshot_pipeline_tables(work_dir: str, routed_stats: list[dict],
                             routed_base: str = "routed",
                             dict_dir: str = "") -> int:
    """Commit every pipeline output table of ``work_dir`` as ONE snapshot
    (the multi-table transactional commit the reference gets from its
    metadata DB). Routed gets the route stage's per-file skipping stats
    (collect_file_stats_and_var_index), whose file list also stands in for
    the routed directory listing; the other tables are listed on the
    driver. ``routed_base`` (the routed table's root) and ``dict_dir`` (the
    directory of the dictionaries and the var index) are relative to
    ``work_dir``: a split run's generation lives under routed_archives/
    and shared_dicts/."""
    store = SnapshotStore(work_dir)
    tables: dict[str, dict] = {
        "routed": {
            "files": sorted(s["file"] for s in routed_stats),
            "base": routed_base,
            "stats": routed_stats,
        },
    }
    dict_tables = ("logtype_dict", "var_dict", "var_index")
    for name in (*dict_tables, "agg_sink_counts", "agg_source_stats",
                 "agg_by_time"):
        base = os.path.join(dict_dir, name) if name in dict_tables else name
        path = os.path.join(work_dir, base)
        if os.path.exists(path):
            tables[name] = {"files": store.table_files(path), "base": base}
    return store.commit(tables)

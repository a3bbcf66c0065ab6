"""Snapshot store: atomic multi-table commit, file-level min/max + bloom
skipping, and grep-result equality between snapshot-pruned and plain scans."""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import functions as F

from clpspark.lineage import LineageLog
from clpspark.pipeline import PipelineConfig, run_pipeline
from clpspark.plans.grep import GrepEngine
from clpspark.snapshots import (
    SnapshotStore,
    collect_file_stats_and_var_index,
    probe_positions,
    prune_files,
    snapshot_pipeline_tables,
)


@pytest.fixture(scope="module")
def snap_work(spark, small_corpus, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("snapwork"))
    cfg = PipelineConfig(input_path=small_corpus, work_dir=work)
    run_pipeline(spark, cfg)
    return work


def test_pipeline_commits_snapshot(spark, snap_work):
    store = SnapshotStore(snap_work)
    m = store.manifest()
    assert m is not None and m["version"] == 1
    for name in ("routed", "logtype_dict", "var_dict", "var_index",
                 "agg_sink_counts", "agg_source_stats", "agg_by_time"):
        assert name in m["tables"], name
        assert m["tables"][name]["files"]
    stats = store.stats("routed")
    assert stats
    total = spark.read.parquet(f"{snap_work}/routed").count()
    assert sum(s["n_rows"] for s in stats) == total


def test_atomic_multi_table_commit(spark, tmp_path):
    """Readers see the old snapshot until the pointer swap, then both
    tables flip TOGETHER — never one new + one old."""
    root = str(tmp_path / "store")
    a1 = spark.range(10).withColumnRenamed("id", "x")
    b1 = spark.range(20).withColumnRenamed("id", "y")
    a1.write.parquet(f"{root}/a")
    b1.write.parquet(f"{root}/b")
    store = SnapshotStore(root)
    v1 = store.commit({
        "a": {"files": store.table_files(f"{root}/a"),
              "base": "a"},
        "b": {"files": store.table_files(f"{root}/b"),
              "base": "b"},
    })
    assert v1 == 1
    # a writer appends NEW files (snapshot contract: never overwrite in
    # place) but crashes before committing the manifest pointer
    spark.range(100, 105).withColumnRenamed("id", "x").write.mode(
        "append"
    ).parquet(f"{root}/a")
    spark.range(200, 215).withColumnRenamed("id", "y").write.mode(
        "append"
    ).parquet(f"{root}/b")
    assert store.read_table(spark, "a").count() == 10  # still v1
    assert store.read_table(spark, "b").count() == 20
    # now the commit lands: both tables advance in one pointer swap
    v2 = store.commit({
        "a": {"files": store.table_files(f"{root}/a"),
              "base": "a"},
        "b": {"files": store.table_files(f"{root}/b"),
              "base": "b"},
    })
    assert v2 == 2 and store.current_version() == 2
    assert store.read_table(spark, "a").count() == 15
    assert store.read_table(spark, "b").count() == 35
    # time travel: the old version stays addressable
    assert store.read_table(spark, "a", version=1).count() == 10


def test_file_stats_no_false_negatives(spark, snap_work):
    """Every (file, dict var id) actually present MUST pass that file's
    bloom — pre-filters may admit extras, never drop a match."""
    routed = spark.read.parquet(f"{snap_work}/routed")
    stats, _ = collect_file_stats_and_var_index(routed, snap_work)
    by_file = {s["file"]: s for s in stats}
    truth = (
        routed.select(
            F.input_file_name().alias("file"),
            F.explode(
                F.expr("transform(dict_slots, s -> encoded_vars[s])")
            ).alias("v"),
        )
        .distinct()
        .collect()
    )
    ids = sorted({r["v"] for r in truth})
    pos = probe_positions(spark, ids, stats[0]["bloom_bits"])
    import clpspark.snapshots as S

    root = os.path.abspath(snap_work)
    misses = 0
    for r in truth:
        rel = os.path.relpath(r["file"][7:], root)
        assert S._bloom_may_contain(by_file[rel]["bloom"], pos[r["v"]]), (
            rel, r["v"])
    assert misses == 0


def test_probe_positions_match_build_expression(spark):
    """probe_positions (a driver-folded VALUES projection) equals the
    build side's pmod(xxhash64(id, seed), bits) over a DataFrame column,
    for negative ids and ids at and past 2^31 and 2^40."""
    from clpspark.snapshots import BLOOM_SEEDS

    ids = [0, 1, -1, -2, -(2**63), 2**31 - 1, 2**31, 2**32 + 5, 2**40,
           2**40 + 123, 2**62, 2**63 - 1]
    bits = 2048
    df = spark.range(1).select(F.explode(F.array(
        *[F.lit(i).cast("bigint") for i in ids])).alias("v"))
    built = {
        r["v"]: [r[f"p{j}"] for j in range(len(BLOOM_SEEDS))]
        for r in df.select("v", *[
            F.pmod(F.xxhash64(F.col("v"), F.lit(seed)), F.lit(bits))
            .alias(f"p{j}") for j, seed in enumerate(BLOOM_SEEDS)
        ]).collect()
    }
    assert probe_positions(spark, ids, bits) == built
    assert len(built) == len(ids)


def test_prune_by_time_and_bloom(spark, snap_work):
    store = SnapshotStore(snap_work)
    stats = store.stats("routed")
    routed = spark.read.parquet(f"{snap_work}/routed")
    lo, hi = routed.agg(F.min("ts"), F.max("ts")).first()
    mid = (lo + hi) // 2
    kept = prune_files(spark, stats, tge=mid)
    assert 0 < len(kept) < len(stats)
    # pruned read covers exactly the rows in range
    sub = store.read_table(spark, "routed", files=[s["file"] for s in kept])
    assert (
        sub.where(F.col("ts") >= mid).count()
        == routed.where(F.col("ts") >= mid).count()
    )
    # a var id that exists nowhere prunes everything (modulo bloom FPs)
    kept2 = prune_files(spark, stats, dict_hits=[[10**12 + 7]])
    assert len(kept2) < len(stats)


def test_grep_snapshot_equals_plain(spark, snap_work):
    plain = GrepEngine(
        spark.read.parquet(f"{snap_work}/routed"),
        spark.read.parquet(f"{snap_work}/logtype_dict"),
        spark.read.parquet(f"{snap_work}/var_dict"),
        var_index=spark.read.parquet(f"{snap_work}/var_index"),
    )
    snap = GrepEngine.from_snapshot(spark, snap_work)
    lo, hi = (
        spark.read.parquet(f"{snap_work}/routed")
        .agg(F.min("ts"), F.max("ts"))
        .first()
    )
    mid = (lo + hi) // 2
    for q, kw in [
        ("* ERROR Connection to * refused after *", {}),
        ("*heartbeat*", {"tge": mid}),
        ("*", {"tge": mid, "tle": mid + (hi - mid) // 2}),
    ]:
        want = {
            (r["doc_id"], r["message"])
            for r in plain.search(q, **kw).select("doc_id", "message").collect()
        }
        got = {
            (r["doc_id"], r["message"])
            for r in snap.search(q, **kw).select("doc_id", "message").collect()
        }
        assert got == want, q
        assert want  # queries chosen to match something
    # the ts-bounded probes actually skipped files
    snap.search("*heartbeat*", tge=mid).count()
    assert snap.last_scan_files is not None
    assert snap.last_scan_files < len(snap._file_stats)


def test_regex_fallback_prunes_files(spark, snap_work):
    """The untranslatable-regex scan path must also go through the
    manifest prune (ts bounds) and agree with the plain engine."""
    plain = GrepEngine(
        spark.read.parquet(f"{snap_work}/routed"),
        spark.read.parquet(f"{snap_work}/logtype_dict"),
        spark.read.parquet(f"{snap_work}/var_dict"),
    )
    snap = GrepEngine.from_snapshot(spark, snap_work)
    lo, hi = (
        spark.read.parquet(f"{snap_work}/routed")
        .agg(F.min("ts"), F.max("ts")).first()
    )
    mid = (lo + hi) // 2
    rx = r"heartbeat seq [0-9]+[02468] ok$"  # backrefs-free but untranslatable
    want = {r["doc_id"] for r in
            plain.search_regex(rx, tge=mid).select("doc_id").collect()}
    got = {r["doc_id"] for r in
           snap.search_regex(rx, tge=mid).select("doc_id").collect()}
    assert got == want and want
    assert snap.last_scan_files is not None
    assert snap.last_scan_files < len(snap._file_stats)


def test_snapshot_stage_resume_skips(spark, small_corpus, tmp_path):
    work = str(tmp_path / "w")
    cfg = PipelineConfig(input_path=small_corpus, work_dir=work)
    run_pipeline(spark, cfg)
    v_before = SnapshotStore(work).current_version()
    run_pipeline(spark, cfg, resume=True)  # all stages skip, incl. snapshot
    assert SnapshotStore(work).current_version() == v_before


def test_stage_rerun_republishes_snapshot(spark, small_corpus, tmp_path):
    """A re-run stage overwrites its parquet files (new random names); the
    snapshot must be re-published or the manifest points at deleted paths."""
    from clpspark.lineage import LineageLog

    work = str(tmp_path / "w")
    cfg = PipelineConfig(input_path=small_corpus, work_dir=work)
    run_pipeline(spark, cfg)
    store = SnapshotStore(work)
    v1 = store.current_version()
    LineageLog(work).invalidate("aggregate")
    run_pipeline(spark, cfg, resume=True)
    assert store.current_version() == v1 + 1
    for name in ("agg_sink_counts", "agg_source_stats", "agg_by_time"):
        store.read_table(spark, name).count()  # files must all exist


def test_fused_pass_matches_standalone(spark, snap_work):
    """The fused stats+index pass must reproduce build_var_index exactly
    and match an independent per-file aggregation of routed/: row count,
    ts bounds, owning sink and the doc_id XOR checksum."""
    from clpspark.operators.route import build_var_index

    routed = spark.read.parquet(f"{snap_work}/routed")
    stats, vi = collect_file_stats_and_var_index(routed, snap_work)
    want_vi = {
        (r["logtype_id"], r["var_id"]) for r in build_var_index(routed).collect()
    }
    got_vi = {(r["logtype_id"], r["var_id"]) for r in vi.collect()}
    assert got_vi == want_vi and want_vi
    root = os.path.abspath(snap_work)
    oracle = {
        os.path.relpath(unquote(urlparse(r["file"]).path), root): r
        for r in routed.groupBy(F.input_file_name().alias("file")).agg(
            F.count("*").alias("n_rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.min("logtype_id").alias("logtype_id"),
            F.max("logtype_id").alias("max_lid"),
            F.expr("bit_xor(xxhash64(doc_id))").alias("checksum"),
        ).collect()
    }
    assert set(oracle) == {s["file"] for s in stats}
    for s in stats:
        o = oracle[s["file"]]
        assert o["logtype_id"] == o["max_lid"]  # one file, one sink
        for k in ("n_rows", "min_ts", "max_ts", "logtype_id", "checksum"):
            assert s[k] == o[k], (s["file"], k)


def test_snapshot_helper_reruns_bump_version(spark, snap_work):
    store = SnapshotStore(snap_work)
    v = store.current_version()
    stats = store.stats("routed")
    v2 = snapshot_pipeline_tables(snap_work, stats)
    assert v2 == v + 1
    assert store.manifest(v2)["tables"]["routed"]["stats"] == stats


def _sink_stats(stats: list[dict]) -> list[tuple]:
    """Per-file stats without the file's random part name."""
    return sorted(
        (os.path.dirname(s["file"]),
         *(s[k] for k in ("n_rows", "min_ts", "max_ts", "logtype_id",
                          "checksum", "bloom_bits", "bloom")))
        for s in stats
    )


def test_resume_without_stats_sidecar_reruns_route(spark, small_corpus,
                                                   tmp_path):
    """The stats sidecar is a declared output of the route stage: a resume
    that finds it missing, or written under another route fingerprint,
    reruns route and publishes the same routed stats as the fresh run —
    the snapshot stage never scans routed/ itself."""
    work = str(tmp_path / "w")
    cfg = PipelineConfig(input_path=small_corpus, work_dir=work)
    sidecar = os.path.join(work, "_routed_file_stats.json")
    run_pipeline(spark, cfg)
    store = SnapshotStore(work)
    fresh = _sink_stats(store.stats("routed"))
    fresh_audit = LineageLog(work).metrics("route")["sinks"]
    assert fresh

    def route_commit() -> float:
        return LineageLog(work)._load()["stages"]["route"]["committed_at"]

    for damage in ("delete", "stale"):
        before, v = route_commit(), store.current_version()
        if damage == "delete":
            os.remove(sidecar)
        else:
            with open(sidecar) as f:
                d = json.load(f)
            with open(sidecar, "w") as f:
                json.dump({**d, "route_fp": "0" * 16}, f)
        m = run_pipeline(spark, cfg, resume=True)
        assert route_commit() > before, damage
        assert store.current_version() == v + 1, damage
        assert _sink_stats(store.stats("routed")) == fresh, damage
        assert m["route"]["sinks"] == fresh_audit, damage
        with open(sidecar) as f:
            assert json.load(f)["route_fp"] == cfg.fp("route")

"""Fixed per-run Spark work of run_pipeline and run_split_pipeline: the
job budget of a small batch and of a split run, the driver-side table
listing behind the snapshot commit, resume from committed dictionary stats,
work dirs whose paths need percent-encoding in Spark's file URIs, and who
owns each job: every job of a run belongs to its stage's
``clpspark:<stage>`` group, stage times account for the run's wall, and
``run_jobs`` labels, groups and cancels its jobs."""

from __future__ import annotations

import json
import os
import shutil
import time
from urllib.parse import unquote, urlparse

import pytest

from clpspark.lineage import LineageLog
from clpspark.operators.util import job_group, run_jobs
from clpspark.pipeline import PipelineConfig, run_pipeline
from clpspark.snapshots import list_table_files

TABLES = ("routed", "logtype_dict", "var_dict", "var_index",
          "agg_sink_counts", "agg_source_stats", "agg_by_time")
STAGES = ("parse", "dicts", "route", "aggregate", "snapshot")


def _marker_job_id(sc, group: str) -> int:
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setJobGroup("", "")
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_small_two_pass_batch_job_budget(spark, small_corpus, tmp_path):
    """A warm 20k-row two-pass batch launches at most 25 Spark jobs: both
    dictionaries built on the driver (a count and a collect each, one
    write), no schema inference over the spill, the dictionaries or
    routed/, no dictionary counts, no enrich-gate collect or salting stats
    jobs, one read of routed/ and one scan of it for the per-file stats,
    and no Spark reads behind the snapshot's file lists."""
    from clpspark.corpus import write_corpus

    src = str(tmp_path / "corpus")
    write_corpus(spark, src, n_rows=20_000, seed=7, partitions=1)
    run_pipeline(spark, PipelineConfig(
        input_path=small_corpus, work_dir=str(tmp_path / "warm"),
        materialize_parsed=False), resume=False)
    sc = spark.sparkContext
    before = _marker_job_id(sc, "fixed-jobs-before")
    run_pipeline(spark, PipelineConfig(
        input_path=src, work_dir=str(tmp_path / "w"), vocab_seed=7,
        materialize_parsed=False), resume=False)
    after = _marker_job_id(sc, "fixed-jobs-after")
    assert after - before - 1 <= 25


@pytest.fixture(scope="module")
def spaced_work(spark, small_corpus, tmp_path_factory):
    """Two-pass pipeline output in a work dir whose path holds a space."""
    work = str(tmp_path_factory.mktemp("fixed") / "sp ace" / "work")
    run_pipeline(spark, PipelineConfig(input_path=small_corpus,
                                       work_dir=work,
                                       materialize_parsed=False))
    return work


def test_listing_matches_spark_input_files(spark, spaced_work, tmp_path):
    """list_table_files equals the URI-decoded inputFiles() of every
    pipeline table, including routed/'s partition dirs, _SUCCESS and .crc
    files, and the hidden/in-flight names Spark's file index skips."""
    work = str(tmp_path / "copy")
    shutil.copytree(spaced_work, work)
    routed = os.path.join(work, "routed")
    sink = next(d for d in sorted(os.listdir(routed)) if "=" in d)
    part = next(f for f in os.listdir(os.path.join(routed, sink))
                if f.endswith(".parquet"))
    os.makedirs(os.path.join(routed, "_temporary", "0"))
    shutil.copy(os.path.join(routed, sink, part),
                os.path.join(routed, "_temporary", "0", part))
    shutil.copy(os.path.join(routed, sink, part),
                os.path.join(routed, sink, part + "._COPYING_"))
    open(os.path.join(routed, sink, ".hidden.parquet"), "w").close()
    names = {f for _r, _d, fs in os.walk(routed) for f in fs}
    assert "_SUCCESS" in names and any(f.endswith(".crc") for f in names)

    for t in TABLES:
        path = os.path.join(work, t)
        spark_files = sorted(unquote(urlparse(f).path)
                             for f in spark.read.parquet(path).inputFiles())
        assert list_table_files(path) == spark_files, t


def test_spaced_work_dir_manifest_and_search(spark, spaced_work):
    """The snapshot manifest stores real (decoded) relative paths, so the
    snapshot-backed engine finds its files: pruned and unpruned counts of
    the same queries agree."""
    from clpspark.plans.grep import GrepEngine
    from clpspark.snapshots import SnapshotStore

    tables = SnapshotStore(spaced_work).manifest()["tables"]
    for t in TABLES:
        for f in tables[t]["files"]:
            assert "%" not in f and not f.startswith("..")
            assert os.path.isfile(os.path.join(spaced_work, f)), f
    eng = GrepEngine.from_work_dir(spark, spaced_work)
    vd = spark.read.parquet(os.path.join(spaced_work, "var_dict"))
    var = next(r["var_str"] for r in vd.orderBy("var_id").collect()
               if not any(c in r["var_str"] for c in "*?\\"))
    for q in ("*", f"* {var} *", "* zzz_unknown_var *"):
        assert (eng.search(q).count()
                == eng.search(q, prefilter=False).count()), q
    assert eng.search("*").count() == 1000


def _jobs(sc, label: str, fn):
    """(Spark jobs launched by ``fn()``, its result), from the job-id delta
    between marker jobs."""
    before = _marker_job_id(sc, f"{label}-before")
    out = fn()
    return _marker_job_id(sc, f"{label}-after") - before - 1, out


def test_grep_warm_job_budget(spark, spaced_work):
    """A warm engine answers every plan-time question on the driver: the
    open runs no dictionary inference job, search() of a present-dict
    needle launches no job, and a needle or haystack count launches at
    most 2 (the scan and its aggregate)."""
    from clpspark.plans.grep import GrepEngine

    sc = spark.sparkContext
    vd = spark.read.parquet(os.path.join(spaced_work, "var_dict"))
    var = next(r["var_str"] for r in vd.orderBy("var_id").collect()
               if len(r["var_str"]) > 4
               and not any(c in r["var_str"] for c in "*?\\"))
    needle, haystack = f"* {var} *", f"*{var[1:4]}*"
    open_jobs, eng = _jobs(sc, "grep-open", lambda: GrepEngine.from_snapshot(
        spark, spaced_work))
    assert open_jobs <= 2  # routed: schema inference (+ listing)
    expected = {q: eng.search(q, prefilter=False).count()
                for q in (needle, haystack)}
    assert expected[needle] > 0
    for q in (needle, haystack):  # first sight resolves the engine state
        assert eng.search(q).count() == expected[q], q
    assert eng._dicts.mode == "map"
    plan_jobs, df = _jobs(sc, "grep-plan", lambda: eng.search(needle))
    assert plan_jobs == 0
    for q in (needle, haystack):
        n_jobs, n = _jobs(sc, "grep-count", lambda: eng.search(q).count())
        assert n == expected[q] and n_jobs <= 2, (q, n_jobs)


def test_topk_windowed_bounds_fold_from_manifest(spark, spaced_work):
    """A snapshot-backed engine reads the table's ts range for
    topk_latest_windowed from the manifest: a window covering the range
    plans with no job at all, and both window sizes return topk_latest's
    rows."""
    from clpspark.plans.grep import GrepEngine

    sc = spark.sparkContext
    eng = GrepEngine.from_snapshot(spark, spaced_work)
    q = "* INFO Task * completed in * ms"
    eng.search(q).count()  # first sight resolves the engine state
    n_jobs, df = _jobs(sc, "topk-fold", lambda: eng.topk_latest_windowed(
        q, 5, window_ms=1 << 50))
    assert n_jobs == 0
    want = [r["doc_id"] for r in eng.topk_latest(q, 5).collect()]
    assert [r["doc_id"] for r in df.collect()] == want
    assert [r["doc_id"] for r in eng.topk_latest_windowed(
        q, 5, window_ms=60_000).collect()] == want


def test_catalog_register_jobs(spark, tmp_path):
    """Registering into a non-empty catalog writes the row and its tags and
    runs nothing else: no scan of the archives table, no Python-worker
    job. A repeat registration runs no job and adds no row."""
    from clpspark.catalog import register_archive, select_archives

    sc = spark.sparkContext
    cat = str(tmp_path / "catalog")
    register_archive(spark, cat, "a0", "/p0", 1, 2, 10, tags=["x"])
    n_jobs, _ = _jobs(sc, "catalog-second", lambda: register_archive(
        spark, cat, "a1", "/p1", None, 5, 20, tags=["x", "y"],
        dict_path="/d", dataset=None))
    assert n_jobs == 2  # the row write and the tags write
    n_jobs, _ = _jobs(sc, "catalog-repeat", lambda: register_archive(
        spark, cat, "a1", "/p1", None, 5, 20, tags=["x", "y"]))
    assert n_jobs == 0
    assert select_archives(spark, cat) == [("a1", "/p1", "/d"),
                                           ("a0", "/p0", None)]
    assert [r["archive_id"] for r in spark.read.parquet(
        os.path.join(cat, "archives")).where("begin_ts IS NULL").collect()
    ] == ["a1"]
    assert select_archives(spark, cat, tags=["y"]) == [("a1", "/p1", "/d")]


def _outputs(spark, work: str) -> dict:
    """Routed rows + per-sink file sizes, aggregate rows, route audit."""
    out = {}
    routed = spark.read.parquet(os.path.join(work, "routed"))
    out["routed"] = sorted(
        (r["doc_id"], r["logtype_id"], list(r["encoded_vars"]))
        for r in routed.select("doc_id", "logtype_id", "encoded_vars")
        .collect())
    out["files"] = sorted(
        (os.path.basename(d), os.path.getsize(os.path.join(d, f)))
        for d, _s, fs in os.walk(os.path.join(work, "routed"))
        for f in fs if f.endswith(".parquet"))
    for t in ("agg_sink_counts", "agg_source_stats", "agg_by_time"):
        out[t] = sorted(map(tuple, spark.read.parquet(
            os.path.join(work, t)).collect()))
    out["sinks"] = LineageLog(work).metrics("route")["sinks"]
    return out


@pytest.mark.parametrize("drop_dict_stats", [False, True])
def test_resume_after_dicts_equals_fresh_run(spark, small_corpus, tmp_path,
                                             drop_dict_stats):
    """Crash after the dicts commit, before route: the resumed run reads
    the dictionary stats from lineage and matches a fresh run. A dicts
    entry without the stats (older work dir) is rebuilt, not trusted."""
    def cfg(name):
        return PipelineConfig(input_path=small_corpus,
                              work_dir=str(tmp_path / name),
                              materialize_parsed=False)

    run_pipeline(spark, cfg("fresh"), resume=False)
    c = cfg("resumed")
    run_pipeline(spark, c, resume=False)
    log = LineageLog(c.work_dir)
    dicts_at = json.load(open(log.path))["stages"]["dicts"]["committed_at"]
    for stage in ("route", "aggregate", "snapshot"):
        log.invalidate(stage)
    shutil.rmtree(c.path("routed"))
    if drop_dict_stats:
        data = json.load(open(log.path))
        data["stages"]["dicts"]["metrics"] = {"n_logtypes": 1, "sec": 0.0}
        with open(log.path, "w") as f:
            json.dump(data, f)

    run_pipeline(spark, c, resume=True)
    entry = json.load(open(log.path))["stages"]["dicts"]
    assert (entry["committed_at"] != dicts_at) == drop_dict_stats
    assert {"n_logtypes", "n_rows", "n_vars", "var_bytes"} <= set(
        entry["metrics"])
    assert _outputs(spark, c.work_dir) == _outputs(
        spark, str(tmp_path / "fresh"))


@pytest.mark.parametrize("rerun_from,removed", [
    ("dicts", ("logtype_dict", "var_dict")), ("route", ("routed",))])
def test_two_pass_partial_resume_equals_fresh_run(
        spark, small_corpus, spaced_work, tmp_path, rerun_from, removed):
    """A two-pass resume that reruns from the dicts or the route stage
    parses once more, to the spill, and its outputs equal a fresh run's;
    no spill is left behind."""
    c = PipelineConfig(input_path=small_corpus, work_dir=str(tmp_path / "w"),
                       materialize_parsed=False)
    run_pipeline(spark, c, resume=False)
    log = LineageLog(c.work_dir)
    parse_at = json.load(open(log.path))["stages"]["parse"]["committed_at"]
    stages = ("dicts", "route", "aggregate", "snapshot")
    for stage in stages[stages.index(rerun_from):]:
        log.invalidate(stage)
    for t in removed:
        shutil.rmtree(c.path(t))

    run_pipeline(spark, c, resume=True)
    assert json.load(open(log.path))["stages"]["parse"][
        "committed_at"] != parse_at
    assert set(log.job_status().values()) == {"done"}
    assert not os.path.exists(c.path("_parsed_twopass"))
    assert _outputs(spark, c.work_dir) == _outputs(spark, spaced_work)


def test_dict_stats_match_tables(spark, spaced_work):
    """The committed dictionary stats equal the written tables, whose
    schemas are the declared dictionary and var-index schemas."""
    from pyspark.sql import functions as F

    from clpspark.operators.enrich import LOGTYPE_DICT_SCHEMA, VAR_DICT_SCHEMA
    from clpspark.operators.route import VAR_INDEX_SCHEMA

    m = LineageLog(spaced_work).metrics("dicts")
    for t, ddl in (("logtype_dict", LOGTYPE_DICT_SCHEMA),
                   ("var_dict", VAR_DICT_SCHEMA),
                   ("var_index", VAR_INDEX_SCHEMA)):
        path = os.path.join(spaced_work, t)
        assert (spark.read.parquet(path).schema.simpleString()
                == spark.read.schema(ddl).parquet(path).schema.simpleString())
    lt = spark.read.parquet(os.path.join(spaced_work, "logtype_dict"))
    got = lt.agg(F.count("*"), F.sum("n_rows")).first()
    assert (m["n_logtypes"], m["n_rows"]) == (got[0], got[1]) == (got[0], 1000)
    vd = spark.read.parquet(os.path.join(spaced_work, "var_dict"))
    got = vd.agg(F.count("*"), F.sum(F.length("var_str"))).first()
    assert (m["n_vars"], m["var_bytes"]) == (got[0], got[1])


def test_routed_schema_matches_written(spark, spaced_work):
    """routed/ read back with the declared ``ROUTED_SCHEMA`` has the
    inferred read's columns in the same order and types, except the
    logtype_id partition column, which keeps its written bigint type."""
    from clpspark.pipeline import ROUTED_SCHEMA

    path = os.path.join(spaced_work, "routed")
    inferred = spark.read.parquet(path).schema
    declared = spark.read.schema(ROUTED_SCHEMA).parquet(path).schema
    assert [f.name for f in declared] == [f.name for f in inferred]
    assert ([(f.name, f.dataType.simpleString()) for f in declared]
            == [(f.name, "bigint" if f.name == "logtype_id"
                 else f.dataType.simpleString()) for f in inferred])


def test_enrich_auto_resolves_in_one_job(spark, small_corpus, vocab_meta,
                                         tmp_path):
    """enrich(mode="auto") outside the pipeline gates and builds its
    var-id map with one bounded collect of dictionaries that live in Spark
    (written and read back, as a resumed route stage reads them), and
    matches forced map mode."""
    from clpspark.operators.enrich import (
        LOGTYPE_DICT_SCHEMA,
        VAR_DICT_SCHEMA,
        build_logtype_dict,
        build_var_dict,
        enrich,
    )
    from clpspark.operators.parse import parse_sequences

    parsed = parse_sequences(spark.read.parquet(small_corpus),
                             vocab_meta.vocab).localCheckpoint(eager=True)
    build_logtype_dict(parsed).write.parquet(str(tmp_path / "lt"))
    build_var_dict(parsed).write.parquet(str(tmp_path / "vd"))
    lt = spark.read.schema(LOGTYPE_DICT_SCHEMA).parquet(str(tmp_path / "lt"))
    vd = spark.read.schema(VAR_DICT_SCHEMA).parquet(str(tmp_path / "vd"))
    sc = spark.sparkContext
    before = _marker_job_id(sc, "enrich-auto-before")
    auto = enrich(parsed, lt, vd, mode="auto")
    after = _marker_job_id(sc, "enrich-auto-after")
    assert after - before - 1 == 1
    forced = enrich(parsed, lt, vd, mode="map")
    cols = ["doc_id", "logtype_id", "encoded_vars", "var_ids"]
    assert sorted(map(tuple, auto.select(cols).collect())) == sorted(
        map(tuple, forced.select(cols).collect()))


def _job(sc, job_id: int):
    """The status store's record of a job (description, group, times)."""
    return sc._jsc.sc().statusStore().job(job_id)


def test_run_jobs_label_and_caller_group(spark):
    """Each job runs under the caller's job group with its label as the
    job description; the caller's group is untouched afterwards and the
    results come back by label."""
    sc = spark.sparkContext

    def job(n: int):
        return lambda: sc.parallelize(range(n), 2).count()

    prev = sc.getLocalProperty("spark.jobGroup.id")
    with job_group(spark, "run-jobs-labels", "caller"):
        out = run_jobs(spark, {"two": job(2), "three": job(3)}, max_workers=2)
        assert sc.getLocalProperty("spark.jobGroup.id") == "run-jobs-labels"
    assert out == {"two": 2, "three": 3}
    assert sc.getLocalProperty("spark.jobGroup.id") == prev
    ids = sc.statusTracker().getJobIdsForGroup("run-jobs-labels")
    assert sorted(_job(sc, j).description().get() for j in ids) == [
        "three", "two"]


def test_run_jobs_failure_cancels_running_sibling(spark):
    """The first failure is re-raised, and a sibling job still running
    is cancelled rather than waited for."""
    sc = spark.sparkContext

    def slow():
        return sc.parallelize(range(2), 2).map(
            lambda x: (time.sleep(120), x)[1]).count()

    def fail():
        t = time.time()
        while (not sc.statusTracker().getActiveJobsIds()
               and time.time() - t < 60):
            time.sleep(0.05)
        raise ValueError("boom")

    t0 = time.time()
    with job_group(spark, "run-jobs-cancel", "caller"):
        with pytest.raises(ValueError, match="boom"):
            run_jobs(spark, {"slow": slow, "fail": fail}, max_workers=2)
    assert time.time() - t0 < 60
    (slow_job,) = sc.statusTracker().getJobIdsForGroup("run-jobs-cancel")
    assert sc.statusTracker().getJobInfo(slow_job).status == "FAILED"
    assert _job(sc, slow_job).description().get() == "slow"


@pytest.mark.parametrize("materialize,enrich_mode", [
    (True, "auto"), (False, "map"), (False, "join")])
def test_fresh_run_stages_own_jobs_and_wall(spark, small_corpus, tmp_path,
                                            monkeypatch, materialize,
                                            enrich_mode):
    """A fresh run in each parse mode: stage ``sec`` values sum to at least
    95% of ``total_sec``; every Spark job between two marker jobs belongs
    to a ``clpspark:<stage>`` group; each stage's jobs finish before its
    lineage commit (parse included: the parse parquet is written inside
    the parse stage); the route stage records the enrich path it took
    (the default gates pick map; join is forced by shrinking
    ``decode.AUTO_MAP_MAX_ENTRIES``); the two-pass spill is gone."""
    import clpspark.operators.decode as D

    if enrich_mode == "join":
        monkeypatch.setattr(D, "AUTO_MAP_MAX_ENTRIES", 0)
    sc = spark.sparkContext
    cfg = PipelineConfig(input_path=small_corpus,
                         work_dir=str(tmp_path / "w"),
                         materialize_parsed=materialize)
    before = _marker_job_id(sc, "stages-before")
    m = run_pipeline(spark, cfg, resume=False)
    after = _marker_job_id(sc, "stages-after")

    assert sum(m[s]["sec"] for s in STAGES) >= 0.95 * m["total_sec"]
    owned = {s: set(sc.statusTracker().getJobIdsForGroup(f"clpspark:{s}"))
             for s in STAGES}
    assert set(range(before + 1, after)) <= set().union(*owned.values())
    entries = json.load(open(LineageLog(cfg.work_dir).path))["stages"]
    for s in STAGES:
        if s == "snapshot":
            continue  # the snapshot commit lists files on the driver
        mine = owned[s] & set(range(before + 1, after))
        assert mine, s
        for j in mine:
            info = _job(sc, j)
            assert info.submissionTime().get().getTime() / 1000 >= (
                entries[s]["started_at"] - 1e-3), s
            assert info.completionTime().get().getTime() / 1000 <= (
                entries[s]["committed_at"] + 1e-3), s
    assert m["parse"]["mode"] == ("materialized" if materialize
                                  else "two-pass")
    assert m["route"]["enrich_mode"] == (
        "map" if enrich_mode == "auto" else enrich_mode)
    assert not os.path.exists(cfg.path("_parsed_twopass"))
    assert os.path.exists(cfg.path("parsed")) == materialize


SPLIT_STAGES = ("parse", "split_dicts", "split_route", "snapshot")


def test_warm_split_run_job_budget(spark, small_corpus, tmp_path):
    """A warm 20k-row split run into 4 archives launches at most 23 Spark
    jobs: no parsed-table count, no enrich-gate collect (the dicts stage
    hands its var map over), no salting-total job (the dictionary stats
    come from lineage), the two driver-side dictionary builds of the shared
    dicts stage, one routed write of all four archives (the archive is a
    partition column), and one scan of the generation for its per-file
    stats."""
    from clpspark.corpus import write_corpus
    from clpspark.pipeline import run_split_pipeline

    src = str(tmp_path / "corpus")
    write_corpus(spark, src, n_rows=20_000, seed=7, partitions=1)
    run_split_pipeline(spark, PipelineConfig(
        input_path=small_corpus, work_dir=str(tmp_path / "warm")),
        target_rows_per_archive=250)
    sc = spark.sparkContext
    before = _marker_job_id(sc, "split-jobs-before")
    res = run_split_pipeline(spark, PipelineConfig(
        input_path=src, work_dir=str(tmp_path / "w"), vocab_seed=7),
        target_rows_per_archive=5_000)
    after = _marker_job_id(sc, "split-jobs-after")
    assert res["n_archives"] == 4
    assert after - before - 1 <= 23


@pytest.mark.parametrize("enrich_mode", ["auto", "join"])
def test_split_run_stages_own_jobs_and_wall(spark, small_corpus, tmp_path,
                                            monkeypatch, enrich_mode):
    """run_split_pipeline on the stage runner: stage ``sec`` values sum to
    at least 95% of ``total_sec``; every Spark job between two marker jobs
    belongs to a ``clpspark:<stage>`` group and finishes inside its
    stage's lineage bracket; the split route stage records the enrich path
    it took (join forced by shrinking ``decode.AUTO_MAP_MAX_ENTRIES``)."""
    import clpspark.operators.decode as D
    from clpspark.pipeline import run_split_pipeline

    if enrich_mode == "join":
        monkeypatch.setattr(D, "AUTO_MAP_MAX_ENTRIES", 0)
    sc = spark.sparkContext
    cfg = PipelineConfig(input_path=small_corpus,
                         work_dir=str(tmp_path / "w"))
    before = _marker_job_id(sc, "split-stages-before")
    res = run_split_pipeline(spark, cfg, target_rows_per_archive=300,
                             resume=False)
    after = _marker_job_id(sc, "split-stages-after")

    entries = json.load(open(LineageLog(cfg.work_dir).path))["stages"]
    assert sum(entries[s]["metrics"]["sec"] for s in SPLIT_STAGES) >= (
        0.95 * res["total_sec"])
    owned = {s: set(sc.statusTracker().getJobIdsForGroup(f"clpspark:{s}"))
             for s in SPLIT_STAGES}
    run = set(range(before + 1, after))
    assert run <= set().union(*owned.values())
    for s in SPLIT_STAGES:
        if s == "snapshot":
            continue  # the snapshot commit lists files on the driver
        mine = owned[s] & run
        assert mine, s
        for j in mine:
            info = _job(sc, j)
            assert info.submissionTime().get().getTime() / 1000 >= (
                entries[s]["started_at"] - 1e-3), s
            assert info.completionTime().get().getTime() / 1000 <= (
                entries[s]["committed_at"] + 1e-3), s
    assert entries["split_route"]["metrics"]["enrich_mode"] == (
        "map" if enrich_mode == "auto" else enrich_mode)
    assert res["n_archives"] >= 3

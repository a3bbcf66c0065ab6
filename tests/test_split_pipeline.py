"""Archive splitting (Archive.cpp:343-353 analog) + dictionary-generation-
grouped multi-archive search (sublinear plan growth)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def split_run(spark, small_corpus, tmp_path_factory):
    from clpspark.pipeline import PipelineConfig, run_split_pipeline

    work = str(tmp_path_factory.mktemp("split") / "work")
    catalog = str(tmp_path_factory.mktemp("split") / "catalog")
    cfg = PipelineConfig(
        input_path=small_corpus, work_dir=work, tags=("split", "prod"),
    )
    res = run_split_pipeline(
        spark, cfg, target_rows_per_archive=300, catalog_dir=catalog
    )
    return res, work, catalog


def test_split_produces_multiple_disjoint_archives(spark, split_run):
    res, work, _ = split_run
    assert res["n_archives"] >= 3
    all_docs: list[str] = []
    total = 0
    ranges = []
    for _, path in res["archives"]:
        routed = spark.read.parquet(path)
        docs = [r["doc_id"] for r in routed.select("doc_id").collect()]
        all_docs.extend(docs)
        total += len(docs)
        rng = routed.agg(F.min("ts").alias("b"), F.max("ts").alias("e")).first()
        if rng["b"] is not None:
            ranges.append((rng["b"], rng["e"]))
    assert total == res["rows"] == 1000
    assert len(set(all_docs)) == total  # every event in exactly ONE archive
    # archives are time-contiguous: sorted ranges don't interleave
    ranges.sort()
    for (b1, e1), (b2, _) in zip(ranges, ranges[1:]):
        assert e1 <= b2


def test_split_layout_follows_catalog_cuts(spark, split_run):
    """The routed write lays each archive out at its time cuts: every row
    without a ts lands in archive=0000, every routed file is ts-ordered,
    and each archive=<i>/logtype_id=<j> dir holds exactly the rows of
    logtype j whose ts falls in archive i's (lo, hi] range, the cuts
    recovered from the catalog rows' begin_ts/end_ts."""
    import bisect
    import glob
    import os

    import pyarrow.parquet as pq

    res, work, catalog = split_run
    ids = [aid for aid, _ in res["archives"]]
    cat = {r["archive_id"]: r for r in spark.read.parquet(
        f"{catalog}/archives").where(F.col("archive_id").isin(ids)).collect()}
    # archive i's range is (end_ts[i-1], end_ts[i]]: no row of a later
    # archive reaches back into it
    ends = [cat[aid]["end_ts"] for aid in ids]
    assert all(cat[aid]["begin_ts"] > e for aid, e in zip(ids[1:], ends))
    parsed = spark.read.parquet(f"{work}/parsed").join(
        spark.read.parquet(f"{res['dict_path']}/logtype_dict"), "logtype")
    want = {
        (0 if r["ts"] is None else bisect.bisect_left(ends[:-1], r["ts"]),
         r["logtype_id"], r["doc_id"])
        for r in parsed.select("doc_id", "ts", "logtype_id").collect()
    }
    got = set()
    for f in glob.glob(os.path.join(work, "routed_archives", "archive=*",
                                    "logtype_id=*", "*.parquet")):
        arch, sink = (int(d.split("=")[1]) for d in f.split(os.sep)[-3:-1])
        t = pq.read_table(f, columns=["doc_id", "ts"]).to_pydict()
        ts = [x for x in t["ts"] if x is not None]
        assert ts == sorted(ts), f
        got |= {(arch, sink, d) for d in t["doc_id"]}
    assert got == want and len(got) == 1000
    no_ts = {r["doc_id"] for r in parsed.where(F.col("ts").isNull())
             .select("doc_id").collect()}
    assert no_ts and {a for a, _, d in got if d in no_ts} == {0}


def test_grouped_search_matches_per_archive_union(spark, split_run):
    from clpspark.catalog import search_archives
    from clpspark.plans.grep import GrepEngine

    res, work, catalog = split_run
    query = "* ERROR Connection to * refused after *"
    got = {
        r["doc_id"]
        for r in search_archives(spark, catalog, query, tags=["split"]).collect()
    }
    # reference result: one engine per archive, its own scan
    want: set[str] = set()
    for _, path in res["archives"]:
        eng = GrepEngine(
            spark.read.parquet(path),
            spark.read.parquet(f"{res['dict_path']}/logtype_dict"),
            spark.read.parquet(f"{res['dict_path']}/var_dict"),
        )
        want |= {r["doc_id"] for r in eng.search(query).collect()}
    assert got == want and got


def test_search_plan_count_is_per_generation(spark, split_run, monkeypatch):
    """All split archives share one dictionary generation -> ONE GrepEngine
    plan regardless of archive count (the round-2 O(#archives) fix)."""
    import clpspark.plans.grep as grep_mod
    from clpspark.catalog import search_archives

    res, _, catalog = split_run
    calls = []
    real = grep_mod.GrepEngine

    class Counting(real):
        def __init__(self, *a, **kw):
            calls.append(1)
            super().__init__(*a, **kw)

    monkeypatch.setattr(grep_mod, "GrepEngine", Counting)
    search_archives(spark, catalog, "*").count()
    assert len(calls) == 1
    assert len(res["archives"]) >= 3


def test_legacy_archive_groups_alone(spark, split_run, small_corpus,
                                     tmp_path_factory):
    """A dict_path-less archive (pre-split format) still searches correctly
    alongside generation archives."""
    from clpspark.catalog import register_archive, search_archives
    from clpspark.pipeline import PipelineConfig, run_pipeline

    res, _, catalog = split_run
    legacy_work = str(tmp_path_factory.mktemp("legacy") / "work")
    cfg = PipelineConfig(input_path=small_corpus, work_dir=legacy_work)
    run_pipeline(spark, cfg, resume=False)
    register_archive(
        spark, catalog, archive_id="legacy-1", path=legacy_work,
        begin_ts=None, end_ts=None, n_rows=1000, tags=["legacy"],
    )
    n_legacy = search_archives(spark, catalog, "*", tags=["legacy"]).count()
    assert n_legacy == 1000
    n_all = search_archives(spark, catalog, "*").count()
    assert n_all == 2000  # both generations searched


def test_generation_snapshot_and_subset_file_skipping(spark, split_run):
    """run_split_pipeline commits a generation-level snapshot; catalog
    search over a SUBSET of archives prunes files to that subset only (no
    row leaks from sibling archives, results unchanged)."""
    from clpspark.catalog import register_archive, search_archives
    from clpspark.snapshots import SnapshotStore

    res, work, catalog = split_run
    store = SnapshotStore(work)
    assert store.current_version() is not None
    stats = store.stats("routed")
    assert stats and all("bloom" in s for s in stats)
    # register ONE archive of the generation under a fresh tag
    aid, path = res["archives"][1]
    routed1 = spark.read.parquet(path)
    rng = routed1.agg(F.min("ts").alias("b"), F.max("ts").alias("e"),
                      F.count("*").alias("n")).first()
    register_archive(
        spark, catalog, archive_id=f"{aid}-solo", path=path,
        begin_ts=rng["b"], end_ts=rng["e"], n_rows=rng["n"],
        tags=["solo-slice"], dict_path=res["dict_path"],
    )
    got = search_archives(spark, catalog, "*", tags=["solo-slice"])
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    want = {r["doc_id"] for r in routed1.select("doc_id").collect()}
    assert ids == want  # exactly the selected archive, nothing leaked
    # a grep with constraints over the subset equals per-archive truth
    q = "* ERROR Connection to * refused after *"
    got_q = {
        r["doc_id"]
        for r in search_archives(spark, catalog, q,
                                 tags=["solo-slice"]).collect()
    }
    from clpspark.plans.grep import GrepEngine

    eng = GrepEngine(
        routed1,
        spark.read.parquet(f"{res['dict_path']}/logtype_dict"),
        spark.read.parquet(f"{res['dict_path']}/var_dict"),
    )
    want_q = {r["doc_id"] for r in eng.search(q).select("doc_id").collect()}
    assert got_q == want_q


def test_split_by_encoded_size(spark, small_corpus, tmp_path_factory):
    """--target-encoded-size analog: the row target derives from the run's
    own measured encoded bytes/row, and each archive's on-disk size lands
    near the byte target."""
    import os

    from clpspark.pipeline import PipelineConfig, run_split_pipeline

    work = str(tmp_path_factory.mktemp("splitsz") / "work")
    cfg = PipelineConfig(input_path=small_corpus, work_dir=work)
    # measure one unsplit row first to pick a target that yields >= 3 slices
    res = run_split_pipeline(spark, cfg, target_encoded_bytes=30_000)
    assert res["n_archives"] >= 2
    sizes = []
    for _, path in res["archives"]:
        sizes.append(sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path) for f in fs))
    # at toy scale per-file parquet framing dominates absolute sizes, so
    # assert the property that matters: equal-row slices, no one-giant-
    # plus-crumbs split
    assert max(sizes) < 3 * min(sizes)
    total_rows = sum(
        spark.read.parquet(p).count() for _, p in res["archives"])
    assert total_rows == res["rows"] == 1000

    with pytest.raises(ValueError):
        run_split_pipeline(
            spark,
            PipelineConfig(input_path=small_corpus,
                           work_dir=work + "2"))


def test_split_resume_false_reparses(spark, small_corpus, tmp_path_factory):
    """resume=False rebuilds the parsed table and dictionaries of a work
    dir that already holds another input's."""
    from clpspark.corpus import write_corpus
    from clpspark.pipeline import PipelineConfig, run_split_pipeline

    work = str(tmp_path_factory.mktemp("splitrs") / "work")
    res = run_split_pipeline(
        spark, PipelineConfig(input_path=small_corpus, work_dir=work),
        target_rows_per_archive=600)
    assert res["rows"] == 1000

    other = str(tmp_path_factory.mktemp("splitrs") / "seq2")
    write_corpus(spark, other, n_rows=500, seed=7, partitions=2)
    res2 = run_split_pipeline(
        spark, PipelineConfig(input_path=other, work_dir=work),
        target_rows_per_archive=600, resume=False)
    assert res2["rows"] == 500


def test_split_default_resume_archives_new_input(spark, small_corpus,
                                                tmp_path):
    """Resume follows the lineage fingerprints: a second run into the same
    work dir with another input and the default resume=True archives the
    new input, with no archive of the first run left under the generation
    root; a same-input rerun skips the parse and dictionary stages and
    runs no parse job."""
    import json
    import os

    from clpspark.catalog import search_archives
    from clpspark.corpus import write_corpus
    from clpspark.lineage import LineageLog
    from clpspark.pipeline import PipelineConfig, run_split_pipeline
    from clpspark.snapshots import SnapshotStore

    work = str(tmp_path / "work")
    res = run_split_pipeline(
        spark, PipelineConfig(input_path=small_corpus, work_dir=work),
        target_rows_per_archive=300)
    assert res["rows"] == 1000 and res["n_archives"] >= 3

    other = str(tmp_path / "seq2")
    write_corpus(spark, other, n_rows=500, seed=7, partitions=2)
    cfg = PipelineConfig(input_path=other, work_dir=work)
    cat = str(tmp_path / "cat")
    res2 = run_split_pipeline(spark, cfg, target_rows_per_archive=300,
                              catalog_dir=cat)
    assert res2["rows"] == 500
    want = {r["doc_id"] for r in
            spark.read.parquet(other).select("doc_id").collect()}

    def searched() -> list[str]:
        return [r["doc_id"] for r in
                search_archives(spark, cat, "*").select("doc_id").collect()]

    got = searched()
    assert len(got) == 500 and set(got) == want
    dirs = {os.path.basename(p) for _, p in res2["archives"]}
    assert {d for d in os.listdir(os.path.join(work, "routed_archives"))
            if d.startswith("archive=")} == dirs
    assert {f.split(os.sep)[1] for f in SnapshotStore(work).manifest()[
        "tables"]["routed"]["files"]} == dirs

    log = LineageLog(work)
    skipped = ("parse", "split_dicts")
    committed = {s: json.load(open(log.path))["stages"][s]["committed_at"]
                 for s in skipped}
    tracker = spark.sparkContext.statusTracker()
    parse_jobs = set(tracker.getJobIdsForGroup("clpspark:parse"))
    res3 = run_split_pipeline(spark, cfg, target_rows_per_archive=300,
                              catalog_dir=cat)
    entries = json.load(open(log.path))["stages"]
    assert {s: entries[s]["committed_at"] for s in skipped} == committed
    assert {entries[s]["status"] for s in skipped} == {"done"}
    assert not set(tracker.getJobIdsForGroup("clpspark:parse")) - parse_jobs
    assert res3["archives"] == res2["archives"] and res3["rows"] == 500
    assert sorted(searched()) == sorted(got)


def test_split_pipeline_survives_timestamp_skew(spark, vocab_meta, tmp_path):
    """>= 1/k of rows sharing the max ts used to make approxQuantile return
    ts_max as a cut, leaving the final (ts_max, None] slice empty — route()
    wrote a data-less dir and the read-back aborted the run."""
    from clpspark.corpus import SEQUENCES_SCHEMA, generate_pdf
    from clpspark.pipeline import PipelineConfig, run_split_pipeline

    pdf = generate_pdf(np.arange(1000), vocab_meta, seed=42)
    lo = vocab_meta.off_ts
    hi = vocab_meta.off_ts + vocab_meta.n_ts - 1

    def retime(i: int, toks: np.ndarray) -> np.ndarray:
        t = toks.copy()
        if t[0] >= vocab_meta.off_ts:  # timestamped template
            t[0] = lo if i < 500 else hi
        return t

    pdf = pdf.assign(
        tokens=[retime(i, t) for i, t in enumerate(pdf["tokens"])]
    )
    inp = str(tmp_path / "seq")
    spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA).write.parquet(inp)

    work = str(tmp_path / "work")
    res = run_split_pipeline(
        spark,
        PipelineConfig(input_path=inp, work_dir=work),
        target_rows_per_archive=300,
    )
    total = 0
    for _, path in res["archives"]:
        n = spark.read.parquet(path).count()
        assert n > 0, f"empty archive slice {path}"
        total += n
    assert total == res["rows"] == 1000

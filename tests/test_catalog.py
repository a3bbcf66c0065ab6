"""Archive catalog: tag semi-join + ts-range pruning across archives
(query_scheduler.py archive selection semantics)."""

from __future__ import annotations

import pytest

from clpspark.catalog import search_archives, select_archives
from clpspark.corpus import write_corpus
from clpspark.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def two_archives(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cat")
    catalog = str(base / "catalog")
    paths = {}
    for name, n, tags in (("prod", 400, ("prod", "logs")),
                          ("dev", 300, ("dev",))):
        corpus = str(base / f"corpus_{name}")
        write_corpus(spark, corpus, n_rows=n, seed=42)
        work = str(base / f"work_{name}")
        cfg = PipelineConfig(input_path=corpus, work_dir=work,
                             catalog_dir=catalog, tags=tags)
        run_pipeline(spark, cfg)
        paths[name] = work
    return catalog, paths


def test_select_archives_by_tag(spark, two_archives):
    catalog, paths = two_archives
    assert {p for _, p, _dp in select_archives(spark, catalog)} == set(paths.values())
    assert [p for _, p, _dp in select_archives(spark, catalog, tags=["prod"])] == [
        paths["prod"]
    ]
    assert [p for _, p, _dp in select_archives(spark, catalog, tags=["dev"])] == [
        paths["dev"]
    ]
    # ANY-of semantics
    assert {p for _, p, _dp in
            select_archives(spark, catalog, tags=["dev", "logs"])} == set(
        paths.values()
    )
    assert select_archives(spark, catalog, tags=["nope"]) == []


def test_select_archives_ts_pruning(spark, two_archives):
    catalog, paths = two_archives
    arch = spark.read.parquet(f"{catalog}/archives").collect()
    end_max = max(r["end_ts"] for r in arch)
    # a range beyond every archive's end prunes everything
    assert select_archives(spark, catalog, tge=end_max + 1) == []
    assert len(select_archives(spark, catalog, tge=end_max - 1)) >= 1
    assert select_archives(spark, catalog, tle=0) == []


def test_search_archives_tag_scoped(spark, two_archives):
    catalog, paths = two_archives
    both = search_archives(spark, catalog, "*heartbeat*").collect()
    prod = search_archives(spark, catalog, "*heartbeat*",
                           tags=["prod"]).collect()
    assert prod and both
    # the dev archive (rows 0..299, same corpus seed) duplicates every
    # prod doc_id it shares; tag pruning must halve those
    prod_ids = [r["doc_id"] for r in prod]
    assert len(prod_ids) == len(set(prod_ids))
    both_ids = [r["doc_id"] for r in both]
    assert len(both_ids) > len(prod_ids)


def test_register_archive_idempotent(spark, two_archives):
    from clpspark.catalog import register_archive

    catalog, paths = two_archives
    n_before = spark.read.parquet(f"{catalog}/archives").count()
    existing = spark.read.parquet(f"{catalog}/archives").first()
    register_archive(
        spark, catalog, archive_id=existing["archive_id"],
        path=existing["path"], begin_ts=0, end_ts=1, n_rows=1, tags=["x"],
    )
    assert spark.read.parquet(f"{catalog}/archives").count() == n_before


def test_search_archives_no_match_empty(spark, two_archives):
    catalog, _ = two_archives
    out = search_archives(spark, catalog, "*heartbeat*", tags=["nope"])
    assert out.count() == 0


def test_catalog_json_kql_many_archives(spark):
    """50-archive catalog KQL (VERDICT r4 #1): pooled plan builds + balanced
    union must return exactly the known per-archive match set, and the
    ``limit`` path must early-exit on the newest archives. Archives live on
    /dev/shm (50 tiny writes on the virtio /tmp disk dominate wall time)."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from clpspark.catalog import register_archive, search_json_archives
    from clpspark.operators.json_encode import write_json_archive

    n_arch = 50
    root = tempfile.mkdtemp(prefix="clpspark_manyarch_", dir="/dev/shm")
    try:
        cat = f"{root}/cat"

        def mk(i: int) -> None:
            rows = [
                (f"a{i}-d{j}", f"2024-01-{i + 1:02d} 00:0{j}:00",
                 f"svc{i % 5}", f"request took {100 * i + j} ms")
                for j in range(3)
            ]
            df = spark.createDataFrame(
                rows, "doc_id string, ts string, service string, msg string"
            )
            write_json_archive(df, f"{root}/arch{i}", ts_leaf="ts")

        with ThreadPoolExecutor(8) as ex:
            list(ex.map(mk, range(n_arch)))
        for i in range(n_arch):
            # distinct end_ts so newest-first ordering is deterministic
            register_archive(spark, cat, f"a{i:02d}", f"{root}/arch{i}",
                             begin_ts=i * 1000, end_ts=i * 1000 + 999,
                             n_rows=3)

        q = 'service: "svc3" AND msg: "request*"'
        got = search_json_archives(spark, cat, q)
        got_rows = sorted(
            (r["archive_id"], r["doc_id"]) for r in got.collect()
        )
        # the exact per-archive match set (what the serial loop returns):
        # svc3 archives are i % 5 == 3; every one of their 3 docs matches
        want = sorted(
            (f"a{i:02d}", f"a{i}-d{j}")
            for i in range(n_arch) if i % 5 == 3 for j in range(3)
        )
        assert got_rows == want
        assert len(got_rows) == 10 * 3

        # limit: newest archives (highest end_ts) win, result capped
        top = search_json_archives(spark, cat, q, limit=6)
        top_rows = {(r["archive_id"], r["doc_id"]) for r in top.collect()}
        assert len(top_rows) == 6
        newest_matching = {"a48", "a43"}  # i % 5 == 3, newest first
        assert {a for a, _ in top_rows} <= newest_matching
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_rows_fold_from_file_stats(spark, small_corpus, tmp_path,
                                           monkeypatch):
    """An archive's catalog row (begin_ts, end_ts, n_rows) is folded from
    the fused per-file stats and equals a direct scan of the archive: for
    run_pipeline the clpspark:catalog job group runs no job before the
    catalog write, and run_split_pipeline reads no archive directory."""
    from pyspark.sql import DataFrameReader
    from pyspark.sql import functions as F

    import clpspark.catalog as catalog
    from clpspark.pipeline import run_split_pipeline

    tracker = spark.sparkContext.statusTracker()

    def group_jobs() -> set[int]:
        return set(tracker.getJobIdsForGroup("clpspark:catalog"))

    seen = group_jobs()
    before_register: list[set[int]] = []
    register = catalog.register_archive

    def spy_register(*a, **kw):
        before_register.append(group_jobs() - seen)
        return register(*a, **kw)

    read_paths: list[str] = []
    parquet = DataFrameReader.parquet

    def spy_parquet(self, *paths, **kw):
        read_paths.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(catalog, "register_archive", spy_register)
    monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)

    def scan(path: str) -> tuple:
        return tuple(spark.read.parquet(path).agg(
            F.min("ts"), F.max("ts"), F.count("*")).first())

    def catalog_rows(cat: str) -> dict[str, tuple]:
        return {r["path"]: (r["begin_ts"], r["end_ts"], r["n_rows"])
                for r in spark.read.parquet(f"{cat}/archives").collect()}

    work, cat = str(tmp_path / "w"), str(tmp_path / "cat")
    run_pipeline(spark, PipelineConfig(input_path=small_corpus,
                                       work_dir=work, catalog_dir=cat))
    assert before_register == [set()]
    assert catalog_rows(cat) == {work: scan(f"{work}/routed")}

    split_cat = str(tmp_path / "split_cat")
    read_paths.clear()
    res = run_split_pipeline(
        spark, PipelineConfig(input_path=small_corpus,
                              work_dir=str(tmp_path / "split")),
        target_rows_per_archive=300, catalog_dir=split_cat)
    archive_dirs = {p for _, p in res["archives"]}
    assert len(archive_dirs) >= 3
    assert not archive_dirs & set(read_paths)
    assert catalog_rows(split_cat) == {p: scan(p) for p in archive_dirs}


def test_dataset_namespacing_never_crosses(spark, tmp_path):
    """First-class datasets (clp-package search.py --dataset): two
    datasets with the SAME tags; scoped searches see only their own
    archives, unscoped searches see only unscoped archives."""
    from clpspark.catalog import (
        register_archive,
        search_json_archives,
        select_archives,
    )
    from clpspark.operators.json_encode import write_json_archive

    root = str(tmp_path)
    cat = f"{root}/cat"
    for name, ds in (("p", "prod"), ("s", "staging"), ("u", None)):
        df = spark.createDataFrame(
            [(f"{name}-d0", f"event in {name}")], "doc_id string, msg string"
        )
        write_json_archive(df, f"{root}/arch_{name}")
        register_archive(spark, cat, f"a_{name}", f"{root}/arch_{name}",
                         begin_ts=0, end_ts=1000, n_rows=1,
                         tags=["shared"], dataset=ds)

    def ids(ds):
        return {a for a, _p, _d in
                select_archives(spark, cat, tags=["shared"], dataset=ds)}

    assert ids("prod") == {"a_p"}
    assert ids("staging") == {"a_s"}
    assert ids(None) == {"a_u"}  # unscoped is its own namespace

    got = search_json_archives(spark, cat, 'msg: "event*"', dataset="prod")
    assert {r["archive_id"] for r in got.collect()} == {"a_p"}
    got = search_json_archives(spark, cat, 'msg: "event*"')
    assert {r["archive_id"] for r in got.collect()} == {"a_u"}


def test_catalog_limit_keeps_newest_batch_rows(spark, tmp_path):
    """search_json_archives(limit=) walks archives newest-first in batches
    of 8; when the FINAL batch overshoots the limit, only that batch is
    trimmed — every row from newer batches must survive (the old trailing
    union.limit() could displace them arbitrarily)."""
    from clpspark.catalog import register_archive, search_json_archives
    from clpspark.operators.json_encode import write_json_archive

    root = str(tmp_path)
    cat = f"{root}/cat"
    n_arch, docs_per = 10, 2
    for i in range(n_arch):
        rows = [(f"a{i}-d{j}", f"match {i} {j}") for j in range(docs_per)]
        df = spark.createDataFrame(rows, "doc_id string, msg string")
        write_json_archive(df, f"{root}/arch{i}")
        register_archive(spark, cat, f"a{i:02d}", f"{root}/arch{i}",
                         begin_ts=i * 1000, end_ts=i * 1000 + 999,
                         n_rows=docs_per)

    # batch 1 = newest 8 archives (a09..a02) -> 16 rows; limit=17 forces
    # batch 2 (a01, a00 -> 4 rows) to trim to exactly 1
    got = search_json_archives(spark, cat, 'msg: "match*"', limit=17)
    rows = [(r["archive_id"], r["doc_id"]) for r in got.collect()]
    assert len(rows) == 17
    newest = {f"a{i:02d}" for i in range(2, 10)}
    from_newest = [a for a, _ in rows if a in newest]
    assert len(from_newest) == 16  # ALL newer-batch rows retained
    assert sum(1 for a, _ in rows if a in ("a00", "a01")) == 1


def test_bounded_catalog_search_keeps_dateless_json_archive(spark, tmp_path):
    """A JSON archive with zero DateString leaves that survives archive
    pruning (null registered range) must keep its rows under a bounded
    query instead of silently dropping all of them."""
    from clpspark.catalog import register_archive, search_json_archives
    from clpspark.operators.json_encode import write_json_archive

    df = spark.createDataFrame(
        [("d0", "alpha beta"), ("d1", "gamma delta")],
        "doc_id string, msg string",
    )
    arch_dir = str(tmp_path / "arch")
    write_json_archive(df, arch_dir)  # no ts_leaf -> no DateString leaves
    cat = str(tmp_path / "cat")
    register_archive(spark, cat, "a0", arch_dir, begin_ts=None, end_ts=None,
                     n_rows=2)
    out = search_json_archives(spark, cat, 'msg: "alpha*"',
                               tge=0, tle=10_000_000)
    assert out is not None
    assert [r["doc_id"] for r in out.collect()] == ["d0"]


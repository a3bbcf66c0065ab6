"""Round-5 ADVICE regressions: row_id collision between '#'-bearing leaf
names and array elements, per-write zstd level (no session-global leak),
blank lines in the ordered NDJSON reader, and bounded catalog search over
JSON archives with no DateString leaf."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F


def test_row_id_no_collision_hash_leaf_vs_array_elem(spark, tmp_path):
    """A scalar leaf literally named 'x#3' must not collide with element 3
    of a structurized array leaf 'x' for the same doc — a plain
    doc_id#leaf#elem join key merged the two rows' variables."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", "scalar value zero", ["a0 a0", "a1 a1", "a2 a2", "a3 a3"])],
        "doc_id string, `x#3` string, x array<string>",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out, structurize_arrays=True)
    arch = JsonArchive.open(spark, out)
    scalar = arch.decode_leaf("x#3").collect()
    assert [(r["doc_id"], r["value"]) for r in scalar] == [
        ("d0", "scalar value zero")
    ]
    arr = arch.decode_array_leaf("x").collect()
    assert arr[0]["values"] == ["a0 a0", "a1 a1", "a2 a2", "a3 a3"]


def test_zstd_level_is_per_write_not_session_global(spark, vocab_meta,
                                                    tmp_path):
    """Two pipelines with different compression levels sharing one session:
    each archive write must carry its own level (and a write AFTER a
    high-level run must not inherit it)."""
    from clpspark.corpus import write_corpus
    from clpspark.pipeline import PipelineConfig, run_pipeline

    inp = str(tmp_path / "seq")
    write_corpus(spark, inp, n_rows=4000, seed=7, partitions=2)

    sizes = {}
    for lvl in (1, 19):
        work = str(tmp_path / f"work{lvl}")
        run_pipeline(spark, PipelineConfig(
            input_path=inp, work_dir=work, compression_level=lvl,
        ))
        sizes[lvl] = sum(
            os.path.getsize(f)
            for f in glob.glob(f"{work}/routed/**/*.parquet", recursive=True)
        )
    assert sizes[19] < sizes[1]
    # the shared session's hadoop conf must NOT have been mutated
    jconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert jconf.get("parquet.compression.codec.zstd.level") is None


def test_read_ndjson_ordered_skips_blank_lines(spark, tmp_path):
    """Blank/whitespace lines are skipped by the json DataSource read;
    the ordered reader must agree on indices and row counts."""
    from clpspark.sources.json_logs import read_ndjson, read_ndjson_ordered

    p = tmp_path / "logs.ndjson"
    p.write_text(
        '{"a": 1}\n\n   \n{"a": 2}\n\t\n{"a": 3}\n'
    )
    plain = read_ndjson(spark, str(p))
    ordered = read_ndjson_ordered(spark, str(p))
    assert plain.count() == 3
    rows = ordered.orderBy("log_event_idx").select("a", "log_event_idx").collect()
    assert [(r["a"], r["log_event_idx"]) for r in rows] == [
        (1, 0), (2, 1), (3, 2)
    ]


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


def test_kql_first_class_projection(spark, tmp_path):
    """JsonArchive.kql(project=[...]) — clp_s search/Projection.cpp parity:
    encoded leaves decode for matching docs only, records paths stay typed,
    DateString leaves project as reconstructed strings, unresolved columns
    silently project nothing, wildcards/duplicates raise."""
    import pytest

    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [
            ("d0", "2024-03-01 10:00:00", "job one done", "w1", 7,
             ["x one", "y one"]),
            ("d1", "2024-03-01 11:00:00", "job two failed", "w2", 9,
             ["x two"]),
            ("d2", "2024-03-01 12:00:00", "job three done", "w1", 11, None),
        ],
        "doc_id string, ts string, msg string, worker string, n long, "
        "arr array<string>",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out, ts_leaf="ts")
    arch = JsonArchive.open(spark, out)

    got = arch.kql(
        'msg: "job*"',
        project=["msg", "worker", "n", "ts", "ts.epoch", "nope"],
    )
    assert got.columns == ["doc_id", "msg", "worker", "n", "ts", "ts.epoch"]
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows["d0"]["msg"] == "job one done"
    assert rows["d1"]["worker"] == "w2"
    assert rows["d2"]["n"] == 11
    assert rows["d0"]["ts"] == "2024-03-01 10:00:00"  # reconstructed string
    assert rows["d1"]["ts.epoch"] == 1709290800000
    # serialized (UnstructuredArray) mode: array projects as its JSON text
    arr = arch.kql('worker: w1', project=["arr"])
    arrs = {r["doc_id"]: r["arr"] for r in arr.collect()}
    assert arrs["d0"] == '["x one","y one"]'
    assert arrs["d2"] is None  # null array never melted
    with pytest.raises(ValueError):
        arch.kql('msg: "job*"', project=["m*g"])
    with pytest.raises(ValueError):
        arch.kql('msg: "job*"', project=["msg", "msg"])


def test_kql_projection_structurized_skips_arrays(spark, tmp_path):
    """Structurized-array archives refuse to project array leaves
    (Projection.cpp: resolution never travels into arrays) but scalar
    leaves still project."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", "top level", ["a one", "b two"])],
        "doc_id string, msg string, arr array<string>",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out, structurize_arrays=True)
    arch = JsonArchive.open(spark, out)
    got = arch.kql('msg: "top*"', project=["msg", "arr"])
    assert got.columns == ["doc_id", "msg"]
    assert got.first()["msg"] == "top level"


def test_kql_projection_array_element_leaf_no_fanout(spark, tmp_path):
    """Projecting an element-level structurized leaf ('arr.d.e') must
    silently project nothing — not fan out one row per element (review
    finding r5)."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", "top one", [{"d": {"e": "x one"}}, {"d": {"e": "y two"}}])],
        "doc_id string, msg string, arr array<struct<d:struct<e:string>>>",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out, structurize_arrays=True)
    arch = JsonArchive.open(spark, out)
    got = arch.kql('msg: "top*"', project=["msg", "arr.d.e"])
    assert got.columns == ["doc_id", "msg"]
    assert got.count() == 1  # no per-element fan-out


def test_reconstruct_user_fields_named_like_internals(spark, tmp_path):
    """User JSON fields named '_decmap'/'_jid' must not collide with
    reconstruct()'s working columns (ambiguous reference / corrupted
    decode map)."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    rows = [
        ("d0", 7, "seven jid", "decoded map value zero"),
        ("d1", 8, "eight jid", "decoded map value one"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, `_jid` long, `_jidtxt` string, `_decmap` string"
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out)
    arch = JsonArchive.open(spark, out)
    got = {r["doc_id"]: json.loads(r["json"])
           for r in arch.reconstruct().collect()}
    assert got["d0"] == {"_jid": 7, "_jidtxt": "seven jid",
                         "_decmap": "decoded map value zero"}
    assert got["d1"]["_decmap"] == "decoded map value one"


def test_compress_json_user_log_event_idx_roundtrips(spark, tmp_path,
                                                     monkeypatch):
    """A user data field named log_event_idx is DATA: compress-json must
    not crash on it, and extract-json must emit it back (the archive's
    own order key shifts to a probed name)."""
    from clpspark import cli

    src = tmp_path / "in"
    src.mkdir()
    lines = [{"log_event_idx": 90 - i, "m": f"msg number {i}"}
             for i in range(6)]
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps(x) for x in lines) + "\n"
    )
    arch = str(tmp_path / "arch")
    out = str(tmp_path / "out")
    assert cli.main(["compress-json", str(src), arch]) == 0
    assert cli.main(["extract-json", arch, out]) == 0
    got = []
    for f in sorted(glob.glob(f"{out}/part-*")):
        with open(f) as fh:
            got.extend(json.loads(ln) for ln in fh if ln.strip())
    assert got == lines  # ingest order, user field intact


def test_with_schema_id_reserved_name_raises(spark):
    import pytest as _pytest

    from clpspark.sources.json_logs import with_schema_id

    df = spark.createDataFrame([(1, 2)], "a long, schema_id long")
    with _pytest.raises(ValueError, match="reserved"):
        with_schema_id(df)


def test_decode_leaf_all_typed_archive_empty(spark, tmp_path):
    """An archive with zero string leaves must degrade to empty decode
    results, not IndexError."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", 1, 2.5), ("d1", 2, 3.5)],
        "doc_id string, a long, b double",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out)
    arch = JsonArchive.open(spark, out)
    assert arch.decode_leaf("anything").count() == 0
    got = {r["doc_id"]: json.loads(r["json"])
           for r in arch.reconstruct().collect()}
    assert got["d0"] == {"a": 1, "b": 2.5}


def test_kql_projection_past_inline_cap(spark, tmp_path):
    """A projected KQL match set larger than the inline-isin gate must
    stay distributed (semi-join path) and still decode every leaf value —
    and the search must not re-execute per consumer."""
    from clpspark.operators import json_encode as JE

    n = 60
    df = spark.createDataFrame(
        [(f"d{i:04d}", f"payload value {i}", i) for i in range(n)],
        "doc_id string, msg string, k long",
    )
    out = str(tmp_path / "arch")
    JE.write_json_archive(df, out)
    arch = JE.JsonArchive.open(spark, out)
    import unittest.mock as mock

    with mock.patch.object(JE, "_PROJECT_INLINE_IDS_MAX", 10):
        got = {r["doc_id"]: (r["msg"], r["k"])
               for r in arch.kql('msg: "payload*"',
                                 project=["msg", "k"]).collect()}
    assert len(got) == n
    assert got["d0007"] == ("payload value 7", 7)


def test_reconstruct_json_ordered_user_metadata_names(spark, tmp_path):
    """Ordered reconstruction must drop/order by the reader's TAGGED
    metadata columns, not a user data field that shares their name."""
    from clpspark.sources.json_logs import (
        read_ndjson_ordered,
        reconstruct_json_ordered,
    )

    lines = [{"log_event_idx": 50 - i, "m": f"row {i}"} for i in range(4)]
    p = tmp_path / "in.jsonl"
    p.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    df = read_ndjson_ordered(spark, str(p))
    rec = reconstruct_json_ordered(df).collect()
    got = [json.loads(r["json"]) for r in rec]
    assert got == lines  # ingest order, user field kept, no metadata leak


def test_write_json_archive_user_schema_id_raises(spark, tmp_path):
    import pytest as _pytest

    from clpspark.operators.json_encode import write_json_archive

    df = spark.createDataFrame(
        [("d0", 5, "x")], "doc_id string, schema_id long, m string")
    with _pytest.raises(ValueError, match="reserved"):
        write_json_archive(df, str(tmp_path / "a"))


def test_reserved_name_guards_case_insensitive(spark, tmp_path):
    """Spark resolves columns case-insensitively: SCHEMA_ID must trip the
    reserved-name guard and SOURCE_FILE must push the reader's metadata
    column off 'source_file'."""
    import pytest as _pytest

    from clpspark.sources.json_logs import (
        ordered_meta_names,
        with_schema_id,
    )

    df = spark.createDataFrame([(1,)], "`SCHEMA_ID` long")
    with _pytest.raises(ValueError, match="reserved"):
        with_schema_id(df)

    names = ordered_meta_names(
        spark.createDataFrame([("a",)], "`SOURCE_FILE` string").schema)
    assert names["source_file"] == "_source_file"


def test_encode_bpe_null_text_and_java_whitespace(spark):
    from clpspark.operators.tokenizer import encode_bpe

    df = spark.createDataFrame(
        [(1, None), (2, "a\xa0b a\xa0b")],
        "doc_id long, text string")
    merges = [("a", "\xa0"), ("a\xa0", "b"), ("a\xa0b", "</w>")]
    got = {r["doc_id"]: r["bpe_tokens"]
           for r in encode_bpe(df, merges).collect()}
    assert got[1] == []
    # NBSP is NOT whitespace to the Java \s the trainer used: 'a\xa0b'
    # stays ONE word and the trained merges apply across the NBSP
    assert got[2] == ["a\xa0b</w>", "a\xa0b</w>"]

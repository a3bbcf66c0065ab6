"""clp_s typed column encodings: ClpString / VarString / DateString leaves
(ColumnWriter.cpp analogs), the per-leaf archive layout, and the
dictionary-pre-filtered leaf grep."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def json_archive(spark, tmp_path_factory):
    from clpspark.operators.json_encode import write_json_archive

    rows = []
    for i in range(300):
        rows.append(
            (
                f"d{i:04d}",
                f"2016-05-08 07:{i % 60:02d}:{(i * 3) % 60:02d}.{i % 1000:03d}",
                (
                    f"job {i} failed after {i % 60}.{i % 10} ms on host{i % 7}"
                    if i % 4 == 0
                    else f"job {i} completed in {i % 60}.{i % 10} ms on host{i % 7}"
                ),
                f"t{i % 3}",
                i,
                (f"note {i % 5} of job", f"u{i % 2}"),
            )
        )
    df = spark.createDataFrame(
        rows,
        "doc_id string, t string, msg string, tag string, n long, "
        "ctx struct<note:string, user:string>",
    )
    out = str(tmp_path_factory.mktemp("jarch"))
    arch = write_json_archive(df, out, ts_leaf="t")
    return arch, rows


def test_leaf_decode_roundtrip(json_archive):
    arch, rows = json_archive
    for leaf, ix in (("msg", 2), ("tag", 3), ("ctx.note", 5), ("ctx.user", 5)):
        got = {r["doc_id"]: r["value"] for r in arch.decode_leaf(leaf).collect()}
        for row in rows:
            want = row[ix]
            if isinstance(want, tuple):
                want = want[0] if leaf.endswith("note") else want[1]
            assert got[row[0]] == want, (leaf, row[0])


def test_date_leaf_epoch_and_format(spark, json_archive):
    from clpspark.operators.json_encode import format_date_leaf_udf
    from clpspark.ref.timestamps import strip_timestamp

    arch, rows = json_archive
    recs = arch.records
    got = {
        r["doc_id"]: (r["t"]["pattern"], r["t"]["epoch"], r["fmt"])
        for r in recs.withColumn("fmt", format_date_leaf_udf()(F.col("t")))
        .select("doc_id", "t", "fmt").collect()
    }
    for doc_id, t, *_ in rows:
        ts, pat, rest = strip_timestamp(t)
        assert got[doc_id][0] == pat
        assert got[doc_id][1] == ts
        assert got[doc_id][2] == t  # reconstruction is exact


def test_records_drop_string_leaves(json_archive):
    arch, _ = json_archive
    recs = arch.records
    assert "msg" not in recs.columns
    assert "tag" not in recs.columns
    # nested leaves are nulled in place; typed/nullable columns remain
    assert recs.where(F.col("ctx.note").isNotNull()).count() == 0
    assert "n" in recs.columns and "schema_id" in recs.columns
    assert dict(recs.dtypes)["t"] == "struct<pattern:int,epoch:bigint,raw:string>"


def test_grep_leaf_dictionary_prefilter(json_archive):
    arch, rows = json_archive
    got = {
        r["doc_id"]
        for r in arch.grep_leaf("msg", "* failed after * ms on host3*").collect()
    }
    want = {r[0] for r in rows if "failed" in r[2] and r[2].endswith("host3")}
    assert got == want and got
    # WontMatch short-circuit: a token absent from the dictionaries
    assert arch.grep_leaf("msg", "* zzz_nope *").count() == 0


def test_grep_leaf_partition_pruning(json_archive):
    arch, _ = json_archive
    plan = arch.grep_leaf(
        "msg", "* failed after * ms on host3*"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "leaf" in plan


def test_match_varstring_point_lookup(json_archive):
    arch, rows = json_archive
    got = {r["doc_id"] for r in arch.match_varstring("tag", "t1").collect()}
    want = {r[0] for r in rows if r[3] == "t1"}
    assert got == want and got
    assert arch.match_varstring("tag", "zzz").count() == 0


def test_shared_dictionaries_across_leaves(json_archive):
    """clp_s keeps ONE var dict per archive: values repeated across leaves
    (e.g. u0/u1 and t0..t2 single-token strings) appear once each."""
    arch, _ = json_archive
    vd = arch.var_dict
    assert vd.count() == vd.select("var_str").distinct().count()
    tags = {r["var_str"] for r in
            vd.where(F.col("var_str").rlike("^t[0-9]$")).collect()}
    assert tags == {"t0", "t1", "t2"}


def test_date_leaf_unparseable_round_trips(spark):
    """clp_s fallback parity: a timestamp value no pattern parses is stored
    verbatim (struct.raw) and reconstructs exactly, not as NULL."""
    from clpspark.operators.json_encode import (
        encode_date_leaves,
        format_date_leaf_udf,
    )

    df = spark.createDataFrame(
        [("a", "2016-05-08 07:34:05.123"), ("b", "maintenance-window"),
         ("c", None)],
        "doc_id string, t string",
    )
    enc = encode_date_leaves(df, ["t"])
    rows = {
        r["doc_id"]: r
        for r in enc.withColumn(
            "fmt", format_date_leaf_udf()(F.col("t"))
        ).collect()
    }
    assert rows["a"]["fmt"] == "2016-05-08 07:34:05.123"
    assert rows["a"]["t"]["raw"] is None
    assert rows["b"]["fmt"] == "maintenance-window"
    assert rows["b"]["t"]["pattern"] == -1
    assert rows["c"]["fmt"] is None


# ---- structurized arrays (clp_s --structurize-arrays analog) ----------------


@pytest.fixture(scope="module")
def array_df(spark):
    rows = []
    for i in range(120):
        elems = [
            {
                "a": i * (j + 1),
                "b": (i * 13 + j * 7) % 2000,
                "d": {"e": f"item {i} tag{(i + j) % 9}"},
            }
            for j in range(1 + i % 3)
        ]
        rows.append((f"d{i:04d}", i, elems, [f"lbl{i % 5}", f"lbl{i % 7}"]))
    return spark.createDataFrame(
        rows,
        "doc_id string, idx long, "
        "arr array<struct<a:long, b:long, d:struct<e:string>>>, "
        "labels array<string>",
    ), rows


def test_structurized_array_leaves(spark, tmp_path_factory, array_df):
    from clpspark.operators.json_encode import write_json_archive

    df, rows = array_df
    out = str(tmp_path_factory.mktemp("sarch"))
    arch = write_json_archive(df, out, structurize_arrays=True)

    # per-element string leaves share ONE leaf sink (clp_s StructuredArray
    # schema node semantics: arr.d.e matches ANY element)
    got = {r["doc_id"] for r in
           arch.grep_leaf("arr.d.e", "item * tag3").select("doc_id")
           .distinct().collect()}
    want = {f"d{i:04d}" for i in range(120)
            if any((i + j) % 9 == 3 for j in range(1 + i % 3))}
    assert got == want and got

    # numeric element fields stay typed in records: KQL arr.b > 1000 is a
    # native exists over the array (reference golden
    # test-clp_s-search.cpp:208 'arr.b > 1000')
    from clpspark.plans.kql import kql_filter

    got_b = {r["doc_id"] for r in
             kql_filter(arch.records, "arr.b > 1000")
             .select("doc_id").collect()}
    want_b = {f"d{i:04d}" for i in range(120)
              if any((i * 13 + j * 7) % 2000 > 1000
                     for j in range(1 + i % 3))}
    assert got_b == want_b and got_b

    # element order round-trips (elem_ix), for both array<struct> string
    # fields and array<string> elements
    vals = {r["doc_id"]: r["values"]
            for r in arch.decode_array_leaf("arr.d.e").collect()}
    for i in range(120):
        assert vals[f"d{i:04d}"] == [
            f"item {i} tag{(i + j) % 9}" for j in range(1 + i % 3)
        ]
    labels = {r["doc_id"]: r["values"]
              for r in arch.decode_array_leaf("labels").collect()}
    for i in range(120):
        assert labels[f"d{i:04d}"] == [f"lbl{i % 5}", f"lbl{i % 7}"]

    # encoded string content is nulled in records, typed shape preserved
    rec = arch.records.where(F.col("doc_id") == "d0005").first()
    assert [e["b"] for e in rec["arr"]] == [(5 * 13 + j * 7) % 2000
                                            for j in range(3)]
    assert all(e["d"]["e"] is None for e in rec["arr"])
    assert rec["labels"] == [None, None]


def test_unstructured_array_mode(spark, tmp_path_factory, array_df):
    """Default clp_s mode: the whole array is one serialized string value,
    CLP-encoded — wildcard search gets the dictionary pre-filter and the
    exact serialization round-trips."""
    import json as _json

    from clpspark.operators.json_encode import write_json_archive

    df, rows = array_df
    out = str(tmp_path_factory.mktemp("uarch"))
    arch = write_json_archive(df, out, structurize_arrays=False)

    got = {r["doc_id"] for r in
           arch.grep_leaf("arr", '*"b":1001,*').select("doc_id")
           .distinct().collect()}
    want = set()
    for doc_id, i, elems, _ in rows:
        ser = _json.dumps(
            [{"a": e["a"], "b": e["b"], "d": e["d"]} for e in elems],
            separators=(",", ":"),
        )
        if '"b":1001,' in ser:
            want.add(doc_id)
    assert got == want and got

    # serialized form round-trips exactly (to_json compact formatting)
    vals = {r["doc_id"]: r["value"]
            for r in arch.decode_leaf("arr").collect()}
    row0 = rows[7]
    expect = _json.dumps(
        [{"a": e["a"], "b": e["b"], "d": {"e": e["d"]["e"]}}
         for e in row0[2]],
        separators=(",", ":"),
    )
    assert vals[row0[0]] == expect

    # records null the whole array (shape lives in the serialized string)
    rec = arch.records.where(F.col("doc_id") == "d0007").first()
    assert rec["arr"] is None and rec["labels"] is None


def test_structurized_array_edge_cases(spark, tmp_path_factory):
    """Empty arrays, null arrays, placeholder bytes and backslashes inside
    element strings, and ':'-containing values must all encode + decode
    without corrupting sibling leaves."""
    from clpspark.operators.json_encode import write_json_archive

    rows = [
        ("d0", ["plain word"], "s0"),
        ("d1", [], "s1"),                       # empty array
        ("d2", None, "s2"),                     # null array
        ("d3", ["esc\x11byte", "back\\slash"], "s3"),
        ("d4", ["img_v3:45 and task_9"], "s4"),  # ':' + space mix
        ("d5", ["one", "two", "three"], "s5"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, labels array<string>, tag string"
    )
    out = str(tmp_path_factory.mktemp("earch"))
    arch = write_json_archive(df, out, structurize_arrays=True)

    vals = {r["doc_id"]: r["values"]
            for r in arch.decode_array_leaf("labels").collect()}
    for doc_id, labels, _ in rows:
        if labels:
            assert vals[doc_id] == labels, doc_id
        else:
            assert doc_id not in vals  # no elements -> no rows
    # sibling scalar leaf unaffected
    tags = {r["doc_id"]: r["value"] for r in arch.decode_leaf("tag").collect()}
    assert tags == {d: t for d, _, t in rows}
    # empty/null arrays keep their shape in records
    recs = {r["doc_id"]: r["labels"] for r in arch.records.collect()}
    assert recs["d1"] == [] and recs["d2"] is None
    assert recs["d5"] == [None, None, None]


def test_archive_ordered_extract_via_log_event_idx(spark, tmp_path_factory):
    """clp_s delta-encode-log-order analog end to end THROUGH the archive:
    NDJSON ingest with log_event_idx -> encoded archive (the index is a
    plain long column in records; parquet delta-encodes it natively) ->
    reconstruction in original ingest order."""
    import json as _json

    from clpspark.operators.json_encode import write_json_archive
    from clpspark.sources.json_logs import read_ndjson_ordered

    d = tmp_path_factory.mktemp("ojson")
    lines = [
        {"a": i, "msg": f"event {i} fired after {i % 40}.{i % 10} ms"}
        for i in range(300)
    ]
    (d / "in.jsonl").write_text(
        "\n".join(_json.dumps(r, separators=(",", ":")) for r in lines)
    )
    df = read_ndjson_ordered(spark, str(d)).withColumn(
        "doc_id", F.col("log_event_idx").cast("string")
    ).drop("source_file")
    out = str(tmp_path_factory.mktemp("oarch"))
    arch = write_json_archive(df, out)

    # log_event_idx rides in records; ordered extract re-joins the decoded
    # string leaf and sorts by the index — original order, value-exact
    msgs = arch.decode_leaf("msg").withColumnRenamed("value", "msg")
    recs = arch.records.select("doc_id", "a", "log_event_idx")
    got = (
        recs.join(msgs, "doc_id")
        .orderBy("log_event_idx")
        .select("a", "msg", "log_event_idx")
        .collect()
    )
    assert [r["a"] for r in got] == list(range(300))
    assert [r["log_event_idx"] for r in got] == list(range(300))
    assert got[7]["msg"] == "event 7 fired after 7.7 ms"


@pytest.mark.parametrize("structurize", [False, True])
def test_reconstruct_full_roundtrip(spark, tmp_path, structurize):
    """clp-s x analog: every original record rebuilds EXACTLY from the
    encoded archive — typed fields, decoded leaves back in place, date
    strings re-formatted, serialized arrays re-parsed, structurized
    elements scattered by position (incl. null elements and null nested
    strings)."""
    import json as J
    import shutil

    from clpspark.operators.json_encode import write_json_archive
    from clpspark.sources.json_logs import read_ndjson

    rows = [
        {"doc_id": f"d{i}", "ts": f"2024-07-01 08:00:{i % 60:02d},123",
         "msg": f"req {i} took {i}.{i % 10} ms" if i % 5 else None,
         "svc": {"name": f"s{i % 3}",
                 "region": None if i % 4 == 0 else f"r{i % 2}"},
         "n": i,
         "tags": [f"t{i % 2}", None, f"u{i % 3}"] if i % 3 else None,
         "evs": [{"k": f"k{i}", "v": i}, {"k": None, "v": i + 1}]}
        for i in range(40)
    ]
    src = str(tmp_path / "src.ndjson")
    with open(src, "w") as f:
        for r in rows:
            f.write(J.dumps(r) + "\n")
    df = read_ndjson(spark, src).drop("schema_id")
    d = str(tmp_path / f"arch{structurize}")
    shutil.rmtree(d, ignore_errors=True)
    arch = write_json_archive(df, d, ts_leaf="ts",
                              structurize_arrays=structurize)
    got = {r["doc_id"]: r["json"] for r in arch.reconstruct().collect()}
    want = {r["doc_id"]: r["json"] for r in df.select(
        "doc_id",
        F.to_json(F.struct(*[c for c in df.columns if c != "doc_id"]))
        .alias("json")).collect()}
    assert got == want


def test_reconstruct_single_file_archive(spark, tmp_path):
    """reconstruct() works transparently through a packed .clpa handle."""
    import json as J

    from clpspark.operators.json_encode import (
        JsonArchive,
        write_json_archive,
    )
    from clpspark.sources.json_logs import read_ndjson

    src = str(tmp_path / "s.ndjson")
    with open(src, "w") as f:
        for i in range(20):
            f.write(J.dumps({"doc_id": f"d{i}", "m": f"v {i} x",
                             "k": i}) + "\n")
    df = read_ndjson(spark, src).drop("schema_id")
    d = str(tmp_path / "arch")
    write_json_archive(df, d, single_file=True)
    arch = JsonArchive.open(spark, d + ".clpa")
    got = sorted(
        (r["doc_id"], r["json"]) for r in arch.reconstruct().collect())
    assert len(got) == 20
    assert all(J.loads(j) == {"k": int(did[1:]), "m": f"v {did[1:]} x"}
               for did, j in got)


def test_order_col_metadata_vs_user_field(spark, tmp_path):
    """An archive-declared order_col is metadata (never emitted into the
    reconstructed JSON); an UNDECLARED records column that merely shares
    the name is user data and round-trips."""
    import json as J

    from clpspark.operators.json_encode import (
        JsonArchive,
        write_json_archive,
    )

    df = spark.createDataFrame(
        [(f"d{i}", i, f"msg {i} ok") for i in range(10)],
        "doc_id string, log_event_idx long, m string",
    )
    meta_dir = str(tmp_path / "meta")
    write_json_archive(df, meta_dir, order_col="log_event_idx")
    meta = JsonArchive.open(spark, meta_dir)
    assert meta.order_col() == "log_event_idx"
    j = J.loads(meta.reconstruct().collect()[0]["json"])
    assert "log_event_idx" not in j and "m" in j

    user_dir = str(tmp_path / "user")
    write_json_archive(df, user_dir)  # no declaration -> user data
    user = JsonArchive.open(spark, user_dir)
    assert user.order_col() is None
    got = {r["doc_id"]: J.loads(r["json"])
           for r in user.reconstruct().collect()}
    assert got["d3"] == {"log_event_idx": 3, "m": "msg 3 ok"}


def test_match_varstring_survives_archive_rewrite(spark, tmp_path):
    """A positive VarString-logtype-id memo must not survive a rewrite of
    the same archive directory (ids can shuffle between generations)."""
    from clpspark.operators.json_encode import write_json_archive

    def build(tag_mod: int):
        rows = [
            (
                f"d{i:03d}",
                f"msg {'failed' if i % 2 else 'completed'} number {i}",
                f"t{i % tag_mod}",
            )
            for i in range(60)
        ]
        return spark.createDataFrame(
            rows, "doc_id string, msg string, tag string"
        )

    out = str(tmp_path / "arch")
    arch = write_json_archive(build(3), out)
    got1 = {r["doc_id"] for r in arch.match_varstring("tag", "t1").collect()}
    assert got1 == {f"d{i:03d}" for i in range(60) if i % 3 == 1}
    memo1 = arch._vs_lid_memo

    # rewrite the SAME directory with different tag cardinality
    write_json_archive(build(5), out)
    got2 = {r["doc_id"] for r in arch.match_varstring("tag", "t4").collect()}
    assert got2 == {f"d{i:03d}" for i in range(60) if i % 5 == 4}
    assert arch._vs_lid_memo[0] != memo1[0]  # memo re-keyed on rewrite


def test_leaf_names_listing_error_surfaces(spark, tmp_path):
    """Only FileNotFoundError means 'no string leaves'; a columns path
    that exists but cannot be listed must raise, not silently return
    zero results for every string-leaf query."""
    import os

    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", "hello world")], "doc_id string, msg string"
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out)
    arch = JsonArchive.open(spark, out)
    assert "msg" in arch.leaf_names()

    # replace the columns dir with a regular file: listdir now raises
    # NotADirectoryError (an OSError that is NOT FileNotFoundError) —
    # the old code swallowed it into an empty leaf set
    import shutil

    shutil.rmtree(os.path.join(out, "columns"))
    with open(os.path.join(out, "columns"), "w") as f:
        f.write("not a directory")
    # fresh handle: JsonArchive.open memoizes per (path, version) and the
    # records version did not change
    arch2 = JsonArchive(spark, out)
    with pytest.raises(NotADirectoryError):
        arch2.leaf_names()


def test_kql_projection_doc_id_not_duplicated(spark, tmp_path):
    """project=['doc_id', ...] must not emit doc_id twice (it is always
    the first output column)."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", "alpha beta", 1), ("d1", "gamma", 2)],
        "doc_id string, msg string, n long",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out)
    arch = JsonArchive.open(spark, out)
    got = arch.kql('msg: "alpha*"', project=["doc_id", "msg", "n"])
    assert got.columns == ["doc_id", "msg", "n"]
    row = got.first()
    assert (row["doc_id"], row["msg"], row["n"]) == ("d0", "alpha beta", 1)


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



def test_write_json_archive_user_schema_id_raises(spark, tmp_path):
    import pytest as _pytest

    from clpspark.operators.json_encode import write_json_archive

    df = spark.createDataFrame(
        [("d0", 5, "x")], "doc_id string, schema_id long, m string")
    with _pytest.raises(ValueError, match="reserved"):
        write_json_archive(df, str(tmp_path / "a"))


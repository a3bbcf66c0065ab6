"""Sources & sinks: text-log multiline ingestion, NDJSON schema ids,
text reconstruction round trip."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clpspark.corpus import detokenize
from clpspark.operators.enrich import build_logtype_dict, build_var_dict, enrich
from clpspark.operators.parse import parse_sequences
from clpspark.sources.json_logs import (
    read_ndjson,
    reconstruct_json,
    with_schema_id,
)
from clpspark.sources.reconstruct import reconstruct_text
from clpspark.sources.text_logs import assemble_events, read_text_logs

# Port of tests/test_log_files/log.txt structure (multiline fixture)
LOG_TXT = """\
2016-05-08 07:33:05.251 this is a dict var1
utc time is 2016-05-08 07:33:05.251 or local 2016-05-08 00:33:05.251
2016-05-08 07:33:05.252 123 1.9 GB out of 4.2 GB data
2016-05-08 07:33:05.253 1.1
2016-05-08 07:33:05.254 123.123
is multiline
2016-05-08 07:33:05.255 123 and 1.9 combined with a dict var2
123123 relative timestamp
"""


def test_assemble_events_multiline():
    events = assemble_events(LOG_TXT)
    # the "is multiline" line has no timestamp -> appended to previous event
    assert any("\nis multiline" in e for e in events)
    multi = [e for e in events if "123.123" in e][0]
    assert multi == "2016-05-08 07:33:05.254 123.123\nis multiline"
    # relative-timestamp line starts its own event (%#3 pattern)
    assert any(e.startswith("123123 ") for e in events)
    assert len(events) == 6


def test_read_text_logs_and_parse(spark, tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text(LOG_TXT)
    events = read_text_logs(spark, str(d))
    rows = sorted(events.collect(), key=lambda r: r["doc_id"])
    assert len(rows) == 6
    assert rows[0]["source"] == "a.log"

    from clpspark.sources.text_logs import ingest_text_logs

    parsed = {r["doc_id"]: r for r in ingest_text_logs(spark, str(d)).collect()}
    ev = parsed["a.log#00000001"]  # "123 1.9 GB out of 4.2 GB data"
    assert ev["ts"] == 1462692785252
    assert list(ev["encoded_vars"])[0] == 123


def test_ndjson_schema_ids(spark, tmp_path):
    p = tmp_path / "d.jsonl"
    rows = [
        {"a": 1, "b": "x"},
        {"a": 2, "b": "y"},
        {"a": 3},
        {"b": "z", "c": {"d": True}},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    df = read_ndjson(spark, str(p))
    got = df.select("a", "schema_id").collect()
    by_a = {}
    for r in got:
        by_a[r["a"]] = r["schema_id"]
    # rows with the same present-key set share a schema_id
    assert by_a[1] == by_a[2]
    assert by_a[3] != by_a[1]
    assert by_a[None] != by_a[3]
    n_schemas = df.select("schema_id").distinct().count()
    assert n_schemas == 3


def test_json_reconstruct_roundtrip(spark, tmp_path):
    p = tmp_path / "e.jsonl"
    rows = [{"a": 1, "b": "x"}, {"b": "y", "c": 2}]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    df = read_ndjson(spark, str(p))
    back = [json.loads(r["json"]) for r in reconstruct_json(df).collect()]
    assert sorted(back, key=str) == sorted(rows, key=str)


def test_read_ndjson_ordered_multifile_multisplit(spark, tmp_path):
    """log_event_idx must equal the original line number in each file even
    when the line scan is split into many partitions (the clp_s
    delta-encoded log-order analog, test-clp_s-delta-encode-log-order.cpp)."""
    from clpspark.sources.json_logs import (
        read_ndjson,
        read_ndjson_ordered,
        reconstruct_json_ordered,
    )

    for f in range(2):
        with open(tmp_path / f"f{f}.jsonl", "w") as fh:
            for i in range(2000):
                fh.write(json.dumps({"f": f, "i": i}) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        # split scan actually exercised (the window shuffle later coalesces)
        assert spark.read.text(str(tmp_path)).rdd.getNumPartitions() > 2
        df = read_ndjson_ordered(spark, str(tmp_path))
        rows = df.select("source_file", "log_event_idx", "i").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert len(rows) == 4000
    for r in rows:
        assert r["log_event_idx"] == r["i"], (r["source_file"], r["i"])

    # schema ids are hash-identical to the unordered reader's
    a = {r["schema_id"] for r in df.select("schema_id").distinct().collect()}
    b = {
        r["schema_id"]
        for r in read_ndjson(spark, str(tmp_path))
        .select("schema_id").distinct().collect()
    }
    assert a == b

    # ordered reconstruction returns original per-file order
    rec = reconstruct_json_ordered(df).collect()
    per_file: dict[str, list[int]] = {}
    for r in rec:
        per_file.setdefault(r["source_file"], []).append(r["log_event_idx"])
    for f, idxs in per_file.items():
        assert idxs == list(range(2000)), f


def test_ordered_decompression_write(spark, vocab_meta, small_corpus,
                                     tmp_path):
    """write_text(ordered=True): each source's text files replay the original
    log in doc order (ordered decompression; clp_s log_event_idx analog)."""
    import glob

    from clpspark.operators.enrich import build_logtype_dict, build_var_dict, enrich
    from clpspark.operators.parse import parse_sequences
    from clpspark.sources.reconstruct import write_text

    seqs = spark.read.parquet(small_corpus)
    parsed = parse_sequences(seqs, vocab_meta.vocab)
    lt, vd = build_logtype_dict(parsed), build_var_dict(parsed)
    rec = reconstruct_text(enrich(parsed, lt, vd), vd)
    out = str(tmp_path / "text_out")
    write_text(rec, out, ordered=True)

    originals = {}
    for r in seqs.collect():
        originals.setdefault(r["source"], []).append(
            (r["doc_id"], detokenize(r["tokens"], vocab_meta.vocab))
        )
    src = max(originals, key=lambda s: len(originals[s]))  # heavy hitter
    expected = [line for _, line in sorted(originals[src])]
    files = sorted(glob.glob(f"{out}/source={src}/part-*"))
    got = []
    for f in files:
        got.extend(open(f).read().splitlines())
    # range-partitioned by (source, doc_id): concatenating files in name
    # order may interleave ranges; assert per-file monotonicity + full set
    assert sorted(got) == sorted(expected)
    pos = {line: i for i, line in enumerate(expected)}
    if len(pos) == len(expected):  # monotonic check needs unique lines
        for f in files:
            lines = open(f).read().splitlines()
            ixs = [pos[ln] for ln in lines]
            assert ixs == sorted(ixs), f  # in-order within each file


def _normalize(obj):
    """jq --sort-keys analog, minus what Spark's JSON data model cannot
    represent: null-valued keys and empty containers (the reference's
    test-clp_s-end_to_end normalizes with jq; clp_s keeps empty objects,
    Spark's inferred schema drops them — a documented model delta)."""
    if isinstance(obj, dict):
        out = {}
        for k in sorted(obj):
            v = _normalize(obj[k])
            if v is None or v == {} or v == []:
                continue
            out[k] = v
        return out
    if isinstance(obj, list):
        return [_normalize(x) for x in obj]
    return obj


def test_clp_s_end_to_end_roundtrip(spark, tmp_path):
    """Port of test-clp_s-end_to_end.cpp (compress -> extract -> normalized
    diff vs input) with the reference fixture's value shapes: escaped
    clp-strings, integer type edges, booleans, nulls, 3-deep nesting."""
    clp_string = 'uid=0, CPU usage:99.99%, "user_name"=YScope'
    base = {
        "clp_string": clp_string,
        "empty_array": [],
        "empty_object": {},
        "false": False,
        "true": True,
        "null": None,
        "string": "short_string",
        "int8_min": -128, "int8_max": 127,
        "int16_min": -32768, "int16_max": 32767,
        "int32_min": -2147483648, "int32_max": 2147483647,
        "int64_edge": 9824299763229016,
        "int64_neg_edge": -9007199254740992,
    }
    rows = [
        dict(base),
        {**base, "nonempty_object": dict(base)},
        {**base, "nonempty_object": {**base, "non_empty_object2": dict(base)}},
        {**base, "string": "x" * 1000},  # long string
    ]
    p = tmp_path / "e2e.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))

    from clpspark.sources.json_logs import read_ndjson, reconstruct_json
    from clpspark.sources.json_logs import route_by_schema

    df = read_ndjson(spark, str(p))
    # compress: per-schema columnar fan-out; extract: read back + reconstruct
    arch = str(tmp_path / "arch")
    route_by_schema(df, arch)
    back = spark.read.parquet(arch)
    extracted = [json.loads(r["json"]) for r in reconstruct_json(back).collect()]

    got = sorted(json.dumps(_normalize(o), sort_keys=True) for o in extracted)
    expected = sorted(json.dumps(_normalize(o), sort_keys=True) for o in rows)
    assert got == expected


def test_text_reconstruction_roundtrip(spark, vocab_meta, small_corpus):
    """decompress(compress(x)) == x for every corpus line (incl. timestamp)."""
    seqs = spark.read.parquet(small_corpus)
    parsed = parse_sequences(seqs, vocab_meta.vocab).persist()
    lt, vd = build_logtype_dict(parsed), build_var_dict(parsed)
    enriched = enrich(parsed, lt, vd)
    lines = {r["doc_id"]: r["line"]
             for r in reconstruct_text(enriched, vd).collect()}
    originals = {
        r["doc_id"]: detokenize(r["tokens"], vocab_meta.vocab)
        for r in seqs.collect()
    }
    assert lines == originals
    # ids-only events (the routed layout) + forced huge-dict join decode:
    # identical output with no driver-side dictionary collect
    ids_only = enriched.drop("logtype", "dict_vars")
    lines_join = {
        r["doc_id"]: r["line"]
        for r in reconstruct_text(ids_only, vd, logtype_dict=lt,
                                  mode="join").collect()
    }
    assert lines_join == originals


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



def test_with_schema_id_reserved_name_raises(spark):
    import pytest as _pytest

    from clpspark.sources.json_logs import with_schema_id

    df = spark.createDataFrame([(1, 2)], "a long, schema_id long")
    with _pytest.raises(ValueError, match="reserved"):
        with_schema_id(df)



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


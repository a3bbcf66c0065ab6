"""Structured Streaming: streamed results equal batch results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clpspark.operators.aggregate import count_by_time
from clpspark.operators.enrich import build_logtype_dict, build_var_dict
from clpspark.operators.parse import parse_sequences
from clpspark.streaming.ingest import (
    stream_count_by_time,
    stream_route,
    stream_sequences,
)


def test_stream_count_by_time_matches_batch(spark, vocab_meta, small_corpus):
    parsed_stream = stream_sequences(spark, small_corpus, vocab_meta.vocab)
    assert parsed_stream.isStreaming
    agg = stream_count_by_time(parsed_stream, bucket_ms=3_600_000)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cbt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["bucket"], r["source"]): r["n_rows"]
        for r in spark.sql("SELECT * FROM cbt").collect()
    }

    batch = parse_sequences(spark.read.parquet(small_corpus), vocab_meta.vocab)
    expected = {
        (r["bucket"], r["source"]): r["n_rows"]
        for r in count_by_time(batch, 3_600_000, group_cols=("source",)).collect()
    }
    assert got == expected


def test_unknown_var_sentinel_roundtrip(spark):
    """Streaming regime: a dict-var string absent from the fixed pre-built
    dictionary must not fail the query — it maps to UNKNOWN_VAR_ID and
    decodes as the <unk> marker (both enrich strategies)."""
    from clpspark.operators.decode import UNKNOWN_VAR_MARKER, decode_messages
    from clpspark.operators.enrich import (
        UNKNOWN_VAR_ID,
        build_logtype_dict,
        build_var_dict,
        enrich,
    )
    from clpspark.operators.parse import parse_text

    known = spark.createDataFrame(
        [("k0", "s", "login user_111 ok")], "doc_id string, source string, message string"
    )
    parsed_known = parse_text(known)
    lt = build_logtype_dict(parsed_known)
    vd = build_var_dict(parsed_known)  # dictionary knows only user_111

    future = spark.createDataFrame(
        [("f0", "s", "login user_999 ok")], "doc_id string, source string, message string"
    )
    parsed_future = parse_text(future)
    for mode in ("map", "join"):
        enriched = enrich(parsed_future, lt, vd, mode=mode)
        row = enriched.first()
        assert UNKNOWN_VAR_ID in list(row["encoded_vars"]), mode
        decoded = decode_messages(enriched, vd, logtype_dict=lt,
                                  mode=mode).first()
        assert decoded["message"] == f"login {UNKNOWN_VAR_MARKER} ok", mode


def test_decode_modes_quarantine_rows(spark):
    """Both decode strategies (map: both dictionaries broadcast; join)
    reproduce encoder.decode_message over ids-only rows: escaped
    placeholder bytes, negative/edge numbers, an id absent from the var
    dictionary (<unk>), a quarantined row whose logtype lives only in
    unseen_logtype, and a logtype id with no string at all."""
    from clpspark.operators.decode import (
        UNKNOWN_LOGTYPE_MARKER,
        UNKNOWN_VAR_MARKER,
        decode_messages,
    )
    from clpspark.operators.route import UNKNOWN_LOGTYPE_ID
    from clpspark.ref import encoder as E

    msgs = [
        "job j-17 done in -42 ms ratio -0.50 at {0} \\ end\\",
        "esc\x11 \x12 \x13 raw user_7 x=.5 y=9223372036854775807",
        "only constants here",
        "user_7 and user_8 and user_9",
        "quarantined node-3 at 1.25",
    ]
    lt_ids: dict[str, int] = {}
    var_ids: dict[str, int] = {}
    rows, expected = [], {}
    for i, msg in enumerate(msgs):
        em = E.encode_message(msg)
        ev, ds = [], []
        for slot, v in enumerate(em.encoded_vars):
            if v is None:
                ds.append(slot)
            ev.append(v)
        dvs = list(em.dict_vars)
        for j, slot in enumerate(ds):
            if dvs[j] == "user_9":  # never entered into the var dictionary
                ev[slot], dvs[j] = 99_999, UNKNOWN_VAR_MARKER
            else:
                ev[slot] = var_ids.setdefault(dvs[j], len(var_ids))
        evs = [None if k in ds else v for k, v in enumerate(ev)]
        want = E.decode_message(em.logtype, evs, dvs)
        if msg.startswith("quarantined"):
            lid, unseen = UNKNOWN_LOGTYPE_ID, em.logtype
        else:
            lid, unseen = lt_ids.setdefault(em.logtype, len(lt_ids)), None
        rows.append((f"d{i}", lid, unseen, ev, ds))
        expected[f"d{i}"] = want
    rows.append(("lost", 555, None, [], []))
    expected["lost"] = UNKNOWN_LOGTYPE_MARKER
    events = spark.createDataFrame(
        rows, "doc_id string, logtype_id bigint, unseen_logtype string, "
        "encoded_vars array<bigint>, dict_slots array<int>")
    lt = spark.createDataFrame(list(lt_ids.items()),
                               "logtype string, logtype_id bigint")
    vd = spark.createDataFrame(
        [(s, i) for s, i in var_ids.items() if s != "user_9"],
        "var_str string, var_id bigint")
    assert expected["d0"] == msgs[0] and UNKNOWN_VAR_MARKER in expected["d3"]
    for mode in ("auto", "map", "join"):
        got = {r["doc_id"]: r["message"] for r in decode_messages(
            events, vd, logtype_dict=lt, mode=mode).collect()}
        assert got == expected, mode


def test_stream_route_matches_batch(spark, vocab_meta, small_corpus, tmp_path):
    batch_parsed = parse_sequences(
        spark.read.parquet(small_corpus), vocab_meta.vocab
    ).persist()
    lt = build_logtype_dict(batch_parsed).persist()
    vd = build_var_dict(batch_parsed).persist()

    out = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")
    parsed_stream = stream_sequences(spark, small_corpus, vocab_meta.vocab)
    q = stream_route(parsed_stream, out, ckpt, lt, vd).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from clpspark.streaming.ingest import read_stream_routed

    routed = read_stream_routed(spark, out)
    assert routed.count() == 1000
    # per-sink counts equal the batch per-logtype counts
    got = {
        r["logtype_id"]: r["n"]
        for r in routed.groupBy("logtype_id").agg(F.count("*").alias("n")).collect()
    }
    from clpspark.operators.enrich import enrich

    expected = {
        r["logtype_id"]: r["n"]
        for r in enrich(batch_parsed, lt, vd)
        .groupBy("logtype_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected
    # the incrementally-merged var index equals a from-scratch build over
    # the final fan-out (distinct-union per batch == global distinct)
    from clpspark.operators.route import build_var_index
    from clpspark.streaming.ingest import read_stream_var_index

    idx = read_stream_var_index(spark, out)
    assert idx is not None
    got_pairs = {(r["logtype_id"], r["var_id"]) for r in idx.collect()}
    want_pairs = {
        (r["logtype_id"], r["var_id"])
        for r in build_var_index(routed).collect()
    }
    assert got_pairs == want_pairs and got_pairs
    batch_parsed.unpersist()
    lt.unpersist()
    vd.unpersist()


def test_stream_dedup_drops_replays_and_content_dups(spark, tmp_path):
    """Streaming exact dedup == batch exact dedup on the same input:
    content duplicates (and replayed files) collapse to one survivor per
    digest; distinct docs all pass."""
    from clpspark.streaming.ingest import stream_dedup

    rows = [
        (1, "2024-01-01 00:00:01", "the same doc body"),
        (2, "2024-01-01 00:00:02", "the same doc body"),     # content dup
        (3, "2024-01-01 00:00:03", "The  SAME doc body"),    # dup after norm
        (4, "2024-01-01 00:00:04", "a different document"),
        (5, "2024-01-01 00:00:05", "yet another one"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    import json as _json

    (src / "a.json").write_text("\n".join(
        _json.dumps({"doc_id": i, "ts": t, "text": x}) for i, t, x in rows
    ))
    schema = "doc_id long, ts string, text string"
    stream = (
        spark.readStream.schema(schema).json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_dedup(stream, ts_col="ts", watermark="1 hour")
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("sdd")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM sdd").collect())
    # one survivor per normalized digest: {1|2|3}, 4, 5
    assert len(got) == 3 and got[1:] == [4, 5] and got[0] in (1, 2, 3)

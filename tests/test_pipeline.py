"""End-to-end pipeline: exact per-sink counts, routed-row equality vs oracle,
enrich-mode parity, decode round-trip after enrichment, idempotent resume."""

from __future__ import annotations

import collections
import glob
import json
import os
import re

import numpy as np
import pytest

from clpspark.corpus import detokenize
from clpspark.operators.enrich import (
    build_logtype_dict,
    build_var_dict,
    enrich,
    zip_with_index,
)
from clpspark.operators.parse import parse_sequences
from clpspark.pipeline import PipelineConfig, run_pipeline
from clpspark.ref import encoder as E
from clpspark.ref.timestamps import strip_timestamp


@pytest.fixture(scope="module")
def pipeline_result(spark, small_corpus, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("pipe"))
    cfg = PipelineConfig(input_path=small_corpus, work_dir=work)
    metrics = run_pipeline(spark, cfg)
    return cfg, metrics


def _oracle_events(pdf, vocab):
    """Reference pipeline in pure Python: logtype + dict contents per row."""
    events = []
    for _, row in pdf.iterrows():
        line = detokenize(row.tokens, vocab)
        ts, _, rest = strip_timestamp(line)
        em = E.encode_message(rest)
        events.append((row.doc_id, row.source, ts, em))
    return events


def test_per_sink_counts_exact(spark, pipeline_result, small_corpus_pdf,
                               vocab_meta):
    cfg, _ = pipeline_result
    events = _oracle_events(small_corpus_pdf, vocab_meta.vocab)
    # oracle: dense ids by sorted logtype
    logtypes = sorted({em.logtype for _, _, _, em in events})
    lt_id = {lt: i for i, lt in enumerate(logtypes)}
    expected = collections.Counter(lt_id[em.logtype] for _, _, _, em in events)

    got = {
        r["logtype_id"]: r["n_rows"]
        for r in spark.read.parquet(cfg.path("agg_sink_counts")).collect()
    }
    assert got == dict(expected)


def test_agg_sink_counts_match_routed_groupby(spark, pipeline_result):
    """agg_sink_counts comes from the route stage's audit, not a scan, and
    still has the schema and rows of a groupBy over routed/."""
    cfg, _ = pipeline_result
    want = (spark.read.parquet(cfg.path("routed")).groupBy("logtype_id")
            .count().withColumnRenamed("count", "n_rows"))
    got = spark.read.parquet(cfg.path("agg_sink_counts"))
    assert got.dtypes == want.dtypes == [("logtype_id", "int"),
                                         ("n_rows", "bigint")]
    assert sorted(got.collect()) == sorted(want.collect())


def test_empty_input_raises_before_route(spark, tmp_path):
    """A 0-row input stops with a ValueError naming the input, in both
    parse modes and in the split pipeline, before anything is routed —
    not with a schema-inference failure over an empty routed/."""
    from clpspark.corpus import SEQUENCES_SCHEMA
    from clpspark.pipeline import run_split_pipeline

    inp = str(tmp_path / "empty")
    spark.createDataFrame([], SEQUENCES_SCHEMA).write.parquet(inp)
    for durable in (True, False):
        work = str(tmp_path / f"w{int(durable)}")
        with pytest.raises(ValueError, match=re.escape(inp)):
            run_pipeline(spark, PipelineConfig(
                input_path=inp, work_dir=work, materialize_parsed=durable))
        assert not os.path.exists(os.path.join(work, "routed"))
    work = str(tmp_path / "split")
    with pytest.raises(ValueError, match=re.escape(inp)):
        run_split_pipeline(spark, PipelineConfig(input_path=inp,
                                                 work_dir=work),
                           target_rows_per_archive=100)
    assert not os.path.exists(os.path.join(work, "routed_archives"))


def test_routed_row_equality(spark, pipeline_result, small_corpus_pdf,
                             vocab_meta):
    """Every routed row decodes back to its original (ts-stripped) message and
    sits in the right sink."""
    cfg, _ = pipeline_result
    routed = spark.read.parquet(cfg.path("routed"))
    assert "logtype" not in routed.columns  # ids only, like CLP archives
    assert "dict_vars" not in routed.columns
    var_dict = {r["var_id"]: r["var_str"]
                for r in spark.read.parquet(cfg.path("var_dict")).collect()}
    lt_by_id = {r["logtype_id"]: r["logtype"]
                for r in spark.read.parquet(cfg.path("logtype_dict")).collect()}

    originals = {}
    for _, row in small_corpus_pdf.iterrows():
        line = detokenize(row.tokens, vocab_meta.vocab)
        _, _, rest = strip_timestamp(line)
        originals[row.doc_id] = rest

    rows = routed.collect()
    assert len(rows) == len(originals)
    for r in rows:
        lt = lt_by_id[r["logtype_id"]]
        dict_vars = [var_dict[v] for v, c in _dict_slots(r, lt)]
        dec = E.decode_message(lt, list(r["encoded_vars"]), dict_vars)
        assert dec == originals[r["doc_id"]], r["doc_id"]


def _dict_slots(row, lt):
    """(var_id, pos) pairs for dictionary slots, from logtype placeholders."""
    out = []
    ev = list(row["encoded_vars"])
    ix = 0
    i = 0
    while i < len(lt):
        c = lt[i]
        if c == "\\":
            i += 2
            continue
        if c == "\x12":
            out.append((ev[ix], ix))
            ix += 1
        elif c in ("\x11", "\x13"):
            ix += 1
        i += 1
    return out


def test_logtype_var_classes():
    from clpspark.operators.route import logtype_var_classes

    assert logtype_var_classes(" INFO heartbeat seq \x11 ok") == ["i"]
    assert logtype_var_classes("a \x12 b \x13 c \x11") == ["d", "f", "i"]
    # escaped placeholder bytes are constants, not slots
    assert logtype_var_classes("esc\\\x11literal \x11") == ["i"]


def test_columnarize_logtype(spark, pipeline_result, small_corpus_pdf,
                             vocab_meta):
    """GLT layout: the heartbeat logtype's int slot equals the value in the
    original line."""
    import re

    from clpspark.operators.route import columnarize_logtype

    cfg, _ = pipeline_result
    routed = spark.read.parquet(cfg.path("routed"))
    lt_dict = spark.read.parquet(cfg.path("logtype_dict"))
    hb = lt_dict.where(
        lt_dict.logtype == " INFO heartbeat seq \x11 ok"
    ).first()
    got = {
        r["doc_id"]: r["ivar_0"]
        for r in columnarize_logtype(routed, lt_dict, hb["logtype_id"]).collect()
    }
    rx = re.compile(r"^ INFO heartbeat seq (0|-?[1-9][0-9]*) ok$")
    expected = {}
    for _, row in small_corpus_pdf.iterrows():
        line = detokenize(row.tokens, vocab_meta.vocab)
        _, _, rest = strip_timestamp(line)
        m = rx.match(rest)
        if m and -(2**63) <= int(m.group(1)) < 2**63:
            expected[row.doc_id] = int(m.group(1))
    assert got == expected and got


def test_enrich_modes_agree(spark, small_corpus, vocab_meta):
    df = spark.read.parquet(small_corpus)
    parsed = parse_sequences(df, vocab_meta.vocab).persist()
    lt = build_logtype_dict(parsed)
    vd = build_var_dict(parsed)
    a = enrich(parsed, lt, vd, mode="map")
    b = enrich(parsed, lt, vd, mode="join")
    ka = {r["doc_id"]: (r["logtype_id"], list(r["encoded_vars"]),
                        list(r["var_ids"])) for r in a.collect()}
    kb = {r["doc_id"]: (r["logtype_id"], list(r["encoded_vars"]),
                        list(r["var_ids"])) for r in b.collect()}
    parsed.unpersist()
    assert ka == kb


def test_auto_mode_switches_on_bytes(spark, monkeypatch):
    """A dictionary of huge strings selects the join strategy well below the
    entry cap (driver must never collect it)."""
    import clpspark.operators.decode as D

    monkeypatch.setattr(D, "AUTO_MAP_MAX_BYTES", 1000)
    small = spark.createDataFrame(
        [("x" * 10, 0)], "var_str string, var_id bigint"
    )
    huge = spark.createDataFrame(
        [("x" * 2000, 0)], "var_str string, var_id bigint"
    )
    cols = ["var_str", "var_id"]
    assert D.driver_rows(small, cols, "var_str", "auto") == [("x" * 10, 0)]
    assert D.driver_rows(huge, cols, "var_str", "auto") is None


def test_zip_with_index_dense_and_deterministic(spark):
    vals = [f"v{i:03d}" for i in range(57)]
    df = spark.createDataFrame([(v,) for v in vals * 3], ["x"])
    out1 = {r["x"]: r["xid"] for r in zip_with_index(df, "x", "xid", 3).collect()}
    out2 = {r["x"]: r["xid"] for r in zip_with_index(df, "x", "xid", 7).collect()}
    assert out1 == out2  # parallelism-invariant
    assert sorted(out1.values()) == list(range(57))  # dense
    assert out1[min(vals)] == 0 and out1[max(vals)] == 56  # sorted order


def test_dict_build_orders_like_spark(spark, monkeypatch):
    """The driver build's ids (sorted in Python) equal the past-the-gate
    ``_zip_with_index`` ids (sorted by Spark) on values that mix the
    placeholder bytes, accented, CJK and astral characters, the empty
    string and prefix pairs; the stats agree and a null value gets no id."""
    import clpspark.operators.decode as D
    from clpspark.operators.enrich import _build_dict

    vals = ["a\x11b", "a\x12b", "a\x13b", "\x11", "\x12x", "\x13",
            "é", "e", "ée", "é\x11", "中", "中文", "日本", "\U0001F600",
            "\U0001F600\U0001F600", "\uffff", "z", "", "ab", "abc", "a",
            "A", "task_1", "task_10", "task_2", None]
    counted = spark.createDataFrame(
        [(v, i + 1) for i, v in enumerate(vals)],
        "var_str string, n_occurrences bigint")

    def build():
        df, stats, ids = _build_dict(counted, "var_str", "var_id",
                                     "n_occurrences")
        return sorted(map(tuple, df.collect())), stats, ids

    rows, stats, ids = build()
    assert ids == {r[0]: r[1] for r in rows}
    assert [r[0] for r in rows] == sorted(v for v in vals if v is not None)
    monkeypatch.setattr(D, "AUTO_MAP_MAX_ENTRIES", 0)
    zrows, zstats, zids = build()
    assert zids is None
    assert zrows == rows and zstats == stats
    assert stats == {"entries": len(vals) - 1,
                     "value_bytes": sum(len(v) for v in vals if v),
                     "carried": sum(range(1, len(vals)))}


def test_dicts_stage_fallback_equals_driver_build(spark, small_corpus,
                                                  tmp_path, monkeypatch):
    """Past the residency gate (``decode.AUTO_MAP_MAX_ENTRIES`` forced to
    0) the dicts stage builds through ``_zip_with_index``: it writes
    row-equal dictionary tables and commits the same stats as the driver
    build."""
    import clpspark.operators.decode as D
    from clpspark.lineage import LineageLog

    def dicts(name: str):
        cfg = PipelineConfig(input_path=small_corpus,
                             work_dir=str(tmp_path / name),
                             materialize_parsed=False)
        run_pipeline(spark, cfg, resume=False)
        m = LineageLog(cfg.work_dir).metrics("dicts")
        m.pop("sec")
        return m, {t: sorted(map(tuple, spark.read.parquet(
            cfg.path(t)).collect())) for t in ("logtype_dict", "var_dict")}

    driver = dicts("driver")
    monkeypatch.setattr(D, "AUTO_MAP_MAX_ENTRIES", 0)
    fallback = dicts("fallback")
    assert fallback == driver
    assert driver[0]["n_rows"] == 1000 and driver[1]["var_dict"]


def test_resume_is_idempotent(spark, pipeline_result):
    cfg, first = pipeline_result
    lineage = json.load(open(os.path.join(cfg.work_dir, "_lineage.json")))
    stamps = {s: e["committed_at"] for s, e in lineage["stages"].items()}

    second = run_pipeline(spark, cfg, resume=True)
    lineage2 = json.load(open(os.path.join(cfg.work_dir, "_lineage.json")))
    stamps2 = {s: e["committed_at"] for s, e in lineage2["stages"].items()}
    assert stamps == stamps2  # nothing re-ran
    # metrics (incl. per-sink audit) unchanged
    assert first["route"]["sinks"] == second["route"]["sinks"]


def test_route_salting_spreads_heavy_sink(spark, tmp_path):
    """Frequency-aware salting: the zipf heavy-hitter sink spreads across
    multiple files (no single straggler task) while rare sinks stay in one
    file each (no small-file explosion); every row lands in its sink dir."""
    import glob

    from pyspark.sql import functions as F

    from clpspark.operators.route import route

    rows = []
    for i in range(40_000):
        sink = 0 if i % 10 < 8 else (1 + i % 3)  # sink 0 = 80% of rows
        rows.append((f"d{i:07d}", sink, i))
    df = spark.createDataFrame(rows, "doc_id string, logtype_id int, ts long")
    out = str(tmp_path / "routed")
    counts = df.groupBy("logtype_id").agg(F.count("*").alias("n_rows"))
    route(df, out, num_partitions=8, sink_counts=counts, rows_per_task=4_000)

    heavy_files = glob.glob(f"{out}/logtype_id=0/*.parquet")
    assert len(heavy_files) >= 4  # spread over several salt buckets
    for s in (1, 2, 3):
        rare_files = glob.glob(f"{out}/logtype_id={s}/*.parquet")
        assert len(rare_files) <= 2  # no small-file explosion
    back = spark.read.parquet(out)
    got = {r["logtype_id"]: r["n"] for r in
           back.groupBy("logtype_id").agg(F.count("*").alias("n")).collect()}
    expected = {r["logtype_id"]: r["n_rows"] for r in counts.collect()}
    assert got == expected


def test_dictionary_stats_values(spark, pipeline_result, small_corpus_pdf,
                                 vocab_meta):
    """dictionary_stats over routed data equals the pure-Python rollup
    (n_rows / n_vars / n_dict_vars / ts range per logtype) — the pytest
    oracle backing the driver's rows-only clp_dict_stats entry."""
    from clpspark.operators.aggregate import dictionary_stats

    cfg, _ = pipeline_result
    routed = spark.read.parquet(cfg.path("routed"))
    got = {
        r["logtype_id"]: (r["n_rows"], r["n_vars"], r["n_dict_vars"],
                          r["begin_ts"], r["end_ts"])
        for r in dictionary_stats(routed).collect()
    }

    events = _oracle_events(small_corpus_pdf, vocab_meta.vocab)
    logtypes = sorted({em.logtype for _, _, _, em in events})
    lt_id = {lt: i for i, lt in enumerate(logtypes)}
    expected: dict = {}
    for _, _, ts, em in events:
        lid = lt_id[em.logtype]
        n, nv, nd, b, e = expected.get(lid, (0, 0, 0, None, None))
        n += 1
        nv += len(em.encoded_vars)
        nd += len(em.dict_vars)
        if ts is not None:
            b = ts if b is None else min(b, ts)
            e = ts if e is None else max(e, ts)
        expected[lid] = (n, nv, nd, b, e)
    assert got == expected


def test_job_status_machine(spark, pipeline_result):
    """The reference's poll-able job state: all stages 'done' after a run;
    a stage stuck in 'running' (crash) is treated as not-done by resume."""
    from clpspark.lineage import LineageLog

    cfg, _ = pipeline_result
    log = LineageLog(cfg.work_dir)
    assert set(log.job_status().values()) == {"done"}
    log.begin("aggregate", cfg.fp("aggregate"))
    assert log.job_status()["aggregate"] == "running"
    assert not log.is_done("aggregate", cfg.fp("aggregate"))
    run_pipeline(spark, cfg, resume=True)  # re-runs only the crashed stage
    assert log.job_status()["aggregate"] == "done"


def test_resume_after_partial_failure(spark, small_corpus, tmp_path):
    """Kill the lineage entry for aggregate -> only aggregate re-runs."""
    work = str(tmp_path / "w")
    cfg = PipelineConfig(input_path=small_corpus, work_dir=work)
    m1 = run_pipeline(spark, cfg)
    from clpspark.lineage import LineageLog

    LineageLog(work).invalidate("aggregate")
    m2 = run_pipeline(spark, cfg, resume=True)
    assert m1["route"]["sinks"] == m2["route"]["sinks"]
    got = {r["logtype_id"]: r["n_rows"]
           for r in spark.read.parquet(cfg.path("agg_sink_counts")).collect()}
    assert sum(got.values()) == 1000


def test_source_stats_match_input(spark, pipeline_result, small_corpus_pdf):
    cfg, _ = pipeline_result
    stats = {r["source"]: (r["n_rows"], r["sum_n_tok"])
             for r in spark.read.parquet(cfg.path("agg_source_stats")).collect()}
    grp = small_corpus_pdf.groupby("source")["n_tok"]
    expected = {s: (int(g.count()), int(g.sum())) for s, g in grp}
    assert stats == expected


def test_two_pass_mode_equals_materialized(spark, small_corpus, tmp_path):
    """Throughput mode (no intermediate parquet) produces identical sinks."""
    from clpspark.pipeline import PipelineConfig, run_pipeline

    m1 = run_pipeline(
        spark,
        PipelineConfig(input_path=small_corpus, work_dir=str(tmp_path / "a"),
                       materialize_parsed=True),
        resume=False,
    )
    m2 = run_pipeline(
        spark,
        PipelineConfig(input_path=small_corpus, work_dir=str(tmp_path / "b"),
                       materialize_parsed=False),
        resume=False,
    )
    assert m1["route"]["sinks"] == m2["route"]["sinks"]


def test_compression_level_knob(spark, vocab_meta, tmp_path):
    """clp --compression-level analog: the knob reaches the parquet zstd
    codec PER WRITER (r5: no session-global hadoop conf mutation — see
    test_round5_fixes.test_zstd_level_is_per_write_not_session_global),
    archives stay readable, and results are level-independent."""
    from clpspark.corpus import SEQUENCES_SCHEMA, generate_pdf
    from clpspark.pipeline import PipelineConfig, run_pipeline

    pdf = generate_pdf(np.arange(2000), vocab_meta, seed=42)
    inp = str(tmp_path / "seq")
    spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA).write.parquet(inp)

    import subprocess

    sizes = {}
    for lvl in (3, 19):
        work = str(tmp_path / f"w{lvl}")
        run_pipeline(spark, PipelineConfig(
            input_path=inp, work_dir=work, compression_level=lvl,
        ))
        sizes[lvl] = int(subprocess.check_output(
            ["du", "-sb", f"{work}/routed"]).split()[0])
        n = spark.read.parquet(f"{work}/routed").count()
        assert n == 2000
    assert sizes[19] <= sizes[3]


def test_route_quarantines_unseen_logtype(spark, tmp_path):
    """A row whose logtype is absent from a FIXED pre-built dictionary
    (streaming regime) must survive route + decode verbatim, not crash
    (enrich.UNKNOWN_VAR_ID contract)."""
    from clpspark.operators.decode import decode_messages
    from clpspark.operators.enrich import enrich
    from clpspark.operators.route import UNKNOWN_LOGTYPE_ID, route

    parsed = spark.createDataFrame(
        [
            ("d1", "known \x11 line", [7], [], []),
            ("d2", "UNSEEN \x12 line", [0], ["alpha"], [0]),
        ],
        "doc_id string, logtype string, encoded_vars array<bigint>, "
        "dict_vars array<string>, dict_slots array<int>",
    )
    lt_dict = spark.createDataFrame(
        [("known \x11 line", 0)], "logtype string, logtype_id bigint"
    )
    var_dict = spark.createDataFrame(
        [("alpha", 5)], "var_str string, var_id bigint"
    )
    enriched = enrich(parsed, lt_dict, var_dict, mode="map")
    out = str(tmp_path / "routed")
    route(enriched, out, salt=1)
    routed = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in routed.collect()}
    assert rows["d2"]["logtype_id"] == UNKNOWN_LOGTYPE_ID
    assert rows["d2"]["unseen_logtype"] == "UNSEEN \x12 line"
    assert rows["d1"]["unseen_logtype"] is None
    decoded = {
        r["doc_id"]: r["message"]
        for r in decode_messages(routed, var_dict, logtype_dict=lt_dict).collect()
    }
    assert decoded["d1"] == "known 7 line"
    assert decoded["d2"] == "UNSEEN alpha line"


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


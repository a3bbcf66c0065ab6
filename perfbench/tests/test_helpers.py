"""Unit tests for the benchmark's own helpers (no Spark session needed).

Run from the root of a checkout: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import queries as Q  # noqa: E402
from perfbench import stats  # noqa: E402
from perfbench import trace as T  # noqa: E402

EVENT_LOG = os.path.join(os.path.dirname(__file__), "data",
                         "eventlog_tiny.jsonl")


# ------------------------------------------------------- percentile rule

@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    values = list(range(n, 0, -1))  # unsorted input
    pct, value = stats.tail(values)
    assert sum(1 for v in values if v > value) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - stats.TAIL_BEYOND) / n)


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert stats.tail([1.0] * n) is None


def test_tail_of_hundred_is_p90():
    pct, value = stats.tail([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert stats.union_length(stats.clip([(0, 10)], 2, 5)) == 3


# -------------------------------------------------------- wildcard oracle

@pytest.mark.parametrize("query,text,hit", [
    ("a*e", "abcde", True),
    ("a\\*e", "a*e", True),          # escaped star is literal
    ("a\\*e", "abe", False),
    ("a?c", "abc", True),
    ("a\\?c", "abc", False),         # escaped question mark is literal
    ("a\\?c", "a?c", True),
    ("back\\\\slash", "back\\slash", True),   # literal backslash
    ("back\\\\slash", "backslash", False),
    ("x\\yz", "xyz", True),          # escaping a plain char keeps the char
    ("abc\\", "abc", True),          # trailing lone escape is dropped
    ("* 42 *", "done 42 ms", True),
    ("* 42 *", "done 420 ms", False),
    ("*", "", True),
    ("a.b", "axb", False),           # regex metacharacters stay literal
])
def test_wildcard_oracle_escapes(query, text, hit):
    assert (Q.wildcard_regex(query).fullmatch(text) is not None) is hit


def test_escape_round_trips_through_the_oracle():
    for literal in ["a*e", "a\\*e", "APet4123\\test.txt", "q?", "plain"]:
        assert Q.oracle_count(Q.escape(literal), [literal, literal + "x"]) == 1


def test_query_round_is_seeded_and_mixed():
    from clpspark.corpus import build_vocab

    meta = build_vocab(5)
    present = list(range(meta.off_int, meta.off_word))
    a = Q.query_round(5, meta, present)
    assert a == Q.query_round(5, meta, present)
    assert a != Q.query_round(6, meta, present)
    assert a != Q.query_round(5, meta, present, index=1)
    assert sorted(q.kind for q in a) == sorted(
        Q.NEEDLE_KINDS + Q.HAYSTACK_KINDS)
    # no query carries an escape (see the dict_ids note in query_round)
    assert not any("\\" in q.text for q in a)
    assert [q.text for q in a if q.kind == "logtype"] == [
        "* INFO Task * completed in * ms"]


# ------------------------------------------------------- event-log folding

def _fold(spans):
    events = T.load_event_log(EVENT_LOG)
    lo = min(e.get("time", e.get("Submission Time", 2**62))
             for e in events) / 1000
    return T.fold(events, spans, (lo - 1, lo + 60))


def test_fold_attributes_executions_by_written_then_read_table():
    layers, totals, execs = _fold([])
    by_id = {x.id: x.layer for x in execs}
    # 1: parse spill write; 8: count over logtype_dict (read key);
    # 13: route write; 18: aggregate write
    assert by_id == {1: "parse", 8: "enrich.dicts", 13: "route",
                     18: "aggregate"}
    assert {k: v["jobs"] for k, v in layers.items()} == {
        "parse": 2, "enrich.dicts": 2, "route": 4, "aggregate": 2}
    assert totals["jobs"] == 10 and totals["task_retries"] == 0
    m = T.layer_metrics(layers)
    x1 = next(x for x in execs if x.id == 1)
    assert m["parse.wall_s"] == pytest.approx(x1.end - x1.start)
    # the spill write's two recorded tasks: JVM CPU plus Python worker time
    parse_tasks = layers["parse"]["tasks"]
    assert m["parse.cpu_s"] == pytest.approx(
        sum(t["Task Metrics"]["Executor CPU Time"] for t in parse_tasks) / 1e9
        + (453 + 485) / 1e3)
    assert m["parse.rows_out"] > 0 and m["route.bytes_out"] > 0


def test_fold_span_beats_read_table_and_outer_span_is_ignored():
    layers, _totals, execs = _fold([])
    x8 = next(x for x in execs if x.id == 8)
    outer = T.Span("r", 1, None, "run_pipeline", T.OUTER, x8.start - 30,
                   x8.start + 30)
    inner = T.Span("r", 2, 1, "collect_file_stats_and_var_index",
                   "snapshots.stats", x8.start - 0.01, x8.end + 0.01)
    layers, totals, execs = _fold([outer, inner])
    by_id = {x.id: x.layer for x in execs}
    assert by_id[8] == "snapshots.stats"
    assert by_id[13] == "route"  # a written table still wins over spans
    assert T.OUTER not in layers
    assert totals["covered_s"] < outer.end - outer.start


def test_self_time_subtracts_children():
    spans = [T.Span("r", 1, None, "a", "x", 0.0, 10.0),
             T.Span("r", 2, 1, "b", "y", 1.0, 4.0),
             T.Span("r", 3, 1, "c", "y", 3.0, 6.0)]
    assert T.self_times(spans) == {1: 5.0, 2: 3.0, 3: 3.0}


def test_table_of_uses_innermost_known_component():
    assert T.table_of("file:/w/b1/routed/logtype_id=3/part-0.parquet") \
        == "routed"
    assert T.table_of("/w/corpus/b001") == "corpus"
    assert T.table_of("/w/elsewhere") is None


def test_stage_brackets_follow_lineage_calls():
    def sp(i, name, a, b, layer="lineage"):
        return T.Span("r", i, None, name, layer, a, b)

    spans = [sp(1, "commit parse", 1.0, 1.5), sp(2, "begin dicts", 2.0, 2.1),
             sp(3, "commit dicts", 3.0, 3.1), sp(4, "begin route", 4.0, 4.1),
             sp(5, "route", 4.5, 5.0, "route"), sp(6, "commit route", 6.0, 6.5)]
    assert T.stage_brackets(spans, 0.0) == [
        ("parse", 0.0, 1.5), ("enrich.dicts", 2.0, 3.1), ("route", 4.0, 6.5)]
    assert T._subtract((0.0, 10.0), [(2, 3), (1, 2.5), (9, 12)]) == [
        (0.0, 1), (3, 9)]


def test_fold_books_unclaimed_bracket_time_to_the_stage():
    events = T.load_event_log(EVENT_LOG)
    _l, _t, execs = _fold([])
    x8 = next(x for x in execs if x.id == 8)  # reads logtype_dict
    lo = x8.start - 2
    spans = [T.Span("r", 1, None, "begin dicts", "lineage", lo, lo + 0.01),
             T.Span("r", 2, None, "commit dicts", "lineage", x8.end + 1,
                    x8.end + 1.01)]
    hi = x8.end + 1.01
    layers, totals, _x = T.fold(events, spans, (lo, hi))
    m = T.layer_metrics(layers)
    # the lineage calls keep their own 2 x 10 ms; the stage gets the rest
    assert m["lineage.wall_s"] == pytest.approx(0.02)
    assert m["enrich.dicts.wall_s"] == pytest.approx(hi - lo - 0.02)
    assert totals["covered_s"] == pytest.approx(hi - lo)


def test_instrument_wraps_and_restores_the_pipeline_calls(tmp_path):
    import clpspark.pipeline
    from clpspark.lineage import LineageLog

    before = clpspark.pipeline.route, LineageLog.begin
    tracer = T.Tracer("t")
    with T.instrument(tracer):
        assert clpspark.pipeline.route is not before[0]
        LineageLog(str(tmp_path)).begin("dicts", "fp")
    assert (clpspark.pipeline.route, LineageLog.begin) == before
    assert [(s.name, s.layer) for s in tracer.spans] == [
        ("begin dicts", "lineage")]

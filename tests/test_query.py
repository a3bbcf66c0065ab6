"""Query-layer goldens: KQL subset (port of tests/test-clp_s-search.cpp
golden table) and wildcard grep with dictionary pre-filter."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from clpspark.operators.enrich import build_logtype_dict, build_var_dict, enrich
from clpspark.operators.parse import parse_sequences
from clpspark.plans.grep import GrepEngine, _logtype_like_pattern, _query_tokens
from clpspark.plans.kql import kql_filter
from clpspark.corpus import detokenize
from clpspark.ref.timestamps import strip_timestamp
from clpspark.ref.wildcard import wildcard_match


# ---------------------------------------------------------------- KQL corpus
@pytest.fixture(scope="module")
def search_df(spark):
    """Port of tests/test_log_files/test_search.jsonl (13 rows, idx 0-12).

    Adaptation: rows 7 (array of structs) and 8 (plain struct) share one
    column in the reference's dynamic schema; Spark needs one type per
    column, so row 8's object is represented as a single-element array —
    same ANY-element match semantics (QueryRunner.cpp:302-307).
    """
    rows = [
        {"idx": 0, "a": "clp string"},
        {"idx": 1, "msg": 'Msg 1: "Abc123"'},
        {"idx": 2, "msg": "Msg 2: 'Abc123'"},
        {"idx": 3, "msg": "Msg 3: \nAbc123"},
        {"idx": 4, "skip_msg": "Msg 4: \\Abc123"},
        {"idx": 5, "msg": "Msg 5: \rAbc123"},
        {"idx": 6, "msg": "Msg 6: \tAbc123"},
        {"idx": 7, "arr": [{"a": 999, "b": None}, {"a": None, "b": 1001}]},
        {"idx": 8, "arr": [{"a": 999, "b": 1001}]},
        {"idx": 9, "var_string": "a", "clp_string": "a b", "float": 1.1,
         "int": 1, "bool": True, "obj": ("x", 5),
         "a.b": ("y",), "tsm": 1462692785251},
        {"idx": 10, "ambiguous_varstring": "abcde", "obj": ("x", 99),
         "tsm": 1462692785000},
        {"idx": 11, "ambiguous_varstring": "ae", "tsm": 1462692786000},
        {"idx": 12, "ambiguous_varstring": "a*e"},
    ]
    schema = (
        "idx long, a string, msg string, skip_msg string, "
        "arr array<struct<a: long, b: long>>, var_string string, "
        "clp_string string, float double, int long, bool boolean, "
        "ambiguous_varstring string, obj struct<c: string, d: long>, "
        "`a.b` struct<c: string>, tsm long"
    )
    return spark.createDataFrame(
        [tuple(r.get(k) for k in
               ["idx", "a", "msg", "skip_msg", "arr", "var_string",
                "clp_string", "float", "int", "bool", "ambiguous_varstring",
                "obj", "a.b", "tsm"])
         for r in rows],
        schema,
    ).cache()


GOLDENS = [
    ("NOT a: b", {0}),
    (r'msg: "Msg 1: \"Abc123\""', {1}),
    ("msg: \"Msg 2: 'Abc123'\"", {2}),
    (r'msg: "Msg 3: \nAbc123"', {3}),
    (r'msg: "Msg 5: \rAbc123"', {5}),
    (r'msg: "Msg 6: \tAbc123"', {6}),
    ('msg: "*Abc123*"', {1, 2, 3, 5, 6}),
    ("arr.b > 1000", {7, 8}),
    ("var_string: *", {9}),
    ("clp_string: *", {9}),
    ('ambiguous_varstring: "a*e"', {10, 11, 12}),
    (r'ambiguous_varstring: "a\*e"', {12}),
    # literal backslash in the value: must not hit Spark LIKE's escape-char
    # pitfalls (the reference skips this case due to its own Grep bug; see
    # test-clp_s-search.cpp "Msg 4")
    (r'skip_msg: "Msg 4: \\Abc123"', {4}),
    (r'skip_msg: "*\\Abc123*"', {4}),
    # nested object queries (Kql.g4 NestedQuery; kql.cpp prepend_column)
    ("obj: {c: x AND d: 5}", {9}),
    ("obj: {c: x}", {9, 10}),
    ("obj: {c: x AND NOT d: 99}", {9}),
    # value lists (Kql.g4 list_of_values): bare = OR, NOT = AND of negations
    ("idx: (0 OR 1)", {0, 1}),
    ("idx: (OR 0 1)", {0, 1}),  # the reference grammar's prefix condition
    ("idx: (10 11 12)", {10, 11, 12}),
    ("obj.d: (NOT 99)", {9}),
    ("obj.d: (AND 5)", {9}),
    # date() literals (DateLiteral.cpp known-ts-pattern parse) vs epoch ms
    ('tsm >= date("2016-05-08 07:33:05.251")', {9, 11}),
    ('tsm < date("2016-05-08 07:33:05.251")', {10}),
    ('tsm: date("2016-05-08 07:33:05.251")', {9}),
    # escaped dots in column descriptors (test-kql.cpp escaped columns)
    (r"a\.b: {c: y}", {9}),
    (r"a\.b.c: y", {9}),
    # extra coverage beyond the reference table
    ("int: 1 AND float > 1.0", {9}),
    ("idx: 0 OR idx: 1", {0, 1}),
    ("bool: true", {9}),
    ("(idx: 7 OR idx: 8) AND arr.a: 999", {7, 8}),
    ("idx >= 10 AND NOT ambiguous_varstring: ae", {10, 12}),
]


@pytest.mark.parametrize("query,expected", GOLDENS)
def test_kql_goldens(search_df, query, expected):
    got = {r["idx"] for r in kql_filter(search_df, query).select("idx").collect()}
    assert got == expected, query


@pytest.mark.parametrize("query,expected", [
    ('msg: "MSG 1*"', {1}),
    ('ambiguous_varstring: "ABCDE"', {10}),
    ('obj: {c: X}', {9, 10}),
])
def test_kql_case_insensitive(search_df, query, expected):
    assert not {r["idx"] for r in
                kql_filter(search_df, query).select("idx").collect()}
    got = {r["idx"] for r in
           kql_filter(search_df, query, case_sensitive=False)
           .select("idx").collect()}
    assert got == expected, query


# ------------------------------------------------------------------ grep
@pytest.fixture(scope="module")
def grep_setup(spark, vocab_meta, small_corpus):
    return _grep_engine(spark.read.parquet(small_corpus), vocab_meta)


def _grep_engine(df, vocab_meta):
    parsed = parse_sequences(df, vocab_meta.vocab).persist()
    lt = build_logtype_dict(parsed)
    vd = build_var_dict(parsed)
    events = enrich(parsed, lt, vd, mode="map").persist()
    engine = GrepEngine(events, lt, vd)
    # oracle message list
    msgs = {}
    for r in df.collect():
        line = detokenize(r["tokens"], vocab_meta.vocab)
        ts, _, rest = strip_timestamp(line)
        msgs[r["doc_id"]] = (ts, rest)
    return engine, msgs


def _oracle_matches(msgs, query, ignore_case=False, tge=None, tle=None):
    from clpspark.ref.wildcard import clean_up_wildcard_search_string

    q = clean_up_wildcard_search_string(query)
    out = set()
    for doc_id, (ts, rest) in msgs.items():
        if tge is not None and (ts is None or ts < tge):
            continue
        if tle is not None and (ts is None or ts > tle):
            continue
        if q == "*" or wildcard_match(rest, q, case_sensitive=not ignore_case):
            out.add(doc_id)
    return out


GREP_QUERIES = [
    ("*heartbeat*", {}),
    ("* INFO Task * completed in * ms", {}),
    ("*connection*", {"ignore_case": True}),
    ("*Connection*", {}),
    ("* user=* latency * ms", {}),
    ("*cache hit ratio *.*", {}),
    ("*nonexistent_token_xyz*", {}),
    ("*", {}),
    ("* checksum * verified*", {}),
    ("*esc\x11const*", {}),
    # literal backslash in a logtype constant and in a dict var: the LIKE
    # translation must bail to rlike instead of emitting a lone '\'
    (r"*back\\slash pass*", {}),
    (r"*APet4123\\test.txt*", {}),
]


@pytest.mark.parametrize("query,kw", GREP_QUERIES)
def test_grep_matches_oracle(grep_setup, query, kw):
    engine, msgs = grep_setup
    got = {r["doc_id"] for r in engine.search(query, **kw).collect()}
    expected = _oracle_matches(msgs, query, **kw)
    assert got == expected, query


def _fullmatch_regex(query: str):
    """Independent wildcard translation: ``\\x`` is the literal x, ``*``
    any run, ``?`` any one character."""
    import re

    out, i = [], 0
    while i < len(query):
        c = query[i]
        if c == "\\" and i + 1 < len(query):
            out.append(re.escape(query[i + 1]))
            i += 2
            continue
        out.append({"*": ".*", "?": "."}.get(c, re.escape(c)))
        i += 1
    return re.compile("".join(out), re.DOTALL)


@pytest.fixture(scope="module")
def backslash_setup(spark, vocab_meta, small_corpus):
    """The 1k corpus with every dictionary-variable token of about a fifth
    of the rows replaced by the vocabulary's backslash-holding variable."""
    from pyspark.sql import functions as F

    m = vocab_meta
    apet = m.vocab.index("APet4123\\test.txt")

    def swap(t):
        is_dict = (t >= m.off_dict) & (t < m.off_dict + m.n_dict)
        return F.when(is_dict, F.lit(apet)).otherwise(t)

    df = spark.read.parquet(small_corpus).withColumn(
        "tokens",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0,
               F.transform("tokens", swap))
        .otherwise(F.col("tokens")),
    ).localCheckpoint(eager=True)
    return _grep_engine(df, vocab_meta)


@pytest.mark.parametrize("query", [
    # a dictionary variable holding a backslash, bounded by delimiters:
    # the dictionary probe must see the unescaped token
    r"* APet4123\\test.txt *",
    r"*APet4123\\test.txt *",
])
def test_grep_escaped_backslash_dict_var(backslash_setup, query):
    engine, msgs = backslash_setup
    rx = _fullmatch_regex(query)
    expected = sum(1 for _ts, rest in msgs.values() if rx.fullmatch(rest))
    assert expected > 0
    assert engine.search(query).count() == expected


def test_grep_prefilter_equals_postfilter(grep_setup):
    engine, _ = grep_setup
    for query in ["*heartbeat*", "* INFO Task * completed in * ms",
                  "*cache hit ratio *"]:
        a = {r["doc_id"] for r in engine.search(query, prefilter=True).collect()}
        b = {r["doc_id"] for r in engine.search(query, prefilter=False).collect()}
        assert a == b, query


def test_grep_time_range(grep_setup):
    engine, msgs = grep_setup
    tss = sorted(ts for ts, _ in msgs.values() if ts is not None)
    tge, tle = tss[len(tss) // 4], tss[3 * len(tss) // 4]
    got = {r["doc_id"] for r in engine.search("*", tge=tge, tle=tle).collect()}
    expected = _oracle_matches(msgs, "*", tge=tge, tle=tle)
    assert got == expected


def test_grep_exact_int_var_prefilter(grep_setup):
    """Query containing a specific int value uses the encoded-var pre-filter."""
    engine, msgs = grep_setup
    # pick an int var that actually occurs
    import re

    for _, (ts, rest) in sorted(msgs.items()):
        m = re.search(r" (\d{3,}) ms$", rest)
        if m:
            val = m.group(1)
            break
    else:
        pytest.skip("no int token found")
    q = f"* {val} ms"
    got = {r["doc_id"] for r in engine.search(q).collect()}
    assert got == _oracle_matches(msgs, q)
    assert got  # at least the row we found


def test_query_token_extraction():
    toks = _query_tokens("* 4938 ms")
    assert ("4938", True) in toks
    toks = _query_tokens("*partial*")
    assert toks == [("partial", False)]


def test_logtype_pattern_keeps_constants():
    pat = _logtype_like_pattern("* INFO Task * completed in * ms")
    assert "INFO" in pat and "Task" in pat and "completed" in pat


def test_grep_float_var_prefilter(grep_setup):
    """A float token in the query pre-filters via its bit-exact encoding."""
    import re

    engine, msgs = grep_setup
    for _, (ts, rest) in sorted(msgs.items()):
        m = re.search(r"ratio (\d+\.\d+) ", rest)
        if m:
            val = m.group(1)
            break
    else:
        pytest.skip("no float token found")
    q = f"*cache hit ratio {val} for shard *"
    got = {r["doc_id"] for r in engine.search(q).collect()}
    assert got == _oracle_matches(msgs, q)
    assert got


def test_grep_dict_var_prefilter(grep_setup):
    """A dictionary token in the query pre-filters via its var-dict id."""
    import re

    engine, msgs = grep_setup
    for _, (ts, rest) in sorted(msgs.items()):
        m = re.search(r"container (\S+) with", rest)
        # avoid tokens containing wildcard/escape metachars: they change
        # meaning inside a query string (separate escaping tests cover that path)
        if m and not any(c in m.group(1) for c in "*?\\"):
            tok = m.group(1)
            break
    else:
        pytest.skip("no container token found")
    q = f"* container {tok} with image *"
    got = {r["doc_id"] for r in engine.search(q).collect()}
    assert got == _oracle_matches(msgs, q)
    assert got


def test_grep_join_decode_matches_map(grep_setup, spark, vocab_meta,
                                      small_corpus):
    """Huge-dict regime: ids-only events + forced join mode (Spark-side
    probes and join decode, no collect of either dictionary) return the
    same matches as the map engine, whose probes answer from its driver
    maps — for haystacks, dict, number and absent needles, and
    case-insensitive queries."""
    import re

    engine, msgs = grep_setup
    df = spark.read.parquet(small_corpus)
    parsed = parse_sequences(df, vocab_meta.vocab)
    lt = build_logtype_dict(parsed)
    vd = build_var_dict(parsed)
    events = enrich(parsed, lt, vd).drop("logtype", "dict_vars")
    engine_join = GrepEngine(events, lt, vd, decode_mode="join")
    rests = [rest for _, (_ts, rest) in sorted(msgs.items())]
    tok = next(m.group(1) for m in map(
        re.compile(r"container (\S+) with").search, rests)
        if m and not any(c in m.group(1) for c in "*?\\"))
    val = next(m.group(1) for m in map(
        re.compile(r" (\d{3,}) ms$").search, rests) if m)
    queries = [
        ("*heartbeat*", False, True),
        ("* INFO Task * completed in * ms", False, True),
        (r"*back\\slash pass*", False, True),
        (f"* container {tok} with image *", False, True),  # dict needle
        (f"* {val} ms", False, True),  # number needle
        ("* zzz_absent_var9 *", False, False),  # absent needle
        ("*connection*", True, True),
        (f"* CONTAINER {tok.upper()} WITH image *", True, True),
    ]
    for q, ic, nonempty in queries:
        got = {(r["doc_id"], r["message"])
               for r in engine_join.search(q, ignore_case=ic).collect()}
        expected = {(r["doc_id"], r["message"])
                    for r in engine.search(q, ignore_case=ic).collect()}
        assert got == expected, q
        assert bool(got) == nonempty, q
        assert {d for d, _ in got} == _oracle_matches(msgs, q, ic), q
    assert engine._dicts.mode == "map"
    d = engine_join._dicts
    assert d.mode == "join" and d.var_map is None and d.decoder is None
    assert not d.logtypes_resolved  # the logtype dictionary stayed put


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_residency_gate_agrees_across_decode_enrich_grep(spark, monkeypatch):
    """decode_messages, enrich and GrepEngine resolve map vs join through
    one gate, so they agree on every dictionary pair. A logtype dictionary
    of 100,001 entries fits ``map_fits`` under the default gates: all three
    pick map and decode plans no join. With ``AUTO_MAP_MAX_*`` below the
    var dictionary's size all three take the join path, with the same
    output."""
    import clpspark.operators.decode as D
    from pyspark.sql import functions as F

    from clpspark.ref import encoder as E

    msgs = {f"d{i:02d}": f"task t{i % 4} finished for user_{i % 3} "
                         f"in {7 * i} ms" for i in range(40)}
    msgs["d40"] = "disk node-7 low at 0.25 ratio"
    parsed_rows, lts, var_ids = [], {}, {}
    for doc_id, msg in sorted(msgs.items()):
        em = E.encode_message(msg)
        slots = [k for k, v in enumerate(em.encoded_vars) if v is None]
        for v in em.dict_vars:
            var_ids.setdefault(v, len(var_ids))
        lts.setdefault(em.logtype, len(lts))
        parsed_rows.append((doc_id, em.logtype,
                            [v or 0 for v in em.encoded_vars], slots,
                            list(em.dict_vars)))
    parsed = spark.createDataFrame(
        parsed_rows, "doc_id string, logtype string, "
        "encoded_vars array<bigint>, dict_slots array<int>, "
        "dict_vars array<string>")
    n_logtypes = 100_001
    lt = spark.createDataFrame(list(lts.items()),
                               "logtype string, logtype_id bigint").union(
        spark.range(len(lts), n_logtypes).select(
            F.concat(F.lit("filler "), F.col("id").cast("string")),
            F.col("id")))
    vd = spark.createDataFrame(list(var_ids.items()),
                               "var_str string, var_id bigint")
    queries = ["* user_1 *", "*finished*", "* in 35 ms", "* node-7 *",
               "* user_9 *"]

    def run(path: str):
        enriched = enrich(parsed, lt, vd)
        assert ("posexplode" in _plan(enriched)) == (path == "join")
        events = enriched.drop("logtype", "dict_vars").localCheckpoint()
        decoded = D.decode_messages(events, vd, logtype_dict=lt)
        assert ("Join" in _plan(decoded)) == (path == "join")
        eng = GrepEngine(events, lt, vd)
        assert eng._resolve_decode().mode == path
        cols = ["doc_id", "logtype_id", "encoded_vars", "var_ids"]
        return (sorted(map(tuple, enriched.select(cols).collect())),
                {r["doc_id"]: r["message"] for r in decoded.collect()},
                {q: sorted(r["doc_id"] for r in eng.search(q).collect())
                 for q in queries})

    enriched, decoded, found = run("map")
    assert decoded == msgs
    assert found["* user_1 *"] and found["* node-7 *"]
    assert not found["* user_9 *"]
    assert len(found["*finished*"]) == 40
    monkeypatch.setattr(D, "AUTO_MAP_MAX_ENTRIES", len(var_ids) - 1)
    monkeypatch.setattr(D, "AUTO_MAP_MAX_BYTES", 1)
    assert run("join") == (enriched, decoded, found)


def test_logtype_dict_byte_gate_spark_probe(spark, vocab_meta, tmp_path,
                                            monkeypatch):
    """Past the driver-residency gate (``decode.map_fits``, forced down
    through ``decode.AUTO_MAP_MAX_*``) the logtype wildcard probe must run
    as a filtered Spark scan with identical search results."""
    import clpspark.operators.decode as D
    import clpspark.plans.grep as G
    from clpspark.corpus import write_corpus
    from clpspark.pipeline import PipelineConfig, run_pipeline

    inp = str(tmp_path / "seq")
    write_corpus(spark, inp, n_rows=3000, seed=11, partitions=2)
    work = str(tmp_path / "work")
    run_pipeline(spark, PipelineConfig(input_path=inp, work_dir=work))

    queries = ["* error *", "*disk_low*", "* user=* action=login *",
               "session *", "* zzz_nothing *"]

    eng_small = G.GrepEngine._from_work_dir_uncached(spark, work)
    baseline = {q: sorted(r["doc_id"]
                          for r in eng_small.search(q).select("doc_id").collect())
                for q in queries}
    assert eng_small._logtype_entries() is not None  # small path taken
    assert any(baseline.values())  # at least one query matches something

    monkeypatch.setattr(D, "AUTO_MAP_MAX_ENTRIES", 1)
    eng_big = G.GrepEngine._from_work_dir_uncached(spark, work)
    assert eng_big._logtype_entries() is None  # gate forced the fallback
    for q in queries:
        got = sorted(r["doc_id"]
                     for r in eng_big.search(q).select("doc_id").collect())
        assert got == baseline[q], q
    # over-wide probes degrade to unconstrained, never to empty
    monkeypatch.setattr(G, "LOGTYPE_PROBE_MAX_IDS", 0)
    eng_cap = G.GrepEngine._from_work_dir_uncached(spark, work)
    got = sorted(r["doc_id"]
                 for r in eng_cap.search("* error *").select("doc_id").collect())
    assert got == baseline["* error *"]


def test_grep_state_resolves_once_under_threads(grep_setup):
    """Concurrent first queries on a cold engine race their dictionary
    collects, but publish ONE decoder and one inverse map per case mode:
    every thread gets the same objects, and they answer like the warm
    engine."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    engine, _ = grep_setup
    cold = GrepEngine(engine.events, engine._lt_df, engine._vd_df)

    def first_query(ignore_case):
        return (ignore_case, cold._resolve_decode().decoder,
                cold._inverse_var_map(ignore_case))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            futs = [ex.submit(first_query, i % 2 == 0) for i in range(16)]
            got = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert len({id(dec) for _, dec, _ in got}) == 1
    for case in (False, True):
        invs = {id(inv) for ic, _, inv in got if ic == case}
        assert len(invs) == 1
        assert next(inv for ic, _, inv in got if ic == case) == \
            engine._inverse_var_map(case)


def test_ordered_subsequence_prefilter(spark):
    """Query vars must match as an in-order subsequence (Query.cpp
    matches_vars), not unordered membership."""
    from clpspark.plans.grep import _ordered_subsequence_pred

    df = spark.createDataFrame(
        [("inorder", [12, 99, 34]), ("reversed", [34, 99, 12]),
         ("gap-ok", [5, 12, 7, 34, 9]), ("missing", [12, 12]),
         ("dup", [12, 12, 34])],
        "name string, encoded_vars array<bigint>",
    )
    pred = _ordered_subsequence_pred([[12], [34]])
    got = {r["name"] for r in df.where(pred).collect()}
    assert got == {"inorder", "gap-ok", "dup"}
    # duplicates consume distinct positions
    pred2 = _ordered_subsequence_pred([[12], [12]])
    got2 = {r["name"] for r in df.where(pred2).collect()}
    assert got2 == {"missing", "dup"}
    # multi-value requirement (case-insensitive dict ids)
    pred3 = _ordered_subsequence_pred([[11, 12], [33, 34]])
    got3 = {r["name"] for r in df.where(pred3).collect()}
    assert got3 == {"inorder", "gap-ok", "dup"}


def test_grep_limit(grep_setup):
    engine, msgs = grep_setup
    total = len(_oracle_matches(msgs, "*heartbeat*"))
    assert total > 5
    limited = engine.search("*heartbeat*", limit=5).collect()
    assert len(limited) == 5
    assert {r["doc_id"] for r in limited} <= _oracle_matches(msgs, "*heartbeat*")


def test_grep_count_and_count_by_time(grep_setup):
    engine, msgs = grep_setup
    q = "*heartbeat*"
    expected_ids = _oracle_matches(msgs, q)
    assert engine.count(q).first()["n_rows"] == len(expected_ids)
    buckets = {}
    for did in expected_ids:
        ts, _ = msgs[did]
        if ts is not None:
            b = ts // 3_600_000 * 3_600_000
            buckets[b] = buckets.get(b, 0) + 1
    got = {r["bucket"]: r["n_rows"]
           for r in engine.count_by_time(q, 3_600_000).collect()}
    assert got == buckets


def test_topk_latest_windowed_equals_plain(grep_setup):
    """Early-exit windowed top-k returns exactly the plain top-k (both
    orderings deterministic), for small windows (multiple widenings) and
    for k beyond the match count (full-range fallback)."""
    engine, _ = grep_setup
    for q, k, win in [("*heartbeat*", 10, 60_000), ("*heartbeat*", 10**6, 60_000),
                      ("*", 25, 1)]:
        a = [(r["doc_id"], r["ts"])
             for r in engine.topk_latest(q, k).collect()]
        b = [(r["doc_id"], r["ts"])
             for r in engine.topk_latest_windowed(q, k, window_ms=win).collect()]
        assert a == b, (q, k, win)


def test_grep_source_filter(grep_setup):
    engine, msgs = grep_setup
    all_rows = engine.search("*").select("doc_id", "source").collect()
    some_source = all_rows[0]["source"]
    got = {r["doc_id"] for r in
           engine.search("*", source=some_source).collect()}
    expected = {r["doc_id"] for r in all_rows if r["source"] == some_source}
    assert got == expected and got


def test_kql_garbage_queries_fail_cleanly(spark):
    """Full-parser robustness: 300 seeded garbage queries either compile
    or raise a clean error (ValueError for syntax, KeyError for unknown
    columns) — no other exception class reaches the user."""
    import random
    import string

    from clpspark.plans.kql import kql_filter

    df = spark.createDataFrame(
        [(1, "a", True)], "num long, s string, b boolean"
    )
    rng = random.Random(77)
    alphabet = string.printable
    for _ in range(300):
        q = "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(1, 25))
        )
        try:
            kql_filter(df, q)
        except (ValueError, KeyError):
            pass


def _python_eval(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def _bench_kind_queries(eng) -> dict[str, str]:
    """One query per benchmark kind over the 1k archive: logtype haystack,
    ``*frag*`` substring, dict needle and number needle."""
    import re

    msgs = [r["message"] for r in eng.search("*").select("message").collect()]
    var = next(m.group(1) for m in map(
        re.compile(r" INFO Task (task_\d+) completed").search, msgs) if m)
    num = next(m.group(1) for m in map(
        re.compile(r" INFO heartbeat seq (-?\d+) ok").search, msgs) if m)
    return {"logtype": "* INFO Task * completed in * ms",
            "substring": f"*{var[:6]}*",
            "dict": f"* {var} *",
            "number": f"* {num} *"}


def test_definite_count_plans_have_no_python_node(spark, small_archive):
    """Every benchmark query kind counts through JVM predicates alone: the
    optimized plan of search(q).count() has no Python eval node, only the
    definite branch remains, and the count equals the unpruned search. A
    query that needs the final wildcard check keeps its decode UDF."""
    eng = GrepEngine.from_work_dir(spark, small_archive, decode_mode="auto")
    for kind, q in _bench_kind_queries(eng).items():
        df = eng.search(q)
        plan = eng.last_plan
        assert not _python_eval(df.agg(F.count("*"))), (kind, q)
        assert plan["possible"] is False, (kind, plan)
        assert plan["definite_logtypes"] or plan["definite_slots"], kind
        n = df.count()
        assert n > 0 and n == eng.search(q, prefilter=False).count(), kind
    # '1' inside a number: int slots have no finite value set
    df = eng.search("*1*")
    assert eng.last_plan["possible"] is True
    assert _python_eval(df.agg(F.count("*")))
    assert df.count() == eng.search("*1*", prefilter=False).count()


def test_definite_split_leaves_non_ascii_case_folding_to_final_check():
    """Under ignore_case a non-ASCII var string (a JSON VarString, say)
    leaves dict slots without a definite value set: Python and the JVM
    may fold its case apart, so those rows keep the final check."""
    from clpspark.plans.definite import Analysis, parse_logtype

    items = parse_logtype("x \x12 y")[0]
    inverse = {"abc": [1], "\u03a3ab": [2]}
    assert Analysis("*ab*", False, inverse, 10).logtype(items) == (
        False, [(0, "\x12", [1, 2])], True)
    assert Analysis("*ab*", True, {"abc": [1], "\u03c3ab": [2]},
                    10).logtype(items) == (False, [], False)


@pytest.mark.parametrize("mode", ["map", "join"])
def test_grep_decision_record(spark, small_archive, mode):
    """last_plan records the decode path and the split of each search:
    forced map splits the logtype haystack into definite logtypes with no
    possible branch; forced join keeps every candidate on the final
    check."""
    eng = GrepEngine.from_work_dir(spark, small_archive, decode_mode=mode)
    q = "* INFO Task * completed in * ms"
    n = eng.search(q).count()
    plan = eng.last_plan
    assert plan["decode_mode"] == mode
    assert plan["decode_reason"] == f"forced {mode}"
    if mode == "map":
        assert plan["definite_logtypes"] and plan["possible"] is False
        assert plan["sinks"] == len(plan["definite_logtypes"])
    else:
        assert plan["definite_logtypes"] == [] and plan["possible"] is True
        assert plan["definite_slots"] == 0
    assert n == eng.search(q, prefilter=False).count() > 0
    auto = GrepEngine.from_work_dir(spark, small_archive, decode_mode="auto")
    auto.search(q)
    assert auto.last_plan["decode_reason"] == (
        "both dictionaries fit decode.map_fits")


def test_prefiltered_search_reaches_quarantine(spark, tmp_path):
    """Default (prefiltered) search must still FIND quarantined rows: the
    unseen-logtype sink can't be probed via the logtype dictionary, so the
    candidate-sink list always includes it (prefilter = pure superset)."""
    from clpspark.operators.enrich import enrich
    from clpspark.operators.route import route
    from clpspark.plans.grep import GrepEngine

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
    eng = GrepEngine(spark.read.parquet(out), lt_dict, var_dict)
    for q in ("*UNSEEN*", "* alpha *", "*UNSEEN alpha*"):
        pre = {r["doc_id"] for r in eng.search(q).select("doc_id").collect()}
        full = {
            r["doc_id"]
            for r in eng.search(q, prefilter=False).select("doc_id").collect()
        }
        assert pre == full == {"d2"}, q


def test_topk_latest_windowed_accepts_time_bounds(spark, small_corpus, vocab_meta):
    from clpspark.operators.enrich import build_logtype_dict, build_var_dict, enrich
    from clpspark.operators.parse import parse_sequences
    from clpspark.plans.grep import GrepEngine

    parsed = parse_sequences(
        spark.read.parquet(small_corpus), vocab_meta.vocab
    )
    lt, vd = build_logtype_dict(parsed), build_var_dict(parsed)
    events = enrich(parsed, lt, vd)
    eng = GrepEngine(events, lt, vd)
    bounds = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    tge, tle = bounds["lo"], bounds["hi"] - 1
    plain = eng.topk_latest("*", 5, tge=tge, tle=tle)
    windowed = eng.topk_latest_windowed("*", 5, tge=tge, tle=tle)
    assert [r["doc_id"] for r in windowed.collect()] == [
        r["doc_id"] for r in plain.collect()
    ]

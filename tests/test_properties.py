"""Property-based fuzzing of the pure-Python reference layer (hypothesis).

The reference pins its encoders with golden matrices; these properties pin
the INVARIANTS the engine relies on for arbitrary inputs: encode/decode
round trips, wildcard-translation agreement, timestamp re-rendering,
kv-IR wire-format round trips and grep's definite-match analysis. All but
one are pure functions, fast; ``test_search_count_equals_oracle`` searches
a small pipeline archive through Spark.
"""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clpspark.ref import encoder as E
from clpspark.ref import kv_ir_format as KV
from clpspark.ref.wildcard import (
    wildcard_match,
    wildcard_to_java_regex,
    wildcard_to_like,
)

# printable-ish text incl. the placeholder bytes (escaping must handle them)
_TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",)
    ),
    max_size=120,
)


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_encode_decode_roundtrip(msg):
    em = E.encode_message(msg)
    assert E.decode_message(em.logtype, em.encoded_vars, em.dict_vars) == msg


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_int_encode_roundtrip(v):
    s = str(v)
    iv = E.encode_int(s)
    assert iv is not None and str(iv) == s


@settings(max_examples=300, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
def test_float_encode_is_exact_when_representable(x):
    s = repr(x)
    fv = E.encode_float(s)
    if fv is not None:
        assert E.decode_float(fv) == s
    # never silently misparse: if rejected, the token becomes a dict var,
    # which round-trips verbatim through encode_message
    em = E.encode_message(f"v {s} end")
    assert E.decode_message(em.logtype, em.encoded_vars, em.dict_vars) == (
        f"v {s} end"
    )


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_wildcard_self_and_star(s):
    assert wildcard_match(s, "*")
    # a query of the string itself with its wildcard chars escaped matches
    esc = s.replace("\\", "\\\\").replace("*", "\\*").replace("?", "\\?")
    assert wildcard_match(s, esc)


@settings(max_examples=300, deadline=None)
@given(_TEXT, _TEXT)
def test_wildcard_translations_agree(hay, fragment):
    """LIKE / Java-regex translations must agree with the reference
    matcher for the workhorse pattern shape *fragment*."""
    import re

    pat = f"*{fragment}*"
    want = wildcard_match(hay, pat)
    jre = wildcard_to_java_regex(pat)
    # Java regex subset used by the translator is PCRE-compatible here
    assert bool(re.fullmatch(jre, hay, flags=re.DOTALL)) == want
    like = wildcard_to_like(pat)
    if like is not None:
        rx = "".join(
            "(?s:.*)" if ch == "%" else ("." if ch == "_" else re.escape(ch))
            for ch in like
        )
        assert bool(re.fullmatch(rx, hay)) == want


_JSON = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=40),
    ),
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(st.text(max_size=12), inner, max_size=4),
    ),
    max_leaves=12,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.dictionaries(st.text(max_size=10), _JSON, max_size=4),
                min_size=1, max_size=4))
def test_kv_ir_wire_roundtrip(events):
    ser = KV.KvIrSerializer(four_byte=True)
    for i, ev in enumerate(events):
        ser.serialize_event({"timestamp": 1_462_690_000_000 + i}, ev)
    ser.eof()
    stream = KV.deserialize_kv_ir_stream(ser.take())
    assert len(stream.events) == len(events)
    for want, got in zip(events, stream.events):
        assert _norm(got.user_gen) == _norm(want)


def _norm(v):
    """Compare with float tolerance-free equality but unify -0.0/0.0 and
    int-valued floats the wire encodes exactly."""
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, float):
        assert not math.isnan(v)
        return v
    return v


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=4_102_444_800_000),  # 1970..2100
    st.integers(min_value=0, max_value=10**6),
)
def test_timestamp_render_strip_roundtrip(epoch_ms, pat_seed):
    """Render a timestamp where its pattern expects it (after
    num_spaces_before_ts spaces — CLP's placement rule), then strip: SOME
    pattern must match, and re-inserting the matched pattern's rendering
    at the recorded position must reproduce the line exactly (the
    decompression identity; first-match-wins may pick an earlier
    equivalent pattern)."""
    from clpspark.ref import timestamps as TS

    ix = pat_seed % len(TS.KNOWN_TS_PATTERNS)
    pat = TS.KNOWN_TS_PATTERNS[ix]
    prefix = "x " * pat.num_spaces_before_ts
    line = prefix + TS.format_timestamp(ix, epoch_ms) + " INFO body"
    ts, mix, b, rest = TS.strip_timestamp_pos(line)
    assert ts is not None, line
    rendered = TS.format_timestamp(mix, ts)
    assert rest[:b] + rendered + rest[b:] == line


@settings(max_examples=300, deadline=None)
@given(_TEXT, st.data())
def test_logtype_prefilter_is_sound(msg, data):
    """The grep pre-filter's logtype LIKE pattern must be a SUPERSET: any
    message matching the wildcard query must have a logtype matching the
    derived pattern (rows are only ever dropped by provably-safe rules)."""
    from clpspark.plans.grep import _logtype_like_pattern, _sql_like_match
    from clpspark.ref.wildcard import clean_up_wildcard_search_string

    if not msg:
        return
    i = data.draw(st.integers(min_value=0, max_value=len(msg) - 1))
    j = data.draw(st.integers(min_value=i + 1, max_value=len(msg)))
    frag = (
        msg[i:j].replace("\\", "\\\\").replace("*", "\\*").replace("?", "\\?")
    )
    q = clean_up_wildcard_search_string(f"*{frag}*")
    if q == "*" or not wildcard_match(msg, q):
        return
    em = E.encode_message(msg)
    assert _sql_like_match(_logtype_like_pattern(q))(em.logtype), (msg, q)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(
                alphabet=st.characters(codec="utf-8",
                                       exclude_categories=("Cs",),
                                       exclude_characters=".*?\\[](){}|^$+"),
                min_size=1, max_size=6,
            ),
            st.just("."),
            st.just(".*"),
        ),
        max_size=6,
    ),
    _TEXT,
)
def test_regex_translation_agrees(parts, hay):
    """A translatable regex and its wildcard translation accept the same
    strings (the reference's regex->wildcard contract)."""
    import re

    from clpspark.ref.regex_translate import (
        RegexTranslationError,
        regex_to_wildcard,
    )

    regex = "".join(parts)
    try:
        wild = regex_to_wildcard(regex, add_prefix_suffix_wildcards=False)
    except RegexTranslationError:
        return
    want = bool(re.fullmatch(f"(?s:{regex})", hay)) if regex else hay == ""
    assert wildcard_match(hay, wild) == want, (regex, wild, hay)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1_000_000_000_000,
                        max_value=2_000_000_000_000),
            _TEXT,
        ),
        min_size=1,
        max_size=5,
    ),
    st.booleans(),
)
def test_ir_wire_roundtrip(events, four_byte):
    """Legacy IR stream: serialize arbitrary (ts, message) events, read
    them back, decode each logtype+vars — exact text and ts identity
    (incl. the 4-byte delta chain and 4->8 variable upgrade)."""
    from clpspark.ref import ir_format as IR

    stream = IR.deserialize_ir_stream(
        IR.serialize_ir_stream(events, four_byte=four_byte)
    )
    assert len(stream.events) == len(events)
    for (ts, msg), ev in zip(events, stream.events):
        assert ev.ts == ts
        # the read path's 4->8-byte upgrade (placeholder-driven: 4-byte
        # float payloads re-pack; raw wire values are NOT 8-byte decodable)
        lt, evars, dvars, _ = IR.upgrade_event(ev, stream.four_byte)
        assert E.decode_message(lt, evars, dvars) == msg


_WILD_PARTS = st.lists(
    st.one_of(
        st.just("*"),
        st.just("?"),
        st.just("\\*"),
        st.just("\\?"),
        st.just("\\\\"),
        st.text(max_size=5),
    ),
    max_size=8,
)


@settings(max_examples=500, deadline=None)
@given(_WILD_PARTS, _TEXT)
def test_wildcard_translations_agree_general(parts, hay):
    """ARBITRARY wildcard patterns (stars, ?, escapes, unicode) must agree
    between the reference matcher and both executable translations — this
    is the final-filter path every search result passes through."""
    import re

    from clpspark.ref.wildcard import clean_up_wildcard_search_string

    pat = clean_up_wildcard_search_string("".join(parts))
    if not pat:
        return
    want = wildcard_match(hay, pat)
    jre = wildcard_to_java_regex(pat)
    assert bool(re.fullmatch(jre, hay, flags=re.DOTALL)) == want, (pat, hay)
    like = wildcard_to_like(pat)
    if like is not None:
        rx = "".join(
            "(?s:.*)" if ch == "%" else ("(?s:.)" if ch == "_"
                                         else re.escape(ch))
            for ch in like
        )
        assert bool(re.fullmatch(rx, hay)) == want, (pat, like, hay)


@settings(max_examples=400, deadline=None)
@given(_TEXT)
def test_kql_lexer_total(q):
    """The KQL lexer is total up to clean ValueErrors: arbitrary garbage
    never escapes as IndexError/KeyError/etc. (users get a parse error,
    not a stack trace)."""
    from clpspark.plans.kql import _lex

    try:
        toks = _lex(q)
    except ValueError:
        return
    assert isinstance(toks, list)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=40))
def test_kql_descriptor_split_total(path):
    from clpspark.plans.kql import _split_descriptor

    try:
        parts = _split_descriptor(path)
    except ValueError:
        return
    assert all(isinstance(p, str) for p in parts)


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_grok_parse_decodes_back(msg):
    """Schema-tokenizer events decode back exactly: the logtype escaping +
    placeholder/var bookkeeping is a lossless pair (log-surgeon analog of
    the heuristic round trip)."""
    from clpspark.operators.grok import ParseSchema, parse_with_schema

    schema = ParseSchema.from_schema_text(
        "int:\\-{0,1}[0-9]+\n"
        "double:\\-{0,1}[0-9]+\\.[0-9]+\n"
        "word:[A-Za-z]+[0-9]+[A-Za-z0-9]*\n"
    )
    ts_text, logtype, evars, dvars, dslots, _rules = parse_with_schema(
        msg, schema
    )
    assert ts_text is None  # no timestamp line in this schema
    # fill dict slots with sentinel-free alignment, then decode
    enc = list(evars)
    for s, v in zip(dslots, dvars):
        enc[s] = None
    assert E.decode_message(logtype, enc, dvars) == msg


# ---- range index ($-namespace pruning) --------------------------------------

_META_KEY = st.sampled_from(["_filename", "_archive_creator_id", "_k"])
_META_VAL = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=12
)
_PATTERN = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=8
).map(lambda s: s if "*" in s or "?" in s else s + "*")


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.dictionaries(_META_KEY, _META_VAL,
                                                      max_size=3)),
        max_size=6,
    ),
    st.dictionaries(_META_KEY, _PATTERN, max_size=2),
    st.booleans(),
)
def test_range_index_match_equals_brute_force(sizes_fields, filters, cs):
    """match_ranges + range_predicate select exactly the rows a brute-force
    per-row metadata evaluation selects (ranges built over contiguous
    synthetic doc ids)."""
    from clpspark.range_index import match_ranges
    from clpspark.ref.wildcard import wildcard_match

    ranges, rows, next_id = [], [], 0
    for n, fields in sizes_fields:
        if n == 0:
            continue
        ids = [f"doc{j:06d}" for j in range(next_id, next_id + n)]
        next_id += n
        ranges.append({"s": ids[0], "e": ids[-1], "n": n, "f": fields})
        rows.extend((i, fields) for i in ids)

    matched = match_ranges(ranges, filters, case_sensitive=cs)
    got = {
        i for i, _ in rows
        if any(r["s"] <= i <= r["e"] for r in matched)
    }
    want = {
        i for i, fields in rows
        if all(
            fields.get(k) is not None
            and wildcard_match(str(fields[k]), str(p), case_sensitive=cs)
            for k, p in filters.items()
        )
    }
    assert got == want


# logtype bytes incl. every placeholder, the escape byte and str.format's
# braces; a logtype may end in a lone escape
_LOGTYPE = st.text(alphabet="ab {}.:\\\x11\x12\x13", max_size=40)
_FLOAT_STR = st.from_regex(r"\A-?[0-9]{0,9}\.[0-9]{1,9}\Z")


@settings(max_examples=500, deadline=None)
@given(_LOGTYPE, st.data())
def test_template_decode_equals_decode_message(logtype, data):
    """Compiled-template decode (both UDF row shapes) is bit-exact with
    encoder.decode_message: escaped placeholders, trailing escapes,
    negative and edge floats, and unknown dict ids (<unk>)."""
    from clpspark.operators import decode as D

    tpl = D.compile_logtype(logtype)
    kinds = [c for i, c in enumerate(logtype)
             if c in "\x11\x12\x13"
             and (len(logtype[:i]) - len(logtype[:i].rstrip("\\"))) % 2 == 0]
    var_map = {7: "known", 8: "{x}", 9: "\\"}
    ev_full: list[int] = []  # every slot's int64 (dict slots: the id)
    evs: list[int | None] = []  # decode_message's shape (dict slots: None)
    dvs: list[str] = []
    for k in kinds:
        if k == "\x11":
            v = data.draw(st.integers(-(2**63), 2**63 - 1))
        elif k == "\x13":
            v = data.draw(_FLOAT_STR.map(E.encode_float).filter(
                lambda x: x is not None))
        else:
            vid = data.draw(st.sampled_from([7, 8, 9, 123456, -1]))
            ev_full.append(vid)
            evs.append(None)
            dvs.append(var_map.get(vid, D.UNKNOWN_VAR_MARKER))
            continue
        ev_full.append(v)
        evs.append(v)
    expected = E.decode_message(logtype, evs, dvs)
    # join-mode row: dict strings arrive in slot order
    assert D.render(tpl, ev_full, dvs) == expected
    # map-mode row: dict slots resolve through the var map
    assert D.render(tpl, ev_full, [
        var_map.get(ev_full[s], D.UNKNOWN_VAR_MARKER) for s in tpl[2]
    ]) == expected


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_template_decode_roundtrip(msg):
    """encode_message output decodes back through its compiled template."""
    from clpspark.operators import decode as D

    em = E.encode_message(msg)
    ev = [0 if v is None else v for v in em.encoded_vars]
    assert D.render(D.compile_logtype(em.logtype), ev, em.dict_vars) == msg


# pieces of the messages the definite-match analysis is checked over: ints,
# floats, dict vars (incl. ones with '-' and '.'), hex, '='-vars, plain
# words, delimiters, wildcard/escape/placeholder bytes and a non-ASCII
# delimiter
_MSG_PIECES = ["a", "ab", "Task", "task_12", "task_123", "node-5.dc", "9",
               "19", "-9", "1.5", "-0.25", "12.50", "0x1f", "abc", "007",
               "=ab", " ", " ", " ", ":", ",", "*", "?", "\\", "é", "\x11"]
_MSGS = st.lists(st.lists(st.sampled_from(_MSG_PIECES), min_size=1,
                          max_size=8).map("".join), min_size=1, max_size=6)


def _escape_wild(text: str) -> str:
    return re.sub(r"([\\*?])", r"\\\1", text)


@st.composite
def _query_over(draw, msgs):
    """A wildcard query built from fragments of the messages: escaped
    literal runs, '*', '?', and tokens that sit next to a wildcard."""
    parts = []
    for _ in range(draw(st.integers(1, 4))):
        kind = draw(st.sampled_from(["frag", "frag", "*", "?", "text"]))
        if kind == "frag":
            m = draw(st.sampled_from(msgs))
            i = draw(st.integers(0, len(m) - 1))
            j = draw(st.integers(i + 1, len(m)))
            parts.append(_escape_wild(m[i:j]))
        elif kind == "text":
            parts.append(draw(st.sampled_from(["9", "a", " ", "task", "\\",
                                               "1.5", "x"])))
        else:
            parts.append(kind)
    q = "".join(parts)
    if draw(st.booleans()):
        q = "*" + q
    if draw(st.booleans()):
        q = q + "*"
    return q


@settings(max_examples=600, deadline=None)
@given(_MSGS, st.data(), st.booleans())
def test_definite_split_agrees_with_wildcard_match(msgs, data, ignore_case):
    """plans.definite on encoded messages: a definite row (definite-all
    logtype, or a slot value in its definite set) always matches the
    query; an exhaustive logtype has no other matching row; a logtype
    classified as unmatchable has none at all."""
    from clpspark.plans.definite import Analysis, parse_logtype
    from clpspark.ref.wildcard import clean_up_wildcard_search_string

    q = clean_up_wildcard_search_string(data.draw(_query_over(msgs)))
    if ignore_case and not (q.isascii() and all(m.isascii() for m in msgs)):
        return  # the engine skips the split there
    ems = [E.encode_message(m) for m in msgs]
    var_ids = {s: i for i, s in enumerate(sorted(
        {s for em in ems for s in em.dict_vars}))}
    inverse: dict[str, list[int]] = {}
    for s, i in var_ids.items():
        inverse.setdefault(s.lower() if ignore_case else s, []).append(i)
    an = Analysis(q, ignore_case, inverse, max_ids=10_000)
    for m, em in zip(msgs, ems):
        dict_vars = iter(em.dict_vars)
        slots = [v if v is not None else var_ids[next(dict_vars)]
                 for v in em.encoded_vars]
        actual = wildcard_match(m, q, case_sensitive=not ignore_case)
        res = an.logtype(parse_logtype(em.logtype)[0])
        if res is None:
            assert not actual, (m, q)
            continue
        all_match, terms, exhaustive = res
        definite = all_match or any(slots[k] in vals for k, _ph, vals in terms)
        if definite:
            assert actual, (m, q, res)
        elif exhaustive:
            assert not actual, (m, q, res)


def _oracle_rx(query: str, ignore_case: bool) -> re.Pattern:
    """Raw wildcard query -> regex for re.fullmatch, written apart from
    clpspark.ref.wildcard: '\\' quotes the next character (a trailing one
    is dropped), '*' is any run, '?' one character."""
    if ignore_case:
        query = query.lower()
    out, i = [], 0
    while i < len(query):
        c = query[i]
        if c == "\\":
            out.append(re.escape(query[i + 1]) if i + 1 < len(query) else "")
            i += 2
            continue
        out.append(".*" if c == "*" else "." if c == "?" else re.escape(c))
        i += 1
    return re.compile("".join(out), re.DOTALL)


@pytest.fixture(scope="module")
def archive_search(spark, small_archive):
    """Map- and join-mode engines over one archive and its decoded rows."""
    from clpspark.plans.grep import GrepEngine

    eng = GrepEngine.from_work_dir(spark, small_archive, decode_mode="auto")
    join = GrepEngine.from_work_dir(spark, small_archive, decode_mode="join")
    msgs = [r["message"] for r in eng.search("*").select("message").collect()]
    return eng, join, msgs


@settings(max_examples=30, deadline=None)
@given(st.data(), st.booleans())
def test_search_count_equals_oracle(archive_search, data, ignore_case):
    """search(q).count() over a pipeline archive equals an re.fullmatch
    count over its decoded rows for random wildcard queries (fragments of
    real messages, '*', '?', escapes, numbers and dict-var pieces next to
    a wildcard), in map mode (definite/possible split) and join mode."""
    eng, join, msgs = archive_search
    q = data.draw(_query_over(msgs))
    rx = _oracle_rx(q, ignore_case)
    want = sum(1 for m in msgs
               if rx.fullmatch(m.lower() if ignore_case else m))
    assert eng.search(q, ignore_case=ignore_case).count() == want, q
    assert eng.last_plan["decode_mode"] == "map"
    assert join.search(q, ignore_case=ignore_case).count() == want, q

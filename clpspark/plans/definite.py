"""Definite matches: which rows of a logtype match a wildcard query, decided
from the logtype text and the row's encoded variables alone.

CLP compiles a query into subqueries and decompresses a message for the
final ``wildcard_match`` only when a subquery says
``wildcard_match_required`` (clp/GrepCore.hpp:148-265, 328-422,
clp/Grep.cpp:81-140). This module is that split for one map-mode engine:
for each candidate logtype it works out, on the driver,

  - **definite-all**: every message of the logtype matches, whatever its
    variable values — the query matches the logtype text when each
    placeholder may only be consumed by a query ``*``;
  - **definite slots**: rows match when the variable in slot ``k`` is one
    of a known set of encoded values — the query matches with that slot
    rendered as the value and every other placeholder consumed by a
    ``*``. A dictionary slot's values come from a wildcard scan of the
    var dictionary (clp/DictionaryReader.hpp:243-307); an int or float
    slot has a value only when the query text there is a plain number;
  - **exhaustive**: no row outside the definite ones can match, so the
    rest of the logtype needs no final check;
  - **no match**: no row of the logtype can match at all.

Both the query and the logtype are run through one bit-parallel NFA over the
query (state ``p`` = the first ``p`` query items consumed; a Python int is
the state set). Exhaustiveness uses a relaxed model in which a placeholder
is any non-empty run of its class's characters (any character for a
dictionary variable, ``[-0-9]`` for an int, ``[-.0-9]`` for a float) and
counts the placeholders a match "touches" — consumes with something other
than one ``*``. A match touching no placeholder proves definite-all; one
touching only slot ``k`` puts the row's value in slot ``k``'s exact value
set. So when no relaxed match touches two placeholders (or one whose value
set is not known exactly), the definite predicates cover every matching
row.
"""

from __future__ import annotations

import re

from clpspark.ref import encoder as E

_STAR, _ONE = object(), object()
_CLASS_CHARS = {
    E.PLACEHOLDER_INT: frozenset("-0123456789"),
    E.PLACEHOLDER_FLOAT: frozenset("-.0123456789"),
}
# the rendering of a dict id missing from the var map (decode.py)
_UNKNOWN_VAR = "<unk>"


def parse_logtype(logtype: str) -> tuple[list, bool]:
    """Logtype -> (items, ascii): literal characters with their escapes
    resolved, and ``(placeholder, slot)`` pairs, in the order
    ``decode_message`` renders them; ``ascii`` says every literal is
    ASCII."""
    items: list = []
    i, n, slot = 0, len(logtype), 0
    while i < n:
        c = logtype[i]
        if c == E.PLACEHOLDER_ESCAPE:
            i += 1
            if i < n:
                items.append(logtype[i])
        elif c in (E.PLACEHOLDER_INT, E.PLACEHOLDER_FLOAT,
                   E.PLACEHOLDER_DICT):
            items.append((c, slot))
            slot += 1
        else:
            items.append(c)
        i += 1
    return items, all(isinstance(x, tuple) or x.isascii() for x in items)


class Query:
    """A cleaned wildcard query as an NFA over its items (a literal
    character, ``?`` or ``*``; runs of ``*`` collapse, so a ``*`` is never
    followed by another and one closure step is exact)."""

    def __init__(self, q: str, ignore_case: bool):
        items: list = []
        i = 0
        while i < len(q):
            c = q[i]
            if c == "\\" and i + 1 < len(q):
                items.append(q[i + 1])
                i += 2
                continue
            if c == "*":
                if not (items and items[-1] is _STAR):
                    items.append(_STAR)
            else:
                items.append(_ONE if c == "?" else c)
            i += 1
        if ignore_case:
            items = [x.lower() if isinstance(x, str) else x for x in items]
        self.items = items
        self.ignore_case = ignore_case
        self.n = len(items)
        self.accept = 1 << self.n
        self.star = self.one = 0
        self.lit: dict[str, int] = {}
        for p, x in enumerate(items):
            if x is _STAR:
                self.star |= 1 << p
            elif x is _ONE:
                self.one |= 1 << p
            else:
                self.lit[x] = self.lit.get(x, 0) | 1 << p
        any_lit = self.one
        for m in self.lit.values():
            any_lit |= m
        # placeholder class -> items that can consume one of its characters
        self.cls = {E.PLACEHOLDER_DICT: any_lit}
        for ph, chars in _CLASS_CHARS.items():
            m = self.one
            for c, bits in self.lit.items():
                if c in chars:
                    m |= bits
            self.cls[ph] = m
        self.start = self.close(1)

    def close(self, m: int) -> int:
        return m | ((m & self.star) << 1)

    def step(self, m: int, c: str) -> int:
        """States after one text character."""
        return self.close(((m & (self.lit.get(c, 0) | self.one)) << 1)
                          | (m & self.star))

    def back(self, m: int, c: str) -> int:
        """States from which one text character leads into ``m``."""
        r = ((m >> 1) & (self.lit.get(c, 0) | self.one)) | (m & self.star)
        return r | ((r >> 1) & self.star)

    def touched(self, m: int, cls: int) -> int:
        """States after a non-empty value of a class that is NOT consumed
        by a single ``*`` alone."""
        r = self.close((m & cls) << 1)
        while True:
            nr = r | self.close((r & cls) << 1)
            if nr == r:
                return r
            r = nr

    def span(self, i: int, j: int) -> list:
        """Items a string must match to take state ``i`` to state ``j``
        (a ``*`` at ``j`` may consume its tail)."""
        if j < self.n and self.items[j] is _STAR:
            return self.items[i:j + 1]
        return self.items[i:j]


def _regex(items: list) -> str:
    return "".join("(?s:.*)" if x is _STAR else "(?s:.)" if x is _ONE
                   else re.escape(x) for x in items)


def _bits(m: int):
    p = 0
    while m:
        if m & 1:
            yield p
        m >>= 1
        p += 1


class Analysis:
    """Per-query state shared by every logtype: the compiled query, the
    var strings to scan (lowered under ``ignore_case``) and a memo of
    value sets per (placeholder class, prefix states, suffix states)."""

    def __init__(self, q: str, ignore_case: bool,
                 inverse: dict[str, list[int]], max_ids: int):
        self.query = Query(q, ignore_case)
        self.inverse = inverse
        self.max_ids = max_ids
        self._memo: dict[tuple, list[int] | None] = {}

    def values(self, ph: str, pre: int, suf: int):
        """Sorted encoded values that make a slot of class ``ph`` match when
        its prefix leaves the query in states ``pre`` and its suffix
        accepts from states ``suf``; None when the set is not known
        exactly (wildcards over a number, more than ``max_ids``, or a
        non-ASCII var string under ``ignore_case``)."""
        key = (ph, pre, suf)
        if key in self._memo:
            return self._memo[key]
        qy = self.query
        pairs = [(i, j) for i in _bits(pre) for j in _bits(suf) if i <= j]
        out: set[int] = set()
        exact = True
        if ph == E.PLACEHOLDER_DICT and pairs:
            rx = re.compile("|".join(
                sorted({_regex(qy.span(i, j)) for i, j in pairs})))
            if rx.fullmatch(_UNKNOWN_VAR):
                exact = False
            else:
                for s, ids in self.inverse.items():
                    if qy.ignore_case and not s.isascii():
                        # the JVM may fold its case differently
                        exact = False
                        break
                    if rx.fullmatch(s):
                        out.update(ids)
                        if len(out) > self.max_ids:
                            exact = False
                            break
        elif pairs:
            chars = _CLASS_CHARS[ph]
            encode = E.encode_int if ph == E.PLACEHOLDER_INT else E.encode_float
            for i, j in pairs:
                span = qy.span(i, j)
                lits = [x for x in span if isinstance(x, str)]
                if len(lits) < len(span):
                    # a wildcard: infinitely many numbers, unless a literal
                    # character of the span can never appear in one
                    if all(x in chars for x in lits):
                        exact = False
                        break
                    continue
                # a number renders back to the text it was encoded from,
                # so the text has at most one encoding (every producer
                # encodes through encoder.encode_int/encode_float, or the
                # IR twins that repack the same decimal fields)
                v = encode("".join(lits))
                if v is not None:
                    out.add(v)
        res = sorted(out) if exact else None
        self._memo[key] = res
        return res

    def logtype(self, items: list):
        """Classify one parsed logtype: returns None when no row can match,
        else ``(definite_all, slots, exhaustive)`` with ``slots`` a list of
        ``(slot, placeholder, encoded values)`` that each make a row
        definite."""
        qy = self.query
        # backward pass: states from which the rest of the text, every
        # placeholder consumed by a '*', reaches the end
        suf: dict[int, int] = {}
        b = qy.accept | ((qy.accept >> 1) & qy.star)
        for x in reversed(items):
            if isinstance(x, tuple):
                suf[x[1]] = b
                b &= qy.star
            else:
                b = qy.back(b, x.lower() if qy.ignore_case else x)
        # forward pass over the relaxed model, m[c] = states reached with c
        # touched placeholders (2 = two or more, or one of unknown values)
        m0, m1, m2 = qy.start, 0, 0
        slots = []
        for x in items:
            if isinstance(x, str):
                c = x.lower() if qy.ignore_case else x
                m0 = qy.step(m0, c)
                if m1 or m2:
                    m1, m2 = qy.step(m1, c), qy.step(m2, c)
                if not (m0 or m1 or m2):
                    return None
                continue
            ph, slot = x
            # no alignment through this slot: its value set is empty
            exact, vals = True, None
            if m0 and suf[slot]:
                vals = self.values(ph, m0, suf[slot])
                exact = vals is not None
                if vals:
                    slots.append((slot, ph, vals))
            cls = qy.cls[ph]
            t0, t1, t2 = (qy.touched(m0, cls), qy.touched(m1, cls),
                          qy.touched(m2, cls))
            s0, s1, s2 = (qy.close(m0 & qy.star), qy.close(m1 & qy.star),
                          qy.close(m2 & qy.star))
            if exact:
                m0, m1, m2 = s0, s1 | t0, s2 | t1 | t2
            else:
                m0, m1, m2 = s0, s1, s2 | t0 | t1 | t2
        acc = qy.accept
        if not (m0 | m1 | m2) & acc:
            return None
        return bool(m0 & acc), slots, not (m2 & acc)

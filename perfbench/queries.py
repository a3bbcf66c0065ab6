"""Seeded grep query mix and the independent wildcard oracle.

The oracle translates a raw CLP wildcard query straight to a Python regex
and counts ``re.fullmatch`` hits over the detokenized corpus. It shares no
code with ``clpspark.ref.wildcard`` or the engine, so a count mismatch means
the engine (or this translation) is wrong, never both in the same way.

Wildcard semantics (CLP): ``*`` matches any run of characters, ``?`` exactly
one, and ``\\`` makes the next character literal; a trailing lone ``\\`` is
dropped.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

from clpspark.corpus import CONST_PIECES, TEMPLATES, VocabMeta

NEEDLE = "needle"
HAYSTACK = "haystack"

# needle kinds: a dictionary variable present in the archive, one absent from
# it (the engine proves WontMatch at plan time), an encoded int or float
NEEDLE_KINDS = ("dict", "dict", "absent", "number")
# haystack kinds: a substring wildcard over variable text (no logtype or
# variable pruning, so the whole archive is scanned and decoded) and the
# heavy-hitter logtype constant (pruned to the biggest sink, for every seed)
HAYSTACK_KINDS = ("substring", "logtype")
HEAVY_TEMPLATE = 0


def wildcard_regex(query: str) -> re.Pattern:
    """Compile a raw CLP wildcard query into an anchored-by-fullmatch regex."""
    parts: list[str] = []
    i = 0
    while i < len(query):
        c = query[i]
        if c == "\\":
            if i + 1 < len(query):
                parts.append(re.escape(query[i + 1]))
            i += 2
        elif c == "*":
            parts.append(".*")
            i += 1
        elif c == "?":
            parts.append(".")
            i += 1
        else:
            parts.append(re.escape(c))
            i += 1
    return re.compile("".join(parts), re.DOTALL)


def oracle_count(query: str, lines: list[str]) -> int:
    rx = wildcard_regex(query)
    return sum(1 for line in lines if rx.fullmatch(line))


def escape(text: str) -> str:
    """Quote a literal so it matches itself inside a wildcard query."""
    return re.sub(r"([\\*?])", r"\\\1", text)


@dataclass(frozen=True)
class Query:
    text: str
    cls: str  # NEEDLE or HAYSTACK
    kind: str


def _logtype_query(template_ix: int) -> str:
    parts = []
    for item in TEMPLATES[template_ix]:
        part = escape(CONST_PIECES[item[1]]) if isinstance(item, tuple) else "*"
        if not (part == "*" and parts and parts[-1] == "*"):
            parts.append(part)
    return "".join(parts)


def query_round(seed: int, meta: VocabMeta, present_tokens: list[int],
                index: int = 0) -> list[Query]:
    """One round of queries with the fixed class mix NEEDLE_KINDS +
    HAYSTACK_KINDS, drawn and ordered by ``(seed, index)``.

    ``present_tokens`` are vocabulary ids that occur in the corpus; the
    needles and substrings are drawn from them so that present-variable
    queries really hit. The benchmark issues every round twice, so half of
    the queries repeat one already seen and engine-side caches see reuse.
    """
    rng = random.Random(f"perfbench-queries-{seed}-{index}")
    vocab = meta.vocab
    # variables holding a wildcard or escape character are left out: the
    # engine's dictionary probe does not unescape query tokens, so
    # '* APet4123\\test.txt *' finds 0 rows where 20 match
    dict_ids = sorted(t for t in set(present_tokens)
                      if meta.off_dict <= t < meta.off_dict + meta.n_dict
                      and not set(vocab[t]) & set("\\*?"))
    num_ids = sorted(t for t in set(present_tokens)
                     if meta.off_int <= t < meta.off_dict)
    qs: list[Query] = []
    for kind in NEEDLE_KINDS:
        if kind == "dict":
            tok = vocab[rng.choice(dict_ids)]
        elif kind == "absent":
            tok = f"absent{rng.randrange(10**6)}x"
        else:
            tok = vocab[rng.choice(num_ids)]
        qs.append(Query(f"* {escape(tok)} *", NEEDLE, kind))
    word = vocab[rng.choice(dict_ids)]
    frag = word[: rng.randrange(4, 8)]
    qs.append(Query(f"*{escape(frag)}*", HAYSTACK, "substring"))
    qs.append(Query(_logtype_query(HEAVY_TEMPLATE), HAYSTACK, "logtype"))
    rng.shuffle(qs)
    return qs

"""Deterministic synthetic corpus of pre-tokenized training sequences.

Produces the pipeline's input table (BASELINE.json input_hint):
    sequences(doc_id string, tokens array<int32>, n_tok int32, source string)

``tokens`` are ids into a seeded vocabulary of string pieces; concatenating
the pieces of a row ("detokenizing") yields a CLP-style log line with a
timestamp and int / float / dictionary / hex variables, so the parse stage
exercises every encoder branch (FIXTURES.md F1). Log-type templates and
sources are zipf-skewed to force heavy-hitter handling in the route stage.

Every random draw is a pure function of (seed, row_id) via splitmix64, so the
corpus is identical regardless of partitioning or generation order — rows can
be generated distributed (mapInPandas over spark.range) or locally in pandas
for tests, with byte-identical results.
"""

from __future__ import annotations

import functools
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

_U64 = np.uint64
_MASK64 = _U64(0xFFFFFFFFFFFFFFFF)

SEQUENCES_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based deterministic hash: uint64 array -> uint64 array."""
    with np.errstate(over="ignore"):
        z = (x + _U64(0x9E3779B97F4A7C15)) & _MASK64
        z = ((z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _MASK64
        z = ((z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)) & _MASK64
        return z ^ (z >> _U64(31))


def _draws(ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    base = (ids.astype(_U64) * _U64(0xD6E8FEB86659FD93)) & _MASK64
    return _splitmix64(base ^ _U64((seed * 0x2545F4914F6CDD1D + stream * 0x9E3779B9) & 0xFFFFFFFFFFFFFFFF))


# ------------------------------------------------------------------ vocabulary

CONST_PIECES: list[str] = [
    " INFO Task ",                # 0
    " completed in ",             # 1
    " ms",                        # 2
    " WARN Failed to allocate ",  # 3
    " MB on node ",               # 4
    " ERROR Connection to ",      # 5
    " refused after ",            # 6
    " retries, backoff=",         # 7
    " DEBUG cache hit ratio ",    # 8
    " for shard ",                # 9
    " INFO Started container ",   # 10
    " with image ",               # 11
    " INFO user=",                # 12
    " action=login latency ",     # 13
    " TRACE checksum ",           # 14
    " verified",                  # 15
    " INFO wrote ",               # 16
    " bytes to ",                 # 17
    " ERROR exception at offset ",# 18
    " in file ",                  # 19
    " WARN clock skew ",          # 20
    " detected on ",              # 21
    " INFO heartbeat seq ",       # 22
    " ok",                        # 23
    " esc\x11const ",             # 24 placeholder byte inside a constant
    " back\\slash pass ",         # 25 escape char inside a constant token
    "plain compaction pass ",     # 26 timestamp-less line head
]

_WORDS = [
    "alpha", "Bravo", "Xray", "zulu", "tango", "oscar", "kilo", "hotel",
    "sierra", "whisky", "golf", "lima", "mike", "november", "papa", "romeo",
]


@dataclass(frozen=True)
class VocabMeta:
    vocab: list[str]
    off_int: int
    n_int: int
    off_float: int
    n_float: int
    off_dict: int
    n_dict: int
    off_word: int
    n_word: int
    off_hex: int
    n_hex: int
    off_ts: int
    n_ts: int


# one build per seed: the pipeline's parse stage asks for it on every run,
# and no caller mutates the (frozen) result or its lists
@functools.lru_cache(maxsize=16)
def build_vocab(seed: int = 42) -> VocabMeta:
    rng = random.Random(seed)

    ints: list[str] = []
    for _ in range(1400):
        mag = rng.choice([10, 1000, 10**6, 10**9, 10**15])
        v = rng.randrange(-mag, mag)
        ints.append(str(v))
    # non-representable integer-looking tokens -> dictionary vars
    ints += ["01", "007", "+1", "+125", "-0", "1u", "12L",
             "18446744073709551616000", "0012345"]
    for _ in range(91):
        ints.append("0" + str(rng.randrange(1, 10**6)))  # zero-padded

    floats: list[str] = []
    for _ in range(700):
        ip = rng.randrange(0, 10**4)
        fp = rng.randrange(0, 10**6)
        s = f"{'-' if rng.random() < 0.4 else ''}{ip}.{fp}"
        floats.append(s)
    floats += ["-00.00", ".1", "-25.5196868642755", "0.0", "-1.0",
               ".9999999999999999", "-999999999999999.9"]
    # non-representable floats -> dictionary vars
    floats += ["123.", "1.2.3", "+1.0", "1.0f", "12345678901234567.8"]
    for _ in range(88):
        floats.append(f"{rng.randrange(0,9)}.{rng.randrange(10**16, 10**17)}")  # >16 digits

    dicts: list[str] = []
    for _ in range(500):
        dicts.append(f"task_{rng.randrange(10**5)}")
    for _ in range(300):
        dicts.append(f"node-{rng.randrange(999)}.dc{rng.randrange(9)}.example.com")
    for _ in range(200):
        dicts.append(f"python{rng.randrange(2,4)}.{rng.randrange(10)}.{rng.randrange(10)}")
    for _ in range(100):
        dicts.append(f"img_v{rng.randrange(100)}:{rng.randrange(100)}")
    dicts += ["APet4123\\test.txt", "a*e", "a\\*e", "0xDEADbeef12"]
    while len(dicts) < 1200:
        dicts.append(f"shard{rng.randrange(10**6)}x")

    hexes: list[str] = []
    alph = "0123456789abcdefABCDEF"
    letters_only = "abcdefABCDEF"
    for _ in range(200):
        n = rng.randrange(2, 17)
        hexes.append("".join(rng.choice(alph) for _ in range(n)))
    for _ in range(100):
        n = rng.randrange(2, 9)
        hexes.append("".join(rng.choice(letters_only) for _ in range(n)))

    tss: list[str] = []
    base = 1462692845  # 2016-05-08T07:34:05 UTC
    for i in range(4096):
        t = base + i * 37
        ms = (i * 251) % 1000
        tm = pd.Timestamp(t, unit="s", tz="UTC")
        tss.append(tm.strftime("%Y-%m-%d %H:%M:%S") + f".{ms:03d}")

    vocab: list[str] = list(CONST_PIECES)
    off_int = len(vocab); vocab += ints
    off_float = len(vocab); vocab += floats
    off_dict = len(vocab); vocab += dicts
    off_word = len(vocab); vocab += _WORDS
    off_hex = len(vocab); vocab += hexes
    off_ts = len(vocab); vocab += tss
    return VocabMeta(
        vocab=vocab,
        off_int=off_int, n_int=len(ints),
        off_float=off_float, n_float=len(floats),
        off_dict=off_dict, n_dict=len(dicts),
        off_word=off_word, n_word=len(_WORDS),
        off_hex=off_hex, n_hex=len(hexes),
        off_ts=off_ts, n_ts=len(tss),
    )


# Templates: 't' = timestamp slot, ('c', i) = constant piece, 'i'/'f'/'d'/'w'/'h'
# = draw from the int/float/dict/word/hex pool. Zipf-ish weights skew template 0
# into a heavy hitter (mirrors CLP heavy-hitter logtypes; GLT per-logtype
# routing is where this skew bites).
TEMPLATES: list[list] = [
    ["t", ("c", 0), "d", ("c", 1), "i", ("c", 2)],
    ["t", ("c", 22), "i", ("c", 23)],
    ["t", ("c", 16), "i", ("c", 17), "d"],
    ["t", ("c", 8), "f", ("c", 9), "i"],
    ["t", ("c", 10), "d", ("c", 11), "d"],
    ["t", ("c", 12), "w", ("c", 13), "f", ("c", 2)],
    ["t", ("c", 3), "i", ("c", 4), "d"],
    ["t", ("c", 5), "d", ("c", 6), "i", ("c", 7), "f"],
    ["t", ("c", 18), "i", ("c", 19), "d"],
    ["t", ("c", 20), "f", ("c", 21), "d"],
    ["t", ("c", 14), "h", ("c", 15), ("c", 24)],
    [("c", 26), "i", ("c", 25)],
]

_TEMPLATE_W = np.array([1.0 / (i + 1) ** 1.4 for i in range(len(TEMPLATES))])
_TEMPLATE_CDF = np.cumsum(_TEMPLATE_W / _TEMPLATE_W.sum())

SOURCES = [f"src{i:02d}" for i in range(8)]
_SOURCE_W = np.array([1.0 / (i + 1) ** 1.2 for i in range(len(SOURCES))])
_SOURCE_CDF = np.cumsum(_SOURCE_W / _SOURCE_W.sum())


def detokenize(tokens, vocab: list[str]) -> str:
    return "".join(vocab[t] for t in tokens)


def generate_pdf(ids: np.ndarray, meta: VocabMeta, seed: int = 42) -> pd.DataFrame:
    """Generate rows for the given absolute row ids (deterministic)."""
    ids = np.asarray(ids, dtype=np.uint64)
    n = len(ids)
    u_tpl = (_draws(ids, 0, seed) >> _U64(11)).astype(np.float64) / float(1 << 53)
    tpl_ix = np.searchsorted(_TEMPLATE_CDF, u_tpl, side="right")
    tpl_ix = np.minimum(tpl_ix, len(TEMPLATES) - 1)
    u_src = (_draws(ids, 1, seed) >> _U64(11)).astype(np.float64) / float(1 << 53)
    src_ix = np.minimum(np.searchsorted(_SOURCE_CDF, u_src, side="right"),
                        len(SOURCES) - 1)

    pool_off = {
        "i": (meta.off_int, meta.n_int),
        "f": (meta.off_float, meta.n_float),
        "d": (meta.off_dict, meta.n_dict),
        "w": (meta.off_word, meta.n_word),
        "h": (meta.off_hex, meta.n_hex),
        "t": (meta.off_ts, meta.n_ts),
    }
    # Pre-draw up to the max slot count for all rows (vectorized).
    max_slots = max(len(t) for t in TEMPLATES)
    slot_draws = np.stack(
        [_draws(ids, 16 + j, seed) for j in range(max_slots)], axis=1
    )

    tokens_col: list[list[int]] = []
    for r in range(n):
        t = TEMPLATES[tpl_ix[r]]
        toks: list[int] = []
        for j, item in enumerate(t):
            if isinstance(item, tuple):
                toks.append(item[1])
            else:
                off, cnt = pool_off[item]
                toks.append(off + int(slot_draws[r, j] % _U64(cnt)))
        tokens_col.append(toks)

    doc_ids = [f"doc{int(i):012d}" for i in ids]
    sources = [SOURCES[s] for s in src_ix]
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "tokens": [np.asarray(t, dtype=np.int32) for t in tokens_col],
            "n_tok": np.asarray([len(t) for t in tokens_col], dtype=np.int32),
            "source": sources,
        }
    )


def write_corpus(spark, path: str, n_rows: int, seed: int = 42,
                 partitions: int | None = None) -> None:
    """Distributed, deterministic corpus write (parquet `sequences` table).

    Uses spark.range + mapInPandas so generation scales out; because rows are
    pure functions of (seed, id), output content is partitioning-invariant.
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    meta = build_vocab(seed)

    def gen(batches):
        for pdf in batches:
            yield generate_pdf(pdf["id"].to_numpy(dtype=np.uint64), meta, seed)

    (
        spark.range(0, n_rows, 1, partitions)
        .mapInPandas(gen, schema=SEQUENCES_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )

"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup —
all expressed as compositions of built-in DataFrame ops (shingling, hashing,
banding, self-joins run JVM-side; only SimHash bit-twiddling uses an
Arrow-batched UDF). Designed for the 100 TB regime: LSH turns the quadratic
pair space into an equi-join on (band, band_hash) buckets, i.e. a shuffle on
bucket keys instead of a cross join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------------ exact


def normalize_text(col) -> F.Column:
    """lower + trim + collapse whitespace (portable)."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup on normalized text.

    Returns one row per distinct normalized text: representative (min id),
    duplicate count. Map-side partial agg makes this a single shuffle — and
    the shuffle key is a 128-bit content digest (md5 hex, 32 chars on
    the wire), NOT the document text: at 100 TB the keys are tens of
    bytes/row instead of the whole corpus
    (collision probability ~n^2/2^129 — negligible at any real n).
    """
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("_h"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dupes"),
        )
        .select("keep_id", "n_dupes")
    )


# ------------------------------------------------------------- minhash + LSH


_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64_np(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK64
        return z ^ (z >> np.uint64(31))


_MINHASH_SEEDS = _splitmix64_np(np.arange(1, 257, dtype=np.uint64))


def minhash_py(shingle_hashes: np.ndarray, n_hashes: int) -> np.ndarray:
    """h_j(doc) = min over shingles of splitmix64(fnv(s) ^ seed_j)."""
    seeds = _MINHASH_SEEDS[:n_hashes]
    mixed = _splitmix64_np(shingle_hashes[:, None] ^ seeds[None, :])
    return mixed.min(axis=0).astype(np.int64)


_SHINGLE_CHUNK = 1 << 18  # shingle-hash rows per vectorized minhash matrix
_WORD_CACHE_MAX = 1 << 20


def _batch_word_hashes(split_docs: list[list[str]],
                       word_cache: dict[str, int],
                       hash_fn=None) -> np.ndarray:
    """Hash every word of the batch via the per-executor memo dict.

    A straight dict-memo loop, NOT np.unique: sorting the batch's object
    array costs ~9x more than warm dict lookups when the vocabulary
    repeats heavily (CLAUDE.md), and when it doesn't repeat the dict path
    still calls ``hash_fn`` once per distinct word with no sort on top.
    ``hash_fn`` defaults to the 64-bit blake2b fold; simhash passes the
    61-bit oracle poly hash."""
    if hash_fn is None:
        hash_fn = _xx64_py
    all_words: list[str] = []
    for words in split_docs:
        all_words.extend(words)
    if not all_words:
        return np.empty(0, dtype=np.uint64)
    out = np.empty(len(all_words), dtype=np.uint64)
    get = word_cache.get
    bounded = len(word_cache) < _WORD_CACHE_MAX
    # once the executor memo is full, new words go to a batch-local memo:
    # hash_fn still runs once per distinct word per batch
    overflow: dict[str, int] = {}
    for i, w in enumerate(all_words):
        h = get(w)
        if h is None:
            if bounded:
                h = word_cache[w] = hash_fn(w)
                bounded = len(word_cache) < _WORD_CACHE_MAX
            else:
                h = overflow.get(w)
                if h is None:
                    h = overflow[w] = hash_fn(w)
        out[i] = h
    return out


def shingle_hash_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    signature_hashes: int | None = None,
) -> DataFrame:
    """(doc_id, sh) with sh = sorted distinct 64-bit hashes of the doc's word
    n-gram shingles — one vectorized Arrow pass, no per-shingle Python and no
    interpreted higher-order functions (those re-evaluate the split per
    element and dominate wall time at scale).

    ``signature_hashes``: also emit a ``signature`` column (minhash of the
    shingle set, ``signature_hashes`` values; null for shingle-less docs)
    from the SAME pass — the LSH miner needs both, and a second Arrow
    stage just to min the already-built sets costs a full extra
    scan+serialize of them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        word_cache: dict[str, int] = {}
        for pdf in batches:
            split_docs = [(t or "").split() for t in pdf[text_col].tolist()]
            wh = _batch_word_hashes(split_docs, word_cache)
            out = []
            sig_out: list = []
            pos = 0
            for words in split_docs:
                n = len(words)
                if n >= ngram:
                    sh = np.unique(
                        _shingle_hashes_np(wh[pos:pos + n], ngram)
                    ).astype(np.int64)
                    out.append(sh)
                    if signature_hashes:
                        sig_out.append(
                            minhash_py(sh.astype(np.uint64),
                                       signature_hashes))
                else:
                    out.append(np.empty(0, dtype=np.int64))
                    if signature_hashes:
                        sig_out.append(None)
                pos += n
            cols = {"doc_id": pdf[id_col], "sh": out}
            if signature_hashes:
                cols["signature"] = sig_out
            yield pd.DataFrame(cols)

    from clpspark.operators.util import rebalance_for_udf

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"doc_id {id_type}, sh array<bigint>"
    if signature_hashes:
        schema += ", signature array<bigint>"
    return rebalance_for_udf(df.select(id_col, text_col)).mapInPandas(
        run, schema=schema)


def _shingle_hashes_np(word_hashes: np.ndarray, ngram: int) -> np.ndarray:
    """Order-sensitive combine of ``ngram`` consecutive word hashes into one
    shingle hash (pure numpy — no per-shingle string building)."""
    m = len(word_hashes) - ngram + 1
    with np.errstate(over="ignore"):
        # pre-mix the first word so the fold is position-sensitive from the
        # start (a plain first xor would make word 0 and word 1 commute)
        acc = _splitmix64_np(word_hashes[0:m])
        for j in range(1, ngram):
            acc = _splitmix64_np(acc ^ word_hashes[j:j + m])
    return acc


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    ngram: int = 3,
) -> DataFrame:
    """Word n-gram shingles -> n_hashes minhash values.

    Fully batch-vectorized Arrow pass: words of the whole batch hash once
    (np.unique + per-executor memo — log vocabulary repeats heavily, the
    same observation CLP's dictionaries exploit), shingle hashes are a numpy
    combine of consecutive word hashes, and the per-doc signature min runs
    as np.minimum.reduceat over chunked (shingles x n_hashes) matrices —
    no per-shingle Python loop anywhere.
    """
    seeds = _MINHASH_SEEDS[:n_hashes]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        word_cache: dict[str, int] = {}
        for pdf in batches:
            kept_ids: list = []
            doc_shingles: list[np.ndarray] = []
            split_docs = [
                (t or "").split() for t in pdf[text_col].tolist()
            ]
            kept_split = [w for w in split_docs if len(w) >= ngram]
            kept_ids = [
                did for did, w in zip(pdf[id_col].tolist(), split_docs)
                if len(w) >= ngram
            ]
            if not kept_ids:
                yield pd.DataFrame({"doc_id": [], "signature": []})
                continue
            wh = _batch_word_hashes(kept_split, word_cache)
            pos = 0
            for words in kept_split:
                n = len(words)
                doc_shingles.append(
                    np.unique(_shingle_hashes_np(wh[pos:pos + n], ngram))
                )
                pos += n
            # -- chunked minhash matrix + reduceat -------------------------
            sigs: list[np.ndarray] = []
            pos = 0
            while pos < len(doc_shingles):
                chunk: list[np.ndarray] = []
                offsets = [0]
                total = 0
                while pos < len(doc_shingles) and total < _SHINGLE_CHUNK:
                    chunk.append(doc_shingles[pos])
                    total += len(doc_shingles[pos])
                    offsets.append(total)
                    pos += 1
                flat = np.concatenate(chunk)
                with np.errstate(over="ignore"):
                    mixed = _splitmix64_np(flat[:, None] ^ seeds[None, :])
                mins = np.minimum.reduceat(mixed, offsets[:-1], axis=0)
                sigs.extend(mins.astype(np.int64))
            yield pd.DataFrame({"doc_id": kept_ids, "signature": sigs})

    id_type = df.schema[id_col].dataType.simpleString()
    return df.mapInPandas(
        run, schema=f"doc_id {id_type}, signature array<bigint>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact Jaccard verify.

    shingle -> minhash -> band -> bucket equi-join -> verify: candidate pairs
    are only generated inside (band, band_hash) buckets; the final Jaccard is
    computed exactly on the shingle sets of candidates, so LSH recall/precision
    only affects completeness of candidates, not correctness of emitted pairs.
    """
    rows_per_band = n_hashes // bands

    # ONE tokenize+hash+minhash Arrow pass feeds the signatures AND the
    # exact verify (shingle_hash_sets emits both from the same batch
    # loop). localCheckpoint instead of persist: checkpoint RDDs are
    # released by the ContextCleaner on GC, while an un-unpersisted cache
    # leaks in the cacheManager for the life of the session (repeated
    # miner calls grew storage unboundedly).
    sets = shingle_hash_sets(
        df, text_col, id_col, ngram, signature_hashes=n_hashes
    ).localCheckpoint(eager=True)

    sigs = sets.select("doc_id", "signature").where(
        F.col("signature").isNotNull()
    )
    band_ix = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = sigs.select("doc_id", "signature", band_ix).select(
        "doc_id",
        "band",
        F.xxhash64(
            F.slice("signature", F.col("band") * rows_per_band + 1, rows_per_band),
            "band",
        ).alias("band_hash"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    shing = sets.select("doc_id", "sh")
    verified = (
        cand.join(shing.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(shing.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "sh_b"), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return verified


# Matrix-path gate: the whole kept-shingle incidence (instances = sum of
# per-doc distinct shingles) must fit in one executor-side broadcast. At
# 32M int32 instances the postings + doc CSR are ~256 MB — comfortable on
# any executor that can also hold a build-side hash join; past the gate the
# inverted-index join path below is the 100 TB shape.
_JACCARD_MATRIX_MAX_INSTANCES = 32_000_000
_JACCARD_MATRIX_MAX_DOCS = 8_000_000
# expanded (owner, partner) entries per numpy pass inside a block —
# module-level so tests can force the multi-chunk merge path
_JACCARD_CHUNK_TOUCHES = 4_000_000


def _jaccard_pairs_matrix(
    sets: DataFrame,
    threshold: float,
    max_shingle_freq: int,
) -> DataFrame:
    """Exact pair-intersection counting via a broadcast posting-list matrix.

    The inverted-index join path shuffles one row PER SHARED-SHINGLE
    OCCURRENCE between every candidate pair (sum over shingles of df^2 —
    measured 127M rows at 50k docs) only to count them. When the whole
    kept-shingle incidence fits in a broadcast (~4 bytes/instance), the
    same counts fall out of a per-doc-block numpy pass: gather the posting
    lists of the block's shingles, sort-and-count (a,b) keys locally, and
    emit ONLY the pairs that can pass the threshold — the quadratic
    intermediate never touches a shuffle (guide-§8 shape: shuffle decisions,
    not payloads). Emits (a, b, c, na, nb); the caller computes the rounded
    Jaccard in Spark so both paths produce bit-identical output.
    """
    import pandas as pd

    spark = sets.sparkSession
    id_type = sets.schema["doc_id"].dataType.simpleString()
    pdf = sets.toPandas()
    n = len(pdf)
    empty = spark.createDataFrame(
        [], f"a {id_type}, b {id_type}, c long, na long, nb long"
    )
    if n == 0:
        return empty
    # canonical ascending id order: a < b becomes row_a < row_b
    pdf = pdf.sort_values("doc_id", kind="mergesort", ignore_index=True)
    doc_ids = pdf["doc_id"].to_numpy()
    sizes_all = np.fromiter((len(s) for s in pdf["sh"]), dtype=np.int64,
                            count=n)
    if int(sizes_all.sum()) == 0:
        return empty
    flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in pdf["sh"]])
    rows = np.repeat(np.arange(n, dtype=np.int64), sizes_all)
    uniq, inv = np.unique(flat, return_inverse=True)
    col_df = np.bincount(inv, minlength=len(uniq))
    keep = col_df[inv] < max_shingle_freq
    rows_k = rows[keep].astype(np.int32)
    cols_k = inv[keep].astype(np.int32)
    na = np.bincount(rows_k, minlength=n).astype(np.int64)
    if len(rows_k) == 0:
        return empty
    # postings CSR (instances grouped by shingle column)
    order = np.argsort(cols_k, kind="stable")
    post_docs = rows_k[order]
    post_cnt = np.bincount(cols_k, minlength=len(uniq)).astype(np.int64)
    post_ptr = np.concatenate(([0], np.cumsum(post_cnt)))
    # doc CSR (instances are already grouped by row)
    doc_cols = cols_k
    doc_ptr = np.concatenate(([0], np.cumsum(na)))
    bc = spark.sparkContext.broadcast(
        (doc_ids, na, doc_cols, doc_ptr, post_docs, post_cnt, post_ptr)
    )
    # candidate touches per doc = sum over its shingles of df. Block
    # boundaries are placed on the CUMULATIVE touch count, not the row
    # count, so a skewed doc-length distribution can't concentrate the
    # pair space into one task; a block that still exceeds the chunk
    # budget (a mega-doc is one indivisible row here) is processed in
    # bounded instance-range passes inside the task, partial counts
    # merged below.
    touches = post_cnt[doc_cols]
    doc_cum = np.concatenate(
        ([0], np.cumsum(touches))
    )[doc_ptr]  # cumulative touches at each doc boundary
    total_touches = int(doc_cum[-1])
    par = spark.sparkContext.defaultParallelism
    _CHUNK = _JACCARD_CHUNK_TOUCHES
    n_blocks = int(min(
        n, max(par, min(8 * par, 2 * total_touches // _CHUNK + 1))
    ))
    targets = np.linspace(0, total_touches, n_blocks + 1)
    bounds = np.searchsorted(doc_cum[1:], targets[1:-1], side="left") + 1
    bounds = np.concatenate(([0], bounds, [n])).astype(np.int64)
    pre_t = threshold - 1e-6  # conservative; exact round+filter in Spark

    def run(batches):
        (d_ids, d_na, d_cols, d_ptr, p_docs, p_cnt, p_ptr) = bc.value
        nn = len(d_ids)

        def gather_keys(r0, r1, i0, i1):
            """(owner-r0)*nn + partner keys for instance range [i0, i1)."""
            cols = d_cols[i0:i1]
            lens = p_cnt[cols]
            total = int(lens.sum())
            if total == 0:
                return None
            starts = p_ptr[cols]
            cum = np.concatenate(([0], np.cumsum(lens)[:-1]))
            idx = np.repeat(starts - cum, lens) + np.arange(total)
            partners = p_docs[idx].astype(np.int64)
            inst_owner = np.searchsorted(
                d_ptr[r0:r1 + 1], np.arange(i0, i1), side="right"
            ) + (r0 - 1)
            owners = np.repeat(inst_owner, lens)
            return (owners - r0) * nn + partners

        for b in batches:
            for blk in b["block"].tolist():
                r0, r1 = int(bounds[blk]), int(bounds[blk + 1])
                if r0 >= r1:
                    continue
                i0, i_end = int(d_ptr[r0]), int(d_ptr[r1])
                if i0 >= i_end:
                    continue
                parts: list[tuple[np.ndarray, np.ndarray]] = []
                blk_touch = int(doc_cum[r1] - doc_cum[r0])
                if blk_touch <= _CHUNK:
                    keys = gather_keys(r0, r1, i0, i_end)
                    if keys is not None:
                        parts.append(np.unique(keys, return_counts=True))
                else:
                    # oversize block (mega-doc): bounded instance chunks
                    icum = np.cumsum(p_cnt[d_cols[i0:i_end]])
                    n_chunks = int(blk_touch // _CHUNK) + 1
                    ctargets = np.linspace(0, blk_touch, n_chunks + 1)
                    cb = np.searchsorted(
                        icum, ctargets[1:-1], side="left") + i0
                    cb = np.concatenate(([i0], cb, [i_end]))
                    for ci in range(len(cb) - 1):
                        keys = gather_keys(
                            r0, r1, int(cb[ci]), int(cb[ci + 1]))
                        if keys is not None:
                            parts.append(
                                np.unique(keys, return_counts=True))
                if not parts:
                    continue
                if len(parts) == 1:
                    uk, c = parts[0]
                else:
                    all_uk = np.concatenate([p[0] for p in parts])
                    all_c = np.concatenate([p[1] for p in parts])
                    order = np.argsort(all_uk, kind="stable")
                    all_uk = all_uk[order]
                    all_c = all_c[order]
                    new_grp = np.concatenate(
                        ([True], all_uk[1:] != all_uk[:-1]))
                    starts = np.flatnonzero(new_grp)
                    uk = all_uk[starts]
                    c = np.add.reduceat(all_c, starts)
                a_rows = (uk // nn + r0).astype(np.int64)
                b_rows = (uk % nn).astype(np.int64)
                m = b_rows > a_rows
                if not m.any():
                    continue
                a_rows, b_rows, c = a_rows[m], b_rows[m], c[m]
                nb_ = d_na[b_rows]
                na_ = d_na[a_rows]
                m = c >= pre_t * (na_ + nb_ - c)
                if not m.any():
                    continue
                yield pd.DataFrame({
                    "a": d_ids[a_rows[m]],
                    "b": d_ids[b_rows[m]],
                    "c": c[m].astype(np.int64),
                    "na": na_[m],
                    "nb": nb_[m],
                })

    # range partitioned at creation: a .repartition() here would add a
    # whole exchange stage to shuffle <n_blocks> ints
    blocks = spark.range(0, n_blocks, 1, min(n_blocks, par)).select(
        F.col("id").cast("int").alias("block")
    )
    return blocks.mapInPandas(
        run, schema=f"a {id_type}, b {id_type}, c long, na long, nb long"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.7,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing at least one
    *discriminative* shingle.

    Baseline (no LSH approximation): inverted-index join on hashed shingles.
    The ``max_shingle_freq`` cut drops stop-shingles BEFORE the self-join —
    a shingle shared by 10^6 documents would otherwise yield 10^12 candidate
    pairs; similarity is then defined over the remaining *discriminative*
    shingles (standard stop-shingle semantics — a pair whose overlap is only
    stop-shingles has Jaccard ~0 at any realistic threshold). With no shingle
    at the cap this equals plain set Jaccard exactly (the driver oracle
    checks that case value-for-value).

    Adaptive execution (same results either way, value-exact): while the
    shingle incidence fits in a broadcast (see _JACCARD_MATRIX_MAX_INSTANCES)
    the pair counts are computed by _jaccard_pairs_matrix — a numpy
    posting-list pass that skips the join's quadratic shuffle; past the gate
    the inverted-index join below is the scale shape.
    """
    # localCheckpoint, not persist: GC-released, no cacheManager leak
    sets = shingle_hash_sets(df, text_col, id_col, ngram).localCheckpoint(
        eager=True
    )
    tot = sets.agg(
        F.count("*").alias("n"), F.sum(F.size("sh")).alias("nnz")
    ).first()
    if (
        tot["n"] <= _JACCARD_MATRIX_MAX_DOCS
        and (tot["nnz"] or 0) <= _JACCARD_MATRIX_MAX_INSTANCES
    ):
        counted = _jaccard_pairs_matrix(sets, threshold, max_shingle_freq)
        return (
            counted.withColumn(
                "jaccard",
                F.round(
                    F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6
                ),
            )
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
    inv = (
        sets
        .select("doc_id", F.explode("sh").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    rare = (
        inv.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") < max_shingle_freq)
        .select("shingle")
    )
    inv2 = inv.join(rare, "shingle")
    # |A ∩ B| falls out of the inverted index itself (count of co-occurring
    # shingles per pair) and |A ∪ B| = |A| + |B| − |A ∩ B|: no full shingle
    # sets ever ship through the join — one agg on (a, b) replaces the
    # per-pair array intersect/union of the naive plan (~7x at sf0.1).
    sizes = inv2.groupBy("doc_id").agg(F.count("*").alias("n"))
    pair_counts = (
        inv2.alias("l")
        .join(inv2.alias("r"), "shingle")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    # sizes is one row per doc — too big to force-broadcast at 100 TB; AQE
    # picks broadcast automatically when it fits
    return (
        pair_counts.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")),
            "a")
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")),
            "b")
        .withColumn(
            "jaccard",
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ----------------------------------------------------------------- simhash


SIMHASH_BITS = 61  # word_hash_py is a 61-bit hash (Mersenne-prime modulus)


def simhash_py(words: list[str]) -> int:
    """SimHash over word tokens via the oracle-friendly 61-bit word hash
    (numpy-vectorized per doc). Using a SQL-recomputable hash lets the
    driver's DuckDB gate value-verify signatures end to end."""
    from clpspark.operators.text import word_hash_py

    if not words:
        return 0
    hs = np.array([word_hash_py(w) for w in words], dtype=np.uint64)
    bits = (
        (hs[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & np.uint64(1)
    ).astype(np.int64)
    weights = bits * 2 - 1  # 0 -> -1, 1 -> +1
    sums = weights.sum(axis=0)
    out = np.uint64(0)
    for i in range(SIMHASH_BITS):
        if sums[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(out)


def _xx64_py(s: str) -> int:
    """Deterministic 64-bit string hash (blake2b/8; portable, C-speed)."""
    import hashlib

    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little"
    )


def _simhash_batch(split_docs: list[list[str]],
                   word_cache: dict[str, int]) -> np.ndarray:
    """Vectorized SimHash of a whole Arrow batch: every word hashes once
    (np.unique + per-executor memo, same pattern as minhash), bit voting is
    one chunked (words x 61) numpy matrix with per-doc np.add.reduceat —
    no per-word Python in the hot path. Bit-identical to simhash_py."""
    from clpspark.operators.text import word_hash_py

    lens = np.array([len(w) for w in split_docs], dtype=np.int64)
    out = np.zeros(len(split_docs), dtype=np.int64)
    ne_ix = np.flatnonzero(lens > 0)
    if len(ne_ix) == 0:
        return out
    wh = _batch_word_hashes(split_docs, word_cache, hash_fn=word_hash_py)
    ne_lens = lens[ne_ix]
    bit_ix = np.arange(SIMHASH_BITS, dtype=np.uint64)
    pack = (np.uint64(1) << bit_ix).astype(np.uint64)
    # chunk over docs so the (words x 61) expansion stays ~100 MB
    doc_pos = 0  # index into ne_ix
    word_pos = 0  # index into wh
    packed = np.empty(len(ne_ix), dtype=np.uint64)
    while doc_pos < len(ne_ix):
        n_docs = 0
        n_words = 0
        while (doc_pos + n_docs < len(ne_ix)
               and (n_words == 0 or n_words < _SHINGLE_CHUNK)):
            n_words += int(ne_lens[doc_pos + n_docs])
            n_docs += 1
        chunk = wh[word_pos:word_pos + n_words]
        offsets = np.concatenate(
            ([0], np.cumsum(ne_lens[doc_pos:doc_pos + n_docs])[:-1])
        )
        bits = ((chunk[:, None] >> bit_ix[None, :]) & np.uint64(1)).astype(
            np.int64
        )
        sums = np.add.reduceat(bits * 2 - 1, offsets, axis=0)
        packed[doc_pos:doc_pos + n_docs] = (
            (sums > 0).astype(np.uint64) * pack[None, :]
        ).sum(axis=1)
        doc_pos += n_docs
        word_pos += n_words
    out[ne_ix] = packed.astype(np.int64)  # 61 bits: no sign wrap
    return out


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    # captured by the UDF closure -> deserialized once per python worker, so
    # the memo persists across Arrow batches within each executor
    word_cache: dict[str, int] = {}

    @F.pandas_udf("bigint")
    def sh(s: pd.Series) -> pd.Series:
        split_docs = [(t or "").lower().split() for t in s]
        return pd.Series(_simhash_batch(split_docs, word_cache), dtype="int64")

    from clpspark.operators.util import rebalance_for_udf

    return rebalance_for_udf(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"), sh(F.col(text_col)).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= max_hamming.

    LSH by pigeonhole: split the 64-bit hash into max_hamming+1 chunks; any
    pair within distance d must agree on >=1 chunk -> equi-join per chunk,
    verify with bit_count(a ^ b).
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    # localCheckpoint, not persist: GC-released, no cacheManager leak
    sims = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    chunks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_ix"),
                        F.shiftright("simhash", i * width).bitwiseAND(
                            F.lit((1 << width) - 1)
                        ).alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_ix", "c.chunk")
    cand = (
        chunks.alias("l")
        .join(
            chunks.alias("r"),
            (F.col("l.chunk_ix") == F.col("r.chunk_ix"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.simhash").alias("ha"),
            F.col("r.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ------------------------------------------- duplicate clusters / keep-one


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    max_collect_edges: int = 2_000_000,
) -> DataFrame:
    """Min-label propagation over an undirected edge list -> (id, comp).

    The standard distributed connected-components loop (GraphX/GraphFrames
    shape): each round every vertex takes the min label among itself and its
    neighbors; converges in O(component diameter) rounds — near-dup clusters
    are shallow, so a handful of shuffles. Lineage is cut per iteration
    (else the plan grows unboundedly).

    Durability contract: the default ``localCheckpoint`` stores blocks on
    executors — an executor loss mid-loop fails the job (fine for tests and
    single-JVM runs). Pass ``checkpoint_dir`` (a reliable shared path: HDFS,
    S3, NFS) for fault-tolerant reliable checkpoints on long multi-round
    jobs at real scale.

    Execution shape (same output either way): labels are seeded from (and
    the result reported for) the VERTICES, exactly as before — an edge
    endpoint absent from ``vertices`` propagates labels through but never
    becomes a component label, and a component containing no vertex stays
    silent. The optimization is that per-iteration work covers only the
    edge-touched subgraph — an isolated vertex is its own component by
    definition and paying a join per iteration to re-derive that wastes
    the dominant case (dedup graphs are sparse: most docs have no
    near-dup). While the edge list is small enough to collect
    (``max_collect_edges``), the components come from a driver-side
    union-find instead of the loop — near-dup pair lists are pair-mined
    and tiny relative to the corpus, and each Spark iteration costs ~4
    fixed-overhead jobs regardless of size.
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        # setCheckpointDir resolves to a fresh run subdir; set once per call
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def cut(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        return df.checkpoint(eager=True)

    # materialize the deduped edge list ONCE: edges is typically an
    # expensive plan (LSH candidate generation) and every downstream
    # action would otherwise re-execute it from scratch — actions don't
    # share Exchange reuse. Null endpoints are inert in the old
    # join-based propagation (null never equality-matches) — drop them.
    e = cut(
        edges.select(F.col("a"), F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    n_edges = e.count()  # cheap: scans the checkpoint, not the mining plan
    id_type = vertices.schema[id_col].dataType.simpleString()
    vids = vertices.select(F.col(id_col).alias("vid"))
    if n_edges == 0:
        return vids.select(F.col("vid").alias(id_col),
                           F.col("vid").alias("comp"))

    if n_edges <= max_collect_edges:
        # bounded driver-side union-find (path compression), then the
        # component label = min VERTEX id of the component (computed
        # Spark-side against ``vertices`` — identical to converged
        # min-label propagation seeded from the vertices, including when
        # edges reference ids outside ``vertices``). The collect is
        # bounded by the gate, like the dictionary-broadcast gates
        # elsewhere in this engine.
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for row in e.collect():
            a, b = row["a"], row["b"]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        roots = spark.createDataFrame(
            [(v, find(v)) for v in parent],
            schema=f"vid {id_type}, root {id_type}",
        )
        # min vertex per root: one broadcast-joined scan of the vertex
        # list + a tiny agg; components with no vertex drop out (inner
        # joins), exactly like unseeded propagation
        vroots = vids.join(F.broadcast(roots), "vid")
        per_root = vroots.groupBy("root").agg(F.min("vid").alias("comp"))
        labels = vroots.join(F.broadcast(per_root), "root").select(
            "vid", "comp"
        )
        return (
            vids.join(F.broadcast(labels), "vid", "left")
            .select(
                F.col("vid").alias(id_col),
                F.coalesce(F.col("comp"), F.col("vid")).alias("comp"),
            )
        )

    sym = cut(e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ))
    # seed labels from the touched VERTICES only (semi-join against the
    # vertex list): non-vertex endpoints still relay labels through the
    # nbr propagation below, but never inject their own id
    labels = cut(
        sym.select(F.col("a").alias("vid")).distinct()
        .join(vids, "vid", "semi")
        .withColumn("comp", F.col("vid"))
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.a == labels.vid)
            .select(F.col("b").alias("vid"), "comp")
        )
        new_labels = cut(
            labels.unionByName(nbr)
            .groupBy("vid")
            .agg(F.min("comp").alias("comp"))
        )
        # LEFT join + null-aware compare: a vid labeled for the FIRST time
        # this round (a relay node reached through the frontier) must count
        # as a change — the old inner join missed it and could exit before
        # multi-hop relays converged
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vid", "left")
            .where(
                F.col("o.comp").isNull()
                | (F.col("n.comp") != F.col("o.comp"))
            )
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return (
        vids.join(labels, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.coalesce(F.col("comp"), F.col("vid")).alias("comp"),
        )
    )


def dedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Keep-one-per-duplicate-cluster: (id, keep_id, is_kept).

    ``pairs`` is any near-dup pair list (ngram_jaccard_pairs /
    minhash_lsh_pairs / simhash_pairs output); clusters are the connected
    components of the pair graph and the representative is the min id —
    the selection step every dedup pipeline runs after pair mining.
    ``checkpoint_dir``: reliable checkpoint path for the label-propagation
    loop (see connected_components' durability contract).
    """
    comp = connected_components(pairs, df.select(id_col), id_col,
                                checkpoint_dir=checkpoint_dir)
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("keep_id"),
        )
        .withColumn("is_kept", F.col(id_col) == F.col("keep_id"))
    )


# ------------------------------------------------------- embedding near-dup


def triu_pair_chunks(n: int, chunk: int):
    """``np.triu_indices(n, k=1)`` in row-major slices of at most ``chunk``
    pairs, each derived from its flat pair-offset range: memory stays
    O(n + chunk) where the full index arrays are O(n^2)."""
    rows = np.arange(n, dtype=np.int64)
    row_start = rows * n - rows * (rows + 1) // 2  # first pair of row i
    total = n * (n - 1) // 2
    for lo in range(0, total, chunk):
        p = np.arange(lo, min(lo + chunk, total), dtype=np.int64)
        i = np.searchsorted(row_start, p, side="right") - 1
        yield i, p - row_start[i] + i + 1


def embedding_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane-LSH buckets + exact verify.

    Deterministic hyperplanes from the seed; candidates are pairs sharing a
    signature bucket. Scale note: expected bucket size is n / 2^n_planes and
    the per-bucket pair space is quadratic in it — size n_planes so buckets
    stay in the thousands (e.g. 24-32 planes at 10^9 vectors); the threshold-
    recall tradeoff is the standard hyperplane-LSH one.

    Execution shape: one shuffle of the vectors themselves, grouped by
    bucket id, with the candidate dots computed per bucket in numpy —
    NOT a bucket self-join: the join materializes both payload vectors on
    every candidate row (~1 KB x pairs — measured 1.5M candidate rows at
    20k vectors) and then pays an Arrow round trip per pair for the dot.
    The per-pair float ops ((va*vb).sum(axis=1), sqrt((v*v).sum(axis=1)),
    dot/(na*nb)) are the exact expressions the former dot/norm UDFs ran,
    so emitted cosines are bit-identical; the rounded threshold filter
    stays in Spark.
    """
    from clpspark.operators.similarity import lsh_planes, signature_int_udf

    dim = len(emb.select(vec_col).first()[0])
    planes = lsh_planes(dim, n_planes, seed)
    sig = signature_int_udf(planes)
    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        sig(F.col(vec_col)).alias("sig"),
    )
    id_type = emb.schema[id_col].dataType.simpleString()
    pre_t = threshold - 1e-6  # conservative; exact round+filter in Spark

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"a": pdf["vid"][:0], "b": pdf["vid"][:0],
                 "dot": np.empty(0), "na": np.empty(0), "nb": np.empty(0)}
            )
        pdf = pdf.sort_values("vid", kind="mergesort", ignore_index=True)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = np.sqrt((V * V).sum(axis=1))
        vid = pdf["vid"].to_numpy()
        # chunk the pair expansion: a degenerate bucket (skewed sig) has
        # O(B^2) pairs, so neither the pair indices nor V[ic] may be built
        # for the whole bucket — only threshold survivors accumulate
        chunk = max(1, 4_000_000 // max(V.shape[1], 1))
        outs = []
        for ic, jc in triu_pair_chunks(n, chunk):
            dots = (V[ic] * V[jc]).sum(axis=1)
            cos = dots / (nrm[ic] * nrm[jc])
            m = cos >= pre_t
            if m.any():
                outs.append(pd.DataFrame({
                    "a": vid[ic[m]], "b": vid[jc[m]],
                    "dot": dots[m], "na": nrm[ic[m]], "nb": nrm[jc[m]],
                }))
        if not outs:
            return pd.DataFrame(
                {"a": pdf["vid"][:0], "b": pdf["vid"][:0],
                 "dot": np.empty(0), "na": np.empty(0), "nb": np.empty(0)}
            )
        return pd.concat(outs, ignore_index=True)

    counted = base.groupBy("sig").applyInPandas(
        bucket_pairs,
        f"a {id_type}, b {id_type}, dot double, na double, nb double",
    )
    return (
        counted.withColumn(
            "cosine",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


# --------------------------------------------------------- semantic dedup


def semantic_dedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_iter: int = 5,
    sample_size: int = 2048,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster the
    embedding space, then WITHIN each cluster greedily drop every vector
    whose cosine to an already-kept vector exceeds ``threshold``. The scan
    order is the paper's best-performing keep rule — farthest-from-centroid
    first — made deterministic (centroid cosine rounded to 9 places,
    ties by id).

    Returns ``[id_col, cell, centroid_cos, keep]``; filter ``keep`` for
    the deduplicated corpus.

    Scale shape: the quadratic is CLUSTER-scoped — one shuffle on the cell
    id, then an Arrow-batched numpy pass per cluster (pairwise cosine of
    the cluster's members only). Size ``n_centroids`` proportional to the
    corpus so cells stay 10^4-ish (the paper runs 50k clusters on LAION);
    the cluster assignment reuses the IVF quantizer, so the trained
    centroids are engine-portable and replayable (`kmeans_from_matrix`).
    """
    from clpspark.operators.similarity import (
        assign_centroid_udf,
        ivf_centroids,
    )

    C = ivf_centroids(emb, n_centroids, n_iter, sample_size,
                      vec_col, id_col)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    assign = assign_centroid_udf(C)
    base = emb.select(
        F.col(id_col), F.col(vec_col).alias("_v"),
        assign(F.col(vec_col)).alias("cell"),
    )

    out_schema = (
        f"{id_col} {dict(base.dtypes)[id_col]}, cell int, "
        "centroid_cos double, keep boolean"
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        Vn = V / np.maximum(
            np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        ccos = np.round(Vn @ Cn[int(pdf["cell"].iloc[0])], 9)
        # farthest-from-centroid first; id tiebreak keeps reruns stable
        order = np.lexsort((pdf[id_col].to_numpy(), ccos))
        S = np.round(Vn @ Vn.T, 9)
        keep = np.zeros(len(pdf), dtype=bool)
        kept: list[int] = []
        for i in order:
            if not kept or S[i, kept].max() <= threshold:
                keep[i] = True
                kept.append(i)
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(),
            "cell": pdf["cell"].to_numpy(),
            "centroid_cos": ccos,
            "keep": keep,
        })

    return base.groupBy("cell").applyInPandas(dedup_cell, out_schema)

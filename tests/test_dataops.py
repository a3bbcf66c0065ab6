"""Training-data operators: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import itertools
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import clpspark.operators.dedup as dd
from clpspark.operators import dedup as D
from clpspark.operators import multimodal as M
from clpspark.operators import similarity as S
from clpspark.operators import text as TX

SF_DIR = "/root/testdata/sf0.001"
# the corpus of the gated dedup fast-path tests below
DEDUP_SF_DIR = os.environ.get(
    "CLPSPARK_TEST_SF", os.path.join(os.path.dirname(SF_DIR), "sf0.01"))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "s1"),
        (2, "the quick brown fox jumps over the lazy cat", "s1"),   # near-dup of 1
        (3, "The  Quick Brown Fox jumps over the lazy dog", "s2"),  # exact after norm
        (4, "completely different content about spark engines", "s2"),
        (5, "completely different content about spark engines", "s3"),  # exact dup of 4
        (6, "der hund und die katze sind nicht das problem", "s3"),
        (7, "le chat et le chien sont les animaux est", "s1"),
        (8, "short", "s1"),
        (9, "", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(spark, docs):
    out = {r["keep_id"]: r["n_dupes"] for r in D.exact_dedup(docs).collect()}
    assert out[1] == 2  # 1 and 3 normalize equal
    assert out[4] == 2  # 4 and 5
    assert out[2] == 1
    assert 3 not in out and 5 not in out


def _py_jaccard(a: str, b: str, n=3):
    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs or (1, 3) in pairs  # near-dups found
    # verify jaccard values against pure-python (note: Spark shingles are
    # case-sensitive on raw text; normalize first for the oracle comparison)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for (a, b), j in pairs.items():
        exact = _py_jaccard(texts[a], texts[b])
        # spark shingles use raw text; recompute with raw-casing oracle
        def sh(t, n=3):
            w = [x for x in t.split() if x]
            return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
        sa, sb = sh(texts[a]), sh(texts[b])
        expected = len(sa & sb) / len(sa | sb)
        assert abs(j - expected) < 1e-5, (a, b)


def test_ngram_jaccard_exact_baseline(spark, docs):
    """LSH pairs must be a subset of the exact inverted-index pairs."""
    exact = {(r["a"], r["b"]) for r in
             D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r["a"], r["b"]) for r in
           D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert lsh <= exact
    assert (1, 2) in exact


def test_simhash_pairs(spark, docs):
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    # python oracle
    for did, text in [(1, "the quick brown fox jumps over the lazy dog")]:
        v = D.simhash_py(text.lower().split())
        expected = v - (1 << 64) if v >= (1 << 63) else v
        assert sims[did] == expected
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in D.simhash_pairs(docs, max_hamming=12).collect()}
    # near-dup docs 1/2 within hamming 12; exact dups 4/5 at distance 0
    assert pairs.get((4, 5)) == 0
    assert (1, 3) in pairs  # case-insensitive words -> same simhash


def test_embedding_dup_pairs(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    rows = [
        (1, (base + 0.01 * rng.standard_normal(16)).tolist()),
        (2, (base + 0.01 * rng.standard_normal(16)).tolist()),
        (3, rng.standard_normal(16).tolist()),
        (4, (-base).tolist()),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["a"], r["b"]): r["cosine"]
             for r in D.embedding_dup_pairs(emb, threshold=0.9).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_cosine_topk_vs_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[rows[0]["vec_id"]]
    got = S.cosine_topk(emb, list(q), k=5).collect()
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
    }
    expected = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:5]
    assert [r["vec_id"] for r in got] == [vid for vid, _ in expected]
    for r, (vid, sim) in zip(got, expected):
        assert abs(r["cosine"] - sim) < 1e-4


def test_minhash_signatures_match_sets_path(spark, docs):
    """The standalone signature operator equals signatures derived from the
    materialized shingle-hash sets (the path minhash_lsh_pairs uses)."""
    import numpy as np

    from clpspark.operators.dedup import (
        minhash_py,
        minhash_signatures,
        shingle_hash_sets,
    )

    sigs = {r["doc_id"]: list(r["signature"])
            for r in minhash_signatures(docs, n_hashes=32).collect()}
    sets = {r["doc_id"]: r["sh"] for r in shingle_hash_sets(docs).collect()}
    assert sigs
    for did, sig in sigs.items():
        hs = np.asarray(sets[did], dtype=np.int64).astype(np.uint64)
        assert list(minhash_py(hs, 32)) == sig, did


def test_fingerprint_fast(spark):
    """JVM scale path: stable, whitespace-normalized, discriminating."""
    d = spark.createDataFrame(
        [(1, "a  b\tc"), (2, "a b c"), (3, "a b d"), (4, "A B C")],
        "doc_id long, text string",
    )
    f = {r["doc_id"]: r["fingerprint"] for r in TX.fingerprint_fast(d).collect()}
    assert f[1] == f[2] == f[4]  # normalized + case-folded
    assert f[3] != f[1]


def test_connected_components_chain(spark):
    """Multi-hop chains need several propagation rounds: 0-1-2-3-4 collapses
    to component 0; singletons keep themselves."""
    from clpspark.operators.dedup import connected_components, dedup_keep

    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (4, 3), (7, 8)], "a long, b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    comp = {r["doc_id"]: r["comp"]
            for r in connected_components(edges, docs).collect()}
    assert all(comp[i] == 0 for i in range(5))
    assert comp[7] == comp[8] == 7
    kept = {r["doc_id"]: (r["keep_id"], r["is_kept"])
            for r in dedup_keep(docs, edges).collect()}
    assert kept[4] == (0, False) and kept[0] == (0, True)
    assert kept[5] == (5, True) and kept[8] == (7, False)
    assert sum(1 for _, (k, ik) in kept.items() if ik) == 5  # reps of {0..4},{5},{6},{7,8},{9}


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = list(emb.first()["embedding"])
    exact = [r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in
              S.lsh_topk(emb, q, k=10, n_planes=8, probe_hamming=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5  # multi-probe LSH recall floor on 500 rows
    assert approx[0] == exact[0]  # the query's own vector is always found


def test_lsh_topk_materialized_index(spark, tmp_path):
    """ANN index path: identical results to the on-the-fly signature, and
    the probe is a partition-pruning filter on the sig column (storage-layer
    pruning, no full scan)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = list(emb.first()["embedding"])
    out = str(tmp_path / "ann")
    S.write_ann_index(emb, out)
    indexed = spark.read.parquet(out)
    a = [r["vec_id"] for r in
         S.lsh_topk(indexed, q, k=10, n_planes=8, probe_hamming=3).collect()]
    b = [r["vec_id"] for r in
         S.lsh_topk(emb, q, k=10, n_planes=8, probe_hamming=3).collect()]
    assert a == b
    plan = (
        S.lsh_topk(indexed, q, k=10, n_planes=8, probe_hamming=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [sig" in plan or "sig#" in plan.split(
        "PartitionFilters")[1][:200]


# ------------------------------------------------------------------- text
def test_token_count(spark, docs):
    out = {r["doc_id"]: r["n_words"] for r in TX.token_count(docs).collect()}
    assert out[1] == 9
    assert out[8] == 1
    assert out[9] == 0


def test_quality_and_fingerprint(spark, docs):
    q = {r["doc_id"]: r for r in TX.quality_score(docs).collect()}
    assert q[1]["n_words"] == 9 and q[1]["n_distinct_words"] == 8
    assert q[9]["quality_score"] == pytest.approx(0.2)  # empty text floor
    fp = {r["doc_id"]: r["fingerprint"] for r in TX.fingerprint(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, t in texts.items():
        assert fp[did] == TX.fingerprint_py(t)


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in TX.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[6] == "de"
    assert out[7] == "fr"
    assert out[9] == "und"


# --------------------------------------------------------------- multimodal
def test_multimodal_plumbing(spark):
    media = M.synth_media(spark, 30)
    feats = M.extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["features"]) == 8
        assert abs(sum(r["features"]) - 1.0) < 1e-5
    # determinism
    feats2 = {r["media_id"]: r["features"] for r in
              M.extract_features(M.synth_media(spark, 30)).collect()}
    for r in feats:
        assert feats2[r["media_id"]] == r["features"]
    frames = M.sample_frames(media, every_n=2)
    assert frames.where(F.col("kind") == "image").count() == 0
    assert frames.count() > 0
    rz = M.resize_meta(media, max_side=8).collect()
    for r in rz:
        assert max(r["target_w"], r["target_h"]) <= 8


def test_decode_rejects_codec_formats():
    """Video codec decode stays a DECLARED NotImplementedError (no ffmpeg
    in this container); library-free formats decode for real
    (test_real_media_decoders_in_spark_pipeline, PNG in
    test_png_decoder_all_filters, JPEG in test_jpeg.py). Structurally
    valid but unsupported variants (16-bit PNG, progressive JPEG) are
    likewise declared, not mis-decoded; truncated files are ValueErrors."""
    with pytest.raises(NotImplementedError):
        M._decode_payload(b"\x00\x00\x00\x18ftypmp42....")  # MP4 codec
    # truncated PNG / JPEG: real decoders now, failure is a ValueError
    with pytest.raises(ValueError):
        M._decode_payload(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        M._decode_payload(b"\xff\xd8\xff\xe0\x00\x40JFIF")


def _encode_png(px: np.ndarray, color_type: int, filters: list[int],
                plte: np.ndarray | None = None,
                interlace: int = 0, depth: int = 8) -> bytes:
    """Independent in-test PNG encoder (spec-following, per-row filter
    choice) so the decoder is NOT tested against itself."""
    import struct as st
    import zlib

    h, w = px.shape[:2]
    nch = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * nch).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * nch, dtype=np.int32)
    for r in range(h):
        ft = filters[r % len(filters)]
        raw.append(ft)
        line = flat[r]
        for i in range(w * nch):
            a = int(line[i - nch]) if i >= nch else 0
            b = int(prev[i])
            c = int(prev[i - nch]) if i >= nch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc
                                                          else c)
            raw.append((int(line[i]) - pred) & 0xFF)
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data)))

    out = b"\x89PNG\r\n\x1a\n"
    out += chunk(b"IHDR", st.pack(">IIBBBBB", w, h, depth, color_type,
                                  0, 0, interlace))
    if plte is not None:
        out += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    comp = zlib.compress(bytes(raw))
    # split IDAT to exercise multi-chunk reassembly
    mid = max(1, len(comp) // 2)
    out += chunk(b"IDAT", comp[:mid]) + chunk(b"IDAT", comp[mid:])
    out += chunk(b"IEND", b"")
    return out


def test_png_decoder_all_filters(spark):
    """Library-free PNG decode: every filter type (None/Sub/Up/Average/
    Paeth), gray / RGB / RGBA / palette color types, multi-chunk IDAT —
    decoded through the REAL Spark feature pipeline and verified against
    the raw pixels; 16-bit and interlaced stay declared errors."""
    from clpspark.operators.multimodal import (
        _decode_payload,
        extract_features,
    )

    rng = np.random.default_rng(11)

    gray = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    png_gray = _encode_png(gray, 0, filters=[0, 1, 2, 3, 4])
    assert (_decode_payload(png_gray) == gray).all()

    rgb = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)
    png_rgb = _encode_png(rgb, 2, filters=[4, 3, 2, 1, 0])
    rgb_lum = (rgb.astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)
    assert (_decode_payload(png_rgb) == rgb_lum).all()

    rgba = rng.integers(0, 256, (5, 5, 4), dtype=np.uint8)
    png_rgba = _encode_png(rgba, 6, filters=[4, 4, 1, 3])
    rgba_lum = (rgba[:, :, :3].astype(np.uint32).sum(axis=2) // 3
                ).astype(np.uint8)
    assert (_decode_payload(png_rgba) == rgba_lum).all()

    plte = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (4, 6), dtype=np.uint8)
    png_pal = _encode_png(idx, 3, filters=[1, 4], plte=plte)
    pal_lum = (plte[idx].astype(np.uint32).sum(axis=2) // 3
               ).astype(np.uint8)
    assert (_decode_payload(png_pal) == pal_lum).all()

    with pytest.raises(NotImplementedError):
        _decode_payload(_encode_png(gray, 0, filters=[0], interlace=1))
    with pytest.raises(NotImplementedError):
        _decode_payload(_encode_png(gray, 0, filters=[0], depth=16))

    # through the actual Spark pipeline (schema/partitioning/UDF shape)
    rows = [("png_g", "image", png_gray, 5, 7, 1, 0),
            ("png_c", "image", png_rgb, 4, 6, 1, 0)]
    df = spark.createDataFrame(
        rows,
        "media_id string, kind string, payload binary, width int, "
        "height int, n_frames int, sample_rate int",
    )
    got = {r["media_id"]: r["features"]
           for r in extract_features(df, n_features=8).collect()}

    def replay(px):
        hist, _ = np.histogram(px.astype(np.float64), bins=8, range=(0, 256))
        return (hist / (hist.sum() or 1)).astype(np.float32).tolist()

    assert got["png_g"] == pytest.approx(replay(gray))
    assert got["png_c"] == pytest.approx(replay(rgb_lum))


def test_semantic_dedup_vs_numpy_replay(spark):
    """SemDeDup cluster-scoped greedy dedup matches an independent pure-
    numpy replay of the whole algorithm (sample order, k-means,
    assignment, per-cell greedy scan), and planted exact clones collapse
    to their lowest-id original."""
    import hashlib

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding")
    # plant exact clones (cos == 1) under fresh high ids
    clones = [(int(r["vec_id"]) + 10_000_000, r["embedding"])
              for r in emb.orderBy("vec_id").limit(5).collect()]
    emb2 = emb.unionByName(spark.createDataFrame(
        clones, "vec_id long, embedding array<float>"))

    got = {int(r["vec_id"]): r
           for r in D.semantic_dedup(
               emb2, threshold=0.97, n_centroids=8, sample_size=256
           ).collect()}

    rows = emb2.collect()
    ids = [int(r["vec_id"]) for r in rows]
    V = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in rows])
    # replay: md5-of-string sample order -> shared k-means -> rounded
    # euclid argmin assignment
    order = sorted(range(len(ids)),
                   key=lambda i: (hashlib.md5(
                       str(ids[i]).encode()).hexdigest(), ids[i]))
    X = V[order][:256]
    C = S.kmeans_from_matrix(X, 8)
    d = np.round(np.sqrt(((V[:, None, :] - C[None, :, :]) ** 2).sum(-1)), 9)
    cell = d.argmin(axis=1)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    want_keep = {}
    for c in np.unique(cell):
        members = np.flatnonzero(cell == c)
        ccos = np.round(Vn[members] @ Cn[c], 9)
        scan = members[np.lexsort(([ids[m] for m in members], ccos))]
        Sm = np.round(Vn @ Vn.T, 9)
        kept = []
        for m in scan:
            ok = not kept or Sm[m, kept].max() <= 0.97
            want_keep[ids[m]] = ok
            if ok:
                kept.append(m)
    assert {i: r["keep"] for i, r in got.items()} == want_keep

    # every planted clone pair collapsed to one kept member — the
    # original (lower id scans first at equal centroid cosine)
    for cid, _v in clones:
        orig = cid - 10_000_000
        assert got[orig]["keep"] and not got[cid]["keep"]
        assert got[orig]["cell"] == got[cid]["cell"]


def test_gopher_quality_rules(spark):
    # hand-computable docs per rule; thresholds per Rae et al. Table A1
    stop8 = "the be to of and that have with"  # all 8 Gopher stopwords
    # 52 distinct alphabetic words (stopwords once, no repeated n-gram)
    # -> passes every rule
    good = stop8 + " " + " ".join(f"alphaword{i:02d}" for i in range(44))
    dup_lines = "\n".join(["same line here"] * 3 + ["unique tail line"])
    degenerate = " ".join(["spam ham"] * 40)  # one 2-gram dominates
    bullets = "\n".join(f"- item {i}" for i in range(10))
    rows = [
        (1, good),
        (2, dup_lines),
        (3, degenerate),
        (4, bullets),
        (5, ""),
        (6, "few words only"),
        (7, "lorem ipsum " + good + " {x}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in TX.gopher_quality(df).collect()}

    assert got[1]["gopher_pass"] is True
    assert got[1]["stopword_hits"] == 8
    assert got[1]["alpha_word_frac"] == 1.0
    assert not got[1]["has_curly_brace"] and not got[1]["has_lorem_ipsum"]

    # 4 lines, 3 identical: dup_line_frac = (4-3... ) = (4 - 2)/4? no:
    # sum(cnt)=4, distinct lines=2 -> (4-2)/4 = 0.5; chars of dup lines
    # = 14*3 / (14*3 + 16) = 42/58
    assert got[2]["dup_line_frac"] == pytest.approx(0.5)
    assert got[2]["dup_line_char_frac"] == pytest.approx(round(42 / 58, 6))
    assert got[2]["gopher_pass"] is False

    # "spam ham spam ham ...": top 2-gram ("spam ham" x40, 8 chars + the
    # interleaved "ham spam" x39) -> char frac way over 0.20, clamped <= 1
    assert got[3]["top_2gram_char_frac"] > 0.2
    assert got[3]["top_2gram_char_frac"] <= 1.0
    assert got[3]["gopher_pass"] is False

    assert got[4]["bullet_line_frac"] == 1.0
    assert got[4]["gopher_pass"] is False

    # empty doc: every fraction 0, no words -> fails min-words
    assert got[5]["gopher_pass"] is False
    assert got[5]["top_3gram_char_frac"] == 0.0
    assert got[5]["dup_line_frac"] == 0.0

    assert got[6]["gopher_pass"] is False  # < 50 words

    assert got[7]["has_lorem_ipsum"] and got[7]["has_curly_brace"]


def test_train_bpe_matches_python_replay(spark):
    """The distributed merge sequence must equal the canonical sequential
    BPE algorithm (count desc, lexicographic pair tie-break)."""
    from collections import Counter

    from clpspark.operators.tokenizer import END_OF_WORD, train_bpe

    rows = [(1, "low lower lowest low low"), (2, "new newer newest new"),
            (3, "low new lowest newer"), (4, "the cat sat on the mat"),
            (5, "the cat ate the rat")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(df, 12)

    wf = Counter(w for _, t in rows for w in t.lower().split())
    vocab = {w: list(w) + [END_OF_WORD] for w in wf}
    replay = []
    for _ in range(12):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc or max(pc.values()) < 2:
            break
        bc = max(pc.values())
        best = sorted(p for p, c in pc.items() if c == bc)[0]
        replay.append(best)
        lft, rgt = best
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert merges == replay
    assert len(merges) >= 8  # the fixture supports at least this many


def test_encode_bpe_greedy_rank_order(spark):
    """encode applies the LOWEST-rank merge first (canonical BPE encode),
    and words concatenate in document order."""
    from clpspark.operators.tokenizer import encode_bpe

    merges = [("l", "o"), ("lo", "w"), ("w", "</w>"), ("e", "r")]
    df = spark.createDataFrame(
        [(1, "low lowest yew")], "doc_id long, text string")
    got = encode_bpe(df, merges).collect()[0]
    # low -> 'low' + '</w>'; lowest -> low,e,s,t,</w>; yew -> y,e,w</w>
    assert got["bpe_tokens"] == [
        "low", "</w>", "low", "e", "s", "t", "</w>", "y", "e", "w</w>",
    ]
    assert got["n_bpe_tokens"] == 10


def test_lm_perplexity_hand_check(spark):
    """Bigram add-k numbers replicated in pure python, incl. <s>, <unk>
    for out-of-train words, and tercile buckets."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from clpspark.operators.tokenizer import lm_perplexity

    rows = [(1, "a b a b", "en"), (2, "a b c", "en"),
            (3, "b a q", "fr"), (4, "", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r.asDict() for r in lm_perplexity(
        df, train_filter=F.col("lang") == "en").collect()}
    assert 4 not in got  # token-less doc excluded

    train = [t.split() for _, t, lg in rows if lg == "en" and t]
    big = Counter((p, w) for toks in train
                  for p, w in zip(["<s>"] + toks, toks))
    ctx = Counter()
    for (p, _), c in big.items():
        ctx[p] += c
    vocab = {w for toks in train for w in toks}
    v, k = len(vocab) + 1, 0.1

    def score(toks):
        lnps = []
        prev = "<s>"
        for w in toks:
            pw = prev if prev == "<s>" or prev in vocab else "<unk>"
            ww = w if w in vocab else "<unk>"
            lnps.append(round(math.log(
                (big.get((pw, ww), 0) + k) / (ctx.get(pw, 0) + k * v)), 9))
            prev = w
        xent = round(-sum(lnps) / len(lnps), 6)
        return xent, round(math.exp(xent), 6)

    for doc_id, text, _ in [(1, "a b a b", 0), (2, "a b c", 0),
                            (3, "b a q", 0)]:
        xent, ppl = score(text.split())
        assert got[doc_id]["lm_xent"] == pytest.approx(xent, abs=1e-9)
        assert got[doc_id]["lm_ppl"] == pytest.approx(ppl, abs=1e-9)
    order = sorted(got, key=lambda d: (got[d]["lm_ppl"], d))
    assert [got[d]["lm_bucket"] for d in order] == ["head", "middle", "tail"]


def test_quality_classifier_learns_planted_signal(spark):
    """GPT-3-style LR quality filter: must separate a planted reference
    vocabulary from a crawl vocabulary, and the Pareto keep rule must
    replay from the md5-deterministic uniform."""
    import hashlib
    import math

    from clpspark.operators.quality_model import (
        PARETO_ALPHA,
        score_quality,
        train_quality_classifier,
    )

    hi = "insight analysis rigorous cited measured careful precise"
    lo = "click spam buy cheap winner prize lottery"
    rows = []
    for i in range(60):
        w = (hi if i % 2 == 0 else lo).split()
        text = " ".join(w[(i + j) % len(w)] for j in range(12))
        rows.append((i, text, i % 2 == 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, ref boolean")
    m = train_quality_classifier(df, "ref", n_features=1 << 12)
    got = {r["doc_id"]: r.asDict()
           for r in score_quality(df, m).collect()}
    hi_avg = sum(got[i]["quality_score"] for i in range(0, 60, 2)) / 30
    lo_avg = sum(got[i]["quality_score"] for i in range(1, 60, 2)) / 30
    assert hi_avg > 0.9 and lo_avg < 0.1

    # Pareto keep: replay u from the SALTED md5 ('qm:' + doc_id — the
    # salt decorrelates this draw from hash_keep-style samplers); keep is
    # decided on the ROUNDED emitted score so the replay is exact
    for i, d in got.items():
        u = int(hashlib.md5(f"qm:{i}".encode()).hexdigest()[:6], 16) / 16**6
        pareto = (1.0 - u) ** (-1.0 / PARETO_ALPHA) - 1.0
        assert d["keep"] == (pareto > 1.0 - d["quality_score"]), i


def test_train_bpe_sampled_is_deterministic(spark):
    """sample_fraction trains on the hash_keep slice — same merges as
    training on that slice directly."""
    from clpspark.operators.curate import hash_keep
    from clpspark.operators.tokenizer import train_bpe

    rows = [(i, f"low lower lowest new newer variant{i % 7}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sampled = train_bpe(df, 8, sample_fraction=0.5)
    direct = train_bpe(df.where(hash_keep("doc_id", 0.5)), 8)
    assert sampled == direct and len(sampled) == 8


def test_bpe_vocab_and_id_encode(spark):
    """Vocab ids are dense/deterministic (ordered by token) and the id
    encode reproduces the string encode through the vocab map; OOV -> -1."""
    from clpspark.operators.tokenizer import (
        bpe_vocab,
        encode_bpe,
        encode_bpe_ids,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(1, "low lower low"), (2, "new lower newest")],
        "doc_id long, text string")
    merges = train_bpe(docs, 6, min_pair_count=1)
    v = bpe_vocab(docs, merges)
    vm = {r["token"]: r["token_id"] for r in v.collect()}
    assert sorted(vm.values()) == list(range(len(vm)))  # dense 0..V-1
    assert vm == {t: i for i, t in enumerate(sorted(vm))}  # ordered by token

    toks = {r["doc_id"]: r["bpe_tokens"]
            for r in encode_bpe(docs, merges).collect()}
    ids = {r["doc_id"]: r["token_ids"]
           for r in encode_bpe_ids(docs, merges, v).collect()}
    for d in (1, 2):
        assert ids[d] == [vm[t] for t in toks[d]]

    # OOV: encode new docs against the OLD vocab -> -1 for unseen tokens;
    # token-less docs keep a row with an empty id array (encode_bpe parity)
    other = spark.createDataFrame(
        [(9, "zzz"), (10, ""), (11, None)], "doc_id long, text string")
    oov = {r["doc_id"]: r["token_ids"]
           for r in encode_bpe_ids(other, merges, v).collect()}
    assert -1 in oov[9] and oov[10] == [] and oov[11] == []

    # one segmentation pass shared by vocab + id encode
    enc = encode_bpe(docs, merges).localCheckpoint(eager=True)
    v2 = bpe_vocab(docs, encoded=enc)
    ids2 = {r["doc_id"]: r["token_ids"]
            for r in encode_bpe_ids(docs, None, v2, encoded=enc).collect()}
    assert ids2 == ids


def test_real_media_decoders_in_spark_pipeline(spark):
    """Library-free REAL decoders (netpbm P5/P6, 24-bit BMP, PCM WAV)
    through the actual Spark feature-extraction pipeline — histograms
    verified against a pure-numpy replay of each format."""
    import io
    import struct as st
    import wave

    from clpspark.operators.multimodal import extract_features

    rng = np.random.default_rng(3)

    # P5 grayscale 6x4
    g = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    p5 = b"P5\n# c\n6 4\n255\n" + g.tobytes()

    # P6 RGB 3x2 -> integer-mean luminance
    rgb = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    p6 = b"P6 3 2 255\n" + rgb.tobytes()
    p6_lum = (rgb.astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)

    # 24-bit bottom-up BMP 3x2 (stride pads 9 -> 12)
    bmp_px = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    stride = 12
    body = b"".join(
        bmp_px[r].tobytes() + b"\x00" * (stride - 9) for r in range(2)
    )
    bmp = (b"BM" + st.pack("<IHHI", 54 + len(body), 0, 0, 54)
           + st.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(body),
                     2835, 2835, 0, 0) + body)
    bmp_lum = (bmp_px[::-1].astype(np.uint32).sum(axis=2) // 3
               ).astype(np.uint8)

    # stereo 16-bit PCM WAV
    samples = rng.integers(-32768, 32767, (50, 2), dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(2)
        f.setsampwidth(2)
        f.setframerate(16000)
        f.writeframes(samples.tobytes())
    wav = buf.getvalue()
    wav_u = ((samples.astype(np.int32) + 32768) >> 8).astype(np.uint8)
    wav_mono = (wav_u.astype(np.uint32).sum(axis=1) // 2).astype(np.uint8)

    rows = [
        ("p5", "image", p5, 6, 4, 1, 0),
        ("p6", "image", p6, 3, 2, 1, 0),
        ("bmp", "image", bmp, 3, 2, 1, 0),
        ("wav", "audio", wav, 0, 0, 1, 16000),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id string, kind string, payload binary, width int, "
        "height int, n_frames int, sample_rate int",
    )
    got = {r["media_id"]: r["features"]
           for r in extract_features(df, n_features=8).collect()}

    def replay(px):
        hist, _ = np.histogram(px.astype(np.float64), bins=8, range=(0, 256))
        return (hist / (hist.sum() or 1)).astype(np.float32).tolist()

    assert got["p5"] == pytest.approx(replay(g))
    assert got["p6"] == pytest.approx(replay(p6_lum))
    assert got["bmp"] == pytest.approx(replay(bmp_lum))
    assert got["wav"] == pytest.approx(replay(wav_mono))


def test_compressibility_vs_zlib_replay(spark):
    """Per-doc zlib compressibility matches an exact stdlib replay, and
    the signal orders planted docs correctly: repetitive boilerplate
    compresses far better than prose, random hex far worse."""
    import zlib

    from clpspark.operators.text import compressibility

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    planted = spark.createDataFrame(
        [(9_000_001, "spam ham " * 500),
         (9_000_002, "1f8a" * 3 + "".join(
             f"{(i * 2654435761) % (1 << 32):08x}" for i in range(500)))],
        "doc_id long, text string",
    )
    all_docs = docs.unionByName(planted)
    got = {int(r["doc_id"]): r for r in compressibility(all_docs).collect()}
    for did, text in [(int(r["doc_id"]), r["text"])
                      for r in all_docs.collect()]:
        b = text.encode("utf-8")
        want_c = len(zlib.compress(b, 6))
        assert got[did]["n_bytes"] == len(b)
        assert got[did]["n_compressed"] == want_c
        # Spark round() is HALF_UP, python's is banker's — compare approx
        assert got[did]["compress_ratio"] == pytest.approx(
            len(b) / want_c, abs=1e-6)
    corpus_ratios = [r["compress_ratio"] for d, r in got.items()
                     if d < 9_000_000]
    mean_corpus = sum(corpus_ratios) / len(corpus_ratios)
    assert got[9_000_001]["compress_ratio"] > mean_corpus  # boilerplate
    assert got[9_000_002]["compress_ratio"] < mean_corpus  # hex noise


def test_normalize_text_vs_unicodedata_replay(spark):
    """NFC + lowercase + whitespace collapse matches the python replay;
    decomposed and precomposed spellings hash equally afterwards."""
    import re
    import unicodedata

    from clpspark.operators.curate import normalize_text

    rows = [
        (1, "CAFÉ  du\tmonde"),      # decomposed acute
        (2, "Café du monde"),          # precomposed
        (3, "  Ärger   inside  "),   # leading/trailing + diaeresis
        (4, None),
        (5, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {int(r["doc_id"]): r["text"]
           for r in normalize_text(df).collect()}

    def replay(t):
        if t is None:
            return None
        return re.sub(r"\s+", " ", unicodedata.normalize("NFC", t)
                      .lower()).strip()

    for did, t in rows:
        assert got[did] == replay(t), did
    # canonicalization goal: both spellings of café normalize identically
    assert got[1] == got[2] == "café du monde"
    # NFKC variant gated through the same UDF path
    nfkc = {int(r["doc_id"]): r["text"]
            for r in normalize_text(
                spark.createDataFrame([(1, "ﬁle  ONE")],
                                      "doc_id long, text string"),
                form="NFKC").collect()}
    assert nfkc[1] == "file one"  # fi ligature folds under NFKC


def test_normalize_text_idempotent(spark):
    """normalize(normalize(x)) == normalize(x): canonicalization must be
    a projection (running the pre-dedup step twice cannot change keys)."""
    from clpspark.operators.curate import normalize_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    injected = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit("  CAFÉ \t x")))
    once = normalize_text(injected)
    twice = normalize_text(once)
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert a == b


def test_lsh_signature_high_planes_long(spark):
    """n_planes >= 32 must not wrap negative (int64 end to end): the UDF
    signature and the driver-side query_signature agree bit for bit."""
    import numpy as np

    from clpspark.operators.similarity import (
        lsh_planes,
        query_signature,
        signature_int_udf,
    )

    rng = np.random.default_rng(7)
    vecs = [(i, rng.standard_normal(16).tolist()) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    n_planes = 40
    planes = lsh_planes(16, n_planes, seed=3)
    got = {
        r["vec_id"]: r["sig"]
        for r in df.select(
            "vec_id", signature_int_udf(planes)(F.col("embedding")).alias("sig")
        ).collect()
    }
    assert df.select(
        signature_int_udf(planes)(F.col("embedding")).alias("sig")
    ).schema["sig"].dataType.simpleString() == "bigint"
    for vid, emb in vecs:
        assert got[vid] == query_signature(planes, emb)
        assert got[vid] >= 0
    with pytest.raises(ValueError):
        signature_int_udf(lsh_planes(16, 63, seed=3))


def test_pair_miners_leave_no_persistent_rdds(spark):
    from clpspark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon zeta") for i in range(30)],
        "doc_id int, text string",
    )
    # start from a clean explicit-cache registry (other tests' session-scoped
    # caches would otherwise make this order-dependent)
    spark.catalog.clearCache()
    for fn in (minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs):
        fn(docs).count()
    # localCheckpoint blocks are ContextCleaner-owned (freed on GC);
    # an un-unpersisted .persist() would sit in the cacheManager forever.
    # Repeated miner calls must leave the explicit-cache registry empty.
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_simhash_batch_matches_scalar():
    from clpspark.operators.dedup import _simhash_batch, simhash_py

    docs = [
        "the quick brown fox jumps over the lazy dog",
        "",
        "one",
        "the quick brown fox jumps over the lazy dog",
        "repeated repeated repeated words words",
    ]
    split = [d.lower().split() for d in docs]
    got = _simhash_batch(split, {})
    for g, words in zip(got, split):
        assert int(g) == simhash_py(words)


def test_encode_bpe_null_text_and_java_whitespace(spark):
    from clpspark.operators.tokenizer import encode_bpe

    df = spark.createDataFrame(
        [(1, None), (2, "a\xa0b a\xa0b")],
        "doc_id long, text string")
    merges = [("a", "\xa0"), ("a\xa0", "b"), ("a\xa0b", "</w>")]
    got = {r["doc_id"]: r["bpe_tokens"]
           for r in encode_bpe(df, merges).collect()}
    assert got[1] == []
    # NBSP is NOT whitespace to the Java \s the trainer used: 'a\xa0b'
    # stays ONE word and the trained merges apply across the NBSP
    assert got[2] == ["a\xa0b</w>", "a\xa0b</w>"]


# -- gated dedup fast paths: each must be value-identical to the distributed
# fallback it replaced, including the fallback branches the bench corpora
# never reach


def _docs(spark):
    return spark.read.parquet(f"{DEDUP_SF_DIR}/documents.parquet")


@pytest.mark.parametrize("threshold", [0.05, 0.5])
def test_jaccard_join_path_matches_matrix(spark, threshold, monkeypatch):
    docs = _docs(spark)
    fast = sorted(
        map(tuple, dd.ngram_jaccard_pairs(docs, threshold=threshold).collect())
    )
    monkeypatch.setattr(dd, "_JACCARD_MATRIX_MAX_INSTANCES", -1)
    join_path = sorted(
        map(tuple, dd.ngram_jaccard_pairs(docs, threshold=threshold).collect())
    )
    assert fast == join_path and len(fast) > 0


def test_jaccard_matrix_chunk_merge(spark, monkeypatch):
    """Forcing tiny chunk budgets exercises the in-block partial-count
    merge (the mega-doc path) — output must not change."""
    docs = _docs(spark)
    base = sorted(map(tuple, dd.ngram_jaccard_pairs(docs, threshold=0.05).collect()))
    monkeypatch.setattr(dd, "_JACCARD_CHUNK_TOUCHES", 1_000)
    chunked = sorted(
        map(tuple, dd.ngram_jaccard_pairs(docs, threshold=0.05).collect())
    )
    assert base == chunked and len(base) > 0


def test_cc_loop_path_matches_union_find(spark):
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (4, 3), (7, 8), (9, 9)], "a long, b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    fast = {r["doc_id"]: r["comp"]
            for r in dd.connected_components(edges, docs).collect()}
    loop = {r["doc_id"]: r["comp"]
            for r in dd.connected_components(
                edges, docs, max_collect_edges=0).collect()}
    assert fast == loop
    assert all(fast[i] == 0 for i in range(5))
    assert fast[7] == fast[8] == 7 and fast[9] == 9


def test_cc_nonvertex_endpoints_and_nulls(spark):
    """Edges referencing ids outside ``vertices`` relay connectivity but
    never become labels (r6 propagation semantics); vertexless components
    are silent; null endpoints are inert."""
    edges = spark.createDataFrame(
        [(5, 100), (100, 6),      # 5-6 joined through non-vertex 100
         (200, 201),              # component with no vertex at all
         (None, 7), (8, None)],   # nulls: inert
        "a long, b long",
    )
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    for gate in (10**6, 0):  # union-find path, then the loop path
        comp = {r["doc_id"]: r["comp"]
                for r in dd.connected_components(
                    edges, docs, max_collect_edges=gate).collect()}
        assert set(comp) == set(range(10))  # vertices only, no 100/200/201
        assert comp[5] == comp[6] == 5, (gate, comp)
        assert comp[7] == 7 and comp[8] == 8, (gate, comp)


def test_emb_dup_pairs_chunked_bucket(spark):
    """A degenerate all-one-bucket input must stream through the chunked
    pair loop without changing results."""
    rows = [(i, [1.0 + (i % 7) * 0.01] * 8) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dd.embedding_dup_pairs(emb, threshold=0.999999, n_planes=2).collect()
    # identical-direction vectors: every in-bucket pair has cosine 1.0
    assert len(out) > 0
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in out)


@pytest.mark.parametrize("n", [0, 1, 2, 5, 17, 64])
def test_triu_pair_chunks_equal_triu_indices(n):
    """Per-chunk pair indices concatenate to np.triu_indices(n, k=1), for
    chunks that split rows anywhere."""
    import numpy as np

    ii, jj = np.triu_indices(n, k=1)
    for chunk in (1, 3, n + 1, 10_000):
        parts = list(dd.triu_pair_chunks(n, chunk))
        assert all(len(i) <= chunk for i, _ in parts)
        got_i = np.concatenate([i for i, _ in parts] or [np.empty(0, int)])
        got_j = np.concatenate([j for _, j in parts] or [np.empty(0, int)])
        assert got_i.tolist() == ii.tolist() and got_j.tolist() == jj.tolist()


def test_triu_pair_chunks_memory_tracks_chunk():
    """A 100k-vector bucket (~5e9 pairs; triu_indices would need ~80 GB)
    costs memory proportional to the chunk, not to the pair count."""
    import tracemalloc

    import numpy as np

    n, chunk = 100_000, 20_000
    tracemalloc.start()
    try:
        chunks = dd.triu_pair_chunks(n, chunk)
        for _ in range(3):
            i, j = next(chunks)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    # a few n-sized (row starts) and chunk-sized int64 arrays
    assert peak < 4 * 8 * n + 8 * 8 * chunk, peak
    assert (i < j).all() and i[0] == 0 and j[0] == 2 * chunk + 1


def test_word_hashes_overflow_memo(monkeypatch):
    """Past the executor memo cap, each distinct word of a batch is still
    hashed once (batch-local memo), with the same hashes as uncapped."""
    calls = []

    def counting_hash(w):
        calls.append(w)
        return len(w) * 1_000_003 + ord(w[0])

    docs = [["a", "b", "c", "d", "a"], ["d", "e", "c", "e", "a", "f"]]
    expected = dd._batch_word_hashes(docs, {}, counting_hash)
    calls.clear()
    monkeypatch.setattr(dd, "_WORD_CACHE_MAX", 2)
    cache: dict[str, int] = {}
    got = dd._batch_word_hashes(docs, cache, counting_hash)
    assert got.tolist() == expected.tolist()
    assert sorted(calls) == sorted(set(calls)) == list("abcdef")
    assert len(cache) == 2
    calls.clear()
    dd._batch_word_hashes(docs, cache, counting_hash)  # next batch
    assert sorted(calls) == list("cdef")  # a, b stay memoized

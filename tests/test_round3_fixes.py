"""Round-3 fix regressions: unseen-logtype quarantine, int64 LSH signatures,
windowed top-k time bounds, persist-leak-free pair miners, byte-gated
dictionary auto mode, vectorized simhash equality."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------- route quarantine


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


# ------------------------------------------------------- int64 LSH signature


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


# ------------------------------------------------- windowed top-k time bounds


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


# ----------------------------------------------------- persist-leak regression


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


# -------------------------------------------------- vectorized simhash parity


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

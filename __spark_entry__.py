"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CLP pipeline (parse -> enrich -> route ->
aggregate) over a deterministic synthesized sequences corpus.

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 + the training-data ops; ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible one (identical column names/aliases,
floats rounded identically on both sides).

CLP pipeline queries run over the synthesized corpus rather than the driver
tables; their oracles re-derive the expected output INDEPENDENTLY in DuckDB
by detokenizing the corpus parquet against the vocabulary table the corpus
build writes next to it (``_vocab.parquet``) — the full text pipeline
(timestamp strip, search, reconstruction) is therefore value-verified end to
end, not rows-only. The only rows-only query left is docs_minhash_pairs
(LSH-probabilistic candidate generation; its emitted pairs are
exact-Jaccard verified in-plan and in tests/).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------- helpers

_CORPUS_CACHE = "/tmp/clpspark_corpus"
_WORK_CACHE = "/tmp/clpspark_work"
_PIPELINE_ROWS = 20_000


def _corpus(spark: SparkSession, n_rows: int) -> str:
    """Synthesize (once) the deterministic sequences corpus of input_hint
    shape; cached on local disk keyed by row count. A ``_vocab.parquet``
    sidecar (ignored by Spark's reader, addressable by DuckDB) lets oracles
    detokenize independently."""
    from clpspark.corpus import build_vocab, write_corpus

    path = f"{_CORPUS_CACHE}/n{n_rows}"
    marker = f"{path}/_SUCCESS"
    if not os.path.exists(marker):
        write_corpus(spark, path, n_rows=n_rows, seed=42)
    vocab_pq = f"{path}/_vocab.parquet"
    if not os.path.exists(vocab_pq):
        import pyarrow as pa
        import pyarrow.parquet as pq

        vocab = build_vocab(42).vocab
        pq.write_table(
            pa.table({"tok_id": list(range(len(vocab))), "piece": vocab}),
            vocab_pq,
        )
    return path


def _pipeline_outputs(spark: SparkSession, n_rows: int) -> str:
    """Run (or reuse via lineage resume) the pipeline; returns work dir."""
    from clpspark.pipeline import PipelineConfig, run_pipeline

    inp = _corpus(spark, n_rows)
    work = f"{_WORK_CACHE}/n{n_rows}"
    cfg = PipelineConfig(input_path=inp, work_dir=work)
    run_pipeline(spark, cfg, resume=True)
    return work


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _grep_engine(spark: SparkSession, n_rows: int = _PIPELINE_ROWS):
    from clpspark.plans.grep import GrepEngine

    return GrepEngine.from_work_dir(spark, _pipeline_outputs(spark, n_rows))


# ----------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline on a 20k-row corpus; per-sink aggregates
    joined back to the logtype dictionary (the GLT per-logtype view)."""
    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    counts = spark.read.parquet(f"{work}/agg_sink_counts")
    lt = spark.read.parquet(f"{work}/logtype_dict")
    return (
        counts.join(F.broadcast(lt.select("logtype_id", "logtype")), "logtype_id")
        .select("logtype_id", "logtype", "n_rows")
        .orderBy(F.col("n_rows").desc(), "logtype_id")
    )


# ---------------------------------------------------------------- queries

_STREAM_SEQ = 0

_EMB_Q = [1.0 if i % 3 == 0 else (-1.0 if i % 3 == 1 else 0.5) for i in range(64)]


def _q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join enrichment chain orders ⋈ customer ⋈ nation."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


def _q_top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def _q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti join in one plan (the reference's tags/archive
    IN-subquery pruning and NOT EXISTS pruning), tagged and unioned."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("cust_with_orders").alias("side"),
        F.col("c_custkey").cast("bigint").alias("key"),
        F.col("c_name").alias("name"),
    )
    p = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem")
    anti = p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        F.lit("part_never_shipped").alias("side"),
        F.col("p_partkey").cast("bigint").alias("key"),
        F.col("p_name").alias("name"),
    )
    return semi.unionAll(anti).orderBy("side", "key")


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session per user."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0)
    sess_ix = F.sum(new_sess).over(
        Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.withColumn("session_ix", sess_ix)
        .groupBy("user_id", "session_ix")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_ms").alias("session_start"),
            F.max("ts_ms").alias("session_end"),
        )
    )


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns (conditional aggregation)."""
    ev = _read(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_id")
    )


def _q_lineitem_cube_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets + exact per-group percentiles (continuous
    interpolation) joined onto the cube rows — one driver row covering both
    aggregate surfaces (null-grouping cube rows keep null quantiles)."""
    li = _read(spark, sf_dir, "lineitem")
    cube = li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )
    qt = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
    )
    return cube.join(F.broadcast(qt), "l_returnflag", "left").select(
        "l_returnflag", "l_linestatus", "n_rows", "sum_qty",
        "p50_qty", "p90_price",
    ).orderBy("l_returnflag", "l_linestatus")


def _q_events_count_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLP count-by-time bucketing (OutputHandler.hpp:270-272) on epoch ms."""
    from clpspark.operators.aggregate import count_by_time

    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    return count_by_time(ev, 3_600_000, ts_col="ts_ms", group_cols=("event_type",))


def _q_events_topk_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k latest (reducer/top-k semantics) with deterministic tiebreak."""
    from clpspark.operators.aggregate import topk_latest

    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    return topk_latest(ev, 100, ts_col="ts_ms", tiebreak_col="event_id").select(
        "event_id", "ts_ms", "event_type"
    )


def _q_events_wildcard_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLP wildcard-match semantics AND the regex front-end (regex -> CLP
    wildcard translation, clp/regex_utils/regex_translation_utils.cpp), both
    compiled to LIKE scans, tagged and unioned into one driver row."""
    from clpspark.ref.regex_translate import regex_to_wildcard
    from clpspark.ref.wildcard import clean_up_wildcard_search_string, wildcard_to_like

    ev = _read(spark, sf_dir, "events")
    wpat = wildcard_to_like(clean_up_wildcard_search_string('*"k": 9*'))
    wild = ev.where(F.col("props").like(wpat)).select(
        F.lit("wildcard").alias("mode"), "event_id", "props"
    )
    rpat = wildcard_to_like(
        regex_to_wildcard(r'^\{"k": 9.\}$', add_prefix_suffix_wildcards=True)
    )
    rex = ev.where(F.col("props").like(rpat)).select(
        F.lit("regex").alias("mode"), "event_id", "props"
    )
    return wild.unionAll(rex)


def _q_events_kql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KQL parity surface in one query: typed comparisons, nested object
    query, value list, date() literal, and AND/OR group nesting
    (Kql.g4 NestedQuery / list_of_values / DATE_LITERAL)."""
    from clpspark.operators.util import rebalance_for_udf
    from clpspark.plans.kql import kql_filter

    # the events table is a single-row-group parquet file: without a
    # rebalance the 1M-row from_json projection runs as ONE scan task
    ev = rebalance_for_udf(_read(spark, sf_dir, "events")).select(
        "event_id",
        "event_type",
        "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.from_json("props", "k int").alias("p"),
    )
    q = (
        '(event_type: "error" AND value > 50)'
        ' OR (p: {k: (9 OR 29)} AND ts_ms >= date("2024-01-15 00:00:00.000"))'
    )
    return kql_filter(ev, q).select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 4).alias("value"),
        "ts_ms",
        F.col("p.k").alias("k"),
    )


def _q_docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite in one per-doc row: token counting (whitespace +
    BPE-ish subword regex), quality scoring, n-gram-heuristic language ID,
    the Gopher/C4 quality-filter rule set (symbol/alpha/stopword word
    rules, bullet/ellipsis/terminal line rules, duplicate-line and
    top-n-gram repetition fractions, C4 flags, combined gopher_pass), and
    CCNet-style LM quality scoring (add-k bigram LM trained on the 'en'
    slice; per-doc cross-entropy, perplexity, head/middle/tail bucket).
    All row-wise metrics fuse into ONE projection of one scan
    (text.text_profile); only the aggregating tables (dup-line stats,
    top-n-gram stats, LM scores) join — composing the operators
    separately would shuffle the full corpus on doc_id once per
    operator. LM joins left: token-less docs have no events to score."""
    from clpspark.operators.text import text_profile
    from clpspark.operators.tokenizer import lm_perplexity

    docs = _read(spark, sf_dir, "documents")
    return (
        text_profile(docs)
        .join(lm_perplexity(docs, train_filter=F.col("lang") == "en"),
              "doc_id", "left")
        .orderBy("doc_id")
    )


def _q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clpspark.operators.dedup import exact_dedup

    return exact_dedup(_read(spark, sf_dir, "documents")).orderBy("keep_id")


def _q_docs_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (rolling hash, Arrow-batched) + SimHash
    (vectorized bit votes) joined into one per-doc row."""
    from clpspark.operators.dedup import simhash
    from clpspark.operators.text import fingerprint

    docs = _read(spark, sf_dir, "documents")
    return fingerprint(docs).join(simhash(docs), "doc_id").orderBy("doc_id")


def _q_docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clpspark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.05
    ).orderBy("a", "b")


def _q_docs_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-near-dup-cluster: connected components (iterative min-
    label propagation) over exact-jaccard pairs; oracle recomputes the
    components with a recursive CTE."""
    from clpspark.operators.dedup import dedup_keep, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup_keep(docs, pairs).orderBy("doc_id")


_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.125,
                     "zh": 0.125}
# greedy quality-first token budget for the docs_sampling 'budget' mode
_TOKEN_BUDGET = 20_000
# DSIR knobs for the docs_sampling 'dsir' mode (target domain = src0)
_DSIR_BUCKETS = 256
_DSIR_K = 40


def _q_docs_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling, four modes in one driver row: stratified
    md5-threshold fraction sampling (scan-local, no shuffle), exact
    n-per-stratum top-n by md5 rank, greedy token-budget selection
    (best quality_score first, strict prefix under _TOKEN_BUDGET tokens —
    the 'top docs until N tokens' training-mix step; cumulative sum via
    the two-pass running-sum, no partition-less window), and DSIR
    importance resampling (Xie et al. 2023: hashed-ngram bag models of
    the src0 target vs the raw corpus, add-1 smoothing, Gumbel top-k of
    the log importance weights — distributions reduce map-side to
    _DSIR_BUCKETS rows, scoring is scan-local, selection is a bounded
    top-k) — tagged and unioned."""
    from clpspark.operators.curate import (
        dsir_select,
        sample_fraction,
        sample_per_stratum,
        select_token_budget,
    )
    from clpspark.operators.text import quality_score_col

    docs = _read(spark, sf_dir, "documents")
    strat = sample_fraction(docs, _SAMPLE_FRACTIONS, strata_col="lang").select(
        F.lit("stratified").alias("method"), "doc_id", "lang"
    )
    topn = sample_per_stratum(docs, ["lang"], 10).select(
        F.lit("top_n").alias("method"), "doc_id", "lang"
    )
    # scan-local quality column — joining quality_score(docs) back on
    # doc_id shuffled the corpus twice for a value computable in the scan
    scored = docs.withColumn("quality_score", quality_score_col("text"))

    # budget and DSIR both run eager driver actions while BUILDING their
    # plans (the two-pass running sum's checkpoint+offsets collect; the
    # DSIR distribution aggregation) — they are independent, so construct
    # them concurrently instead of serializing the eager parts (guide
    # §2.6 overlap; results unchanged)
    from clpspark.operators.util import run_jobs

    def _build_budget():
        return (
            select_token_budget(scored, _TOKEN_BUDGET,
                                quality_col="quality_score")
            .join(docs.select("doc_id", "lang"), "doc_id")
            .select(F.lit("budget").alias("method"), "doc_id", "lang")
        )

    def _build_dsir():
        # predicate-form target: both bucket distributions in ONE scan
        return (
            dsir_select(docs, F.col("source") == "src0",
                        _DSIR_K, n_buckets=_DSIR_BUCKETS)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .select(F.lit("dsir").alias("method"), "doc_id", "lang")
        )

    built = run_jobs(spark, {"budget": _build_budget, "dsir": _build_dsir},
                     max_workers=2)
    budget, dsir = built["budget"], built["dsir"]
    return (strat.unionAll(topn).unionAll(budget).unionAll(dsir)
            .orderBy("method", "doc_id"))


def _q_docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over synthetic injections (emails/SSNs/IPs appended
    deterministically per doc): pure regexp_replace chain; the oracle
    replays the same injection + rules in RE2."""
    from clpspark.operators.curate import scrub_pii

    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did, F.lit("@example.com at 10.0."),
            (did % 256).cast("string"), F.lit(".7 ssn 123-45-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return scrub_pii(injected).orderBy("doc_id")


def _q_docs_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams (vocabulary / contamination stats)."""
    from clpspark.operators.curate import top_ngrams

    return top_ngrams(_read(spark, sf_dir, "documents"), n=3, k=20)


def _q_docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (doc_id % 17 != 0) sharing any
    word 8-gram with the held-out slice (doc_id % 17 == 0). The benchmark
    gram set broadcasts and the shared-gram count is computed scan-locally
    — one scan of the training corpus, no explode/join of it."""
    from clpspark.operators.curate import decontaminate

    docs = _read(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("doc_id") % 17 != 0),
        docs.where(F.col("doc_id") % 17 == 0),
        n=8,
    ).orderBy("doc_id")


_BANNER = "== corpus banner =="


def _q_docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus line dedup: per-source shards where every doc
    contributes a boilerplate banner line + its text line; only the globally
    first banner instance survives (the classic boilerplate-removal case)."""
    from clpspark.operators.curate import dedup_lines

    docs = _read(spark, sf_dir, "documents")
    shards = (
        docs.select(
            "source",
            F.struct(
                "doc_id",
                F.concat(
                    F.lit(_BANNER + "\n"), F.col("text")
                ).alias("piece"),
            ).alias("s"),
        )
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")),
                            lambda s: s["piece"]),
                "\n",
            ).alias("text")
        )
        .withColumnRenamed("source", "doc_id")
    )
    return dedup_lines(shards, max_occurrences=1).orderBy("doc_id")


def _q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing plan at a 512-token budget, per source
    shard: one (doc, pack) row per slice a doc feeds."""
    from clpspark.operators.curate import pack_sequences

    return pack_sequences(
        _read(spark, sf_dir, "documents"), budget=512
    ).orderBy("source", "doc_id", "pack_id")


def _q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clpspark.operators.similarity import cosine_topk

    return cosine_topk(_read(spark, sf_dir, "embeddings"), _EMB_Q, k=20)


# ---- CLP pipeline over the synthesized corpus --------------------------------
# Oracles re-derive expected values by detokenizing the corpus in DuckDB
# (see _corpus_lines_sql). clp_sink_counts / clp_dict_stats roll per-logtype
# stats up to the corpus's 12 log TEMPLATES (identified from the logtype's
# constant pieces), which the oracle re-derives independently from the raw
# token ids + vocab sidecar with the encoder's int/float representability
# predicates — tests/test_tpl_oracle_pin.py pins those SQL predicates
# against ref/encoder + the tokenizer for every vocab piece, so the oracle
# never silently drifts. Exact per-logtype-ID values stay pinned by pytest
# (route sink audit + dictionary_stats golden tests).


def _template_col(lt: F.Column) -> F.Column:
    """Template index from a logtype string: each template carries a unique
    constant piece which survives into the logtype verbatim (variables are
    placeholders, so no variable text can fake a constant)."""
    from clpspark.corpus import CONST_PIECES, TEMPLATES

    expr = F.lit(-1)
    for ix, t in enumerate(TEMPLATES):
        cix = next(item[1] for item in t if isinstance(item, tuple))
        expr = F.when(lt.contains(CONST_PIECES[cix]), F.lit(ix)).otherwise(expr)
    return expr


def _q_clp_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink (GLT per-logtype) counts rolled up to templates:
    (template, total rows, number of distinct logtypes the template's
    variable-encodability mix produced) — all three value-verified against
    the independent DuckDB re-derivation."""
    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    counts = spark.read.parquet(f"{work}/agg_sink_counts")
    ltd = spark.read.parquet(f"{work}/logtype_dict").select(
        "logtype_id", "logtype"
    )
    return (
        counts.join(F.broadcast(ltd), "logtype_id")
        .groupBy(_template_col(F.col("logtype")).alias("tpl"))
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.count("*").alias("n_logtypes"),
        )
        .orderBy("tpl")
    )


def _q_clp_dict_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary stats over the ids-only routed table rolled up to
    templates: rows, total variables, dictionary variables, ts range."""
    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    routed = spark.read.parquet(f"{work}/routed")
    ltd = spark.read.parquet(f"{work}/logtype_dict").select(
        "logtype_id", "logtype"
    )
    return (
        routed.join(F.broadcast(ltd), "logtype_id")
        .groupBy(_template_col(F.col("logtype")).alias("tpl"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.size("encoded_vars")).alias("n_vars"),
            F.sum(F.size("dict_slots")).alias("n_dict_vars"),
            F.min("ts").alias("begin_ts"),
            F.max("ts").alias("end_ts"),
        )
        .orderBy("tpl")
    )


def _q_clp_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    return spark.read.parquet(f"{work}/agg_source_stats").orderBy("source")


def _q_clp_count_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    return spark.read.parquet(f"{work}/agg_by_time").orderBy("bucket", "source")


def _q_clp_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    engine = _grep_engine(spark)
    return engine.search("* ERROR Connection to * refused after *").select(
        "doc_id", "source", "ts", "message"
    )


def _q_glt_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLT per-logtype columnar layout: the heartbeat logtype's int variable
    as a typed column (glt LogtypeTable). Oracle re-derives the value with a
    regexp over the independently detokenized lines."""
    from clpspark.operators.route import columnarize_logtype

    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    lt_dict = spark.read.parquet(f"{work}/logtype_dict")
    hb = lt_dict.where(
        F.col("logtype") == " INFO heartbeat seq \x11 ok"
    ).first()
    routed = spark.read.parquet(f"{work}/routed")
    return columnarize_logtype(routed, lt_dict, hb["logtype_id"]).select(
        "doc_id", "source", "ts", "ivar_0"
    )


_CATALOG_DIR = "/tmp/clpspark_catalog"


def _q_clp_tag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tags/metadata-catalog pruning: two registered archives (prod: the 20k
    corpus, dev: a 2k corpus with OVERLAPPING doc_ids); a tag-scoped search
    must prune the dev archive or the oracle sees duplicate rows."""
    from clpspark.catalog import register_archive, search_archives

    # self-heal a stale catalog (registered work dirs wiped independently)
    arch_tbl = f"{_CATALOG_DIR}/archives"
    if os.path.exists(arch_tbl):
        import shutil

        paths = [
            r["path"]
            for r in spark.read.parquet(arch_tbl).select("path").collect()
        ]
        if any(not os.path.exists(p) for p in paths):
            shutil.rmtree(_CATALOG_DIR, ignore_errors=True)

    for n, tags in ((_PIPELINE_ROWS, ["prod", "logs"]), (2000, ["dev"])):
        work = _pipeline_outputs(spark, n)
        routed = spark.read.parquet(f"{work}/routed")
        rng = routed.agg(
            F.min("ts").alias("b"), F.max("ts").alias("e"),
            F.count("*").alias("n"),
        ).first()
        register_archive(
            spark, _CATALOG_DIR, archive_id=f"n{n}", path=work,
            begin_ts=rng["b"], end_ts=rng["e"], n_rows=rng["n"], tags=tags,
        )
    return search_archives(
        spark, _CATALOG_DIR, "* ERROR Connection to * refused after *",
        tags=["prod"],
    ).select("doc_id", "source", "ts", "message")


_SPLIT_DIR = "/tmp/clpspark_split"


def _q_clp_split_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive splitting (Archive.cpp:343-353 analog): one ingest run split
    into >=4 time-contiguous archives sharing a dictionary generation; the
    catalog search scans the generation as ONE plan and must return exactly
    the single-archive grep result (the oracle re-derives matches from the
    detokenized corpus)."""
    from clpspark.catalog import search_archives
    from clpspark.pipeline import PipelineConfig, run_split_pipeline

    work = f"{_SPLIT_DIR}/work_n{_PIPELINE_ROWS}"
    catalog = f"{_SPLIT_DIR}/catalog_n{_PIPELINE_ROWS}"
    if not os.path.exists(f"{_SPLIT_DIR}/_DONE_n{_PIPELINE_ROWS}"):
        import shutil

        shutil.rmtree(_SPLIT_DIR, ignore_errors=True)
        cfg = PipelineConfig(
            input_path=_corpus(spark, _PIPELINE_ROWS), work_dir=work,
            tags=("split",),
        )
        res = run_split_pipeline(
            spark, cfg, target_rows_per_archive=_PIPELINE_ROWS // 4,
            catalog_dir=catalog,
        )
        assert res["n_archives"] >= 4
        open(f"{_SPLIT_DIR}/_DONE_n{_PIPELINE_ROWS}", "w").close()
    return search_archives(
        spark, catalog, "* ERROR Connection to * refused after *",
        tags=["split"],
    ).select("doc_id", "source", "ts", "message")


# Snapshot-search probe: a dict-var-constrained wildcard under a time bound,
# so BOTH manifest-level skipping axes fire (file min/max ts + var-id bloom).
# The literal dict token is the first entry of the deterministic seed-42
# vocabulary's dict pool; the epoch-ms bound is the midpoint of the fixed
# corpus timestamp pool (corpus.build_vocab: base 1462692845s + i*37, 4096).
_SNAP_TGE = 1_462_768_602_000


def _snap_token() -> str:
    from clpspark.corpus import build_vocab

    meta = build_vocab(42)
    return meta.vocab[meta.off_dict]


def _q_clp_snapshot_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search through the snapshot manifest (clpspark.snapshots): the engine
    reads the committed file list and SKIPS files whose ts range misses the
    bound or whose dict-var bloom lacks the query variable — result must be
    identical to a full-scan grep (oracle re-derives it from raw corpus)."""
    from clpspark.plans.grep import GrepEngine

    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    engine = GrepEngine.from_snapshot(spark, work)
    return engine.search(
        f"* INFO Task {_snap_token()} completed in * ms", tge=_SNAP_TGE
    ).select("doc_id", "source", "ts", "message")


def _q_clp_grep_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    engine = _grep_engine(spark)
    return engine.topk_latest("*heartbeat*", k=50).select("doc_id", "ts", "message")


def _q_docs_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clpspark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.05
    ).orderBy("a", "b")


def _q_docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training + encoding (Sennrich et al. 2016): learn a
    merge table from corpus word frequencies (iterative — each merge
    argmax depends on the previous rewrite, hence rows-only: no single
    SQL oracle exists; tests/test_dataops.py pins the merge sequence
    against a pure-python replay), then segment every document with it."""
    from clpspark.operators.tokenizer import encode_bpe, train_bpe

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=24)
    return (
        encode_bpe(docs, merges)
        .select("doc_id", "n_bpe_tokens")
        .orderBy("doc_id")
    )


def _q_docs_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style classifier quality filter (Brown et al. 2020 App. A):
    LR over word-hash features trained against a reference slice (the
    'en' docs here — the synthetic corpus shares one vocabulary across
    langs, so ~0.6 train accuracy is the attainable separation; the
    planted-signal pytest proves the model learns when signal exists),
    scored per doc with the deterministic Pareto keep rule. Rows-only:
    distributed L-BFGS has no SQL replay."""
    from clpspark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    docs = _read(spark, sf_dir, "documents")
    model = train_quality_classifier(
        docs.withColumn("_ref", F.col("lang") == "en"), "_ref")
    return score_quality(docs, model).orderBy("doc_id")


def _q_docs_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 terms by smoothed TF-IDF (keyword extraction):
    one (doc, term) count shuffle, a vocabulary-bounded doc-frequency agg,
    and a per-document window — never a global sort."""
    from clpspark.operators.text import tfidf_top_terms

    return tfidf_top_terms(
        _read(spark, sf_dir, "documents"), k=5
    ).orderBy("doc_id", "rank")


def _q_docs_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace canonicalization (the pre-dedup normalize step):
    NFC via an Arrow unicodedata UDF, lowercase + whitespace collapse in
    codegen. Input is seeded with combining-accent and irregular-
    whitespace suffixes so the normalization is load-bearing; the DuckDB
    oracle replays via native nfc_normalize."""
    from clpspark.operators.curate import normalize_text

    docs = _read(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("  CAFÉ  \tNaïve  X"),
        ).alias("text"),
    )
    return normalize_text(injected).orderBy("doc_id")


def _q_docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021): duplicated 8-word windows
    cut from all but their globally-first occurrence; returns the cleaned
    text + removal counts per doc."""
    from clpspark.operators.curate import dedup_spans

    return dedup_spans(
        _read(spark, sf_dir, "documents"), k=8
    ).orderBy("doc_id")


def _q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-scoped greedy dedup (arXiv:2303.09540). Rows-only
    by design: the per-cluster greedy scan is order-dependent and not
    SQL-expressible — the exact keep set is pinned by an independent
    pure-numpy replay in tests/test_dataops.py."""
    from clpspark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _read(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        threshold=0.97, n_centroids=8,
    ).orderBy("vec_id")


def _q_emb_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: hyperplane-LSH bucket candidates +
    exact cosine verify — the oracle replays the identical bucket join and
    threshold in SQL (planes as literals)."""
    from clpspark.operators.dedup import embedding_dup_pairs

    return embedding_dup_pairs(
        _read(spark, sf_dir, "embeddings"), threshold=0.9
    ).orderBy("a", "b")


# /dev/shm when present: the index write fans out into many small partition
# dirs and /tmp is a slow virtio disk on this host
_ANN_CACHE = ("/dev/shm/clpspark_ann" if os.path.isdir("/dev/shm")
              else "/tmp/clpspark_ann")


def _q_emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k over a materialized LSH index (embeddings partitioned by
    bucket id): the multi-probe is a partition-pruned scan, not a full pass."""
    from clpspark.operators.similarity import lsh_topk, write_ann_index

    tag = sf_dir.strip("/").replace("/", "_")
    index_dir = f"{_ANN_CACHE}/{tag}"
    if not os.path.exists(f"{index_dir}/_SUCCESS"):
        write_ann_index(_read(spark, sf_dir, "embeddings"), index_dir)
    indexed = spark.read.parquet(index_dir)
    return lsh_topk(indexed, _EMB_Q, k=20, probe_hamming=3)


def _q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k over a materialized IVF index (embeddings partitioned by
    nearest k-means cell, deterministic quantizer): nprobe nearest cells
    are scanned via partition-pruned isin."""
    from clpspark.operators.similarity import (
        ivf_topk,
        read_ivf_centroids,
        write_ivf_index,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    index_dir = f"{_ANN_CACHE}/ivf_{tag}"
    if not os.path.exists(f"{index_dir}/_SUCCESS"):
        write_ivf_index(_read(spark, sf_dir, "embeddings"), index_dir)
    indexed = spark.read.parquet(index_dir)
    return ivf_topk(
        indexed, _EMB_Q, k=20, nprobe=4,
        centroids=read_ivf_centroids(index_dir),
    )


def _ivf_topk_sql() -> str:
    """Replay the IVF probe in DuckDB: the deterministic quantizer re-trains
    on the SAME engine-portable sample ((md5(id), id) order, numpy Lloyd via
    the shared kmeans_from_matrix), centroids ride as literals, per-row cell
    assignment is first-min of 9-decimal-rounded distances, and the probe
    cells are a precomputed IN list. Reads the driver's sf0.01 parquet
    directly (the documented gate scale)."""
    import duckdb
    import numpy as np

    from clpspark.operators.similarity import kmeans_from_matrix, probe_cells

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT CAST(embedding AS DOUBLE[]) FROM
            read_parquet('{sf}/embeddings.parquet')
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2048
        """
    ).fetchall()
    con.close()
    C = kmeans_from_matrix(
        np.asarray([r[0] for r in rows], dtype=np.float64), 16
    )
    cells = sorted(probe_cells(C, _EMB_Q, 4))
    cent_sql = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in C
    )
    ds = ", ".join(
        f"round(list_distance(CAST(embedding AS DOUBLE[]), cs[{i + 1}]), 9)"
        for i in range(16)
    )
    return f"""
      WITH c AS (SELECT [{cent_sql}] AS cs),
      assigned AS (
        SELECT vec_id, embedding,
               list_position([{ds}], list_min([{ds}])) - 1 AS cell
        FROM embeddings, c
      )
      SELECT vec_id,
             CAST(round(list_cosine_similarity(
                 CAST(embedding AS DOUBLE[]), {_EMB_Q_SQL}), 6) AS DOUBLE)
                 AS cosine
      FROM assigned WHERE cell IN ({", ".join(map(str, cells))})
      ORDER BY cosine DESC, vec_id LIMIT 20
    """


_TEXTLOG_DIR = "/tmp/clpspark_textlogs"
_TEXTLOG_N = 200


def _textlog_fixture() -> str:
    """Deterministic multiline text-log file; the oracle regenerates the
    expected reconstruction from the same closed-form via generate_series."""
    if not os.path.exists(f"{_TEXTLOG_DIR}/app.log"):
        os.makedirs(_TEXTLOG_DIR, exist_ok=True)
        lines = []
        for i in range(_TEXTLOG_N):
            ts = f"2016-05-08 07:{i % 60:02d}:{(i * 7) % 60:02d}.{i % 1000:03d}"
            lines.append(f"{ts} INFO request {i} took {i}.{i % 10} ms")
            if i % 13 == 0:
                lines.append("  continuation line without timestamp")
        with open(f"{_TEXTLOG_DIR}/app.log", "w") as f:
            f.write("\n".join(lines))
    return _TEXTLOG_DIR


def _q_text_log_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text-file ingestion (multiline assembly) -> full CLP
    encode -> dictionary build -> decode: the returned lines must equal the
    original file events byte-for-byte (oracle regenerates them in SQL)."""
    from clpspark.operators.enrich import build_logtype_dict, build_var_dict, enrich
    from clpspark.sources.reconstruct import reconstruct_text
    from clpspark.sources.text_logs import ingest_text_logs

    d = _textlog_fixture()
    parsed = ingest_text_logs(spark, d)
    lt, vd = build_logtype_dict(parsed), build_var_dict(parsed)
    enriched = enrich(parsed, lt, vd)
    return reconstruct_text(enriched, vd).orderBy("doc_id")


_RANGELOG_DIR = "/tmp/clpspark_rangelogs"
_RANGELOG_FILES = 3
_RANGELOG_N = 150


def _rangelog_fixture() -> str:
    """Multi-file text-log fixture for range-index ($-namespace) pruning."""
    if not os.path.exists(f"{_RANGELOG_DIR}/_DONE"):
        os.makedirs(_RANGELOG_DIR, exist_ok=True)
        for f in range(_RANGELOG_FILES):
            lines = [
                f"2016-05-08 08:{i % 60:02d}:{(i * 3) % 60:02d}."
                f"{(i * 17) % 1000:03d}"
                f" INFO request {f * 1000 + i} took {i}.{f} ms"
                for i in range(_RANGELOG_N)
            ]
            with open(f"{_RANGELOG_DIR}/svc{f}.log", "w") as fh:
                fh.write("\n".join(lines))
        open(f"{_RANGELOG_DIR}/_DONE", "w").close()
    return _RANGELOG_DIR


def _q_clp_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-index metadata pruning (clp_s RangeIndexWriter.hpp:17-36 +
    EvaluateRangeIndexFilters.cpp; golden shapes '$_filename: ...',
    '$_archive_creator_id: *' in test-clp_s-search.cpp:213-222): a
    multi-file text compression writes one metadata range per ingested
    file; a search filtered on $_filename + a creator-id wildcard must
    return exactly the matching file's events, via doc_id-range predicates
    rewritten from the index (no per-row metadata columns scanned)."""
    from clpspark.pipeline import PipelineConfig, run_pipeline
    from clpspark.plans.grep import GrepEngine

    d = _rangelog_fixture()
    work = f"{_WORK_CACHE}/rangelogs"
    cfg = PipelineConfig(
        input_path=d, work_dir=work, input_format="text",
        range_index=True, archive_creator_id="entry-fixture",
    )
    run_pipeline(spark, cfg, resume=True)
    eng = GrepEngine.from_work_dir(spark, work)
    return eng.search(
        "* INFO request * took *",
        meta={"_filename": "svc1.log", "_archive_creator_id": "entry-*"},
    ).select("doc_id", "source", "ts", "message").orderBy("doc_id")


def _q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined-schema (grok) parse; logtype + encoded int variables are
    value-checked against a pure-SQL oracle (chr(17) = CLP int placeholder)."""
    from clpspark.operators.grok import (
        EASY_SCHEMA_TEXT,
        ParseSchema,
        parse_text_with_schema,
    )

    ev = _read(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    msgs = ev.select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.col("event_type").alias("source"),
        F.concat_ws(
            " ",
            F.lit("evt"),
            F.col("event_id").cast("string"),
            F.lit("took"),
            ((F.col("event_id") * 7) % 1000).cast("string"),
            F.lit("ms"),
        ).alias("message"),
    )
    schema = ParseSchema.from_schema_text(EASY_SCHEMA_TEXT)
    parsed = parse_text_with_schema(msgs, schema)
    return parsed.select(
        "doc_id",
        "source",
        "logtype",
        F.col("encoded_vars")[0].alias("v0"),
        F.col("encoded_vars")[1].alias("v1"),
        F.array_join("var_rules", ",").alias("rules"),
    ).orderBy("doc_id")


def _q_json_schema_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clp_s-style per-record schema signatures over parsed JSON props."""
    from clpspark.sources.json_logs import present_leaves, with_schema_id

    ev = _read(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id", F.from_json("props", "k int").alias("p")
    )
    sig = with_schema_id(parsed).withColumn(
        "schema_sig", F.array_join(present_leaves(parsed), ",")
    )
    return (
        sig.groupBy("schema_sig")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("schema_id").alias("n_schema_ids"),
        )
        .orderBy("schema_sig")
    )


_NDJSON_DIR = "/tmp/clpspark_ndjson"
_NDJSON_N = 600


def _ndjson_fixture() -> str:
    """Deterministic NDJSON with three record shapes (closed-form)."""
    import json as _json

    path = f"{_NDJSON_DIR}/data.jsonl"
    if not os.path.exists(path):
        os.makedirs(_NDJSON_DIR, exist_ok=True)
        rows = []
        for i in range(_NDJSON_N):
            if i % 3 == 0:
                rows.append({"a": i, "b": f"x{i}"})
            elif i % 3 == 1:
                rows.append({"a": i})
            else:
                rows.append({"a": i, "c": {"d": i % 2 == 0}})
        with open(path, "w") as f:
            f.write("\n".join(_json.dumps(r, separators=(",", ":"))
                              for r in rows))
    return _NDJSON_DIR


def _q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clp_s end to end: NDJSON ingest (inferred MPT schema) -> per-record
    schema id + log_event_idx -> ORDERED JSON reconstruction
    (clp_s delta-encoded log_event_idx, ColumnWriter.cpp:22-37,
    test-clp_s-delta-encode-log-order.cpp). Each reconstructed string is
    paired with its original position, so the oracle comparison proves the
    original ingest ORDER is reproduced, not just the multiset of rows."""
    from clpspark.sources.json_logs import (
        read_ndjson_ordered,
        reconstruct_json_ordered,
    )

    df = read_ndjson_ordered(spark, _ndjson_fixture())
    return reconstruct_json_ordered(df).select("log_event_idx", "json")


def _q_text_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decompression sink: decode routed events back to original lines
    (deterministic doc_id slice; oracle detokenizes the same rows)."""
    from clpspark.sources.reconstruct import reconstruct_text

    work = _pipeline_outputs(spark, _PIPELINE_ROWS)
    routed = spark.read.parquet(f"{work}/routed").where(
        F.col("doc_id") < "doc000000002000"
    )
    vd = spark.read.parquet(f"{work}/var_dict")
    lt = spark.read.parquet(f"{work}/logtype_dict")
    return reconstruct_text(routed, vd, logtype_dict=lt).orderBy("doc_id")


def _q_stream_count_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming count-by-time, drained to completion (the
    reference's periodic reducer upsert); returns the final aggregate."""
    from clpspark.corpus import build_vocab
    from clpspark.streaming.ingest import stream_count_by_time, stream_sequences

    corpus = _corpus(spark, _PIPELINE_ROWS)
    parsed = stream_sequences(spark, corpus, build_vocab(42).vocab,
                              max_files_per_trigger=16)
    agg = stream_count_by_time(parsed, bucket_ms=3_600_000)
    global _STREAM_SEQ
    _STREAM_SEQ += 1
    qname = f"entry_cbt_{_STREAM_SEQ}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {qname} ORDER BY bucket, source")


_ARCHIVE_DIR = "/tmp/clpspark_archives"


def _archive_fixture() -> str:
    """Deterministic tar.gz + zip log archives (closed-form content the
    oracle regenerates with generate_series)."""
    import io
    import tarfile
    import zipfile

    if not os.path.exists(f"{_ARCHIVE_DIR}/_DONE"):
        os.makedirs(_ARCHIVE_DIR, exist_ok=True)

        def text(name: str, n: int) -> str:
            lines = []
            for i in range(n):
                lines.append(
                    f"2016-05-08 07:{i % 60:02d}:{(i * 3) % 60:02d}.000 "
                    f"INFO {name} job {i} took {i}.{i % 10} s"
                )
                if i % 7 == 0:
                    lines.append("  multiline continuation")
            return "\n".join(lines)

        with tarfile.open(f"{_ARCHIVE_DIR}/logs_a.tar.gz", "w:gz") as tf:
            data = text("svc1.log", 100).encode()
            info = tarfile.TarInfo("svc1.log")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
        with zipfile.ZipFile(f"{_ARCHIVE_DIR}/logs_b.zip", "w") as zf:
            zf.writestr("svc2.log", text("svc2.log", 60))
        open(f"{_ARCHIVE_DIR}/_DONE", "w").close()
    return _ARCHIVE_DIR


def _q_archive_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-archive scan (tar.gz + zip containers) -> multiline log
    events (clp/LibarchiveReader / FileCompressor::try_compressing_as_archive)."""
    from clpspark.sources.archives import read_archive_logs

    return read_archive_logs(spark, _archive_fixture()).orderBy("doc_id")


_IR_CACHE = "/tmp/clpspark_ir"


def _q_ir_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLP IR stream wire format end to end: serialize events to 4-byte IR
    files (delta timestamps, int32/25-bit-float vars, dict fallback),
    deserialize + 4->8-byte upgrade, decode — the oracle regenerates the
    expected (ts, message) pairs straight from the events table, so framing,
    variable encoding, the upgrade path, and decode are all value-checked."""
    from clpspark.sources.ir_stream import read_ir_files, write_ir_files

    ev = _read(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    msgs = ev.select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts"),
        F.concat_ws(
            " ",
            F.lit("req"),
            F.col("event_id").cast("string"),
            F.lit("latency"),
            F.concat(
                (F.col("event_id") % 100).cast("string"),
                F.lit("."),
                (F.col("event_id") % 10).cast("string"),
            ),
            F.lit("ms from"),
            F.concat(F.lit("host"), (F.col("event_id") % 7).cast("string")),
            F.lit("seq"),
            (F.col("event_id") + 3_000_000_000).cast("string"),
        ).alias("message"),
    )
    # keyed by sf_dir: event prefixes DIFFER across scale factors
    tag = sf_dir.strip("/").replace("/", "_")
    out = f"{_IR_CACHE}/events2000_{tag}"
    marker = f"{out}/_DONE"
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        write_ir_files(msgs.repartition(8), out, four_byte=True)
        open(marker, "w").close()
    parsed = read_ir_files(spark, out)
    from clpspark.operators.decode import decode_messages
    from clpspark.operators.enrich import build_logtype_dict, build_var_dict, enrich

    lt, vd = build_logtype_dict(parsed), build_var_dict(parsed)
    decoded = decode_messages(enrich(parsed, lt, vd), vd)
    return decoded.select("ts", "message").orderBy("message")


_KV_IR_CACHE = "/tmp/clpspark_kvir"
_KV_IR_ROWS = 1500
# explicit read schema (the 100 TB path: no inference pass)
_KV_SCHEMA = (
    "event_id bigint, level string, attempt bigint, latency double, "
    "msg string, big bigint, ctx struct<job:bigint,ok:boolean>, "
    "extra struct<tag:string>"
)


def _kv_ir_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic kv-pair IR files derived from the events table: every
    value class crosses the wire (sized ints, doubles, bools, plain + CLP
    strings, nested objects, an optional subtree for schema variety)."""
    from clpspark.sources.kv_ir_stream import write_kv_ir_files

    tag = sf_dir.strip("/").replace("/", "_")
    out = f"{_KV_IR_CACHE}/events{_KV_IR_ROWS}_{tag}"
    marker = f"{out}/_DONE"
    if os.path.exists(marker):
        return out
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    ev = _read(spark, sf_dir, "events").where(F.col("event_id") < _KV_IR_ROWS)
    eid = F.col("event_id").cast("bigint")
    rec = F.struct(
        eid.alias("event_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in
                      ("INFO", "WARN", "ERROR", "DEBUG", "TRACE")]),
            (eid % 5 + 1).cast("int"),
        ).alias("level"),
        (eid % 4).alias("attempt"),
        (eid * 3 + F.lit(0.5)).alias("latency"),
        F.concat(
            F.lit("request "), eid, F.lit(" took "), (eid * 3).cast("string"),
            F.lit(".5 ms on host"), (eid % 7).cast("string"),
        ).alias("msg"),
        (eid + F.lit(3_000_000_000)).alias("big"),
        F.struct(
            F.floor(eid / 10).alias("job"), (eid % 2 == 0).alias("ok")
        ).alias("ctx"),
        F.when(
            eid % 3 == 0,
            F.struct(F.concat(F.lit("t"), (eid % 2).cast("string")).alias("tag")),
        ).alias("extra"),
    )
    msgs = ev.select(
        eid.cast("string").alias("doc_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts"),
        F.to_json(rec).alias("json"),  # null keys (absent extra) are dropped
    )
    write_kv_ir_files(msgs.repartition(8), out)
    open(marker, "w").close()
    return out


def _q_kv_ir_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv-pair (structured) IR wire format end to end: serialize typed
    records to kv-IR files (schema-tree nodes, one's-complement auto-gen
    ids, sized ints, CLP-encoded strings), deserialize, re-type — the oracle
    regenerates every field straight from the events table, value-checking
    the whole format (Serializer.cpp / ir_unit_deserialization_methods.cpp
    analog)."""
    from clpspark.sources.kv_ir_stream import read_kv_ir_files

    out = _kv_ir_fixture(spark, sf_dir)
    raw = read_kv_ir_files(spark, out)
    typed = raw.select(
        "ts", F.from_json("json", _KV_SCHEMA).alias("r")
    ).select("ts", "r.*")
    return typed.select(
        "ts", "event_id", "level", "attempt", "latency", "msg", "big",
        F.col("ctx.job").alias("job"), F.col("ctx.ok").alias("ok"),
    ).orderBy("event_id")


def _q_kv_ir_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv_ir_search.cpp analog: kv-IR ingest -> per-record schema id ->
    per-schema route (partitioned sinks) -> read back and aggregate by the
    leaf-set signature. Two record shapes (optional `extra` subtree)."""
    from clpspark.sources.json_logs import present_leaves, route_by_schema
    from clpspark.sources.kv_ir_stream import kv_ir_ingest

    out = _kv_ir_fixture(spark, sf_dir)
    routed_dir = f"{out}_routed"
    if not os.path.exists(f"{routed_dir}/_SUCCESS"):
        typed = kv_ir_ingest(spark, out, schema=_KV_SCHEMA)
        route_by_schema(typed, routed_dir)
    routed = spark.read.parquet(routed_dir)
    rec = routed.drop("doc_id", "source", "ts", "schema_id")
    sig = routed.withColumn(
        "schema_sig", F.array_join(present_leaves(rec), ",")
    )
    return (
        sig.groupBy("schema_sig")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("schema_id").alias("n_schema_ids"),
        )
        .orderBy("schema_sig")
    )


_JSON_ENC_CACHE = "/tmp/clpspark_json_enc"
_JSON_ENC_ROWS = 1500


def _json_archive_fixture(spark: SparkSession, sf_dir: str):
    """Encoded JSON archive (clp_s typed column encodings) derived from the
    events table: a DateString leaf, a ClpString leaf, a VarString leaf."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    tag = sf_dir.strip("/").replace("/", "_")
    out = f"{_JSON_ENC_CACHE}/events{_JSON_ENC_ROWS}_{tag}"
    if os.path.exists(f"{out}/_DONE"):
        return JsonArchive.open(spark, out)
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    ev = _read(spark, sf_dir, "events").where(F.col("event_id") < _JSON_ENC_ROWS)
    eid = F.col("event_id").cast("bigint")
    df = ev.select(
        eid.cast("string").alias("doc_id"),
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSS").alias("t"),
        F.concat(
            F.lit("job "), eid,
            F.when(eid % 4 == 0, F.lit(" failed after ")).otherwise(
                F.lit(" completed in ")),
            (eid % 60).cast("string"), F.lit("."), (eid % 10).cast("string"),
            F.lit(" ms on host"), (eid % 7).cast("string"),
        ).alias("msg"),
        F.concat(F.lit("t"), (eid % 3).cast("string")).alias("tag"),
        eid.alias("n"),
    )
    arch = write_json_archive(df, out, ts_leaf="t")
    # raw NDJSON size of the same records (one json.dumps line per record +
    # newline) — bench reports archive bytes / this as the clp_s-style JSON
    # compression ratio
    raw_bytes = (
        df.select(F.sum(F.length(F.to_json(F.struct(*df.columns)))).alias("b"))
        .first()["b"] or 0
    ) + df.count()
    with open(f"{out}/_RAW_BYTES", "w") as f:
        f.write(str(raw_bytes))
    open(f"{out}/_DONE", "w").close()
    return arch


_JSON_ARR_ROWS = 1200


def _json_array_archive_fixture(spark: SparkSession, sf_dir: str):
    """Structurized-array JSON archive (clp_s --structurize-arrays,
    JsonParser.cpp:361-380 / SchemaTree.hpp StructuredArray): docs whose
    ``arr`` is an array of structs with numeric fields (typed in records)
    and a nested string leaf ``arr.d.e`` (per-element CLP-encoded sink)."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    tag = sf_dir.strip("/").replace("/", "_")
    out = f"{_JSON_ENC_CACHE}/arr{_JSON_ARR_ROWS}_{tag}"
    if os.path.exists(f"{out}/_DONE"):
        return JsonArchive.open(spark, out)
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    ev = _read(spark, sf_dir, "events").where(
        F.col("event_id") < _JSON_ARR_ROWS
    )
    eid = F.col("event_id").cast("bigint")

    def elem(j: int) -> F.Column:
        return F.struct(
            (eid * (j + 1)).alias("a"),
            ((eid * 13 + j * 7) % 2000).alias("b"),
            F.struct(
                F.concat(
                    F.lit("item "), eid.cast("string"),
                    F.lit(" tag"), ((eid + j) % 9).cast("string"),
                ).alias("e")
            ).alias("d"),
        )

    arr = F.slice(
        F.array(elem(0), elem(1), elem(2)), 1, (eid % 3 + 1).cast("int")
    )
    df = ev.select(eid.cast("string").alias("doc_id"), arr.alias("arr"))
    write_json_archive(df, out, structurize_arrays=True)
    open(f"{out}/_DONE", "w").close()
    return JsonArchive.open(spark, out)


def _q_json_kql_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KQL over a structurized-array encoded archive — the reference golden
    shapes 'arr.b > 1000' and 'arr.d.e: <str>'
    (components/core/tests/test-clp_s-search.cpp:198-250): the numeric
    array predicate runs as a native Catalyst exists over the typed records
    array, the string array predicate is a dictionary-pre-filtered grep
    over the arr.d.e leaf sink (any element matches — shared schema node
    semantics)."""
    arch = _json_array_archive_fixture(spark, sf_dir)
    matched = arch.kql('arr.b > 1000 AND arr.d.e: "item * tag3"')
    return matched.select(
        "doc_id", F.array_max(F.col("arr.b")).alias("max_b")
    ).orderBy("doc_id")


def _q_json_kql_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KQL over a typed-column-encoded JSON archive via the archive
    planner (plans/kql_archive — the clp_s search path analog): the
    ClpString filter runs the grep dictionary pre-filter on the leaf's
    sink partition, the VarString equality is a var-dict point lookup +
    semi-join, the AND is a doc_id semi-join, and the DateString epoch is
    returned from the (pattern, epoch) struct — the oracle re-derives
    every matching row from the raw events table."""
    arch = _json_archive_fixture(spark, sf_dir)
    out = arch.kql(
        'msg: "* failed after * ms on host3*" AND tag: t1',
        project=["msg", "t.epoch"],
    )
    return out.select(
        "doc_id", "msg", F.col("`t.epoch`").alias("ts_epoch")
    ).orderBy("doc_id")


def _q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns end to end in one driver row: binary payloads ->
    Arrow-batched decode (deterministic stub codec: tiled sha256 bytes) ->
    pooled histogram features (row_kind='feature'), plus the frame-sampling
    plumbing (row_kind='frame', one row per sampled frame). The oracle
    recomputes every histogram bin in SQL, so the payload framing, decode
    tiling, and pooling are value-verified; the bin counts are recovered
    exactly from the float32 ratios (count = ratio * n_pixels,
    off by << 0.5)."""
    from clpspark.operators.multimodal import (
        extract_features,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 200)
    feats = extract_features(media)
    joined = feats.join(
        media.select("media_id", "width", "height"), "media_id"
    )
    need = F.col("width") * F.col("height")
    feat_rows = joined.select(
        F.lit("feature").alias("row_kind"),
        "media_id",
        "kind",
        F.lit(None).cast("int").alias("frame_ix"),
        *[
            F.round(F.col("features")[i] * need).cast("bigint").alias(f"f{i}")
            for i in range(8)
        ],
    )
    frame_rows = sample_frames(media, every_n=2).select(
        F.lit("frame").alias("row_kind"),
        "media_id",
        "kind",
        F.col("frame_ix").cast("int").alias("frame_ix"),
        *[F.lit(None).cast("bigint").alias(f"f{i}") for i in range(8)],
    )
    return feat_rows.unionAll(frame_rows).orderBy(
        "row_kind", "media_id", "frame_ix"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE the driver's correctness gate records exactly the FIRST 50 keys:
    # every oracle-backed query must sit inside that window; rows-only
    # entries go last.
    return {
        # relational / aggregation operators (SURVEY §2.3, §2.4, §2.5)
        "lineitem_pricing_summary": _q_lineitem_pricing,
        "revenue_by_nation": _q_revenue_by_nation,
        "top3_orders_per_cust": _q_top3_orders_per_cust,
        "semi_anti_join": _q_semi_anti_join,
        "events_sessionize": _q_events_sessionize,
        "events_pivot": _q_events_pivot,
        "lineitem_cube_quantiles": _q_lineitem_cube_quantiles,
        "events_count_by_time": _q_events_count_by_time,
        "events_topk_latest": _q_events_topk_latest,
        # predicates / query front-ends (SURVEY §2.2, §2.6)
        "events_wildcard_regex": _q_events_wildcard_regex,
        "events_kql": _q_events_kql,
        # text / dedup / similarity (training-data ops)
        "docs_text_stats": _q_docs_text_stats,
        "docs_exact_dedup": _q_docs_exact_dedup,
        "docs_hashes": _q_docs_hashes,
        "docs_ngram_jaccard": _q_docs_ngram_jaccard,
        "docs_dedup_keep": _q_docs_dedup_keep,
        "docs_sampling": _q_docs_sampling,
        "docs_pii_scrub": _q_docs_pii_scrub,
        "docs_top_ngrams": _q_docs_top_ngrams,
        "docs_decontaminate": _q_docs_decontaminate,
        "docs_line_dedup": _q_docs_line_dedup,
        "docs_pack_sequences": _q_docs_pack_sequences,
        "emb_cosine_topk": _q_emb_cosine_topk,
        "emb_dup_pairs": _q_emb_dup_pairs,
        "emb_lsh_topk": _q_emb_lsh_topk,
        "emb_ivf_topk": _q_emb_ivf_topk,
        # CLP pipeline over the synthesized corpus (line-oracle verified)
        "clp_sink_counts": _q_clp_sink_counts,
        "clp_dict_stats": _q_clp_dict_stats,
        "clp_source_stats": _q_clp_source_stats,
        "clp_count_by_time": _q_clp_count_by_time,
        "clp_grep_search": _q_clp_grep,
        "clp_grep_topk": _q_clp_grep_topk,
        "clp_tag_search": _q_clp_tag_search,
        "clp_split_search": _q_clp_split_search,
        "clp_snapshot_search": _q_clp_snapshot_search,
        "clp_range_search": _q_clp_range_search,
        "glt_columns": _q_glt_columns,
        "text_reconstruct": _q_text_reconstruct,
        "text_log_ingest": _q_text_log_ingest,
        "grok_parse": _q_grok_parse,
        "archive_ingest": _q_archive_ingest,
        "json_schema_route": _q_json_schema_route,
        "json_roundtrip": _q_json_roundtrip,
        "json_kql_encoded": _q_json_kql_encoded,
        "json_kql_array": _q_json_kql_array,
        "stream_count_by_time": _q_stream_count_by_time,
        "ir_roundtrip": _q_ir_roundtrip,
        "kv_ir_roundtrip": _q_kv_ir_roundtrip,
        "kv_ir_route": _q_kv_ir_route,
        "media_pipeline": _q_media_pipeline,
        # rows-only (past the driver window by design): minhash candidates
        # are LSH-probabilistic — the emitted pairs are exact-Jaccard
        # verified in-plan and in tests/
        "docs_minhash_pairs": _q_docs_minhash_pairs,
        "emb_semantic_dedup": _q_emb_semantic_dedup,
        "docs_bpe_tokens": _q_docs_bpe_tokens,
        # oracle-backed but past the driver window (it is full at 50):
        # value-verified in-repo by tests/test_entry_oracle.py
        "docs_span_dedup": _q_docs_span_dedup,
        "docs_normalize": _q_docs_normalize,
        "docs_tfidf": _q_docs_tfidf,
        # rows-only: distributed L-BFGS training has no SQL replay
        # (planted-signal pytest pins the model's behavior instead)
        "docs_quality_model": _q_docs_quality_model,
    }


# -------------------------------------------------------------- oracle SQL

_EMB_Q_SQL = "[" + ", ".join(str(float(x)) for x in _EMB_Q) + "]"

_WORDS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
_WORDS_L = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"

# 61-bit polynomial word hash (clpspark.operators.text.word_hash_py) as a
# DuckDB HUGEINT fold; ASCII corpus => ord(char) == utf-8 byte.
_WORD_HASH = (
    "CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
    "list_transform(string_split(w, ''), c -> CAST(ord(c) AS HUGEINT))), "
    "(acc, x) -> (acc * 1000003 + x) % 2305843009213693951) AS BIGINT)"
)


def _corpus_lines_sql(n_rows: int = _PIPELINE_ROWS) -> str:
    """CTE prefix detokenizing the synthesized corpus + timestamp strip —
    the DuckDB-side re-derivation of the pipeline input (independent of all
    Spark code paths)."""
    d = f"{_CORPUS_CACHE}/n{n_rows}"
    ts_rx = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3}"
    return f"""
    WITH v AS (SELECT list(piece ORDER BY tok_id) AS vl
               FROM read_parquet('{d}/_vocab.parquet')),
    seq AS (SELECT * FROM read_parquet('{d}/part-*.parquet')),
    lines AS (
      SELECT doc_id, source, n_tok,
             array_to_string(list_transform(tokens, t -> vl[t+1]), '') AS line
      FROM seq, v
    ),
    msgs AS (
      SELECT doc_id, source, n_tok, line,
        CASE WHEN regexp_matches(line, '{ts_rx}')
             THEN epoch_ms(strptime(substr(line, 1, 23), '%Y-%m-%d %H:%M:%S.%g'))
             ELSE NULL END AS ts,
        CASE WHEN regexp_matches(line, '{ts_rx}')
             THEN substr(line, 24) ELSE line END AS message
      FROM lines
    )
    """


def _quality_sql() -> str:
    """Quality-score recomputation (mirrors clpspark.operators.text
    .quality_score exactly); used as a subquery of docs_text_stats."""
    return f"""
      WITH w AS (
        SELECT doc_id, text, {_WORDS} AS words, length(text) AS n_chars
        FROM documents
      )
      SELECT doc_id,
             len(list_distinct(words)) AS n_distinct_words,
             CASE WHEN len(words) > 0 THEN CAST(round(
                 list_sum(list_transform(words, x -> length(x)))
                 / len(words), 6) AS DOUBLE) ELSE 0.0 END AS avg_word_len,
             CASE WHEN len(words) > 0 THEN CAST(round(
                 len(list_distinct(words)) / len(words), 6) AS DOUBLE)
                 ELSE 0.0 END AS type_token_ratio,
             CASE WHEN n_chars > 0 THEN CAST(round(
                 (n_chars - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / n_chars, 6) AS DOUBLE) ELSE 0.0 END AS digit_ratio,
             CAST(round(
               least(len(words) / 100.0, 1.0) * 0.4
               + (CASE WHEN len(words) > 0
                    THEN round(len(list_distinct(words)) / len(words), 6)
                    ELSE 0.0 END) * 0.4
               + (1.0 - (CASE WHEN n_chars > 0
                    THEN round((n_chars - length(regexp_replace(text,
                         '[0-9]', '', 'g'))) / n_chars, 6)
                    ELSE 0.0 END)) * 0.2,
               6) AS DOUBLE) AS quality_score
      FROM w
    """


def _gopher_sql() -> str:
    """Gopher/C4 quality-rule recomputation (mirrors clpspark.operators
    .text.gopher_quality exactly — same rounding, same tie-breaks); used
    as a subquery of docs_text_stats."""
    from clpspark.operators import text as TX

    stop_list = ", ".join(repr(w) for w in TX.GOPHER_STOPWORDS)

    def top_sql(n: int) -> str:
        # max by (cnt, gram): first(... ORDER BY cnt DESC, g DESC); the
        # char fraction clamps at 1.0 (overlapping occurrences)
        return f"""
          SELECT doc_id,
                 CAST(least(1.0, CASE WHEN first(n_chars) > 0
                   THEN CAST(round(first(gchars ORDER BY cnt DESC, g DESC)
                        / CAST(first(n_chars) AS DOUBLE), 6) AS DOUBLE)
                   ELSE 0.0 END) AS DOUBLE) AS top_{n}gram_char_frac
          FROM (
            SELECT doc_id, n_chars, g, COUNT(*) AS cnt,
                   length(g) * COUNT(*) AS gchars
            FROM (
              SELECT doc_id, n_chars,
                     unnest(list_transform(range(1, len(lwords) - {n} + 2),
                            i -> array_to_string(lwords[i:i+{n - 1}], ' ')))
                       AS g
              FROM gw WHERE len(lwords) >= {n}
            ) GROUP BY doc_id, n_chars, g
          ) GROUP BY doc_id
        """

    ngram_joins = "\n".join(
        f"LEFT JOIN ({top_sql(n)}) t{n} USING (doc_id)" for n in (2, 3, 4)
    )
    ngram_cols = ", ".join(
        f"COALESCE(t{n}.top_{n}gram_char_frac, 0.0) AS top_{n}gram_char_frac"
        for n in (2, 3, 4)
    )
    ngram_pass = " AND ".join(
        f"COALESCE(t{n}.top_{n}gram_char_frac, 0.0) <= {cap}"
        for n, cap in TX.GOPHER_MAX_TOP_NGRAM_FRAC.items()
    )
    return f"""
      WITH gw AS (
        SELECT doc_id, text, {_WORDS} AS words, {_WORDS_L} AS lwords,
               string_split(text, chr(10)) AS lines, length(text) AS n_chars
        FROM documents
      ),
      gbase AS (
        SELECT doc_id, n_chars, len(words) AS nw,
          CASE WHEN len(words) > 0 THEN CAST(round(
              list_sum(list_transform(words, x -> length(x)))
              / CAST(len(words) AS DOUBLE), 6) AS DOUBLE)
            ELSE 0.0 END AS mwl,
          CASE WHEN len(words) > 0 THEN CAST(round(
              (len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.'))
               + len(regexp_extract_all(text, '…')))
              / CAST(len(words) AS DOUBLE), 6) AS DOUBLE)
            ELSE 0.0 END AS symbol_word_ratio,
          CASE WHEN len(words) > 0 THEN CAST(round(
              len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
              / CAST(len(words) AS DOUBLE), 6) AS DOUBLE)
            ELSE 0.0 END AS alpha_word_frac,
          len(list_intersect(list_distinct(lwords), [{stop_list}]))
            AS stopword_hits,
          CAST(round(len(list_filter(lines,
              l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
              / CAST(len(lines) AS DOUBLE), 6) AS DOUBLE)
            AS bullet_line_frac,
          CAST(round(len(list_filter(lines,
              l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
              / CAST(len(lines) AS DOUBLE), 6) AS DOUBLE)
            AS ellipsis_line_frac,
          CAST(round(len(list_filter(lines,
              l -> right(rtrim(l), 1) IN ('.', '!', '?', '"')))
              / CAST(len(lines) AS DOUBLE), 6) AS DOUBLE)
            AS terminal_punct_line_frac,
          contains(text, '{{') AS has_curly_brace,
          contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum
        FROM gw
      ),
      lagg AS (
        SELECT doc_id,
          CAST(round((SUM(cnt) - COUNT(*)) / CAST(SUM(cnt) AS DOUBLE), 6)
               AS DOUBLE) AS dup_line_frac,
          CASE WHEN SUM(length(line) * cnt) > 0 THEN CAST(round(
              SUM(CASE WHEN cnt > 1 THEN length(line) * cnt ELSE 0 END)
              / CAST(SUM(length(line) * cnt) AS DOUBLE), 6) AS DOUBLE)
            ELSE 0.0 END AS dup_line_char_frac
        FROM (
          SELECT doc_id, line, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(lines) AS line FROM gw)
          GROUP BY doc_id, line
        ) GROUP BY doc_id
      )
      SELECT gbase.doc_id,
             symbol_word_ratio, alpha_word_frac, stopword_hits,
             bullet_line_frac, ellipsis_line_frac, terminal_punct_line_frac,
             COALESCE(lagg.dup_line_frac, 0.0) AS dup_line_frac,
             COALESCE(lagg.dup_line_char_frac, 0.0) AS dup_line_char_frac,
             {ngram_cols},
             has_curly_brace, has_lorem_ipsum,
             (nw >= {TX.GOPHER_MIN_WORDS} AND nw <= {TX.GOPHER_MAX_WORDS}
              AND mwl >= {TX.GOPHER_MIN_MEAN_WLEN}
              AND mwl <= {TX.GOPHER_MAX_MEAN_WLEN}
              AND symbol_word_ratio <= {TX.GOPHER_MAX_SYMBOL_RATIO}
              AND bullet_line_frac <= {TX.GOPHER_MAX_BULLET_FRAC}
              AND ellipsis_line_frac <= {TX.GOPHER_MAX_ELLIPSIS_FRAC}
              AND alpha_word_frac >= {TX.GOPHER_MIN_ALPHA_FRAC}
              AND stopword_hits >= {TX.GOPHER_MIN_STOPWORD_HITS}
              AND COALESCE(lagg.dup_line_frac, 0.0)
                  <= {TX.GOPHER_MAX_DUP_LINE_FRAC}
              AND COALESCE(lagg.dup_line_char_frac, 0.0)
                  <= {TX.GOPHER_MAX_DUP_LINE_CHAR_FRAC}
              AND {ngram_pass}) AS gopher_pass
      FROM gbase
      LEFT JOIN lagg USING (doc_id)
      {ngram_joins}
    """


def _lm_sql() -> str:
    """CCNet-style add-k bigram LM recomputation (mirrors clpspark
    .operators.tokenizer.lm_perplexity with train_filter lang='en',
    k=0.1): same <s>/<unk> handling, same per-term ln rounding, same
    tercile thresholds — lm_perplexity's percentile_approx is exact at
    these sizes and returns the value at rank ceil(p*n) (1-indexed),
    replayed here as an explicit row_number lookup; ties at a threshold
    share its bucket in BOTH engines."""
    k = 0.1
    return f"""
      WITH lmdocs AS (
        SELECT doc_id, lang, {_WORDS_L} AS lwords FROM documents
        WHERE len({_WORDS_L}) > 0
      ),
      seqs AS (
        SELECT doc_id, lang, list_prepend('<s>', lwords) AS seq
        FROM lmdocs
      ),
      train_bg AS (
        SELECT b['prev'] AS prev, b['w'] AS w
        FROM (
          SELECT unnest(list_transform(
                   range(1, len(seq)),
                   i -> {{'prev': seq[i], 'w': seq[i + 1]}})) AS b
          FROM seqs WHERE lang = 'en'
        )
      ),
      big AS (SELECT prev, w, COUNT(*) AS c_bg FROM train_bg
              GROUP BY prev, w),
      ctx AS (SELECT prev, SUM(c_bg) AS c_ctx FROM big GROUP BY prev),
      vocab AS (
        SELECT DISTINCT unnest(lwords) AS w FROM lmdocs WHERE lang = 'en'
      ),
      vs AS (SELECT COUNT(*) + 1 AS v FROM vocab),
      score_bg AS (
        SELECT doc_id,
               CASE WHEN b['prev'] = '<s>'
                      OR b['prev'] IN (SELECT w FROM vocab)
                    THEN b['prev'] ELSE '<unk>' END AS prev,
               CASE WHEN b['w'] IN (SELECT w FROM vocab)
                    THEN b['w'] ELSE '<unk>' END AS w
        FROM (
          SELECT doc_id, unnest(list_transform(
                   range(1, len(seq)),
                   i -> {{'prev': seq[i], 'w': seq[i + 1]}})) AS b
          FROM seqs
        )
      ),
      lnp AS (
        SELECT doc_id,
               CAST(round(ln((COALESCE(c_bg, 0) + {k})
                             / (COALESCE(c_ctx, 0) + {k} * vs.v)), 9)
                    AS DOUBLE) AS lnp
        FROM score_bg
        LEFT JOIN big USING (prev, w)
        LEFT JOIN ctx USING (prev)
        CROSS JOIN vs
      ),
      per_doc AS (
        SELECT doc_id,
               COUNT(*) AS n_lm_tokens,
               CAST(round(-SUM(lnp) / COUNT(*), 6) AS DOUBLE) AS lm_xent
        FROM lnp GROUP BY doc_id
      ),
      per_ppl AS (
        SELECT doc_id, n_lm_tokens, lm_xent,
               CAST(round(exp(lm_xent), 6) AS DOUBLE) AS lm_ppl
        FROM per_doc
      ),
      ranked AS (
        SELECT lm_ppl,
               row_number() OVER (ORDER BY lm_ppl) AS rk,
               COUNT(*) OVER () AS n
        FROM per_ppl
      ),
      thr AS (
        SELECT
          MAX(CASE WHEN rk = CAST(ceil(n / 3.0) AS BIGINT)
                   THEN lm_ppl END) AS t1,
          MAX(CASE WHEN rk = CAST(ceil(2 * n / 3.0) AS BIGINT)
                   THEN lm_ppl END) AS t2
        FROM ranked
      )
      SELECT doc_id, n_lm_tokens, lm_xent, lm_ppl,
             CASE WHEN lm_ppl <= thr.t1 THEN 'head'
                  WHEN lm_ppl <= thr.t2 THEN 'middle'
                  ELSE 'tail' END AS lm_bucket
      FROM per_ppl CROSS JOIN thr
    """


def _lang_sql() -> str:
    from clpspark.operators.text import LANG_STOPWORDS

    hits = {
        lang: (
            f"len(list_intersect(list_distinct({_WORDS_L}), "
            f"[{', '.join(repr(w) for w in sw)}]))"
        )
        for lang, sw in LANG_STOPWORDS.items()
    }
    langs = sorted(hits)
    # argmax with deterministic lang-order tie-break (first max wins,
    # matching the Spark fold in clpspark.operators.text.lang_id)
    best = "'und'"
    best_hits = "0"
    for lang in langs:
        h = f"hits_{lang}"
        best = f"CASE WHEN {h} > {best_hits} THEN '{lang}' ELSE {best} END"
        best_hits = f"CASE WHEN {h} > {best_hits} THEN {h} ELSE {best_hits} END"
    inner = ", ".join(f"{expr} AS hits_{lang}" for lang, expr in sorted(hits.items()))
    return f"""
      WITH h AS (SELECT doc_id, {inner} FROM documents)
      SELECT doc_id, {', '.join('hits_' + x for x in langs)},
             {best} AS lang_pred
      FROM h ORDER BY doc_id
    """


def _simhash_sql() -> str:
    """SimHash bit-vote recomputation: 61 per-bit sign sums over the word
    hashes (mirrors clpspark.operators.dedup.simhash_py exactly)."""
    from clpspark.operators.dedup import SIMHASH_BITS

    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> "
        f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
      WITH w AS (
        SELECT doc_id,
          list_transform({_WORDS_L}, w -> {_WORD_HASH}) AS hs
        FROM documents
      )
      SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN 0 ELSE {bits} END AS simhash
      FROM w ORDER BY doc_id
    """


def _ngram_pairs_cte(threshold: float, cap: int) -> str:
    """CTE body computing near-dup pairs exactly as dedup.ngram_jaccard_pairs
    (word-3-gram shingles, stop-shingle cap, count-based Jaccard)."""
    return f"""sh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(words) >= 3 THEN
            list_transform(generate_series(1, len(words)-2),
                           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
            ELSE [] END) AS sh
        FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
      ),
      inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
      rare AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) < {cap}),
      inv2 AS (SELECT inv.* FROM inv JOIN rare USING (shingle)),
      sizes AS (SELECT doc_id, count(*) AS n FROM inv2 GROUP BY doc_id),
      pair_counts AS (
        SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS c
        FROM inv2 l JOIN inv2 r USING (shingle)
        WHERE l.doc_id < r.doc_id
        GROUP BY 1, 2
      ),
      scored AS (
        SELECT a, b,
          CAST(round(c * 1.0 / (sa.n + sb.n - c), 6) AS DOUBLE) AS jaccard
        FROM pair_counts
        JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      ),
      pairs AS (SELECT a, b FROM scored WHERE jaccard >= {threshold})"""


def _ngram_jaccard_sql(threshold: float = 0.05, cap: int = 1000) -> str:
    return f"""
      WITH {_ngram_pairs_cte(threshold, cap)}
      SELECT s.a, s.b, s.jaccard
      FROM scored s JOIN pairs USING (a, b)
      ORDER BY a, b
    """


def _dedup_keep_sql(threshold: float = 0.5, cap: int = 1000) -> str:
    """Connected components of the near-dup pair graph via a recursive CTE
    (min reachable id per doc) — mirrors dedup.dedup_keep's label
    propagation fixpoint."""
    return f"""
      WITH RECURSIVE {_ngram_pairs_cte(threshold, cap)},
      edges AS (
        SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
      ),
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b AS doc_id, reach.r FROM reach JOIN edges e
          ON e.a = reach.doc_id
      )
      SELECT doc_id, min(r) AS keep_id, (doc_id = min(r)) AS is_kept
      FROM reach GROUP BY doc_id ORDER BY doc_id
    """


def _emb_planes_sql() -> tuple[str, str]:
    """(plane-literal list, per-row int signature expression) for the
    deterministic 8x64 hyperplane family (seed 42)."""
    from clpspark.operators.similarity import lsh_planes

    planes = lsh_planes(len(_EMB_Q), 8, 42)
    plane_sql = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
    )
    sig_expr = " + ".join(
        f"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), "
        f"p[{i + 1}]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(8)
    )
    return plane_sql, sig_expr


def _emb_dup_pairs_sql(threshold: float = 0.9) -> str:
    plane_sql, sig_expr = _emb_planes_sql()
    return f"""
      WITH pl AS (SELECT [{plane_sql}] AS p),
      sigs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {sig_expr} AS sig
        FROM embeddings, pl
      ),
      pairs AS (
        SELECT l.vec_id AS a, r.vec_id AS b,
          CAST(round(list_inner_product(l.v, r.v)
               / (sqrt(list_inner_product(l.v, l.v))
                  * sqrt(list_inner_product(r.v, r.v))), 6) AS DOUBLE)
              AS cosine
        FROM sigs l JOIN sigs r ON l.sig = r.sig AND l.vec_id < r.vec_id
      )
      SELECT a, b, cosine FROM pairs WHERE cosine >= {threshold}
      ORDER BY a, b
    """


def _lsh_topk_sql() -> str:
    """Recompute the ANN probe in SQL: the deterministic hyperplanes ride as
    literals, the bucket signature is 8 sign bits of plane dot products, and
    the multi-probe neighborhood (hamming <= 3) is a precomputed IN list —
    bitwise identical to similarity.lsh_topk over the materialized index."""
    from clpspark.operators.similarity import (
        lsh_planes,
        query_signature,
        signature_neighborhood,
    )

    planes = lsh_planes(len(_EMB_Q), 8, 42)
    probes = sorted(
        signature_neighborhood(query_signature(planes, _EMB_Q), 8, 3)
    )
    plane_sql, sig_expr = _emb_planes_sql()
    return f"""
      WITH pl AS (SELECT [{plane_sql}] AS p),
      sigs AS (
        SELECT vec_id, embedding, {sig_expr} AS sig FROM embeddings, pl
      )
      SELECT vec_id,
             CAST(round(list_cosine_similarity(
                 CAST(embedding AS DOUBLE[]), {_EMB_Q_SQL}), 6) AS DOUBLE)
                 AS cosine
      FROM sigs WHERE sig IN ({', '.join(map(str, probes))})
      ORDER BY cosine DESC, vec_id LIMIT 20
    """


# DuckDB re-derivation of the encoder's representability predicates
# (ref/encoder.py encode_int / encode_float — EncodedVariableInterpreter
# rules): pinned against the Python encoder for EVERY vocab piece by
# tests/test_tpl_oracle_pin.py.
def _ic_sql(p: str) -> str:
    return (
        f"(CASE WHEN regexp_matches({p}, '^(0|-?[1-9][0-9]*)$') "
        f"AND TRY_CAST({p} AS BIGINT) IS NOT NULL THEN 'I' ELSE 'D' END)"
    )


def _fc_sql(p: str) -> str:
    return (
        f"(CASE WHEN regexp_matches({p}, '^-?[0-9]*\\.[0-9]+$') "
        f"AND length({p}) <= (CASE WHEN {p} LIKE '-%' THEN 18 ELSE 17 END) "
        f"THEN 'F' ELSE 'D' END)"
    )


def _tpl_cte_sql(n_rows: int = _PIPELINE_ROWS) -> str:
    """CTE computing per-row (tpl, ts, sig, nv, nd) straight from the corpus
    token ids + vocab sidecar — independent of every Spark code path.

    sig = the row's variable-encodability signature (one char per produced
    variable; non-variable 'a*e'-style pieces contribute their literal) —
    distinct sigs within a template <=> distinct logtypes. nv/nd = produced
    variable / dictionary-variable counts per row. Slot behavior encoded
    here (d-pieces with ':' split into dict+int; digit-less d-pieces are
    logtype literals; 'user='/'action=' constants force dict vars) is
    pinned per vocab piece by tests/test_tpl_oracle_pin.py."""
    from clpspark.corpus import TEMPLATES

    d = f"{_CORPUS_CACHE}/n{n_rows}"

    def dc(p: str) -> str:
        return (
            f"(CASE WHEN NOT regexp_matches({p}, '[0-9]') THEN "
            f"'[' || {p} || ']' "
            f"WHEN contains({p}, ':') THEN 'DI' ELSE 'D' END)"
        )

    def slot_sig(kind: str, pos: int) -> str:
        p = f"vl[tokens[{pos}] + 1]"
        if kind == "i":
            return _ic_sql(p)
        if kind == "f":
            return _fc_sql(p)
        if kind == "h":
            return _ic_sql(p)  # digit-only hexes encode as ints
        if kind == "d":
            return dc(p)
        if kind == "w":
            return "'D'"  # user=<w> -> dict var
        raise ValueError(kind)

    def slot_nv(kind: str, pos: int) -> str:
        p = f"vl[tokens[{pos}] + 1]"
        if kind == "d":
            return (
                f"(CASE WHEN NOT regexp_matches({p}, '[0-9]') THEN 0 "
                f"WHEN contains({p}, ':') THEN 2 ELSE 1 END)"
            )
        return "1"

    def slot_nd(kind: str, pos: int) -> str:
        p = f"vl[tokens[{pos}] + 1]"
        if kind in ("i", "h"):
            return _ic_sql(p).replace("'I'", "0").replace("'D'", "1")
        if kind == "f":
            return _fc_sql(p).replace("'F'", "0").replace("'D'", "1")
        if kind == "d":
            return (
                f"(CASE WHEN NOT regexp_matches({p}, '[0-9]') THEN 0 "
                f"ELSE 1 END)"
            )
        return "1"  # w

    tpl_case = (
        "CASE WHEN tokens[1] = 26 THEN 11 ELSE CASE tokens[2] "
        + " ".join(
            f"WHEN {next(it[1] for it in t if isinstance(it, tuple))} THEN {ix}"
            for ix, t in enumerate(TEMPLATES)
            if ix != 11
        )
        + " END END"
    )
    sig_cases, nv_cases, nd_cases = [], [], []
    for ix, t in enumerate(TEMPLATES):
        sigs, nvs, nds = [], [], []
        for pos0, item in enumerate(t):
            if isinstance(item, tuple):
                if item[1] == 13:  # " action=login latency ": extra dict var
                    sigs.append("'D'")
                    nvs.append("1")
                    nds.append("1")
                continue
            if item == "t":
                continue
            sigs.append(slot_sig(item, pos0 + 1))
            nvs.append(slot_nv(item, pos0 + 1))
            nds.append(slot_nd(item, pos0 + 1))
        sig_cases.append(f"WHEN {ix} THEN " + " || ".join(sigs))
        nv_cases.append(f"WHEN {ix} THEN " + " + ".join(nvs))
        nd_cases.append(f"WHEN {ix} THEN " + " + ".join(nds))
    return f"""
      WITH v AS (SELECT list(piece ORDER BY tok_id) AS vl
                 FROM read_parquet('{d}/_vocab.parquet')),
      seq AS (SELECT * FROM read_parquet('{d}/part-*.parquet')),
      t AS (
        SELECT doc_id, {tpl_case} AS tpl,
               CASE WHEN tokens[1] = 26 THEN NULL ELSE
                 epoch_ms(strptime(vl[tokens[1] + 1],
                                   '%Y-%m-%d %H:%M:%S.%g')) END AS ts,
               tokens, vl
        FROM seq, v
      ),
      sigs AS (
        SELECT doc_id, tpl, ts,
               CASE tpl {' '.join(sig_cases)} END AS sig,
               CASE tpl {' '.join(nv_cases)} END AS nv,
               CASE tpl {' '.join(nd_cases)} END AS nd
        FROM t
      )
    """


def _textlog_sql() -> str:
    """Closed-form regeneration of the text-log fixture's expected
    reconstruction (multiline events re-assembled with embedded newlines)."""
    return f"""
      WITH i AS (SELECT unnest(generate_series(0, {_TEXTLOG_N - 1})) AS i)
      SELECT 'app.log#' || lpad(CAST(i AS VARCHAR), 8, '0') AS doc_id,
             'app.log' AS source,
             '2016-05-08 07:' || lpad(CAST(i % 60 AS VARCHAR), 2, '0') || ':'
               || lpad(CAST((i*7) % 60 AS VARCHAR), 2, '0') || '.'
               || lpad(CAST(i % 1000 AS VARCHAR), 3, '0')
               || ' INFO request ' || i || ' took ' || i || '.' || (i % 10)
               || ' ms'
               || CASE WHEN i % 13 = 0
                  THEN chr(10) || '  continuation line without timestamp'
                  ELSE '' END AS line
      FROM i ORDER BY doc_id
    """


def oracle_sql() -> dict[str, str]:
    lines = _corpus_lines_sql()
    return {
        "lineitem_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
                       AS sum_disc_price,
                   CAST(round(avg(l_quantity), 4) AS DOUBLE) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "top3_orders_per_cust": """
            SELECT o_custkey, o_orderkey, rk FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey)
                         AS rk
              FROM orders)
            WHERE rk <= 3
        """,
        "semi_anti_join": """
            SELECT 'cust_with_orders' AS side,
                   CAST(c_custkey AS BIGINT) AS key, c_name AS name
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT 'part_never_shipped' AS side,
                   CAST(p_partkey AS BIGINT) AS key, p_name AS name
            FROM part
            WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
            ORDER BY side, key
        """,
        "events_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                     CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                            (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                          > 1800000
                          OR lag(epoch_ms(ts)) OVER
                            (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                          IS NULL
                     THEN 1 ELSE 0 END AS new_sess
              FROM events
            ), s AS (
              SELECT user_id, ts_ms,
                     sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts_ms, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_ix
              FROM g
            )
            SELECT user_id, CAST(session_ix AS BIGINT) AS session_ix,
                   count(*) AS n_events,
                   min(ts_ms) AS session_start, max(ts_ms) AS session_end
            FROM s GROUP BY user_id, session_ix
        """,
        "events_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'view') AS view,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'error') AS error
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "lineitem_cube_quantiles": """
            WITH cube_t AS (
              SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                     CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
              FROM lineitem
              GROUP BY CUBE (l_returnflag, l_linestatus)
            ), qt AS (
              SELECT l_returnflag,
                     CAST(round(quantile_cont(l_quantity, 0.5), 4) AS DOUBLE)
                         AS p50_qty,
                     CAST(round(quantile_cont(l_extendedprice, 0.9), 4)
                          AS DOUBLE) AS p90_price
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT c.l_returnflag, c.l_linestatus, c.n_rows, c.sum_qty,
                   q.p50_qty, q.p90_price
            FROM cube_t c LEFT JOIN qt q ON c.l_returnflag = q.l_returnflag
            ORDER BY c.l_returnflag, c.l_linestatus
        """,
        "events_count_by_time": """
            SELECT (epoch_ms(ts) // 3600000) * 3600000 AS bucket,
                   event_type, count(*) AS n_rows
            FROM events GROUP BY 1, 2
        """,
        "events_topk_latest": """
            SELECT event_id, epoch_ms(ts) AS ts_ms, event_type
            FROM events ORDER BY ts_ms DESC, event_id LIMIT 100
        """,
        "events_wildcard_regex": """
            SELECT 'wildcard' AS mode, event_id, props FROM events
            WHERE props LIKE '%"k": 9%'
            UNION ALL
            SELECT 'regex' AS mode, event_id, props FROM events
            WHERE regexp_matches(props, '^\\{"k": 9.\\}$')
        """,
        "events_kql": """
            SELECT event_id, event_type,
                   CAST(round(value, 4) AS DOUBLE) AS value,
                   epoch_ms(ts) AS ts_ms,
                   CAST(json_extract(props, '$.k') AS INT) AS k
            FROM events
            WHERE (event_type = 'error' AND value > 50)
               OR (CAST(json_extract(props, '$.k') AS INT) IN (9, 29)
                   AND epoch_ms(ts) >= epoch_ms(TIMESTAMP '2024-01-15 00:00:00'))
        """,
        "docs_text_stats": f"""
            SELECT tc.doc_id, tc.n_words, tc.n_subwords, tc.n_chars_calc,
                   q.n_distinct_words, q.avg_word_len, q.type_token_ratio,
                   q.digit_ratio, q.quality_score,
                   l.* EXCLUDE (doc_id),
                   gq.* EXCLUDE (doc_id),
                   lm.* EXCLUDE (doc_id)
            FROM (
              SELECT doc_id,
                     len({_WORDS}) AS n_words,
                     len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords,
                     length(text) AS n_chars_calc
              FROM documents
            ) tc
            JOIN ({_quality_sql()}) q USING (doc_id)
            JOIN ({_lang_sql()}) l USING (doc_id)
            JOIN ({_gopher_sql()}) gq USING (doc_id)
            LEFT JOIN ({_lm_sql()}) lm USING (doc_id)
            ORDER BY doc_id
        """,
        "docs_exact_dedup": """
            SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
            FROM documents
            GROUP BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
            ORDER BY keep_id
        """,
        "docs_hashes": f"""
            WITH w AS (
              SELECT doc_id,
                list_prepend(CAST(0 AS HUGEINT),
                  flatten(list_transform({_WORDS_L},
                    w -> list_append(list_transform(string_split(w, ''),
                           c -> CAST(ord(c) AS HUGEINT)), CAST(31 AS HUGEINT)))))
                AS ints
              FROM documents
            ),
            fp AS (
              SELECT doc_id,
                     CAST(list_reduce(ints,
                          (acc, x) -> (acc * 1000003 + x) % 2305843009213693951)
                          AS BIGINT) AS fingerprint
              FROM w
            )
            SELECT fp.doc_id, fp.fingerprint, sh.simhash
            FROM fp JOIN ({_simhash_sql()}) sh USING (doc_id)
            ORDER BY doc_id
        """,
        "docs_ngram_jaccard": _ngram_jaccard_sql(),
        "docs_dedup_keep": _dedup_keep_sql(),
        "docs_sampling": f"""
            WITH dsir_ws AS (SELECT doc_id, source, {_WORDS} AS ws
                             FROM documents),
            dsir_feat AS (
              -- hashed unigram + bigram bucket per feature occurrence
              SELECT doc_id, source, {_WORD_HASH} % {_DSIR_BUCKETS} AS b
              FROM (
                SELECT doc_id, source, ws[i] AS w
                FROM dsir_ws,
                     unnest(generate_series(1, len(ws))) AS t(i)
                UNION ALL
                SELECT doc_id, source, ws[i] || chr(31) || ws[i + 1] AS w
                FROM dsir_ws,
                     unnest(generate_series(1, greatest(len(ws) - 1, 0)))
                         AS t(i)
              )
            ),
            dsir_tgt AS (SELECT b, count(*) AS c FROM dsir_feat
                         WHERE source = 'src0' GROUP BY b),
            dsir_raw AS (SELECT b, count(*) AS c FROM dsir_feat GROUP BY b),
            dsir_tot AS (SELECT (SELECT sum(c) FROM dsir_tgt) AS t,
                                (SELECT sum(c) FROM dsir_raw) AS r),
            dsir_ratio AS (
              SELECT r.b,
                ln((coalesce(t.c, 0) + 1.0)
                   / ((SELECT t FROM dsir_tot) + {_DSIR_BUCKETS}.0))
                - ln((r.c + 1.0)
                     / ((SELECT r FROM dsir_tot) + {_DSIR_BUCKETS}.0)) AS lr
              FROM dsir_raw r LEFT JOIN dsir_tgt t USING (b)
            ),
            dsir_lw AS (
              SELECT d.doc_id, d.lang, coalesce(s.logw, 0.0) AS logw
              FROM documents d LEFT JOIN (
                SELECT doc_id, sum(lr) AS logw
                FROM dsir_feat JOIN dsir_ratio USING (b) GROUP BY doc_id
              ) s USING (doc_id)
            ),
            dsir_sel AS (
              -- deterministic Gumbel top-k: u from the first 12 md5 hex
              -- digits (strpos fold), g = -ln(-ln u)
              SELECT doc_id, lang FROM (
                SELECT doc_id, lang, logw - ln(-ln(
                  (list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       string_split(
                         substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), ''),
                       c -> CAST(strpos('0123456789abcdef', c) - 1
                                 AS BIGINT))),
                     (acc, x) -> acc * 16 + x) + 0.5)
                  / 281474976710656.0)) AS gk
                FROM dsir_lw
              ) ORDER BY gk DESC, doc_id LIMIT {_DSIR_K}
            )
            SELECT 'stratified' AS method, doc_id, lang FROM documents
            WHERE md5(CAST(doc_id AS VARCHAR)) <
              CASE lang WHEN 'en' THEN '800000' WHEN 'de' THEN '400000'
                        WHEN 'es' THEN '400000' WHEN 'fr' THEN '200000'
                        WHEN 'zh' THEN '200000' ELSE '000000' END
            UNION ALL
            SELECT 'top_n' AS method, doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents
            ) WHERE rk <= 10
            UNION ALL
            -- greedy quality-first prefix under the token budget
            -- (unique (quality, doc_id) order key: no RANGE-frame peers)
            SELECT 'budget' AS method, doc_id, lang FROM (
              SELECT d.doc_id, d.lang,
                     SUM(len({_WORDS})) OVER (
                       ORDER BY q.quality_score DESC, d.doc_id) AS cum
              FROM documents d
              JOIN ({_quality_sql()}) q USING (doc_id)
            ) WHERE cum <= {_TOKEN_BUDGET}
            UNION ALL
            SELECT 'dsir' AS method, doc_id, lang FROM dsir_sel
            ORDER BY method, doc_id
        """,
        "docs_pii_scrub": """
            WITH injected AS (
              SELECT doc_id,
                text || ' contact user' || doc_id || '@example.com at 10.0.'
                || (doc_id % 256) || '.7 ssn 123-45-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
              FROM documents
            )
            SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                  '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
                '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                '<IP>', 'g') AS text
            FROM injected ORDER BY doc_id
        """,
        "docs_top_ngrams": f"""
            WITH w AS (SELECT {_WORDS} AS ws FROM documents),
            g AS (
              SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS ngram
              FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 0)))
                   AS t(i)
            )
            SELECT ngram, count(*) AS n_occurrences FROM g
            GROUP BY ngram ORDER BY n_occurrences DESC, ngram LIMIT 20
        """,
        "docs_decontaminate": f"""
            WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
            g AS (
              SELECT doc_id,
                     {" || ' ' || ".join(f"ws[i + {j}]" for j in range(8))}
                         AS gram
              FROM w, unnest(generate_series(1, greatest(len(ws) - 7, 0)))
                   AS t(i)
            ),
            bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
            train AS (
              SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 17 != 0
            )
            SELECT doc_id, count(*) AS n_shared_ngrams
            FROM train JOIN bench USING (gram)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "docs_line_dedup": f"""
            WITH l AS (
              SELECT source, pos, line,
                     row_number() OVER (PARTITION BY line
                                        ORDER BY source, pos) AS rn,
                     count(*) OVER (PARTITION BY line) AS c
              FROM (
                SELECT source,
                       (row_number() OVER (PARTITION BY source
                                           ORDER BY doc_id) - 1) * 2
                           + u.i - 1 AS pos,
                       CASE u.i WHEN 1 THEN '{_BANNER}' ELSE text END AS line
                FROM documents, (SELECT unnest([1, 2]) AS i) u
              )
            )
            SELECT source AS doc_id,
                   string_agg(line, chr(10) ORDER BY pos) AS text
            FROM l WHERE c <= 1 OR rn = 1
            GROUP BY source ORDER BY doc_id
        """,
        "docs_pack_sequences": f"""
            WITH t AS (
              SELECT source, doc_id, len({_WORDS}) AS n_tokens FROM documents
            ),
            s AS (
              SELECT source, doc_id, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY source
                                         ORDER BY doc_id) AS e
              FROM t WHERE n_tokens > 0
            )
            SELECT source, doc_id, n_tokens, p.pack_id,
                   CAST(least(e, (p.pack_id + 1) * 512)
                        - greatest(e - n_tokens, p.pack_id * 512) AS BIGINT)
                       AS pack_tokens
            FROM s, unnest(generate_series(
                       CAST((e - n_tokens) // 512 AS BIGINT),
                       CAST((e - 1) // 512 AS BIGINT))) AS p(pack_id)
            ORDER BY source, doc_id, pack_id
        """,
        "emb_lsh_topk": _lsh_topk_sql(),
        "emb_ivf_topk": _ivf_topk_sql(),
        "emb_dup_pairs": _emb_dup_pairs_sql(),
        "emb_cosine_topk": f"""
            SELECT vec_id,
                   CAST(round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), {_EMB_Q_SQL}), 6) AS DOUBLE)
                       AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id LIMIT 20
        """,
        # ---- CLP pipeline oracles (independent DuckDB re-derivation) --------
        "clp_sink_counts": f"""
            {_tpl_cte_sql()}
            SELECT CAST(tpl AS INT) AS tpl, count(*) AS n_rows,
                   count(DISTINCT sig) AS n_logtypes
            FROM sigs GROUP BY tpl ORDER BY tpl
        """,
        "clp_dict_stats": f"""
            {_tpl_cte_sql()}
            SELECT CAST(tpl AS INT) AS tpl, count(*) AS n_rows,
                   CAST(sum(nv) AS BIGINT) AS n_vars,
                   CAST(sum(nd) AS BIGINT) AS n_dict_vars,
                   min(ts) AS begin_ts, max(ts) AS end_ts
            FROM sigs GROUP BY tpl ORDER BY tpl
        """,
        "clp_source_stats": f"""
            {lines}
            SELECT source, count(*) AS n_rows,
                   CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
                   min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok,
                   CAST(round(avg(n_tok), 6) AS DOUBLE) AS avg_n_tok
            FROM msgs GROUP BY source ORDER BY source
        """,
        "clp_count_by_time": f"""
            {lines}
            SELECT (ts // 3600000) * 3600000 AS bucket, source,
                   count(*) AS n_rows
            FROM msgs WHERE ts IS NOT NULL
            GROUP BY 1, 2 ORDER BY bucket, source
        """,
        "clp_grep_search": f"""
            {lines}
            SELECT doc_id, source, ts, message FROM msgs
            WHERE message LIKE '% ERROR Connection to % refused after %'
        """,
        "clp_grep_topk": f"""
            {lines}
            SELECT doc_id, ts, message FROM msgs
            WHERE message LIKE '%heartbeat%'
            ORDER BY ts DESC, doc_id LIMIT 50
        """,
        "clp_split_search": f"""
            {lines}
            SELECT doc_id, source, ts, message FROM msgs
            WHERE message LIKE '% ERROR Connection to % refused after %'
        """,
        "clp_snapshot_search": f"""
            {lines}
            SELECT doc_id, source, ts, message FROM msgs
            WHERE message LIKE
                  '% INFO Task {_snap_token().replace("_", "^_")} completed in % ms'
                  ESCAPE '^'
              AND ts >= {_SNAP_TGE}
        """,
        "clp_tag_search": f"""
            {lines}
            SELECT doc_id, source, ts, message FROM msgs
            WHERE message LIKE '% ERROR Connection to % refused after %'
        """,
        "glt_columns": f"""
            {lines}
            -- only CLP-representable ints land in the \\x11 logtype: no
            -- zero-padding, no '+', no '-0', must fit int64 (others become
            -- dictionary vars in a sibling logtype)
            SELECT doc_id, source, ts,
                   TRY_CAST(regexp_extract(message,
                        '^ INFO heartbeat seq (0|-?[1-9][0-9]*) ok$', 1)
                        AS BIGINT) AS ivar_0
            FROM msgs
            WHERE regexp_matches(message,
                                 '^ INFO heartbeat seq (0|-?[1-9][0-9]*) ok$')
              AND TRY_CAST(regexp_extract(message,
                        '^ INFO heartbeat seq (0|-?[1-9][0-9]*) ok$', 1)
                        AS BIGINT) IS NOT NULL
        """,
        "text_reconstruct": f"""
            {lines}
            SELECT doc_id, source, line FROM msgs
            WHERE doc_id < 'doc000000002000' ORDER BY doc_id
        """,
        "stream_count_by_time": f"""
            {lines}
            SELECT (ts // 3600000) * 3600000 AS bucket, source,
                   count(*) AS n_rows
            FROM msgs WHERE ts IS NOT NULL
            GROUP BY 1, 2 ORDER BY bucket, source
        """,
        "clp_range_search": f"""
            WITH i AS (SELECT unnest(generate_series(0, {_RANGELOG_N - 1}))
                       AS i)
            SELECT 'svc1.log#' || lpad(CAST(i AS VARCHAR), 8, '0') AS doc_id,
                   'svc1.log' AS source,
                   epoch_ms(strptime(
                     '2016-05-08 08:' || lpad(CAST(i % 60 AS VARCHAR), 2, '0')
                     || ':' || lpad(CAST((i*3) % 60 AS VARCHAR), 2, '0')
                     || '.' || lpad(CAST((i*17) % 1000 AS VARCHAR), 3, '0'),
                     '%Y-%m-%d %H:%M:%S.%g')) AS ts,
                   ' INFO request ' || (1000 + i) || ' took ' || i || '.1 ms'
                       AS message
            FROM i ORDER BY doc_id
        """,
        "text_log_ingest": _textlog_sql(),
        "archive_ingest": """
            WITH files AS (
              SELECT 'logs_a.tar.gz!svc1.log' AS src, 100 AS n
              UNION ALL
              SELECT 'logs_b.zip!svc2.log' AS src, 60 AS n
            ),
            ix AS (
              SELECT src, unnest(generate_series(0, n - 1)) AS i FROM files
            )
            SELECT src || '#' || lpad(CAST(i AS VARCHAR), 8, '0') AS doc_id,
                   src AS source,
                   '2016-05-08 07:' || lpad(CAST(i % 60 AS VARCHAR), 2, '0')
                   || ':' || lpad(CAST((i*3) % 60 AS VARCHAR), 2, '0')
                   || '.000 INFO ' || split_part(src, '!', 2) || ' job ' || i
                   || ' took ' || i || '.' || (i % 10) || ' s'
                   || CASE WHEN i % 7 = 0
                      THEN chr(10) || '  multiline continuation' ELSE '' END
                       AS message
            FROM ix ORDER BY doc_id
        """,
        "ir_roundtrip": """
            SELECT epoch_ms(ts) AS ts,
                   'req ' || event_id || ' latency ' || (event_id % 100) || '.'
                   || (event_id % 10) || ' ms from host' || (event_id % 7)
                   || ' seq ' || (event_id + 3000000000) AS message
            FROM events WHERE event_id < 2000
            ORDER BY message
        """,
        "kv_ir_roundtrip": f"""
            SELECT epoch_ms(ts) AS ts, event_id,
                   ['INFO','WARN','ERROR','DEBUG','TRACE']
                       [CAST(event_id % 5 AS INT) + 1] AS level,
                   event_id % 4 AS attempt,
                   CAST(event_id * 3 AS DOUBLE) + 0.5 AS latency,
                   'request ' || event_id || ' took ' || (event_id * 3)
                   || '.5 ms on host' || (event_id % 7) AS msg,
                   event_id + 3000000000 AS big,
                   event_id // 10 AS job,
                   event_id % 2 = 0 AS ok
            FROM events WHERE event_id < {_KV_IR_ROWS}
            ORDER BY event_id
        """,
        "kv_ir_route": f"""
            SELECT CASE WHEN event_id % 3 = 0
                 THEN 'attempt,big,ctx.job,ctx.ok,event_id,extra.tag,latency,level,msg'
                 ELSE 'attempt,big,ctx.job,ctx.ok,event_id,latency,level,msg'
                 END AS schema_sig,
                 count(*) AS n_rows,
                 CAST(1 AS BIGINT) AS n_schema_ids
            FROM events WHERE event_id < {_KV_IR_ROWS}
            GROUP BY 1 ORDER BY schema_sig
        """,
        "json_kql_encoded": f"""
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   'job ' || event_id || ' failed after ' || (event_id % 60)
                   || '.' || (event_id % 10) || ' ms on host'
                   || (event_id % 7) AS msg,
                   epoch_ms(ts) AS ts_epoch
            FROM events
            WHERE event_id < {_JSON_ENC_ROWS}
              AND event_id % 4 = 0 AND event_id % 7 = 3 AND event_id % 3 = 1
            ORDER BY doc_id
        """,
        "json_kql_array": f"""
            WITH e AS (
              SELECT CAST(event_id AS BIGINT) AS i FROM events
              WHERE event_id < {_JSON_ARR_ROWS}
            ),
            el AS (
              SELECT i, unnest(generate_series(0, CAST(i % 3 AS BIGINT))) AS j
              FROM e
            ),
            f AS (
              SELECT i,
                     max((i * 13 + j * 7) % 2000) AS max_b,
                     bool_or((i * 13 + j * 7) % 2000 > 1000) AS has_b,
                     bool_or((i + j) % 9 = 3) AS has_e
              FROM el GROUP BY i
            )
            SELECT CAST(i AS VARCHAR) AS doc_id, max_b
            FROM f WHERE has_b AND has_e ORDER BY doc_id
        """,
        "grok_parse": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   event_type AS source,
                   'evt ' || chr(17) || ' took ' || chr(17) || ' ms' AS logtype,
                   event_id AS v0,
                   (event_id * 7) % 1000 AS v1,
                   'int,int' AS rules
            FROM events WHERE event_id < 2000
            ORDER BY doc_id
        """,
        "json_roundtrip": f"""
            WITH i AS (SELECT unnest(generate_series(0, {_NDJSON_N - 1})) AS i)
            SELECT CAST(i AS BIGINT) AS log_event_idx,
                CASE
                WHEN i % 3 = 0 THEN '{{"a":' || i || ',"b":"x' || i || '"}}'
                WHEN i % 3 = 1 THEN '{{"a":' || i || '}}'
                ELSE '{{"a":' || i || ',"c":{{"d":'
                     || CASE WHEN i % 2 = 0 THEN 'true' ELSE 'false' END
                     || '}}}}'
                END AS json
            FROM i ORDER BY log_event_idx
        """,
        "media_pipeline": """
            SELECT 'feature' AS row_kind, media_id, kind,
                   CAST(NULL AS INT) AS frame_ix,
                   f0, f1, f2, f3, f4, f5, f6, f7
            FROM (
            WITH m AS (SELECT unnest(generate_series(0, 199)) AS i),
            base AS (
              SELECT i, 'm' || lpad(CAST(i AS VARCHAR), 8, '0') AS media_id,
                     ['image','audio','video'][(i % 3) + 1] AS kind,
                     16 + i % 8 AS w, 16 + i % 5 AS h,
                     sha256('42:' || i) AS hx
              FROM m
            ),
            bytes AS (
              SELECT *, flatten([bs, bs, bs, bs]) AS body FROM (
                SELECT *, list_transform(range(0, 32), j ->
                  (strpos('0123456789abcdef', substr(hx, 2*j+1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2*j+2, 1)) - 1)) AS bs
                FROM base)
            ),
            tiled AS (
              SELECT media_id, kind,
                     list_transform(range(0, w*h), t -> body[(t % 128) + 1]) AS px
              FROM bytes
            )
            SELECT media_id, kind,
                   len(list_filter(px, x -> x // 32 = 0)) AS f0,
                   len(list_filter(px, x -> x // 32 = 1)) AS f1,
                   len(list_filter(px, x -> x // 32 = 2)) AS f2,
                   len(list_filter(px, x -> x // 32 = 3)) AS f3,
                   len(list_filter(px, x -> x // 32 = 4)) AS f4,
                   len(list_filter(px, x -> x // 32 = 5)) AS f5,
                   len(list_filter(px, x -> x // 32 = 6)) AS f6,
                   len(list_filter(px, x -> x // 32 = 7)) AS f7
            FROM tiled
            )
            UNION ALL
            SELECT 'frame' AS row_kind, media_id, kind,
                   frame_ix,
                   CAST(NULL AS BIGINT) AS f0, CAST(NULL AS BIGINT) AS f1,
                   CAST(NULL AS BIGINT) AS f2, CAST(NULL AS BIGINT) AS f3,
                   CAST(NULL AS BIGINT) AS f4, CAST(NULL AS BIGINT) AS f5,
                   CAST(NULL AS BIGINT) AS f6, CAST(NULL AS BIGINT) AS f7
            FROM (
            WITH m AS (SELECT unnest(generate_series(0, 199)) AS i),
            base AS (
              SELECT 'm' || lpad(CAST(i AS VARCHAR), 8, '0') AS media_id,
                     ['image','audio','video'][(i % 3) + 1] AS kind,
                     8 + i % 4 AS nf
              FROM m
            )
            SELECT media_id, kind,
                   CAST(unnest(generate_series(0, nf - 1, 2)) AS INT)
                       AS frame_ix
            FROM base WHERE kind != 'image'
            )
            ORDER BY row_kind, media_id, frame_ix
        """,
        "json_schema_route": """
            SELECT CASE WHEN json_extract(props, '$.k') IS NOT NULL
                        THEN 'event_id,p.k' ELSE 'event_id' END AS schema_sig,
                   count(*) AS n_rows,
                   count(DISTINCT CASE WHEN json_extract(props, '$.k') IS NOT NULL
                        THEN 1 ELSE 0 END) AS n_schema_ids
            FROM events GROUP BY 1 ORDER BY schema_sig
        """,
        # Lee et al. 2021 exact-substring dedup replay (mirrors
        # clpspark.operators.curate.dedup_spans, k=8): duplicated 8-word
        # windows cut from all but the (doc_id, pos)-first occurrence
        "docs_tfidf": f"""
            WITH w AS (
              SELECT doc_id, unnest({_WORDS_L}) AS term FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM w
              GROUP BY doc_id, term
            ),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            s AS (
              -- round BEFORE ranking (the Spark side does too): rounded
              -- ties break deterministically by term
              SELECT tf.doc_id, tf.term, tf.tf,
                CAST(round(tf.tf * (ln(((SELECT n FROM nd) + 1.0)
                                       / (dfq.df + 1.0)) + 1.0), 6)
                     AS DOUBLE) AS tfidf
              FROM tf JOIN dfq USING (term)
            ),
            r AS (
              SELECT s.*, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
              FROM s
            )
            SELECT doc_id, term, tf, tfidf, rank FROM r WHERE rank <= 5
            ORDER BY doc_id, rank
        """,
        "docs_normalize": """
            SELECT doc_id,
              trim(regexp_replace(
                lower(nfc_normalize(
                  text || '  CAFE' || chr(769) || '  ' || chr(9)
                       || 'Nai' || chr(776) || 've  X')),
                '\\s+', ' ', 'g')) AS text
            FROM documents ORDER BY doc_id
        """,
        "docs_span_dedup": f"""
            WITH w AS (
              SELECT doc_id, {_WORDS} AS words FROM documents
            ),
            occ AS (
              SELECT doc_id, g['pos'] AS pos, g['gram'] AS gram FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(words) - 8 + 2),
                         i -> {{'pos': i - 1,
                               'gram': array_to_string(words[i:i+7], ' ')}}
                       )) AS g
                FROM w WHERE len(words) >= 8
              )
            ),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY gram
                                        ORDER BY doc_id, pos) AS rn
              FROM occ
            ),
            cov AS (
              SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS pos
              FROM ranked WHERE rn >= 2
            ),
            lw AS (
              SELECT doc_id, g['pos'] AS pos, g['w'] AS w FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(words) + 1),
                         i -> {{'pos': i - 1, 'w': words[i]}})) AS g
                FROM w
              )
            ),
            kept AS (
              SELECT lw.doc_id, lw.pos, lw.w FROM lw
              LEFT JOIN cov ON lw.doc_id = cov.doc_id AND lw.pos = cov.pos
              WHERE cov.doc_id IS NULL
            ),
            reb AS (
              SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
                     count(*) AS kept FROM kept GROUP BY doc_id
            )
            SELECT w.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
                   len(w.words) AS n_words,
                   len(w.words) - COALESCE(reb.kept, 0) AS n_removed
            FROM w LEFT JOIN reb USING (doc_id)
            ORDER BY doc_id
        """,
    }

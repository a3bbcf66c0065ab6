"""The benchmark's workloads and the output checks they run.

Both workloads drive one ``local[N]`` session (N = min(4, cores)) from this
process: closed loop, one client. Everything is written under the run's
work directory inside the checkout.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from clpspark.corpus import VocabMeta, build_vocab, detokenize, write_corpus
from clpspark.pipeline import PipelineConfig, run_pipeline
from clpspark.plans.grep import GrepEngine
from perfbench import procs
from perfbench import queries as Q
from perfbench import stats
from perfbench import trace as T

ROWS_PER_BATCH = 20_000  # the size of the 20k-row entry fixture
SEARCH_ROWS = 30_000
DECODE_SAMPLE = 32
SESSION_CPUS = 4


def log(run: "Run", what: str) -> None:
    """Progress on stderr, stamped with seconds since the run started."""
    print(f"[{time.perf_counter() - run.t_start:7.2f}s] {what}",
          file=sys.stderr, flush=True)


@dataclass
class Run:
    """One benchmark invocation: its work dir, seed and outcome counters."""

    work: str
    seed: int
    seconds: float
    trace: bool
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    t_start: float = field(default_factory=time.perf_counter)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


# ------------------------------------------------------------------ session

def start_session(run: Run):
    from clpspark.session import get_spark

    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    cpus = min(SESSION_CPUS, os.cpu_count() or 1)
    conf = {
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # C1-only JIT: with the default tiered C2 the per-batch CPU keeps
        # falling for about five pipelines (65 -> 26 s), longer than any
        # affordable warm-up; C1 settles within the first one (README.md)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m",
    }
    if run.trace:
        os.makedirs(run.path("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": run.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def event_log_path(run: Run) -> str:
    files = [f for f in os.listdir(run.path("eventlog"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, got {files}")
    return run.path("eventlog", files[0])


# ------------------------------------------------------------------- inputs

def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs
        if f.endswith(".parquet"))


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(path))


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def write_inputs(spark, run: Run, n_files: int, rows: int) -> list[str]:
    """``n_files`` corpus inputs of ``rows`` rows each, one directory per
    input, from one seeded corpus write (rows differ across inputs)."""
    tmp = run.path("corpus", "all")
    write_corpus(spark, tmp, n_rows=n_files * rows, seed=run.seed,
                 partitions=n_files)
    dirs = []
    for i, f in enumerate(parquet_files(tmp)):
        d = run.path("corpus", f"b{i:03d}")
        os.makedirs(d)
        os.rename(f, os.path.join(d, os.path.basename(f)))
        dirs.append(d)
    shutil.rmtree(tmp)
    if len(dirs) != n_files:
        raise RuntimeError(f"corpus write gave {len(dirs)} files, "
                           f"expected {n_files}")
    return dirs


def read_tokens(path: str):
    t = pq.read_table(parquet_files(path), columns=["doc_id", "tokens"])
    return t.column("doc_id").to_pylist(), t.column("tokens").to_pylist()


def raw_log_bytes(path: str, vocab: list[str]) -> int:
    """Bytes of the detokenized log text, plus one newline per row (the
    definition ``bench.py`` uses for the compression ratio)."""
    lens = np.array([len(p.encode("utf-8")) for p in vocab], dtype=np.int64)
    col = pq.read_table(parquet_files(path), columns=["tokens"]).column(0)
    total = 0
    for chunk in col.chunks:
        total += int(lens[chunk.values.to_numpy()].sum()) + len(chunk)
    return total


def message(tokens, meta: VocabMeta) -> str:
    """The text grep matches: the detokenized line without its leading
    timestamp (the archive stores timestamps apart from the message)."""
    if tokens and meta.off_ts <= tokens[0] < meta.off_ts + meta.n_ts:
        tokens = tokens[1:]
    return detokenize(tokens, meta.vocab)


def archive_bytes(work: str) -> int:
    return sum(du(os.path.join(work, d))
               for d in ("routed", "logtype_dict", "var_dict"))


def ingest(spark, run: Run, src: str,
           work: str) -> tuple[float, float, dict]:
    """One fresh two-pass ``run_pipeline``; returns (wall seconds,
    process-tree CPU seconds, the pipeline's metrics)."""
    cfg = PipelineConfig(input_path=src, work_dir=work,
                         materialize_parsed=False, vocab_seed=run.seed)
    c0, t0 = procs.tree_cpu_s(os.getpid()), time.perf_counter()
    metrics = run_pipeline(spark, cfg, resume=False)
    wall = time.perf_counter() - t0
    cpu = procs.tree_cpu_s(os.getpid()) - c0
    log(run, f"run_pipeline {wall:.2f}s wall, {cpu:.2f}s process-tree CPU")
    return wall, cpu, metrics


def check_ingest(spark, run: Run, src: str, work: str, meta: VocabMeta,
                 rng: random.Random | None) -> bool:
    """Routed rows and per-sink counts equal the input rows; with ``rng``, a
    seeded sample of rows also decodes (through GrepEngine) to its
    detokenized input."""
    from pyspark.sql import functions as F

    n_in = parquet_rows(src)
    ok = run.check(parquet_rows(os.path.join(work, "routed")) == n_in,
                   f"{work}: routed rows != {n_in} input rows")
    sinks = pq.read_table(parquet_files(os.path.join(work, "agg_sink_counts")))
    ok &= run.check(sum(sinks.column("n_rows").to_pylist()) == n_in,
                    f"{work}: agg_sink_counts do not sum to {n_in}")
    if rng is None:
        return ok
    doc_ids, tokens = read_tokens(src)
    pick = rng.sample(range(len(doc_ids)), min(DECODE_SAMPLE, len(doc_ids)))
    want = {doc_ids[i]: message(tokens[i], meta) for i in pick}
    eng = GrepEngine.from_work_dir(spark, work)
    got = {
        r["doc_id"]: r["message"]
        for r in eng.search("*")
        .where(F.col("doc_id").isin(list(want)))
        .select("doc_id", "message").collect()
    }
    ok &= run.check(got == want, f"{work}: decoded sample != detokenized input")
    return ok


# ---------------------------------------------------------- ingest_small

def ingest_small(run: Run) -> dict:
    """Closed loop of small-batch pipelines, each with its own work dir."""
    spark = start_session(run)
    log(run, "session started")
    try:
        n_inputs = 8
        inputs = write_inputs(spark, run, n_inputs + 1, ROWS_PER_BATCH)
        log(run, "corpus written")
        meta = build_vocab(run.seed)
        rng = random.Random(run.seed)
        # the first pipeline in a fresh JVM runs about twice as long as a warm
        # one: it is set-up, on an input of its own
        ingest(spark, run, inputs[-1], run.path("warmup"))
        setup_s = time.perf_counter() - run.t_start
        log(run, "warm-up pipeline done; set-up ends")
        walls, cpus, raw, arch, rows = [], [], 0, 0, 0
        for i in itertools.count():
            # trace mode: untraced, traced, untraced batch; else batches
            # until their summed wall reaches the run's seconds
            done = i == 3 if run.trace else sum(walls) >= run.seconds
            if done:
                break
            src = inputs[i % n_inputs]
            work = run.path("batches", f"b{i:04d}")
            ok = True
            try:
                if run.trace and i == 1:
                    wall, cpu, layer_out = traced_ingest(spark, run, src, work)
                else:
                    wall, cpu, _m = ingest(spark, run, src, work)
                walls.append(wall)
                cpus.append(cpu)
                # the decode check costs a Spark job: once per run
                ok = check_ingest(spark, run, src, work, meta,
                                  rng if i == 0 else None)
                rows += parquet_rows(src)
                raw += raw_log_bytes(src, meta.vocab)
                arch += archive_bytes(work)
            except Exception as exc:  # a failed batch is counted, not fatal
                ok = run.check(False, f"{work}: {exc!r}")
            run.record(ok)
            log(run, f"batch {i}: {walls[-1] if walls else float('nan'):.2f}s")
            shutil.rmtree(work, ignore_errors=True)
    finally:
        stop_session(spark)
    out = {
        "setup_s": setup_s,
        "op_p50_ms": 1000 * stats.median(walls),
        "op_cpu_ms": 1000 * stats.median(cpus),
        "small_batch_p50_s": stats.median(walls),
        "ingest_rows_per_s": rows / sum(walls),
        "compression_ratio": raw / arch,
        "batches": len(walls),
        "rows_per_batch": ROWS_PER_BATCH,
    }
    if run.trace:
        out.update(finish_trace(run, *layer_out))
        out["pipeline.trace_overhead_s"] = walls[1] - (walls[0] + walls[2]) / 2
    return out


def traced_ingest(spark, run: Run, src: str, work: str):
    tracer = T.Tracer(f"ingest-{run.seed}")
    with T.instrument(tracer), tracer.span("run_pipeline", T.OUTER):
        wall, cpu, metrics = ingest(spark, run, src, work)
    span = tracer.spans[-1]
    counts = {
        "enrich.dicts.n_logtypes": metrics["dicts"]["n_logtypes"],
        "enrich.dicts.n_vars": metrics["dicts"]["n_vars"],
        "route.files_out": len(parquet_files(os.path.join(work, "routed"))),
    }
    return wall, cpu, (tracer, (span.start, span.end), counts)


# ------------------------------------------------------------------ search

def search(run: Run) -> dict:
    """Closed loop of needle and haystack grep queries over an archive that
    set-up builds with the commit under test."""
    spark = start_session(run)
    log(run, "session started")
    try:
        (src,) = write_inputs(spark, run, 1, SEARCH_ROWS)
        meta = build_vocab(run.seed)
        archive = run.path("archive")
        log(run, "corpus written")
        # the archive build is also the JVM warm-up
        ingest(spark, run, src, archive)
        log(run, "archive built")
        _ids, tokens = read_tokens(src)
        lines = [message(row, meta) for row in tokens]
        present = [t for row in tokens for t in row]
        round_ = Q.query_round(run.seed, meta, present)
        expected = {q.text: Q.oracle_count(q.text, lines) for q in round_}
        log(run, f"oracle counted {len(expected)} queries")
        eng = GrepEngine.from_work_dir(spark, archive)
        # the first query of each kind pays one-off engine set-up (a dict
        # needle took 3.6-4.1 s against 1.0-1.8 s later): warm every kind
        # with other tokens. Trace mode replays the round itself in both
        # passes, so it warms that round.
        warm = round_ if run.trace else Q.query_round(run.seed, meta,
                                                       present, index=1)
        for q in warm:
            eng.search(q.text).count()
        setup_s = time.perf_counter() - run.t_start
        log(run, "warm-up queries done; set-up ends")
        ratio = raw_log_bytes(src, meta.vocab) / archive_bytes(archive)
        n_files = len(parquet_files(os.path.join(archive, "routed")))

        def one(engine, q) -> float:
            c0, t0 = procs.tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                n = engine.search(q.text).count()
            except Exception as exc:  # a failed query is counted, not fatal
                n = repr(exc)
            lat = time.perf_counter() - t0
            cpus.append(procs.tree_cpu_s(os.getpid()) - c0)
            log(run, f"{q.cls} {q.kind} {lat:.3f}s {q.text!r}")
            run.record(run.check(n == expected[q.text],
                                 f"{q.text!r}: {n} rows, oracle "
                                 f"{expected[q.text]}"))
            return lat

        lat = {Q.NEEDLE: [], Q.HAYSTACK: []}
        cpus = []
        if run.trace:
            # both passes open a fresh engine (keyword args bypass the
            # engine memo) and run one round, so they compare like for like
            t0 = time.perf_counter()
            fresh = GrepEngine.from_work_dir(spark, archive,
                                             decode_mode="auto")
            for q in round_:
                lat[q.cls].append(one(fresh, q))
            untraced = time.perf_counter() - t0
            layer_out = traced_search(spark, run, archive, round_,
                                      expected, n_files)
        else:
            # the round twice (first sight, then repeat), as often as it
            # takes the summed latency to reach the run's seconds: every run
            # sees the same mix of query kinds
            while sum(lat[Q.NEEDLE]) + sum(lat[Q.HAYSTACK]) < run.seconds:
                for q in round_ + round_:
                    lat[q.cls].append(one(eng, q))
    finally:
        stop_session(spark)
    both = lat[Q.NEEDLE] + lat[Q.HAYSTACK]
    out = {
        "setup_s": setup_s,
        "op_p50_ms": 1000 * stats.median(both),
        "op_cpu_ms": 1000 * stats.median(cpus),
        "needle_p50_ms": 1000 * stats.median(lat[Q.NEEDLE]),
        "haystack_p50_ms": 1000 * stats.median(lat[Q.HAYSTACK]),
        "compression_ratio": ratio,
        "queries": len(both),
        "archive_rows": SEARCH_ROWS,
    }
    tail = stats.tail(both)
    if tail is not None:
        out["search_tail_pct"], out["search_tail_ms"] = tail[0], 1000 * tail[1]
    if run.trace:
        tracer, window, counts = layer_out
        out.update(finish_trace(run, tracer, window, counts))
        out["pipeline.trace_overhead_s"] = (window[1] - window[0]) - untraced
    return out


def traced_search(spark, run: Run, archive: str, qs, expected: dict,
                  n_files: int):
    tracer = T.Tracer(f"search-{run.seed}")
    fracs, matched = [], 0
    t0 = time.time()
    with tracer.span("from_work_dir", "grep.open"):
        eng = GrepEngine.from_work_dir(spark, archive, decode_mode="auto")
    for q in qs:
        with tracer.span("search", "grep.plan"):
            df = eng.search(q.text)
        with tracer.span("count", "grep.exec"):
            n = df.count()
        run.record(run.check(n == expected[q.text],
                             f"traced {q.text!r}: {n} rows"))
        matched += n
        scanned = eng.last_scan_files
        fracs.append(1.0 if scanned is None else scanned / n_files)
    counts = {"grep.matched": matched,
              "grep.files_scanned_frac": sum(fracs) / len(fracs)}
    return tracer, (t0, time.time()), counts


# ------------------------------------------------------------ trace output

def finish_trace(run: Run, tracer: T.Tracer, window, counts: dict) -> dict:
    """Fold the (now closed) event log with the spans into the per-layer
    metrics, and write the per-layer file."""
    events = T.load_event_log(event_log_path(run))
    layers, totals, execs = T.fold(events, tracer.spans, window)
    flat = T.layer_metrics(layers)
    flat.update(counts)

    def g(key: str) -> float:
        return flat.get(key, 0.0)  # 0 when the layer did not run

    out = {}
    for name in ("parse", "enrich.dicts", "route", "aggregate"):
        out[f"{name}.wall_s"] = g(f"{name}.wall_s")
        out[f"{name}.cpu_s"] = g(f"{name}.cpu_s")
    out["parse.rows"] = g("parse.rows_out")
    out["parse.bytes_out"] = g("parse.bytes_out")
    for k in ("enrich.dicts.jobs", "enrich.dicts.n_logtypes",
              "enrich.dicts.n_vars", "route.shuffle_write_bytes",
              "route.fetch_wait_s", "route.spill_bytes", "route.bytes_out",
              "route.files_out", "snapshots.stats.wall_s",
              "snapshots.stats.jobs", "snapshots.commit.wall_s",
              "snapshots.commit.jobs", "lineage.wall_s"):
        out[k] = g(k)
    out["route.task_skew"] = flat.get("route.task_skew", 1.0)
    out["pipeline.jobs"] = totals["jobs"]
    out["pipeline.task_retries"] = totals["task_retries"]
    out["pipeline.unattributed_s"] = (window[1] - window[0]
                                      - totals["covered_s"])
    out["grep.open_s"] = g("grep.open.wall_s")
    out["grep.plan_ms"] = 1000 * g("grep.plan.wall_s")
    out["grep.plan_jobs"] = g("grep.plan.jobs")
    out["grep.exec_ms"] = 1000 * g("grep.exec.wall_s")
    out["grep.exec_cpu_ms"] = 1000 * g("grep.exec.cpu_s")
    out["grep.rows_read"] = g("grep.exec.rows_read")
    out["grep.bytes_read"] = g("grep.exec.bytes_read")
    out["grep.files_scanned_frac"] = g("grep.files_scanned_frac")
    rows_read = g("grep.exec.rows_read")
    out["grep.match_ratio"] = g("grep.matched") / rows_read if rows_read else 0.0
    results = os.path.join(os.path.dirname(run.work), "results")
    os.makedirs(results, exist_ok=True)
    T.write_report(
        os.path.join(results, f"layers-{tracer.run_id}-{os.getpid()}.json"),
        tracer, window, {"summary": out, "all": flat, "totals": totals},
        execs)
    return out


WORKLOADS = {"ingest_small": ingest_small, "search": search}

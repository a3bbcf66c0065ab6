"""Round-4 ADVICE regressions: split-pipeline timestamp skew, stale
VarString logtype memo after archive rewrite, extract path traversal,
and driver-safe CLI result streaming."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_split_pipeline_survives_timestamp_skew(spark, vocab_meta, tmp_path):
    """>= 1/k of rows sharing the max ts used to make approxQuantile return
    ts_max as a cut, leaving the final (ts_max, None] slice empty — route()
    wrote a data-less dir and the read-back aborted the run."""
    from clpspark.corpus import SEQUENCES_SCHEMA, generate_pdf
    from clpspark.pipeline import PipelineConfig, run_split_pipeline

    pdf = generate_pdf(np.arange(1000), vocab_meta, seed=42)
    lo = vocab_meta.off_ts
    hi = vocab_meta.off_ts + vocab_meta.n_ts - 1

    def retime(i: int, toks: np.ndarray) -> np.ndarray:
        t = toks.copy()
        if t[0] >= vocab_meta.off_ts:  # timestamped template
            t[0] = lo if i < 500 else hi
        return t

    pdf = pdf.assign(
        tokens=[retime(i, t) for i, t in enumerate(pdf["tokens"])]
    )
    inp = str(tmp_path / "seq")
    spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA).write.parquet(inp)

    work = str(tmp_path / "work")
    res = run_split_pipeline(
        spark,
        PipelineConfig(input_path=inp, work_dir=work),
        target_rows_per_archive=300,
    )
    total = 0
    for _, path in res["archives"]:
        n = spark.read.parquet(path).count()
        assert n > 0, f"empty archive slice {path}"
        total += n
    assert total == res["rows"] == 1000


def test_match_varstring_survives_archive_rewrite(spark, tmp_path):
    """A positive VarString-logtype-id memo must not survive a rewrite of
    the same archive directory (ids can shuffle between generations)."""
    from clpspark.operators.json_encode import write_json_archive

    def build(tag_mod: int):
        rows = [
            (
                f"d{i:03d}",
                f"msg {'failed' if i % 2 else 'completed'} number {i}",
                f"t{i % tag_mod}",
            )
            for i in range(60)
        ]
        return spark.createDataFrame(
            rows, "doc_id string, msg string, tag string"
        )

    out = str(tmp_path / "arch")
    arch = write_json_archive(build(3), out)
    got1 = {r["doc_id"] for r in arch.match_varstring("tag", "t1").collect()}
    assert got1 == {f"d{i:03d}" for i in range(60) if i % 3 == 1}
    memo1 = arch._vs_lid_memo

    # rewrite the SAME directory with different tag cardinality
    write_json_archive(build(5), out)
    got2 = {r["doc_id"] for r in arch.match_varstring("tag", "t4").collect()}
    assert got2 == {f"d{i:03d}" for i in range(60) if i % 5 == 4}
    assert arch._vs_lid_memo[0] != memo1[0]  # memo re-keyed on rewrite


@pytest.mark.parametrize(
    ("raw", "safe"),
    [
        ("svc.log", "svc.log"),
        ("../../etc/passwd", "_/_/etc/passwd".replace("/", "_")),
        ("a/b.log", "a_b.log"),
        ("..", "_"),
        ("", "_"),
    ],
)
def test_safe_member_name(raw, safe):
    from clpspark.cli import _safe_member_name

    out = _safe_member_name(raw)
    assert "/" not in out and ".." not in out and out
    assert out == safe


def test_cli_search_streams_results(spark, monkeypatch, tmp_path, capsys):
    """Unlimited search printing must go through toLocalIterator, not a
    driver-side collect of the whole match set."""
    from clpspark import cli

    df = spark.createDataFrame(
        [("s1", 1, "hello a"), ("s2", 2, "hello b")],
        "source string, ts long, message string",
    )
    called = {"collect": 0}
    orig = type(df).collect

    def spy(self):
        called["collect"] += 1
        return orig(self)

    monkeypatch.setattr(type(df), "collect", spy)
    cli._print_matches(df)
    out = capsys.readouterr().out
    assert "s1: hello a" in out and "s2: hello b" in out
    assert called["collect"] == 0


def test_compression_level_knob(spark, vocab_meta, tmp_path):
    """clp --compression-level analog: the knob reaches the parquet zstd
    codec PER WRITER (r5: no session-global hadoop conf mutation — see
    test_round5_fixes.test_zstd_level_is_per_write_not_session_global),
    archives stay readable, and results are level-independent."""
    from clpspark.corpus import SEQUENCES_SCHEMA, generate_pdf
    from clpspark.pipeline import PipelineConfig, run_pipeline

    pdf = generate_pdf(np.arange(2000), vocab_meta, seed=42)
    inp = str(tmp_path / "seq")
    spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA).write.parquet(inp)

    import subprocess

    sizes = {}
    for lvl in (3, 19):
        work = str(tmp_path / f"w{lvl}")
        run_pipeline(spark, PipelineConfig(
            input_path=inp, work_dir=work, compression_level=lvl,
        ))
        sizes[lvl] = int(subprocess.check_output(
            ["du", "-sb", f"{work}/routed"]).split()[0])
        n = spark.read.parquet(f"{work}/routed").count()
        assert n == 2000
    assert sizes[19] <= sizes[3]

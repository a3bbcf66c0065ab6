from __future__ import annotations

import numpy as np
import pytest

from clpspark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("clpspark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def vocab_meta():
    from clpspark.corpus import build_vocab

    return build_vocab(42)


@pytest.fixture(scope="session")
def small_corpus(spark, vocab_meta, tmp_path_factory):
    """1k-row deterministic sequences table on disk."""
    from clpspark.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("corpus") / "sequences")
    write_corpus(spark, path, n_rows=1000, seed=42, partitions=4)
    return path


@pytest.fixture(scope="session")
def small_corpus_pdf(vocab_meta):
    from clpspark.corpus import generate_pdf

    return generate_pdf(np.arange(1000), vocab_meta, seed=42)


@pytest.fixture(scope="session")
def small_archive(spark, small_corpus, tmp_path_factory):
    """Two-pass pipeline work dir (snapshot-backed archive) over the 1k
    corpus."""
    from clpspark.pipeline import PipelineConfig, run_pipeline

    work = str(tmp_path_factory.mktemp("archive") / "work")
    run_pipeline(spark, PipelineConfig(input_path=small_corpus,
                                       work_dir=work,
                                       materialize_parsed=False))
    return work

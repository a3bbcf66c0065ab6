#!/usr/bin/env python
"""Isolated N-vs-4N scaling probes for the two newest Arrow passes:
the DSIR featurizer/scorer (curate.dsir_log_weights) and BPE encode
(tokenizer.encode_bpe) — the r6 verdict asked for a dedicated number for
each (they are rebalance-guarded, but had no probe of their own).

Same protocol as run_parse_scaling.py: child process per parallelism
level, warm-up action, best-of-R interleaved, fixed replicated corpus
(sf1.0 documents x CLPSPARK_DOC_REPLICAS with fresh doc_ids) so the
Arrow pass dominates the wall. Prints one JSON line per operator.
local[16] saturates the 32-CPU box (1 JVM + 1 Python worker per task).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIZES = tuple(int(x) for x in
              os.environ.get("CLPSPARK_SCALING_SIZES", "4,16").split(","))
REPLICAS = int(os.environ.get("CLPSPARK_DOC_REPLICAS", "16"))
REPEATS = int(os.environ.get("CLPSPARK_SCALING_REPEATS", "3"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")

_CHILD = r"""
import os, sys, time
op = sys.argv[1]; cpus = int(sys.argv[2]); reps = int(sys.argv[3])
sf_dir = sys.argv[4]
from pyspark.sql import functions as F
from clpspark.session import get_spark
spark = get_spark("dsir-bpe-scaling", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
docs = (
    spark.read.parquet(f"{sf_dir}/documents.parquet")
    .select("doc_id", "text", "source")
    .withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
    .select((F.col("doc_id") * reps + F.col("_r")).alias("doc_id"),
            "text", "source")
    .repartition(4 * cpus)
    .localCheckpoint(eager=True)  # pin the fixture OUT of the timed pass
)
if op == "dsir":
    from clpspark.operators.curate import dsir_log_weights

    def run():
        dsir_log_weights(docs, F.col("source") == "src0",
                         n_buckets=256).write.format("noop").mode(
            "overwrite").save()
else:
    from clpspark.operators.tokenizer import encode_bpe, train_bpe

    # train on the UNREPLICATED slice (fixture, excluded from timing)
    merges = train_bpe(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), num_merges=24)

    def run():
        encode_bpe(docs, merges).write.format("noop").mode(
            "overwrite").save()

run()  # warm JIT + python workers
t0 = time.time()
run()
print("OP_SEC", time.time() - t0)
spark.stop()
"""


def run_once(op: str, cpus: int) -> float:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, op, str(cpus), str(REPLICAS), SF_DIR],
        capture_output=True, text=True, timeout=1800,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    for line in out.stdout.splitlines():
        if line.startswith("OP_SEC"):
            return float(line.split()[1])
    print(out.stderr[-2000:], file=sys.stderr)
    raise RuntimeError(f"no OP_SEC in child output for {op}")


def fixture_rows() -> int:
    """Rows of the unreplicated documents table (footer metadata only)."""
    import pyarrow.dataset as ds

    return ds.dataset(f"{SF_DIR}/documents.parquet",
                      format="parquet").count_rows()


def main() -> None:
    for op in ("dsir", "bpe"):
        best: dict[int, float] = {}
        for r in range(REPEATS):
            for cpus in SIZES:
                sec = run_once(op, cpus)
                print(f"{op} local[{cpus}] run {r}: {sec:.2f}s",
                      file=sys.stderr)
                if cpus not in best or sec < best[cpus]:
                    best[cpus] = sec
        n, n4 = SIZES[0], SIZES[-1]
        speedup = best[n] / best[n4]
        eff = speedup / (n4 / n)
        print(json.dumps({
            "metric": f"{op} scaling (isolated Arrow pass)",
            "docs": fixture_rows() * REPLICAS,
            "sizes": list(SIZES),
            "best_sec": {str(k): round(v, 2) for k, v in best.items()},
            "speedup": round(speedup, 3),
            "efficiency": round(eff, 3),
        }))


if __name__ == "__main__":
    main()

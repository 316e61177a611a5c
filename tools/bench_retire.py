"""Retirement cost benchmark: targeted deletes should scale with the
AFFECTED shard partitions, not the corpus.

Builds the sf corpus, then retires batches of increasing size and
reports wall time + shards rewritten. The interesting comparison is
the last column: a retire touching k of 16 shards rewrites only those
k directories; a naive implementation would rewrite the whole table
every time.

    python tools/bench_retire.py [sf_dir] [batch_sizes...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    sizes = [int(a) for a in sys.argv[2:]] or [1, 10, 100]

    from nbody6_data_pipeline_spark.corpus_pipeline import (
        build_training_corpus,
        retire_docs,
    )
    from nbody6_data_pipeline_spark.session import get_spark

    spark = get_spark()
    work = tempfile.mkdtemp(prefix="bench_retire_")
    out = os.path.join(work, "corpus")
    try:
        t0 = time.perf_counter()
        m = build_training_corpus(spark, sf_dir, out)
        build_sec = time.perf_counter() - t0
        n_corpus = m["stages"]["deduped"]
        print(
            json.dumps(
                {"corpus_docs": n_corpus, "build_sec": round(build_sec, 3)}
            )
        )
        shards = spark.read.parquet(os.path.join(out, "shards"))
        all_ids = sorted(r["doc_id"] for r in shards.select("doc_id").collect())
        cursor = 0
        for n in sizes:
            ids = spark.createDataFrame(
                [(i,) for i in all_ids[cursor : cursor + n]], ["doc_id"]
            )
            cursor += n
            t0 = time.perf_counter()
            mm = retire_docs(spark, ids, out)
            wall = time.perf_counter() - t0
            print(
                json.dumps(
                    {
                        "batch": n,
                        "removed": mm["retire"]["removed"],
                        "shards_rewritten": len(
                            mm["retire"]["shards_rewritten"]
                        ),
                        "wall_sec": round(wall, 3),
                    }
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

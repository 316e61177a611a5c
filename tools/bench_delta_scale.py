"""Scale curve for the incremental corpus ingest.

The claim that justifies update_training_corpus at 100 TB is that a
delta batch's cost scales with the DELTA, not the corpus: exact dedup
is one anti-join against the fingerprint index, near-dup candidates
come from band-matching the delta's (band, band_hash) keys, and the
corpus text is read only for the candidate set. This tool measures
that directly: build the corpus from a 1x/4x/16x-scaled documents
table, then ingest the SAME fixed-size delta (derived from the
unscaled sf0.1 table: 10% verbatim re-id'd docs the indexes must
catch + 10% half-truncated docs that append) and time it. Flat
delta_sec across factors is the pass condition; growth tracking the
corpus factor would mean a corpus rescan crept into the delta path.

Scaling scheme: bench_heavy's rotation scaling is NOT usable here —
the corpus pipeline's tokenset dedup is word-order-independent, so
every rotated copy collapses back onto its original and the corpus
never grows. Copies instead mutate every 4th token with a
copy-specific suffix: the token SET differs (survives exact/vocab
dedup) and ~25% of character shingles change (Jaccard vs the
original well under the 0.8 near-dup bar), so the deduped corpus
genuinely scales with the factor.

    python tools/bench_delta_scale.py [factor ...]   # default: 1 4 16

Prints one JSON line per factor and a summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SRC = "/root/testdata/sf0.1"


def stage_docs(spark, factor: int) -> str:
    """Stage a documents table scaled by ``factor`` with copy-mutated
    tokens (see module docstring); all other tables symlink to SRC."""
    from pyspark.sql import functions as F

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    base = tempfile.mkdtemp(prefix=f"delta_scale_x{factor}_sf_")
    for t in tables:
        dst = os.path.join(base, f"{t}.parquet")
        if t != "documents" or factor == 1:
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)
            continue
        df = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        n = df.count()
        copies = spark.range(factor).select(F.col("id").alias("_copy"))
        words = F.split(F.col("text"), " ")
        mutated = F.array_join(
            F.transform(
                words,
                lambda w, i: F.when(
                    (F.col("_copy") > 0) & (i % 4 == 0),
                    F.concat(w, F.lit("_"), F.col("_copy").cast("string")),
                ).otherwise(w),
            ),
            " ",
        )
        df.crossJoin(copies).select(
            (F.col("doc_id") + F.col("_copy") * n).alias("doc_id"),
            mutated.alias("text"),
            *[c for c in df.columns if c not in ("doc_id", "text")],
        ).withColumn("n_chars", F.length("text")).write.mode(
            "overwrite"
        ).parquet(dst)
    return base


def fixed_delta(spark):
    """The factor-independent delta batch (same construction as the
    bench.py delta leg, ids offset far above any scaled corpus id)."""
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.queries import md5_bucket

    raw = spark.read.parquet(f"{SRC}/documents.parquet")
    b = md5_bucket(F.col("doc_id"), 20)
    dups = raw.filter(b < 2).withColumn(
        "doc_id", F.col("doc_id") + 100_000_000
    )
    halves = (
        raw.filter((b >= 2) & (b < 4))
        .withColumn(
            "text",
            F.expr("substring(text, 1, greatest(int(length(text) / 2), 150))"),
        )
        .withColumn("n_chars", F.length("text"))
        .withColumn("doc_id", F.col("doc_id") + 200_000_000)
    )
    return dups.unionByName(halves)


def main(factors):
    from nbody6_data_pipeline_spark.corpus_pipeline import (
        build_training_corpus,
        update_training_corpus,
    )
    from nbody6_data_pipeline_spark.queries import ensure_confs
    from nbody6_data_pipeline_spark.session import get_spark

    spark = get_spark("bench_delta_scale")
    ensure_confs(spark)
    results = []
    for factor in factors:
        sf_dir = stage_docs(spark, factor)
        out_dir = tempfile.mkdtemp(prefix=f"delta_scale_x{factor}_")
        try:
            spark.catalog.clearCache()
            t0 = time.time()
            manifest = build_training_corpus(spark, sf_dir, out_dir)
            build_sec = time.time() - t0
            delta = fixed_delta(spark)
            spark.catalog.clearCache()
            t0 = time.time()
            m = update_training_corpus(spark, delta, out_dir)
            delta_sec = time.time() - t0
            rec = {
                "factor": factor,
                "corpus_docs": manifest["stages"]["deduped"],
                "build_sec": round(build_sec, 3),
                "delta_raw": m["delta"]["raw"],
                "delta_appended": m["delta"]["appended"],
                "delta_sec": round(delta_sec, 3),
            }
            print(json.dumps(rec), flush=True)
            results.append(rec)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            shutil.rmtree(sf_dir, ignore_errors=True)
    if len(results) >= 2:
        a, z = results[0], results[-1]
        print(
            json.dumps(
                {
                    "summary": "delta_scale",
                    "corpus_factor": round(
                        z["corpus_docs"] / max(a["corpus_docs"], 1), 2
                    ),
                    "build_time_factor": round(
                        z["build_sec"] / max(a["build_sec"], 1e-9), 2
                    ),
                    "delta_time_factor": round(
                        z["delta_sec"] / max(a["delta_sec"], 1e-9), 2
                    ),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    factors = [int(s) for s in sys.argv[1:]] or [1, 4, 16]
    main(factors)

"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (guaranteed < 2000 bytes so any head/tail stdout
capture window parses it standalone):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {<top-5 slowest>: sec}, "n_queries": N, "sf": <sf>, ...}
The full per-query timing map is always written to bench_full.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from nbody6_data_pipeline_spark.queries import registry
    from nbody6_data_pipeline_spark.session import get_spark

    # UI on: the pipeline leg reads per-layer job/shuffle metrics from
    # the status REST API (tools/bench_pipeline_scale.layer_metrics).
    # FAIR scheduler: serial legs are unaffected (one pool, one job at
    # a time), and the concurrency leg's per-thread pools share task
    # slots fairly instead of FIFO head-of-line blocking.
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.scheduler.mode": "FAIR",
        },
    )
    reg = registry()

    # Warm up the JVM / parquet footer caches with one tiny action so
    # the first timed query doesn't pay session startup.
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    import gc

    def run_once(name: str) -> float:
        # isolate queries from each other: drop cached tables a prior
        # query persisted and let the ContextCleaner release orphaned
        # localCheckpoint blocks — leftovers otherwise inflate later
        # queries' timings 3-5x through executor memory pressure
        spark.catalog.clearCache()
        gc.collect()
        fn = reg[name]["spark"]
        t0 = time.perf_counter()
        # collect(), not count(): count() lets Catalyst prune the
        # aggregate columns and under-measures. Result sets are small.
        fn(spark, SF_DIR).collect()
        return time.perf_counter() - t0

    bench_start = time.perf_counter()
    timings: dict[str, float] = {}
    for name in sorted(reg):
        timings[name] = round(run_once(name), 3)
    # second pass, best-of-2 for EVERY query: the first execution of a
    # plan carries its whole-stage-codegen JIT compile (measured
    # 0.65 s steady-state vs 7.7 s first-run on the same query), and a
    # noisy scheduler hiccup otherwise lands permanently in the
    # record. Slowest-first so a hard wall guard (runaway machine, not
    # a budget) still repairs the worst entries before bailing.
    # SPARK_GRAFT_BENCH_WALL: the sf1 full-registry artifact run needs
    # a bigger second-pass budget than the driver's per-round default.
    wall_guard = float(os.environ.get("SPARK_GRAFT_BENCH_WALL", "1200"))
    for name in sorted(timings, key=timings.get, reverse=True):
        if time.perf_counter() - bench_start > wall_guard:
            break
        timings[name] = round(min(timings[name], run_once(name)), 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    out = {
        "metric": f"total wall-clock sec for {len(timings)} queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    # SPARK_GRAFT_BENCH_LEGS=none: query timings only — used by the
    # sf1 full-registry artifact run, where re-running the whole
    # registry a third time inside the concurrency leg would double
    # the budget without adding decade evidence.
    if os.environ.get("SPARK_GRAFT_BENCH_LEGS", "all") != "none":
        out.update(bench_pipeline(spark))
        out.update(bench_corpus(spark))
        out.update(bench_streaming(spark))
        out.update(bench_concurrency(spark, reg, timings))
    # The driver's stdout capture window is ~2000 chars; at 174 queries
    # the full per-query map alone is >4 KB, so it must never share
    # stdout with the parseable record (BENCH_r05/r06 were truncated to
    # unparseable).  Contract: stdout carries EXACTLY ONE compact JSON
    # line (total, n_queries, top-5 slowest, leg times) that parses
    # standalone whether the capture keeps the head or the tail; the
    # full per-query map is always written to bench_full.json beside
    # this script.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(full_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    compact = {
        k: v
        for k, v in out.items()
        if k not in ("queries", "metric", "pipeline_layers_full")
    }
    compact["metric"] = out["metric"]
    compact["n_queries"] = len(timings)
    compact["queries"] = slowest
    compact["queries_note"] = "top-5 slowest only; full map in bench_full.json"
    print(json.dumps(compact))


def bench_concurrency(spark, reg, serial_timings, n_workers: int = 4) -> dict:
    """Multi-tenant throughput leg: the full registry split into
    ``n_workers`` round-robin shards, each driven by its own thread in
    its own FAIR scheduler pool of the SAME SparkSession — the shape a
    shared 100-TB cluster actually sees (many sessions contending for
    one executor set), which the serial per-query loop never exercises.

    get_spark runs ``spark.scheduler.mode=FAIR``; each thread tags its
    jobs with ``sc.setLocalProperty("spark.scheduler.pool", ...)`` so
    unconfigured same-weight pools share task slots fairly instead of
    head-of-line-blocking behind a heavy query (README "Scheduler
    pools"). Reported: wall seconds for all shards, and the speedup vs
    replaying the same queries' serial best times back-to-back —
    >1 means concurrency recovered scheduling gaps the serial loop
    pays per query.

    No per-query clearCache here (a thread would evict another
    thread's in-flight persisted blocks — Spark recomputes, but the
    timing would measure eviction thrash, not contention); one clear
    before and after brackets the leg."""
    import threading

    sc = spark.sparkContext
    names = sorted(reg)
    shards = [names[i::n_workers] for i in range(n_workers)]
    errors: list[str] = []

    def run_shard(i: int) -> None:
        sc.setLocalProperty("spark.scheduler.pool", f"bench_pool_{i}")
        try:
            for name in shards[i]:
                reg[name]["spark"](spark, SF_DIR).collect()
        except Exception as exc:  # surface, don't sink the bench line
            errors.append(f"{type(exc).__name__}: {exc}"[:200])
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    spark.catalog.clearCache()
    threads = [
        threading.Thread(target=run_shard, args=(i,), daemon=True)
        for i in range(n_workers)
    ]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    spark.catalog.clearCache()
    if errors:
        return {"concurrency_error": errors[0]}
    serial_sum = sum(serial_timings.values())
    return {
        "concurrency_sec": round(wall, 3),
        "concurrency_workers": n_workers,
        "concurrency_speedup_vs_serial": round(serial_sum / max(wall, 1e-9), 2),
    }


def bench_corpus(spark) -> dict:
    """Time the training-corpus pipeline end-to-end (quality gate ->
    tokenset dedup -> LSH near-dup keep-best -> content-hash shards ->
    manifest) at the bench SF — the LLM-data counterpart of the
    NBODY6 pipeline leg."""
    import shutil
    import tempfile

    from nbody6_data_pipeline_spark.corpus_pipeline import (
        build_training_corpus,
    )

    out_dir = tempfile.mkdtemp(prefix="corpus_bench_")
    try:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        manifest = build_training_corpus(spark, SF_DIR, out_dir)
        wall = time.perf_counter() - t0
        out = {
            "corpus_sec": round(wall, 3),
            "corpus_raw": manifest["stages"]["raw"],
            "corpus_final": manifest["stages"]["deduped"],
        }
        out.update(_bench_corpus_delta(spark, out_dir))
        return out
    except Exception as exc:  # never let this leg sink the bench line
        return {"corpus_error": f"{type(exc).__name__}: {exc}"[:200]}
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _bench_corpus_delta(spark, out_dir: str) -> dict:
    """Time an incremental delta ingest against the just-built corpus:
    10% of raw docs re-id'd verbatim (every one must be caught by the
    fingerprint/band indexes) plus 10% truncated to their first half
    (shingle-Jaccard ~0.5 vs the original, so they append). Both sets
    are md5-bucket-derived, so the delta — and the manifest it yields
    — is deterministic across runs."""
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.corpus_pipeline import (
        update_training_corpus,
    )
    from nbody6_data_pipeline_spark.queries import md5_bucket

    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b = md5_bucket(F.col("doc_id"), 20)
    dups = raw.filter(b < 2).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    halves = (
        raw.filter((b >= 2) & (b < 4))
        .withColumn(
            "text",
            F.expr("substring(text, 1, greatest(int(length(text) / 2), 150))"),
        )
        .withColumn("n_chars", F.length("text"))
        .withColumn("doc_id", F.col("doc_id") + 20_000_000)
    )
    delta = dups.unionByName(halves)
    t0 = time.perf_counter()
    m = update_training_corpus(spark, delta, out_dir)
    wall = time.perf_counter() - t0
    return {
        "delta_sec": round(wall, 3),
        "delta_raw": m["delta"]["raw"],
        "delta_appended": m["delta"]["appended"],
    }


def bench_streaming(
    spark, rows_per_batch: int = 250_000, n_batches: int = 10,
    n_keys: int = 1_250_000,
) -> dict:
    """Streaming throughput leg: rate-micro-batch source -> quality
    gate (stateless filter) -> cross-batch stateful dedup
    (``dropDuplicates`` — JVM-side state, the hot path) ->
    foreachBatch count sink, with the RocksDB state-store provider
    and >= 1M distinct state keys — the provider/key-cardinality
    regime a 100 TB streaming ingest actually runs in (the default
    in-memory provider OOMs executors at billions of fingerprints;
    RocksDB keeps state off-heap with changelog checkpointing).

    The built-in ``dropDuplicates`` is deliberately the operator under
    test: plain key dedup is ITS regime (whole-stage-codegen'd, one
    state lookup per row). The custom applyInPandasWithState operator
    (streaming/events.first_event_dedup) pays one Python invocation
    per KEY per batch — right for rich per-key state logic, ~100x off
    the pace for plain dedup (measured ~7.5k rows/s at 300k keys),
    which is why the ingest hot path composes built-ins and reserves
    the custom operator for semantics built-ins can't express.

    Deterministic volume: rate-micro-batch emits exactly
    ``rows_per_batch`` rows per trigger; key ids cycle mod ``n_keys``
    so later batches are duplicate-heavy (the dedup actually
    discards). Reported: wall sec, rows/sec over the whole run
    (startup included — the honest number), final state row count and
    state-store bytes from the query's progress metrics."""
    import tempfile

    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.session import configure_state_store

    ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")
    total_rows = rows_per_batch * n_batches
    try:
        configure_state_store(spark, "rocksdb")
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows_per_batch)
            .option("numPartitions", 8)
            .load()
        )
        events = src.select(
            (F.col("value") % n_keys).alias("user_id"),
            F.lit("ingest").alias("event_type"),
            F.col("value").alias("ts_us"),
            F.col("value").alias("event_id"),
        ).filter(F.col("user_id") >= 0)  # quality-gate shape: stateless filter
        deduped = events.dropDuplicates(["user_id", "event_type"])

        sunk = {"rows": 0}

        def sink(batch_df, batch_id):
            sunk["rows"] += batch_df.count()

        t0 = time.perf_counter()
        q = (
            deduped.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # poll progress rather than processAllAvailable(): a rate
        # source always has another batch "available", so the blocking
        # drain call would never return. Progress objects are typed in
        # PySpark 4; go through their json for version-stable access.
        def _progresses():
            return [json.loads(p.json) if hasattr(p, "json") else p
                    for p in q.recentProgress]

        seen = 0
        while seen < total_rows and time.perf_counter() - t0 < 600:
            time.sleep(0.5)
            seen = sum(int(p.get("numInputRows", 0)) for p in _progresses())
        wall = time.perf_counter() - t0
        state_rows = state_bytes = None
        for p in reversed(_progresses()):
            ops = p.get("stateOperators") or []
            if ops:
                state_rows = int(ops[0].get("numRowsTotal", 0))
                state_bytes = int(ops[0].get("memoryUsedBytes", 0) or 0)
                break
        q.stop()
        return {
            "streaming_sec": round(wall, 3),
            "streaming_rows": seen,
            "streaming_rows_per_sec": round(seen / max(wall, 1e-9)),
            "streaming_state_rows": state_rows,
            "streaming_state_bytes": state_bytes,
            "streaming_emitted_rows": sunk["rows"],
            "streaming_state_provider": "rocksdb",
        }
    except Exception as exc:  # never let this leg sink the bench line
        return {"streaming_error": f"{type(exc).__name__}: {exc}"[:200]}
    finally:
        configure_state_store(spark, "memory")
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)


def bench_pipeline(spark, n_runs: int = 10) -> dict:
    """Time the NBODY6 batch pipeline end-to-end (parse -> align ->
    assemble -> observe -> stats -> parquet+CSV layers) over n_runs
    synthetic fixture runs via pipeline.process_all, and record the
    driver-side Spark job count — the scale guard: the pipeline's
    job count is fixed by plan shape, not run count, so a driver-loop
    regression (O(runs) actions) shows up here as a job-count jump."""
    import shutil
    import tempfile

    from nbody6_data_pipeline_spark.pipeline import process_all
    from tests.nbody6_fixtures import write_run

    base = tempfile.mkdtemp(prefix="nbody6_bench_sim_")
    out_dir = tempfile.mkdtemp(prefix="nbody6_bench_out_")
    sc = spark.sparkContext
    try:
        for i in range(1, n_runs + 1):
            write_run(os.path.join(base, "Rad04", "zmet0014", "M6", f"{i:04d}"))
        spark.catalog.clearCache()
        sc.setJobGroup("pipeline-bench", "end-to-end pipeline bench")
        t0 = time.perf_counter()
        process_all(
            spark, base, out_dir, coordinates=[(50.0, 0.0, 0.0)]
        )
        wall = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup("pipeline-bench"))
        out = {
            "pipeline_sec": round(wall, 3),
            "pipeline_runs": n_runs,
            "pipeline_jobs": jobs,
        }
        try:
            from tools.bench_pipeline_scale import layer_metrics

            layers = layer_metrics(spark, "pipeline-bench")
            # jobs per layer on the compact line (the O(1)-actions-
            # per-layer scale claim, measured); full shuffle detail
            # rides bench_full.json
            out["pipeline_layer_jobs"] = {
                d.removeprefix("layer:"): m["jobs"]
                for d, m in sorted(layers.items())
            }
            out["pipeline_layers_full"] = layers
        except Exception:
            pass  # UI off or REST unavailable: totals still reported
        return out
    except Exception as exc:  # never let the pipeline leg sink the bench line
        return {"pipeline_error": f"{type(exc).__name__}: {exc}"[:200]}
    finally:
        sc.setJobGroup("", "")  # detach from the bench job group
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Retry-determinism fault-injection harness (round-10 gate).

At cluster scale task retries are routine (preemption, spot loss, OOM
kills); an engine whose outputs depend on which ATTEMPT of a task ran
is silently wrong at 100 TB even if every single-attempt run is
oracle-green. This repo's correctness story leans on content-hash
determinism (e.g. queries_training.q_doc_priority_sample samples on a
md5 of the row content, plans/skew.salted_join derives each key's salt
values from the key's hash and picks a row's salt by a hash of its
monotonically_increasing_id, shard assignment is md5_bucket) — this
harness MEASURES that claim instead of arguing it:

  for each target query
    run A: plain plan, collect, canonical hash
    run B: same plan with an injected FIRST-ATTEMPT task failure in
           every even-numbered scan partition; Spark retries the task
           (master local[N,2] => spark.task.maxFailures=2), the retry
           recomputes the partition, and the job completes
    assert hash(A) == hash(B)

Fault injection happens at the SCAN side: ``queries._t`` (the single
chokepoint every batch registry query loads tables through) is patched
to append a pass-through ``mapInPandas`` that raises on
``TaskContext.attemptNumber() == 0`` for ``partitionId() % 2 == 0``.
Failing the MAP side forces recomputation of source partitions and
every downstream expression in the same stage — the retry surface that
matters; a result-stage-only fault would merely refetch unchanged
shuffle blocks. Both legs run with the wrapper in the plan (fault flag
False/True) so the compared plans are IDENTICAL and the only variable
is whether first attempts fail.

Proof that faults actually fired: each injected failure drops a marker
file into a scratch dir before raising (local mode shares the FS;
accumulator updates from FAILED tasks are not delivered, so a file is
the honest counter). The harness asserts >0 markers per query.

Streaming queries are excluded: they build their own readStream
sources (never ``_t``), so the patch would inject nothing and the
"pass" would be vacuous. Their retry story is the state-store
checkpoint contract, exercised by the streaming maintenance tests.

Usage:
  SPARK_GRAFT_MASTER='local[8,2]' python tools/retry_determinism.py \
      /root/testdata/sf0.01 --json RETRY_DETERMINISM.json [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

# Retries require maxFailures > 1, which local mode only grants via the
# master string local[N,F]. Must be set before the session exists.
os.environ.setdefault("SPARK_GRAFT_MASTER", "local[8,2]")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The ~20 heaviest batch queries (bench_full.json ordering) plus the
# determinism-critical ones the VERDICT called out by name
# (content-hash priority sampling, salted join).
DEFAULT_QUERIES = [
    "lineitem_bootstrap_ci",
    "graph_bfs_layers",
    "embedding_ivfpq_ann",
    "graph_kcore_peel",
    "ngram_jaccard_neardup",
    "doc_minhash_jaccard_estimate",
    "doc_neardup_keep_best",
    "doc_fuzzy_match_multikey",
    "graph_pagerank",
    "orders_rfm_segmentation",
    "embedding_cluster_quality",
    "lineitem_zorder_skipping",
    "doc_rrf_hybrid_retrieval",
    "minhash_lsh_verified",
    "part_affinity_lift",
    "lineitem_decile_lift",
    "embedding_semantic_dedup",
    "embedding_ivf_kmeans",
    "embedding_pq_ann",
    "embedding_neardup_components",
    "doc_priority_sample",
    "salted_join_revenue",
]


def _fault_wrapper(df, fault: bool, marker_dir: str):
    """Append a pass-through mapInPandas that fails the FIRST attempt
    of every even scan partition when ``fault`` is set."""

    schema = df.schema

    def gen(it):
        if fault:
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None and tc.attemptNumber() == 0 and tc.partitionId() % 2 == 0:
                # marker BEFORE raising: failed tasks deliver no
                # accumulator updates, so a file is the proof the
                # fault fired (local mode shares the filesystem)
                with open(
                    os.path.join(
                        marker_dir, f"p{tc.partitionId()}_a{tc.attemptNumber()}"
                    ),
                    "w",
                ) as fh:
                    fh.write("injected")
                raise RuntimeError(
                    "injected first-attempt task failure "
                    "(retry-determinism harness)"
                )
        yield from it

    return df.mapInPandas(gen, schema)


def _patch_t(flag: dict):
    """Patch every query module's ``_t`` binding (each module imports
    it into its own namespace) with the fault-wrapping version. The
    fault flag and the per-query marker dir are read from ``flag`` at
    PLAN BUILD time, so the caller flips ``flag['fault']`` /
    ``flag['dir']`` and rebuilds the query for each leg."""
    import nbody6_data_pipeline_spark.queries as qmod

    original = qmod._t

    def patched(spark, sf_dir, name, spread=False):
        return _fault_wrapper(
            original(spark, sf_dir, name, spread), flag["fault"], flag["dir"]
        )

    patched.__wrapped__ = original
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("nbody6_data_pipeline_spark") and mod is not None:
            if getattr(mod, "_t", None) is original:
                setattr(mod, "_t", patched)
    return original


def canonical_hash(df) -> tuple[str, int]:
    """Order-insensitive exact hash of the collected result. repr() is
    bit-faithful for floats (repr(float) round-trips), so any last-ulp
    retry drift WOULD change the hash — that sensitivity is the point."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.md5()
    h.update(repr(df.columns).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest(), len(rows)


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:] or DEFAULT_QUERIES

    import __spark_entry__ as entrymod
    from nbody6_data_pipeline_spark.session import get_spark

    spark = get_spark("retry_determinism")
    master = spark.sparkContext.master
    if ",".join(master.split(",")[1:]) in ("", "1]"):
        print(f"WARNING: master {master} has no task retries; "
              "set SPARK_GRAFT_MASTER=local[8,2]")

    qs = entrymod.queries()
    marker_root = tempfile.mkdtemp(prefix="retry_markers_")
    flag = {"fault": False, "dir": marker_root}
    _patch_t(flag)

    record: dict[str, dict] = {}
    n_pass = n_fail = 0
    try:
        for name in names:
            if name not in qs:
                print(f"SKIP {name}: not in registry")
                continue
            fn = qs[name]
            marker_dir = os.path.join(marker_root, name)
            os.makedirs(marker_dir, exist_ok=True)
            flag["dir"] = marker_dir

            flag["fault"] = False
            h_plain, n_plain = canonical_hash(fn(spark, sf_dir))

            flag["fault"] = True
            try:
                h_fault, n_fault = canonical_hash(fn(spark, sf_dir))
            except Exception as e:
                print(f"FAIL {name}: faulted run did not complete: {e}")
                record[name] = {
                    "match": False,
                    "err": f"faulted run failed: {e}"[:300],
                }
                n_fail += 1
                continue
            finally:
                flag["fault"] = False

            injected = len(os.listdir(marker_dir))
            ok = h_plain == h_fault and injected > 0
            record[name] = {
                "match": h_plain == h_fault,
                "rows": n_plain,
                "rows_fault": n_fault,
                "injected_failures": injected,
                "hash": h_plain,
                "hash_fault": h_fault,
            }
            if ok:
                n_pass += 1
                print(f"PASS {name}: {injected} injected failures, "
                      f"{n_plain} rows, hashes identical")
            else:
                n_fail += 1
                why = ("hash mismatch" if h_plain != h_fault
                       else "no fault fired (vacuous)")
                print(f"FAIL {name}: {why}")
    finally:
        shutil.rmtree(marker_root, ignore_errors=True)

    print(f"\n{n_pass} passed, {n_fail} failed (of {len(record)})")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "master": master,
                    "summary": {"passed": n_pass, "failed": n_fail},
                    "queries": record,
                },
                fh,
                indent=2,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

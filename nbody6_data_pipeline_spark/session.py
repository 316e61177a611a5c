"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM: ``spark.driver.memory`` is
the only memory knob. On a real cluster the same settings apply per
executor; AQE handles partition coalescing and skew splitting at
runtime so one static ``shuffle.partitions`` value does not have to be
right for every stage.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STATE_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
# the directory that holds this package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_state_store(spark: SparkSession, provider: str = "rocksdb") -> None:
    """Select the streaming state-store backend for subsequently
    STARTED streaming queries (the provider class is a runtime SQLConf
    captured at query start, so this can flip per-query).

    ``rocksdb``: per-key state lives off-heap in RocksDB with changelog
    checkpointing — the backend that survives 100 TB-scale key
    cardinality (billions of dedup fingerprints) where the default
    HDFS-backed in-memory map would OOM each executor.
    ``memory`` (default provider): fine locally and for bounded key
    spaces.
    """
    if provider == "rocksdb":
        spark.conf.set(_STATE_PROVIDER_KEY, ROCKSDB_STATE_PROVIDER)
        # changelog checkpointing: upload only the delta per batch, not
        # a full snapshot — the production setting for large state
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    elif provider == "memory":
        spark.conf.unset(_STATE_PROVIDER_KEY)
    else:
        raise ValueError(f"unknown state-store provider: {provider!r}")


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``spark`` for the body of a ``with`` block.

    Each key's previous value is restored on exit, also when the body
    raises; a key that was unset before is unset again, so it falls
    back to its default. The session conf is shared by every thread
    that uses the session: a query another thread plans inside the
    block sees the scoped values."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else 60% of the host's MemTotal
    capped at 48g: a fixed 48g heap on a smaller host lets the JVM grow
    until the kernel OOM-kills it. 48g where /proc/meminfo is absent."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    cap_mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    return f"{min(cap_mb, int(total_kb * 0.6) // 1024)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "nbody6_data_pipeline_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    ``extra_conf`` overrides/extends the defaults (e.g. the scale-bench
    tools pass ``{"spark.ui.enabled": "true"}`` to read per-stage
    shuffle metrics from the status REST API). Only effective at
    session creation — getOrCreate ignores confs on reuse.

    Tuning rationale for scale (the same knobs matter at 100 TB):

    - AQE on: runtime partition coalescing, skew-join splitting and
      plan re-optimization replace hand-tiered process parallelism
      (the reference's n_jobs=30/12/2 tiering,
      collect_simulation_stats.py:213-250).
    - ``shuffle.partitions`` ~ cores locally; on a cluster AQE's
      coalescing makes a larger initial value safe.
    - Arrow enabled: all pandas_udf / applyInPandas boundaries are
      vectorized batch transfers, never row-at-a-time pickling.
    - Session timezone pinned UTC so timestamp semantics agree with
      columnar engines (parquet / DuckDB oracle).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Timestamps in the synthetic parquet are naive; read them as NTZ so
        # no session-TZ shift is applied (matches DuckDB's naive TIMESTAMP).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # The events table is parquet TIMESTAMP(NANOS): read as exact LONGs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Whole-stage-codegen compile cache (static conf, default 100
        # entries). A session that runs the whole registry (bench,
        # oracle sweeps, multi-tenant pools) cycles through ~200+
        # generated classes; at 100 entries LRU eviction forces a fresh
        # Janino compile + JIT warmup on EVERY re-execution of a plan
        # (measured: lineitem_bootstrap_ci 8-10 s cold vs 3.2 s with a
        # compile-cache hit). Cache entries are small (bytecode, not
        # data); 5000 keeps every registry plan resident. The same knob
        # matters on a long-lived cluster session re-running templated
        # queries (guide §1.2 step 3: config AFTER algorithm+per-task
        # work — this is the last 10-30%, justified by measurement).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Python workers unpickle the grouped-map kernels, so they import
        # this package: put its parent directory on their path, wherever
        # the driver runs from (the workers add the driver's PYTHONPATH)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(_STATE_PROVIDER_KEY, ROCKSDB_STATE_PROVIDER).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    # SPARK_GRAFT_EXTRA_CONF="k=v;k=v": session-creation confs for
    # harnesses that wrap an existing entrypoint in a SUBPROCESS (the
    # forced-spill sweep constrains spark.memory.fraction /
    # shuffle.partitions around tools/check_oracle.py without forking
    # its CLI). Applied before ``extra_conf`` so an explicit caller
    # dict still wins.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Self-measured DuckDB baseline: time EVERY oracle SQL pair from
__spark_entry__.oracle_sql() on the bench scale factor.

Method (same as the round-3/4 BASELINE.md refreshes): one FRESH
DuckDB connection per query — no shared buffer-pool warmth between
queries, matching how the driver's gate executes them — with views
over the sf parquet tables; wall-clock covers execution + full
fetchall materialization (the driver collects every result).

Usage: python tools/bench_duckdb_baseline.py [sf_dir] [query ...] [--json out.json]

Prints one JSON object: {"total_sec", "n_queries", "sf_dir",
"duckdb_version", "queries": {name: sec}} — the BASELINE.md table's
source of truth.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def time_query(sql: str, sf_dir: str, timeout: float = 0.0) -> float:
    """Seconds for one fresh-connection execution; -1.0 if the
    ``timeout`` watchdog interrupted it (sf1+ baselines: a quadratic
    heavy must cost a bounded, RECORDED timeout, not the whole run)."""
    con = duckdb.connect()
    timer = None
    fired: list = []
    _closing: list = []
    _lock = None
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        if timeout > 0:
            import threading

            _lock = threading.Lock()

            def _kill():
                # timer.cancel() cannot stop a callback already
                # executing; the lock + _closing flag keep interrupt
                # from racing con.close() (round-9 ADVICE).
                with _lock:
                    if _closing:
                        return
                    fired.append(True)
                    con.interrupt()

            timer = threading.Timer(timeout, _kill)
            timer.start()
        t0 = time.perf_counter()
        try:
            con.sql(sql).fetchall()
        except duckdb.Error:
            if fired:
                return -1.0
            raise
        return time.perf_counter() - t0
    finally:
        if timer is not None:
            timer.cancel()
            with _lock:
                _closing.append(True)
        con.close()


def main() -> None:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    timeout = 0.0
    if "--timeout" in args:
        i = args.index("--timeout")
        timeout = float(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    timings: dict[str, float] = {}
    timeouts: list[str] = []
    for name in sorted(only or oracles):
        try:
            t = round(time_query(oracles[name], sf_dir, timeout), 3)
            if t < 0:
                timeouts.append(name)
                timings[name] = None
                print(f"TIMEOUT {name} (> {timeout:.0f}s)", file=sys.stderr)
                continue
            timings[name] = t
            print(f"{name}: {timings[name]}s", file=sys.stderr)
        except Exception as e:  # a broken oracle must be loud, not timed
            print(f"FAIL {name}: {e}", file=sys.stderr)
            timings[name] = None
    ok = {k: v for k, v in timings.items() if v is not None}
    out = {
        "total_sec": round(sum(ok.values()), 3),
        "n_queries": len(ok),
        "n_failed": len(timings) - len(ok) - len(timeouts),
        "n_timeout": len(timeouts),
        "timeout_sec": timeout or None,
        "timeouts": timeouts,
        "sf_dir": sf_dir,
        "duckdb_version": duckdb.__version__,
        "queries": timings,
    }
    print(json.dumps(out))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}", file=sys.stderr)


if __name__ == "__main__":
    main()
